package ytbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

/** Command-line options, all given by `run.py`. */
final case class Options(workload: String, seed: Long, seconds: Int, trace: Boolean,
                         work: File, artifacts: File, commit: String, sourceSha: String)

object Options {
  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    require(Main.Workloads.contains(wl), s"unknown workload '$wl' (one of ${Main.Workloads.mkString(", ")})")
    Options(wl, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("artifacts")),
      m.getOrElse("commit", "unknown"), m.getOrElse("source-sha", "unknown"))
  }
}

/** Entry point: set up, run one workload for `--seconds`, check outputs,
  * print the result line. */
object Main {
  val Workloads = Seq("nightly", "serve", "maintain")

  def main(args: Array[String]): Unit = {
    val opts = Options.parse(args)
    val graftVars = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    require(graftVars.isEmpty, s"refusing to run with ${graftVars.mkString(", ")} set")
    val run = new Run(opts)
    val result =
      try run.run()
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Map("correct" -> false, "attempted" -> (run.checks.attempted + 1),
            "failed" -> (run.checks.failed + 1), "metrics" -> Map.empty)
      }
    println(Json.write(result))
    if (result("correct") != true) sys.exit(1)
  }
}

object Json {
  private val mapper = new ObjectMapper()
  private def toJava(x: Any): AnyRef = x match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, v) => out.put(k.toString, toJava(v)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case null => null
    case v => v.asInstanceOf[AnyRef]
  }
  def write(x: Any): String = mapper.writeValueAsString(toJava(x))
}

object Run {
  /** Fewest warm nightly passes a run times; it reports their median. A
    * warm pass takes 15-20 s on 4 cores and the warm-up about 35 s, so two
    * timed passes are what the run budget holds (see README). */
  val MinPasses = 2
  /** Full rounds of serve requests in set-up, after one of each type. */
  val ServeWarmRounds = 5
}

/** One benchmark run. */
final class Run(opts: Options) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = Runtime.getRuntime.availableProcessors()
  private val sizes = Sizes()
  private val crawl = new Crawl(opts.seed, sizes)
  val checks = new Checks
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  private def cleanDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(cleanDir)
    f.delete()
  }

  def run(): Map[String, Any] = {
    cleanDir(opts.work)
    opts.work.mkdirs()
    val spark = graft.GraftSession.local(cores, "ytbench")
    val spans = new Spans(spark.sparkContext, opts.workload)
    val wl = new Workloads(spark, crawl, spans, checks, opts.work)
    val m = new Metrics(spans, cores)
    val inputBytes = spans("setup.generate", "setup")(wl.writeInputs())

    def state(name: String) = State(new File(opts.work, s"state/$name").getPath, s"postings_$name")
    def drop(st: State): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS ${st.table}")
      cleanDir(new File(st.root))
    }
    def checkPass(st: State, pages: Map[String, Array[Row]], trace: String): Unit =
      spans("bench.check", trace) {
        wl.checkNightly(st, pages)
        m.gauge("nightly.text.index_build.files",
          graft.text.InvertedIndex.postingsFileCount(spark, st.table).toDouble)
      }
    /** A full nightly pass, then its reads and checks. */
    def fullNightly(st: State, trace: String): Unit = {
      wl.nightly(st, trace)
      checkPass(st, spans("nightly.reads", trace)(wl.nightlyReads(st)), trace)
    }
    def serveSweep(st: State, trace: String): Unit = {
      val s = new wl.Serve(st, opts.seed)
      Workloads.RequestKinds.foreach(k => (1 to 3).foreach(i => s.request(k, s"$trace/$k-$i")))
      s.videos.unpersist()
    }
    def maintainSweep(st: State, trace: String): Unit = {
      wl.maintainBase(st)
      val a = wl.batch(st, 1, trace)
      m.batches(Seq(a))
      m.gauge("maintain.text.postings_files_last",
        graft.text.InvertedIndex.postingsFileCount(spark, st.table).toDouble)
      wl.checkMaintainEnd(st, 1, a.pairs)
    }

    // ------------------------------------------------------------ set-up
    // The same in both modes, so a traced run times what an untraced one
    // does. nightly: one warm-up pass, whose cold cost (JIT, class loading,
    // first code generation) lands in setup_s, so the timed passes are warm.
    // serve and maintain: the nightly outputs they read, with the PageRank,
    // ALS and MinHash outputs planted from the generator; serve then warms
    // its request paths.
    val main = state("main")
    var serve: wl.Serve = null
    opts.workload match {
      case "nightly" =>
        val warm = state("warm")
        fullNightly(warm, "setup")
        drop(warm)
      case "serve" =>
        wl.nightly(main, "setup", Workloads.ServeSteps)
        wl.checkIngest(main)
        wl.plantedServeCaches(main)
        serve = new wl.Serve(main, opts.seed)
        // every type once (search first: deep_page pages its last query),
        // then full rounds: request latency keeps falling for about five
        // rounds as the JIT compiles the request paths, so the timed loop
        // starts after them
        val rounds = Seq.fill(Run.ServeWarmRounds * Workloads.RequestKinds.size)(serve.nextKind())
        (Workloads.RequestKinds ++ rounds).zipWithIndex.foreach { case (k, i) =>
          serve.request(k, s"setup/warm-$i")
        }
      case "maintain" =>
        wl.nightly(main, "setup", Workloads.MaintainSteps)
        wl.checkIngest(main)
        wl.plantedPairs(main)
        wl.maintainBase(main)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // ------------------------------------------------------------ timed
    spans.settle()
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var passes = 0
    opts.workload match {
      case "nightly" =>
        while (passes < Run.MinPasses || elapsedS < opts.seconds) {
          passes += 1
          val st = state(s"pass$passes")
          val trace = s"timed/pass-$passes"
          spans.settle()
          spans.listener.resetPeak()
          wl.nightly(st, trace)
          val pages = spans("nightly.reads", trace)(wl.nightlyReads(st))
          spans.settle()
          m.peak(spans.listener.peakBytes)
          checkPass(st, pages, trace)
          if (passes > 1) spans("bench.cleanup", trace)(drop(state(s"pass${passes - 1}")))
        }
      case "serve" =>
        var requests = 0
        spans.listener.resetPeak()
        while (elapsedS < opts.seconds || !serve.roundDone) {
          serve.request(serve.nextKind(), s"timed/r$requests")
          requests += 1
        }
        spans.settle()
        m.peak(spans.listener.peakBytes)
      case "maintain" =>
        var b = 0
        val admitted = mutable.ArrayBuffer.empty[Admitted]
        while (admitted.isEmpty || elapsedS < opts.seconds) {
          b += 1
          spans.settle()
          spans.listener.resetPeak()
          admitted += wl.batch(main, b, "timed")
          spans.settle()
          m.peak(spans.listener.peakBytes)
        }
        m.batches(admitted.toSeq)
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    if (opts.workload == "maintain") {
      m.gauge("maintain.text.postings_files_last",
        graft.text.InvertedIndex.postingsFileCount(spark, main.table).toDouble)
      wl.checkMaintainEnd(main, m.admitted.size, m.admitted.toSeq.flatMap(_.pairs))
    }
    spans.settle()
    val timedSpans = spans.all.filter(s => s.parent == 0 && s.trace.startsWith("timed"))
    m.endToEnd(opts.workload, e2e, setupS, timedSpans)
    val unattributed = 1.0 - timedSpans.map(_.wallMs).sum / (timedS * 1000)

    // ------------------------------------------------------------ coverage sweeps (traced only)
    // Every traced run reports every layer. The other workloads' layers are
    // measured here, after the timed region: a full nightly pass (nightly
    // reuses its last timed pass), 21 serve requests, one maintain batch.
    if (opts.trace) {
      val swept = opts.workload match {
        case "nightly" => state(s"pass$passes")
        case _ =>
          if (serve != null) serve.videos.unpersist()
          val st = state("sweep")
          fullNightly(st, "sweep")
          st
      }
      if (opts.workload != "serve") serveSweep(swept, "sweep")
      if (opts.workload != "maintain") maintainSweep(swept, "sweep")
    }
    spans.settle()
    if (opts.trace) m.perLayer(layers, unattributed, spans.overheadNs / 1e6)
    val reported = if (opts.trace) layers else e2e
    checks.op("metrics.complete") {
      reported.toSeq.filter { case (_, (v, _)) => v.isNaN || v.isInfinite }
        .map { case (k, _) => s"$k has no measured value" -> false }
    }

    val canaries = canaryFloors(spark)
    val traceFile = if (opts.trace) Some(writeSpans(spans)) else None
    val out = Map(
      "correct" -> (checks.failed == 0),
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "metrics" -> reported.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    writeArtifact(out, setupS, timedS, inputBytes, canaries, traceFile, unattributed, spans, m)
    spark.stop()
    cleanDir(opts.work)
    out
  }

  /** One timing of each `graft.Bench.canaries` probe, as weather context. */
  private def canaryFloors(spark: SparkSession): Map[String, Double] = {
    val dir = new File(opts.work, "canary").getPath
    spark.range(200000L).selectExpr("CAST(id % 50 AS DOUBLE) AS l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    graft.Bench.canaries(spark, dir).map { case (name, f) =>
      val t = System.nanoTime()
      f()
      name -> (System.nanoTime() - t) / 1e9
    }.toMap
  }

  private def writeSpans(spans: Spans): String = {
    opts.artifacts.mkdirs()
    val f = new File(opts.artifacts, s"${opts.workload}-seed${opts.seed}-spans.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(Json.write(Map("trace" -> spans.runTrace, "spans" -> spans.rows))) finally w.close()
    f.getPath
  }

  private def writeArtifact(out: Map[String, Any], setupS: Double, timedS: Double,
                            inputBytes: Long, canaries: Map[String, Double],
                            traceFile: Option[String], unattributed: Double, spans: Spans,
                            m: Metrics): Unit = {
    opts.artifacts.mkdirs()
    val name = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}.json"
    val art = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "commit" -> opts.commit, "source_sha" -> opts.sourceSha,
      "nproc" -> cores,
      "sizes" -> Map("videos" -> sizes.videos, "docs" -> crawl.docs.size,
        "base_events" -> sizes.eventsPerDay * sizes.baseDays, "batch_videos" -> sizes.batchVideos,
        "events_per_day" -> sizes.eventsPerDay, "input_bytes" -> inputBytes),
      "blas" -> graft.Bench.blasBackend,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "canaries_s" -> canaries,
      "setup_s" -> setupS, "timed_s" -> timedS, "spark_work_per_op" -> m.perOp,
      "unattributed_share" -> unattributed,
      "recorder_ms" -> spans.overheadNs / 1e6,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans_file" -> traceFile,
      "failures" -> checks.failures.toSeq,
      "result" -> out)
    val w = new java.io.PrintWriter(new File(opts.artifacts, name), "UTF-8")
    try w.write(Json.write(art)) finally w.close()
  }
}
