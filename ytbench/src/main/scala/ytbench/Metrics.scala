package ytbench

import scala.collection.mutable

/** Turns recorded spans, peaks and batch records into the end-to-end and
  * per-layer metric tables. */
final class Metrics(spans: Spans, cores: Int) {
  private val peaks = mutable.ArrayBuffer.empty[Long]
  private val gauges = mutable.LinkedHashMap.empty[String, Double]
  val admitted = mutable.ArrayBuffer.empty[Admitted]
  /** Spark work per timed operation, for the artifact: not a metric. */
  val perOp = mutable.LinkedHashMap.empty[String, Double]

  def peak(bytes: Long): Unit = peaks += bytes
  def gauge(name: String, v: Double): Unit = gauges(name) = v
  def batches(as: Seq[Admitted]): Unit = admitted ++= as

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)
  private def region(s: Span): String = s.trace.takeWhile(_ != '/')

  /** Spans called `name`, from the timed region when it has any, else from
    * the coverage sweep, else from set-up. */
  private def named(name: String): Seq[Span] = {
    val all = spans.all.filter(_.name == name)
    Seq("timed", "sweep", "setup").map(r => all.filter(s => region(s) == r))
      .find(_.nonEmpty).getOrElse(Nil)
  }

  private def idle(s: Span): Double =
    1.0 - spans.inclusive(s).runMs / (cores * math.max(s.wallMs, 1e-9))

  private def isRequest(s: Span): Boolean =
    s.name.startsWith("serve.") && s.name.count(_ == '.') == 1

  /** End-to-end metrics from the timed region's top-level spans. */
  def endToEnd(workload: String, out: mutable.Map[String, (Double, String)],
               setupS: Double, timed: Seq[Span]): Unit = {
    val work = timed.filterNot(_.name.startsWith("bench."))
    val ops = workload match {
      case "nightly" => work.filter(_.name == "nightly.pass")
      case "serve" => work.filter(isRequest)
      case "maintain" => work.filter(_.name == "maintain.admit")
    }
    val reads = workload match {
      case "nightly" => spans.all.filter(s => s.name.startsWith("nightly.read.") && region(s) == "timed")
      case "serve" => ops
      case "maintain" => work.filter(_.name.startsWith("maintain.read."))
    }
    val counts = work.map(spans.inclusive)
    val cpuNs = counts.map(_.cpuNs).sum
    perOp("jobs") = counts.map(_.jobs).sum.toDouble / ops.size
    perOp("tasks") = counts.map(_.tasks).sum.toDouble / ops.size
    out("setup_s") = (setupS, "s")
    out("op_p50_ms") = (med(ops.map(_.wallMs)), "ms")
    out("ops_per_s") = (ops.size / (work.map(_.wallMs).sum / 1000), "1/s")
    out("read_p50_ms") = (med(reads.map(_.wallMs)), "ms")
    out("cpu_s") = (cpuNs / 1e9 / ops.size, "s")
    out("peak_storage_mb") = (med(peaks.toSeq.map(_.toDouble)) / 1e6, "MB")
  }

  /** Per-layer metrics: every layer, from whichever region exercised it. */
  def perLayer(out: mutable.Map[String, (Double, String)], unattributed: Double,
               recorderMs: Double): Unit = {
    def put(k: String, v: Double, unit: String): Unit = out(k) = (v, unit)
    def layer(name: String, measures: String*): Unit = {
      val ss = named(name)
      def m(f: Span => Double) = med(ss.map(f))
      measures.foreach {
        case "wall_ms" => put(s"$name.wall_ms", m(_.wallMs), "ms")
        case "jobs" => put(s"$name.jobs", m(s => spans.inclusive(s).jobs.toDouble), "count")
        case "tasks" => put(s"$name.tasks", m(s => spans.inclusive(s).tasks.toDouble), "count")
        case "cpu_ms" => put(s"$name.cpu_ms", m(s => spans.inclusive(s).cpuNs / 1e6), "ms")
        case "shuffle_mb" => put(s"$name.shuffle_mb", m(s => spans.inclusive(s).shuffleWrite / 1e6), "MB")
        case "spill_mb" => put(s"$name.spill_mb", m(s => spans.inclusive(s).spill / 1e6), "MB")
        case "idle_share" => put(s"$name.idle_share", m(idle), "ratio")
      }
    }
    layer("nightly.ingest.xml", "wall_ms", "tasks", "cpu_ms", "idle_share")
    layer("nightly.domain.reports", "wall_ms", "jobs")
    layer("nightly.domain.degrees", "wall_ms", "jobs", "shuffle_mb")
    layer("nightly.graph.pagerank", "wall_ms", "jobs", "tasks", "cpu_ms", "shuffle_mb", "idle_share")
    layer("nightly.ml.als", "wall_ms", "jobs", "tasks", "cpu_ms", "shuffle_mb", "idle_share")
    layer("nightly.dedup.pairs", "wall_ms", "cpu_ms", "shuffle_mb", "spill_mb")
    layer("nightly.graph.clusters", "wall_ms", "jobs")
    layer("nightly.text.index_build", "wall_ms", "cpu_ms", "shuffle_mb")
    put("nightly.text.index_build.files", gauges.getOrElse("nightly.text.index_build.files", Double.NaN), "count")
    put("nightly.jvm.gc_ms", med(named("nightly.pass").map(_.gcMs.toDouble)), "ms")

    val requests = Workloads.RequestKinds
    requests.foreach { k =>
      val ss = named(s"serve.$k")
      put(s"serve.$k.p50_ms", med(ss.map(_.wallMs)), "ms")
      put(s"serve.$k.plan_ms", med(named(s"serve.$k.plan").map(_.wallMs)), "ms")
      put(s"serve.$k.jobs", med(ss.map(s => spans.inclusive(s).jobs.toDouble)), "count")
      put(s"serve.$k.tasks", med(ss.map(s => spans.inclusive(s).tasks.toDouble)), "count")
    }
    val all = requests.flatMap(k => named(s"serve.$k"))
    val pct = Stats.highestPercentile(all.size).getOrElse(50)
    put("serve.tail_pct", pct.toDouble, "pct")
    put("serve.tail_ms", Stats.quantile(all.map(_.wallMs), pct / 100.0), "ms")
    put("serve.requests", all.size.toDouble, "count")
    put("serve.jvm.gc_ms", all.map(_.gcMs.toDouble).sum / all.size, "ms")

    val tiers = Seq("ingest.append", "jobs.eventlog_cycle", "text.index_admit",
      "dedup.shingle_admit", "graph.components_admit")
    tiers.foreach { t =>
      val ss = named(s"maintain.$t")
      put(s"maintain.$t.p50_ms", med(ss.map(_.wallMs)), "ms")
      put(s"maintain.$t.jobs", med(ss.map(s => spans.inclusive(s).jobs.toDouble)), "count")
      put(s"maintain.$t.written_mb", med(admitted.toSeq.map(_.written(t) / 1e6)), "MB")
      put(s"maintain.$t.files", med(admitted.toSeq.map(_.files(t).toDouble)), "count")
    }
    Seq("search", "user_events", "keyword", "cluster").foreach { r =>
      put(s"maintain.read.$r.p50_ms", med(named(s"maintain.read.$r").map(_.wallMs)), "ms")
    }
    put("maintain.text.postings_files_last",
      gauges.getOrElse("maintain.text.postings_files_last", Double.NaN), "count")
    put("maintain.write_amp", Stats.writeAmp(admitted.map(_.written.values.sum).sum,
      admitted.map(_.inputBytes).sum), "ratio")
    put("maintain.jvm.gc_ms", med(named("maintain.admit").map(_.gcMs.toDouble)), "ms")

    put("trace.unattributed_share", unattributed, "ratio")
    put("trace.recorder_ms", recorderMs, "ms")
  }
}
