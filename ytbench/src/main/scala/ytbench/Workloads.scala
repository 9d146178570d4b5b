package ytbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{Dedup, ShingleIndex}
import graft.domain.YouTube
import graft.graph.{Components, ComponentsIndex}
import graft.ingest.Ingest
import graft.jobs.EventLogMaintenance
import graft.ml.Recommend
import graft.serve.{Api, Caches}
import graft.text.InvertedIndex

/** Attempted/failed bookkeeping: one entry per operation whose output was
  * checked. An exception or any failing check fails the operation. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def op(name: String)(checks: => Seq[(String, Boolean)]): Unit = {
    attempted += 1
    val bad =
      try checks.filterNot(_._2).map(_._1)
      catch { case NonFatal(e) => Seq(s"threw $e") }
    if (bad.nonEmpty) {
      failed += 1
      bad.foreach(b => failures += s"$name: $b")
      System.err.println(s"[ytbench] check failed: $name: ${bad.mkString("; ")}")
    }
  }
}

object Workloads {
  val NightlySteps: Set[String] = Set("ingest.xml", "domain.reports", "domain.degrees",
    "graph.pagerank", "ml.als", "dedup.pairs", "graph.clusters", "text.index_build")
  /** What the serve requests read, besides the planted PageRank and ALS caches. */
  val ServeSteps: Set[String] = Set("ingest.xml", "domain.reports", "text.index_build")
  /** What the maintain tiers start from, besides the planted dup pairs. */
  val MaintainSteps: Set[String] = Set("ingest.xml", "text.index_build")
  /** The serve request types. A round of the serve mix asks each once: the
    * reference GUI offers its operations side by side in one selectbox
    * (SURVEY §3.1, `guiV5.py:405-416`) and records no usage, so the mix
    * assumes every type is asked equally often. */
  val RequestKinds: IndexedSeq[String] = IndexedSeq("search", "deep_page", "report_page",
    "influencers", "recs", "keyword", "related")
}

/** One maintain batch's measurements: input bytes, bytes and data files
  * written per tier root, and the (doc, match) pairs its shingle verdicts
  * fed the components index. */
final case class Admitted(inputBytes: Long, written: Map[String, Long], files: Map[String, Int],
                          pairs: Seq[(Long, Long)])

/** Where one set of nightly outputs lives. */
final case class State(root: String, table: String) {
  def lake = s"$root/lake/videos"
  def cache(name: String) = s"$root/caches/$name"
  def index = s"$root/index/search"
  def events = s"$root/lake/events"
  def shingles = s"$root/index/shingles"
  def components = s"$root/index/components"
}

/** The three workloads' building blocks: the nightly pass, the serve
  * requests and the maintain batch, each calling the library's public
  * functions inside spans. */
final class Workloads(val spark: SparkSession, val crawl: Crawl, val spans: Spans,
                      val checks: Checks, val work: File) {
  import spark.implicits._

  val AlsUsers = 100
  val input = new File(work, "input")
  def videosXml = new File(input, "videos.xml").getPath
  def docsJsonl = new File(input, "docs.jsonl").getPath

  /** Write the crawl's files; returns their total bytes. */
  def writeInputs(): Long =
    crawl.writeVideosXml(new File(input, "videos.xml"), crawl.videos) +
      crawl.writeDocsJsonl(new File(input, "docs.jsonl"), crawl.docs) +
      crawl.writeEventsJsonl(new File(input, "events_base.jsonl"), crawl.baseEvents)

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_epoch", LongType),
    StructField("user_id", LongType), StructField("video_id", StringType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  def readEvents(path: String): DataFrame =
    spark.read.schema(eventSchema).json(path)
      .select(col("event_id"), timestamp_seconds(col("ts_epoch")).as("ts"),
        col("user_id"), col("video_id"), col("event_type"), col("value"))

  def readDocs(path: String): DataFrame =
    Ingest.jsonlClean(Ingest.readDocumentsJsonl(spark, path)).select(col("doc_id"), col("text"))

  def readVideos(path: String): DataFrame =
    Ingest.typedVideosFromXml(Ingest.readVideosXml(spark, path))

  // ================================================================ nightly

  /** XML on disk → every cache and index committed under `st`. `steps`
    * narrows the pass to the outputs a workload's set-up needs. */
  def nightly(st: State, trace: String, steps: Set[String] = Workloads.NightlySteps): Span =
    spans.timed("nightly.pass", trace) {
      def step(name: String)(f: => Unit): Unit = if (steps(name)) spans(s"nightly.$name")(f)
      step("ingest.xml")(Ingest.dedupAppend(spark, readVideos(videosXml), st.lake, "id"))
      val videos = spark.read.parquet(st.lake)
      if (Seq("domain.reports", "domain.degrees", "graph.pagerank", "ml.als").exists(steps))
        spans("nightly.lake.load")(videos.cache().count())
      step("domain.reports") {
        Caches.write(YouTube.categoryStats(videos), st.cache("category_stats"))
        Caches.write(YouTube.lengthBuckets(videos), st.cache("size_buckets"))
        Caches.write(YouTube.viewBuckets(videos), st.cache("view_buckets"))
        Caches.write(YouTube.viewStats(videos), st.cache("view_stats"))
      }
      step("domain.degrees") {
        YouTube.degreeReport(videos).toSeq.sortBy(_._1).foreach { case (k, df) =>
          Caches.write(df, st.cache(k))
        }
      }
      step("graph.pagerank") {
        Caches.write(YouTube.influencers(spark, videos, k = 500), st.cache("pagerank"))
      }
      step("ml.als") {
        val triples = videos.filter(col("rate") >= 0 && col("uploader").isNotNull)
          .select(col("uploader").as("userKey"), col("id").as("itemKey"), col("rate").as("rating"))
        Caches.write(Recommend.recommendForUsers(spark, triples, nUsers = AlsUsers, sampleFraction = 1.0),
          st.cache("als_recs"))
      }
      videos.unpersist()
      val docs = readDocs(docsJsonl)
      if (Seq("dedup.pairs", "graph.clusters", "text.index_build").exists(steps))
        spans("nightly.ingest.docs")(docs.cache().count())
      step("dedup.pairs") {
        Caches.write(Dedup.minhashNearDups(docs).select(col("doc_a"), col("doc_b")),
          st.cache("dup_pairs"))
      }
      step("graph.clusters") {
        Caches.write(Components.dupClusters(docs, spark.read.parquet(st.cache("dup_pairs"))),
          st.cache("reupload_clusters"))
      }
      step("text.index_build")(InvertedIndex.build(docs, st.table, st.index))
      docs.unpersist()
      spans("nightly.lake.commit") {
        graft.lake.Commit.atomicWrite(spark, new Path(st.root, "_nightly"), trace)
      }
    }._2

  /** The PageRank and ALS caches serve reads, worked out from the
    * generator's own graph and written through `Caches.write` as the nightly
    * writes them. The nightly workload measures computing them; serve and
    * maintain set-ups, traced or not, plant them instead. Shapes and
    * invariants match: ranks 1..k, non-increasing scores (in-degree shares,
    * not PageRank), five recommendations per user. */
  def plantedServeCaches(st: State): Unit = spans("setup.planted_caches") {
    val inDegree = crawl.videos.flatMap(v => v.related.distinct.filter(_ != v.id))
      .groupBy(identity).view.mapValues(_.size).toMap
    val byId = crawl.videos.map(v => v.id -> v).toMap
    val top = crawl.videos.map(v => v.id -> inDegree.getOrElse(v.id, 0))
      .sortBy { case (id, d) => (-d, id) }.take(500)
    val total = math.max(1, top.map(_._2).sum).toDouble
    Caches.write(top.zipWithIndex.map { case ((id, d), i) =>
      (i + 1L, id, math.round(d / total * 1e6) / 1e6, byId(id).uploader)
    }.toDF("rank", "ID", "influence_score", "uploader"), st.cache("pagerank"))
    val popular = crawl.videos.sortBy(v => (-v.viewsT, v.id)).map(_.id)
    Caches.write(crawl.videos.map(_.uploader).distinct.sorted.take(AlsUsers).zipWithIndex
      .map { case (u, i) => (i, u, popular.slice(i % 50, i % 50 + 5)) }
      .toDF("userId", "userKey", "recommendations"), st.cache("als_recs"))
  }

  /** The crawl's planted re-upload pairs as the dup-pairs cache the
    * components index starts from (the nightly workload measures finding
    * them with MinHash). */
  def plantedPairs(st: State): Unit = spans("setup.planted_pairs") {
    Caches.write(crawl.reuploads.toSeq.filter(_.doc < crawl.docs.size).map(u => (u.source, u.doc))
      .toDF("doc_a", "doc_b"), st.cache("dup_pairs"))
  }

  /** The GUI's first looks at the fresh nightly outputs: a page of each
    * report cache and one keyword probe, each timed as a read, in two rounds
    * so a pass gives 16 read samples (single reads vary by ±20 %). Returns
    * the last round's pages for [[checkNightly]]. */
  def nightlyReads(st: State): Map[String, Array[Row]] =
    (1 to 2).map(_ => nightlyReadRound(st)).last

  private def nightlyReadRound(st: State): Map[String, Array[Row]] = {
    def page(name: String, cols: Seq[String], order: Seq[org.apache.spark.sql.Column]) =
      name -> spans(s"nightly.read.$name")(
        Api.cachedReportPage(spark, st.cache(name), cols, orderBy = order, k = Api.MaxK).collect())
    Map(
      page("category_stats", Seq("category", "num_videos", "avg_views"), Seq(col("num_videos").desc, col("category"))),
      page("size_buckets", Seq("length_bucket", "num_videos"), Seq(col("length_bucket"))),
      page("view_buckets", Seq("views_bucket", "num_videos"), Seq(col("views_bucket"))),
      page("view_stats", Seq("num_videos", "median_views"), Nil),
      page("pagerank", Seq("rank", "ID", "influence_score", "uploader"), Seq(col("rank"))),
      page("als_recs", Seq("userId", "userKey", "recommendations"), Seq(col("userId"))),
      page("top_by_in_degree", Seq("id", "inDegree"), Seq(col("inDegree").desc, col("id"))),
      "keyword" -> spans("nightly.read.keyword")(
        InvertedIndex.probe(spark, st.table, st.index, Seq(crawl.words(0)), k = 20).collect()))
  }

  /** Typed ingest: row count and sentinel accounting against the generator. */
  def checkIngest(st: State): Unit = {
    val n = crawl.videos.size.toLong
    checks.op("nightly.ingest") {
      val lake = spark.read.parquet(st.lake)
      val agg = lake.agg(count(lit(1)), count(when(col("length") === -1, 1)),
        count(when(col("views") === -1, 1)), count(when(col("category").isNull, 1))).head()
      Seq(
        s"rows ${agg.getLong(0)} != generated $n" -> (agg.getLong(0) == n),
        "length sentinels" -> (agg.getLong(1) == crawl.videos.count(_.lengthT == -1)),
        "views sentinels" -> (agg.getLong(2) == crawl.videos.count(_.viewsT == -1)),
        "null categories" -> (agg.getLong(3) == crawl.videos.count(_.category.isEmpty)))
    }
  }

  /** FIXTURES §C invariants over a full nightly's outputs. */
  def checkNightly(st: State, pages: Map[String, Array[Row]]): Unit = {
    val n = crawl.videos.size.toLong
    checkIngest(st)
    checks.op("nightly.reports") {
      val cats = pages("category_stats").map(_.getAs[Long]("num_videos")).toSeq
      val expectedCats = crawl.videos.groupBy(_.category).size
      Seq(
        "size buckets sum" -> (pages("size_buckets").map(_.getAs[Long]("num_videos")).sum == n),
        "view buckets sum" -> (pages("view_buckets").map(_.getAs[Long]("num_videos")).sum == n),
        "category counts sum" -> (cats.sum == n),
        "category count" -> (cats.size == expectedCats),
        "category top-K ordered" -> (cats == cats.sorted.reverse),
        "view stats rows" -> (pages("view_stats").head.getAs[Long]("num_videos") == n))
    }
    checks.op("nightly.pagerank") {
      val pr = pages("pagerank")
      val scores = pr.map(_.getAs[Double]("influence_score")).toSeq
      Seq(
        "non-empty" -> pr.nonEmpty,
        "ranks 1..k" -> (pr.map(_.getAs[Long]("rank")).toSeq == (1L to pr.length.toLong)),
        "influence non-increasing" -> scores.sliding(2).forall(s => s.size < 2 || s(0) >= s(1)))
    }
    checks.op("nightly.als") {
      val recs = pages("als_recs")
      Seq(s"$AlsUsers users" -> (recs.length == AlsUsers),
        "5 recs each" -> recs.forall(_.getAs[Seq[String]]("recommendations").size == 5))
    }
    checks.op("nightly.clusters") {
      val cluster = spark.read.parquet(st.cache("reupload_clusters"))
        .select(col("doc_id"), col("cluster_id")).as[(Long, Long)].collect().toMap
      Seq("every doc clustered" -> (cluster.size == crawl.docs.size),
        "verbatim re-uploads share a cluster" -> crawl.verbatim.filter(_._1 < crawl.docs.size)
          .forall { case (d, s) => cluster.get(d) == cluster.get(s) && cluster.contains(d) })
    }
    checks.op("nightly.index") {
      Seq("probe hits" -> pages("keyword").nonEmpty,
        "postings files" -> (InvertedIndex.postingsFileCount(spark, st.table) > 0))
    }
  }

  // ================================================================ serve

  /** Seeded request source over the nightly outputs in `st`. */
  final class Serve(val st: State, seed: Long) {
    private val r = new Rng(seed ^ 0x5E4E5EL)
    val videos: DataFrame = {
      val v = spark.read.parquet(st.lake).cache()
      v.count()
      v
    }
    private val alsUsers = spark.read.parquet(st.cache("als_recs")).select(col("userKey"))
      .as[String].collect().sorted
    private val prCount = spark.read.parquet(st.cache("pagerank")).count().toInt
    private val cats = crawl.videos.flatMap(_.category).distinct.sorted
    private val typed = crawl.videos
    private var lastSearch = Api.SearchRequest()
    private var lastHits = 0L

    private var deck = List.empty[String]

    /** True between rounds: the timed loop ends only here, so every run
      * asks whole rounds. */
    def roundDone: Boolean = deck.isEmpty

    /** The next request type: rounds of [[Workloads.RequestKinds]], each
      * dealt in a seeded order. */
    def nextKind(): String = {
      if (deck.isEmpty) deck = shuffled(Workloads.RequestKinds).toList
      val k = deck.head
      deck = deck.tail
      k
    }

    private def expectedHits(q: Api.SearchRequest): Long = typed.count { v =>
      q.category.forall(c => v.category.contains(c)) &&
        q.minLength.forall(v.lengthT >= _) && q.maxLength.forall(v.lengthT <= _) &&
        q.minViews.forall(v.viewsT >= _)
    }

    private def pageChecks(q: Api.SearchRequest, rows: Array[Row], hits: Long): Seq[(String, Boolean)] = {
      val k = Api.clampK(q.k)
      val offset = Api.clampPage(q.page).toLong * k
      val keys = rows.map(r => (-r.getAs[Long]("views"), r.getAs[String]("id"))).toSeq
      Seq(
        "page size" -> (rows.length == math.max(0L, math.min(k.toLong, hits - offset))),
        "ordered by (views desc, id)" -> (keys == keys.sorted),
        "predicates hold" -> rows.forall { row =>
          val len = row.getAs[Int]("length"); val views = row.getAs[Long]("views")
          q.category.forall(_ == row.getAs[String]("category")) &&
            q.minLength.forall(len >= _) && q.maxLength.forall(len <= _) &&
            q.minViews.forall(views >= _)
        })
    }

    /** The round's five searches, from the FIXTURES §B1 boundaries; a round
      * deals them in a seeded order, so every round asks the same work. */
    private val searches = IndexedSeq(
      Api.SearchRequest(category = Some("Music"), minViews = Some(1000L), k = 50),
      Api.SearchRequest(category = Some("Comedy"), minLength = Some(240L), maxLength = Some(1199L), k = 100),
      Api.SearchRequest(minViews = Some(100000L), k = 200),
      Api.SearchRequest(category = Some("UNA"), minLength = Some(1200L), k = 20),
      Api.SearchRequest(category = Some("Autos & Vehicles"), maxLength = Some(239L), minViews = Some(999L), k = 50))
    private var searchDeck = List.empty[Api.SearchRequest]

    private def nextSearch(): Api.SearchRequest = {
      if (searchDeck.isEmpty) searchDeck = shuffled(searches).toList
      val q = searchDeck.head
      searchDeck = searchDeck.tail
      q
    }

    private def shuffled[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toIndexedSeq
    }

    /** Run one request of `kind` as a span and check it; returns the span. */
    def request(kind: String, trace: String): Span = {
      val prefix = s"serve.$kind"
      var verdict: () => Seq[(String, Boolean)] = () => Nil
      def planned(df: DataFrame): DataFrame = {
        spans(s"$prefix.plan")(df.queryExecution.executedPlan)
        df
      }
      val (_, sp) = spans.timed(prefix, trace) {
        try kind match {
          case "search" =>
            val q = nextSearch()
            val (total, hits, page) = Api.frequencySearch(videos, q)
            val rows = planned(page).collect()
            lastSearch = q; lastHits = hits
            verdict = () => Seq("total" -> (total == typed.size), "hits" -> (hits == expectedHits(q))) ++
              pageChecks(q, rows, hits)
          case "deep_page" =>
            val q = lastSearch.copy(page = 1 + r.nextInt(3))
            val rows = planned(Api.searchPage(videos, q)).collect()
            val hits = lastHits
            verdict = () => pageChecks(q, rows, hits)
          case "report_page" =>
            val slice = (0 until 3).map(_ => cats(r.nextInt(cats.size))).distinct
            val rows = planned(Api.cachedReportPage(spark, st.cache("category_stats"),
              Seq("category", "num_videos", "avg_views"), Seq(col("category").isin(slice: _*)),
              Seq(col("num_videos").desc, col("category")), k = 10)).collect()
            verdict = () => {
              val got = rows.map(r => r.getAs[String]("category") -> r.getAs[Long]("num_videos")).toMap
              Seq("slice" -> (got.keySet == slice.toSet),
                "counts" -> slice.forall(c => got.get(c).contains(typed.count(_.category.contains(c)).toLong)))
            }
          case "influencers" =>
            val k = 20
            val from = 1 + r.nextInt(math.max(1, prCount - k))
            val rows = planned(Api.cachedReportPage(spark, st.cache("pagerank"),
              Seq("rank", "ID", "influence_score"), Seq(col("rank").between(from, from + k - 1)),
              Seq(col("rank")), k)).collect()
            verdict = () => {
              val ranks = rows.map(_.getAs[Long]("rank")).toSeq
              val scores = rows.map(_.getAs[Double]("influence_score")).toSeq
              Seq("ranks" -> (ranks == (from.toLong until math.min(from + k, prCount + 1).toLong)),
                "scores non-increasing" -> scores.sliding(2).forall(s => s.size < 2 || s(0) >= s(1)))
            }
          case "recs" =>
            val u = alsUsers(r.nextInt(alsUsers.length))
            val rows = planned(Api.cachedReportPage(spark, st.cache("als_recs"),
              Seq("userKey", "recommendations"), Seq(col("userKey") === u), k = 1)).collect()
            verdict = () => Seq("one row" -> (rows.length == 1),
              "5 recs" -> rows.forall(_.getAs[Seq[String]]("recommendations").size == 5))
          case "keyword" =>
            // mid-frequency terms: posting-list sizes stay comparable across seeds
            val terms = Seq(crawl.words(100 + r.nextInt(100)))
            val rows = planned(InvertedIndex.probe(spark, st.table, st.index, terms, k = 20)).collect()
            verdict = () => {
              val scores = rows.map(_.getAs[Double]("score")).toSeq
              val text = crawl.docs
              Seq("k rows at most" -> (rows.length <= 20), "non-empty" -> rows.nonEmpty,
                "scores non-increasing" -> scores.sliding(2).forall(s => s.size < 2 || s(0) >= s(1)),
                "docs hold a term" -> rows.forall { row =>
                  val ws = text(row.getAs[Long]("doc_id").toInt).text.split(" ").toSet
                  terms.exists(ws.contains)
                })
            }
          case "related" =>
            val v = typed(r.nextInt(typed.size))
            val rows = planned(videos.filter(col("id") === v.id).select(col("id"), col("related"))).collect()
            verdict = () => Seq("one row" -> (rows.length == 1),
              "related ids" -> rows.forall(_.getAs[Seq[String]]("related") == v.related.filter(_.nonEmpty)))
        } catch { case NonFatal(e) => verdict = () => Seq(s"threw $e" -> false) }
      }
      checks.op(prefix)(verdict())
      sp
    }
  }

  // ================================================================ maintain

  /** Tier roots the maintain admissions write under. */
  def tierRoots(st: State): Seq[(String, String)] = Seq(
    "ingest.append" -> st.lake, "jobs.eventlog_cycle" -> st.events,
    "text.index_admit" -> st.index, "dedup.shingle_admit" -> st.shingles,
    "graph.components_admit" -> st.components)

  /** Prerequisite state beside a nightly: the event log's base days and the
    * shingle and components indexes over the crawl. */
  def maintainBase(st: State): Unit = spans("maintain.base") {
    val base = readEvents(new File(input, "events_base.jsonl").getPath)
    EventLogMaintenance.runCycle(spark, st.events, base,
      new java.sql.Timestamp(crawl.cutoffFor(crawl.sizes.baseDays - 1) * 1000L))
    ShingleIndex.build(readDocs(docsJsonl), st.shingles)
    ComponentsIndex.build(spark.read.parquet(st.cache("dup_pairs")), st.components)
  }

  def batchFiles(b: Int): (String, String, String, Long) = {
    val dir = new File(input, s"batch-$b")
    val bt = crawl.batch(b)
    val bytes = crawl.writeVideosXml(new File(dir, "videos.xml"), bt.videos) +
      crawl.writeDocsJsonl(new File(dir, "docs.jsonl"), bt.docs) +
      crawl.writeEventsJsonl(new File(dir, "events.jsonl"), bt.events)
    (new File(dir, "videos.xml").getPath, new File(dir, "docs.jsonl").getPath,
      new File(dir, "events.jsonl").getPath, bytes)
  }

  /** The five admissions of batch `b`, without timing or checks: returns
    * (rows admitted per tier, dup_corpus pairs). Shared by the timed batch
    * and the replay check. */
  private def admissions(st: State, b: Int, xml: String, docsPath: String, eventsPath: String)
      : (Seq[Long], Seq[(Long, Long)]) = {
    val bt = crawl.batch(b)
    val docs = readDocs(docsPath)
    val lake = spans("maintain.ingest.append")(Ingest.dedupAppend(spark, readVideos(xml), st.lake, "id"))
    val cycle = spans("maintain.jobs.eventlog_cycle")(EventLogMaintenance.runCycle(spark, st.events,
      readEvents(eventsPath), new java.sql.Timestamp(crawl.cutoffFor(bt.day) * 1000L)))
    val idx = spans("maintain.text.index_admit")(InvertedIndex.admit(spark, docs, st.table, st.index))
    val (sh, pairs) = spans("maintain.dedup.shingle_admit") {
      val verdicts = graft.Tier.pin(ShingleIndex.admit(spark, docs, st.shingles))
      val added = ShingleIndex.appendAdmitted(spark, docs, verdicts, st.shingles)
      val p = verdicts.filter(col("verdict") === "dup_corpus")
        .select(col("doc_id"), col("match_id")).as[(Long, Long)].collect().toSeq
      (added, p)
    }
    val edgesBefore = ComponentsIndex.edges(spark, st.components).count()
    spans("maintain.graph.components_admit") {
      ComponentsIndex.admit(spark, pairs.toDF("doc_a", "doc_b"), st.components)
    }
    val newEdges = ComponentsIndex.edges(spark, st.components).count() - edgesBefore
    (Seq(lake, cycle.appended, idx, sh, newEdges), pairs)
  }

  /** Batch `b`: five admissions, then the fresh read set, then checks. */
  def batch(st: State, b: Int, region: String): Admitted = {
    val trace = s"$region/batch-$b"
    val (xml, docsPath, eventsPath, inputBytes) = spans("bench.generate", trace)(batchFiles(b))
    val roots = tierRoots(st)
    def snap() = spans("bench.snapshot", trace) {
      roots.map { case (k, p) => k -> Stats.snapshot(Seq(new File(p))) }.toMap
    }
    val before = snap()
    val (_, pairs) = spans("maintain.admit", trace)(admissions(st, b, xml, docsPath, eventsPath))
    val after = snap()
    freshReads(st, b, trace)
    spans("bench.check", trace)(checks.op(s"maintain.batch") {
      val lake = spark.read.parquet(st.lake).count()
      val log = EventLogMaintenance.read(spark, st.events).map(_.count()).getOrElse(0L)
      Seq(s"lake rows $lake" -> (lake == crawl.videosAfter(b).size),
        s"event log rows $log" -> (log == crawl.liveEventsAfter(b)))
    })
    Admitted(inputBytes,
      roots.map { case (k, _) => k -> Stats.writtenBytes(before(k), after(k)) }.toMap,
      roots.map { case (k, _) => k -> Stats.newFiles(before(k), after(k)) }.toMap, pairs)
  }

  /** The fixed read set against the state just committed. Expected values
    * are worked out before each read's span opens. */
  def freshReads(st: State, b: Int, trace: String): Unit = {
    val r = new Rng(crawl.seed ^ (b * 31L))
    def read(name: String)(f: => Seq[(String, Boolean)]): Unit = {
      var cs: Seq[(String, Boolean)] = Nil
      spans(s"maintain.read.$name", trace) { cs = f }
      checks.op(s"maintain.read.$name")(cs)
    }
    val cat = Crawl.Categories(r.nextInt(Crawl.Categories.size))
    val user = r.skewed(crawl.sizes.users).toLong
    val fresh = crawl.batch(b).docs.head
    val (expected, wantHits, wantEvents, term, probe) = spans("bench.expect", trace) {
      val expected = crawl.videosAfter(b)
      val cutoff = crawl.cutoffFor(crawl.batch(b).day)
      val rank = crawl.words.zipWithIndex.toMap
      (expected, expected.count(_.category.contains(cat)).toLong,
        (crawl.baseEvents ++ (1 to b).flatMap(i => crawl.batch(i).events))
          .filter(e => e.userId == user && e.tsEpoch >= cutoff).map(_.eventId).distinct.size.toLong,
        fresh.text.split(" ").maxBy(rank),
        crawl.verbatim.filter(_._1 < crawl.docs.size + crawl.sizes.batchVideos * b).lastOption)
    }

    read("search") {
      val (total, hits, page) = Api.frequencySearch(spark.read.parquet(st.lake),
        Api.SearchRequest(category = Some(cat), k = 50))
      val rows = page.collect()
      Seq("total" -> (total == expected.size), "hits" -> (hits == wantHits),
        "page" -> (rows.length == math.min(50L, wantHits)))
    }
    read("user_events") {
      val got = EventLogMaintenance.read(spark, st.events).get
        .filter(col("user_id") === user).select(col("event_id")).distinct().count()
      Seq(s"events of user $user" -> (got == wantEvents))
    }
    read("keyword") {
      val rows = InvertedIndex.probe(spark, st.table, st.index, Seq(term), k = 1000).collect()
      Seq("fresh doc found" -> rows.exists(_.getAs[Long]("doc_id") == fresh.docId))
    }
    read("cluster") {
      val labels = ComponentsIndex.labels(spark, st.components)
      probe match {
        case Some((d, s)) =>
          val got = labels.filter(col("id").isin(d, s)).select(col("component")).distinct().count()
          Seq(s"re-upload $d shares a component with $s" -> (got == 1))
        case None => Seq("labels readable" -> (labels.count() > 0))
      }
    }
  }

  /** After the timed batches: a replay of the last batch admits nothing, and
    * the incrementally kept labels equal a from-scratch build. */
  def checkMaintainEnd(st: State, last: Int, batchPairs: Seq[(Long, Long)]): Unit = {
    val (xml, docsPath, eventsPath, _) = batchFiles(last)
    checks.op("maintain.replay") {
      val (admitted, _) = spans("maintain.replay", "check")(admissions(st, last, xml, docsPath, eventsPath))
      Seq(s"replay admitted $admitted" -> admitted.forall(_ == 0L))
    }
    checks.op("maintain.components_rebuild") {
      val fresh = s"${st.root}/scratch/components_rebuild"
      val all = spark.read.parquet(st.cache("dup_pairs")).select(col("doc_a"), col("doc_b"))
        .unionByName(batchPairs.toDF("doc_a", "doc_b"))
      ComponentsIndex.build(all, fresh)
      val a = ComponentsIndex.labels(spark, st.components).select("id", "component")
      val b = ComponentsIndex.labels(spark, fresh).select("id", "component")
      Seq("labels equal a full build" -> (a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty))
    }
  }
}
