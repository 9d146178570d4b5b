package ytbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** SplitMix64: a seeded stream whose outputs are fixed by the algorithm
  * alone, so the same seed gives the same crawl on any JVM. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) / 9007199254740992.0
  def chance(p: Double): Boolean = nextDouble() < p
  /** Skewed pick in [0, n): low indices are popular (u² skew). */
  def skewed(n: Int): Int = math.min(n - 1, (n * math.pow(nextDouble(), 2.0)).toInt)
}

/** Corpus sizes. `videos` is the crawl; each maintain batch carries
  * `batchVideos` new videos and one day of `eventsPerDay` view events. */
final case class Sizes(
    videos: Int = 3000,
    vocab: Int = 3000,
    baseDays: Int = 4,
    retainDays: Int = 3,
    eventsPerDay: Int = 2000,
    users: Int = 800,
    batchVideos: Int = 150)

/** One generated video: the raw attribute strings written to the XML and
  * the values the typed ingest must produce from them (-1 sentinel for
  * missing or unparseable numerics). */
final case class Video(
    ordinal: Int, id: String, uploader: String, category: Option[String],
    age: String, length: String, views: String, rate: Option[String],
    ratings: String, comments: String, related: Seq[String]) {
  def lengthT: Int = Crawl.parseInt(length)
  def viewsT: Long = Crawl.parseLong(views)
  def rateT: Double = rate.flatMap(r => r.toDoubleOption).getOrElse(-1.0)
}

final case class Doc(docId: Long, text: String, source: String)

/** Doc `doc` re-uploads doc `source`, verbatim or with one word changed. */
final case class Reupload(doc: Long, source: Long, verbatim: Boolean)

final case class Event(eventId: Long, tsEpoch: Long, userId: Long,
                       videoId: String, eventType: String, value: Double)

/** A maintain batch: new videos (plus re-crawled copies of existing ones,
  * which the lake must not admit twice), their text docs, and one day of
  * view events (with in-file duplicates the event log must drop). */
final case class Batch(index: Int, videos: Seq[Video], docs: Seq[Doc],
                       events: Seq[Event], day: Int)

/** The seeded, reference-shaped YouTube crawl: videos with the SURVEY
  * §1.2 attribute set and `related` arrays, a title/description text
  * table with planted re-uploads, and per-day view events.
  *
  * Planted cases: the FIXTURES §B1 boundary values (239/240 and
  * 1199/1200 s; 999/1k through 1M views), `-1` and unparseable numerics,
  * `UNA` and missing categories, attribute values that need XML escaping
  * (`Autos & Vehicles`), self-loops, dangling and duplicate `related` ids,
  * and verbatim and one-word-mutated re-uploads. */
final class Crawl(val seed: Long, val sizes: Sizes) {
  import Crawl._

  private val rng = new Rng(seed)
  private val ids = mutable.LinkedHashSet.empty[String]

  private def freshId(r: Rng): String = {
    var id = ""
    while (id.isEmpty || ids.contains(id)) id = idFrom(r)
    ids += id
    id
  }

  val words: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe",
      "da", "gu", "zo", "be", "ha", "ji", "fa", "wu", "xe", "qi", "yo")
    val seen = mutable.LinkedHashSet.empty[String]
    val r = new Rng(seed ^ 0x5EEDL)
    while (seen.size < sizes.vocab)
      seen += (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString
    seen.toIndexedSeq
  }

  private val uploaders: IndexedSeq[String] = (0 until math.max(20, sizes.videos / 8)).map { i =>
    // a few names need escaping in XML attributes
    i % 97 match {
      case 3 => s"tom&jerry_$i"
      case 5 => s"a<b>_$i"
      case 7 => s"say \"hi\" $i"
      case 9 => s"o'neil_$i"
      case _ => s"user_${java.lang.Long.toString(i * 7919L + seed.abs % 1000, 36)}_$i"
    }
  }

  private def text(r: Rng, n: Int): String =
    (0 until n).map(_ => words(r.skewed(words.size))).mkString(" ")

  private def mutateOneWord(r: Rng, t: String): String = {
    val ws = t.split(" ")
    val i = r.nextInt(ws.length)
    var w = ws(i)
    while (w == ws(i)) w = words(r.nextInt(words.size))
    ws(i) = w
    ws.mkString(" ")
  }

  private def video(r: Rng, ordinal: Int, id: String, pool: IndexedSeq[String]): Video = {
    val planted = ordinal < PlantedRows
    val length =
      if (planted) PlantedLengths(ordinal % PlantedLengths.size)
      else if (r.chance(0.01)) "" else (1 + r.nextInt(3600)).toString
    val views =
      if (planted) PlantedViews(ordinal % PlantedViews.size)
      else if (r.chance(0.01)) "-1"
      else (math.exp(r.nextDouble() * 15.5).toLong - 1).toString
    val category =
      if (r.chance(0.03)) None
      else Some(Categories(r.skewed(Categories.size)))
    val rate = if (r.chance(0.05)) None else Some(String.format(java.util.Locale.ROOT, "%.2f", Double.box(1.0 + r.nextDouble() * 4.0)))
    val nRelated = if (r.chance(0.15)) 0 else 1 + r.nextInt(20)
    val related = mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until nRelated) {
      val pick = r.nextInt(100)
      related += (
        if (pick < 2) id                                    // self-loop
        else if (pick < 5) "zz" + idFrom(r).take(9)         // dangling
        else if (pick < 8 && related.nonEmpty) related.last // duplicate
        else if (pick < 40) pool(r.skewed(pool.size))       // popular
        else pool(r.nextInt(pool.size)))
    }
    Video(ordinal, id, uploaders(r.skewed(uploaders.size)), category,
      age = if (r.chance(0.01)) "n/a" else r.nextInt(1500).toString,
      length = length, views = views, rate = rate,
      ratings = r.nextInt(5000).toString, comments = r.nextInt(800).toString,
      related = related.toSeq)
  }

  /** Text doc for `v`: fresh words, or a verbatim / one-word-mutated copy of
    * an earlier doc (a re-upload, recorded in [[reuploads]]). */
  private def docFor(r: Rng, v: Video, earlier: collection.IndexedSeq[Doc]): Doc =
    if (earlier.size > 100 && r.chance(0.04)) {
      val src = earlier(r.nextInt(earlier.size))
      val exact = r.chance(0.5)
      reuploads += Reupload(v.ordinal.toLong, src.docId, exact)
      Doc(v.ordinal.toLong, if (exact) src.text else mutateOneWord(r, src.text), v.id)
    } else Doc(v.ordinal.toLong, text(r, 4 + r.nextInt(5)) + " " + text(r, 10 + r.nextInt(20)), v.id)

  // ------------------------------------------------------------ the crawl

  val videos: IndexedSeq[Video] = {
    val r = new Rng(rng.nextLong())
    val idList = (0 until sizes.videos).map(_ => freshId(r))
    idList.indices.map(i => video(r, i, idList(i), idList))
  }

  /** Planted re-uploads, in generation order. */
  val reuploads = mutable.ArrayBuffer.empty[Reupload]

  /** Verbatim re-upload pairs (doc, source doc): these must share a cluster. */
  def verbatim: Seq[(Long, Long)] = reuploads.toSeq.filter(_.verbatim).map(u => (u.doc, u.source))

  val docs: IndexedSeq[Doc] = {
    val r = new Rng(rng.nextLong())
    val out = mutable.ArrayBuffer.empty[Doc]
    videos.foreach(v => out += docFor(r, v, out))
    out.toIndexedSeq
  }

  private val eventSeed = rng.nextLong()
  private val batchSeed = rng.nextLong()

  /** One day of view events, ids unique per day, plus ~2 % in-file
    * duplicate rows. Day d covers [DayZero + d·86400, +86400). */
  def dayEvents(day: Int, pool: IndexedSeq[String]): Seq[Event] = {
    val r = new Rng(eventSeed ^ (day.toLong * 0x9E3779B97F4A7C15L))
    val base = (0 until sizes.eventsPerDay).map { k =>
      Event(day.toLong * 10000000L + k, DayZero + day * 86400L + r.nextInt(86400),
        r.skewed(sizes.users).toLong, pool(r.skewed(pool.size)),
        EventTypes(r.nextInt(EventTypes.size)), (1 + r.nextInt(600)).toDouble)
    }
    base ++ base.filter(_ => r.chance(0.02))
  }

  def baseEvents: Seq[Event] =
    (0 until sizes.baseDays).flatMap(d => dayEvents(d, videos.map(_.id)))

  private val batchVideos = mutable.ArrayBuffer.empty[Video]
  private val batchDocs = mutable.ArrayBuffer.empty[Doc]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  /** Batch `i` (1-based), generated on first use and then fixed: the same
    * seed gives the same batches in the same order. */
  def batch(i: Int): Batch = {
    while (batches.size < i) {
      val b = batches.size + 1
      val r = new Rng(batchSeed ^ (b.toLong * 0xD1B54A32D192ED03L))
      val pool = (videos ++ batchVideos).map(_.id)
      val fresh = (0 until sizes.batchVideos).map { k =>
        video(r, videos.size + batchVideos.size + k, freshId(r), pool)
      }
      val earlier = (docs ++ batchDocs).toIndexedSeq
      val newDocs = fresh.map(v => docFor(r, v, earlier))
      // re-crawled copies of videos the lake already holds
      val recrawled = (0 until sizes.batchVideos / 50).map(_ => pool(r.nextInt(pool.size)))
        .distinct.map(id => (videos ++ batchVideos).find(_.id == id).get)
      val day = sizes.baseDays + b - 1
      batches += Batch(b, fresh ++ recrawled, newDocs, dayEvents(day, pool ++ fresh.map(_.id)), day)
      batchVideos ++= fresh
      batchDocs ++= newDocs
    }
    batches(i - 1)
  }

  /** Every distinct video after `nBatches` batches. */
  def videosAfter(nBatches: Int): IndexedSeq[Video] =
    videos ++ (1 to nBatches).flatMap(b => batch(b).videos.filter(_.ordinal >= videos.size))
      .distinctBy(_.id)

  /** Retention cutoff (epoch seconds) once the log holds days up to `lastDay`. */
  def cutoffFor(lastDay: Int): Long = DayZero + math.max(0, lastDay - sizes.retainDays + 1) * 86400L

  /** Distinct live events in the log after `nBatches` batches. */
  def liveEventsAfter(nBatches: Int): Long = {
    val lastDay = sizes.baseDays - 1 + nBatches
    val cutoff = cutoffFor(lastDay)
    val all = baseEvents ++ (1 to nBatches).flatMap(b => batch(b).events)
    all.filter(_.tsEpoch >= cutoff).map(_.eventId).distinct.size.toLong
  }

  // ------------------------------------------------------------ writers

  def writeVideosXml(f: File, vs: Seq[Video]): Long = writeLines(f,
    Iterator("<videos>") ++ vs.iterator.map(videoXml) ++ Iterator("</videos>"))

  def writeDocsJsonl(f: File, ds: Seq[Doc]): Long = writeLines(f, ds.iterator.map { d =>
    s"""{"doc_id":${d.docId},"text":${jsonString(d.text)},"lang":"en","source":${jsonString(d.source)},"n_chars":${d.text.length}}"""
  })

  def writeEventsJsonl(f: File, es: Seq[Event]): Long = writeLines(f, es.iterator.map { e =>
    s"""{"event_id":${e.eventId},"ts_epoch":${e.tsEpoch},"user_id":${e.userId},"video_id":${jsonString(e.videoId)},"event_type":"${e.eventType}","value":${e.value}}"""
  })
}

object Crawl {
  val Categories: IndexedSeq[String] = IndexedSeq("Music", "Entertainment", "Comedy",
    "Film & Animation", "People & Blogs", "Sports", "News & Politics", "UNA",
    "Autos & Vehicles", "Howto & DIY", "Pets & Animals", "Travel & Places",
    "Gadgets & Games", "Education")
  val PlantedLengths: IndexedSeq[String] = IndexedSeq("239", "240", "1199", "1200", "-1", "")
  val PlantedViews: IndexedSeq[String] = IndexedSeq("999", "1000", "9999", "10000", "99999",
    "100000", "999999", "1000000", "-1", "bad")
  val PlantedRows = 60
  val EventTypes: IndexedSeq[String] = IndexedSeq("view", "view", "view", "like", "share")
  /** 2007-06-01T00:00:00Z, inside the reference crawl's window. */
  val DayZero = 1180656000L

  private val IdChars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
  def idFrom(r: Rng): String = {
    val x = r.nextLong()
    (0 until 11).map(i => IdChars(((x >>> (i * 6)) & 63L).toInt)).mkString
  }

  def parseInt(s: String): Int = s.trim.toIntOption.getOrElse(-1)
  def parseLong(s: String): Long = s.trim.toLongOption.getOrElse(-1L)

  def xmlEscape(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case '\'' => "&apos;"
    case c => c.toString
  }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""

  def videoXml(v: Video): String = {
    def attr(k: String, x: String) = s""" $k="${xmlEscape(x)}""""
    val attrs = attr("id", v.id) + attr("uploader", v.uploader) +
      v.category.map(attr("category", _)).getOrElse("") + attr("age", v.age) +
      attr("length", v.length) + attr("views", v.views) +
      v.rate.map(attr("rate", _)).getOrElse("") + attr("ratings", v.ratings) +
      attr("comments", v.comments)
    if (v.related.isEmpty) s"<video$attrs/>"
    else s"<video$attrs>" + v.related.map(r => s"<related>${xmlEscape(r)}</related>").mkString + "</video>"
  }

  /** Write `lines` (UTF-8, '\n'-terminated); returns the bytes written. */
  def writeLines(f: File, lines: Iterator[String]): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    f.length()
  }
}
