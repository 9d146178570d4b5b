package ytbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CrawlSpec extends AnyFunSuite {
  private val small = Sizes(videos = 400, vocab = 500, baseDays = 2, retainDays = 2,
    eventsPerDay = 300, users = 50, batchVideos = 40)

  private def writeAll(seed: Long, dir: File): Seq[File] = {
    val c = new Crawl(seed, small)
    val files = Seq("videos.xml", "docs.jsonl", "events.jsonl", "batch2.xml").map(new File(dir, _))
    c.writeVideosXml(files(0), c.videos)
    c.writeDocsJsonl(files(1), c.docs)
    c.writeEventsJsonl(files(2), c.baseEvents)
    c.writeVideosXml(files(3), c.batch(2).videos)
    files
  }

  private def bytes(f: File) = Files.readAllBytes(f.toPath).toSeq

  test("the same seed gives byte-identical inputs; another seed does not") {
    val a = writeAll(7L, Files.createTempDirectory("crawl-a").toFile)
    val b = writeAll(7L, Files.createTempDirectory("crawl-b").toFile)
    val c = writeAll(8L, Files.createTempDirectory("crawl-c").toFile)
    a.zip(b).foreach { case (x, y) => assert(bytes(x) == bytes(y), x.getName) }
    a.zip(c).foreach { case (x, y) => assert(bytes(x) != bytes(y), x.getName) }
  }

  test("batches are fixed by the seed, whatever order they are asked for in") {
    val inOrder = new Crawl(3L, small)
    val skipped = new Crawl(3L, small)
    val b3 = skipped.batch(3)
    assert(inOrder.batch(1) == skipped.batch(1))
    assert(inOrder.batch(3) == b3)
  }

  test("boundary values, sentinels and categories are planted") {
    val c = new Crawl(1L, small)
    val lengths = c.videos.map(_.lengthT).toSet
    Seq(239, 240, 1199, 1200, -1).foreach(v => assert(lengths(v), s"length $v"))
    val views = c.videos.map(_.viewsT).toSet
    Seq(999L, 1000L, 9999L, 10000L, 99999L, 100000L, 999999L, 1000000L, -1L)
      .foreach(v => assert(views(v), s"views $v"))
    assert(c.videos.exists(_.length == ""), "unparseable length")
    assert(c.videos.exists(_.category.contains("UNA")))
    assert(c.videos.exists(_.category.isEmpty), "missing category")
    assert(c.videos.exists(_.category.exists(_.contains("&"))))
  }

  test("related arrays carry self-loops, dangling and duplicate ids") {
    val c = new Crawl(1L, small)
    val ids = c.videos.map(_.id).toSet
    assert(c.videos.exists(v => v.related.contains(v.id)), "self-loop")
    assert(c.videos.exists(_.related.exists(r => !ids(r))), "dangling")
    assert(c.videos.exists(v => v.related.distinct.size < v.related.size), "duplicate")
    assert(c.videos.exists(_.related.isEmpty), "empty")
    assert(c.videos.exists(_.related.size >= 5), "PageRank vertex")
  }

  test("re-uploads: verbatim copies and one-word mutations of earlier docs") {
    val c = new Crawl(1L, Sizes(videos = 3000))
    assert(c.verbatim.nonEmpty)
    c.verbatim.foreach { case (d, s) =>
      assert(d > s)
      assert(c.docs(d.toInt).text == c.docs(s.toInt).text)
    }
    val texts = c.docs.map(_.text.split(" ").toSeq)
    val byLen = texts.zipWithIndex.groupBy(_._1.size)
    val mutated = byLen.values.exists { g =>
      g.combinations(2).exists { case Seq((a, _), (b, _)) => a.zip(b).count(p => p._1 != p._2) == 1 }
    }
    assert(mutated, "no one-word mutation found")
  }

  test("attribute values are XML-escaped and parse back unchanged") {
    val c = new Crawl(1L, small)
    val f = new File(Files.createTempDirectory("crawl-xml").toFile, "v.xml")
    c.writeVideosXml(f, c.videos)
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder().parse(f)
    val nodes = doc.getElementsByTagName("video")
    assert(nodes.getLength == c.videos.size)
    c.videos.indices.foreach { i =>
      val e = nodes.item(i).asInstanceOf[org.w3c.dom.Element]
      val v = c.videos(i)
      assert(e.getAttribute("uploader") == v.uploader)
      assert(e.getAttribute("category") == v.category.getOrElse(""))
      assert(e.getElementsByTagName("related").getLength == v.related.size)
    }
    assert(c.videos.exists(v => v.uploader.exists("&<>\"'".contains(_))))
  }

  test("the live event count drops duplicates and expired days") {
    val c = new Crawl(1L, small)
    val all = c.baseEvents ++ c.batch(1).events
    val cutoff = c.cutoffFor(small.baseDays)
    assert(all.map(_.eventId).distinct.size < all.size, "in-file duplicates planted")
    assert(c.liveEventsAfter(1) == all.filter(_.tsEpoch >= cutoff).map(_.eventId).distinct.size)
    assert(c.liveEventsAfter(1) < all.map(_.eventId).distinct.size, "a day expired")
  }
}
