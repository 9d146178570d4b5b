package ytbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p95 needs 200 samples to have ten beyond it") {
    assert(Stats.minSamplesFor(0.95) == 200)
    assert(Stats.minSamplesFor(0.99) == 1000)
    assert(Stats.minSamplesFor(0.5) == 20)
    assert(Stats.highestPercentile(200).contains(95))
    assert(Stats.highestPercentile(199).contains(94))
    assert(Stats.highestPercentile(1000).contains(99))
    assert(Stats.highestPercentile(19).isEmpty)
  }

  test("median and interpolated quantiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.95) == 9.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("self time subtracts child cover once, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
    // overlapping children are counted once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // a child running past the parent's end counts only inside it
    assert(Stats.selfTime(0, 100, Seq((90L, 130L))) == 90)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) == 0)
  }

  test("write amplification counts new and rewritten files, not kept or deleted ones") {
    val before = Map("t/a.parquet" -> 100L, "t/b.parquet" -> 50L, "t/gone.parquet" -> 70L)
    val after = Map("t/a.parquet" -> 100L, "t/b.parquet" -> 80L, "t/c.parquet" -> 30L,
      "t/.c.parquet.crc" -> 8L, "t/_SUCCESS" -> 0L)
    assert(Stats.writtenBytes(before, after) == 80L + 30L + 8L)
    assert(Stats.newFiles(before, after) == 1)
    assert(Stats.writeAmp(118L, 59L) == 2.0)
    intercept[IllegalArgumentException](Stats.writeAmp(1L, 0L))
  }

  test("snapshots list regular files under the roots") {
    val dir = java.nio.file.Files.createTempDirectory("snap").toFile
    new java.io.File(dir, "sub").mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "sub/x.parquet").toPath, Array.fill[Byte](5)(1))
    val snap = Stats.snapshot(Seq(dir, new java.io.File(dir, "missing")))
    assert(snap.values.toSeq == Seq(5L))
  }
}
