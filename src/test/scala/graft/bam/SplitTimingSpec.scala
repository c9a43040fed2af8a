package graft.bam

import graft.SparkTestBase
import graft.bam.codec.Bgzf
import graft.bam.fixtures.BamFixture
import graft.bam.ops.{BamOps, SplitTiming}

class SplitTimingSpec extends SparkTestBase {

  test("computeSplits (eager) matches the realized source split layout") {
    val fx = BamFixture.default
    Seq(16384L, 65536L).foreach { ss =>
      val harness = SplitTiming.computeSplits(fx.bamPath, ss, relaxed = false)
        .map(p => (p.blockPos, p.offset))
      val realized = BamOps.splits(spark, fx.bamPath, ss)
        .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
      assert(harness == realized, s"splitSize=$ss")
    }
  }

  test("computeSplits (eager) matches the realized layout on full-size blocks") {
    // the shape of the reference's 1.bam (583 KB in 25 blocks of ~64 KiB
    // payload): split windows end mid-block, the block-start search's
    // header chains reach past its 64 KiB window, and the last split window
    // runs past EOF
    val fx = BamFixture.cached("wide", n = 8000, seed = 1, payloadSize = Bgzf.MaxPayload)
    val len = new java.io.File(fx.bamPath).length
    assert(fx.blocks.length >= 20)
    Seq(65536L, 40001L).foreach { ss =>
      assert(len % ss != 0, s"splitSize=$ss")
      assert(fx.blocks.exists(b => b.start / ss != (b.start + b.compressedSize - 1) / ss),
        s"splitSize=$ss")
      val harness = SplitTiming.computeSplits(fx.bamPath, ss, relaxed = false)
        .map(p => (p.blockPos, p.offset))
      val realized = BamOps.splits(spark, fx.bamPath, ss)
        .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
      assert(harness.length > 1, s"splitSize=$ss")
      assert(harness == realized, s"splitSize=$ss")
    }
  }

  test("compare-splits races both checkers per file, one result row per BAM") {
    val rows = SplitTiming.compareSplits(
      spark, Seq(BamFixture.tiny.bamPath, BamFixture.default.bamPath), 32768)
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Int]("numEager") > 0)
      assert(r.getAs[Long]("eagerMS") >= 1)
      assert(r.getAs[Long]("relaxedMS") >= 1)
      // clean generated fixtures: both profiles agree on the layout
      assert(r.getAs[Int]("numEagerOnly") == 0)
      assert(r.getAs[Int]("numRelaxedOnly") == 0)
      assert(r.getAs[Int]("numEager") == r.getAs[Int]("numRelaxed"))
    }
  }

  test("compare-splits report pins the reference output shape") {
    val results = Seq(
      SplitTiming.Result("a.bam", 4, 4, 0, 0, eagerMS = 20, relaxedMS = 10),
      SplitTiming.Result("b.bam", 6, 6, 0, 0, eagerMS = 10, relaxedMS = 10))
    val got = SplitTiming.report(results)
    val want =
      """All 2 BAMs' splits (totals: 10, 10) matched!
        |
        |Total split-computation time:
        |	relaxed:	20
        |	eager:	30
        |
        |Ratios:
        |N: 2, μ/σ: 1.5/0.5, med/mad: 1.5/0.5
        | elems: 2 1
        |sorted: 1 2
        |""".stripMargin
    assert(got == want)
  }

  test("compare-splits report calls out differing layouts") {
    val results = Seq(
      SplitTiming.Result("a.bam", 5, 4, 2, 1, eagerMS = 10, relaxedMS = 10))
    val got = SplitTiming.report(results)
    assert(got.startsWith(
      "1 of 1 BAMs' splits didn't match (totals: 5, 4; 2, 1 unmatched)"))
    assert(got.contains("Ratio: 1.0"))
  }

  test("time-load: both loaders see identical partition-start reads") {
    val row = SplitTiming.timeLoad(spark, BamFixture.default.bamPath, 32768)
      .collect().head
    assert(row.getAs[Boolean]("all_matched"))
    assert(row.getAs[Int]("eager_partitions") > 1)
    assert(row.getAs[Int]("eager_partitions") == row.getAs[Int]("relaxed_partitions"))
    assert(row.getAs[Int]("eager_only_reads") == 0)
    assert(row.getAs[Int]("relaxed_only_reads") == 0)
  }

  test("relaxed-checker loader still reads every record on clean data") {
    val fx = BamFixture.default
    val n = spark.read.format("bam").option("splitSize", "32768")
      .option("checker", "relaxed").load(fx.bamPath).count()
    assert(n == fx.numRecords)
  }
}
