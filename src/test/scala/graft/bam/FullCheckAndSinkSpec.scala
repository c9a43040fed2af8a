package graft.bam

import graft.SparkTestBase
import graft.bam.fixtures.BamFixture
import graft.bam.ops.{BamSink, FullCheckOps, SamOps}
import org.apache.spark.sql.functions._

class FullCheckAndSinkSpec extends SparkTestBase {

  test("full-check: all true record starts pass, CDF sums to all positions") {
    val fx = BamFixture.tiny
    val calls = FullCheckOps.fullCalls(spark, fx.bamPath, numPartitions = 4)
    calls.cache()
    try {
      val okPositions = calls.filter(col("ok"))
        .select("blockPos", "offset").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      val truth = fx.records.map(r => (r.blockPos, r.offset)).toSet
      assert(truth.subsetOf(okPositions), "every true start must be flag-free")
      // full and eager agree everywhere (same semantics, different outputs)
      assert(okPositions.size == fx.numRecords,
        s"full checker accepted ${okPositions.size} vs ${fx.numRecords} true starts")
      val cdf = FullCheckOps.numFlagsCdf(calls).collect()
      assert(cdf.last.getAs[Long]("cdf") == fx.totalUncompressedPositions)
      val hist = FullCheckOps.flagsHistogram(calls).collect()
      assert(hist.nonEmpty && hist.forall(_.getAs[Long]("n") > 0))
      assert(FullCheckOps.closeCalls(calls).count() ==
        calls.filter(!col("ok") && col("numFlags") <= 2).count())
    } finally calls.unpersist()
  }

  test("loadSam parses the text rendering back to matching records") {
    val fx = BamFixture.default
    val samPath = BamFixture.writeSam(fx)
    val sam = SamOps.loadSam(spark, samPath)
    assert(sam.count() == fx.numRecords)
    val got = sam.select("readName", "refIdx", "pos", "mapq", "flags", "seq")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getString(5))).sortBy(_._1)
    val want = fx.records.map(r =>
      (r.readName, r.refIdx, r.pos, r.mapq, r.flags, r.seq)).sortBy(_._1)
    assert(got.toSeq == want)
  }

  test("BAM writer round-trips: rewrite file equals source records") {
    val fx = BamFixture.tiny
    val out = java.nio.file.Files.createTempDirectory("graft-rt")
      .resolve("rt.bam").toString
    BamSink.rewrite(spark, fx.bamPath, out)
    val blocks = new graft.bam.io.BlockReader(
      new graft.bam.io.LocalFileInput(out))
    try {
      val r = new graft.bam.io.UncompressedReader(blocks)
      assert(r.seek(graft.bam.codec.Pos(0, 0)))
      val header = graft.bam.codec.Bam.readHeader(r)
      assert(header.contigs == fx.header.contigs)
      val got = Iterator.continually(graft.bam.codec.Bam.readRecord(r))
        .takeWhile(_ != null).toVector
      assert(got.length == fx.numRecords)
      got.zip(fx.records).foreach { case (a, b) =>
        assert(a.copy(blockPos = -1, offset = -1) ==
          b.copy(blockPos = -1, offset = -1), s"record ${b.readName}")
      }
    } finally blocks.close()
    // and the rewritten file is itself a valid DSv2 source
    assert(spark.read.format("bam").load(out).count() == fx.numRecords)
  }

  test("rewrite with a record-index range keeps exactly that slice") {
    val fx = BamFixture.tiny
    val out = java.nio.file.Files.createTempDirectory("graft-range")
      .resolve("slice.bam").toString
    BamSink.rewrite(spark, fx.bamPath, out, range = Some((10L, 50L)))
    val names = spark.read.format("bam").load(out)
      .select("readName").collect().map(_.getString(0)).sorted
    val want = fx.records.slice(10, 50).map(_.readName).sorted
    assert(names.toSeq == want)
  }

  test("rewrite over several partitions keeps the source's exact record order") {
    val fx = BamFixture.cached("wide", n = 8000, seed = 1,
      payloadSize = graft.bam.codec.Bgzf.MaxPayload)
    // the rewrite splits its input into max(64 KiB, len / cores) byte ranges
    val len = new java.io.File(fx.bamPath).length
    val cores = spark.sparkContext.defaultParallelism
    val splitSize = math.max(64L << 10, (len + cores - 1) / cores)
    assert((len + splitSize - 1) / splitSize >= 4, s"$len bytes in $splitSize-byte splits")
    val dir = java.nio.file.Files.createTempDirectory("graft-rw-wide")
    def rewritten(range: Option[(Long, Long)]): Vector[graft.bam.codec.Bam.Record] = {
      val out = dir.resolve(s"out-${range.hashCode}.bam").toString
      BamSink.rewrite(spark, fx.bamPath, out, range = range)
      val blocks = new graft.bam.io.BlockReader(new graft.bam.io.LocalFileInput(out))
      try {
        val r = new graft.bam.io.UncompressedReader(blocks)
        assert(r.seek(graft.bam.codec.Pos(0, 0)))
        graft.bam.codec.Bam.readHeader(r)
        Iterator.continually(graft.bam.codec.Bam.readRecord(r)).takeWhile(_ != null)
          .map(_.copy(blockPos = -1, offset = -1)).toVector
      } finally blocks.close()
    }
    val want = fx.records.map(_.copy(blockPos = -1, offset = -1))
    assert(rewritten(None) == want)
    // the first record of the second partition, and a slice across its seam
    val seam = fx.records.indexWhere(_.blockPos >= splitSize)
    assert(seam > 0)
    Seq((seam - 3L, seam + 3L), (1000L, 7000L)).foreach { case (lo, hi) =>
      assert(rewritten(Some((lo, hi))) == want.slice(lo.toInt, hi.toInt), s"[$lo, $hi)")
    }
  }
}
