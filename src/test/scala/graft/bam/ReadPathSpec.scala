package graft.bam

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.bam.codec.{Bam, Bgzf, Pos}
import graft.bam.fixtures.BamFixture
import graft.bam.io.{BlockReader, LocalFileInput, UncompressedReader}
import graft.bam.ops.SplitTiming

/** Bad input through the one read path fails loudly, naming where: a
  * corrupt block, a bad loader option, an unreadable header and a
  * malformed record. None of them yields rows. */
class ReadPathSpec extends SparkTestBase {

  private lazy val dir = Files.createTempDirectory("graft-readpath")

  /** A copy of the default fixture's BAM (no side-cars) with `edit`
    * applied to its bytes. */
  private def corruptCopy(name: String)(edit: Array[Byte] => Unit): String = {
    val bytes = Files.readAllBytes(Paths.get(BamFixture.default.bamPath))
    edit(bytes)
    Files.write(dir.resolve(name), bytes).toString
  }

  /** The message of `f`'s failure and of every cause under it. */
  private def messages(f: => Any): String = {
    val e = intercept[Exception](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
  }

  private def readNames(path: String, options: Map[String, String] = Map.empty) =
    spark.read.format("bam").options(options).load(path).select("readName").collect()

  test("a flipped bit in a block's deflate data fails naming the file and the block") {
    val at = 138517
    val block = BamFixture.default.blocks
      .find(b => b.start + Bgzf.HeaderSize <= at && at < b.start + b.compressedSize - Bgzf.FooterSize)
      .getOrElse(fail(s"byte $at is not inside a block's deflate data"))
    val p = corruptCopy("flipped-deflate.bam")(b => b(at) = (b(at) ^ 0x01).toByte)
    val msg = messages(readNames(p))
    assert(msg.contains(s"$p@${block.start}"), msg)
  }

  test("loader options are checked when the scan is planned") {
    val p = BamFixture.default.bamPath
    val bad = Seq(
      "splitSize" -> "-1", "blocksToCheck" -> "0", "maxReadSize" -> "0",
      "readsToCheck" -> "0", "checker" -> "relxed", "splitSize" -> "lots")
    bad.foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException](readNames(p, Map("splitSize" -> "16k", k -> v)))
      assert(e.getMessage.contains(s"$k=$v"), s"$k=$v: ${e.getMessage}")
    }
    val n = BamFixture.default.numRecords
    Seq(Map("splitSize" -> "64m"), Map("splitSize" -> "16k", "maxReadSize" -> "2m"),
      Map("splitSize" -> "16384", "checker" -> "relaxed")).foreach { o =>
      assert(readNames(p, o).length == n, o)
    }
  }

  test("an unreadable header fails the scan and computeSplits, naming the path") {
    val text = dir.resolve("text.bam")
    Files.write(text, ("not a BAM file\n" * 200).getBytes("ASCII"))
    val flipped = corruptCopy("flipped-first-byte.bam")(b => b(0) = (b(0) ^ 0x01).toByte)
    Seq(text.toString, flipped).foreach { p =>
      val scan = messages(readNames(p, Map("splitSize" -> "16k")))
      assert(scan.contains(s"$p: unreadable BAM header"), scan)
      val splits = messages(SplitTiming.computeSplits(p, 16384, relaxed = false))
      assert(splits.contains(s"$p: unreadable BAM header"), splits)
    }
  }

  test("a record with block_size 8 fails with its position, filtered or not") {
    val out = new java.io.ByteArrayOutputStream()
    Bam.writeHeader(out, "@HD\tVN:1.6\n", BamFixture.DefaultContigs)
    val firstRecord = out.size()
    Seq(8, 1, 2, 3, 4, 5, 6, 7, 8).foreach(v => out.write(Array[Byte](v.toByte, 0, 0, 0)))
    val (img, _) = Bgzf.compress(out.toByteArray)
    val p = Files.write(dir.resolve("block-size-8.bam"), img).toString
    val keepAll = new Bam.PrefixPred {
      def apply(refIdx: Int, pos: Int, mapq: Int, flags: Int,
                nextRefIdx: Int, nextPos: Int, templateLen: Int): Boolean = true
    }
    Seq(null, keepAll).foreach { pred =>
      val blocks = new BlockReader(new LocalFileInput(p))
      try {
        val r = new UncompressedReader(blocks)
        assert(r.seek(Pos(0, 0)))
        assert(Bam.readHeader(r).firstRecord == Pos(0, firstRecord))
        val e = intercept[IllegalArgumentException](Bam.readRecord(r, pred = pred))
        assert(e.getMessage.contains(s"block_size=8) at ${Pos(0, firstRecord)}"), e.getMessage)
      } finally blocks.close()
    }
  }
}
