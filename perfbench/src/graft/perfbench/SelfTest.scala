package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Try

import graft.bam.codec.Pos
import graft.bam.ops.{BamOps, BamSink, SplitTiming}

/** The benchmark's own tests: every output check passes on the program's
  * real output and fails on a corrupted input or a corrupted expected
  * value. Usage: `SelfTest <workDir>`; exits 1 if any test fails. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }
  /** A check "detects" a fault when it reports a mismatch or throws. */
  private def detects(check: => Seq[String]): Boolean = Try(check).map(_.nonEmpty).getOrElse(true)

  private def small(kind: String, dir: Path, seed: Long): (String, Truth) = {
    val bam = dir.resolve(s"$kind.bam")
    val truth = Gen.generate(Gen.spec(kind).copy(records = 30_000), seed, bam)
    (bam.toString, truth)
  }

  private def withDigest(t: Truth)(f: Own.Digest => Unit): Truth = {
    val d = new Own.Digest(t.digest.nContigs)
    d.append(t.digest, 0L)
    f(d)
    t.copy(digest = d)
  }

  /** `bytes` with the first quality byte of a record that lies wholly
    * inside one block changed, and that block re-deflated with a valid
    * CRC: a well-formed BAM whose content differs from the truth. */
  def corruptQuality(bytes: Array[Byte], t: Truth): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    val k = t.blockStarts.indices.find { k =>
      t.recordStarts.exists(r => (r >>> 16) == t.blockStarts(k) && (r & 0xffff) < 1000)
    }.get
    val start = t.blockStarts(k).toInt
    val bsize = Own.u16(bytes, start + 16) + 1
    val payload = new Array[Byte](Own.i32(bytes, start + bsize - 4))
    inf.setInput(bytes, start + Own.HeaderSize, bsize - Own.HeaderSize - Own.FooterSize)
    inf.inflate(payload)
    inf.end()
    val off = t.recordStarts.find(r => (r >>> 16) == start).get.toInt & 0xffff
    val lName = payload(off + 12) & 0xff
    val nCigar = Own.u16(payload, off + 16)
    val lSeq = Own.i32(payload, off + 20)
    val q = off + 36 + lName + 4 * nCigar + (lSeq + 1) / 2
    payload(q) = (if (payload(q) == 10) 11 else 10).toByte
    val block = Own.deflateBlock(payload, 0, payload.length, new java.util.zip.Deflater(6, true))
    java.util.Arrays.copyOfRange(bytes, 0, start) ++ block ++
      java.util.Arrays.copyOfRange(bytes, start + bsize, bytes.length)
  }

  def main(args: Array[String]): Unit = {
    val work = Files.createDirectories(Paths.get(args(0)))
    val dir = Files.createDirectories(work.resolve("inputs"))
    val spark = Bench.session(work, 2)
    try {
      // generator and own reader agree
      val (sorted, st) = small("sorted", dir, 5)
      val parsed = Own.readBam(Files.readAllBytes(Paths.get(sorted)))
      expect("own reader gives the generator's digest", parsed.digest.diff(st.digest, true).isEmpty)
      expect("sorted input has empty and non-empty queries",
        st.queries.exists(_.count == 0) && st.queries.count(_.count > 0) >= 8)

      // scan
      val (unsorted, ut) = small("unsorted", dir, 6)
      val reads = spark.read.format("bam").load(unsorted)
      expect("scan check passes on the program's rows", Checks.scan(reads, ut).isEmpty)
      expect("scan check fails on a wrong expected count",
        detects(Checks.scan(reads, withDigest(ut)(_.perContig(1) += 1))))
      expect("scan check fails on a wrong expected checksum",
        detects(Checks.scan(reads, withDigest(ut)(_.sums(9) += 1))))
      val badPath = dir.resolve("corrupt.bam")
      Files.write(badPath, corruptQuality(Files.readAllBytes(Paths.get(unsorted)), ut))
      expect("scan check fails on a corrupted input",
        detects(Checks.scan(spark.read.format("bam").load(badPath.toString), ut)))

      // splits
      val splitSize = 256L << 10
      val want = Checks.expectedSplits(ut, splitSize)
      val got = SplitTiming.computeSplits(unsorted, splitSize, relaxed = false)
      expect("splits check passes on computeSplits", Checks.splits(got, want).isEmpty && want.length > 4)
      expect("splits check fails on a shifted expected start",
        detects(Checks.splits(got, want.updated(2, want(2) + 1))))
      expect("splits check fails on a missing expected start", detects(Checks.splits(got, want.drop(1))))
      expect("splits check fails on a wrong split start",
        detects(Checks.splits(got.updated(1, Pos(got(1).blockPos, got(1).offset + 1)), want)))

      // intervals
      BamOps.indexBai(spark, sorted)
      import org.apache.spark.sql.functions._
      val rows = st.queries.map { q =>
        BamOps.intervals(spark, sorted, Seq((st.contigs(q.contig).name, q.lo, q.hi)))
          .agg(count(lit(1)), min("pos"), max("pos"), sum("pos")).collect().head
      }
      expect("interval check passes on every query",
        st.queries.zip(rows).forall { case (q, r) => Checks.interval(q, r).isEmpty })
      val (q, r) = st.queries.zip(rows).find(_._1.count > 0).get
      expect("interval check fails on a wrong expected count", detects(Checks.interval(q.copy(count = q.count + 1), r)))
      expect("interval check fails on a wrong expected max", detects(Checks.interval(q.copy(maxPos = q.maxPos - 1), r)))
      val (e, er) = st.queries.zip(rows).find(_._1.count == 0).get
      expect("interval check fails when an empty query expects a record",
        detects(Checks.interval(e.copy(count = 1, minPos = e.lo, maxPos = e.lo, sumPos = e.lo), er)))

      // rewrite
      val out = work.resolve("rewritten.bam")
      BamSink.rewrite(spark, sorted, out.toString)
      val img = Files.readAllBytes(out)
      expect("rewrite check passes on the program's output", Checks.rewrite(img, st).isEmpty)
      expect("rewrite check fails without the EOF block",
        detects(Checks.rewrite(img.dropRight(Own.Eof.length), st)))
      val badChain = img.clone(); badChain(16) = (badChain(16) + 1).toByte
      expect("rewrite check fails on a broken block chain", detects(Checks.rewrite(badChain, st)))
      val badData = img.clone(); badData(img.length / 2) = (badData(img.length / 2) ^ 0x40).toByte
      expect("rewrite check fails on corrupted block data", detects(Checks.rewrite(badData, st)))
      expect("rewrite check fails on a wrong expected order",
        detects(Checks.rewrite(img, withDigest(st)(_.order += 1))))
      expect("rewrite check fails on a wrong expected count",
        detects(Checks.rewrite(img, withDigest(st)(_.perContig(2) -= 1))))
      val badIn = dir.resolve("corrupt-sorted.bam")
      Files.write(badIn, corruptQuality(Files.readAllBytes(Paths.get(sorted)), st))
      BamSink.rewrite(spark, badIn.toString, out.toString)
      expect("rewrite check fails on a corrupted input", detects(Checks.rewrite(Files.readAllBytes(out), st)))
    } finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
