package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.bam.codec.Pos
import graft.bam.ds.BamSchema

/** Output checks: each compares what the program produced with values the
  * generator computed from what it wrote, and returns the mismatches as
  * readable lines (empty when the output is right). */
object Checks {

  /** [[Own.Digest]] of one partition's decoded rows, flattened: per-contig
    * counts, sums, order hash, order multiplier, sums of the record
    * starts' block and in-block offsets, and rows whose contig name
    * disagrees with the header. */
  private def partitionDigest(rows: Iterator[Row], names: IndexedSeq[String]): Array[Long] = {
    val d = new Own.Digest(names.length)
    var pow = 1L
    var blockPos = 0L
    var offset = 0L
    var badContig = 0L
    rows.foreach { r =>
      val ref = r.getInt(0)
      if (ref >= 0 && r.getString(1) != names(ref) || ref < 0 && r.getString(1) != null) badContig += 1
      val cigar = new java.lang.StringBuilder
      r.getSeq[Row](7).foreach { c =>
        cigar.append(c.getInt(1)).append(Own.CigarOps.charAt(c.getInt(0)))
      }
      val qual = r.getAs[Array[Byte]](12)
      d.add(ref, r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(8), r.getInt(9),
        r.getInt(10), Own.crc(r.getString(6)), Own.crc(r.getString(11)), Own.crc(qual, 0, qual.length),
        Own.crc(cigar.toString), r.getMap[String, String](13).iterator.map { case (k, v) => Own.crc(s"$k=$v") }.sum)
      val vp = r.getStruct(14)
      blockPos += vp.getLong(0)
      offset += vp.getInt(1)
      pow *= Own.Digest.OrderMul
    }
    (d.perContig ++ d.sums) ++ Array(d.order, pow, blockPos, offset, badContig)
  }

  /** Count, per-contig counts, checksum, record order and record starts of
    * every decoded row (full schema, one pass, no COUNT(*) shortcut),
    * against the generator's. */
  def scan(reads: DataFrame, truth: Truth): Seq[String] = {
    require(reads.columns.toSeq == BamSchema.schema.fieldNames.toSeq, "scan check needs the full schema")
    val names = truth.contigs.map(_.name)
    val parts = reads.rdd.mapPartitions(rows => Iterator.single(partitionDigest(rows, names))).collect()
    val got = new Own.Digest(names.length)
    val nc = got.perContig.length
    val ns = got.sums.length
    var blockPos = 0L
    var offset = 0L
    var badContig = 0L
    parts.foreach { a =>
      val d = new Own.Digest(names.length)
      Array.copy(a, 0, d.perContig, 0, nc)
      Array.copy(a, nc, d.sums, 0, ns)
      d.order = a(nc + ns)
      got.append(d, a(nc + ns + 1))
      blockPos += a(nc + ns + 2)
      offset += a(nc + ns + 3)
      badContig += a(nc + ns + 4)
    }
    val out = Seq.newBuilder[String]
    out ++= got.diff(truth.digest, withOrder = true)
    if (badContig > 0) out += s"$badContig rows carry a contig name other than their refIdx's"
    if (blockPos != truth.sumBlockPos) out += s"sum(virtualPos.blockPos) $blockPos != expected ${truth.sumBlockPos}"
    if (offset != truth.sumOffset) out += s"sum(virtualPos.offset) $offset != expected ${truth.sumOffset}"
    out.result()
  }

  /** First element of the ascending `a` that is >= `v`, or None. */
  private def ceiling(a: Array[Long], v: Long): Option[Long] = {
    val i = java.util.Arrays.binarySearch(a, v)
    val k = if (i >= 0) i else -i - 1
    if (k < a.length) Some(a(k)) else None
  }

  /** The split starts computeSplits must return, as packed virtual
    * positions: for each split, the first true record start at or after the
    * first true block start at or after the split's byte offset, kept when
    * its block lies inside the split. */
  def expectedSplits(t: Truth, splitSize: Long): Vector[Long] =
    (0L until t.fileLength by splitSize).flatMap { s =>
      val e = math.min(s + splitSize, t.fileLength)
      if (s == 0) t.recordStarts.headOption
      else ceiling(t.blockStarts, s).filter(_ < e)
        .flatMap(b => ceiling(t.recordStarts, b << 16)).filter(r => (r >>> 16) < e)
    }.distinct.sorted.toVector

  def splits(got: Vector[Pos], expected: Vector[Long]): Seq[String] = {
    val g = got.map(_.packed)
    if (g == expected) Nil
    else {
      val bad = g.diff(expected).take(3).map(Pos.unpack)
      val missing = expected.diff(g).take(3).map(Pos.unpack)
      Seq(s"${g.length} split starts, expected ${expected.length}; wrong: ${bad.mkString(" ")}; " +
        s"missing: ${missing.mkString(" ")}")
    }
  }

  /** One query's count(1), min(pos), max(pos), sum(pos) against the
    * brute-force answer. */
  def interval(q: Query, r: Row): Seq[String] = {
    val where = s"query ${q.contig}:${q.lo}-${q.hi}"
    val got = (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))
    val want =
      if (q.count == 0) (0L, None, None, None)
      else (q.count, Some(q.minPos), Some(q.maxPos), Some(q.sumPos))
    if (got == want) Nil else Seq(s"$where gave (count, min, max, sum) $got, expected $want")
  }

  /** A rewritten BAM, parsed by the benchmark's own reader: block chain,
    * CRCs, EOF block, header dictionary, and the generator's count,
    * checksum and record order. */
  def rewrite(bytes: Array[Byte], truth: Truth): Seq[String] = {
    val p = Own.readBam(bytes)
    (if (p.contigs == truth.contigs) Nil
     else Seq(s"header contigs ${p.contigs} != expected ${truth.contigs}")) ++
      p.digest.diff(truth.digest, withOrder = true)
  }
}
