package graft.bam.ds

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import org.apache.spark.sql.sources._

/** Standard `.bai` BAM index — the engine's one pruning index: builder,
  * reader, writer, and the path from pushed filter to bounds to byte
  * ranges.
  *
  * Format per the public SAM/BAM specification (§5.2, "The BAI index
  * format"): magic `BAI\1`, per-reference R-tree binning index (bin →
  * chunks of virtual-offset ranges) + 16 kb-window linear index. This is
  * the index every real-world coordinate-sorted BAM ships with; pushed
  * contig/pos/endPos predicates become [[GBound]]s ([[toBounds]]) and
  * then pruned byte ranges ([[pruneRanges]]) in
  * BamScan.planInputPartitions (reference semantics:
  * load/.../Intervals.scala:108-207 BAI chunk pruning).
  */
object Bai {

  final case class Chunk(beg: Long, end: Long) // virtual offsets, end exclusive
  final case class RefIndex(bins: Map[Int, IndexedSeq[Chunk]],
                            linear: IndexedSeq[Long])
  final case class Index(refs: IndexedSeq[RefIndex])

  /** Metadata pseudo-bin (unmapped counts) — not a spatial bin. */
  val PseudoBin = 37450
  /** BAI addresses coordinates < 2^29. */
  val MaxCoord: Int = 1 << 29

  def path(bamPath: String): String = bamPath + ".bai"

  /** Byte length of `p` through the Hadoop FS (works for hdfs://, s3a://…
    * like the scan and sink; a local java.io length would silently be 0 for
    * remote paths). */
  def fileLen(p: String): Long = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(BamDataSource.hadoopConf()).getFileStatus(hp).getLen
  }

  def read(bamPath: String): Option[Index] = {
    val hp = new org.apache.hadoop.fs.Path(path(bamPath))
    val fs = hp.getFileSystem(BamDataSource.hadoopConf())
    if (!fs.exists(hp)) return None
    val len = fs.getFileStatus(hp).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(hp)
    try in.readFully(0, bytes) finally in.close()
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    bb.get(magic)
    require(magic.sameElements("BAI".getBytes :+ 1.toByte),
      s"${path(bamPath)}: bad BAI magic")
    val nRef = bb.getInt
    val refs = (0 until nRef).map { _ =>
      val nBin = bb.getInt
      val bins = (0 until nBin).map { _ =>
        val bin = bb.getInt
        val nChunk = bb.getInt
        bin -> (0 until nChunk).map(_ => Chunk(bb.getLong, bb.getLong))
      }.filter(_._1 != PseudoBin).toMap
      val nIntv = bb.getInt
      RefIndex(bins, (0 until nIntv).map(_ => bb.getLong))
    }
    Some(Index(refs))
  }

  def write(bamPath: String, index: Index): Unit = {
    val size = 8 + index.refs.map(r =>
      8 + r.bins.valuesIterator.map(c => 8 + 16 * c.length).sum + 8L * r.linear.length).sum
    val bb = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("BAI".getBytes).put(1.toByte)
    bb.putInt(index.refs.length)
    index.refs.foreach { r =>
      bb.putInt(r.bins.size)
      r.bins.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
        bb.putInt(bin)
        bb.putInt(chunks.length)
        chunks.foreach { c => bb.putLong(c.beg); bb.putLong(c.end) }
      }
      bb.putInt(r.linear.length)
      r.linear.foreach(bb.putLong)
    }
    val hp = new org.apache.hadoop.fs.Path(path(bamPath))
    val fs = hp.getFileSystem(BamDataSource.hadoopConf())
    val os = fs.create(hp, true)
    try os.write(bb.array()) finally os.close()
  }

  /** Streaming `.bai` builder: a fold over the mapped records of a
    * coordinate-sorted BAM in file order, each given as `(refIdx, pos,
    * end, vbeg, vend)` with `vend` the virtual offset of the next record
    * (any record, mapped or not) or `fileLen << 16` after the last.
    *
    * Per `(ref, bin)` it keeps one chunk per contiguous record run — the
    * spec's many-chunks-per-bin shape (reference reader: check/.../bam/
    * index/Index.scala:11-92) — rather than one min..max span per bin,
    * which over-covers cold bytes when a bin's records are fragmented: a
    * record starts a new chunk when it neither continues its bin-
    * predecessor's end nor starts in the compressed block that end lies in
    * (interleaved bins must not fragment into per-record chunks). Per
    * `(ref, 16 kb window)` it keeps the smallest start of a record
    * overlapping the window.
    *
    * `++` appends a builder folded over LATER records, so builders of
    * consecutive file slices merge in order (associatively) into the
    * builder of the whole file. Records ending past [[MaxCoord]] are
    * refused with their position in `path`: BAI cannot address them
    * (htslib refuses them too; CSI is the format for such contigs). */
  final class Builder(path: String) extends Serializable {
    private val chunks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Chunk]]
    private val linear = mutable.HashMap.empty[(Int, Int), Long]

    def add(refIdx: Int, pos: Int, end: Int, vbeg: Long, vend: Long): this.type = {
      val e = math.max(end.toLong, pos + 1L)
      require(e <= MaxCoord, s"$path@${graft.bam.codec.Pos.unpack(vbeg)}: record " +
        s"ends at $e, past the BAI coordinate limit $MaxCoord (2^29); such contigs need CSI")
      append((refIdx, reg2bin(pos, e.toInt)), Chunk(vbeg, vend))
      val lastW = (e.toInt - 1) >> 14
      var w = math.max(0, pos >> 14)
      while (w <= lastW) {
        linear.getOrElseUpdate((refIdx, w), vbeg)
        w += 1
      }
      this
    }

    private def append(key: (Int, Int), c: Chunk): Unit = {
      val cs = chunks.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
      val last = cs.lastOption.orNull
      if (last != null && (c.beg == last.end || (c.beg >>> 16) == (last.end >>> 16)))
        cs(cs.length - 1) = Chunk(last.beg, c.end)
      else cs += c
    }

    def ++(later: Builder): this.type = {
      later.chunks.foreach { case (k, cs) => cs.foreach(append(k, _)) }
      later.linear.foreach { case (k, off) => linear.getOrElseUpdate(k, off) }
      this
    }

    /** The index of a BAM whose header has `nRefs` contigs; a window no
      * record overlaps holds offset 0. */
    def result(nRefs: Int): Index = {
      val binsOf = chunks.groupBy(_._1._1)
      val linOf = linear.groupBy(_._1._1)
      Index(IndexedSeq.tabulate(nRefs) { ref =>
        val bins = binsOf.getOrElse(ref, Map.empty)
          .map { case ((_, bin), cs) => bin -> cs.toIndexedSeq }.toMap
        val lin = linOf.getOrElse(ref, Map.empty).map { case ((_, w), off) => w -> off }
        val n = if (lin.isEmpty) 0 else lin.keys.max + 1
        RefIndex(bins, IndexedSeq.tabulate(n)(lin.getOrElse(_, 0L)))
      })
    }
  }

  /** SAM-spec R-tree bin containing [beg, endEx) entirely — one
    * definition for the whole engine (writer and reader must agree). */
  def reg2bin(beg: Int, endEx: Int): Int =
    graft.bam.codec.Bam.reg2bin(beg, endEx)

  /** All bins that can hold records overlapping [beg, endEx). */
  def reg2bins(beg0: Int, endEx0: Int): Seq[Int] = {
    val beg = math.max(0, beg0)
    val end = math.min(MaxCoord, endEx0) - 1
    if (end < beg) return Seq.empty
    Seq(0) ++
      (1 + (beg >> 26) to 1 + (end >> 26)) ++
      (9 + (beg >> 23) to 9 + (end >> 23)) ++
      (73 + (beg >> 20) to 73 + (end >> 20)) ++
      (585 + (beg >> 17) to 585 + (end >> 17)) ++
      (4681 + (beg >> 14) to 4681 + (end >> 14))
  }

  /** Candidate chunks for records overlapping [beg, endEx) on `refIdx`:
    * bins from reg2bins, linear-index lower bound applied, merged. */
  def chunksFor(idx: Index, refIdx: Int, beg0: Int, endEx0: Int): Seq[Chunk] = {
    if (refIdx < 0 || refIdx >= idx.refs.length) return Seq.empty
    val r = idx.refs(refIdx)
    val beg = math.max(0, beg0)
    val endEx = math.min(MaxCoord, endEx0)
    if (beg >= endEx) return Seq.empty
    val w = beg >> 14
    val minOff = if (w < r.linear.length) r.linear(w) else 0L
    val cand = reg2bins(beg, endEx).flatMap(r.bins.get).flatten
      .filter(_.end > minOff)
      .sortBy(_.beg)
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    cand.foreach { c =>
      out.lastOption match {
        case Some(last) if c.beg <= last.end =>
          if (c.end > last.end) out(out.length - 1) = Chunk(last.beg, c.end)
        case _ => out += c
      }
    }
    out.toSeq
  }

  /** One conjunctive genomic constraint; a query prunes with a
    * disjunction of these. A record can match only when it lies on
    * `refIdx` (if given), starts before `posHi` and its span
    * `[pos, max(endPos, pos + 1))` reaches past `posLo` — the SAM spec's
    * overlap query of `[posLo, posHi)`, so `pos >= v` and `endPos > v`
    * both give `posLo = v`. Bounds are LONG so the exclusive upper bound
    * of an int32 predicate is always representable: `pos = Int.MaxValue`
    * needs hi = Int.MaxValue + 1, which in Int arithmetic wraps to
    * MinValue and turns a satisfiable query into "provably empty" (zero
    * partitions, silently missing rows). */
  final case class GBound(refIdx: Option[Int], posLo: Long, posHi: Long) {
    /** No int32 record can match. */
    def isEmpty: Boolean = posLo > Int.MaxValue || posHi <= Int.MinValue
    def intersect(o: GBound): Option[GBound] = (refIdx, o.refIdx) match {
      case (Some(a), Some(b)) if a != b => None
      case (a, b) =>
        Some(GBound(a.orElse(b), math.max(posLo, o.posLo), math.min(posHi, o.posHi)))
          .filterNot(_.isEmpty)
    }
  }
  private val Unbounded: GBound = GBound(None, Long.MinValue, Long.MaxValue)

  /** Translate a pushed filter tree into a disjunction of genomic bounds.
    * Unknown predicates widen to Unbounded (conservative — residual
    * evaluation keeps results exact). Returns None when the tree gives no
    * pruning power at all, Some(empty) when it provably selects nothing. */
  def toBounds(filters: Seq[Filter], contigToIdx: Map[String, Int]): Option[Seq[GBound]] = {
    def and(as: Seq[GBound], bs: Seq[GBound]): Seq[GBound] =
      for (a <- as; b <- bs; c <- a.intersect(b).toSeq) yield c
    def one(f: Filter): Seq[GBound] = f match {
      case And(l, r) => and(one(l), one(r))
      case Or(l, r) => one(l) ++ one(r)
      case EqualTo("refIdx", v: Int) => Seq(GBound(Some(v), Long.MinValue, Long.MaxValue))
      case EqualTo("contig", v: String) =>
        contigToIdx.get(v).map(i => GBound(Some(i), Long.MinValue, Long.MaxValue))
          .map(Seq(_)).getOrElse(Seq.empty) // unknown contig: no rows
      case GreaterThan("pos", v: Int) => Seq(GBound(None, v.toLong + 1, Long.MaxValue))
      case GreaterThanOrEqual("pos", v: Int) => Seq(GBound(None, v, Long.MaxValue))
      case LessThan("pos", v: Int) => Seq(GBound(None, Long.MinValue, v))
      case LessThanOrEqual("pos", v: Int) =>
        Seq(GBound(None, Long.MinValue, v.toLong + 1))
      case EqualTo("pos", v: Int) => Seq(GBound(None, v, v.toLong + 1))
      case GreaterThan("endPos", v: Int) => Seq(GBound(None, v, Long.MaxValue))
      case GreaterThanOrEqual("endPos", v: Int) =>
        Seq(GBound(None, v.toLong - 1, Long.MaxValue))
      case _ => Seq(Unbounded)
    }
    // the filter array is a conjunction
    filters.map(one).reduceOption(and).map(_.filterNot(_.isEmpty)) match {
      case Some(bs) if bs.contains(Unbounded) => None
      case combined => combined
    }
  }

  /** The subset of pushed filters the index understands (for explain). */
  def supported(filters: Array[Filter], contigToIdx: Map[String, Int]): Array[Filter] =
    filters.filter(f => toBounds(Seq(f), contigToIdx).isDefined)

  /** GBound disjunction → pruned compressed byte ranges (merged, cut at
    * `splitSize`), for BamScan's planInputPartitions. None when a bound
    * carries no contig — BAI prunes by reference only. Ranges are
    * block-cover supersets; the scan's residual filters keep results
    * exact. */
  def pruneRanges(idx: Index, bounds: Seq[GBound],
                  splitSize: Long): Option[Seq[(Long, Long)]] = {
    if (bounds.exists(_.refIdx.isEmpty)) return None
    // clamp the Long bounds into chunksFor's int32 coordinate space —
    // BAI coordinates cap at MaxCoord anyway, so saturation is lossless
    def clamp(v: Long): Int = math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, v)).toInt
    val raw = bounds.flatMap { b =>
      // posLo >= posHi still admits records spanning [posHi - 1, posLo],
      // and every such record covers posHi - 1
      chunksFor(idx, b.refIdx.get, clamp(math.min(b.posLo, b.posHi - 1)), clamp(b.posHi))
        .map { c =>
          val s = c.beg >>> 16
          // include the end block only if the chunk has bytes in it
          val e = if ((c.end & 0xffffL) == 0L) c.end >>> 16 else (c.end >>> 16) + 1
          (s, math.max(e, s + 1))
        }
    }.sortBy(_._1)
    val merged = mutable.ArrayBuffer.empty[(Long, Long)]
    raw.foreach { case (s, e) =>
      merged.lastOption match {
        case Some((ls, le)) if s <= le =>
          if (e > le) merged(merged.length - 1) = (ls, e)
        case _ => merged += ((s, e))
      }
    }
    Some(merged.toSeq.flatMap { case (s, e) =>
      (s until e by splitSize).map(x => (x, math.min(x + splitSize, e)))
    })
  }
}
