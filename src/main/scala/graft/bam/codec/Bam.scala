package graft.bam.codec

import java.nio.{ByteBuffer, ByteOrder}

import scala.util.control.NonFatal

/** BAM container layer: header + record codec over the uncompressed byte
  * stream (the BGZF payload concatenation). Format is the public SAM/BAM
  * spec; behavioral reference for the fields we must surface:
  * check/.../bam/header/Header.scala:13-60 and SURVEY.md §1.2.
  */
object Bam {

  val Magic: Array[Byte] = Array('B', 'A', 'M', 1).map(_.toByte)

  /** Bytes of the fixed record prefix after the 4-byte block_size field. */
  val FixedAfterSize = 32

  val SeqCode = "=ACMGRSVTWYHKDBN"

  final case class Contig(name: String, length: Int)

  /** Parsed BAM header: SAM text, contig dictionary, and the virtual
    * position of the first alignment record. */
  final case class Header(text: String, contigs: IndexedSeq[Contig], firstRecord: Pos) {
    def contigLengths: Map[Int, (String, Long)] =
      contigs.zipWithIndex.map { case (c, i) => i -> (c.name, c.length.toLong) }.toMap
  }

  final case class CigarOp(op: Int, len: Int) {
    def char: Char = "MIDNSHP=X".charAt(op)
    /** Reference-consumed length (ops M/D/N/=/X), for record end coords. */
    def refLen: Int = if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8) len else 0
  }

  /** The engine's record row (SURVEY.md §1.2). `pos` is the BAM-native
    * 0-based coordinate; `start` (1-based, SAM-style) = pos + 1. */
  final case class Record(
      refIdx: Int,
      pos: Int,
      mapq: Int,
      flags: Int,
      readName: String,
      cigar: Seq[CigarOp],
      nextRefIdx: Int,
      nextPos: Int,
      templateLen: Int,
      seq: String,
      qual: Array[Byte],
      attrs: Map[String, String],
      blockPos: Long,
      offset: Int
  ) {
    def unmapped: Boolean = (flags & 4) != 0
    def virtualPos: Pos = Pos(blockPos, offset)

    // Structural equality despite the Array[Byte] qual field.
    override def equals(o: Any): Boolean = o match {
      case that: Record =>
        refIdx == that.refIdx && pos == that.pos && mapq == that.mapq &&
          flags == that.flags && readName == that.readName &&
          cigar == that.cigar && nextRefIdx == that.nextRefIdx &&
          nextPos == that.nextPos && templateLen == that.templateLen &&
          seq == that.seq && java.util.Arrays.equals(qual, that.qual) &&
          attrs == that.attrs && blockPos == that.blockPos && offset == that.offset
      case _ => false
    }
    override def hashCode(): Int =
      (refIdx, pos, readName, blockPos, offset).hashCode()
    /** 0-based exclusive end = pos + reference-consumed cigar length
      * (reference: Intervals.scala:209-217 via htsjdk getEnd). */
    def end: Int = pos + math.max(1, cigar.iterator.map(_.refLen).sum)
  }

  // ---------------------------------------------------------------- header

  import graft.bam.io.{BlockReader, UncompressedReader}

  /** Parse the header from a reader positioned at Pos(0,0); leaves the
    * reader at the first record. */
  def readHeader(r: UncompressedReader): Header = {
    val magic = new Array[Byte](4)
    require(r.readFully(magic, 0, 4) == 4 && java.util.Arrays.equals(magic, Magic),
      "not a BAM file (bad magic)")
    val lText = r.readIntLE().toInt
    val text = new Array[Byte](lText)
    require(r.readFully(text, 0, lText) == lText, "truncated header text")
    val nRef = r.readIntLE().toInt
    val contigs = (0 until nRef).map { _ =>
      val lName = r.readIntLE().toInt
      val name = new Array[Byte](lName)
      require(r.readFully(name, 0, lName) == lName)
      val lRef = r.readIntLE().toInt
      Contig(new String(name, 0, lName - 1, "ASCII"), lRef) // drop NUL
    }
    Header(new String(text, "ASCII"), contigs, r.pos)
  }

  /** The header of the file `blocks` reads; an unreadable one fails with
    * an error naming `path`. */
  def readHeader(blocks: BlockReader, path: String): Header =
    try {
      val r = new UncompressedReader(blocks)
      require(r.seek(Pos(0, 0)), "no BGZF block at offset 0")
      readHeader(r)
    } catch {
      case NonFatal(e) =>
        throw new IllegalArgumentException(s"$path: unreadable BAM header: ${e.getMessage}", e)
    }

  // ---------------------------------------------------------------- decode

  /** Cheap-prefix record predicate for reader-side skipping: sees only
    * the fields of the fixed 32-byte record prefix. Must be CONSERVATIVE
    * with respect to the query's full filter — Spark re-applies the
    * filter as a residual, so a `true` for a non-matching record costs a
    * decode, never a wrong row. */
  trait PrefixPred extends Serializable {
    def apply(refIdx: Int, pos: Int, mapq: Int, flags: Int,
              nextRefIdx: Int, nextPos: Int, templateLen: Int): Boolean
  }

  /** Sentinel returned by [[readRecord]] for a record the predicate
    * rejected: the reader advanced past it WITHOUT materializing name /
    * cigar / seq / qual / attrs (reference-compare with `eq`). */
  val SkippedRecord: Record = Record(Int.MinValue, -1, 0, 0, "", Nil, -1,
    -1, 0, "", Array.emptyByteArray, Map.empty, -1, -1)

  /** Decode the record whose block_size field starts at the reader's
    * current position. Returns null at clean EOF. The 32-byte prefix is
    * read first; a record that `pred` (when given) rejects is skipped
    * without allocating, and [[SkippedRecord]] returned. `withSeq` /
    * `withQual` / `withAttrs` skip the expensive payload decodes when the
    * projection doesn't need them (column pruning reaching the byte
    * level). A block_size outside [32, 2^31) or a record cut short fails
    * naming its virtual position. */
  def readRecord(r: UncompressedReader, withSeq: Boolean = true,
                 withQual: Boolean = true, withAttrs: Boolean = true,
                 pred: PrefixPred = null): Record = {
    val vp = r.pos
    if (!r.hasMore) return null
    val blockSize = r.readIntLE()
    if (blockSize < 0) return null
    require(blockSize >= FixedAfterSize && blockSize <= Int.MaxValue,
      s"malformed record (block_size=$blockSize) at $vp")
    val refIdx = r.readIntLE().toInt
    val pos = r.readIntLE().toInt
    val binMqNl = r.readIntLE().toInt
    val flagNc = r.readIntLE().toInt
    val lSeq = r.readIntLE().toInt
    val nextRefIdx = r.readIntLE().toInt
    val nextPos = r.readIntLE().toInt
    val tlenL = r.readIntLE()
    require(tlenL >= 0, s"truncated record at $vp")
    val tlen = tlenL.toInt
    val lReadName = binMqNl & 0xff
    val mapq = (binMqNl >>> 8) & 0xff
    val nCigar = flagNc & 0xffff
    val flags = flagNc >>> 16
    val tail = blockSize.toInt - FixedAfterSize
    if (pred != null && !pred(refIdx, pos, mapq, flags, nextRefIdx, nextPos, tlen)) {
      require(r.skip(tail) == tail, s"truncated record at $vp")
      return SkippedRecord
    }
    val seqBytes = (lSeq + 1) / 2
    require(lReadName >= 1 && lSeq >= 0 &&
      lReadName + 4L * nCigar + seqBytes + lSeq <= tail,
      s"malformed record (block_size=$blockSize, l_read_name=$lReadName, " +
        s"n_cigar_op=$nCigar, l_seq=$lSeq) at $vp")
    val body = new Array[Byte](tail)
    require(r.readFully(body, 0, tail) == tail, s"truncated record at $vp")
    val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val name = new String(body, 0, lReadName - 1, "ASCII")
    bb.position(lReadName)
    val cigar = new Array[CigarOp](nCigar)
    var i = 0
    while (i < nCigar) {
      val v = bb.getInt
      cigar(i) = CigarOp(v & 0xf, v >>> 4)
      i += 1
    }
    val seq =
      if (!withSeq) { bb.position(bb.position() + seqBytes); "" }
      else {
        val sb = new java.lang.StringBuilder(lSeq)
        var j = 0
        while (j < lSeq) {
          val b = bb.get(bb.position() + (j >> 1)) & 0xff
          sb.append(SeqCode.charAt(if ((j & 1) == 0) b >>> 4 else b & 0xf))
          j += 1
        }
        bb.position(bb.position() + seqBytes)
        sb.toString
      }
    val qual =
      if (!withQual) { bb.position(bb.position() + lSeq); Array.emptyByteArray }
      else { val q = new Array[Byte](lSeq); bb.get(q); q }
    val attrs = if (withAttrs) decodeAttrs(bb) else Map.empty[String, String]
    Record(refIdx, pos, mapq, flags, name, cigar.toIndexedSeq, nextRefIdx,
      nextPos, tlen, seq, qual, attrs, vp.blockPos, vp.offset)
  }

  private def decodeAttrs(bb: ByteBuffer): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    while (bb.remaining() >= 4) {
      val tag = "" + bb.get().toChar + bb.get().toChar
      val tpe = bb.get().toChar
      val v: String = tpe match {
        case 'A' => bb.get().toChar.toString
        case 'c' => bb.get().toString
        case 'C' => (bb.get() & 0xff).toString
        case 's' => bb.getShort.toString
        case 'S' => (bb.getShort & 0xffff).toString
        case 'i' => bb.getInt.toString
        case 'I' => (bb.getInt & 0xffffffffL).toString
        case 'f' => bb.getFloat.toString
        case 'Z' | 'H' =>
          val sb = new java.lang.StringBuilder
          var b = bb.get()
          while (b != 0) { sb.append(b.toChar); b = bb.get() }
          sb.toString
        case 'B' =>
          val sub = bb.get().toChar
          val n = bb.getInt
          val sb = new java.lang.StringBuilder().append(sub)
          var k = 0
          while (k < n) {
            sb.append(',')
            sub match {
              case 'c' => sb.append(bb.get())
              case 'C' => sb.append(bb.get() & 0xff)
              case 's' => sb.append(bb.getShort)
              case 'S' => sb.append(bb.getShort & 0xffff)
              case 'i' => sb.append(bb.getInt)
              case 'I' => sb.append(bb.getInt & 0xffffffffL)
              case 'f' => sb.append(bb.getFloat)
            }
            k += 1
          }
          sb.toString
        case other => throw new IllegalArgumentException(s"bad tag type '$other'")
      }
      m += s"$tag:$tpe" -> v
    }
    m.result()
  }

  // ---------------------------------------------------------------- encode

  def writeHeader(out: java.io.OutputStream, text: String,
                  contigs: Seq[Contig]): Unit = {
    out.write(Magic)
    val t = text.getBytes("ASCII")
    writeIntLE(out, t.length)
    out.write(t)
    writeIntLE(out, contigs.length)
    contigs.foreach { c =>
      val n = c.name.getBytes("ASCII")
      writeIntLE(out, n.length + 1)
      out.write(n); out.write(0)
      writeIntLE(out, c.length)
    }
  }

  def writeRecord(out: java.io.OutputStream, r: Record): Unit = {
    val name = r.readName.getBytes("ASCII")
    val lSeq = r.seq.length
    val seqBytes = (lSeq + 1) / 2
    val attrBytes = encodeAttrs(r.attrs)
    val blockSize = FixedAfterSize + name.length + 1 + 4 * r.cigar.length +
      seqBytes + lSeq + attrBytes.length
    writeIntLE(out, blockSize)
    writeIntLE(out, r.refIdx)
    writeIntLE(out, r.pos)
    out.write(name.length + 1)
    out.write(r.mapq)
    writeShortLE(out, reg2bin(r.pos, r.end))
    writeShortLE(out, r.cigar.length)
    writeShortLE(out, r.flags)
    writeIntLE(out, lSeq)
    writeIntLE(out, r.nextRefIdx)
    writeIntLE(out, r.nextPos)
    writeIntLE(out, r.templateLen)
    out.write(name); out.write(0)
    r.cigar.foreach(op => writeIntLE(out, (op.len << 4) | op.op))
    var i = 0
    var cur = 0
    while (i < lSeq) {
      val code = math.max(0, SeqCode.indexOf(r.seq.charAt(i)))
      if ((i & 1) == 0) cur = code << 4
      else { out.write(cur | code); cur = 0 }
      i += 1
    }
    if ((lSeq & 1) == 1) out.write(cur)
    out.write(r.qual, 0, lSeq)
    out.write(attrBytes)
  }

  /** Encode attrs from the decoded `"TG:t" -> value` string form — the
    * full round-trip inverse of decodeAttrs, covering every tag type the
    * spec defines (A c C s S i I f Z H B), so rewrite never dies on a
    * real-world BAM's array (ML/MM-style) or hex tags. */
  private def encodeAttrs(attrs: Map[String, String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    attrs.toSeq.sortBy(_._1).foreach { case (key, v) =>
      val tag = key.substring(0, 2)
      val tpe = key.charAt(3)
      out.write(tag.charAt(0)); out.write(tag.charAt(1)); out.write(tpe)
      tpe match {
        case 'A' => out.write(v.charAt(0))
        case 'c' | 'C' => out.write(v.toInt)
        case 's' | 'S' => writeShortLE(out, v.toInt)
        case 'i' => writeIntLE(out, v.toInt)
        case 'I' => writeIntLE(out, v.toLong.toInt)
        case 'f' => writeIntLE(out, java.lang.Float.floatToIntBits(v.toFloat))
        case 'Z' | 'H' =>
          v.getBytes("ASCII").foreach(b => out.write(b)); out.write(0)
        case 'B' =>
          // decode form: "<subtype>,v1,v2,…" (empty array = bare subtype)
          val parts = v.split(",", -1)
          val sub = parts(0).charAt(0)
          val items = parts.drop(1)
          out.write(sub)
          writeIntLE(out, items.length)
          items.foreach { s =>
            sub match {
              case 'c' | 'C' => out.write(s.toInt)
              case 's' | 'S' => writeShortLE(out, s.toInt)
              case 'i' => writeIntLE(out, s.toInt)
              case 'I' => writeIntLE(out, s.toLong.toInt)
              case 'f' => writeIntLE(out, java.lang.Float.floatToIntBits(s.toFloat))
              case other =>
                throw new IllegalArgumentException(s"bad B subtype '$other'")
            }
          }
        case other => throw new IllegalArgumentException(s"unsupported tag type '$other'")
      }
    }
    out.toByteArray
  }

  /** SAM-spec bin computation (public pseudocode from the spec). */
  def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  private def writeIntLE(out: java.io.OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  private def writeShortLE(out: java.io.OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
}
