package graft.perfbench

import java.util.zip.{CRC32, DataFormatException, Deflater, Inflater}

/** The benchmark's own BGZF and BAM codec, written from the public SAM/BAM
  * specification apart from the program's `graft.bam.codec`. The generator
  * encodes with it and the output checks decode with it, so expected values
  * never pass through the code under measurement. */
object Own {

  /** htslib's BGZF payload size: real BAMs cut their stream at this size. */
  val Payload = 65280
  val HeaderSize = 18
  val FooterSize = 8
  val MaxBlock = 65536

  /** The 28-byte empty BGZF member that ends a BAM file. */
  val Eof: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)

  val CigarOps = "MIDNSHP=X"
  val SeqCodes = "=ACMGRSVTWYHKDBN"

  def crc(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new CRC32
    c.update(b, off, len)
    c.getValue
  }
  def crc(s: String): Long = {
    val b = s.getBytes("ASCII")
    crc(b, 0, b.length)
  }

  @inline def i32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | (b(p + 3) << 24)
  @inline def u16(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)

  /** SAM-spec bin of [beg, end). */
  def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  /** One complete BGZF member for `len` payload bytes. Falls back to a
    * stored deflate stream when compression would overflow BSIZE. */
  def deflateBlock(data: Array[Byte], off: Int, len: Int, d: Deflater): Array[Byte] = {
    val body = new Array[Byte](MaxBlock)
    def run(level: Int): Int = {
      d.reset(); d.setLevel(level); d.setInput(data, off, len); d.finish()
      var n = 0
      while (!d.finished() && n < body.length) n += d.deflate(body, n, body.length - n)
      if (d.finished()) n else -1
    }
    var n = run(Deflater.DEFAULT_COMPRESSION)
    if (n < 0 || HeaderSize + n + FooterSize > MaxBlock) n = run(Deflater.NO_COMPRESSION)
    val total = HeaderSize + n + FooterSize
    require(n >= 0 && total <= MaxBlock, s"payload of $len bytes does not fit a BGZF block")
    val out = new Array[Byte](total)
    System.arraycopy(Eof, 0, out, 0, 16)
    out(16) = ((total - 1) & 0xff).toByte
    out(17) = ((total - 1) >> 8).toByte
    System.arraycopy(body, 0, out, HeaderSize, n)
    val c = crc(data, off, len)
    var p = HeaderSize + n
    for (v <- Seq(c.toInt, len); s <- 0 until 4) { out(p) = (v >>> (8 * s)).toByte; p += 1 }
    out
  }

  /** A growable little-endian byte buffer. */
  final class Buf(initial: Int) {
    var a = new Array[Byte](initial)
    var n = 0
    private def room(k: Int): Unit =
      if (n + k > a.length) a = java.util.Arrays.copyOf(a, math.max(a.length * 2, n + k))
    def u8(v: Int): Unit = { room(1); a(n) = v.toByte; n += 1 }
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def i32(v: Int): Unit = { room(4); var s = 0; while (s < 4) { a(n) = (v >>> (8 * s)).toByte; n += 1; s += 1 } }
    def bytes(b: Array[Byte]): Unit = { room(b.length); System.arraycopy(b, 0, a, n, b.length); n += b.length }
    def ascii(s: String): Unit = bytes(s.getBytes("ASCII"))
    def setI32(p: Int, v: Int): Unit = { var s = 0; while (s < 4) { a(p + s) = (v >>> (8 * s)).toByte; s += 1 } }
  }

  final case class Contig(name: String, length: Int)

  def writeHeader(b: Buf, text: String, contigs: Seq[Contig]): Unit = {
    b.ascii("BAM"); b.u8(1)
    b.i32(text.length); b.ascii(text)
    b.i32(contigs.length)
    contigs.foreach { c => b.i32(c.name.length + 1); b.ascii(c.name); b.u8(0); b.i32(c.length) }
  }

  /** A typed optional field: `tpe` is one of `C`, `i`, `Z`. */
  final case class Tag(tag: String, tpe: Char, value: String) {
    /** The `TG:t=value` form the checksum is taken over. */
    def canonical: String = s"$tag:$tpe=$value"
  }

  /** One alignment record as the generator writes it. `cigar` holds
    * `len << 4 | op` words; `seq` holds base letters. */
  final case class Rec(refIdx: Int, pos: Int, mapq: Int, flags: Int, name: String,
                       cigar: Array[Int], nextRefIdx: Int, nextPos: Int, tlen: Int,
                       seq: Array[Byte], qual: Array[Byte], tags: Seq[Tag]) {
    def refLen: Int = {
      var s = 0
      cigar.foreach { w => val op = w & 0xf; if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8) s += w >>> 4 }
      s
    }
    /** 0-based exclusive end: `pos` plus the reference-consumed length, at least 1. */
    def end: Int = pos + math.max(1, refLen)
  }

  def cigarString(cigar: Array[Int]): String = {
    val sb = new java.lang.StringBuilder
    cigar.foreach(w => sb.append(w >>> 4).append(CigarOps.charAt(w & 0xf)))
    sb.toString
  }

  def writeRecord(b: Buf, r: Rec): Unit = {
    val start = b.n
    b.i32(0) // block_size, patched below
    b.i32(r.refIdx); b.i32(r.pos)
    b.u8(r.name.length + 1); b.u8(r.mapq); b.u16(reg2bin(r.pos, r.end))
    b.u16(r.cigar.length); b.u16(r.flags); b.i32(r.seq.length)
    b.i32(r.nextRefIdx); b.i32(r.nextPos); b.i32(r.tlen)
    b.ascii(r.name); b.u8(0)
    r.cigar.foreach(b.i32)
    var i = 0
    while (i < r.seq.length) {
      val hi = SeqCodes.indexOf(r.seq(i).toChar)
      val lo = if (i + 1 < r.seq.length) SeqCodes.indexOf(r.seq(i + 1).toChar) else 0
      b.u8((hi << 4) | lo)
      i += 2
    }
    b.bytes(r.qual)
    r.tags.foreach { t =>
      b.ascii(t.tag); b.u8(t.tpe)
      t.tpe match {
        case 'C' => b.u8(t.value.toInt)
        case 'i' => b.i32(t.value.toInt)
        case 'Z' => b.ascii(t.value); b.u8(0)
      }
    }
    b.setI32(start, b.n - start - 4)
  }

  /** Order-independent checksum of a record set (sums of the integer
    * fields and of CRC32s of the variable fields), per-contig counts, and
    * one order-dependent hash of the read names. */
  final class Digest(val nContigs: Int) {
    /** Slot 0 counts unplaced reads (refIdx -1); slot i+1 contig i. */
    val perContig = new Array[Long](nContigs + 1)
    val sums = new Array[Long](Digest.Fields.length)
    var order = 0L

    def count: Long = perContig.sum

    def add(refIdx: Int, pos: Int, end: Int, mapq: Int, flags: Int, nextRefIdx: Int,
            nextPos: Int, tlen: Int, nameCrc: Long, seqCrc: Long, qualCrc: Long,
            cigarCrc: Long, tagsCrc: Long): Unit = {
      perContig(refIdx + 1) += 1
      val v = Array[Long](pos, end, mapq, flags, nextRefIdx, nextPos, tlen,
        nameCrc, seqCrc, qualCrc, cigarCrc, tagsCrc)
      var i = 0
      while (i < v.length) { sums(i) += v(i); i += 1 }
      order = order * Digest.OrderMul + nameCrc
    }

    def add(r: Rec): Unit = add(r.refIdx, r.pos, r.end, r.mapq, r.flags, r.nextRefIdx,
      r.nextPos, r.tlen, crc(r.name), crc(r.seq, 0, r.seq.length), crc(r.qual, 0, r.qual.length),
      crc(cigarString(r.cigar)), r.tags.map(t => crc(t.canonical)).sum)

    /** Fold in a digest of the records that follow this one's. */
    def append(o: Digest, orderPow: Long): Unit = {
      var i = 0
      while (i < perContig.length) { perContig(i) += o.perContig(i); i += 1 }
      i = 0
      while (i < sums.length) { sums(i) += o.sums(i); i += 1 }
      order = order * orderPow + o.order
    }

    /** Mismatches against `expected`, as readable lines; empty when equal. */
    def diff(expected: Digest, withOrder: Boolean): Seq[String] = {
      val d = Seq.newBuilder[String]
      perContig.indices.foreach { i =>
        if (perContig(i) != expected.perContig(i))
          d += s"count[refIdx=${i - 1}] ${perContig(i)} != expected ${expected.perContig(i)}"
      }
      sums.indices.foreach { i =>
        if (sums(i) != expected.sums(i))
          d += s"sum(${Digest.Fields(i)}) ${sums(i)} != expected ${expected.sums(i)}"
      }
      if (withOrder && order != expected.order) d += s"record order hash $order != expected ${expected.order}"
      d.result()
    }
  }

  object Digest {
    val Fields: IndexedSeq[String] = IndexedSeq("pos", "endPos", "mapq", "flags", "nextRefIdx",
      "nextPos", "templateLen", "crc(readName)", "crc(seq)", "crc(qual)", "crc(cigar)", "crc(attrs)")
    val OrderMul = 1000003L
  }

  /** Render one tag value the way SAM text does. */
  private def tagValue(b: Array[Byte], p0: Int, tpe: Char): (String, Int) = {
    var p = p0
    tpe match {
      case 'A' => ((b(p) & 0xff).toChar.toString, p + 1)
      case 'c' => (b(p).toString, p + 1)
      case 'C' => ((b(p) & 0xff).toString, p + 1)
      case 's' => (u16(b, p).toShort.toString, p + 2)
      case 'S' => (u16(b, p).toString, p + 2)
      case 'i' => (i32(b, p).toString, p + 4)
      case 'I' => ((i32(b, p) & 0xffffffffL).toString, p + 4)
      case 'Z' | 'H' =>
        val s = p
        while (b(p) != 0) p += 1
        (new String(b, s, p - s, "ASCII"), p + 1)
      case other => throw new IllegalStateException(s"tag type '$other' is not produced by the generator")
    }
  }

  /** Decode the record body at `p` (just past block_size, `n` bytes long)
    * into `d`. */
  def digestRecord(b: Array[Byte], p: Int, n: Int, d: Digest): Unit = {
    val refIdx = i32(b, p)
    val pos = i32(b, p + 4)
    val lName = b(p + 8) & 0xff
    val mapq = b(p + 9) & 0xff
    val nCigar = u16(b, p + 12)
    val flags = u16(b, p + 14)
    val lSeq = i32(b, p + 16)
    var q = p + 32
    val nameCrc = crc(b, q, lName - 1)
    q += lName
    val cig = new java.lang.StringBuilder
    var refLen = 0
    var i = 0
    while (i < nCigar) {
      val w = i32(b, q); q += 4
      val op = w & 0xf
      cig.append(w >>> 4).append(CigarOps.charAt(op))
      if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8) refLen += w >>> 4
      i += 1
    }
    val seq = new Array[Byte](lSeq)
    i = 0
    while (i < lSeq) {
      val v = b(q + (i >> 1)) & 0xff
      seq(i) = SeqCodes.charAt(if ((i & 1) == 0) v >>> 4 else v & 0xf).toByte
      i += 1
    }
    q += (lSeq + 1) / 2
    val qualCrc = crc(b, q, lSeq)
    q += lSeq
    var tags = 0L
    while (q < p + n) {
      val tag = new String(b, q, 2, "ASCII")
      val tpe = (b(q + 2) & 0xff).toChar
      val (v, next) = tagValue(b, q + 3, tpe)
      tags += crc(s"$tag:$tpe=$v")
      q = next
    }
    require(q == p + n, s"record fields overrun block_size ($n)")
    d.add(refIdx, pos, pos + math.max(1, refLen), mapq, flags, i32(b, p + 20), i32(b, p + 24),
      i32(b, p + 28), nameCrc, crc(seq, 0, lSeq), qualCrc, crc(cig.toString), tags)
  }

  /** What [[readBam]] found in a BAM file. */
  final case class Parsed(contigs: IndexedSeq[Contig], digest: Digest)

  /** Walk a whole BGZF file from offset 0: every member header must be a
    * BGZF header whose BSIZE chains to the next, CRC32 and ISIZE must match
    * the inflated payload, and the file must end in the 28-byte EOF member.
    * Decodes the BAM header and every record into a [[Digest]]. Throws
    * with a byte offset on the first violation. */
  def readBam(bytes: Array[Byte]): Parsed = {
    val len = bytes.length
    require(len >= Eof.length && java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(bytes, len - Eof.length, len), Eof),
      "file does not end in the 28-byte BGZF EOF block")
    val inf = new Inflater(true)
    var stream = new Array[Byte](1 << 18) // carried-over + current payload
    var have = 0
    var header: IndexedSeq[Contig] = null
    var digest: Digest = null
    var p = 0
    try {
      while (p < len) {
        require(len - p >= HeaderSize, s"truncated BGZF header at $p")
        require((bytes(p) & 0xff) == 0x1f && (bytes(p + 1) & 0xff) == 0x8b &&
          bytes(p + 2) == 8 && bytes(p + 3) == 4, s"no BGZF magic at $p")
        require(u16(bytes, p + 10) >= 6 && bytes(p + 12) == 'B' && bytes(p + 13) == 'C' &&
          u16(bytes, p + 14) == 2, s"no BC subfield at $p")
        val bsize = u16(bytes, p + 16) + 1
        require(bsize >= HeaderSize + FooterSize && p + bsize <= len,
          s"BSIZE $bsize at $p does not chain inside the file")
        val isize = i32(bytes, p + bsize - 4)
        if (have + isize > stream.length) stream = java.util.Arrays.copyOf(stream, (have + isize) * 2)
        inf.reset()
        inf.setInput(bytes, p + HeaderSize, bsize - HeaderSize - FooterSize)
        val got = try inf.inflate(stream, have, isize) catch {
          case e: DataFormatException => throw new IllegalStateException(s"bad deflate data at $p: $e")
        }
        require(got == isize && inf.finished(), s"ISIZE $isize at $p but inflated $got")
        require(crc(stream, have, isize) == (i32(bytes, p + bsize - 8) & 0xffffffffL),
          s"CRC32 mismatch in block at $p")
        have += isize
        p += bsize
        // consume whole header / records from the front of `stream`
        var q = 0
        if (header == null && have >= 12) {
          val parsed = parseHeader(stream, have)
          if (parsed != null) {
            header = parsed._1; q = parsed._2
            digest = new Digest(header.length)
          }
        }
        if (header != null) {
          while (have - q >= 4 && have - q >= 4 + i32(stream, q)) {
            val n = i32(stream, q)
            require(n >= 32, s"record block_size $n in block ending at $p")
            digestRecord(stream, q + 4, n, digest)
            q += 4 + n
          }
        }
        System.arraycopy(stream, q, stream, 0, have - q)
        have -= q
      }
    } finally inf.end()
    require(header != null, "no BAM header")
    require(have == 0, s"$have trailing bytes after the last record")
    Parsed(header, digest)
  }

  /** Parse the BAM header at the front of `b`, or null if `have` bytes do
    * not hold all of it yet. */
  private def parseHeader(b: Array[Byte], have: Int): (IndexedSeq[Contig], Int) = {
    require(b(0) == 'B' && b(1) == 'A' && b(2) == 'M' && b(3) == 1, "bad BAM magic")
    var q = 8 + i32(b, 4)
    if (q + 4 > have) return null
    val nRef = i32(b, q); q += 4
    val cs = IndexedSeq.newBuilder[Contig]
    var i = 0
    while (i < nRef) {
      if (q + 4 > have) return null
      val ln = i32(b, q)
      if (q + 8 + ln > have) return null
      cs += Contig(new String(b, q + 4, ln - 1, "ASCII"), i32(b, q + 4 + ln))
      q += 8 + ln
      i += 1
    }
    (cs.result(), q)
  }
}
