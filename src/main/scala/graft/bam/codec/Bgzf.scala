package graft.bam.codec

import java.util.zip.{CRC32, Deflater, Inflater}

/** BGZF block layer: the gzip-member framing that makes BAM splittable.
  *
  * A BGZF file is a sequence of independent gzip members, each carrying a
  * `BSIZE` extra field giving the compressed member length, so a reader can
  * hop block-to-block without inflating. Uncompressed payload per block is
  * at most 64 KiB. A fixed 28-byte empty member marks EOF.
  *
  * Format is the public SAM/BAM specification; behavioral reference:
  * bgzf/src/main/scala/org/hammerlab/bgzf/block/{Header,Block,Stream}.scala.
  */
object Bgzf {

  val HeaderSize = 18
  val FooterSize = 8
  val MaxBlockSize = 64 * 1024
  /** Max uncompressed bytes we pack per block when writing: leaves headroom
    * so even incompressible payloads fit the 16-bit BSIZE field. */
  val MaxPayload = 60 * 1024

  /** The canonical 28-byte EOF block (empty deflate stream). */
  val Eof: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00
  ).map(_.toByte)

  /** Block metadata: compressed extent + uncompressed size. */
  final case class Metadata(start: Long, compressedSize: Int, uncompressedSize: Int)

  /** A fully-read block: inflated payload + compressed extent. */
  final case class Block(start: Long, compressedSize: Int, bytes: Array[Byte]) {
    def uncompressedSize: Int = bytes.length
  }

  /** Validate the 18 fixed header bytes; returns total block size (BSIZE+1)
    * or -1 if this is not a BGZF header. Checks the gzip magic, the FEXTRA
    * flag and the BC subfield magic — the same byte tests the reference's
    * Header.check performs. */
  def checkHeader(buf: Array[Byte], off: Int, len: Int): Int = {
    if (len < HeaderSize) return -1
    @inline def b(i: Int): Int = buf(off + i) & 0xff
    if (b(0) != 0x1f || b(1) != 0x8b || b(2) != 0x08 || b(3) != 0x04) return -1
    val xlen = b(10) | (b(11) << 8)
    if (xlen < 6) return -1
    // First extra subfield must be the BC/2 BSIZE field.
    if (b(12) != 'B' || b(13) != 'C' || b(14) != 2 || b(15) != 0) return -1
    val bsize = (b(16) | (b(17) << 8)) + 1
    if (bsize < HeaderSize + FooterSize || bsize > MaxBlockSize) return -1
    bsize
  }

  /** Uncompressed size stored in the last 4 footer bytes of a compressed
    * block image. */
  def isize(block: Array[Byte], off: Int, compressedSize: Int): Int =
    le32(block, off + compressedSize - 4)

  private def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  /** Inflate one block image (header+deflate+footer) into its payload. */
  def inflate(block: Array[Byte], off: Int, compressedSize: Int): Array[Byte] = {
    val inf = new Inflater(true)
    try inflate(inf, new CRC32, block, off, compressedSize, s"block at $off")
    finally inf.end()
  }

  /** [[inflate]] with a caller-owned `inf` and `crc`, both reset here.
    * The payload must match the footer's CRC32 and ISIZE; a mismatch or
    * bad deflate data fails with an error that starts with `where`. */
  def inflate(inf: Inflater, crc: CRC32, block: Array[Byte], off: Int,
              compressedSize: Int, where: => String): Array[Byte] = {
    val out = new Array[Byte](isize(block, off, compressedSize))
    if (out.length == 0) return out
    inf.reset()
    inf.setInput(block, off + HeaderSize, compressedSize - HeaderSize - FooterSize)
    def fail(what: String) = throw new IllegalStateException(s"$where: $what")
    var n = 0
    try {
      while (n < out.length && !inf.finished()) {
        val k = inf.inflate(out, n, out.length - n)
        if (k == 0 && inf.needsInput()) fail("truncated BGZF block")
        n += k
      }
      // a stream longer than ISIZE still has output pending here
      if (n < out.length || (!inf.finished() && inf.inflate(new Array[Byte](1)) > 0))
        fail(s"ISIZE mismatch: payload is not ${out.length} bytes")
    } catch { case e: java.util.zip.DataFormatException => fail(s"bad deflate data: ${e.getMessage}") }
    crc.reset()
    crc.update(out)
    if (crc.getValue.toInt != le32(block, off + compressedSize - FooterSize)) fail("CRC32 mismatch")
    out
  }

  /** Compress one payload slice into a complete BGZF block image. */
  def deflateBlock(data: Array[Byte], off: Int, len: Int,
                   level: Int = Deflater.DEFAULT_COMPRESSION): Array[Byte] = {
    val d = new Deflater(level, true)
    try {
      val block = new Array[Byte](MaxBlockSize)
      java.util.Arrays.copyOf(block, deflateInto(d, new CRC32, data, off, len, block))
    } finally d.end()
  }

  /** Compress one payload slice into `block` (>= [[MaxBlockSize]] bytes)
    * as a complete BGZF block image with a fresh-state `d` and `crc`;
    * returns the image's length. */
  private def deflateInto(d: Deflater, crc: CRC32, data: Array[Byte], off: Int,
                          len: Int, block: Array[Byte]): Int = {
    require(len <= MaxPayload, s"payload $len > $MaxPayload")
    d.setInput(data, off, len)
    d.finish()
    val end = MaxBlockSize - FooterSize
    var p = HeaderSize
    while (!d.finished() && p < end) p += d.deflate(block, p, end - p)
    require(d.finished(), s"compressed block > $MaxBlockSize")
    val total = p + FooterSize
    // header
    block(0) = 0x1f; block(1) = 0x8b.toByte; block(2) = 0x08; block(3) = 0x04
    // mtime(4)=0, xfl=0, os=0xff
    block(9) = 0xff.toByte
    block(10) = 6 // xlen
    block(12) = 'B'; block(13) = 'C'; block(14) = 2
    val bsize = total - 1
    block(16) = (bsize & 0xff).toByte
    block(17) = ((bsize >> 8) & 0xff).toByte
    crc.update(data, off, len)
    val c = crc.getValue
    block(p) = (c & 0xff).toByte; block(p + 1) = ((c >> 8) & 0xff).toByte
    block(p + 2) = ((c >> 16) & 0xff).toByte; block(p + 3) = ((c >> 24) & 0xff).toByte
    p += 4
    block(p) = (len & 0xff).toByte; block(p + 1) = ((len >> 8) & 0xff).toByte
    block(p + 2) = ((len >> 16) & 0xff).toByte; block(p + 3) = ((len >> 24) & 0xff).toByte
    total
  }

  /** Chunk an uncompressed byte stream into BGZF block images + EOF marker.
    * Returns the full compressed file image and the block metadata list.
    * Chunking ignores any record structure in `data` — callers get records
    * that straddle block boundaries for free (the property that makes the
    * checker problem non-trivial). */
  def compress(data: Array[Byte], payloadSize: Int = MaxPayload): (Array[Byte], Seq[Metadata]) = {
    require(payloadSize > 0 && payloadSize <= MaxPayload)
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1024)
    val metas = Seq.newBuilder[Metadata]
    var off = 0
    var start = 0L
    while (off < data.length) {
      val len = math.min(payloadSize, data.length - off)
      val img = deflateBlock(data, off, len)
      out.write(img)
      metas += Metadata(start, img.length, len)
      start += img.length
      off += len
    }
    out.write(Eof)
    (out.toByteArray, metas.result())
  }

  /** Incremental BGZF encoder: buffers at most `payloadSize` uncompressed
    * bytes and emits one independent BGZF member per full payload straight
    * to `out`. Peak heap is O(payloadSize) regardless of stream length —
    * the streaming complement of `compress` for writers whose input must
    * not be materialized (BamSink shards: a rewrite partition at scale is
    * hundreds of MB of record bytes). Does NOT write the EOF marker —
    * BGZF is closed under concatenation and the final-file writer appends
    * exactly one. One `Deflater` and one block buffer serve every member;
    * `close` releases the `Deflater`. */
  final class StreamWriter(out: java.io.OutputStream,
                           payloadSize: Int = MaxPayload)
      extends java.io.OutputStream {
    require(payloadSize > 0 && payloadSize <= MaxPayload)
    private val buf = new Array[Byte](payloadSize)
    private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    private val crc = new CRC32
    private val block = new Array[Byte](MaxBlockSize)
    private var n = 0
    private var nBlocks = 0L
    private var uncompressed = 0L
    /** BGZF members emitted so far (diagnostics / specs). */
    def blocksWritten: Long = nBlocks
    /** Total uncompressed bytes accepted so far. */
    def bytesWritten: Long = uncompressed + n

    override def write(b: Int): Unit = {
      buf(n) = b.toByte
      n += 1
      if (n == payloadSize) flushBlock()
    }

    override def write(b: Array[Byte], off0: Int, len0: Int): Unit = {
      var off = off0
      var len = len0
      while (len > 0) {
        val take = math.min(len, payloadSize - n)
        System.arraycopy(b, off, buf, n, take)
        n += take; off += take; len -= take
        if (n == payloadSize) flushBlock()
      }
    }

    private def flushBlock(): Unit = if (n > 0) {
      deflater.reset()
      crc.reset()
      out.write(block, 0, deflateInto(deflater, crc, buf, 0, n, block))
      nBlocks += 1
      uncompressed += n
      n = 0
    }

    /** Flush the trailing partial block. Does not write Eof or close `out`. */
    def finish(): Unit = flushBlock()

    override def close(): Unit = try finish() finally { deflater.end(); out.close() }
  }
}
