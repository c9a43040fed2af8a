package graft.bam.io

import graft.bam.codec.{Bgzf, Pos}

/** Random-access BGZF block reader with a small LRU payload cache.
  *
  * The cache matters because the record-boundary checkers re-visit the same
  * blocks many times while probing candidate positions (reference keeps a
  * 100-entry cache for the same reason: bgzf/.../block/Stream.scala:83-110).
  *
  * Resolving one split start costs a handful of positioned reads: one
  * [[fillWindow]] for the block-boundary search (plus one 18-byte header
  * read per chain hop past the window), then one header read and one block
  * read for each block [[blockAt]] inflates while the record-boundary
  * search probes it — cached blocks cost none.
  * Every block inflated is checked against its CRC32 and ISIZE, through
  * one `Inflater` that [[close]] ends.
  * One instance per task/partition; not thread-safe.
  */
final class BlockReader(in: SeekableInput, cacheSize: Int = 64) extends AutoCloseable {

  private val headerBuf = new Array[Byte](Bgzf.HeaderSize)
  private val blockBuf = new Array[Byte](Bgzf.MaxBlockSize)
  private val inflater = new java.util.zip.Inflater(true)
  private val crc = new java.util.zip.CRC32

  /** The block-boundary search window: every header that starts among the
    * `MaxBlockSize` candidate offsets of one search lies wholly inside it.
    * Filled by [[fillWindow]]. */
  val window = new Array[Byte](Bgzf.MaxBlockSize + Bgzf.HeaderSize - 1)

  private val cache =
    new java.util.LinkedHashMap[Long, Bgzf.Block](cacheSize * 2, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Bgzf.Block]): Boolean =
        size() > cacheSize
    }

  def fileLength: Long = in.length

  /** Parse the header at `start`; total block size or -1 if not a block. */
  def blockSizeAt(start: Long): Int = {
    val n = in.readFullyAt(start, headerBuf, 0, Bgzf.HeaderSize)
    if (n < Bgzf.HeaderSize) -1 else Bgzf.checkHeader(headerBuf, 0, n)
  }

  /** Fill [[window]] with the file's bytes from `start` in one positioned
    * read; returns the count read (short only at end of file). */
  def fillWindow(start: Long): Int =
    if (start >= fileLength) 0
    else in.readFullyAt(start, window, 0,
      math.min(window.length.toLong, fileLength - start).toInt)

  /** First non-empty block metadata at-or-after `start` without inflating;
    * None at end of stream or invalid header. Empty members are SKIPPED,
    * not treated as end-of-stream: BGZF is closed under concatenation
    * (`cat a.bam b.bam` leaves a.bam's 28-byte EOF marker mid-file), so an
    * interior empty member must not silently truncate everything after
    * it — only the trailing marker ends the walk, by running into the
    * physical end of file. */
  def metadataAt(start0: Long): Option[Bgzf.Metadata] = {
    var start = start0
    while (true) {
      // a block already inflated by [[blockAt]] costs no read; a miss reads
      // the header and the compressed block but caches neither, so callers
      // that go on to inflate the block should walk with [[blockAt]]
      val hit = cache.get(start)
      if (hit != null)
        return Some(Bgzf.Metadata(hit.start, hit.compressedSize, hit.uncompressedSize))
      val size = blockSizeAt(start)
      if (size < 0) return None
      val n = in.readFullyAt(start, blockBuf, 0, size)
      if (n < size) return None
      val usize = Bgzf.isize(blockBuf, 0, size)
      if (usize != 0) return Some(Bgzf.Metadata(start, size, usize))
      start += size // interior EOF marker / degenerate empty member: skip
    }
    None // unreachable
  }

  /** Read + inflate the first non-empty block at-or-after `start` (empty
    * members skipped, same contract as [[metadataAt]]); None at end of
    * stream / junk. The returned block's own `start` is the position the
    * stream continues from. */
  def blockAt(start0: Long): Option[Bgzf.Block] = {
    var start = start0
    while (true) {
      val hit = cache.get(start)
      if (hit != null) return Some(hit)
      val size = blockSizeAt(start)
      if (size < 0) return None
      val n = in.readFullyAt(start, blockBuf, 0, size)
      if (n < size) return None
      val payload = Bgzf.inflate(inflater, crc, blockBuf, 0, size, s"${in.name}@$start")
      if (payload.length != 0) {
        val b = Bgzf.Block(start, size, payload)
        cache.put(start, b)
        return Some(b)
      }
      start += size // interior EOF marker / degenerate empty member: skip
    }
    None // unreachable
  }

  override def close(): Unit = try in.close() finally inflater.end()
}

/** Sequential reader over the uncompressed byte stream spanning blocks,
  * tracking the virtual [[Pos]]. Supports absolute seek (re-using the block
  * cache) and an optional hard stop at a block boundary.
  */
final class UncompressedReader(val blocks: BlockReader) {

  private var block: Bgzf.Block = _
  private var off = 0

  def seek(pos: Pos): Boolean = {
    blocks.blockAt(pos.blockPos) match {
      case Some(b) if pos.offset <= b.uncompressedSize =>
        block = b; off = pos.offset
        // offset == usize means "start of next block"
        if (off == b.uncompressedSize) advanceBlock() else true
      case _ => block = null; false
    }
  }

  private def advanceBlock(): Boolean = {
    val next = block.start + block.compressedSize
    blocks.blockAt(next) match {
      case Some(b) => block = b; off = 0; true
      case None    => block = null; false
    }
  }

  def pos: Pos =
    if (block == null) Pos(blocks.fileLength, 0) else Pos(block.start, off)

  /** True when positioned at readable bytes. */
  def hasMore: Boolean = block != null

  /** Bytes remaining in the current block. */
  def remainingInBlock: Int = if (block == null) 0 else block.uncompressedSize - off

  def readByte(): Int = {
    if (block == null) return -1
    val b = block.bytes(off) & 0xff
    off += 1
    if (off == block.uncompressedSize && !advanceBlock()) block = null
    b
  }

  /** Read exactly `len` bytes; count read (< len only at stream end). */
  def readFully(buf: Array[Byte], bufOff: Int, len: Int): Int = {
    var done = 0
    while (done < len && block != null) {
      val n = math.min(len - done, block.uncompressedSize - off)
      System.arraycopy(block.bytes, off, buf, bufOff + done, n)
      off += n
      done += n
      if (off == block.uncompressedSize && !advanceBlock()) block = null
    }
    done
  }

  /** Skip `len` bytes; count skipped. */
  def skip(len: Long): Long = {
    var done = 0L
    while (done < len && block != null) {
      val n = math.min(len - done, (block.uncompressedSize - off).toLong).toInt
      off += n
      done += n
      if (off == block.uncompressedSize && !advanceBlock()) block = null
    }
    done
  }

  def readIntLE(): Long = // -1 on EOF, else unsigned-ish in a Long
    if (remainingInBlock > 4) { // the common case: no block change
      val b = block.bytes
      val v = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
      off += 4
      v & 0xffffffffL
    } else {
      val a = readByte(); val b = readByte(); val c = readByte(); val d = readByte()
      if (d < 0) -1L
      else (a | (b << 8) | (c << 16) | (d.toLong << 24)) & 0xffffffffL
    }
}
