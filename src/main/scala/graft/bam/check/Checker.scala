package graft.bam.check

import graft.bam.codec.{Bam, Bgzf, Pos}
import graft.bam.io.{BlockReader, UncompressedReader}

/** Record-boundary validity flags — the full checker's verdict struct.
  * Field names follow the reference's error ADTs
  * (check/.../bam/check/full/error/Flags.scala:21-45,
  * error/{RefPosError,ReadNameError,CigarOpsError}.scala).
  */
final case class Flags(
    tooFewFixedBlockBytes: Boolean = false,
    negativeRefIdx: Boolean = false,
    tooLargeRefIdx: Boolean = false,
    negativeRefPos: Boolean = false,
    tooLargeRefPos: Boolean = false,
    negativeNextRefIdx: Boolean = false,
    tooLargeNextRefIdx: Boolean = false,
    negativeNextRefPos: Boolean = false,
    tooLargeNextRefPos: Boolean = false,
    tooFewBytesForReadName: Boolean = false,
    nonNullTerminatedReadName: Boolean = false,
    nonASCIIReadName: Boolean = false,
    noReadName: Boolean = false,
    emptyReadName: Boolean = false,
    tooFewBytesForCigarOps: Boolean = false,
    invalidCigarOp: Boolean = false,
    emptyMappedCigar: Boolean = false,
    emptyMappedSeq: Boolean = false,
    tooFewRemainingBytes: Boolean = false,
    readsBeforeError: Int = 0
) {
  /** The set flags in canonical order — every consumer (count, report
    * names, boolean vectors) derives from [[Flags.fields]] so a flag
    * added or reordered there can never silently desynchronize them. */
  def setFields: Seq[Boolean] = Flags.fields.map(_._2(this))

  def numNonZeroFields: Int = {
    var n = 0
    val fs = Flags.fields
    var i = 0
    while (i < fs.length) {
      if (fs(i)._2(this)) n += 1
      i += 1
    }
    n
  }
  def ok: Boolean = numNonZeroFields == 0
}

object Flags {
  /** THE canonical (name, accessor) enumeration of the 19 check flags —
    * the single source of truth for flag order and naming (names follow
    * the reference's error ADTs, full/error/Flags.scala:21-45). Reports,
    * histograms, and counters all derive from this list. */
  val fields: IndexedSeq[(String, Flags => Boolean)] = IndexedSeq[(String, Flags => Boolean)](
    ("tooFewFixedBlockBytes", _.tooFewFixedBlockBytes),
    ("negativeRefIdx", _.negativeRefIdx),
    ("tooLargeRefIdx", _.tooLargeRefIdx),
    ("negativeRefPos", _.negativeRefPos),
    ("tooLargeRefPos", _.tooLargeRefPos),
    ("negativeNextRefIdx", _.negativeNextRefIdx),
    ("tooLargeNextRefIdx", _.tooLargeNextRefIdx),
    ("negativeNextRefPos", _.negativeNextRefPos),
    ("tooLargeNextRefPos", _.tooLargeNextRefPos),
    ("tooFewBytesForReadName", _.tooFewBytesForReadName),
    ("nonNullTerminatedReadName", _.nonNullTerminatedReadName),
    ("nonASCIIReadName", _.nonASCIIReadName),
    ("noReadName", _.noReadName),
    ("emptyReadName", _.emptyReadName),
    ("tooFewBytesForCigarOps", _.tooFewBytesForCigarOps),
    ("invalidCigarOp", _.invalidCigarOp),
    ("emptyMappedCigar", _.emptyMappedCigar),
    ("emptyMappedSeq", _.emptyMappedSeq),
    ("tooFewRemainingBytes", _.tooFewRemainingBytes))
}

/** The boundary checkers: probe "does a valid chain of `readsToCheck`
  * records start at virtual position p?".
  *
  * `eager` short-circuits on the first failing test
  * (reference: check/.../bam/check/eager/Checker.scala:18-164);
  * `full` runs every test at the first record and collects all failures
  * (full/Checker.scala:17-186); `relaxed` reproduces the documented
  * hadoop-bam/seqdoop check subset — no upper-bound position checks, no
  * read-name emptiness/charset checks, no mapped-nonempty checks
  * (docs/motivation.md:39-55) — so differential queries can exhibit the
  * false positives the reference's compare harness was built to find.
  *
  * One instance per task; wraps a shared [[BlockReader]] whose LRU cache
  * absorbs the re-reads across probed positions.
  */
final class Checker(blocks: BlockReader, contigLengths: IndexedSeq[Int],
                    readsToCheck: Int = 10) {

  private val r = new UncompressedReader(blocks)
  private val nameBuf = new Array[Byte](256)

  /** Eager verdict at `pos`: true iff `readsToCheck` successive records
    * validate (or a clean EOF lands exactly on a record boundary). */
  def eager(pos: Pos): Boolean = check(pos, full = false, relaxed = false).isEmpty

  /** Relaxed (hadoop-bam-like) verdict: the weaker check subset. */
  def relaxed(pos: Pos): Boolean = check(pos, full = false, relaxed = true).isEmpty

  /** Full verdict: None on success, all failing flags of the first bad
    * record otherwise. */
  def full(pos: Pos): Option[Flags] = check(pos, full = true, relaxed = false)

  private def check(pos: Pos, full: Boolean, relaxed: Boolean): Option[Flags] = {
    if (!r.seek(pos)) {
      // Seek target at/after EOF: position exactly at file end is a valid
      // boundary; anything else is junk.
      return if (pos.offset == 0 && pos.blockPos >= blocks.fileLength) None
      else Some(Flags(tooFewFixedBlockBytes = true))
    }
    var reads = 0
    while (reads < readsToCheck) {
      if (!r.hasMore) return None // clean EOF on a record boundary
      val f = checkOne(full, relaxed, reads)
      if (f != null) return if (f.ok) None else Some(f)
      reads += 1
    }
    None
  }

  /** Validate one record at the reader's position and advance past it.
    * Returns null to continue the chain, or a Flags verdict that ends it
    * (possibly `ok` when EOF cleanly truncates the chain). */
  private def checkOne(full: Boolean, relaxed: Boolean, readsBefore: Int): Flags = {
    val fail = Flags(readsBeforeError = readsBefore)
    val blockSize = r.readIntLE()
    if (blockSize < 0) return fail.copy(tooFewFixedBlockBytes = true)
    if (blockSize < Bam.FixedAfterSize)
      return fail.copy(tooFewFixedBlockBytes = true)

    val refIdx = r.readIntLE().toInt
    val refPos = r.readIntLE().toInt
    val lenByte = r.readIntLE()
    val cigFlags = r.readIntLE()
    val lSeqL = r.readIntLE()
    val nextRefIdx = r.readIntLE().toInt
    val nextPos = r.readIntLE().toInt
    val tlen = r.readIntLE()
    if (tlen < 0) return fail.copy(tooFewFixedBlockBytes = true) // EOF mid-fixed-fields

    val lReadName = (lenByte & 0xff).toInt
    val nCigar = (cigFlags & 0xffff).toInt
    val flags16 = ((cigFlags >>> 16) & 0xffff).toInt
    val lSeq = lSeqL.toInt
    if (lSeq < 0) return fail.copy(tooFewFixedBlockBytes = true)

    var f = fail
    @inline def bad(g: Flags => Flags): Boolean = { f = g(f); !full }

    // ref / next-ref position validity (PosChecker.scala:43-63)
    if (refIdx < -1 && bad(_.copy(negativeRefIdx = true))) return f
    if (refIdx >= contigLengths.length && bad(_.copy(tooLargeRefIdx = true))) return f
    if (refPos < -1 && bad(_.copy(negativeRefPos = true))) return f
    if (!relaxed && refIdx >= 0 && refIdx < contigLengths.length && refPos >= 0 &&
      refPos > contigLengths(refIdx) && bad(_.copy(tooLargeRefPos = true))) return f
    if (nextRefIdx < -1 && bad(_.copy(negativeNextRefIdx = true))) return f
    if (nextRefIdx >= contigLengths.length && bad(_.copy(tooLargeNextRefIdx = true))) return f
    if (nextPos < -1 && bad(_.copy(negativeNextRefPos = true))) return f
    if (!relaxed && nextRefIdx >= 0 && nextRefIdx < contigLengths.length && nextPos >= 0 &&
      nextPos > contigLengths(nextRefIdx) && bad(_.copy(tooLargeNextRefPos = true))) return f

    // implied length consistency (eager/Checker.scala:73-76)
    val seqBytes = (lSeq + 1) / 2
    val implied = Bam.FixedAfterSize.toLong + lReadName + 4L * nCigar + seqBytes + lSeq
    if (blockSize < implied && bad(_.copy(tooFewRemainingBytes = true))) return f

    // read name (Checker.scala:11-16, eager/Checker.scala:54-59, 83-97)
    if (lReadName == 0 && bad(_.copy(noReadName = true))) return f
    if (!relaxed && lReadName == 1 && bad(_.copy(emptyReadName = true))) return f
    if (lReadName > 0) {
      if (r.readFully(nameBuf, 0, lReadName) < lReadName)
        return f.copy(tooFewBytesForReadName = true)
      if (nameBuf(lReadName - 1) != 0 && bad(_.copy(nonNullTerminatedReadName = true))) return f
      if (!relaxed) {
        var i = 0
        var asciiOk = true
        while (i < lReadName - 1 && asciiOk) {
          val c = nameBuf(i) & 0xff
          asciiOk = (c >= '!' && c <= '?') || (c >= 'A' && c <= '~')
          i += 1
        }
        if (!asciiOk && bad(_.copy(nonASCIIReadName = true))) return f
      }
    }

    // cigar ops (eager/Checker.scala:70-71, 99-111)
    var i = 0
    var cigarBad = false
    while (i < nCigar && !cigarBad) {
      val v = r.readIntLE()
      if (v < 0) return f.copy(tooFewBytesForCigarOps = true)
      cigarBad = (v & 0xf) > 8
      i += 1
    }
    if (cigarBad && bad(_.copy(invalidCigarOp = true))) return f
    val mapped = (flags16 & 4) == 0
    if (!relaxed && mapped && refIdx >= 0) {
      if (nCigar == 0 && bad(_.copy(emptyMappedCigar = true))) return f
      if (lSeq == 0 && bad(_.copy(emptyMappedSeq = true))) return f
    }

    if (!f.ok) return f // full mode: aggregated failures at this record

    // skip the rest of the record body
    val consumed = Bam.FixedAfterSize.toLong + lReadName + 4L * nCigar
    val remaining = blockSize - consumed
    if (r.skip(remaining) < remaining) {
      // Ran off the end mid-record: only valid if this was a truncation at
      // exact EOF — it is not (bytes were promised by blockSize).
      return f.copy(tooFewRemainingBytes = true)
    }
    null
  }
}

/** Scan for the first BGZF block boundary at-or-after a byte offset:
  * candidate accepted when `blocksToCheck` consecutive headers chain
  * (reference: bgzf/.../FindBlockStart.scala:8-36).
  *
  * One call costs one positioned read of the candidate window
  * ([[BlockReader.fillWindow]]: the `MaxBlockSize` candidates and the
  * header bytes of the last one), in which every candidate's own header is
  * parsed. Only a chain hop whose header does not lie wholly inside the
  * window reads again, 18 bytes through [[BlockReader.blockSizeAt]]; a
  * header that would run past the end of the file is rejected unread, as
  * that read would come back short. So a split start costs at most
  * `blocksToCheck` reads here on a well-formed file. */
object FindBlockStart {
  def apply(blocks: BlockReader, start: Long, blocksToCheck: Int = 5): Long = {
    val fileLength = blocks.fileLength
    val end = math.min(fileLength, start + Bgzf.MaxBlockSize)
    val window = blocks.window
    val inWindow = blocks.fillWindow(start)
    def blockSizeAt(pos: Long): Int = {
      val i = pos - start
      if (i + Bgzf.HeaderSize <= inWindow) Bgzf.checkHeader(window, i.toInt, Bgzf.HeaderSize)
      else if (pos + Bgzf.HeaderSize > fileLength) -1
      else blocks.blockSizeAt(pos)
    }
    var c = start
    while (c < end) {
      var pos = c
      var ok = 0
      var chained = true
      while (chained && ok < blocksToCheck && pos < fileLength) {
        val size = blockSizeAt(pos)
        if (size < 0) chained = false
        else { ok += 1; pos += size }
      }
      // Chain shorter than blocksToCheck is fine if it ran into clean EOF.
      if (chained && (ok == blocksToCheck || pos >= fileLength)) return c
      c += 1
    }
    fileLength
  }
}

/** Scan uncompressed positions from the start of `blockStart`'s block
  * forward until `accept` (by default the eager checker) accepts a
  * record start, giving up after `maxReadSize` positions
  * (reference: check/.../FindRecordStart.scala:30-63). */
object FindRecordStart {
  /** The default `maxReadSize`, in every caller: 2 MiB. */
  val MaxReadSize: Int = 2 << 20

  def apply(blocks: BlockReader, checker: Checker, blockStart: Long): Option[Pos] =
    apply(blocks, checker.eager _, blockStart)

  def apply(blocks: BlockReader, accept: Pos => Boolean, blockStart: Long,
            maxReadSize: Int = MaxReadSize): Option[Pos] = {
    var scanned = 0
    var block = blockStart
    while (scanned < maxReadSize) {
      // blockAt skips interior EOF markers: probe offsets within the block
      // it actually found, and advance from there. The block is inflated
      // and cached here, so the checker's probes of it read nothing more.
      val b = blocks.blockAt(block) match {
        case Some(b) => b
        case None    => return None
      }
      block = b.start
      var off = 0
      while (off < b.uncompressedSize && scanned < maxReadSize) {
        if (accept(Pos(block, off))) return Some(Pos(block, off))
        off += 1
        scanned += 1
      }
      block += b.compressedSize
    }
    None
  }
}

/** Where each split of one file starts — the one rule the scan and the
  * split-computation apps share (reference: CanLoadBam.scala:86-141). A
  * split `[start, end)` owns the records that start in blocks whose
  * compressed start lies in it: split 0 starts at the header's first
  * record; any other starts at the first record the checker (`relaxed`
  * or eager) accepts from the first block boundary at or after `start`,
  * and owns nothing when that boundary or record lies at or past `end`.
  * One instance per task and file; the checker is built on first use. */
final class SplitStart(blocks: BlockReader, header: Bam.Header, relaxed: Boolean,
                       blocksToCheck: Int, readsToCheck: Int, maxReadSize: Int) {
  private lazy val accept: Pos => Boolean = {
    val checker = new Checker(blocks, header.contigs.map(_.length), readsToCheck)
    if (relaxed) checker.relaxed _ else checker.eager _
  }

  def apply(start: Long, end: Long): Option[Pos] =
    if (start == 0) Some(header.firstRecord)
    else {
      val blockStart = FindBlockStart(blocks, start, blocksToCheck)
      if (blockStart >= end) None
      else FindRecordStart(blocks, accept, blockStart, maxReadSize).filter(_.blockPos < end)
    }
}
