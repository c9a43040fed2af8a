package graft.bam.fixtures

import java.nio.file.{Files, Path, Paths}

import graft.bam.codec.{Bam, Bgzf, Pos}

/** Deterministic BAM fixture generator.
  *
  * The reference's binary test files can't be copied and no external BAM
  * writer exists in this environment, so every test flows from this
  * generator (SURVEY.md §5, §7 phase 0). Records are written as one
  * contiguous uncompressed stream then chunked into BGZF blocks with no
  * regard for record boundaries — mirroring htsjdk-rewrite's role of
  * producing records *unaligned* to block starts
  * (reference: cli/.../bam/rewrite/HTSJDKRewrite.scala:14-20).
  *
  * Alongside the `.bam` it writes the two side-car indexes the reference
  * defines: `.blocks` = `start,compressedSize,uncompressedSize` lines
  * (bgzf/.../index/IndexBlocks.scala:41) and `.records` =
  * `blockPos,offset` lines (check/.../index/IndexRecords.scala:55) — and
  * the standard `.bai`, the engine's pruning index, built from the
  * generator's truth by the same [[graft.bam.ds.Bai.Builder]] that
  * `BamOps.indexBai` runs over a scan.
  */
object BamFixture {

  final case class Fixture(
      bamPath: String,
      header: Bam.Header,
      records: IndexedSeq[Bam.Record], // with virtual positions filled in
      blocks: Seq[Bgzf.Metadata]
  ) {
    def numRecords: Int = records.length
    def recordPositions: IndexedSeq[Pos] = records.map(_.virtualPos)
    def blocksPath: String = bamPath + ".blocks"
    def recordsPath: String = bamPath + ".records"
    def totalUncompressedPositions: Long = blocks.map(_.uncompressedSize.toLong).sum
  }

  val DefaultContigs: IndexedSeq[Bam.Contig] = IndexedSeq(
    Bam.Contig("chr1", 2_000_000),
    Bam.Contig("chr2", 1_500_000),
    Bam.Contig("chr3", 900_000)
  )

  /** Deterministic xorshift so fixtures are identical across JVMs/runs. */
  private final class Rng(seed0: Long) {
    private var s = seed0 ^ 0x9e3779b97f4a7c15L
    def nextLong(): Long = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s
    }
    def nextInt(bound: Int): Int = (((nextLong() >>> 1) % bound).toInt)
  }

  /** Generate `n` records sorted by (refIdx, pos), ~8% unmapped at the end
    * (refIdx = -1), paired mate fields, mixed cigar shapes. */
  def generateRecords(n: Int, contigs: IndexedSeq[Bam.Contig], seed: Long): IndexedSeq[Bam.Record] = {
    val rng = new Rng(seed)
    val nUnmapped = n / 12
    val mapped = (0 until (n - nUnmapped)).map { i =>
      val refIdx = rng.nextInt(contigs.length)
      val pos = rng.nextInt(contigs(refIdx).length - 200)
      val readLen = 36 + rng.nextInt(65)
      val cigar =
        rng.nextInt(4) match {
          case 0 => Seq(Bam.CigarOp(0, readLen)) // all M
          case 1 => // soft-clip + M
            val s = 1 + rng.nextInt(10)
            Seq(Bam.CigarOp(4, s), Bam.CigarOp(0, readLen - s))
          case 2 => // M + D + M
            val m1 = readLen / 2
            Seq(Bam.CigarOp(0, m1), Bam.CigarOp(2, 1 + rng.nextInt(5)),
              Bam.CigarOp(0, readLen - m1))
          case _ => // M + I + M
            val m1 = readLen / 3
            val ins = 1 + rng.nextInt(4)
            Seq(Bam.CigarOp(0, m1), Bam.CigarOp(1, ins),
              Bam.CigarOp(0, readLen - m1 - ins))
        }
      val seq = (0 until readLen).map(_ => "ACGT".charAt(rng.nextInt(4))).mkString
      val qual = Array.tabulate[Byte](readLen)(_ => (rng.nextInt(40) + 2).toByte)
      val mateRef = rng.nextInt(contigs.length)
      Bam.Record(
        refIdx = refIdx, pos = pos, mapq = rng.nextInt(61),
        flags = 0x1 | 0x40 | (if (rng.nextInt(2) == 0) 0x10 else 0),
        readName = f"read_$i%06d",
        cigar = cigar,
        nextRefIdx = mateRef, nextPos = rng.nextInt(contigs(mateRef).length - 200),
        templateLen = rng.nextInt(1000) - 500,
        seq = seq, qual = qual,
        attrs = Map("NM:i" -> rng.nextInt(5).toString, "RG:Z" -> s"rg${rng.nextInt(3)}"),
        blockPos = -1, offset = -1)
    }.sortBy(r => (r.refIdx, r.pos, r.readName))
    val unmapped = ((n - nUnmapped) until n).map { i =>
      val readLen = 36 + rng.nextInt(65)
      val seq = (0 until readLen).map(_ => "ACGT".charAt(rng.nextInt(4))).mkString
      val qual = Array.tabulate[Byte](readLen)(_ => (rng.nextInt(40) + 2).toByte)
      Bam.Record(
        refIdx = -1, pos = -1, mapq = 0, flags = 0x1 | 0x4 | 0x8,
        readName = f"read_$i%06d", cigar = Nil,
        nextRefIdx = -1, nextPos = -1, templateLen = 0,
        seq = seq, qual = qual, attrs = Map("RG:Z" -> s"rg${rng.nextInt(3)}"),
        blockPos = -1, offset = -1)
    }
    mapped ++ unmapped
  }

  /** Long-read records (FIXTURES.md item 5): coordinate-sorted mapped
    * reads of 10k–200k bases. With the default 8 KiB BGZF payloads EVERY
    * record spans many compressed blocks — the reference's hardest error
    * domain (GiaB long reads, docs/motivation.md:95-101; hadoop-bam's
    * false negatives occurred exactly on chunk-spanning records): an
    * index-pruned scan must reassemble a record whose bytes straddle
    * chunk boundaries without dropping or duplicating it. M+D+M cigars so
    * `endPos` exercises reference-consuming arithmetic over long spans. */
  def generateLongRecords(n: Int, contigs: IndexedSeq[Bam.Contig],
                          seed: Long): IndexedSeq[Bam.Record] = {
    val rng = new Rng(seed)
    (0 until n).map { i =>
      val refIdx = rng.nextInt(contigs.length)
      val readLen = 10_000 + rng.nextInt(190_001)
      val del = 1 + rng.nextInt(50)
      val pos = rng.nextInt(math.max(1, contigs(refIdx).length - readLen - del - 1))
      val m1 = readLen / 2
      val cigar = Seq(Bam.CigarOp(0, m1), Bam.CigarOp(2, del),
        Bam.CigarOp(0, readLen - m1))
      val seq = (0 until readLen).map(_ => "ACGT".charAt(rng.nextInt(4))).mkString
      val qual = Array.tabulate[Byte](readLen)(_ => (rng.nextInt(40) + 2).toByte)
      Bam.Record(
        refIdx = refIdx, pos = pos, mapq = rng.nextInt(61),
        flags = if (rng.nextInt(2) == 0) 0x10 else 0,
        readName = f"long_$i%05d",
        cigar = cigar,
        nextRefIdx = -1, nextPos = -1, templateLen = 0,
        seq = seq, qual = qual,
        attrs = Map("NM:i" -> rng.nextInt(5).toString),
        blockPos = -1, offset = -1)
    }.sortBy(r => (r.refIdx, r.pos, r.readName))
  }

  /** Write a BAM + side-cars; returns the fixture with every record's
    * virtual position resolved against the final block layout. */
  def write(dir: Path, name: String, n: Int = 2000, seed: Long = 42,
            payloadSize: Int = 8 * 1024,
            contigs: IndexedSeq[Bam.Contig] = DefaultContigs,
            gen: (Int, IndexedSeq[Bam.Contig], Long) => IndexedSeq[Bam.Record] = generateRecords): Fixture = {
    Files.createDirectories(dir)
    val recs = gen(n, contigs, seed)
    val out = new java.io.ByteArrayOutputStream(1 << 20)
    val samText = "@HD\tVN:1.6\tSO:coordinate\n" +
      contigs.map(c => s"@SQ\tSN:${c.name}\tLN:${c.length}\n").mkString
    Bam.writeHeader(out, samText, contigs)
    val recOffsets = recs.map { r =>
      val off = out.size()
      Bam.writeRecord(out, r)
      off.toLong
    }
    val uncompressed = out.toByteArray
    val (image, blocks) = Bgzf.compress(uncompressed, payloadSize)
    val bam = dir.resolve(name)
    Files.write(bam, image)

    // Map uncompressed offsets -> Pos via the block layout.
    val blockArr = blocks.toIndexedSeq
    val cumStarts = blockArr.scanLeft(0L)(_ + _.uncompressedSize)
    def toPos(uOff: Long): Pos = {
      var lo = 0; var hi = blockArr.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (cumStarts(mid) <= uOff) lo = mid else hi = mid - 1
      }
      Pos(blockArr(lo).start, (uOff - cumStarts(lo)).toInt)
    }
    val withPos = recs.zip(recOffsets).map { case (r, uOff) =>
      val p = toPos(uOff)
      r.copy(blockPos = p.blockPos, offset = p.offset)
    }

    Files.write(dir.resolve(name + ".blocks"),
      blocks.map(m => s"${m.start},${m.compressedSize},${m.uncompressedSize}")
        .mkString("", "\n", "\n").getBytes("ASCII"))
    Files.write(dir.resolve(name + ".records"),
      withPos.map(r => s"${r.blockPos},${r.offset}")
        .mkString("", "\n", "\n").getBytes("ASCII"))

    // a record ends where the next one starts; the last at the file end
    val bai = new graft.bam.ds.Bai.Builder(bam.toString)
    val ends = withPos.drop(1).map(_.virtualPos.packed) :+ (image.length.toLong << 16)
    withPos.zip(ends).foreach { case (r, vend) =>
      if (r.refIdx >= 0) bai.add(r.refIdx, r.pos, r.end, r.virtualPos.packed, vend)
    }
    graft.bam.ds.Bai.write(bam.toString, bai.result(contigs.length))

    val headerEnd = toPos(recOffsets.headOption.getOrElse(uncompressed.length.toLong))
    val header = Bam.Header(samText, contigs, headerEnd)
    Fixture(bam.toString, header, withPos, blocks)
  }

  /** Write the text-SAM rendering of a fixture (S3 source test input). */
  def writeSam(fx: Fixture): String = {
    val samPath = fx.bamPath.stripSuffix(".bam") + ".sam"
    val sb = new StringBuilder
    sb.append(fx.header.text) // already includes @HD/@SQ lines + newlines
    fx.records.foreach { r =>
      val contig = if (r.refIdx >= 0) fx.header.contigs(r.refIdx).name else "*"
      val cigarStr =
        if (r.cigar.isEmpty) "*" else r.cigar.map(op => s"${op.len}${op.char}").mkString
      val nextContig = if (r.nextRefIdx >= 0) fx.header.contigs(r.nextRefIdx).name else "*"
      val qualStr =
        if (r.qual.isEmpty) "*" else r.qual.map(q => (q + 33).toChar).mkString
      sb.append(Seq(
        r.readName, r.flags, contig, r.pos + 1, r.mapq, cigarStr,
        nextContig, r.nextPos + 1, r.templateLen, r.seq, qualStr
      ).mkString("\t")).append('\n')
    }
    Files.write(Paths.get(samPath), sb.toString.getBytes("ASCII"))
    samPath
  }

  /** Shared lazily-written fixture for queries/tests: stable path under the
    * build dir, written once per JVM. */
  lazy val default: Fixture = cached("default", n = 2500, seed = 42, payloadSize = 8192)
  /** Tiny fixture with several records per block AND records spanning
    * blocks. */
  lazy val tiny: Fixture = cached("tiny", n = 120, seed = 7, payloadSize = 1024)

  /** Long-read fixture: 60 reads of 10k–200k bases over 8 KiB blocks —
    * every record spans multiple BGZF blocks (see [[generateLongRecords]]). */
  lazy val longRead: Fixture = cache.getOrElseUpdate("longread", {
    val dir = Paths.get(sys.props.getOrElse("graft.fixture.dir",
      "target/bam-fixtures"))
    write(dir, "longread-60-13.bam", n = 60, seed = 13, payloadSize = 8192,
      gen = generateLongRecords)
  })

  private val cache = scala.collection.concurrent.TrieMap.empty[String, Fixture]

  def cached(key: String, n: Int, seed: Long, payloadSize: Int): Fixture =
    cache.getOrElseUpdate(key, {
      val dir = Paths.get(sys.props.getOrElse("graft.fixture.dir",
        "target/bam-fixtures"))
      write(dir, s"$key-$n-$seed-$payloadSize.bam", n, seed, payloadSize)
    })

  /** ~50 MB fixture for THROUGHPUT evidence (the small fixtures measure
    * setup, not scanning). Generation STREAMS: records are encoded
    * straight into payload-sized BGZF blocks and flushed, so nothing
    * data-sized stays on the heap — only the path is returned. Written
    * once (stable path under the build dir), 400k reads, real-BAM-like
    * 60 KiB payloads, header SO:unsorted (the scan does not need order). */
  lazy val bigPath: String = {
    val dir = Paths.get(sys.props.getOrElse("graft.fixture.dir",
      "target/bam-fixtures"))
    Files.createDirectories(dir)
    val p = dir.resolve("big-400000-11.bam")
    if (!Files.exists(p)) writeBig(p, n = 400_000, seed = 11)
    p.toString
  }

  val BigRecords = 400_000

  private def writeBig(path: Path, n: Int, seed: Long,
                       payloadSize: Int = 61440): Unit = {
    val contigs = DefaultContigs
    val rng = new Rng(seed)
    val os = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 20)
    val buf = new java.io.ByteArrayOutputStream(payloadSize + (1 << 12))
    def drain(all: Boolean): Unit = {
      while (buf.size() >= payloadSize || (all && buf.size() > 0)) {
        val bytes = buf.toByteArray
        val take = math.min(payloadSize, bytes.length)
        val (img, _) = Bgzf.compress(java.util.Arrays.copyOf(bytes, take), payloadSize)
        os.write(img, 0, img.length - Bgzf.Eof.length)
        buf.reset()
        buf.write(bytes, take, bytes.length - take)
        if (all && bytes.length == take) return
      }
    }
    try {
      val samText = "@HD\tVN:1.6\tSO:unsorted\n" +
        contigs.map(c => s"@SQ\tSN:${c.name}\tLN:${c.length}\n").mkString
      Bam.writeHeader(buf, samText, contigs)
      var i = 0
      while (i < n) {
        val refIdx = rng.nextInt(contigs.length)
        val pos = rng.nextInt(contigs(refIdx).length - 200)
        val readLen = 80 + rng.nextInt(41)
        val seq = {
          val sb = new StringBuilder(readLen)
          var j = 0
          while (j < readLen) { sb.append("ACGT".charAt(rng.nextInt(4))); j += 1 }
          sb.toString
        }
        val qual = Array.tabulate[Byte](readLen)(_ => (rng.nextInt(40) + 2).toByte)
        Bam.writeRecord(buf, Bam.Record(
          refIdx = refIdx, pos = pos, mapq = rng.nextInt(61), flags = 0,
          readName = f"big_$i%07d", cigar = Seq(Bam.CigarOp(0, readLen)),
          nextRefIdx = -1, nextPos = -1, templateLen = 0,
          seq = seq, qual = qual, attrs = Map.empty,
          blockPos = -1, offset = -1))
        drain(all = false)
        i += 1
      }
      drain(all = true)
      os.write(Bgzf.Eof)
    } finally os.close()
  }
}
