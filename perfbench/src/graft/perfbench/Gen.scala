package graft.perfbench

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors, Future}
import java.util.zip.Deflater

import scala.collection.mutable.ArrayBuffer

import Own.{Contig, Digest, Rec, Tag}

/** One genomic interval query and its brute-force answer over the records
  * the generator wrote (SAM overlap rule `pos < hi && end > lo`, mapped
  * reads only). `minPos`/`maxPos` are meaningless when `count` is 0. */
final case class Query(contig: Int, lo: Int, hi: Int, count: Long, minPos: Int,
                       maxPos: Int, sumPos: Long)

/** The generator's ground truth for one input. Kept in its own `.truth`
  * file: the program reads the `.records`/`.blocks`/`.gri` side-car names,
  * so the truth must never sit under them. */
final case class Truth(contigs: IndexedSeq[Contig], digest: Digest, fileLength: Long,
                       blockStarts: Array[Long], recordStarts: Array[Long],
                       queries: IndexedSeq[Query]) {
  /** Sum of the record starts' block offsets and in-block offsets. */
  def sumBlockPos: Long = recordStarts.iterator.map(_ >>> 16).sum
  def sumOffset: Long = recordStarts.iterator.map(_ & 0xffff).sum

  def write(path: Path): Unit = {
    val o = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(path), 1 << 20))
    try {
      o.writeInt(contigs.length)
      contigs.foreach { c => o.writeUTF(c.name); o.writeInt(c.length) }
      digest.perContig.foreach(o.writeLong)
      digest.sums.foreach(o.writeLong)
      o.writeLong(digest.order)
      o.writeLong(fileLength)
      Seq(blockStarts, recordStarts).foreach { a => o.writeInt(a.length); a.foreach(o.writeLong) }
      o.writeInt(queries.length)
      queries.foreach { q =>
        o.writeInt(q.contig); o.writeInt(q.lo); o.writeInt(q.hi); o.writeLong(q.count)
        o.writeInt(q.minPos); o.writeInt(q.maxPos); o.writeLong(q.sumPos)
      }
    } finally o.close()
  }
}

object Truth {
  def read(path: Path): Truth = {
    val in = new DataInputStream(new java.io.BufferedInputStream(Files.newInputStream(path), 1 << 20))
    try {
      val contigs = IndexedSeq.fill(in.readInt())(Contig(in.readUTF(), in.readInt()))
      val d = new Digest(contigs.length)
      d.perContig.indices.foreach(i => d.perContig(i) = in.readLong())
      d.sums.indices.foreach(i => d.sums(i) = in.readLong())
      d.order = in.readLong()
      val fileLength = in.readLong()
      def longs(): Array[Long] = Array.fill(in.readInt())(in.readLong())
      val blocks = longs()
      val records = longs()
      val queries = IndexedSeq.fill(in.readInt())(Query(in.readInt(), in.readInt(), in.readInt(),
        in.readLong(), in.readInt(), in.readInt(), in.readLong()))
      Truth(contigs, d, fileLength, blocks, records, queries)
    } finally in.close()
  }
}

/** The seeded input generator. Two kinds of input:
  *
  *  - `unsorted`: a large BAM of reads at random places on four
  *    human-sized contigs, ~3% unplaced, header `SO:unsorted`;
  *  - `sorted`: a mid-size coordinate-sorted BAM over three small
  *    contigs plus one contig with no reads; contig 2 has a 1 Mb stretch
  *    with no reads, and ~2% unplaced reads sit at the end. It comes with a
  *    seeded sequence of interval queries and their answers.
  *
  * Both are one BAM stream (header, then records) cut into BGZF blocks of
  * htslib's payload size with no regard for record boundaries, so records
  * straddle block boundaries. Every expected value is computed from the
  * values written, never by reading the file back.
  *
  * Usage: `Gen <unsorted|sorted> <seed> <outDir>` writes
  * `<kind>.bam` and `<kind>.truth` into `outDir`.
  */
object Gen {

  final case class Spec(records: Int, contigs: IndexedSeq[Contig], placedContigs: Int,
                        sorted: Boolean, unplacedShare: Double)

  /** Contig 1 (0-based) of the sorted input has no reads in [GapLo, GapHi). */
  val GapLo = 4_000_000
  val GapHi = 5_000_000
  /** Reads span at most this many reference bases (150 bases + 5 deleted). */
  private val MaxSpan = 400

  def spec(kind: String): Spec = kind match {
    case "unsorted" => Spec(650_000, IndexedSeq(Contig("chr1", 248_956_422),
      Contig("chr2", 242_193_529), Contig("chr3", 198_295_559), Contig("chr4", 190_214_555)),
      placedContigs = 4, sorted = false, unplacedShare = 0.03)
    case "sorted" => Spec(100_000, IndexedSeq(Contig("chr1", 12_000_000),
      Contig("chr2", 9_000_000), Contig("chr3", 6_000_000), Contig("chrE", 2_000_000)),
      placedContigs = 3, sorted = true, unplacedShare = 0.02)
    case other => throw new IllegalArgumentException(s"unknown input kind '$other'")
  }

  def main(args: Array[String]): Unit = {
    val Array(kind, seed, out) = args
    val t0 = System.nanoTime()
    val dir = Paths.get(out)
    Files.createDirectories(dir)
    val truth = generate(spec(kind), seed.toLong, dir.resolve(s"$kind.bam"))
    truth.write(dir.resolve(s"$kind.truth"))
    System.err.println(f"generated $kind seed $seed: ${truth.digest.count} records, " +
      f"${truth.fileLength / 1e6}%.1f MB in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def mix(seed: Long, k: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + k * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 31)) * 0x94d049bb133111ebL
    z ^ (z >>> 29)
  }

  /** One read. `refIdx` -1 makes it unplaced. */
  private def record(rng: SplittableRandom, seed: Long, i: Int, refIdx: Int, pos: Int,
                     contigLen: Int): Rec = {
    val readLen = 90 + rng.nextInt(61)
    val placed = refIdx >= 0
    def w(len: Int, op: Int): Int = (len << 4) | op
    val cigar =
      if (!placed) Array.emptyIntArray
      else rng.nextInt(5) match {
        case 0 => Array(w(readLen, 0))
        case 1 => val s = 1 + rng.nextInt(20); Array(w(s, 4), w(readLen - s, 0))
        case 2 => val m = readLen / 2; Array(w(m, 0), w(1 + rng.nextInt(5), 2), w(readLen - m, 0))
        case 3 => val m = readLen / 3; val k = 1 + rng.nextInt(4)
          Array(w(m, 0), w(k, 1), w(readLen - m - k, 0))
        case _ => val a = 1 + rng.nextInt(10); val b = 1 + rng.nextInt(10)
          Array(w(a, 4), w(readLen - a - b, 0), w(b, 4))
      }
    val seq = new Array[Byte](readLen)
    val qual = new Array[Byte](readLen)
    var j = 0
    while (j < readLen) {
      seq(j) = (if (rng.nextInt(200) == 0) 'N' else "ACGT".charAt(rng.nextInt(4))).toByte
      qual(j) = (2 + rng.nextInt(40)).toByte
      j += 1
    }
    val mate = if ((i & 1) == 0) 0x40 else 0x80
    val rg = Tag("RG", 'Z', s"rg${rng.nextInt(4)}")
    if (!placed)
      Rec(-1, -1, 0, 0x1 | 0x4 | 0x8 | mate, s"pb.$seed.$i", cigar, -1, -1, 0, seq, qual, Seq(rg))
    else {
      val nextPos = math.max(0, math.min(contigLen - 1, pos + rng.nextInt(1000) - 500))
      val flags = 0x1 | 0x2 | mate | (if (rng.nextBoolean()) 0x10 else 0x20) |
        (if (rng.nextInt(50) == 0) 0x400 else 0)
      Rec(refIdx, pos, rng.nextInt(61), flags, s"pb.$seed.$i", cigar, refIdx, nextPos,
        nextPos - pos, seq, qual,
        Seq(Tag("NM", 'C', rng.nextInt(6).toString), Tag("AS", 'i', rng.nextInt(readLen).toString), rg))
    }
  }

  private final class Chunk(val bytes: Own.Buf, val offsets: Array[Int], val digest: Digest,
                            val orderPow: Long)

  private val ChunkRecords = 8192

  def generate(s: Spec, seed: Long, bamPath: Path): Truth = {
    val n = s.records
    val nPlaced = n - math.round(n * s.unplacedShare).toInt
    val rng0 = new SplittableRandom(mix(seed, -1))
    // sorted input: every read's place is drawn up front and sorted
    val (refs, poss) =
      if (!s.sorted) (null, null)
      else {
        val lens = s.contigs.take(s.placedContigs).map(_.length.toLong)
        val refs = new Array[Int](n)
        val poss = new Array[Int](n)
        var k = 0
        s.contigs.indices.take(s.placedContigs).foreach { c =>
          val m = if (c == s.placedContigs - 1) nPlaced - k else (nPlaced * lens(c) / lens.sum).toInt
          val ps = Array.fill(m) {
            var p = rng0.nextInt(s.contigs(c).length - MaxSpan)
            while (c == 1 && p >= GapLo - MaxSpan && p < GapHi) p = rng0.nextInt(s.contigs(c).length - MaxSpan)
            p
          }
          java.util.Arrays.sort(ps)
          ps.foreach { p => refs(k) = c; poss(k) = p; k += 1 }
        }
        while (k < n) { refs(k) = -1; poss(k) = -1; k += 1 }
        (refs, poss)
      }
    val ends = if (s.sorted) new Array[Int](n) else null

    def chunk(c: Int): Chunk = {
      val rng = new SplittableRandom(mix(seed, c))
      val lo = c * ChunkRecords
      val hi = math.min(n, lo + ChunkRecords)
      val b = new Own.Buf(300 * (hi - lo))
      val offs = new Array[Int](hi - lo)
      val d = new Digest(s.contigs.length)
      var pow = 1L
      var i = lo
      while (i < hi) {
        val (ref, pos) =
          if (s.sorted) (refs(i), poss(i))
          else if (rng.nextDouble() < s.unplacedShare) (-1, -1)
          else {
            val c = rng.nextInt(s.placedContigs)
            (c, rng.nextInt(s.contigs(c).length - MaxSpan))
          }
        val r = record(rng, seed, i, ref, pos, if (ref >= 0) s.contigs(ref).length else 0)
        offs(i - lo) = b.n
        Own.writeRecord(b, r)
        d.add(r)
        if (ends != null) ends(i) = r.end
        pow *= Digest.OrderMul
        i += 1
      }
      new Chunk(b, offs, d, pow)
    }

    val threads = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val pool = Executors.newFixedThreadPool(threads)
    val deflaters = ThreadLocal.withInitial[Deflater](() => new Deflater(Deflater.DEFAULT_COMPRESSION, true))
    val out = new BufferedOutputStream(new FileOutputStream(bamPath.toFile), 1 << 20)
    val blockSizes = ArrayBuffer.empty[Int]
    val pendingBlocks = scala.collection.mutable.Queue.empty[Future[Array[Byte]]]
    val payload = new Array[Byte](Own.Payload)
    var pn = 0
    def drain(keep: Int): Unit = while (pendingBlocks.size > keep) {
      val img = pendingBlocks.dequeue().get()
      out.write(img)
      blockSizes += img.length
    }
    def flushPayload(): Unit = if (pn > 0) {
      val data = java.util.Arrays.copyOf(payload, pn)
      pendingBlocks.enqueue(pool.submit(new Callable[Array[Byte]] {
        def call(): Array[Byte] = Own.deflateBlock(data, 0, data.length, deflaters.get())
      }))
      pn = 0
      drain(4 * threads)
    }
    def feed(a: Array[Byte], len: Int): Unit = {
      var off = 0
      while (off < len) {
        val k = math.min(len - off, Own.Payload - pn)
        System.arraycopy(a, off, payload, pn, k)
        pn += k; off += k
        if (pn == Own.Payload) flushPayload()
      }
    }

    val digest = new Digest(s.contigs.length)
    val recU = new Array[Long](n)
    try {
      val hdr = new Own.Buf(1 << 12)
      val so = if (s.sorted) "coordinate" else "unsorted"
      Own.writeHeader(hdr, s"@HD\tVN:1.6\tSO:$so\n" +
        s.contigs.map(c => s"@SQ\tSN:${c.name}\tLN:${c.length}\n").mkString, s.contigs)
      feed(hdr.a, hdr.n)
      var u = hdr.n.toLong
      val nChunks = (n + ChunkRecords - 1) / ChunkRecords
      val chunks = new Array[Future[Chunk]](nChunks)
      def submitChunk(c: Int): Unit = if (c < nChunks)
        chunks(c) = pool.submit(new Callable[Chunk] { def call(): Chunk = chunk(c) })
      (0 until 2 * threads).foreach(submitChunk)
      (0 until nChunks).foreach { c =>
        val ch = chunks(c).get()
        chunks(c) = null
        submitChunk(c + 2 * threads)
        var k = 0
        while (k < ch.offsets.length) { recU(c * ChunkRecords + k) = u + ch.offsets(k); k += 1 }
        digest.append(ch.digest, ch.orderPow)
        u += ch.bytes.n
        feed(ch.bytes.a, ch.bytes.n)
      }
      flushPayload()
      drain(0)
      out.write(Own.Eof)
    } finally {
      out.close()
      pool.shutdownNow()
    }

    val starts = blockSizes.scanLeft(0L)(_ + _).toArray // last = EOF block start
    val recordStarts = recU.map(v => (starts((v / Own.Payload).toInt) << 16) | (v % Own.Payload))
    val queries = if (s.sorted) makeQueries(s, seed, refs, poss, ends) else IndexedSeq.empty
    Truth(s.contigs, digest, starts.last + Own.Eof.length, starts, recordStarts, queries)
  }

  /** Widths of one round's ten queries over placed contigs, a few kb to
    * 1 Mb, interleaved so that wide and narrow queries share each contig
    * and each stretch of it. */
  val Widths: IndexedSeq[Int] =
    IndexedSeq(50_000, 2_000, 700_000, 10_000, 200_000, 5_000, 1_000_000, 20_000, 400_000, 100_000)

  /** One round of queries: query j of the ten over placed contigs covers
    * contig `j % 3` with width `Widths(j)`, starting at a seeded place in
    * the j-th tenth of the starts a query of that width can take (so every
    * seed's round has the same mix of widths and places); then one query
    * inside the read-free gap and one on the contig without reads, both
    * answered by no records. */
  private def makeQueries(s: Spec, seed: Long, refs: Array[Int], poss: Array[Int],
                          ends: Array[Int]): IndexedSeq[Query] = {
    val rng = new SplittableRandom(mix(seed, -2))
    val placed = Widths.indices.map { j =>
      val c = j % s.placedContigs
      val w = Widths(j)
      val lo = (((j + 0.25 + rng.nextDouble() / 2) / Widths.length) * (s.contigs(c).length - w)).toInt
      (c, lo, lo + w)
    }
    val gapLo = GapLo + 200_000 + rng.nextInt(200_000)
    val emptyLo = rng.nextInt(s.contigs(3).length - 500_000)
    (placed :+ ((1, gapLo, gapLo + 100_000)) :+ ((3, emptyLo, emptyLo + 500_000))).map {
      case (c, lo, hi) =>
        var count = 0L; var minPos = Int.MaxValue; var maxPos = Int.MinValue; var sum = 0L
        var i = 0
        while (i < refs.length) {
          if (refs(i) == c && poss(i) < hi && ends(i) > lo) {
            count += 1; sum += poss(i)
            minPos = math.min(minPos, poss(i)); maxPos = math.max(maxPos, poss(i))
          }
          i += 1
        }
        Query(c, lo, hi, count, minPos, maxPos, sum)
    }
  }
}
