package graft.bam

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.bam.check.{Checker, FindBlockStart, FindRecordStart}
import graft.bam.codec.{Bgzf, Pos}
import graft.bam.fixtures.BamFixture
import graft.bam.io.{BlockReader, LocalFileInput, SeekableInput}

class CheckerSpec extends AnyFunSuite {

  private def withBlocks[T](path: String)(f: BlockReader => T): T = {
    val b = new BlockReader(new LocalFileInput(path))
    try f(b) finally b.close()
  }

  private lazy val fx = BamFixture.tiny
  private lazy val contigLens = fx.header.contigs.map(_.length)

  /** A local file that counts its positioned reads. */
  private final class CountingInput(path: String) extends SeekableInput {
    private val in = new LocalFileInput(path)
    var reads = 0
    override def length: Long = in.length
    override def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      reads += 1
      in.readAt(pos, buf, off, len)
    }
    override def close(): Unit = in.close()
  }

  private def tempFile(name: String, bytes: Array[Byte]): String = {
    val p = Files.createTempDirectory("graft-blockstart").resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  private def bytesOf(path: String): Array[Byte] = Files.readAllBytes(Paths.get(path))

  /** True block starts of a fixture image: its data blocks, then the
    * 28-byte EOF member that ends it. */
  private def startsOf(f: BamFixture.Fixture): IndexedSeq[Long] =
    f.blocks.map(_.start).toIndexedSeq :+ (new java.io.File(f.bamPath).length - Bgzf.Eof.length)

  /** At each offset, FindBlockStart must return the first of `starts`
    * at or after it (the file length when there is none), in at most
    * `1 + blocksToCheck` positioned reads. `starts` are ground truth from
    * the writer, so no second search implementation is involved. */
  private def assertBlockStarts(path: String, starts: IndexedSeq[Long],
                                offsets: Iterable[Long] = Nil): Unit = {
    val in = new CountingInput(path)
    val blocks = new BlockReader(in)
    try {
      val len = blocks.fileLength
      val probe = if (offsets.isEmpty) 0L until len else offsets
      probe.foreach { off =>
        val i = starts.indexWhere(_ >= off)
        val want = if (i < 0) len else starts(i)
        val before = in.reads
        val got = FindBlockStart(blocks, off, blocksToCheck = 5)
        assert(got == want, s"offset $off")
        assert(in.reads - before <= 1 + 5, s"offset $off: ${in.reads - before} reads")
      }
    } finally blocks.close()
  }

  test("eager checker accepts every true record start") {
    withBlocks(fx.bamPath) { blocks =>
      val c = new Checker(blocks, contigLens)
      fx.records.foreach { r =>
        assert(c.eager(r.virtualPos), s"rejected true start ${r.virtualPos}")
      }
    }
  }

  test("eager checker rejects shifted positions") {
    withBlocks(fx.bamPath) { blocks =>
      val c = new Checker(blocks, contigLens)
      val truth = fx.recordPositions.toSet
      // probe a band of offsets around each of the first 40 records
      var falsePos = 0
      fx.records.take(40).foreach { r =>
        (1 to 8).foreach { d =>
          val p = Pos(r.blockPos, r.offset + d)
          if (!truth.contains(p) && c.eager(p)) falsePos += 1
        }
      }
      assert(falsePos == 0, s"$falsePos false positives")
    }
  }

  test("full checker flags header bytes and agrees with eager") {
    withBlocks(fx.bamPath) { blocks =>
      val c = new Checker(blocks, contigLens)
      // position 0 = BAM magic, definitely not a record start
      val f = c.full(Pos(0, 0))
      assert(f.isDefined && !f.get.ok)
      assert(!c.eager(Pos(0, 0)))
      // at a true start, full agrees
      assert(c.full(fx.records.head.virtualPos).isEmpty)
    }
  }

  test("relaxed checker is weaker-or-equal to eager") {
    withBlocks(fx.bamPath) { blocks =>
      val c = new Checker(blocks, contigLens)
      fx.records.take(60).foreach { r =>
        assert(c.relaxed(r.virtualPos), "relaxed must accept true starts")
      }
    }
  }

  test("EOF at exact record boundary is a success") {
    withBlocks(fx.bamPath) { blocks =>
      val c = new Checker(blocks, contigLens)
      val last = fx.records.last
      // checking the last record runs into clean EOF before readsToCheck
      assert(c.eager(last.virtualPos))
    }
  }

  test("FindBlockStart recovers block boundaries from arbitrary offsets") {
    withBlocks(fx.bamPath) { blocks =>
      val starts = fx.blocks.map(_.start)
      // from a byte inside block i, the next boundary is block i+1
      starts.sliding(2).take(20).foreach {
        case Seq(a, b) =>
          assert(FindBlockStart(blocks, a + 1) == b)
          assert(FindBlockStart(blocks, a) == a)
        case _ =>
      }
    }
  }

  test("FindBlockStart finds the next true block start from every byte offset") {
    assertBlockStarts(fx.bamPath, startsOf(fx))
  }

  test("FindBlockStart across an interior EOF marker (two fixtures concatenated)") {
    val one = bytesOf(fx.bamPath)
    val path = tempFile("concat.bam", one ++ one)
    val starts = startsOf(fx)
    assertBlockStarts(path, starts ++ starts.map(_ + one.length))
  }

  test("FindBlockStart on a file whose last block is cut short") {
    val all = bytesOf(fx.bamPath)
    val cutBlock = fx.blocks.find(b => b.start + b.compressedSize > all.length * 6 / 10).get
    // cut inside the block's body: its header is whole, its data is not
    val cut = (cutBlock.start + cutBlock.compressedSize / 2).toInt
    assert(cut - cutBlock.start >= Bgzf.HeaderSize)
    val path = tempFile("truncated.bam", java.util.Arrays.copyOf(all, cut))
    assertBlockStarts(path, startsOf(fx).filter(_ <= cutBlock.start))
  }

  test("FindBlockStart with chains that run past the search window") {
    // incompressible data at the largest payload: ~61 KiB blocks, so every
    // chain of 5 headers reaches well beyond the 64 KiB window
    val rnd = new scala.util.Random(5)
    val data = Array.fill[Byte](8 * Bgzf.MaxPayload)(rnd.nextInt(256).toByte)
    val (image, metas) = Bgzf.compress(data)
    assert(metas.forall(_.compressedSize > Bgzf.MaxBlockSize / 2))
    val path = tempFile("wide.bgzf", image)
    val starts = metas.map(_.start).toIndexedSeq :+ (image.length.toLong - Bgzf.Eof.length)
    val near = starts.flatMap(s => (s - 20) to (s + 20)).filter(o => o >= 0 && o < image.length)
    assertBlockStarts(path, starts, near ++ (0L until image.length by 997L))
  }

  test("FindRecordStart finds the first record of each block") {
    withBlocks(fx.bamPath) { blocks =>
      val c = new Checker(blocks, contigLens)
      val byBlock = fx.records.groupBy(_.blockPos)
      fx.blocks.take(15).foreach { m =>
        val expected = byBlock.get(m.start).map(_.head.virtualPos)
          .orElse {
            // no record starts in this block: first start in a later block
            fx.records.find(_.blockPos > m.start).map(_.virtualPos)
          }
        val found = FindRecordStart(blocks, c, m.start)
        assert(found == expected, s"block ${m.start}")
      }
    }
  }
}
