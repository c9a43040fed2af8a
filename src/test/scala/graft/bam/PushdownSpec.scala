package graft.bam

import graft.SparkTestBase
import graft.bam.fixtures.BamFixture
import org.apache.spark.sql.functions._

/** Genomic-index partition pruning: pushed contig/pos predicates must
  * shrink planInputPartitions while residual filters keep results exact. */
class PushdownSpec extends SparkTestBase {

  private lazy val fx = BamFixture.default

  private def load() = spark.read.format("bam")
    .option("splitSize", "16384").load(fx.bamPath)

  test("refIdx+pos predicate prunes partitions and keeps results exact") {
    val full = load()
    val fullParts = full.rdd.getNumPartitions
    val q = load().filter(col("refIdx") === 0 &&
      col("pos") >= 100000 && col("pos") < 200000)
    val qParts = q.rdd.getNumPartitions
    assert(qParts < fullParts, s"pruned $qParts vs full $fullParts")
    val want = fx.records.count(r =>
      r.refIdx == 0 && r.pos >= 100000 && r.pos < 200000)
    assert(q.count() == want)
  }

  test("contig equality prunes through the name->idx mapping") {
    val q = load().filter(col("contig") === "chr3" && col("pos") < 50000)
    val want = fx.records.count(r => r.refIdx == 2 && r.pos < 50000)
    assert(q.count() == want && want > 0)
    assert(q.rdd.getNumPartitions < load().rdd.getNumPartitions)
  }

  test("OR of intervals (the loadBamIntervals shape) stays exact") {
    val q = load().filter(
      (col("contig") === "chr1" && col("pos") < 100000) ||
        (col("contig") === "chr2" && col("pos").between(500000, 600000)))
    val want = fx.records.count(r =>
      (r.refIdx == 0 && r.pos < 100000) ||
        (r.refIdx == 1 && r.pos >= 500000 && r.pos <= 600000))
    assert(q.count() == want && want > 0)
  }

  test("unknown contig yields zero partitions and zero rows") {
    val q = load().filter(col("contig") === "chrNOPE")
    assert(q.count() == 0)
    assert(q.rdd.getNumPartitions == 0)
  }

  test("pushed filters appear in the scan description") {
    val q = load().filter(col("refIdx") === 1)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") || scan.contains("pushed="),
      s"plan should surface pushdown:\n$scan")
  }

  test("standard .bai alone prunes partitions and keeps results exact") {
    // a copy with NO .gri / .blocks / .records — only the freshly-built
    // standard BAI, the index every real-world sorted BAM ships with
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-bai")
    val copy = tmpDir.resolve("baionly.bam")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fx.bamPath), copy)
    graft.bam.ops.BamOps.indexBai(spark, copy.toString)
    assert(new java.io.File(copy.toString + ".bai").exists())

    def loadCopy() = spark.read.format("bam")
      .option("splitSize", "16384").load(copy.toString)
    val fullParts = loadCopy().rdd.getNumPartitions
    val q = loadCopy().filter(col("contig") === "chr3" && col("pos") < 50000)
    assert(q.rdd.getNumPartitions < fullParts,
      s"bai pruned ${q.rdd.getNumPartitions} vs full $fullParts")
    val want = fx.records.count(r => r.refIdx == 2 && r.pos < 50000)
    assert(q.count() == want && want > 0)

    // overlap-interval query (the loadBamIntervals shape) over BAI pruning
    val iv = loadCopy().filter(col("refIdx") === 0 &&
      col("pos") < 150000 && col("endPos") > 100000)
    val wantIv = fx.records.count(r =>
      r.refIdx == 0 && r.pos < 150000 && r.end > 100000)
    assert(iv.count() == wantIv && wantIv > 0)
  }

  test("indexBai emits per-run chunks: fragmented bins prune tighter than " +
    "merged spans") {
    import graft.bam.ds.Bai
    // dense fixture: coarse (585-level) bins collect records crossing
    // DIFFERENT 16k boundaries 128k apart — in file order those runs are
    // separated by thousands of fine-bin records, so a single min..max
    // chunk per bin would span cold bytes
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-baimc")
    val frag = BamFixture.write(tmpDir, "frag.bam", n = 12000, seed = 31,
      payloadSize = 512)
    graft.bam.ops.BamOps.indexBai(spark, frag.bamPath)
    val idx = Bai.read(frag.bamPath).get

    val multiBins = idx.refs.flatMap(_.bins.values).count(_.length > 1)
    assert(multiBins > 0, "expected at least one multi-chunk bin")
    // chunks within a bin are disjoint and ordered
    idx.refs.foreach(_.bins.values.foreach { cs =>
      cs.sliding(2).foreach(w =>
        if (w.length == 2) assert(w(0).end <= w(1).beg, s"overlap: $cs"))
    })

    // the old writer's shape: every bin collapsed to one min..max span
    val merged = Bai.Index(idx.refs.map(r => r.copy(bins = r.bins.map {
      case (b, cs) =>
        b -> IndexedSeq(Bai.Chunk(cs.map(_.beg).min, cs.map(_.end).max))
    })))
    // per-run chunks cover strictly fewer compressed bytes than the
    // min..max span in every fragmented bin (runs only split across a
    // block gap, so each extra chunk skips >= 1 cold block)
    def extent(cs: Seq[Bai.Chunk]): Long =
      cs.map(c => (c.end >>> 16) - (c.beg >>> 16) + 1).sum
    idx.refs.foreach(_.bins.values.filter(_.length > 1).foreach { cs =>
      assert(extent(cs) < extent(
        Seq(Bai.Chunk(cs.map(_.beg).min, cs.map(_.end).max))), s"$cs")
    })

    // and an interval query OVER a fragmented bin prunes fewer bytes:
    // reconstruct each multi-chunk bin's coordinate range and compare
    def binRange(bin: Int): (Int, Int) =
      if (bin >= 4681) ((bin - 4681) << 14, ((bin - 4681) + 1) << 14)
      else if (bin >= 585) ((bin - 585) << 17, ((bin - 585) + 1) << 17)
      else if (bin >= 73) ((bin - 73) << 20, ((bin - 73) + 1) << 20)
      else if (bin >= 9) ((bin - 9) << 23, ((bin - 9) + 1) << 23)
      else if (bin >= 1) ((bin - 1) << 26, (bin - 1 + 1) << 26)
      else (0, Bai.MaxCoord)
    def prunedBytes(i: Bai.Index, ref: Int, lo: Int, hi: Int): Long =
      Bai.pruneRanges(i, Seq(Bai.GBound(Some(ref), lo, hi)),
          Long.MaxValue).get.map { case (s, e) => e - s }.sum
    val strict = (for {
      (r, ref) <- idx.refs.zipWithIndex
      (bin, cs) <- r.bins if cs.length > 1
      (lo, hi) = binRange(bin)
      q = (lo, math.min(hi, lo + (1 << 14))) // one window of the bin
    } yield prunedBytes(idx, ref, q._1, q._2) <
      prunedBytes(merged, ref, q._1, q._2))
    assert(strict.nonEmpty && strict.contains(true),
      s"no fragmented-bin query pruned tighter (${strict.size} tried)")

    // and the pruned read stays exact THROUGH the .bai
    def load() = spark.read.format("bam")
      .option("splitSize", "8192").load(frag.bamPath)
    val q = load().filter(col("refIdx") === 0 && col("pos") < 40000)
    assert(q.count() ==
      frag.records.count(r => r.refIdx == 0 && r.pos < 40000))
  }

  test("bai round-trips through its binary codec") {
    import graft.bam.ds.Bai
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-bai-rt")
    val copy = tmpDir.resolve("rt.bam")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fx.bamPath), copy)
    graft.bam.ops.BamOps.indexBai(spark, copy.toString)
    val idx = Bai.read(copy.toString).get
    Bai.write(copy.toString, idx)
    assert(Bai.read(copy.toString).get == idx)
    // binning identities from the SAM spec
    assert(Bai.reg2bin(0, 1) == 4681)
    assert(Bai.reg2bin(0, 1 << 29) == 0)
    assert(Bai.reg2bins(0, 1 << 14) == Seq(0, 1, 9, 73, 585, 4681))
  }

  test("multi-path read over files with DIFFERENT contig orderings prunes " +
    "per-file and stays exact") {
    import graft.bam.codec.Bam
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-hetero")
    // same contig names, different dictionary ORDER: chr3 is idx 2 in A
    // but idx 0 in B — a directory of BAMs from different pipelines
    val fxA = BamFixture.write(tmpDir, "a.bam", n = 600, seed = 21,
      payloadSize = 2048)
    val fxB = BamFixture.write(tmpDir, "b.bam", n = 600, seed = 22,
      payloadSize = 2048,
      contigs = IndexedSeq(Bam.Contig("chr3", 900_000),
        Bam.Contig("chr1", 2_000_000), Bam.Contig("chr2", 1_500_000)))

    def both() = spark.read.format("bam")
      .option("splitSize", "4096")
      .option("paths", s"${fxA.bamPath},${fxB.bamPath}").load()

    val fullParts = both().rdd.getNumPartitions
    val q = both().filter(col("contig") === "chr3" && col("pos") < 50000)
    val want =
      fxA.records.count(r => r.refIdx == 2 && r.pos < 50000) +
        fxB.records.count(r => r.refIdx == 0 && r.pos < 50000)
    assert(q.count() == want && want > 0)
    assert(q.rdd.getNumPartitions < fullParts,
      s"pruned ${q.rdd.getNumPartitions} vs full $fullParts")

    // refIdx filters are dictionary-RELATIVE: idx 0 means chr1 in A but
    // chr3 in B; the scan must honor each file's own dictionary
    val byIdx = both().filter(col("refIdx") === 0 && col("pos") < 50000)
    val wantIdx =
      fxA.records.count(r => r.refIdx == 0 && r.pos < 50000) +
        fxB.records.count(r => r.refIdx == 0 && r.pos < 50000)
    assert(byIdx.count() == wantIdx && wantIdx > 0)

    // a contig present in only ONE file: only that file's rows survive
    val onlyB = BamFixture.write(tmpDir, "c.bam", n = 300, seed = 23,
      payloadSize = 2048,
      contigs = IndexedSeq(Bam.Contig("chrX", 700_000)))
    val mixed = spark.read.format("bam")
      .option("splitSize", "4096")
      .option("paths", s"${fxA.bamPath},${onlyB.bamPath}").load()
      .filter(col("contig") === "chrX")
    assert(mixed.count() == onlyB.records.count(_.refIdx == 0))
  }

  test("long-read records spanning many blocks survive BAI pruning exactly") {
    // the reference's hardest domain: 10k-200k-base records, each spanning
    // MANY BGZF blocks (hadoop-bam's false negatives hit exactly this
    // shape). A pruned scan must neither drop nor duplicate a record whose
    // bytes straddle pruned chunk boundaries.
    val lr = BamFixture.longRead
    assert(lr.blocks.length > lr.records.length,
      "fixture must have more blocks than records (records span blocks)")

    // copy with ONLY a freshly-built standard .bai — no engine side-cars
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-lr")
    val copy = tmpDir.resolve("lr.bam")
    java.nio.file.Files.copy(java.nio.file.Paths.get(lr.bamPath), copy)
    graft.bam.ops.BamOps.indexBai(spark, copy.toString)

    def loadCopy() = spark.read.format("bam")
      .option("splitSize", "262144").load(copy.toString)
    val fullParts = loadCopy().rdd.getNumPartitions
    assert(fullParts > 1, s"file must split ($fullParts partitions)")

    val (lo, hi) = (100_000, 600_000)
    val q = loadCopy().filter(col("contig") === "chr1" &&
      col("pos") < hi && col("endPos") > lo)
    assert(q.rdd.getNumPartitions < fullParts,
      s"bai pruned ${q.rdd.getNumPartitions} vs full $fullParts")

    // by-construction expected set from the generator's ground truth:
    // exact read-name multiset — a drop OR a duplicate both fail
    val want = lr.records.filter(r =>
      r.refIdx == 0 && r.pos < hi && r.end > lo)
    assert(want.nonEmpty, "interval must select long reads")
    val got = q.select("readName").collect().map(_.getString(0)).sorted.toSeq
    assert(got == want.map(_.readName).sorted.toSeq)

    // endPos arithmetic holds over the M+D+M long cigars
    val ends = q.select("readName", "endPos").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    want.foreach(r => assert(ends(r.readName) == r.end, r.readName))
  }

  // ---- flags-bit decode-skip (P-pushdown to the byte level) ----

  private def countersAround[T](act: => T): (T, Long, Long) = {
    import graft.bam.ds.BamPartitionReader.{decodedRecords, skippedRecords}
    val d0 = decodedRecords.sum(); val s0 = skippedRecords.sum()
    val out = act
    (out, decodedRecords.sum() - d0, skippedRecords.sum() - s0)
  }

  test("flags & 4 bit-test skips non-matching records without decoding them") {
    val unmappedWant = fx.records.count(r => (r.flags & 4) != 0)
    assert(unmappedWant > 0 && unmappedWant < fx.records.size)
    val (got, decoded, skipped) = countersAround {
      load().filter((col("flags").bitwiseAND(4)) =!= 0)
        .select("readName").collect().length
    }
    assert(got == unmappedWant, "bit-test scan must keep results exact")
    assert(skipped > 0, "non-matching records must be prefix-skipped")
    assert(decoded < fx.records.size,
      s"decoded $decoded of ${fx.records.size} — the skip must bite")
    assert(decoded + skipped >= fx.records.size.toLong,
      "every record is either decoded or skipped")
  }

  test("(flags & m) = m, = 0, and = k subset forms all skip correctly") {
    // all: reverse-strand reads
    val (gotRev, decRev, _) = countersAround {
      load().filter((col("flags").bitwiseAND(16)) === 16).count()
    }
    assert(gotRev == fx.records.count(r => (r.flags & 16) == 16).toLong)
    assert(decRev < fx.records.size)
    // none: forward-strand only
    val (gotFwd, decFwd, _) = countersAround {
      load().filter((col("flags").bitwiseAND(16)) === 0).count()
    }
    assert(gotFwd == fx.records.count(r => (r.flags & 16) == 0).toLong)
    assert(decFwd < fx.records.size)
    // subset: of (paired|unmapped), exactly paired-and-mapped
    val (gotSub, decSub, _) = countersAround {
      load().filter((col("flags").bitwiseAND(5)) === 1).count()
    }
    assert(gotSub == fx.records.count(r => (r.flags & 5) == 1).toLong)
    assert(decSub < fx.records.size)
    assert(gotRev + gotFwd == fx.records.size.toLong)
  }

  test("plain comparison filters on prefix fields also skip decode") {
    val want = fx.records.count(_.mapq >= 40)
    assert(want > 0 && want < fx.records.size)
    val (got, decoded, skipped) = countersAround {
      load().filter(col("mapq") >= 40).count()
    }
    assert(got == want.toLong)
    assert(skipped > 0 && decoded < fx.records.size)
  }

  test("an unfiltered scan takes the predicate-free path (no skip counters)") {
    val (got, decoded, skipped) = countersAround {
      load().count()
    }
    // count(*) may shortcut via the .records side-car; force a real scan
    if (decoded == 0) {
      val (n, d2, s2) = countersAround {
        load().select("readName").collect().length
      }
      assert(n == fx.records.size && s2 == 0 && d2 == fx.records.size.toLong)
    } else assert(skipped == 0)
    assert(got == fx.records.size.toLong)
  }

  test("bit-test + interval predicate compose: pruning AND decode-skip") {
    val q = load().filter(col("contig") === "chr1" &&
      (col("flags").bitwiseAND(16)) === 0)
    val want = fx.records.count(r => r.refIdx == 0 && (r.flags & 16) == 0)
    val (got, _, skipped) = countersAround(q.count())
    assert(got == want.toLong && want > 0)
    assert(skipped > 0)
    assert(q.rdd.getNumPartitions < load().rdd.getNumPartitions,
      "interval pruning must still engage alongside the bit-test")
  }

  test("flags-bit ∧ interval ∧ projection compose: pruning, decode-skip, " +
    "and a pruned read all at once") {
    val q = load().filter(col("contig") === "chr1" &&
        (col("flags").bitwiseAND(16)) === 0 && col("pos") < 150000)
      .select("readName", "pos")
    val want = fx.records.filter(r =>
      r.refIdx == 0 && (r.flags & 16) == 0 && r.pos < 150000)
    assert(want.nonEmpty)
    val (got, decoded, skipped) = countersAround {
      q.collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    }
    assert(got == want.map(r => (r.readName, r.pos)).sorted.toSeq,
      "combined shape must keep the exact row multiset")
    assert(skipped > 0, "the bit conjunct must still prefix-skip")
    assert(decoded < fx.records.size)
    assert(q.rdd.getNumPartitions < load().rdd.getNumPartitions,
      "the interval conjunct must still prune partitions")
  }

  test("multiple bit-test conjuncts merge into one decode-skip spec") {
    val want = fx.records.count(r =>
      (r.flags & 5) == 1 && (r.flags & 16) == 16)
    assert(want > 0)
    val (got, decoded, _) = countersAround {
      load().filter((col("flags").bitwiseAND(5)) === 1 &&
        (col("flags").bitwiseAND(16)) === 16).count()
    }
    assert(got == want.toLong)
    assert(decoded < fx.records.size,
      s"merged all:1;none:4;all:16 spec must bite (decoded $decoded)")
  }

  test("OR of bit-tests is untranslatable: rule falls back, results exact, " +
    "no record skipped") {
    val want = fx.records.count(r =>
      (r.flags & 4) == 4 || (r.flags & 16) == 16)
    assert(want > 0 && want < fx.records.size)
    val (got, decoded, skipped) = countersAround {
      load().filter(((col("flags").bitwiseAND(4)) === 4) ||
        ((col("flags").bitwiseAND(16)) === 16)).count()
    }
    assert(got == want.toLong, "fallback must keep results exact")
    assert(skipped == 0,
      "a disjunction must not derive a (necessarily unsound) skip spec")
    assert(decoded >= fx.records.size.toLong)
  }

  test("And with one translatable conjunct and one OR conjunct stays " +
    "conservative: the translatable half still skips, results exact") {
    val want = fx.records.count(r => (r.flags & 16) == 16 &&
      ((r.flags & 4) == 4 || r.pos < 100000))
    assert(want > 0)
    val (got, decoded, skipped) = countersAround {
      load().filter(((col("flags").bitwiseAND(16)) === 16) &&
        (((col("flags").bitwiseAND(4)) === 4) || (col("pos") < 100000)))
        .count()
    }
    assert(got == want.toLong)
    assert(skipped > 0, "the translatable conjunct must still prefix-skip")
    assert(decoded < fx.records.size)
  }

  test("Not over a partially-compilable And never yields an unsound prefix predicate") {
    import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq, GreaterThan => FGt, Not => FNot}
    // !(pos > 100 && readName = 'x'): the And's readName conjunct has no
    // prefix form, so the And is at best CONSERVATIVE — negating a
    // conservative predicate would skip records the query wants
    val f = FNot(FAnd(FGt("pos", 100), FEq("readName", "x")))
    graft.bam.ds.RecordFilter.build(Seq(f), "") match {
      case None => // dropped entirely: sound
      case Some(p) =>
        // pos=200, name != 'x' satisfies the ORIGINAL predicate; skipping
        // it from the prefix would silently lose the row
        assert(p(0, 200, 30, 0, 0, 0, 0),
          "record satisfying the query was prefix-skipped")
    }
    // top-level And still keeps its compilable conjunct (conservative)
    val top = graft.bam.ds.RecordFilter
      .build(Seq(FAnd(FGt("pos", 100), FEq("readName", "x"))), "").get
    assert(top(0, 200, 30, 0, 0, 0, 0)) // kept; residual filter decides
    assert(!top(0, 50, 30, 0, 0, 0, 0)) // sound skip: pos <= 100
  }

  test("optimizer-derived flagbits MERGE with a caller-supplied spec") {
    // caller restricts the reader to unmapped records (all:4) with no
    // Catalyst filter above it; the optimizer derives all:16 from the
    // bitwiseAND filter — both restrictions must hold
    val want = fx.records.count(r => (r.flags & 4) == 4 && (r.flags & 16) == 16)
    val got = spark.read.format("bam").option("flagbits", "all:4")
      .load(fx.bamPath)
      .filter((col("flags").bitwiseAND(16)) === 16)
      .count()
    assert(got == want.toLong,
      s"derived spec must not overwrite the caller's: got $got want $want")
  }

  test("pos predicates at Int.MaxValue stay satisfiable (no overflow wrap)") {
    import org.apache.spark.sql.sources.{EqualTo => FEq, LessThanOrEqual => FLe, GreaterThan => FGt}
    import graft.bam.ds.Bai
    def bounds(f: org.apache.spark.sql.sources.Filter) =
      Bai.toBounds(Seq(FEq("contig", "chr1"), f), Map("chr1" -> 0))
    // pos = MaxValue: the exclusive hi must be MaxValue+1 in LONG space —
    // Int wrap turned this into "provably empty" and silently dropped rows
    assert(bounds(FEq("pos", Int.MaxValue)) ==
      Some(Seq(Bai.GBound(Some(0), Int.MaxValue.toLong, Int.MaxValue + 1L))))
    // pos <= MaxValue is a full range
    assert(bounds(FLe("pos", Int.MaxValue)) ==
      Some(Seq(Bai.GBound(Some(0), Long.MinValue, Int.MaxValue + 1L))))
    // pos > MaxValue is genuinely unsatisfiable — provably empty is right
    assert(bounds(FGt("pos", Int.MaxValue)) == Some(Seq.empty))
  }

  test("an endPos lower bound prunes an overlap query from its start, " +
    "not the contig's") {
    val (lo, hi) = (1_000_000, 1_200_000)
    val upTo = load().filter(col("refIdx") === 0 && col("pos") < hi)
    val overlap = load().filter(col("refIdx") === 0 &&
      col("pos") < hi && col("endPos") > lo)
    assert(overlap.rdd.getNumPartitions < upTo.rdd.getNumPartitions,
      s"overlap planned ${overlap.rdd.getNumPartitions} vs ${upTo.rdd.getNumPartitions}")
    val want = fx.records.filter(r => r.refIdx == 0 && r.pos < hi && r.end > lo)
    assert(want.nonEmpty)
    assert(overlap.select("readName").collect().map(_.getString(0)).sorted.toSeq ==
      want.map(_.readName).sorted)
  }

  test("rewrite(index=true) re-indexes: the rewrite-time BAI prunes " +
    "identically to one built fresh on the output") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-rwidx")
    val out = tmpDir.resolve("rw.bam").toString
    graft.bam.ops.BamSink.rewrite(spark, fx.bamPath, out, index = true,
      indexBlocks = true, indexRecords = true)
    assert(new java.io.File(out + ".bai").exists(), "rewrite must emit a BAI")
    // reference-parity -b/-i side-cars of the OUTPUT layout
    assert(new java.io.File(out + ".blocks").exists())
    assert(new java.io.File(out + ".records").exists())

    def load() = spark.read.format("bam")
      .option("splitSize", "16384").load(out)
    val fullParts = load().rdd.getNumPartitions
    def q() = load().filter(col("contig") === "chr3" && col("pos") < 50000)
    val rewriteParts = q().rdd.getNumPartitions
    val rewriteCount = q().count()
    assert(rewriteParts < fullParts,
      s"rewrite-time BAI pruned $rewriteParts vs full $fullParts")
    val want = fx.records.count(r => r.refIdx == 2 && r.pos < 50000)
    assert(rewriteCount == want && want > 0)

    // a fresh index of the same output must be byte-identical (the
    // builder is a pure function of the file) and prune the same plan
    val rewriteTimeBai =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out + ".bai"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(out + ".bai"))
    graft.bam.ops.BamOps.indexBai(spark, out)
    val freshBai =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out + ".bai"))
    assert(java.util.Arrays.equals(rewriteTimeBai, freshBai),
      "rewrite-time and fresh BAI must be byte-identical")
    assert(q().rdd.getNumPartitions == rewriteParts &&
      q().count() == rewriteCount,
      "fresh BAI must prune the identical partition set")
  }
}
