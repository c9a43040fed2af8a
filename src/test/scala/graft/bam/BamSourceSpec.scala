package graft.bam

import graft.SparkTestBase
import graft.bam.fixtures.BamFixture
import org.apache.spark.sql.functions._

class BamSourceSpec extends SparkTestBase {

  private lazy val fx = BamFixture.default // 2500 records, 8 KiB blocks

  private def load(splitSize: Long) =
    spark.read.format("bam")
      .option("splitSize", splitSize.toString)
      .load(fx.bamPath)

  test("count matches the generator across split sizes") {
    // file is ~160 KiB compressed; exercise 1..many partitions
    Seq(1L << 20, 64L << 10, 16L << 10, 5L << 10).foreach { ss =>
      val df = load(ss)
      assert(df.count() == fx.numRecords, s"splitSize=$ss")
    }
  }

  test("partitioned read yields no duplicates and no drops") {
    val df = load(16L << 10)
    assert(df.rdd.getNumPartitions > 2)
    val names = df.select("readName").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted
    assert(names.length == fx.numRecords)
    assert(names.distinct.length == fx.numRecords)
  }

  test("virtualPos matches the fixture's record index") {
    val got = load(16L << 10)
      .select("virtualPos.blockPos", "virtualPos.offset")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val want = fx.records.map(r => (r.blockPos, r.offset)).sorted
    assert(got.toSeq == want)
  }

  test("per-contig counts and coordinates match the generator") {
    val got = load(32L << 10)
      .groupBy("refIdx", "contig").agg(count(lit(1)).as("n"),
        min("pos").as("mn"), max("endPos").as("mx"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val want = fx.records.groupBy(_.refIdx).map { case (ri, rs) =>
      (ri, if (ri >= 0) fx.header.contigs(ri).name else null, rs.size.toLong)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want)
  }

  test("column pruning skips payload decode but keeps values right") {
    val df = load(32L << 10).select("readName", "flags")
    val plan = df.queryExecution.executedPlan.toString
    val sample = df.orderBy("readName").limit(3).collect()
    assert(sample.map(_.getString(0)).toSeq ==
      fx.records.map(_.readName).sorted.take(3))
    // full-schema read decodes seq/qual; both paths agree on shared cols
    val full = load(32L << 10).select("readName", "seq").orderBy("readName")
      .limit(3).collect()
    assert(full.map(_.getString(1)).toSeq ==
      fx.records.sortBy(_.readName).take(3).map(_.seq))
  }

  test("attrs and cigar survive the row conversion") {
    val row = load(1L << 20)
      .orderBy("virtualPos.blockPos", "virtualPos.offset")
      .select("attrs", "cigar", "qual", "seq").head()
    val want = fx.records.head
    assert(row.getMap[String, String](0).toMap == want.attrs)
    val cigar = row.getSeq[org.apache.spark.sql.Row](1)
      .map(c => (c.getInt(0), c.getInt(1)))
    assert(cigar == want.cigar.map(op => (op.op, op.len)))
    assert(row.getAs[Array[Byte]](2).toSeq == want.qual.toSeq)
    assert(row.getString(3) == want.seq)
  }

  test("SQL over the bam source works end-to-end") {
    load(32L << 10).createOrReplaceTempView("reads")
    val n = spark.sql(
      "SELECT count(*) FROM reads WHERE flags & 4 = 0 AND mapq >= 30")
      .head().getLong(0)
    val want = fx.records.count(r => (r.flags & 4) == 0 && r.mapq >= 30)
    assert(n == want)
  }

  test("count(*) pushes to the records side-car; filters fall back") {
    val df = load(1L << 20)
    assert(df.count() == fx.numRecords)
    val p = df.groupBy().count().queryExecution.executedPlan.toString
    assert(p.contains("bam-count"), p) // side-car count scan, no BAM decode
    // a filtered count must NOT push (residual rows drive the answer)
    val filtered = df.filter(col("mapq") >= 30)
    val fp = filtered.groupBy().count().queryExecution.executedPlan.toString
    assert(!fp.contains("bam-count"), fp)
    assert(filtered.count() == fx.records.count(_.mapq >= 30))
    // a file without a side-car falls back to the decoding scan
    val big = graft.bam.fixtures.BamFixture.bigPath
    val bp = spark.read.format("bam").load(big)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(!bp.contains("bam-count"), bp)
    // multi-path counts sum the per-file partials
    val tiny = graft.bam.fixtures.BamFixture.tiny
    val both = spark.read.format("bam")
      .option("paths", s"${tiny.bamPath},${fx.bamPath}").load()
    assert(both.count() == tiny.numRecords + fx.numRecords)
    val bothPlan = both.groupBy().count().queryExecution.executedPlan.toString
    assert(bothPlan.contains("bam-count"), bothPlan)
  }

  test("count(*) decodes when the side-car no longer matches the BAM") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tiny = BamFixture.tiny
    val dir = Files.createTempDirectory("graft-stale-count")
    val bam = dir.resolve("reads.bam")
    Files.copy(Paths.get(tiny.bamPath), bam)
    Files.copy(Paths.get(tiny.recordsPath), dir.resolve("reads.bam.records"))
    def countPlan = spark.read.format("bam").load(bam.toString)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(countPlan.contains("bam-count"), countPlan)
    assert(spark.read.format("bam").load(bam.toString).count() == tiny.numRecords)
    // rewrite the BAM in place: the side-car now describes another file
    Files.copy(Paths.get(fx.bamPath), bam, StandardCopyOption.REPLACE_EXISTING)
    assert(!countPlan.contains("bam-count"), countPlan)
    assert(spark.read.format("bam").load(bam.toString).count() == fx.numRecords)
  }

  test("planner statistics ignore a side-car that no longer matches the BAM") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tiny = BamFixture.tiny
    val dir = Files.createTempDirectory("graft-stale-stats")
    val bam = dir.resolve("reads.bam")
    Files.copy(Paths.get(tiny.bamPath), bam)
    Files.copy(Paths.get(tiny.recordsPath), dir.resolve("reads.bam.records"))
    def rows = new graft.bam.ds.BamScan(Seq(bam.toString), graft.bam.ds.BamSchema.schema,
      Map.empty).estimateStatistics().numRows().getAsLong
    assert(rows == tiny.numRecords)
    // rewrite the BAM in place: the side-car now describes another file
    Files.copy(Paths.get(fx.bamPath), bam, StandardCopyOption.REPLACE_EXISTING)
    assert(rows != tiny.numRecords)
    assert(rows == Files.size(bam) / 170, "falls back to the size estimate")
  }

  test("a .bai or .blocks side-car older than its BAM is not used") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft-stale-index")
    val bam = dir.resolve("reads.bam")
    Files.copy(Paths.get(fx.bamPath), bam)
    Seq(".bai", ".blocks").foreach(s =>
      Files.copy(Paths.get(fx.bamPath + s), Paths.get(bam.toString + s)))
    def query() = spark.read.format("bam").option("splitSize", "16384").load(bam.toString)
      .filter(col("refIdx") === 0 && col("pos") >= 300000 && col("pos") < 600000)
    def posIn(rs: Seq[graft.bam.codec.Bam.Record]) =
      rs.filter(r => r.refIdx == 0 && r.pos >= 300000 && r.pos < 600000).map(_.readName).sorted
    assert(query().select("readName").collect().map(_.getString(0)).sorted.toSeq ==
      posIn(fx.records))
    // rewrite the BAM in place; its side-cars now describe another file
    val next = BamFixture.write(Files.createTempDirectory("graft-stale-next"), "next.bam",
      n = 6000, seed = 99)
    Files.copy(Paths.get(next.bamPath), bam, StandardCopyOption.REPLACE_EXISTING)
    val older = FileTime.fromMillis(Files.getLastModifiedTime(bam).toMillis - 10000)
    Seq(".bai", ".blocks").foreach(s =>
      Files.setLastModifiedTime(Paths.get(bam.toString + s), older))
    val want = posIn(next.records)
    assert(want.length > posIn(fx.records).length)
    assert(query().select("readName").collect().map(_.getString(0)).sorted.toSeq == want)
    assert(graft.bam.ops.BamOps.blocks(spark, bam.toString).orderBy("start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq ==
      next.blocks.map(m => (m.start, m.compressedSize, m.uncompressedSize)))
  }

  test("a header dictionary whose file cannot be stat'ed is read uncached") {
    import java.nio.file.Files
    import graft.bam.codec.{Bam, Bgzf}
    val dir = Files.createTempDirectory("graft-dict-nostat")
    def writeHeader(contig: String): Unit = {
      val hdr = new java.io.ByteArrayOutputStream()
      Bam.writeHeader(hdr, "", Seq(Bam.Contig(contig, 1000)))
      Files.write(dir.resolve("h.bam"), Bgzf.compress(hdr.toByteArray)._1)
    }
    // a leading "//" reads as a URI authority to Hadoop, so the stat
    // fails, while the local open of the same path succeeds
    val p = "/" + dir.resolve("h.bam")
    val hp = new org.apache.hadoop.fs.Path(p)
    writeHeader("chrA")
    assert(scala.util.Try(hp.getFileSystem(
      graft.bam.ds.BamDataSource.hadoopConf()).getFileStatus(hp)).isFailure)
    assert(graft.bam.ds.BamScan.contigToIdx(Seq(p)) == Map("chrA" -> 0))
    writeHeader("chrB")
    assert(graft.bam.ds.BamScan.contigToIdx(Seq(p)) == Map("chrB" -> 0))
  }

  test("a data-sized side-car splits the pushed count into range tasks") {
    import graft.bam.ds.{BamCountScan, BamCountPartition, BamCountReaderFactory}
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-countsplit")
    val bam = tmpDir.resolve("big.bam").toString
    // synthesize a .records side-car bigger than one count split — the
    // 100 GB-BAM shape where a single whole-file count task would be the
    // bottleneck. 9-byte lines, no trailing newline on the last line to
    // exercise the tail adjustment.
    val line = "12345,67\n".getBytes("ASCII")
    val perChunk = (1 << 20) / line.length // lines per ~1 MiB chunk
    val chunk = new Array[Byte](perChunk * line.length)
    for (i <- 0 until perChunk)
      System.arraycopy(line, 0, chunk, i * line.length, line.length)
    val nChunks = (BamCountScan.SplitSize / chunk.length).toInt + 2
    val out = java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(bam + ".records"))
    try {
      for (_ <- 0 until nChunks) out.write(chunk)
      out.write("99,1".getBytes("ASCII")) // unterminated final line
    } finally out.close()
    val wantLines = nChunks.toLong * perChunk + 1

    val scan = new BamCountScan(Seq(bam))
    val parts = scan.planInputPartitions()
    assert(parts.length > 1, s"expected range-split, got ${parts.length} task")
    // ranges tile the file exactly
    val ps = parts.map(_.asInstanceOf[BamCountPartition]).sortBy(_.start)
    assert(ps.head.start == 0 && ps.last.end == ps.head.fileLen)
    assert(ps.sliding(2).forall(w => w.length < 2 || w(0).end == w(1).start))
    // per-range newline counts sum to the exact line count
    val factory = scan.createReaderFactory().asInstanceOf[BamCountReaderFactory]
    val total = ps.map { p =>
      val r = factory.createReader(p)
      assert(r.next())
      r.get().getLong(0)
    }.sum
    assert(total == wantLines, s"$total != $wantLines")
  }

  test("scan reports statistics: exact rows from the side-car, sized up") {
    val scan = new graft.bam.ds.BamScan(Seq(fx.bamPath),
      graft.bam.ds.BamSchema.schema, Map.empty)
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == fx.numRecords)
    val fileLen = new java.io.File(fx.bamPath).length()
    assert(st.sizeInBytes().getAsLong == fileLen * 3)
  }

  test("a small bam side broadcasts in a join (stats drive the planner)") {
    val reads = load(1L << 20).select("readName")
    val other = spark.range(0, 10000000).toDF("id")
      .withColumn("readName", concat(lit("r"), col("id")))
    // static plan (pre-AQE) — the broadcast choice comes from the scan's
    // reported statistics, no execution needed
    val p = other.join(reads, Seq("readName"))
      .queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("typed Dataset[BamRead] view agrees with the DataFrame and fixture") {
    val ds = graft.bam.ops.BamOps.readsDS(spark, fx.bamPath)
    assert(ds.count() == fx.numRecords)
    val first = ds.orderBy("virtualPos.blockPos", "virtualPos.offset").head()
    val want = fx.records.head
    assert(first.readName == want.readName)
    assert(first.contig == (if (want.refIdx >= 0)
      Some(fx.header.contigs(want.refIdx).name) else None))
    assert(first.cigar.map(c => (c.op, c.len)) ==
      want.cigar.map(c => (c.op, c.len)))
    assert(first.attrs == want.attrs)
    assert(!first.isUnmapped || want.refIdx < 0)
    // typed filter compiles down to the same counts as the column filter
    val typed = ds.filter(r => !r.isUnmapped && r.mapq >= 30).count()
    val untyped = load(1L << 20)
      .filter(col("mapq") >= 30 && (col("flags").bitwiseAND(4)) === 0).count()
    assert(typed == untyped)
  }

  test("multi-file read (paths option) unions the files' records") {
    val tiny = BamFixture.tiny
    val both = spark.read.format("bam")
      .option("paths", s"${tiny.bamPath},${fx.bamPath}")
      .option("splitSize", "32768")
      .load()
    assert(both.count() == tiny.numRecords + fx.numRecords)
    // per-contig counts are the per-file sums (shared contig dictionary)
    val got = both.groupBy("refIdx").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = (tiny.records ++ fx.records).groupBy(_.refIdx)
      .map { case (ri, rs) => ri -> rs.size.toLong }
    assert(got == want)
  }
}
