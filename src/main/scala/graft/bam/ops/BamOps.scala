package graft.bam.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.bam.check.Checker
import graft.bam.codec.Pos
import graft.bam.ds.{Bai, BamDataSource, BamScan}
import graft.bam.io.{BlockReader, SeekableInput}

/** Auxiliary BAM relations + the differential-checker pipeline — the
  * reference's CLI analytics (SURVEY.md §2.11) re-expressed as Catalyst
  * plans over the `bam` DSv2 source and the side-car tables.
  */
object BamOps {

  val blocksSchema: StructType = StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("compressedSize", IntegerType, nullable = false),
    StructField("uncompressedSize", IntegerType, nullable = false)))

  val recordsSchema: StructType = StructType(Seq(
    StructField("blockPos", LongType, nullable = false),
    StructField("offset", IntegerType, nullable = false)))

  /** `bam_blocks(path)` — the block catalog (S11/S13). Side-car fast path
    * (a `.blocks` not older than the BAM): plain CSV scan. Otherwise
    * distributed discovery — parallelize byte ranges, each task walks
    * headers (metadata-only, no inflate) from the first boundary
    * at-or-after its range start (reference:
    * check/.../bam/check/Blocks.scala:47-208). */
  def blocks(spark: SparkSession, path: String, numSplits: Int = 0): DataFrame =
    if (BamDataSource.sidecarFresh(path, ".blocks"))
      spark.read.schema(blocksSchema).csv(path + ".blocks")
    else discoverBlocks(spark, path, numSplits)

  /** Discovery parallelism scales with the file: one split per 32 MiB
    * (floor 8), so a side-car-less 100 GB BAM walks headers in ~3200
    * parallel tasks, not a fixed handful. */
  private val DiscoverSplitBytes = 32L << 20

  def discoverBlocks(spark: SparkSession, path: String, numSplits: Int = 0): DataFrame = {
    import spark.implicits._
    val len = Bai.fileLen(path)
    val splits =
      if (numSplits > 0) numSplits
      else math.max(8L, (len + DiscoverSplitBytes - 1) / DiscoverSplitBytes).toInt
    val splitSize = math.max(1L, (len + splits - 1) / splits)
    val bounds = (0L until len by splitSize).map(s => (s, math.min(s + splitSize, len)))
    val conf = BamDataSource.serializableConf()
    spark.createDataset(bounds).repartition(bounds.length)
      .flatMap { case (start, end) =>
        val blocks = new BlockReader(SeekableInput.open(path, conf.value))
        try {
          var at = graft.bam.check.FindBlockStart(blocks, start)
          val out = Seq.newBuilder[(Long, Int, Int)]
          var done = false
          while (!done && at < end) {
            blocks.metadataAt(at) match {
              // m.start can sit PAST `at` (interior EOF markers are
              // skipped): advance from the block actually found, and stop
              // if the skip crossed into the next split's territory (that
              // split's own walk starts at the first header >= its start)
              case Some(m) if m.start < end =>
                out += ((m.start, m.compressedSize, m.uncompressedSize))
                at = m.start + m.compressedSize
              case _ => done = true
            }
          }
          out.result()
        } finally blocks.close()
      }
      .toDF("start", "compressedSize", "uncompressedSize")
  }

  /** `bam_records(path)` — ground-truth record positions side-car (S15
    * read-back, indexed/IndexedRecordPositions.scala:56-76). */
  def records(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(recordsSchema).csv(path + ".records")

  /** Write the two side-car indexes from their relations (S14/S15 sinks):
    * single files, strictly ordered, like the reference's writers. */
  def indexBlocks(spark: SparkSession, path: String, out: String): Unit =
    writeCsvOrdered(discoverBlocks(spark, path).orderBy("start"), out)
  def indexRecords(spark: SparkSession, path: String, out: String): Unit = {
    val df = spark.read.format("bam").load(path)
      .select(col("virtualPos.blockPos"), col("virtualPos.offset"))
      .orderBy("blockPos", "offset")
    writeCsvOrdered(df, out)
  }
  /** Scan split size that fills the cluster's cores: the file divided by
    * `defaultParallelism`, 8 MiB at most and 64 KiB at least. */
  private[ops] def coreFillingSplitSize(spark: SparkSession, path: String): Long = {
    val cores = spark.sparkContext.defaultParallelism
    math.min(8L << 20, math.max(64L << 10, (Bai.fileLen(path) + cores - 1) / cores))
  }

  /** Build a standard `.bai` for a coordinate-sorted BAM from the source
    * itself, in one narrow job. Each task folds its scan partition into a
    * [[Bai.Builder]]: a record's end virtual offset is its successor's
    * start (BAM records are contiguous in the uncompressed stream), so
    * each task holds its last record back and returns it with its partial
    * index and its first record start. The driver merges the partials in
    * partition order; a held-back record ends at the next non-empty
    * partition's first start, the file's last at `fileLen << 16`. Only
    * the partial indexes (bounded by bins and 16 kb windows) reach the
    * driver for the final small binary write, like the reference's index
    * writers. */
  def indexBai(spark: SparkSession, path: String): Unit = {
    val parts = spark.read.format("bam")
      .option("splitSize", coreFillingSplitSize(spark, path)).load(path)
      .select("refIdx", "pos", "endPos", "virtualPos").queryExecution.toRdd
      .mapPartitions { rows =>
        val part = new Bai.Builder(path)
        var first = -1L
        var held: HeldRecord = null
        rows.foreach { r =>
          val vp = r.getStruct(3, 2)
          val vbeg = (vp.getLong(0) << 16) | vp.getInt(1)
          if (held == null) first = vbeg else held.addTo(part, vbeg)
          held = HeldRecord(r.getInt(0), r.getInt(1), r.getInt(2), vbeg)
        }
        Iterator.single((first, part, Option(held)))
      }.collect()
    val index = new Bai.Builder(path)
    var held: Option[HeldRecord] = None
    parts.foreach { case (first, part, last) =>
      if (last.isDefined) {
        held.foreach(_.addTo(index, first))
        index ++ part
        held = last
      }
    }
    held.foreach(_.addTo(index, Bai.fileLen(path) << 16))
    Bai.write(path, index.result(readContigLens(path).length))
  }

  /** A record whose end virtual offset is not known yet; only mapped
    * records (`refIdx >= 0`) enter the index. */
  private final case class HeldRecord(refIdx: Int, pos: Int, end: Int, vbeg: Long) {
    def addTo(b: Bai.Builder, vend: Long): Unit =
      if (refIdx >= 0) b.add(refIdx, pos, end, vbeg, vend)
  }

  /** Ordered single-file writer: streams partitions through the driver one
    * at a time (`toLocalIterator`) — constant driver memory, matching the
    * reference's single-file index sinks without their full materialize. */
  private def writeCsvOrdered(df: DataFrame, out: String): Unit = {
    val w = new java.io.PrintWriter(out)
    try df.toLocalIterator().forEachRemaining(r =>
      w.println((0 until r.length).map(r.get).mkString(",")))
    finally w.close()
  }

  /** Runs `f` on every block of the catalog, range-partitioned by start:
    * one `BlockReader` and `Checker` per task, closed when the task ends
    * — the reference's CallPartition pattern
    * (cli/.../CallPartition.scala:34-53). `f` gets the reader, the checker
    * and the block's start and uncompressed size. */
  private[ops] def blockTasks[T: Encoder](spark: SparkSession, path: String, numPartitions: Int)(
      f: (BlockReader, Checker, Long, Int) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val contigLens = readContigLens(path)
    val conf = BamDataSource.serializableConf()
    blocks(spark, path).repartitionByRange(numPartitions, col("start"))
      .as[(Long, Int, Int)]
      .mapPartitions { metas =>
        if (!metas.hasNext) Iterator.empty
        else {
          val blocks = new BlockReader(SeekableInput.open(path, conf.value))
          val checker = new Checker(blocks, contigLens)
          // driver-side (tests) there is no task: rely on GC
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => blocks.close()))
          metas.flatMap { case (start, _, usize) => f(blocks, checker, start, usize) }
        }
      }
  }

  /** Per-position checker calls: every uncompressed position of every
    * block, with the eager and relaxed checkers' verdicts. */
  def checkerCalls(spark: SparkSession, path: String, numPartitions: Int = 8): DataFrame = {
    import spark.implicits._
    blockTasks(spark, path, numPartitions) { (_, checker, start, usize) =>
      (0 until usize).iterator.map { off =>
        val p = Pos(start, off)
        (start, off, checker.eager(p), checker.relaxed(p))
      }
    }.toDF("blockPos", "offset", "eagerCall", "relaxedCall")
  }

  /** check-bam (§2.11): calls ⋈ ground truth (J1) → confusion matrix (A2).
    * `expected` = position is a true record start per the `.records`
    * side-car; one row per (expected, call) cell with counts. */
  def checkBam(spark: SparkSession, path: String, checker: String = "eager",
               numPartitions: Int = 8): DataFrame = {
    val calls = checkerCalls(spark, path, numPartitions)
    val truth = records(spark, path).withColumn("isRecord", lit(true))
    val callCol = if (checker == "relaxed") col("relaxedCall") else col("eagerCall")
    calls
      .join(truth, Seq("blockPos", "offset"), "left_outer")
      .select(coalesce(col("isRecord"), lit(false)).as("expected"),
        callCol.as("call"))
      .groupBy("expected", "call").agg(count(lit(1)).as("n"))
      .orderBy("expected", "call")
  }

  /** check-blocks (§2.11, cli/.../blocks/CheckBlocks.scala:29-194): for
    * every block, the eager checker's next-record-start from the block
    * head vs the ground truth from the `.records` side-car; emits one row
    * per block with both positions, the mismatch flag, and the in-block
    * first-record offset (the reference's first-offset histogram input,
    * A5). */
  def checkBlocks(spark: SparkSession, path: String,
                  numPartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val eager = blockTasks(spark, path, numPartitions) { (blocks, checker, start, _) =>
      val p = graft.bam.check.FindRecordStart(blocks, checker, start)
      Iterator.single((start, p.fold(-1L)(_.blockPos), p.fold(-1)(_.offset)))
    }.toDF("start", "eagerBlock", "eagerOffset")
    // truth: first record position at-or-after each block start, filled
    // backward from the per-block minima. Two-phase distributed fill
    // (graft.ops.ScalableWindow) — a bare Window.orderBy here would drag
    // the whole block catalog (~10⁹ rows at 100 TB) through one task.
    val firstPerBlock = records(spark, path)
      .groupBy("blockPos").agg(min("offset").as("ownFirst"))
    val joined = blocks(spark, path)
      .join(firstPerBlock, col("start") === col("blockPos"), "left")
      .withColumn("ownPos", when(col("ownFirst").isNotNull,
        struct(col("start").as("b"), col("ownFirst").as("o"))))
    val truth = graft.ops.ScalableWindow
      .fillBackward(joined, Seq("start"), col("ownPos"), "tp")
      .select(col("start"),
        coalesce(col("tp.b"), lit(-1L)).as("truthBlock"),
        coalesce(col("tp.o"), lit(-1)).as("truthOffset"))
    eager.join(truth, "start")
      .withColumn("matches",
        col("eagerBlock") === col("truthBlock") &&
          col("eagerOffset") === col("truthOffset"))
      .withColumn("firstOffsetInBlock",
        when(col("eagerBlock") === col("start"), col("eagerOffset")))
      .select("start", "eagerBlock", "eagerOffset", "truthBlock",
        "truthOffset", "matches", "firstOffsetInBlock")
  }

  /** compute-splits analog (S7): the realized split layout — per input
    * partition, its first record position and record count. */
  def splits(spark: SparkSession, path: String, splitSize: Long): DataFrame = {
    spark.read.format("bam").option("splitSize", splitSize.toString).load(path)
      .select(spark_partition_id().as("split"),
        col("virtualPos.blockPos").as("blockPos"),
        col("virtualPos.offset").as("offset"))
      .groupBy("split")
      .agg(min(struct(col("blockPos"), col("offset"))).as("start"),
        count(lit(1)).as("numRecords"))
      .select(col("split"), col("start.blockPos").as("startBlock"),
        col("start.offset").as("startOffset"), col("numRecords"))
      .orderBy("split")
  }

  /** loadBamIntervals analog (S5/P2): records overlapping any of the given
    * (contig, start, end) half-open intervals. The overlap predicate is a
    * plain Catalyst filter (pushdown-eligible); interval list is tiny and
    * inlined — the broadcast-join form of J4. */
  def intervals(spark: SparkSession, path: String,
                ivs: Seq[(String, Int, Int)]): DataFrame = {
    val reads = spark.read.format("bam").load(path)
    // empty interval set (loci "none") selects nothing, not everything
    val cond = ivs.map { case (c, lo, hi) =>
      col("contig") === c && col("pos") < hi && col("endPos") > lo
    }.reduceOption(_ || _).getOrElse(lit(false))
    reads.filter(col("refIdx") >= 0 && cond)
  }

  /** loadBamIntervals from a loci STRING (`"1:13000-14000,1:60000-"`) — the
    * reference's user-facing surface (ParsedLoci + LociSet resolution
    * against header contig lengths, docs/api.md:44-62). Open-ended ranges
    * close at the contig end from this file's header dictionary. */
  def intervalsFromLoci(spark: SparkSession, path: String,
                        loci: String): DataFrame =
    intervals(spark, path,
      graft.bam.Loci.resolve(graft.bam.Loci.parse(loci), readContigs(path)))

  /** The block catalog restricted to a byte-range-set string
    * (`"0-64k,1m+128k"` — the reference check apps' `--ranges` option,
    * args/Range.scala grammar): blocks whose compressed start falls in the
    * set. Driver-side parse, distributed filter. */
  def blocksInRanges(spark: SparkSession, path: String,
                     ranges: String): DataFrame = {
    val rs = graft.util.Ranges.parse(ranges)
    val cond = rs.map { case (s, e) => col("start") >= s && col("start") < e }
      .reduceOption(_ || _).getOrElse(lit(false))
    blocks(spark, path).filter(cond)
  }

  private[ops] def readContigLens(path: String): IndexedSeq[Int] =
    readContigs(path).map(_._2)

  /** The typed face of the bam source: `Dataset[BamRead]` (fields resolve
    * by name; pruning still applies to columns the caller projects). */
  def readsDS(spark: SparkSession, path: String,
              options: Map[String, String] = Map.empty): Dataset[graft.bam.BamRead] = {
    import spark.implicits._
    spark.read.format("bam").options(options).load(path).as[graft.bam.BamRead]
  }

  /** Header contig dictionary: (name, length) in refIdx order. */
  def readContigs(path: String): IndexedSeq[(String, Int)] =
    BamScan.header(path).contigs.map(c => c.name -> c.length)
}
