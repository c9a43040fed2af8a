package graft.bam.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bam.check.{FindRecordStart, SplitStart}
import graft.bam.codec.{Bam, Pos}
import graft.bam.io.{BlockReader, SeekableInput}
import graft.util.Stats

/** The reference's headline benchmark apps — compute-splits, compare-splits
  * and time-load (SURVEY.md §2.11, A13; reference:
  * cli/.../ComputeSplits.scala:42-154, compare/CompareSplits.scala:27-153,
  * compare/TimeLoad.scala:22-109) — re-expressed Spark-first.
  *
  * The reference races its own eager checker against hadoop-bam's; offline
  * we race the same algorithm pair: the eager checker vs the documented
  * hadoop-bam-profile `relaxed` checker (see [[graft.bam.check.Checker]]).
  * compare-splits distributes one task per BAM (the reference's PathChecks
  * parallelize, compare/PathChecks.scala:28-40) and monoid-reduces the
  * per-file results to totals + a ratio [[Stats]] — at 100 TB the unit of
  * parallelism is the file, and nothing but one small Result row per file
  * crosses the shuffle.
  */
object SplitTiming {

  /** Per-BAM outcome of racing the two split algorithms (reference:
    * compare/Result.scala:26-34). */
  final case class Result(path: String, numEager: Int, numRelaxed: Int,
                          numEagerOnly: Int, numRelaxedOnly: Int,
                          eagerMS: Long, relaxedMS: Long)

  /** Sequential in-task split computation for one file: resolve every
    * byte-range boundary to its first record by [[SplitStart]], the rule
    * the DSv2 reader uses, with the checker profile pluggable. Returns
    * distinct split-start positions; an unreadable header fails naming
    * the path. */
  def computeSplits(path: String, splitSize: Long, relaxed: Boolean,
                    blocksToCheck: Int = 5, readsToCheck: Int = 10,
                    maxReadSize: Int = FindRecordStart.MaxReadSize,
                    conf: org.apache.hadoop.conf.Configuration =
                      new org.apache.hadoop.conf.Configuration()): Vector[Pos] = {
    val blocks = new BlockReader(SeekableInput.open(path, conf))
    try {
      val splitStart = new SplitStart(blocks, Bam.readHeader(blocks, path), relaxed,
        blocksToCheck, readsToCheck, maxReadSize)
      val len = blocks.fileLength
      (0L until len by splitSize).iterator
        .flatMap(s => splitStart(s, math.min(s + splitSize, len)))
        .toVector.distinct.sorted
    } finally blocks.close()
  }

  /** Race both algorithms on one file (timed), diff the layouts. */
  def resultFor(path: String, splitSize: Long,
                conf: org.apache.hadoop.conf.Configuration =
                  new org.apache.hadoop.conf.Configuration()): Result = {
    val t0 = System.nanoTime()
    val eager = computeSplits(path, splitSize, relaxed = false, conf = conf)
    val t1 = System.nanoTime()
    val relax = computeSplits(path, splitSize, relaxed = true, conf = conf)
    val t2 = System.nanoTime()
    val es = eager.toSet
    val rs = relax.toSet
    Result(path, eager.length, relax.length,
      es.diff(rs).size, rs.diff(es).size,
      math.max(1L, (t1 - t0) / 1000000), math.max(1L, (t2 - t1) / 1000000))
  }

  /** compare-splits: one task per BAM in the list; only a small Result row
    * per file returns to the driver. */
  def compareSplits(spark: SparkSession, paths: Seq[String],
                    splitSize: Long): DataFrame = {
    import spark.implicits._
    val conf = graft.bam.ds.BamDataSource.serializableConf()
    spark.createDataset(paths)
      .repartition(paths.length)
      .map(p => resultFor(p, splitSize, conf.value))
      .toDF()
      .orderBy("path")
  }

  /** The reference's compare-splits report: totals line, per-algorithm
    * split-computation time, timing-ratio Stats (CompareSplits.scala:88-152
    * output shape; ratio = eager time / relaxed time, the analog of its
    * spark-bam/hadoop-bam ratio). */
  def report(results: Seq[Result]): String = {
    val numBams = results.length
    val totEager = results.map(_.numEager).sum
    val totRelaxed = results.map(_.numRelaxed).sum
    val mismatched = results.filter(r => r.numEagerOnly + r.numRelaxedOnly > 0)
    val header =
      if (mismatched.isEmpty)
        s"All $numBams BAMs' splits (totals: $totEager, $totRelaxed) matched!"
      else {
        val eagerOnly = results.map(_.numEagerOnly).sum
        val relaxedOnly = results.map(_.numRelaxedOnly).sum
        s"${mismatched.length} of $numBams BAMs' splits didn't match " +
          s"(totals: $totEager, $totRelaxed; $eagerOnly, $relaxedOnly unmatched)"
      }
    val ratios = results.map(r => r.eagerMS.toDouble / r.relaxedMS)
    val ratioBlock =
      if (ratios.length > 1) s"Ratios:\n${Stats(ratios)}\n"
      else f"Ratio: ${ratios.head}%.1f\n"
    s"""$header
       |
       |Total split-computation time:
       |\trelaxed:\t${results.map(_.relaxedMS).sum}
       |\teager:\t${results.map(_.eagerMS).sum}
       |
       |$ratioBlock""".stripMargin
  }

  /** Timed first-read-name-per-partition collection through one checker
    * profile — the shared kernel of time-load's race (reference:
    * compare/TimeLoad.scala:30-48), used by both the DataFrame summary
    * ([[timeLoad]]) and the CLI report (SplitReports.timeLoadReport) so
    * the two surfaces can never diverge. */
  def firstNames(spark: SparkSession, path: String, splitSize: Long,
                 checker: String): (Long, Array[String]) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val names = spark.read.format("bam")
      .option("splitSize", splitSize.toString)
      .option("checker", checker)
      .load(path)
      .select("readName").as[String]
      .mapPartitions(it => if (it.hasNext) Iterator.single(it.next()) else Iterator.empty)
      .collect()
    (math.max(1L, (System.nanoTime() - t0) / 1000000), names)
  }

  /** time-load: collect the first read name of every partition through the
    * eager-checker loader and the relaxed-checker loader (the `checker`
    * source option), timed, and diff the name sets (reference:
    * compare/TimeLoad.scala:30-98). One row summarizing the race. */
  def timeLoad(spark: SparkSession, path: String, splitSize: Long): DataFrame = {
    import spark.implicits._
    val (eagerMS, eager) = firstNames(spark, path, splitSize, "eager")
    val (relaxedMS, relaxed) = firstNames(spark, path, splitSize, "relaxed")
    val es = eager.toSet
    val rs = relaxed.toSet
    Seq((eager.length, relaxed.length, es.diff(rs).size, rs.diff(es).size,
      es == rs, eagerMS, relaxedMS))
      .toDF("eager_partitions", "relaxed_partitions",
        "eager_only_reads", "relaxed_only_reads", "all_matched",
        "eager_ms", "relaxed_ms")
  }
}
