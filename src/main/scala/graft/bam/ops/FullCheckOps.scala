package graft.bam.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bam.codec.Pos

/** full-check (§2.11): run the flag-collecting checker at every uncompressed
  * position and aggregate the error-flag structure — the reference's
  * FullCheck analytics (cli/.../full/FullCheck.scala:86-325) as one
  * DataFrame pipeline: flags struct → per-flag monoid sums by flag count
  * (A7), running CDF over sorted counts (A8), positions-per-count (A9),
  * close-call filters (P8), flag-name display via concat_ws (F9).
  */
object FullCheckOps {

  val flagNames: Seq[String] = graft.bam.check.Flags.fields.map(_._1)

  /** Per-position full-checker verdicts: one row per uncompressed position
    * with the 19 flag booleans (all-false = valid record start). */
  def fullCalls(spark: SparkSession, path: String, numPartitions: Int = 8): DataFrame = {
    import spark.implicits._
    BamOps.blockTasks(spark, path, numPartitions) { (_, checker, start, usize) =>
      (0 until usize).iterator.map { off =>
        checker.full(Pos(start, off)) match {
          case None => (start, off, true, 0, Array.empty[String], 0)
          case Some(f) =>
            (start, off, false, f.numNonZeroFields,
              flagNames.zip(f.setFields).collect { case (n, true) => n }.toArray,
              f.readsBeforeError)
        }
      }
    }.toDF("blockPos", "offset", "ok", "numFlags", "flags", "readsBeforeError")
  }

  /** Flag-combination histogram, desc by count, with the comma-joined flag
    * names as display (reference prints `a,b,c` lines). */
  def flagsHistogram(calls: DataFrame): DataFrame =
    calls.filter(!col("ok"))
      .groupBy(concat_ws(",", col("flags")).as("flagset"), col("numFlags"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("flagset"))

  /** Positions-per-flag-count PDF + running CDF (A8/A9). The domain after
    * the aggregate is tiny (≤19 flag counts), so the running sum is a
    * theta self-join on the count key — same post-agg-carry pattern as
    * [[graft.ops.ScalableWindow]], and no partition-less WindowExec. */
  def numFlagsCdf(calls: DataFrame): DataFrame = {
    val pdf = calls.groupBy("numFlags").agg(count(lit(1)).as("n"))
    val b = pdf.select(col("numFlags").as("__k"), col("n").as("__n"))
    pdf.join(b, col("__k") <= col("numFlags"))
      .groupBy("numFlags", "n").agg(sum("__n").as("cdf"))
      .orderBy("numFlags")
  }

  /** Close calls (P8): positions failing ≤ `maxFlags` checks — the
    * near-misses the reference reports as the danger zone. */
  def closeCalls(calls: DataFrame, maxFlags: Int = 2): DataFrame =
    calls.filter(!col("ok") && col("numFlags") <= maxFlags)
      .select("blockPos", "offset", "numFlags", "flags")
}
