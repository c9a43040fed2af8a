package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval joins without an equi key.
  *
  * Spark plans a pure range condition (`lo <= p AND p < hi`) as a
  * nested-loop join — O(|points| × |intervals|) comparisons and, when
  * neither side is broadcastable, a plan that simply does not run at
  * 100 TB. The standard fix (Databricks' range-join optimization,
  * Postgres GiST bins) is to discretize: slice the value domain into
  * fixed-width bins, replicate each interval into every bin it touches,
  * tag each point with its single bin, and run a plain shuffled EQUI join
  * on the bin id with the exact range predicate as a residual filter.
  *
  * Cost model: intervals replicate ×(span/binWidth + 1) — pick binWidth
  * near the typical interval span so the blow-up is a small constant —
  * and the join itself becomes hash-partitionable, AQE-skew-splittable,
  * and codegen'd like any other equi join. Each (interval, bin) row is
  * unique and a point owns exactly one bin, so no pair is produced twice
  * (no post-join dedup needed).
  *
  * Coordinates are integers with `lo < hi` (half-open [lo, hi)) —
  * negatives included: binning uses true FLOOR division (Spark's `div`
  * truncates toward zero, which would silently mis-bin negative
  * coordinates and drop overlap pairs — the worst failure class, wrong
  * instead of slow).
  */
object RangeJoinOps {

  /** True floor division of integral SQL expression `e` by `w` as a
    * codegen'd Column: Spark's `div` truncates toward zero, so adjust
    * down by one when the remainder is negative (w > 0 here). */
  private def floorDiv(e: String, w: Long): org.apache.spark.sql.Column = {
    val q = expr(s"($e) div $w")
    when(expr(s"($e) % $w") < 0, q - 1).otherwise(q)
  }

  /** Join `points` (column `pCol`) to `intervals` ([`loCol`, `hiCol`))
    * on containment, as a bin-equi join. Output: all columns of both
    * inputs, one row per containing (point, interval) pair. */
  def binnedPointIntervalJoin(
      points: DataFrame,
      pCol: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val binned = intervals.withColumn("__bin",
      explode(sequence(
        floorDiv(loCol, binWidth),
        floorDiv(s"$hiCol - 1", binWidth))))
    points
      .withColumn("__bin", floorDiv(pCol, binWidth))
      .join(binned, "__bin")
      .filter(col(pCol) >= col(loCol) && col(pCol) < col(hiCol))
      .drop("__bin")
  }

  /** INTERVAL-interval overlap join — the genomic reads ⋈ annotations
    * shape ([s1,e1) ∩ [s2,e2) ≠ ∅), same discretization idea with one
    * extra wrinkle: BOTH sides replicate into every bin they touch, so
    * an overlapping pair meets in every bin their intersection spans.
    * Emitting it once per shared bin and `distinct`-ing after would add
    * a full output-sized shuffle; instead each pair is emitted exactly
    * once by the FIRST-SHARED-BIN rule — keep a joined row only in the
    * bin containing `max(s1, s2)`, the intersection's lower end, which
    * both sides provably replicated into. The join stays a plain
    * shuffled equi join on the bin id (hash-partitionable, AQE-skew-
    * splittable, codegen'd); the overlap test and the first-bin rule
    * are residual filters.
    *
    * Same domain requirement as above; column names must be disjoint
    * across the two inputs (genomic callers join per contig — add the
    * contig to the bin key by prefixing it into the coordinates or
    * pre-partitioning, as the `.bai` keeps one bin tree per contig, [[graft.bam.ds.Bai]]). */
  def binnedIntervalJoin(
      left: DataFrame, lLoCol: String, lHiCol: String,
      right: DataFrame, rLoCol: String, rHiCol: String,
      binWidth: Long): DataFrame =
    binnedIntervalJoinKeyed(left, lLoCol, lHiCol, right, rLoCol, rHiCol,
      binWidth, keys = Nil)

  /** [[binnedIntervalJoin]] with equality PARTITION keys joined
    * alongside the bin — the per-contig genomic form (reads overlap
    * annotations only within the same chromosome): the shuffle key
    * becomes (keys..., bin), so coordinates never need contig-prefixing
    * and a hot contig still splits across its bins. `keys` name columns
    * present on BOTH sides. */
  def binnedIntervalJoinKeyed(
      left: DataFrame, lLoCol: String, lHiCol: String,
      right: DataFrame, rLoCol: String, rHiCol: String,
      binWidth: Long, keys: Seq[String]): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    def binned(df: DataFrame, lo: String, hi: String) =
      df.withColumn("__bin",
        explode(sequence(
          floorDiv(lo, binWidth),
          floorDiv(s"$hi - 1", binWidth))))
    binned(left, lLoCol, lHiCol)
      .join(binned(right, rLoCol, rHiCol), ("__bin" +: keys).toIndexedSeq)
      // overlap of half-open intervals
      .filter(col(lLoCol) < col(rHiCol) && col(rLoCol) < col(lHiCol))
      // first-shared-bin: exactly one of the pair's common bins keeps it
      .filter(col("__bin") ===
        floorDiv(s"greatest($lLoCol, $rLoCol)", binWidth))
      .drop("__bin")
  }
}
