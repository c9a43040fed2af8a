package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Query registry shared by [[graft.SparkEntry]], Verify and Bench.
  *
  * Each [[graft.queries.Q]] pairs a Spark (DataFrame-API) implementation with
  * an optional ANSI-SQL oracle executed by the driver in DuckDB over the same
  * parquet tables. Conventions that make the hash-compare deterministic:
  *
  *  - Money/measure aggregations are computed in exact decimal
  *    (`cast(decimal(18,2))`, see [[queries.dsum]]) and only cast to double at
  *    the very end: the final decimal→double conversion is correctly rounded
  *    in both engines for values far below 2^53, so the bits match regardless
  *    of partial-aggregation order. Raw `sum(double)` would be
  *    order-dependent and shuffle-nondeterministic.
  *  - Column names are aliased identically on both sides (driver sorts
  *    columns by name before hashing).
  *  - Output never contains raw timestamps (engines disagree on ns/us
  *    truncation); dates/strings only.
  */
package object queries {

  /** Exact decimal type used for money-ish doubles in the test tables. */
  val D: DecimalType = DecimalType(18, 2)

  /** A scratch directory that is RECLAIMED at JVM exit: store-backed
    * gate queries (agg/doc/vector/fingerprint stores) materialize a
    * complete store per invocation, and bare `createTempDirectory` dirs
    * accumulated unbounded /tmp usage over long verify/bench campaigns.
    * One shutdown hook sweeps everything registered here. */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    ScratchDirs.register(p)
    p.toString
  }

  /** Reclaim every scratch directory registered so far, NOW — the
    * between-queries sweep [[graft.Bench]] runs so a 175-query campaign
    * doesn't accumulate hundreds of store copies on the scratch disk
    * (each store-backed query materializes a fresh store per run; none
    * is read across query boundaries, so sweeping between queries is
    * safe by construction). The at-exit hook stays as the backstop for
    * Verify and ad-hoc runs. */
  def sweepScratch(): Unit = ScratchDirs.sweepNow()

  /** Total scratch dirs EVER registered (monotonic, survives sweeps):
    * [[graft.Bench]] diffs it around a query run to detect
    * store-lifecycle queries — the ones that need an sf-dir warm pass
    * and a full between-queries GC. */
  def scratchRegistrations: Long = ScratchDirs.registrations

  private object ScratchDirs {
    private val counter = new java.util.concurrent.atomic.AtomicLong(0L)
    def registrations: Long = counter.get()
    private val dirs =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
    private def sweep(): Unit =
      dirs.forEach { d =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(d).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => try java.nio.file.Files.deleteIfExists(p)
              catch { case NonFatal(e) =>
                System.err.println(s"scratch sweep: cannot delete $p: $e") })
        } catch { case NonFatal(e) => System.err.println(s"scratch sweep: cannot walk $d: $e") }
      }
    private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
      new Thread(() => sweep(), "graft-scratch-sweep"))
    def register(p: java.nio.file.Path): Unit = {
      hook; counter.incrementAndGet(); dirs.add(p)
    }
    def sweepNow(): Unit = { sweep(); dirs.clear() }
  }

  /** Order-insensitive exact sum of a double column: decimal-exact partials,
    * one final correctly-rounded cast to double. */
  def dsum(c: Column): Column = sum(c.cast(D)).cast("double")

  /** Exact mean implemented as decimal sum / count in double space. */
  def dmean(c: Column): Column = sum(c.cast(D)).cast("double") / count(lit(1))

  /** Load one of the driver-provided tables from the given sf dir. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Load `documents`, pinning the dtypes every query assumes. The r7
    * events regression (driver regenerated the parquet with a different
    * physical type and every consumer died at analysis) applies to any
    * table: these casts are no-ops against today's files and keep the
    * whole tier loading if the generator's types drift. */
  def tDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"),
      col("lang").cast("string").as("lang"),
      col("source").cast("string").as("source"),
      col("n_chars").cast("long").as("n_chars"))

  /** Load `embeddings` with pinned dtypes — see [[tDocs]]. */
  def tEmbeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"),
      col("label").cast("int").as("label"))

  /** Load the events table, normalizing `ts` to session-zoned TimestampType
    * whatever the file's physical type is:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 refuses it as a timestamp, so it is
    *    read as raw nanos (`nanosAsLong`) and converted with integer division
    *    (ns ~1.7e18 exceeds double precision — `DIV`, not `/`). DuckDB's
    *    `epoch_us` truncates the same way.
    *  - parquet timestamp[us] without UTC adjustment: Spark infers
    *    TIMESTAMP_NTZ; cast to TimestampType, which is value-preserving
    *    because every entry point pins `spark.sql.session.timeZone=UTC`.
    *  - already TimestampType: used as-is.
    */
  def tEvents(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}

package queries {

  /** One registered query: Spark impl + optional DuckDB oracle SQL. */
  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String]
  )
}
