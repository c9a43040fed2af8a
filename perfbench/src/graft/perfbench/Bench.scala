package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bam.codec.Pos
import graft.bam.ops.{BamOps, BamSink, SplitTiming}

/** One workload: untimed set-up and warm-up, then rounds of timed
  * operations. `op(i)` runs operation `i` of a round and returns the check
  * of its output, which the loop runs after the timer stops. Checks return
  * their mismatches, empty when the output is right. */
abstract class Workload {
  def roundSize: Int = 1
  /** Untimed warm-up; returns the mismatches of any check it made. */
  def warmUp(): Seq[String]
  def op(i: Int): () => Seq[String]
  /** The BAM file the operations read, for the layer sweeps. */
  def input: String
  /** Frames whose scans one round plans (for `ds.*`); none without Spark. */
  def plannedFrames: Seq[DataFrame] = Nil
  def close(): Unit = ()
}

/** `scan`: full-schema passes over the large unsorted BAM with default
  * options, written to the noop sink. The noop passes give no rows back, so
  * the second warm-up pass is the checked one: a full-schema pass whose
  * decoded rows [[Checks.scan]] compares with the truth. */
final class ScanWorkload(spark: SparkSession, dir: Path) extends Workload {
  val input: String = dir.resolve("unsorted.bam").toString
  private def pass(): Unit = spark.read.format("bam").load(input).write.format("noop").mode("overwrite").save()
  def warmUp(): Seq[String] = {
    pass()
    Checks.scan(spark.read.format("bam").load(input), Truth.read(dir.resolve("unsorted.truth")))
  }
  def op(i: Int): () => Seq[String] = { pass(); () => Nil }
  override def plannedFrames: Seq[DataFrame] = Seq(spark.read.format("bam").load(input))
}

/** `splits`: `SplitTiming.computeSplits` with the eager checker over the
  * same large BAM, with splits small enough that boundary search is most
  * of the work. One operation is `cores` computations of the whole file at
  * once, one per thread, as a driver planning several files does: a lone
  * thread's speed on a shared host swings far more between runs than that
  * of a fully busy set of cores. Needs no Spark session. */
final class SplitsWorkload(dir: Path, cores: Int) extends Workload {
  val input: String = dir.resolve("unsorted.bam").toString
  private lazy val expected = Checks.expectedSplits(Truth.read(dir.resolve("unsorted.truth")), Bench.SplitSize)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(cores, (r: Runnable) => {
    val t = new Thread(r, "splits"); t.setDaemon(true); t
  })
  private def compute(): Seq[Vector[Pos]] = {
    val tasks = (1 to cores).map { _ =>
      pool.submit(() => SplitTiming.computeSplits(input, Bench.SplitSize, relaxed = false))
    }
    tasks.map(_.get())
  }
  def warmUp(): Seq[String] = { (1 to 2).foreach(_ => compute()); Nil }
  def op(i: Int): () => Seq[String] = {
    val got = compute()
    () => got.flatMap(Checks.splits(_, expected))
  }
  override def close(): Unit = pool.shutdownNow()
}

/** `intervals`: rounds of seeded interval queries over the sorted BAM,
  * with a `.bai` the program builds in set-up. One operation is one query
  * answering count and position extremes. */
final class IntervalsWorkload(spark: SparkSession, dir: Path) extends Workload {
  val input: String = dir.resolve("sorted.bam").toString
  private val truth = Truth.read(dir.resolve("sorted.truth"))
  Files.deleteIfExists(Paths.get(input + ".bai"))
  BamOps.indexBai(spark, input)

  override def roundSize: Int = truth.queries.length
  private def frame(q: Query): DataFrame =
    BamOps.intervals(spark, input, Seq((truth.contigs(q.contig).name, q.lo, q.hi)))
  private def run(i: Int) =
    frame(truth.queries(i)).agg(count(lit(1)), min("pos"), max("pos"), sum("pos")).collect().head
  def warmUp(): Seq[String] = { (1 to 2).foreach(_ => (0 until roundSize).foreach(run)); Nil }
  def op(i: Int): () => Seq[String] = {
    val row = run(i)
    () => Checks.interval(truth.queries(i), row)
  }
  override def plannedFrames: Seq[DataFrame] = truth.queries.map(frame)
}

/** `rewrite`: `BamSink.rewrite` of the sorted BAM to a fresh path; each
  * output is parsed by the benchmark's own reader and then deleted. */
final class RewriteWorkload(spark: SparkSession, dir: Path, work: Path) extends Workload {
  val input: String = dir.resolve("sorted.bam").toString
  private val truth = Truth.read(dir.resolve("sorted.truth"))
  private val outDir = Files.createDirectories(work.resolve("rewrite"))
  private var n = 0
  private def rewrite(): Path = {
    n += 1
    val out = outDir.resolve(s"out-$n.bam")
    BamSink.rewrite(spark, input, out.toString)
    out
  }
  def warmUp(): Seq[String] = { (1 to 2).foreach(_ => Files.delete(rewrite())); Nil }
  def op(i: Int): () => Seq[String] = {
    val out = rewrite()
    () => try Checks.rewrite(Files.readAllBytes(out), truth) finally Files.delete(out)
  }
  override def plannedFrames: Seq[DataFrame] = Seq(spark.read.format("bam").load(input))
}

/** Entry point of the benchmark JVM. Arguments:
  * `<workload> <inputDir> <workDir> <seconds> <trace 0|1> <cores>`.
  * Prints one line `PERFBENCH {json}` with `correct`, `attempted`,
  * `failed` and a name → value map of the metrics (units live in
  * BENCHMARK.json). */
object Bench {

  /** Split size of the `splits` workload and of the split-start sweep. */
  val SplitSize: Long = 1L << 20

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.locality.wait", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNanos(): Long = osBean.getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, dataDir, workDir, seconds, traceArg, coresArg) = args
    val dir = Paths.get(dataDir)
    val work = Files.createDirectories(Paths.get(workDir))
    val trace = traceArg == "1"
    val cores = coresArg.toInt

    val spark = if (workload == "splits") None else Some(session(work, cores))
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val wl: Workload = workload match {
      case "scan" => new ScanWorkload(spark.get, dir)
      case "splits" => new SplitsWorkload(dir, cores)
      case "intervals" => new IntervalsWorkload(spark.get, dir)
      case "rewrite" => new RewriteWorkload(spark.get, dir, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val phases = ArrayBuffer[(String, Long)]("start" -> jvmStartMs)
    phases += "workload set-up" -> System.currentTimeMillis()
    val mismatches = ArrayBuffer.from(wl.warmUp())
    val firstOpMs = System.currentTimeMillis()
    phases += "warm-up" -> firstOpMs

    val deadline = System.nanoTime() + seconds.toLong * 1000000000L
    val walls = ArrayBuffer.empty[Double]
    val cpus = ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    while (attempted == 0 || System.nanoTime() < deadline) {
      var i = 0
      while (i < wl.roundSize) {
        tracer.foreach(_.beginOp(attempted))
        val c0 = cpuNanos()
        val w0 = System.nanoTime()
        val check =
          try Some(wl.op(i))
          catch {
            case NonFatal(e) =>
              System.err.println(s"operation $attempted ($workload #$i) failed:")
              e.printStackTrace()
              None
          }
        val wall = (System.nanoTime() - w0) / 1e9
        val cpu = (cpuNanos() - c0) / 1e9
        tracer.foreach(_.endOp(attempted))
        attempted += 1
        check match {
          case Some(c) =>
            walls += wall; cpus += cpu
            val found = try c() catch { case NonFatal(e) => Seq(s"output check raised $e") }
            mismatches ++= found.map(m => s"op $attempted ($workload #$i): $m")
          case None => failed += 1
        }
        i += 1
      }
    }
    phases += "timed loop" -> System.currentTimeMillis()
    println(phases.zip(phases.tail).map { case ((_, a), (k, b)) => f"$k ${(b - a) / 1e3}%.1f s" }
      .mkString("# phases: ", ", ", ""))
    mismatches.take(20).foreach(m => System.err.println(s"MISMATCH $m"))

    val opS = median(walls.toSeq)
    println(walls.map(w => f"$w%.3f").mkString("# op_s of each operation: ", " ", ""))
    val metrics: Seq[(String, Double)] = tracer match {
      case None => Seq(
        "setup_s" -> (firstOpMs - jvmStartMs) / 1000.0,
        "op_s" -> opS,
        "cpu_s_per_op" -> median(cpus.toSeq))
      case Some(t) =>
        println(f"# traced op_s=$opS%.4f over ${walls.length} operations")
        // the first sweep warms the JIT for layers the operations did not run
        Layers.sweep(wl.input, SplitSize)
        t.engine() ++ t.planning(wl.plannedFrames) ++ Layers.sweep(wl.input, SplitSize)
    }
    val json = metrics.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    println(s"""PERFBENCH {"correct": ${mismatches.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $json}""")
    System.out.flush()
    wl.close()
    spark.foreach(_.stop())
    sys.exit(0)
  }
}
