package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.bam.check.{Checker, FindBlockStart, FindRecordStart}
import graft.bam.codec.{Bam, Bgzf, Pos}
import graft.bam.ds.{BamInputPartition, BamPartitionReader, BamSchema}
import graft.bam.io.{BlockReader, LocalFileInput, SeekableInput, UncompressedReader}

/** Engine-level trace of the timed operations of a traced run: a
  * `SparkListener` groups jobs, stages and tasks by the operation that
  * submitted them (a local property set around each operation). Only the
  * traced run installs it. */
final class Tracer(spark: Option[SparkSession]) {
  private val OpKey = "perfbench.op"
  private final case class Task(durationMs: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long)
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Task]]
  private val opSpan = mutable.Map.empty[Int, (Long, Long)]

  spark.foreach(_.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
        jobOp(e.jobId) = op.toInt
        jobSpan(e.jobId) = (e.time, Long.MaxValue)
        e.stageIds.foreach(s => stageOp(s) = op.toInt)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.get(e.jobId).foreach { case (s, _) => jobSpan(e.jobId) = (s, e.time) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics))
        tasks.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
          Task(e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten)
    }
  }))

  def beginOp(op: Int): Unit = {
    spark.foreach(_.sparkContext.setLocalProperty(OpKey, op.toString))
    opSpan(op) = (System.currentTimeMillis(), 0L)
  }
  def endOp(op: Int): Unit = {
    opSpan(op) = (opSpan(op)._1, System.currentTimeMillis())
    spark.foreach(_.sparkContext.setLocalProperty(OpKey, null))
  }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** `engine.*` and `ops.sink_tail_s`, averaged over the timed operations. */
  def engine(): Seq[(String, Double)] = {
    spark.foreach(s => org.apache.spark.PerfbenchAccess.drainListeners(s.sparkContext))
    synchronized {
      val ops = opSpan.keys.toSeq.sorted
      val per = ops.map { op =>
        val (o0, o1) = opSpan(op)
        val spans = jobOp.collect { case (j, `op`) => jobSpan(j) }.toSeq
          .map { case (s, e) => (math.max(s, o0), math.min(e, o1)) }.sortBy(_._1)
        // union of job intervals inside the operation
        var covered = 0L
        var reach = o0
        spans.foreach { case (s, e) =>
          val from = math.max(s, reach)
          if (e > from) { covered += e - from; reach = e }
        }
        val lastJobEnd = if (spans.isEmpty) o1 else spans.map(_._2).max
        val ts = tasks.getOrElse(op, mutable.ArrayBuffer.empty[Task])
        val durs = ts.map(_.durationMs.toDouble).sorted
        val skew = if (durs.isEmpty) 0.0 else durs.last / math.max(1.0, durs(durs.length / 2))
        Seq(spans.length.toDouble, ts.length.toDouble, (o1 - o0 - covered) / 1000.0,
          ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1000.0,
          ts.map(_.shuffleBytes).sum / 1e6, skew, (o1 - lastJobEnd) / 1000.0)
      }
      Seq("engine.jobs_per_op", "engine.tasks_per_op", "engine.driver_only_s_per_op",
        "engine.executor_cpu_s_per_op", "engine.gc_s_per_op", "engine.shuffle_write_mb_per_op",
        "engine.task_skew", "ops.sink_tail_s").zipWithIndex.map { case (k, i) =>
        k -> mean(per.map(_(i)))
      }
    }
  }

  /** `ds.*`: `planInputPartitions` of each frame's BAM scan, re-planned
    * outside the operations: time, partitions and compressed bytes planned. */
  def planning(frames: Seq[DataFrame]): Seq[(String, Double)] = {
    val plans = frames.map { df =>
      val scan = df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }
        .getOrElse(throw new IllegalStateException("no BAM scan in the plan"))
      val t0 = System.nanoTime()
      val parts = scan.toBatch.planInputPartitions()
      val ms = (System.nanoTime() - t0) / 1e6
      val bytes = parts.collect { case p: BamInputPartition => p.end - p.start }.sum
      (ms, parts.length.toDouble, bytes / 1e6)
    }
    Seq("ds.plan_ms" -> mean(plans.map(_._1)), "ds.partitions_per_query" -> mean(plans.map(_._2)),
      "ds.planned_mb_per_query" -> mean(plans.map(_._3)))
  }
}

/** A `SeekableInput` that counts positioned reads and the bytes they ask for. */
final class CountingInput(in: SeekableInput) extends SeekableInput {
  var reads = 0L
  var bytes = 0L
  override def length: Long = in.length
  override def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    reads += 1
    bytes += len
    in.readAt(pos, buf, off, len)
  }
  override def close(): Unit = in.close()
}

/** Single-thread sweeps that time or count calls into one layer's public
  * functions on a workload's input. */
object Layers {
  /** Blocks at the head of the file used by the decode, encode, deflate and
    * row-build sweeps. */
  val SampleBlocks = 256

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def sweep(path: String, splitSize: Long): Seq[(String, Double)] =
    ioAndInflate(path) ++ codec(path) ++ reader(path) ++ splitStarts(path, splitSize)

  /** `io.read_mb_s` over every block (header + image reads), and
    * `codec.inflate_mb_s` over every block's image. */
  private def ioAndInflate(path: String): Seq[(String, Double)] = {
    val in = new LocalFileInput(path)
    val blocks = new BlockReader(in)
    val buf = new Array[Byte](Bgzf.MaxBlockSize)
    var at = 0L
    var read = 0L
    var readNs = 0L
    var inflated = 0L
    var inflateNs = 0L
    try {
      while (at < blocks.fileLength) {
        val t0 = System.nanoTime()
        val size = blocks.blockSizeAt(at)
        require(size > 0, s"no block at $at")
        in.readFullyAt(at, buf, 0, size)
        val t1 = System.nanoTime()
        inflated += Bgzf.inflate(buf, 0, size).length
        inflateNs += System.nanoTime() - t1
        readNs += t1 - t0
        read += size
        at += size
      }
    } finally blocks.close()
    Seq("io.read_mb_s" -> read / 1e6 / (readNs / 1e9),
      "codec.inflate_mb_s" -> inflated / 1e6 / (inflateNs / 1e9))
  }

  /** Payloads of the first [[SampleBlocks]] blocks, inflated into the
    * block cache, then `codec.decode_krec_s` (`Bam.readRecord`, all
    * fields, on cached blocks), `codec.encode_krec_s` (`Bam.writeRecord`)
    * and `codec.deflate_mb_s` (`Bgzf.deflateBlock`). */
  private def codec(path: String): Seq[(String, Double)] = {
    val blocks = new BlockReader(new LocalFileInput(path), SampleBlocks + 8)
    try {
      val payloads = mutable.ArrayBuffer.empty[Array[Byte]]
      var at = 0L
      while (payloads.length < SampleBlocks && at < blocks.fileLength) {
        blocks.blockAt(at) match {
          case Some(b) => payloads += b.bytes; at = b.start + b.compressedSize
          case None => at = blocks.fileLength
        }
      }
      val end = at
      val r = new UncompressedReader(blocks)
      r.seek(Pos(0, 0))
      Bam.readHeader(r)
      val recs = mutable.ArrayBuffer.empty[Bam.Record]
      var t0 = System.nanoTime()
      while (r.hasMore && r.pos.blockPos < end) recs += Bam.readRecord(r)
      val decodeS = secs(t0)

      val sink = new java.io.ByteArrayOutputStream(1 << 24)
      t0 = System.nanoTime()
      recs.foreach { rec =>
        Bam.writeRecord(sink, rec)
        if (sink.size() > (1 << 23)) sink.reset()
      }
      val encodeS = secs(t0)

      var deflated = 0L
      t0 = System.nanoTime()
      payloads.foreach { p =>
        var off = 0
        while (off < p.length) {
          val len = math.min(Bgzf.MaxPayload, p.length - off)
          Bgzf.deflateBlock(p, off, len)
          deflated += len
          off += len
        }
      }
      val deflateS = secs(t0)
      Seq("codec.decode_krec_s" -> recs.length / 1e3 / decodeS,
        "codec.encode_krec_s" -> recs.length / 1e3 / encodeS,
        "codec.deflate_mb_s" -> deflated / 1e6 / deflateS)
    } finally blocks.close()
  }

  /** `ds.reader_krows_s`: `BamPartitionReader` `next()` + `get()` with
    * every column, over the split holding the first [[SampleBlocks]]
    * blocks' worth of compressed bytes. */
  private def reader(path: String): Seq[(String, Double)] = {
    val blocks = new BlockReader(new LocalFileInput(path))
    val end = try {
      var at = 0L
      var k = 0
      while (k < SampleBlocks && at < blocks.fileLength) { at += blocks.blockSizeAt(at); k += 1 }
      at
    } finally blocks.close()
    val t0 = System.nanoTime()
    val r = new BamPartitionReader(BamInputPartition(path, 0, end), BamSchema.schema, 5, 10, 1 << 21)
    var rows = 0L
    try while (r.next()) { r.get(); rows += 1 } finally r.close()
    Seq("ds.reader_krows_s" -> rows / 1e3 / secs(t0))
  }

  /** Split starts resolved as `SplitTiming.computeSplits` does (one
    * `BlockReader` and eager `Checker` across splits), per split:
    * `check.block_start_ms` (`FindBlockStart`), `check.record_start_ms`
    * (`FindRecordStart`), `check.probes_per_split` (calls of the accept
    * predicate), `io.preads_per_split` and `io.read_bytes_per_split`. */
  private def splitStarts(path: String, splitSize: Long): Seq[(String, Double)] = {
    val in = new CountingInput(new LocalFileInput(path))
    val blocks = new BlockReader(in)
    try {
      val hr = new UncompressedReader(blocks)
      hr.seek(Pos(0, 0))
      val checker = new Checker(blocks, Bam.readHeader(hr).contigs.map(_.length))
      var probes = 0L
      val accept: Pos => Boolean = p => { probes += 1; checker.eager(p) }
      var blockNs = 0L
      var recordNs = 0L
      var splits = 0
      in.reads = 0; in.bytes = 0
      (splitSize until blocks.fileLength by splitSize).foreach { s =>
        val t0 = System.nanoTime()
        val bs = FindBlockStart(blocks, s)
        val t1 = System.nanoTime()
        if (bs < math.min(s + splitSize, blocks.fileLength)) FindRecordStart(blocks, accept, bs, 1 << 20)
        recordNs += System.nanoTime() - t1
        blockNs += t1 - t0
        splits += 1
      }
      val n = math.max(1, splits).toDouble
      Seq("check.block_start_ms" -> blockNs / 1e6 / n, "check.record_start_ms" -> recordNs / 1e6 / n,
        "check.probes_per_split" -> probes / n, "io.preads_per_split" -> in.reads / n,
        "io.read_bytes_per_split" -> in.bytes / n)
    } finally blocks.close()
  }
}
