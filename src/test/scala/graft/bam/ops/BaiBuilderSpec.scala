package graft.bam.ops

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.bam.codec.Bam
import graft.bam.fixtures.BamFixture

/** The one `.bai` builder, fed two ways: the fixture writer folds the
  * generator's truth, `BamOps.indexBai` folds the scan's partitions and
  * merges them on the driver. Both must write the same bytes. */
class BaiBuilderSpec extends SparkTestBase {

  private def indexCopy(fx: BamFixture.Fixture, dir: Path): Array[Byte] = {
    val copy = dir.resolve(Paths.get(fx.bamPath).getFileName.toString)
    Files.copy(Paths.get(fx.bamPath), copy)
    BamOps.indexBai(spark, copy.toString)
    Files.readAllBytes(Paths.get(copy.toString + ".bai"))
  }

  private def partitions(path: String): Int =
    spark.read.format("bam")
      .option("splitSize", BamOps.coreFillingSplitSize(spark, path)).load(path)
      .rdd.getNumPartitions

  test("the fixture's truth-built .bai is byte-identical to indexBai of the same file") {
    val dir = Files.createTempDirectory("graft-bai-same")
    val frag = BamFixture.write(Files.createTempDirectory("graft-bai-frag"),
      "frag.bam", n = 12000, seed = 31, payloadSize = 512)
    Seq(BamFixture.default, BamFixture.tiny, BamFixture.longRead, frag).foreach { fx =>
      val truth = Files.readAllBytes(Paths.get(fx.bamPath + ".bai"))
      assert(java.util.Arrays.equals(indexCopy(fx, dir), truth), fx.bamPath)
    }
    // the merge seams are exercised: the larger files scan in several tasks
    Seq(BamFixture.default, BamFixture.longRead, frag).foreach { fx =>
      assert(partitions(fx.bamPath) >= 3, fx.bamPath)
    }
  }

  test("indexBai runs one job with no shuffle") {
    val copy = Files.createTempDirectory("graft-bai-jobs").resolve("one.bam")
    Files.copy(Paths.get(BamFixture.default.bamPath), copy)
    val group = "bai-one-job"
    val stagesPerJob = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group)
          stagesPerJob.add(js.stageInfos.length)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "indexBai")
      try BamOps.indexBai(spark, copy.toString)
      finally spark.sparkContext.clearJobGroup()
      Thread.sleep(800) // the listener bus is asynchronous
    } finally spark.sparkContext.removeSparkListener(l)
    // a shuffle would add a map stage to the job
    assert(stagesPerJob.toArray.toSeq == Seq(1), s"stages per job: $stagesPerJob")
  }

  test("a record past BAI's 2^29 coordinate limit fails the build with its position") {
    val dir = Files.createTempDirectory("graft-bai-maxcoord")
    val contigs = IndexedSeq(Bam.Contig("chrBig", 600_000_000))
    val recs = BamFixture.generateRecords(400, contigs, 5)
    assert(recs.exists(r => r.refIdx == 0 && r.end > graft.bam.ds.Bai.MaxCoord))
    val bam = dir.resolve("big.bam").toString
    // the error names a record of `bam` that really ends past the limit
    def failsAtOffendingRecord(build: => Any): Unit = {
      val e = intercept[Exception](build)
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      val at = s"\\Q$bam\\E@(\\d+):(\\d+)".r.findFirstMatchIn(msg)
        .getOrElse(fail(s"no position in: $msg"))
      val ends = spark.read.format("bam").load(bam)
        .filter(col("virtualPos.blockPos") === at.group(1).toLong &&
          col("virtualPos.offset") === at.group(2).toInt)
        .select("endPos").collect().map(_.getInt(0)).toSeq
      assert(ends.length == 1 && ends.head > graft.bam.ds.Bai.MaxCoord, msg)
    }
    failsAtOffendingRecord {
      BamFixture.write(dir, "big.bam", n = 400, seed = 5, contigs = contigs)
    }
    assert(!Files.exists(Paths.get(bam + ".bai")))
    failsAtOffendingRecord(BamOps.indexBai(spark, bam))
    assert(!Files.exists(Paths.get(bam + ".bai")))
  }
}
