package graft.bam.ops

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

import graft.bam.codec.{Bam, Bgzf}
import graft.bam.ds.{BamDataSource, BamScan, BamSchema}

/** BAM writer sink (S16, the htsjdk-rewrite analog,
  * cli/.../bam/rewrite/HTSJDKRewrite.scala:21-93).
  *
  * Scale design: one narrow pass, no sampling job and no shuffle. Scan
  * partition i holds, in virtual-position order, the records that start in
  * its byte range, so the partitions in index order are the file in order.
  * Each task encodes its partition into its own BGZF shard and, BGZF being
  * closed under concatenation, the driver stitches header-shard + record
  * shards in NUMERIC partition order + EOF marker (path strings would put
  * `shard-100000` before `shard-99999`). On a real cluster the shards land
  * on the DFS and a compose/concat finishes the file — no single-node
  * encode bottleneck. Records are re-blocked without regard to boundaries,
  * so output records are unaligned to block starts (what makes rewritten
  * files useful checker tests).
  */
object BamSink {

  /** Uncompressed bytes per BGZF member written. */
  private val PayloadSize = 16 * 1024

  private val Array(oRef, oPos, oMapq, oFlags, oName, oCigar, oNextRef, oNextPos,
      oTlen, oSeq, oQual, oAttrs) =
    Array("refIdx", "pos", "mapq", "flags", "readName", "cigar", "nextRefIdx",
      "nextPos", "templateLen", "seq", "qual", "attrs").map(BamSchema.schema.fieldIndex)

  /** A full-schema scan row as a record, by the schema's fixed ordinals. */
  private def toRecord(r: InternalRow): Bam.Record = {
    val c = r.getArray(oCigar)
    val m = r.getMap(oAttrs)
    Bam.Record(r.getInt(oRef), r.getInt(oPos), r.getInt(oMapq), r.getInt(oFlags),
      r.getUTF8String(oName).toString,
      IndexedSeq.tabulate(c.numElements()) { i =>
        val op = c.getStruct(i, 2); Bam.CigarOp(op.getInt(0), op.getInt(1))
      },
      r.getInt(oNextRef), r.getInt(oNextPos), r.getInt(oTlen),
      r.getUTF8String(oSeq).toString, r.getBinary(oQual),
      (0 until m.numElements()).map(i =>
        m.keyArray.getUTF8String(i).toString -> m.valueArray.getUTF8String(i).toString).toMap,
      blockPos = -1, offset = -1)
  }

  /** Write the full-schema scan `reads` as a BAM file, partition by
    * partition; `keep(i)` (when given) is the `[from, until)` slice of
    * partition i's records to write. Shards are encoded THROUGH THE HADOOP
    * FILESYSTEM of the target path — on a cluster they land on the DFS
    * next to the output, never on executor-local disk. */
  private def write(reads: DataFrame, header: Bam.Header, outPath: String,
                    keep: Option[Array[(Int, Int)]]): Unit = {
    val conf = BamDataSource.hadoopConf()
    val outP = new HPath(outPath)
    val fs = outP.getFileSystem(conf)
    val shardDir = new HPath(
      outPath + s".shards-${java.util.UUID.randomUUID().toString.take(8)}")
    fs.mkdirs(shardDir)
    val shardDirS = shardDir.toString
    // Ship the DRIVER's Hadoop conf (incl. spark.hadoop.* session settings,
    // e.g. object-store credentials) to the executors: a bare executor-side
    // `new Configuration()` only sees classpath XML, which diverges from the
    // driver on conf-configured clusters.
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    val shards = reads.queryExecution.toRdd.mapPartitionsWithIndex { (pid, all) =>
      val rows = keep.fold(all) { k => val (from, until) = k(pid); all.slice(from, until) }
      if (!rows.hasNext) Iterator.empty
      else {
        // attempt-unique shard path = the task-commit protocol: a
        // speculative or retried attempt writes its OWN file, the driver
        // concatenates only the paths returned by the attempts whose
        // results Spark actually collected (exactly one per partition),
        // and loser/zombie files die with the shard dir. A shared
        // per-partition path would let a zombie attempt keep writing
        // into a file the driver is reading — torn output.
        val shard = new HPath(f"$shardDirS/shard-$pid%05d-attempt-${
          org.apache.spark.TaskContext.get().taskAttemptId()}")
        val sfs = shard.getFileSystem(serConf.value)
        // Stream-compress: one BGZF member per <= PayloadSize bytes AS
        // ROWS ARRIVE. Peak task heap is O(payloadSize + one record),
        // not O(partition). No EOF member here; the driver appends one.
        val bw = new Bgzf.StreamWriter(
          new java.io.BufferedOutputStream(sfs.create(shard, true), 1 << 20), PayloadSize)
        try rows.foreach(r => Bam.writeRecord(bw, toRecord(r))) finally bw.close()
        Iterator.single(pid -> shard.toString)
      }
    }.collect().sortBy(_._1)

    val out = new java.io.BufferedOutputStream(fs.create(outP, true), 1 << 20)
    try {
      val hdr = new java.io.ByteArrayOutputStream()
      Bam.writeHeader(hdr, header.text, header.contigs)
      val (hImg, _) = Bgzf.compress(hdr.toByteArray, PayloadSize)
      out.write(hImg, 0, hImg.length - Bgzf.Eof.length)
      shards.foreach { case (_, p) =>
        val in = fs.open(new HPath(p))
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 20, false)
        finally in.close()
      }
      out.write(Bgzf.Eof)
    } finally out.close()
    fs.delete(shardDir, true)
  }

  /** The rewrite app: read a BAM, optionally keep a record-index range
    * [lo, hi) in file order (P9 row-number selection), write it back. The
    * scan's split size fills the cluster's cores
    * ([[BamOps.coreFillingSplitSize]]); with a range, one count job over
    * the same partitions gives each partition's first record index.
    *
    * Re-index options (reference parity: HTSJDKRewrite.scala:21-93 takes
    * `-b` indexBlocks / `-i` indexRecords to index its output):
    *  - `indexBlocks` / `indexRecords` write the `.blocks` / `.records`
    *    side-cars of the OUTPUT file, as the reference's flags do;
    *  - `index` builds the standard `.bai` for the output — the rewritten
    *    layout re-blocks records, so the input's index is useless for it
    *    and interval queries over the output need a fresh one
    *    (pruned-partition parity with an after-the-fact
    *    [[BamOps.indexBai]] is pinned in PushdownSpec). */
  def rewrite(spark: SparkSession, inPath: String, outPath: String,
              range: Option[(Long, Long)] = None,
              index: Boolean = false,
              indexBlocks: Boolean = false,
              indexRecords: Boolean = false): Unit = {
    val splitSize = BamOps.coreFillingSplitSize(spark, inPath)
    def reads() = spark.read.format("bam").option("splitSize", splitSize).load(inPath)
    val keep = range.map { case (lo, hi) =>
      val counts = reads().select("refIdx").queryExecution.toRdd
        .mapPartitions(rows => Iterator.single(rows.size.toLong)).collect()
      counts.zip(counts.scanLeft(0L)(_ + _)).map { case (n, first) =>
        def clip(g: Long) = math.min(math.max(g - first, 0L), n).toInt
        (clip(lo), clip(hi))
      }
    }
    write(reads(), BamScan.header(inPath), outPath, keep)
    if (indexBlocks) BamOps.indexBlocks(spark, outPath, outPath + ".blocks")
    if (indexRecords) BamOps.indexRecords(spark, outPath, outPath + ".records")
    if (index) BamOps.indexBai(spark, outPath)
  }
}
