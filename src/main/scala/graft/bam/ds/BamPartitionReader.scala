package graft.bam.ds

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.bam.check.SplitStart
import graft.bam.codec.Bam
import graft.bam.io.{BlockReader, SeekableInput, UncompressedReader}

/** Ships the DRIVER's Hadoop conf to executors (`conf` is a
  * SerializableConfiguration) so remote-path opens see spark.hadoop.*
  * session settings, not just classpath XML. */
class BamPartitionReaderFactory(required: StructType, blocksToCheck: Int,
                                readsToCheck: Int, maxReadSize: Int,
                                checkerProfile: String = "eager",
                                conf: org.apache.spark.util.SerializableConfiguration =
                                  BamDataSource.serializableConf(),
                                filters: Array[org.apache.spark.sql.sources.Filter] =
                                  Array.empty,
                                flagBits: String = "")
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BamInputPartition]
    new BamPartitionReader(p, required, blocksToCheck, readsToCheck, maxReadSize,
      checkerProfile, conf, filters, flagBits)
  }
}

/** Decodes the records of one byte-range split.
  *
  * The split owns the records that *start* in it, by the rule in
  * [[SplitStart]]. Records may *end* past the split boundary — the reader
  * follows blocks as far as needed, so neighbors never duplicate or drop
  * records. An unreadable header fails naming the file.
  */
class BamPartitionReader(split: BamInputPartition, required: StructType,
                         blocksToCheck: Int, readsToCheck: Int, maxReadSize: Int,
                         checkerProfile: String = "eager",
                         conf: org.apache.spark.util.SerializableConfiguration =
                           BamDataSource.serializableConf(),
                         filters: Array[org.apache.spark.sql.sources.Filter] =
                           Array.empty,
                         flagBits: String = "")
    extends PartitionReader[InternalRow] {

  private val blocks = new BlockReader(SeekableInput.open(split.path, conf.value))
  private val reader = new UncompressedReader(blocks)

  /** Prefix predicate compiled from the pushed filters + flag-bit spec;
    * null on unfiltered scans (zero per-record overhead there). */
  private val prefixPred: Bam.PrefixPred =
    RecordFilter.build(filters.toIndexedSeq, flagBits).orNull

  private val wantSeq = required.fieldNames.contains("seq")
  private val wantQual = required.fieldNames.contains("qual")
  private val wantAttrs = required.fieldNames.contains("attrs")

  // Every split reads the header: the first starts just after it, and all
  // need the contig dictionary for the checker and the contig column.
  private val (contigNames, active) =
    try {
      val header = Bam.readHeader(blocks, split.path)
      (header.contigs.map(c => UTF8String.fromString(c.name)).toArray,
        new SplitStart(blocks, header, checkerProfile == "relaxed", blocksToCheck,
          readsToCheck, maxReadSize)(split.start, split.end).exists(reader.seek))
    } catch { case NonFatal(e) => blocks.close(); throw e }
  private var rec: Bam.Record = _

  // local tallies, folded into the shared adders ONCE at close() — a
  // shared-memory increment per record would put cross-task contention on
  // the unconditional decode path purely for spec observability
  private var localDecoded = 0L
  private var localSkipped = 0L

  override def next(): Boolean = {
    if (!active) return false
    while (reader.hasMore && reader.pos.blockPos < split.end) { // past it: next split's
      rec = Bam.readRecord(reader, wantSeq, wantQual, wantAttrs, prefixPred)
      if (rec == null) return false // clean EOF
      if (rec ne Bam.SkippedRecord) {
        localDecoded += 1
        return true
      }
      localSkipped += 1 // rejected from the 32-byte prefix
    }
    false
  }

  /** Per-column extractors resolved ONCE at reader construction — the name
    * match must not sit on the per-row decode path (it runs
    * rows × columns times at 100 TB). */
  private val extractors: Array[Bam.Record => Any] =
    required.fields.map { f =>
      f.name match {
        case "refIdx" => (r: Bam.Record) => r.refIdx
        case "contig" => (r: Bam.Record) =>
          if (r.refIdx >= 0 && r.refIdx < contigNames.length) contigNames(r.refIdx)
          else null
        case "pos" => (r: Bam.Record) => r.pos
        case "endPos" => (r: Bam.Record) => r.end
        case "mapq" => (r: Bam.Record) => r.mapq
        case "flags" => (r: Bam.Record) => r.flags
        case "readName" => (r: Bam.Record) => UTF8String.fromString(r.readName)
        case "cigar" => (r: Bam.Record) =>
          new GenericArrayData(r.cigar.map(op =>
            new GenericInternalRow(Array[Any](op.op, op.len))).toArray[Any])
        case "nextRefIdx" => (r: Bam.Record) => r.nextRefIdx
        case "nextPos" => (r: Bam.Record) => r.nextPos
        case "templateLen" => (r: Bam.Record) => r.templateLen
        case "seq" => (r: Bam.Record) => UTF8String.fromString(r.seq)
        case "qual" => (r: Bam.Record) => r.qual
        case "attrs" => (r: Bam.Record) => {
          val ks = r.attrs.keys.toArray[Any].map(k => UTF8String.fromString(k.toString))
          val vs = r.attrs.values.toArray[Any].map(v => UTF8String.fromString(v.toString))
          new ArrayBasedMapData(new GenericArrayData(ks),
            new GenericArrayData(vs))
        }
        case "virtualPos" => (r: Bam.Record) =>
          new GenericInternalRow(Array[Any](r.blockPos, r.offset))
        case other => throw new IllegalStateException(s"unknown column $other")
      }
    }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      row.update(i, extractors(i)(rec))
      i += 1
    }
    row
  }

  override def close(): Unit = {
    BamPartitionReader.decodedRecords.add(localDecoded)
    BamPartitionReader.skippedRecords.add(localSkipped)
    localDecoded = 0L
    localSkipped = 0L
    blocks.close()
  }
}

object BamPartitionReader {
  /** Process-wide decode/skip tallies — observability for the pushdown
    * specs (local mode shares the JVM): `decodedRecords` counts fully
    * materialized records, `skippedRecords` records rejected from the
    * 32-byte prefix. Monotonic; specs diff around an action. */
  val decodedRecords = new java.util.concurrent.atomic.LongAdder
  val skippedRecords = new java.util.concurrent.atomic.LongAdder
}
