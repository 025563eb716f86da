package graft.sources.fimi

import java.util.OptionalLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** STORAGE-PARTITIONED JOIN support for the FIMI connector — the
  * DataSourceV2 feature that eliminates the join shuffle entirely at
  * 100 TB (the Iceberg/Spark "SPJ" pattern):
  *
  *  - layout: `dir/bucket=K/part-*.dat`, K ∈ [0, N); every row lives in
  *    bucket `pmod(tid, N)`. Lines carry an EXPLICIT leading tid (the
  *    derived-offset tid of the flat layout cannot express a join key),
  *    so bucketed tables also round-trip ids exactly.
  *  - write: [[FimiBucketedWrite]] declares `RequiresDistributionAndOrdering`
  *    (clustered by tid — co-locates each key's rows on one task for
  *    fewer files) and each writer routes every row to its bucket file
  *    by computing THE SAME `pmod(tid, N)` the read side declares — the
  *    declared transform is true of the layout by construction, not by
  *    trusting an engine-internal hash.
  *  - read: [[FimiBucketedScan]] implements `SupportsReportPartitioning`
  *    with `KeyGroupedPartitioning(bucket(N, tid), N)` and serves ONE
  *    `HasPartitionKey` input partition per bucket. With
  *    `spark.sql.sources.v2.bucketing.enabled=true`, a join of two such
  *    tables on tid plans with ZERO shuffle exchanges (gated in
  *    FimiDsv2Spec).
  *  - the `bucket` transform resolves through the catalog's
  *    `FunctionCatalog` ([[graft.catalog.GraftCatalog]]) to
  *    [[FimiBucketFunction]]; SPJ compatibility compares the bound
  *    function's `canonicalName`, so two tables of the same catalog
  *    co-partition iff they declare the same N.
  */
object FimiBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, tid): pmod(tid, numBuckets) — the FIMI bucketed-layout transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2 &&
      inputType(0).dataType == IntegerType &&
      inputType(1).dataType == LongType,
      s"bucket(int numBuckets, bigint tid) expected; got $inputType")
    BoundBucket
  }

  /** The actual bucket assignment — also used by the WRITER, so the
    * declared read-side transform and the physical layout can never
    * disagree. */
  def bucketOf(tid: Long, n: Int): Int = ((tid % n + n) % n).toInt

  object BoundBucket extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.fimi.bucket"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer =
      bucketOf(input.getLong(1), input.getInt(0))
  }
}

// --------------------------------------------------------------- read

case class FimiBucketInputPartition(
    bucketId: Int,
    files: Seq[(String, Long)]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

class FimiBucketedScan(
    optionPaths: Seq[String],
    hadoopKVs: Array[(String, String)],
    requiredSchema: StructType,
    sep: String,
    limit: Int,
    numBuckets: Int)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  override def description(): String =
    s"fimi bucketed(n=$numBuckets) ${optionPaths.mkString(",")}"

  /** Bucketed tables are batch-only: the micro-batch file-discovery log
    * (FimiMicroBatchStream) tracks flat directories, and a streaming
    * read could not preserve the key-grouped partitioning contract
    * anyway. Fail with intent rather than the generic default. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new UnsupportedOperationException(
      "bucketed fimi tables are batch-only (storage-partitioned join " +
        "layout); stream the flat layout instead")

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(numBuckets, "tid")), numBuckets)

  private lazy val partitions: Array[FimiBucketInputPartition] = {
    val conf = FimiTable.rebuildConf(hadoopKVs)
    require(optionPaths.size == 1,
      s"fimi bucketed read expects one table dir; got $optionPaths")
    val dir = new Path(optionPaths.head)
    val fs = dir.getFileSystem(conf)
    (0 until numBuckets).map { k =>
      val bdir = new Path(dir, s"bucket=$k")
      val files =
        if (fs.exists(bdir))
          fs.listStatus(bdir).filter(st => st.isFile &&
              !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
            .map(st => (st.getPath.toString, st.getLen)).sortBy(_._1).toSeq
        else Seq.empty
      FimiBucketInputPartition(k, files)
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    partitions.toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new FimiBucketReaderFactory(hadoopKVs, requiredSchema, sep, limit)

  override def estimateStatistics(): Statistics = new Statistics {
    // lengths captured at listing time: a pure sum, no per-file I/O
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(partitions.flatMap(_.files).map(_._2).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

class FimiBucketReaderFactory(
    hadoopKVs: Array[(String, String)],
    requiredSchema: StructType,
    sep: String,
    limit: Int) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FimiBucketReader(
      partition.asInstanceOf[FimiBucketInputPartition],
      FimiTable.rebuildConf(hadoopKVs), requiredSchema, sep, limit)
}

/** Sequential multi-file reader over one bucket's part files; lines are
  * `tid item item ...` (explicit tid — see the layout contract above). */
class FimiBucketReader(
    part: FimiBucketInputPartition,
    conf: Configuration,
    requiredSchema: StructType,
    sep: String,
    limit: Int) extends PartitionReader[InternalRow] {

  private val wantTid = requiredSchema.fieldNames.contains("tid")
  private val wantItems = requiredSchema.fieldNames.contains("items")
  private val tidIdx = requiredSchema.fieldNames.indexOf("tid")
  private val itemsIdx = requiredSchema.fieldNames.indexOf("items")
  // compiled once: String.split(regex) compiles a Pattern per line
  private val sepPattern = java.util.regex.Pattern.compile(sep)

  private var fileIdx = -1
  private var reader: LineRecordReader = _
  private var current: InternalRow = _
  private var emitted = 0

  private def openNext(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    fileIdx += 1
    if (fileIdx >= part.files.size) return false
    val (fp, len) = part.files(fileIdx)
    val p = new Path(fp)
    val r = new LineRecordReader()
    r.initialize(new FileSplit(p, 0, len, null),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    reader = r
    true
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      if (reader == null && !openNext()) return false
      while (reader.nextKeyValue()) {
        val trimmed = reader.getCurrentValue.toString.trim
        if (trimmed.nonEmpty) {
          val toks = sepPattern.split(trimmed).filter(_.nonEmpty)
          val row = new GenericInternalRow(requiredSchema.length)
          if (wantTid) row.update(tidIdx, toks.head.toLong)
          if (wantItems) {
            val items = toks.drop(1).distinct.sorted
            row.update(itemsIdx,
              new GenericArrayData(items.map(UTF8String.fromString(_))))
          }
          current = row
          emitted += 1
          return true
        }
      }
      reader.close(); reader = null
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (reader != null) reader.close()
}

// -------------------------------------------------------------- write

class FimiBucketedWrite(
    dest: String,
    hadoopKVs: Array[(String, String)],
    tidIdx: Int,
    itemsIdx: Int,
    queryId: String,
    truncate: Boolean,
    numBuckets: Int)
    extends Write with BatchWrite with RequiresDistributionAndOrdering {

  override def toBatch: BatchWrite = this

  // Co-locate each tid's rows on one task — fewer part files per bucket.
  // Correctness does NOT depend on this distribution: every writer
  // routes rows by pmod(tid, N) itself.
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("tid")))
  override def requiredOrdering(): Array[SortOrder] = Array.empty
  override def requiredNumPartitions(): Int = numBuckets

  private def stagingDir = new Path(dest, s".graft-staging-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FimiBucketWriterFactory(
      stagingDir.toString, hadoopKVs, tidIdx, itemsIdx, numBuckets)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = FimiTable.rebuildConf(hadoopKVs)
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(conf)
    // LAYOUT GUARD: the _buckets marker is the table's declared N; an
    // APPEND with a different N would interleave two incompatible
    // bucket assignments under one declared transform (a subsequent
    // storage-partitioned join would silently lose matches) — refuse.
    // A truncate may change N: it replaces the whole layout below.
    val existingN = FimiTable.readBucketsMarker(fs, destPath)
    if (!truncate)
      existingN.filter(_ != numBuckets).foreach { n =>
        throw new IllegalArgumentException(
          s"fimi: append with buckets=$numBuckets onto a table bucketed " +
            s"with buckets=$n ($dest); rewrite with mode=overwrite to " +
            "change the bucket count")
      }
    (0 until numBuckets).foreach(k => fs.mkdirs(new Path(destPath, s"bucket=$k")))
    if (truncate)
      // truncate REPLACES the table: clear every visible data file in
      // EVERY existing bucket dir — including dirs ≥ the new N when the
      // count shrinks (a part-* -only or 0..N-1-only sweep would leave a
      // stale generation a later wider write resurrects)
      Option(fs.listStatus(destPath)).getOrElse(Array.empty).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("bucket="))
          Option(fs.listStatus(st.getPath)).getOrElse(Array.empty).foreach { f =>
            val n = f.getPath.getName
            if (f.isFile && !n.startsWith("_") && !n.startsWith("."))
              fs.delete(f.getPath, false)
          }
      }
    messages.foreach {
      case FimiBucketCommitMessage(staged) =>
        staged.foreach { case (k, path) =>
          val s = new Path(path)
          val target = new Path(new Path(destPath, s"bucket=$k"), s.getName)
          if (!fs.rename(s, target))
            throw new java.io.IOException(s"fimi commit: rename $s -> $target failed")
        }
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    // layout marker: the catalog reads N from here (and the mkdirs above
    // keep the bucket dir count consistent with it even for empty
    // buckets). Written via temp + rename so a crash mid-write never
    // leaves a torn marker; a crash BETWEEN data renames and this point
    // is the documented mid-commit mix the next truncate-write clears.
    FimiTable.writeBucketsMarker(fs, destPath, numBuckets, queryId)
    fs.delete(stagingDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = FimiTable.rebuildConf(hadoopKVs)
    val fs = stagingDir.getFileSystem(conf)
    fs.delete(stagingDir, true)
  }
}

case class FimiBucketCommitMessage(staged: Seq[(Int, String)])
    extends WriterCommitMessage

class FimiBucketWriterFactory(
    stagingDir: String,
    hadoopKVs: Array[(String, String)],
    tidIdx: Int,
    itemsIdx: Int,
    numBuckets: Int) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FimiBucketDataWriter(stagingDir, FimiTable.rebuildConf(hadoopKVs),
      tidIdx, itemsIdx, numBuckets, partitionId, taskId)
}

/** Routes each row to its bucket's staged file by `pmod(tid, N)` —
  * the same function the read side declares. Files open lazily (a
  * clustered-distribution task usually touches one bucket). */
class FimiBucketDataWriter(
    stagingDir: String,
    conf: Configuration,
    tidIdx: Int,
    itemsIdx: Int,
    numBuckets: Int,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val jobTag = new Path(stagingDir).getName
    .stripPrefix(".graft-staging-").replaceAll("[^a-zA-Z0-9]", "").take(8)
  private val fs = new Path(stagingDir).getFileSystem(conf)
  private val outs = new Array[java.io.BufferedWriter](numBuckets)
  private val paths = new Array[Path](numBuckets)

  private def writerFor(k: Int): java.io.BufferedWriter = {
    if (outs(k) == null) {
      val p = new Path(stagingDir,
        f"part-b$k%03d-$partitionId%05d-$taskId-$jobTag.dat")
      paths(k) = p
      outs(k) = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(fs.create(p, true),
          java.nio.charset.StandardCharsets.UTF_8))
    }
    outs(k)
  }

  override def write(row: InternalRow): Unit = {
    val tid = row.getLong(tidIdx)
    val out = writerFor(FimiBucketFunction.bucketOf(tid, numBuckets))
    out.write(tid.toString)
    val arr = row.getArray(itemsIdx)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      out.write(' ')
      out.write(arr.getUTF8String(i).toString)
      i += 1
    }
    out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    val staged = ArrayBuffer.empty[(Int, String)]
    var k = 0
    while (k < numBuckets) {
      if (outs(k) != null) { outs(k).close(); staged += ((k, paths(k).toString)) }
      k += 1
    }
    FimiBucketCommitMessage(staged.toSeq)
  }

  override def abort(): Unit = {
    var k = 0
    while (k < numBuckets) {
      if (outs(k) != null) { outs(k).close(); fs.delete(paths(k), false) }
      k += 1
    }
  }

  override def close(): Unit = ()
}
