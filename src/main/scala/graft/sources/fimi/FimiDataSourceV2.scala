package graft.sources.fimi

import java.util.OptionalLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for FIMI transaction text — the reference
  * family's native `retail.dat` / `T10I4D100K.dat` convention (one
  * transaction per line, items separated by whitespace). Registered as
  * format `"fimi"` (META-INF/services), so the full connector surface
  * works: `spark.read.format("fimi").load(dir)`,
  * `df.write.format("fimi").mode(...).save(dir)`, and
  * `CREATE TABLE t USING fimi OPTIONS (path '...')` through the session
  * catalog — the TableProvider/catalog story a 100 TB deployment needs,
  * vs the path-helper in [[graft.sources.FimiSource]].
  *
  * Schema: `tid BIGINT, items ARRAY<STRING>` — `items` deduplicated and
  * sorted into the engine's canonical basket shape, so the scan output
  * plugs directly into every §A mining operator.
  *
  * Deterministic, SPLIT-INVARIANT tids: `tid = fileOrdinal << 40 |
  * lineStartByteOffset`, where fileOrdinal is the file's index in the
  * path-sorted file list. Unlike the helper's `zipWithIndex` (which
  * costs an extra count job before the real scan) or
  * `monotonically_increasing_id` (which bakes in partition layout), the
  * id is a pure function of the file bytes — the same line gets the
  * same tid at any parallelism, any split size, any executor count.
  * 40 offset bits = 1 TiB per file, 2^23 files per corpus; both are
  * asserted at planning, not silently wrapped.
  *
  * Scale posture:
  *  - files are byte-range split at `spark.sql.files.maxPartitionBytes`
  *    granularity (Hadoop `LineRecordReader` boundary semantics: every
  *    line read exactly once across adjacent splits); compressed files
  *    fall back to one split per file.
  *  - column pruning reaches the reader: a count(*) or tid-only scan
  *    never splits/sorts item arrays.
  *  - LIMIT pushes into each reader (early stop, Spark re-applies the
  *    global limit above).
  *  - tid-range predicates prune whole splits at planning (tid order ≡
  *    (file, offset) order, so a tid bound is a byte-range bound);
  *    every filter is also re-evaluated above the scan, so pruning can
  *    never change semantics.
  *  - writes go through a two-phase commit: task writers stage
  *    `part-*.dat` files under a hidden per-query directory, the driver
  *    renames only COMMITTED task files into place (and under
  *    `truncate`, clears prior data inside the same job commit) — a
  *    failed or speculative task leaves no partial output visible.
  */
class FimiDataSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fimi"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (FimiChanges.requested(options))
      FimiChanges.schemaFor(FimiTable.schemaFor(options))
    else FimiTable.schemaFor(options)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new FimiTable(new CaseInsensitiveStringMap(properties))
}

object FimiTable {
  val Schema: StructType = StructType(Seq(
    StructField("tid", LongType, nullable = false),
    StructField("items", ArrayType(StringType, containsNull = false),
      nullable = false)))

  // ------------------------------------------------- schema evolution
  //
  // `ALTER TABLE ... ADD COLUMNS` on a fimi SNAPSHOT table commits an
  // empty manifest carrying the new full schema (`#schema` header, see
  // FimiLog). Data files encode the evolved columns as a positional
  // CELL suffix per line: `item1 item2<US>cell1<US>cell2` where <US> is
  // U+001F (unit separator — a control char no FIMI item token or
  // whitespace separator contains). Cells map positionally onto the
  // table's extra columns; columns only ever APPEND, so a file written
  // under an older schema simply has fewer cells and the missing tail
  // reads as NULL — null-fill of pre-evolution generations falls out of
  // the encoding, with zero rewrite of existing bytes. A row whose
  // cells are all null writes the PLAIN line (the all-null suffix is
  // dropped), so un-evolved tables and carryover rows stay
  // byte-identical to the base format.

  /** Separator between the items text and each evolved-column cell. */
  val CellSep: Char = '\u001f'

  /** Evolved (non-structural) columns of a table schema, in cell order. */
  def extrasOf(schema: StructType): Seq[StructField] =
    schema.fields.filter(f =>
      f.name != "tid" && f.name != "items" && f.name != FileColName).toSeq

  /** Types an added column may take — scalars with an unambiguous
    * one-token text form (strings are JSON-quoted; date/timestamp ride
    * their internal int days / long micros). */
  val SupportedExtraTypes: Set[DataType] = Set(
    StringType, LongType, IntegerType, DoubleType, BooleanType,
    DateType, TimestampType)

  /** The full logical schema the table serves at the options' version
    * (latest when no `versionAsOf`): the manifest log's folded `#schema`
    * when the single path is a snapshot table that evolved, the base
    * (tid, items) contract otherwise. */
  def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val vAsOf = Option(options.get("versionAsOf")).map(_.toLong)
    paths(options) match {
      case Seq(one) =>
        val p = new Path(one)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p) && fs.getFileStatus(p).isDirectory &&
            FimiLog.exists(fs, p))
          FimiLog.schemaAt(fs, p, vAsOf)
            .map(j => DataType.fromJson(j).asInstanceOf[StructType])
            .getOrElse(Schema)
        else Schema
      case _ => Schema
    }
  }

  /** One cell's text form (non-null `row(i)` of type `dt`). */
  def encodeCell(
      row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, dt: DataType): String = dt match {
    case StringType => quoteCell(row.getUTF8String(i).toString)
    case LongType | TimestampType => row.getLong(i).toString
    case IntegerType | DateType => row.getInt(i).toString
    case DoubleType => row.getDouble(i).toString
    case BooleanType => row.getBoolean(i).toString
    case other => throw new IllegalStateException(
      s"fimi: unsupported evolved-column type $other")
  }

  /** Parse one cell back to its InternalRow value (null for the `null`
    * literal and for the empty cell a hand-truncated file could carry). */
  def decodeCell(cell: String, dt: DataType): Any =
    if (cell == "null" || cell.isEmpty) null
    else dt match {
      case StringType => UTF8String.fromString(unquoteCell(cell))
      case LongType | TimestampType => java.lang.Long.valueOf(cell)
      case IntegerType | DateType => Integer.valueOf(cell)
      case DoubleType => java.lang.Double.valueOf(cell)
      case BooleanType => java.lang.Boolean.valueOf(cell)
      case other => throw new IllegalStateException(
        s"fimi: unsupported evolved-column type $other")
    }

  /** Cell layout for a write: one (column name, input ordinal, type)
    * per TABLE extra column in schema order; ordinal −1 = the input
    * carries no such column (the cell writes null). */
  def cellLayout(
      tableSchema: StructType,
      inputSchema: StructType): Seq[(String, Int, DataType)] =
    extrasOf(tableSchema).map { f =>
      (f.name,
        inputSchema.fieldNames.indexWhere(_.equalsIgnoreCase(f.name)),
        f.dataType)
    }

  /** [[encodeCell]] for an already-boxed internal value (stats min/max). */
  def encodeValue(v: Any, dt: DataType): String = dt match {
    case StringType => quoteCell(v.asInstanceOf[UTF8String].toString)
    case _ => v.toString
  }

  /** Ordering of two non-null internal cell values of `dt` (strings by
    * UTF8String binary order — Spark's own string comparison). */
  def compareCells(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case LongType | TimestampType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType =>
      Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case BooleanType =>
      java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case other => throw new IllegalStateException(
      s"fimi: unsupported evolved-column type $other")
  }

  /** JSON string form of a column name (manifest stats keys). */
  def jsonName(s: String): String = quoteCell(s)

  /** JSON-style string quoting: quotes, backslashes and every control
    * char (newline, CellSep, ...) escape, so a quoted cell can never
    * contain a literal line break or cell separator. */
  private def quoteCell(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2)
    b.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"') b.append("\\\"")
      else if (c == '\\') b.append("\\\\")
      else if (c < ' ') b.append(f"\\u${c.toInt}%04x")
      else b.append(c)
      i += 1
    }
    b.append('"')
    b.toString
  }

  private def unquoteCell(s: String): String = {
    require(s.length >= 2 && s.charAt(0) == '"' && s.charAt(s.length - 1) == '"',
      s"fimi: malformed string cell: $s")
    val b = new java.lang.StringBuilder(s.length - 2)
    var i = 1
    while (i < s.length - 1) {
      val c = s.charAt(i)
      if (c == '\\') {
        i += 1
        s.charAt(i) match {
          case '"' => b.append('"')
          case '\\' => b.append('\\')
          case '/' => b.append('/')
          case 'n' => b.append('\n')
          case 't' => b.append('\t')
          case 'r' => b.append('\r')
          case 'b' => b.append('\b')
          case 'f' => b.append('\f')
          case 'u' =>
            b.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
            i += 4
          case other => throw new IllegalArgumentException(
            s"fimi: bad escape \\$other in cell $s")
        }
      } else b.append(c)
      i += 1
    }
    b.toString
  }

  /** Metadata column exposing the data file serving each row — the
    * GROUP identity for copy-on-write row-level DML (Spark's runtime
    * group filtering computes the distinct `_file` values of matching
    * rows and prunes the rewrite scan to exactly those files), and a
    * debugging affordance (`SELECT _file FROM ...`) in its own right. */
  val FileColName = "_file"
  object FileColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileColName
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "path of the data file serving this row (copy-on-write group id)"
  }

  /** Bits of `tid` carrying the line's byte offset within its file. */
  val OffsetBits = 40

  /** Byte ranges covering one data file: `maxSplitBytes` slices when
    * `splittable`, one whole-file range otherwise. Shared by the batch
    * scan and the change feed so split semantics can never diverge. */
  private[fimi] def splitRanges(
      splittable: Boolean, len: Long, maxSplitBytes: Long): Seq[(Long, Long)] =
    (if (!splittable || len <= maxSplitBytes) Seq((0L, len))
     else (0L until len by maxSplitBytes)
       .map(s => (s, math.min(maxSplitBytes, len - s))))
      .filter(_._2 > 0)

  /** Tightest file-count budget a read limit implies, if any: the file
    * cap itself, or a composite's tightest member. Row/byte limits have
    * no file arithmetic on these sources and read as uncapped. Shared
    * by both streaming sources' admission control. */
  private[fimi] def fileCap(
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Option[Int] =
    limit match {
      case f: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        Some(f.maxFiles())
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        val caps = c.getReadLimits.flatMap(fileCap(_))
        if (caps.isEmpty) None else Some(caps.min)
      case _ => None
    }

  /** Paths from the options map: `path` (load(p) / OPTIONS(path ...))
    * or `paths` (load(p1, p2, ...) — a JSON string array). */
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val many = Option(options.get("paths")).toSeq.flatMap { json =>
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      om.readValue(json, classOf[Array[String]]).toSeq
    }
    val one = Option(options.get("path")).toSeq
    val all = many ++ one
    require(all.nonEmpty, "fimi: no `path` or `paths` option given")
    all
  }

  /** Hadoop conf as a serializable KV snapshot (Configuration itself is
    * not java-serializable; rebuilding from the full entry iterator —
    * defaults included — reproduces it on executors). */
  def confKVs(conf: Configuration): Array[(String, String)] =
    conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray

  def rebuildConf(kvs: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    kvs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Data files at `versionAsOf` (latest when None): a path that is a
    * [[FimiLog]] snapshot directory resolves through its manifest log
    * (commit-order ordinals; orphans from failed commit attempts
    * invisible — the exactly-once read view); any other path falls back
    * to [[listDataFiles]]' path-sorted listing. The plain multi-path
    * case takes the one global sorted listing, byte-identical to the
    * pre-snapshot behavior. */
  def resolveDataFiles(
      conf: Configuration,
      optionPaths: Seq[String],
      versionAsOf: Option[Long]): Seq[FileStatus] = {
    val dirs = optionPaths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      (p, path, fs, fs.exists(path) && fs.getFileStatus(path).isDirectory &&
        FimiLog.exists(fs, path))
    }
    if (dirs.forall(!_._4)) {
      require(versionAsOf.isEmpty,
        s"fimi: versionAsOf given but no path in $optionPaths has a " +
          s"${FimiLog.DirName} snapshot log")
      listDataFiles(conf, optionPaths)
    } else dirs.flatMap {
      case (_, path, fs, true) =>
        FimiLog.resolve(fs, path, versionAsOf)
          .map(name => fs.getFileStatus(new Path(path, name)))
      case (p, _, _, false) => listDataFiles(conf, Seq(p))
    }
  }

  /** Expand the option paths (files, directories, globs) to the sorted
    * data-file list that defines file ordinals. Hidden files (`_`/`.`
    * prefixes — including our own staging dirs) are skipped. */
  def listDataFiles(conf: Configuration, optionPaths: Seq[String]): Seq[FileStatus] = {
    val out = ArrayBuffer.empty[FileStatus]
    optionPaths.foreach { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      matched.foreach { st =>
        if (st.isDirectory)
          out ++= fs.listStatus(st.getPath).filter(f => f.isFile && visible(f.getPath))
        else if (visible(st.getPath)) out += st
      }
    }
    out.distinct.sortBy(_.getPath.toString).toSeq
  }

  private def visible(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** Bucket count of a bucketed table dir, if its `_buckets` marker
    * exists. Reads to EOF (a single read() is not guaranteed to fill
    * the buffer on non-local filesystems). */
  def readBucketsMarker(fs: FileSystem, dir: Path): Option[Int] = {
    val marker = new Path(dir, "_buckets")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  /** Write the `_buckets` marker atomically-enough: temp file + rename
    * (delete-then-rename — HDFS rename does not overwrite), so readers
    * never observe a torn marker. */
  def writeBucketsMarker(fs: FileSystem, dir: Path, n: Int, tag: String): Unit = {
    val tmp = new Path(dir, s".buckets-tmp-${tag.replaceAll("[^a-zA-Z0-9]", "").take(16)}")
    val out = fs.create(tmp, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    val marker = new Path(dir, "_buckets")
    if (fs.exists(marker)) fs.delete(marker, false)
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(s"fimi: rename $tmp -> $marker failed")
  }
}

class FimiTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  override def name(): String =
    s"fimi(${FimiTable.paths(options).mkString(",")})"

  /** A `changesFrom`-optioned read IS a different relation — the change
    * feed (see [[FimiChanges]]): three extra columns, batch-only. The
    * option rides the table properties on the path-based read surface
    * (`spark.read.format("fimi").option(...)`), where DataFrameReader
    * options become the table's properties. */
  private def isChangeFeed: Boolean = FimiChanges.requested(options)

  /** Resolved once per table instance: the manifest log's folded
    * `#schema` for an evolved snapshot table (at the options' version
    * for time travel), the base contract otherwise. GraftCatalog
    * invalidates its cached instance on ALTER, so a fresh resolution
    * always follows a schema change. */
  private lazy val resolvedSchema: StructType = FimiTable.schemaFor(options)

  override def schema(): StructType =
    if (isChangeFeed) FimiChanges.schemaFor(resolvedSchema) else resolvedSchema

  private def bucketCount: Int =
    Option(options.get("buckets")).map(_.toInt).getOrElse(0)

  /** `_file` rides only the flat layout: bucketed readers key rows by
    * explicit tids, not file position, and row-level DML (the column's
    * main consumer) is flat-layout-only too. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (bucketCount > 0 || isChangeFeed) Array.empty
    else Array(FimiTable.FileColumn)

  /** SQL DELETE / UPDATE / MERGE INTO via group-based copy-on-write:
    * affected data files (groups) are rewritten whole and committed as
    * one new manifest version through the snapshot log — see
    * [[FimiRowLevelOperation]] for the protocol. Snapshot tables only
    * (the manifest IS the atomic commit + history mechanism); the
    * requirement is enforced at scan planning, where a FileSystem is
    * available. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (bucketCount > 0)
      throw new UnsupportedOperationException(
        "fimi: row-level DML applies to flat snapshot tables, not the " +
          "bucketed layout (rewrite a bucketed table with the bucketed writer)")
    () => new FimiRowLevelOperation(options, info)
  }

  /** ACCEPT_ANY_SCHEMA keeps the PATH-based write surface permissive
    * (items-only frames — `df.select(array(..)).write.format("fimi")` —
    * are the native write shape; the writer validates `items` itself).
    * Catalog-served tables pass `strictSchema=true` instead: row-level
    * DML alignment (`UpdateTable.skipSchemaResolution`) is gated OFF by
    * ACCEPT_ANY_SCHEMA, so a DML-capable table must schema-resolve like
    * any lakehouse table. */
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
    if (!Option(options.get("strictSchema")).exists(_.toBoolean))
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(opts)
    val m = new CaseInsensitiveStringMap(merged)
    if (FimiChanges.requested(m)) {
      // the relation's schema was fixed when this table was resolved; a
      // change-feed scan under a plain-table relation would silently
      // return changed rows WITHOUT their change columns — refuse with
      // the remedy instead (catalog reads pass scan options only)
      require(isChangeFeed,
        "fimi: the change feed is a different relation (three extra " +
          "columns); read it path-based — spark.read.format(\"fimi\")" +
          s".option(\"${FimiChanges.FromOption}\", v).load(tableDir)")
      new FimiChangesScanBuilder(m)
    } else new FimiScanBuilder(m)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!isChangeFeed,
      "fimi: a change-feed relation is read-only (write to the table " +
        "path without the changesFrom option)")
    new FimiWriteBuilder(options, info)
  }

  /** SQL `TRUNCATE TABLE` — the metadata-only empty: on a snapshot
    * table one empty `#truncate` manifest at latest+1 (no byte moves;
    * pre-truncate generations stay time-travel-readable and VACUUM owns
    * retention — same rule as every other table-replacing commit); on a
    * plain directory the batch writer's truncate file-clear. O(1) at
    * any table size in snapshot mode — the 100 TB truncate is one
    * manifest rename. */
  override def truncateTable(): Boolean = {
    if (bucketCount > 0)
      throw new UnsupportedOperationException(
        "fimi: TRUNCATE TABLE applies to flat tables, not the bucketed " +
          "layout (rewrite a bucketed table with the bucketed writer)")
    val dest = FimiTable.paths(options) match {
      case Seq(one) => new Path(one)
      case many => throw new IllegalArgumentException(
        s"fimi TRUNCATE needs exactly one table path; got $many")
    }
    val fs = dest.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    if (FimiLog.exists(fs, dest)) {
      var v = FimiLog.latestVersion(fs, dest).map(_ + 1).getOrElse(0L)
      while (!FimiLog.write(fs, dest, v, None, truncate = true, Seq.empty,
          op = Some("TRUNCATE TABLE")))
        v += 1
      FimiLog.maybeCheckpoint(fs, dest)
    } else if (fs.exists(dest))
      Option(fs.listStatus(dest)).getOrElse(Array.empty).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
          fs.delete(st.getPath, false)
      }
    true
  }
}

// --------------------------------------------------------------- read

class FimiScanBuilder(
    options: CaseInsensitiveStringMap,
    rowLevel: Option[FimiRowLevelOperation] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownFilters {

  /** The table's full schema at the options' version — the pruning
    * baseline and the evolved-cell layout readers decode against. */
  private val tableSchema: StructType = FimiTable.schemaFor(options)
  private var requiredSchema: StructType = tableSchema
  private var limit: Int = -1
  private var pruneFilters: Array[Filter] = Array.empty

  // Planning-time session state, captured here (the builder runs on the
  // driver inside a session) so the scan itself is session-free.
  private val session = SparkSession.active
  private val hadoopKVs = FimiTable.confKVs(session.sessionState.newHadoopConf())
  private val maxSplitBytes: Long =
    Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(session.sessionState.conf.filesMaxPartitionBytes)
  private val sep: String = Option(options.get("sep")).getOrElse("\\s+")

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  // isPartiallyPushed stays at its default `true`: Spark keeps its own
  // global limit above the scan; readers just stop early.

  private val extrasTypes: Map[String, org.apache.spark.sql.types.DataType] =
    FimiTable.extrasOf(tableSchema).map(f => f.name -> f.dataType).toMap

  /** tid-range filters prune SPLITS at planning, and comparison filters
    * on EVOLVED columns prune whole FILES against the manifest's
    * per-file content stats (see [[FimiStats]]); every filter is
    * returned as residual so Spark re-evaluates it above the scan —
    * pruning is a pure work-skip, never a semantics change. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruneFilters = filters.filter(f =>
      tidBound(f).isDefined || FimiStats.prunable(f, extrasTypes))
    filters
  }

  override def pushedFilters(): Array[Filter] = pruneFilters

  /** [lo, hi] tid bound implied by one filter, if it names `tid`.
    * Strict inequalities at the Long extremes saturate to an empty
    * range (lo > hi — zero splits survive) instead of wrapping
    * (r18 ADVICE on the sibling version bound: overflow would silently
    * widen the bound to no-prune). */
  private def tidBound(f: Filter): Option[(Long, Long)] = f match {
    case EqualTo("tid", v: Long) => Some((v, v))
    case GreaterThan("tid", v: Long) =>
      Some(if (v == Long.MaxValue) (Long.MaxValue, Long.MinValue)
           else (v + 1, Long.MaxValue))
    case GreaterThanOrEqual("tid", v: Long) => Some((v, Long.MaxValue))
    case LessThan("tid", v: Long) =>
      Some(if (v == Long.MinValue) (Long.MaxValue, Long.MinValue)
           else (Long.MinValue, v - 1))
    case LessThanOrEqual("tid", v: Long) => Some((Long.MinValue, v))
    case In("tid", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
      val ls = vs.map(_.asInstanceOf[Long]); Some((ls.min, ls.max))
    case And(l, r) =>
      (tidBound(l), tidBound(r)) match {
        case (Some((al, ah)), Some((bl, bh))) =>
          Some((math.max(al, bl), math.min(ah, bh)))
        case (a, b) => a.orElse(b)
      }
    case _ => None
  }

  override def build(): Scan = {
    rowLevel.foreach { op =>
      // row-level rewrite scan: pinned to the snapshot version current
      // NOW (planning time), CACHED on the operation (one scan per DML
      // command) so the write's commit can (a) detect concurrent commits
      // and (b) know which groups the replacement rows were computed from
      return op.rewriteScan(
        FimiTable.paths(options).toIndexedSeq, hadoopKVs, requiredSchema,
        maxSplitBytes, sep, FimiTable.extrasOf(tableSchema))
    }
    val buckets = Option(options.get("buckets")).map(_.toInt).getOrElse(0)
    if (buckets > 0)
      // bucketed layout (see FimiBuckets.scala): explicit-tid lines under
      // bucket=K dirs, one key-grouped partition per bucket; tid-range
      // split pruning does not apply (tids are data, not offsets)
      new FimiBucketedScan(FimiTable.paths(options).toIndexedSeq, hadoopKVs,
        requiredSchema, sep, limit, buckets)
    else {
      val bound = pruneFilters.flatMap(tidBound)
        .foldLeft((Long.MinValue, Long.MaxValue)) { case ((lo, hi), (l, h)) =>
          (math.max(lo, l), math.min(hi, h))
        }
      new FimiScan(FimiTable.paths(options).toIndexedSeq, hadoopKVs, requiredSchema,
        maxSplitBytes, sep, limit, bound._1, bound._2,
        Option(options.get("versionAsOf")).map(_.toLong),
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        Option(options.get("ignoreChanges")).exists(_.toBoolean),
        FimiTable.extrasOf(tableSchema),
        pruneFilters.filter(FimiStats.prunable(_, extrasTypes)).toSeq)
    }
  }
}

case class FimiInputPartition(
    filePath: String,
    fileOrdinal: Int,
    start: Long,
    length: Long) extends InputPartition

class FimiScan(
    optionPaths: Seq[String],
    hadoopKVs: Array[(String, String)],
    requiredSchema: StructType,
    maxSplitBytes: Long,
    sep: String,
    limit: Int,
    tidLo: Long,
    tidHi: Long,
    versionAsOf: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    ignoreChanges: Boolean = false,
    tableExtras: Seq[StructField] = Nil,
    statFilters: Seq[Filter] = Nil) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  /** Streaming form: new files in the directory become micro-batches
    * (see [[FimiMicroBatchStream]] for the discovery-log offset
    * design). Column pruning applies to streaming reads too; limit and
    * tid-range pushdown are batch-only (the engine replays offsets, so
    * planning must be a pure function of the log). */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FimiMicroBatchStream(
      optionPaths, hadoopKVs, requiredSchema, sep, checkpointLocation,
      maxFilesPerTrigger, ignoreChanges, tableExtras)

  override def description(): String = {
    val lim = if (limit >= 0) s", pushedLimit=$limit" else ""
    val rng =
      if (tidLo != Long.MinValue || tidHi != Long.MaxValue)
        s", tidRange=[$tidLo,$tidHi]"
      else ""
    val ver = versionAsOf.map(v => s", versionAsOf=$v").getOrElse("")
    val sf =
      if (statFilters.isEmpty) ""
      else s", statsFilters=[${statFilters.mkString(", ")}]"
    s"fimi ${optionPaths.mkString(",")}$lim$rng$ver$sf"
  }

  /** Row-level rewrite hook: the runtime group filter narrows the scan
    * to the files containing matching rows. `true` for every plain scan. */
  protected def keepFile(path: String): Boolean = true

  @volatile private var planned: Array[FimiInputPartition] = _

  private lazy val allPartitions: Array[FimiInputPartition] = {
    val conf = FimiTable.rebuildConf(hadoopKVs)
    // a bucketed table dir read WITHOUT the buckets option would list
    // zero files (bucket=K subdirs skipped, _buckets hidden) and return
    // a silently EMPTY frame — fail with the remedy instead
    optionPaths.foreach { p =>
      val path = new Path(p)
      val pfs = path.getFileSystem(conf)
      if (pfs.exists(new Path(path, "_buckets")))
        throw new IllegalArgumentException(
          s"fimi: $p is a bucketed table directory (_buckets marker " +
            "present); pass .option(\"buckets\", N) or read it through " +
            "the graft catalog")
    }
    val files = FimiTable.resolveDataFiles(conf, optionPaths, versionAsOf)
    require(files.size < (1 << (63 - FimiTable.OffsetBits)),
      s"fimi: ${files.size} files exceeds the tid file-ordinal range")
    // DATA SKIPPING on pushed evolved-column predicates: files whose
    // manifest stats PROVE no match are dropped AFTER ordinal
    // assignment (tids are positional — skipping must never re-key
    // them), conservative-keep on missing/unparseable stats. Residual
    // filters above the scan make this a pure work-skip.
    val mayMatchFile: String => Boolean =
      if (statFilters.isEmpty || tableExtras.isEmpty) _ => true
      else {
        val extras = tableExtras.map(f => f.name -> f.dataType).toMap
        var statsMap = Map.empty[String, String]
        // provenance for the ALL-NULL inference below: a file listed
        // BEFORE a column existed cannot hold a value for it (files
        // are immutable), so the column is provably all-null there
        // even with no recorded stats. Vacuumed history degrades to
        // conservative keep (addVersion unknown).
        var colAdded = Map.empty[String, Long]
        var fileFirst = Map.empty[String, Long]
        optionPaths.foreach { p =>
          val path = new Path(p)
          val pfs = path.getFileSystem(conf)
          if (pfs.exists(path) && pfs.getFileStatus(path).isDirectory &&
              FimiLog.exists(pfs, path)) {
            statsMap ++= FimiLog.statsAt(pfs, path, versionAsOf)
            val prov = FimiLog.provenance(pfs, path)
            colAdded ++= prov.colAdded
            fileFirst ++= prov.fileFirst
          }
        }
        name => {
          val recorded = statsMap.get(name).flatMap(FimiStats.parse(_, extras))
          val rows = recorded.map(_.rows).getOrElse(1L)
          val inferredNull: Map[String, FimiStats.ColStats] = extras.collect {
            case (c, _) if !recorded.exists(_.cols.contains(c)) &&
                colAdded.get(c).exists(av =>
                  fileFirst.get(name).exists(_ < av)) =>
              c -> FimiStats.ColStats(None, None, rows)
          }
          val effective: Option[FimiStats.FileStats] = recorded match {
            case Some(r) =>
              Some(if (inferredNull.isEmpty) r
                   else r.copy(cols = inferredNull ++ r.cols))
            case None if inferredNull.nonEmpty =>
              Some(FimiStats.FileStats(rows, inferredNull))
            case None => None
          }
          effective match {
            case Some(fst) =>
              statFilters.forall(FimiStats.mayMatch(fst, _, extras))
            case None => true
          }
        }
      }
    val codecs = new CompressionCodecFactory(conf)
    files.iterator.zipWithIndex
      .filter { case (st, _) => mayMatchFile(st.getPath.getName) }
      .flatMap { case (st, ord) =>
      val len = st.getLen
      require(len < (1L << FimiTable.OffsetBits),
        s"fimi: ${st.getPath} is ${len} bytes; tid offset range is " +
          s"${1L << FimiTable.OffsetBits} (1 TiB) per file")
      val splittable = codecs.getCodec(st.getPath) == null
      FimiTable.splitRanges(splittable, len, maxSplitBytes)
        .filter { case (s, l) =>
          // Lines in a split start within [start, start+len] (closed on
          // the left is conservative by one byte — the boundary line
          // belongs to exactly one neighbor); empty intersection with
          // the pushed tid range ⇒ the split cannot yield a match.
          // ONLY valid for uncompressed files: a compressed file's tids
          // are LINE COUNTERS (see FimiPartitionReader), which exceed
          // the compressed byte length whenever lines are shorter than
          // their compression ratio — a byte bound there would prune
          // live rows. Compressed files always pass to the residual
          // filter instead.
          !splittable || {
            val lo = (ord.toLong << FimiTable.OffsetBits) | s
            val hi = (ord.toLong << FimiTable.OffsetBits) | (s + l)
            lo <= tidHi && hi >= tidLo
          }
        }
        .filter(_._2 > 0)
        .map { case (s, l) => FimiInputPartition(st.getPath.toString, ord, s, l) }
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val ps = allPartitions.filter(p => keepFile(p.filePath))
    planned = ps
    ps.toArray[InputPartition]
  }

  /** Distinct file paths the most recent plan covered (after any
    * runtime group filtering) — the copy-on-write "replaced" set. */
  private[fimi] def plannedFilePaths: Seq[String] = {
    val ps = Option(planned)
      .getOrElse(allPartitions.filter(p => keepFile(p.filePath)))
    ps.map(_.filePath).distinct.toSeq
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FimiPartitionReaderFactory(hadoopKVs, requiredSchema, sep, limit, tableExtras)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(allPartitions.map(_.length).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

class FimiPartitionReaderFactory(
    hadoopKVs: Array[(String, String)],
    requiredSchema: StructType,
    sep: String,
    limit: Int,
    tableExtras: Seq[StructField] = Nil) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FimiPartitionReader(
      partition.asInstanceOf[FimiInputPartition],
      FimiTable.rebuildConf(hadoopKVs), requiredSchema, sep, limit, tableExtras)
}

class FimiPartitionReader(
    part: FimiInputPartition,
    conf: Configuration,
    requiredSchema: StructType,
    sep: String,
    limit: Int,
    tableExtras: Seq[StructField] = Nil) extends PartitionReader[InternalRow] {

  private val wantTid = requiredSchema.fieldNames.contains("tid")
  private val wantItems = requiredSchema.fieldNames.contains("items")
  private val tidIdx = requiredSchema.fieldNames.indexOf("tid")
  private val itemsIdx = requiredSchema.fieldNames.indexOf("items")
  // `_file` metadata column (constant per partition — computed once)
  private val fileIdx = requiredSchema.fieldNames.indexOf(FimiTable.FileColName)
  private val fileVal =
    if (fileIdx >= 0) UTF8String.fromString(part.filePath) else null
  // evolved columns: (required ordinal, cell ordinal in the table's
  // extra order, type) per required extra — cells map positionally and
  // columns only append, so a file written under an OLDER schema has
  // fewer cells and the missing tail null-fills
  private val extraCols: Array[(Int, Int, DataType)] =
    requiredSchema.fields.zipWithIndex.collect {
      case (f, i) if f.name != "tid" && f.name != "items" &&
          f.name != FimiTable.FileColName =>
        val cell = tableExtras.indexWhere(_.name == f.name)
        if (cell < 0) throw new IllegalStateException(
          s"fimi: required column ${f.name} is not an evolved column of " +
            s"this table (extras: ${tableExtras.map(_.name).mkString(",")})")
        (i, cell, f.dataType)
    }.toArray
  private val wantCells = extraCols.nonEmpty
  private val cellSplitRe = java.util.regex.Pattern.quote(FimiTable.CellSep.toString)
  // compiled once: String.split(regex) compiles a Pattern per line
  private val sepPattern = java.util.regex.Pattern.compile(sep)

  private val reader = {
    val split = new FileSplit(new Path(part.filePath), part.start, part.length, null)
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    val r = new LineRecordReader()
    r.initialize(split, ctx)
    r
  }

  /** For a compressed stream LineRecordReader's key is a stream
    * position that can repeat across buffered lines, so offset-tids
    * would collide; a compressed file is always a single split, so a
    * plain line counter is deterministic and unique there instead. */
  private val compressed =
    new CompressionCodecFactory(conf).getCodec(new Path(part.filePath)) != null

  private var current: InternalRow = _
  private var emitted = 0
  private var lineNo = -1L

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (reader.nextKeyValue()) {
      lineNo += 1
      val line = reader.getCurrentValue.toString
      // the evolved-cell suffix must split off BEFORE trimming: CellSep
      // is a control char below U+0020, which String.trim would eat
      val sepAt = line.indexOf(FimiTable.CellSep)
      val trimmed = (if (sepAt < 0) line else line.substring(0, sepAt)).trim
      if (trimmed.nonEmpty || sepAt >= 0) {
        val row = new GenericInternalRow(requiredSchema.length)
        if (wantTid) {
          val offset = if (compressed) lineNo else reader.getCurrentKey.get()
          row.update(tidIdx,
            (part.fileOrdinal.toLong << FimiTable.OffsetBits) | offset)
        }
        if (wantItems) {
          val items = sepPattern.split(trimmed).filter(_.nonEmpty).distinct.sorted
          row.update(itemsIdx,
            new GenericArrayData(items.map(UTF8String.fromString(_))))
        }
        if (wantCells) {
          val cells: Array[String] =
            if (sepAt < 0) Array.empty
            else {
              var cp = line.substring(sepAt + 1)
              if (cp.endsWith("\r")) cp = cp.dropRight(1)
              cp.split(cellSplitRe, -1)
            }
          var e = 0
          while (e < extraCols.length) {
            val (i, cell, dt) = extraCols(e)
            row.update(i,
              if (cell < cells.length) FimiTable.decodeCell(cells(cell), dt)
              else null)
            e += 1
          }
        }
        if (fileIdx >= 0) row.update(fileIdx, fileVal)
        current = row
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

// -------------------------------------------------------------- write

class FimiWriteBuilder(options: CaseInsensitiveStringMap, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var truncateExisting = false

  override def truncate(): WriteBuilder = { truncateExisting = true; this }

  override def build(): Write = {
    val itemsIdx = info.schema().fieldNames.indexOf("items")
    require(itemsIdx >= 0 &&
      info.schema()(itemsIdx).dataType.isInstanceOf[ArrayType] &&
      info.schema()(itemsIdx).dataType.asInstanceOf[ArrayType]
        .elementType == StringType,
      s"fimi write needs an `items ARRAY<STRING>` column; got ${info.schema()}")
    val dest = FimiTable.paths(options) match {
      case Seq(one) => one
      case many => throw new IllegalArgumentException(
        s"fimi write needs exactly one destination path; got $many")
    }
    val kvs = FimiTable.confKVs(
      SparkSession.active.sessionState.newHadoopConf())
    val buckets = Option(options.get("buckets")).map(_.toInt).getOrElse(0)
    if (buckets > 0) {
      val tidIdx = info.schema().fieldNames.indexOf("tid")
      require(tidIdx >= 0 && info.schema()(tidIdx).dataType == LongType,
        s"bucketed fimi write needs a `tid BIGINT` column; got ${info.schema()}")
      new FimiBucketedWrite(dest, kvs, tidIdx, itemsIdx, info.queryId(),
        truncateExisting, buckets)
    } else {
      // evolved-column cells: one per TABLE extra in schema order,
      // valued from the input column of the same name when present,
      // null otherwise. Input columns matching no table extra are
      // ignored, like `tid` always was (the path surface is permissive
      // by contract; catalog writes schema-resolve before they get here)
      val cells = FimiTable.cellLayout(
        FimiTable.schemaFor(options), info.schema())
      new FimiBatchWrite(dest, kvs, itemsIdx, info.queryId(), truncateExisting,
        Option(options.get("snapshots")).exists(_.toBoolean),
        commitOp = Option(options.get("commitOp")),
        cells = cells)
    }
  }
}

case class FimiCommitMessage(
    stagedPath: String,
    // per-file content stats for the manifest's `#stats` line (data
    // skipping): {"rows":N,"cols":{"<name>":{"nulls":K,"min":..,"max":..}}}
    // — present only when the table has evolved columns
    statsJson: Option[String] = None) extends WriterCommitMessage

class FimiBatchWrite(
    dest: String,
    hadoopKVs: Array[(String, String)],
    itemsIdx: Int,
    queryId: String,
    truncate: Boolean,
    snapshots: Boolean = false,
    // history verb override (the staged CTAS/RTAS paths label their data
    // commit with the DDL statement that drove it); None = the write
    // mode's own verb (OVERWRITE / APPEND)
    commitOp: Option[String] = None,
    cells: Seq[(String, Int, org.apache.spark.sql.types.DataType)] = Nil)
    extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  /** Streaming sink form — exactly-once epochs via the manifest log
    * (see [[FimiStreamingWrite]]). A streaming write always makes the
    * destination a snapshot table: the manifest IS the epoch-dedup
    * ledger. */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new FimiStreamingWrite(dest, hadoopKVs, itemsIdx, cells)

  private def stagingDir = new Path(dest, s".graft-staging-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FimiWriterFactory(stagingDir.toString, hadoopKVs, itemsIdx, cells)

  /** Job commit — the only point where data becomes visible: clear old
    * part files under truncate, then rename each COMMITTED task file
    * into place. Rename is per-file-atomic on HDFS-like stores; a crash
    * mid-commit leaves a mix the next truncate-write clears, never a
    * torn file.
    *
    * SNAPSHOT MODE (`.option("snapshots", "true")` on the first write,
    * auto-detected from `_fimi_log` thereafter): old generations stay
    * on disk so `versionAsOf` reads keep working; visibility is decided
    * by the manifest alone — truncate is a marker in the new manifest,
    * and the manifest rename is the atomic commit point, AFTER which
    * the staging dir is cleared. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = FimiTable.rebuildConf(hadoopKVs)
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(conf)
    fs.mkdirs(destPath)
    val snapshotMode = snapshots || FimiLog.exists(fs, destPath)
    if (truncate && !snapshotMode)
      // truncate REPLACES the table: every visible data file goes — a
      // part-*-only filter would leave pre-existing native .dat files
      // (retail.dat-style inputs, this connector's primary read case)
      // alive next to the new generation
      Option(fs.listStatus(destPath)).getOrElse(Array.empty).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
          fs.delete(st.getPath, false)
      }
    val committed = messages.toSeq.map {
      case m: FimiCommitMessage =>
        val s = new Path(m.stagedPath)
        if (!fs.rename(s, new Path(destPath, s.getName)))
          throw new java.io.IOException(
            s"fimi commit: rename $s -> $destPath/${s.getName} failed")
        (s.getName, m.statsJson)
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    val finalNames = committed.map(_._1)
    if (snapshotMode) {
      // first snapshot commit of a dir with pre-existing native files
      // adopts them as generation 0 so they stay readable
      val adopted =
        if (FimiLog.exists(fs, destPath)) Seq.empty
        else FimiTable.listDataFiles(conf, Seq(dest))
          .map(_.getPath.getName).filterNot(finalNames.contains)
      val stats = committed.collect { case (n, Some(j)) => n -> j }.toMap
      var v = FimiLog.latestVersion(fs, destPath).map(_ + 1).getOrElse(0L)
      while (!FimiLog.write(fs, destPath, v, None, truncate,
          (if (truncate) Seq.empty else adopted) ++ finalNames,
          op = commitOp.orElse(Some(if (truncate) "OVERWRITE" else "APPEND")),
          stats = stats))
        v += 1
      FimiLog.maybeCheckpoint(fs, destPath)
    }
    fs.delete(stagingDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = FimiTable.rebuildConf(hadoopKVs)
    val fs = stagingDir.getFileSystem(conf)
    fs.delete(stagingDir, true)
  }
}

class FimiWriterFactory(
    stagingDir: String,
    hadoopKVs: Array[(String, String)],
    itemsIdx: Int,
    cells: Seq[(String, Int, org.apache.spark.sql.types.DataType)] = Nil)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // The job-unique staging-dir suffix rides into the FINAL name too:
    // taskIds restart at 0 in a fresh session, so append-mode jobs from
    // different sessions would otherwise collide on part-00000-0.dat.
    val jobTag = new Path(stagingDir).getName
      .stripPrefix(".graft-staging-").replaceAll("[^a-zA-Z0-9]", "").take(8)
    val file = new Path(stagingDir, f"part-$partitionId%05d-$taskId-$jobTag.dat")
    new FimiLineWriter(file, FimiTable.rebuildConf(hadoopKVs), itemsIdx, cells)
  }
}

/** Task-side writer: streams lines into one staged file; `commit`
  * closes it and hands the path to the driver. Task retries write
  * distinct files (a per-attempt component in the name) — only the
  * winner's message reaches job commit, the loser's file dies with the
  * staging dir. Shared by the batch and streaming writer factories,
  * which differ only in staging layout and naming. */
class FimiLineWriter(
    file: Path,
    conf: Configuration,
    itemsIdx: Int,
    cells: Seq[(String, Int, org.apache.spark.sql.types.DataType)] = Nil)
    extends DataWriter[InternalRow] {

  private val fs = file.getFileSystem(conf)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(file, true),
      java.nio.charset.StandardCharsets.UTF_8))
  private val cellArr = cells.toArray
  // per-file content stats (data skipping): rows written, and per
  // evolved column min/max/null-count — O(extras) driver-free state,
  // folded into the commit message and landed as the manifest's
  // `#stats` line
  private var rowCount = 0L
  private val statMin = new Array[Any](cellArr.length)
  private val statMax = new Array[Any](cellArr.length)
  private val statNulls = new Array[Long](cellArr.length)

  override def write(row: InternalRow): Unit = {
    val arr = row.getArray(itemsIdx)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (i > 0) out.write(' ')
      out.write(arr.getUTF8String(i).toString)
      i += 1
    }
    if (cellArr.nonEmpty) {
      // drop the all-null suffix: a row whose evolved columns are all
      // null writes the PLAIN base line (byte-identical pre/post
      // evolution — the null-fill contract in reverse)
      var last = cellArr.length - 1
      while (last >= 0 &&
          (cellArr(last)._2 < 0 || row.isNullAt(cellArr(last)._2))) last -= 1
      var c = 0
      while (c <= last) {
        out.write(FimiTable.CellSep.toInt)
        val (_, ord, dt) = cellArr(c)
        if (ord < 0 || row.isNullAt(ord)) out.write("null")
        else out.write(FimiTable.encodeCell(row, ord, dt))
        c += 1
      }
      // stats fold over ALL cells (the dropped suffix is still null)
      var s = 0
      while (s < cellArr.length) {
        val (_, ord, dt) = cellArr(s)
        if (ord < 0 || row.isNullAt(ord)) statNulls(s) += 1
        else {
          val v: Any = dt match {
            case org.apache.spark.sql.types.StringType =>
              row.getUTF8String(ord).clone()
            case org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.TimestampType => row.getLong(ord)
            case org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.DateType => row.getInt(ord)
            case org.apache.spark.sql.types.DoubleType => row.getDouble(ord)
            case org.apache.spark.sql.types.BooleanType => row.getBoolean(ord)
            case other => throw new IllegalStateException(
              s"fimi: unsupported evolved-column type $other")
          }
          if (statMin(s) == null || FimiTable.compareCells(dt, v, statMin(s)) < 0)
            statMin(s) = v
          if (statMax(s) == null || FimiTable.compareCells(dt, v, statMax(s)) > 0)
            statMax(s) = v
        }
        s += 1
      }
    }
    rowCount += 1
    out.write('\n')
  }

  private def statsJson: Option[String] = {
    if (cellArr.isEmpty) return None
    val cols = cellArr.indices.map { s =>
      val (name, _, dt) = cellArr(s)
      // NaN/Infinity have no JSON number form — rendering them would
      // make the whole blob unparseable and silently void EVERY
      // column's stats for this file; drop just this column's range
      // instead (null-count still recorded)
      def renderable(v: Any): Boolean = dt match {
        case org.apache.spark.sql.types.DoubleType =>
          java.lang.Double.isFinite(v.asInstanceOf[Double])
        case _ => true
      }
      val mm =
        if (statMin(s) == null || !renderable(statMin(s)) ||
            !renderable(statMax(s))) ""
        else s""","min":${FimiTable.encodeValue(statMin(s), dt)}""" +
          s""","max":${FimiTable.encodeValue(statMax(s), dt)}"""
      s"""${FimiTable.jsonName(name)}:{"nulls":${statNulls(s)}$mm}"""
    }
    Some(s"""{"rows":$rowCount,"cols":{${cols.mkString(",")}}}""")
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    FimiCommitMessage(file.toString, statsJson)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(file, false)
  }

  override def close(): Unit = ()
}
