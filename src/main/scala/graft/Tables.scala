package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-generated star schema
  * (see /root/repo/FIXTURES.md for pinned schemas and domains).
  *
  * Scale posture: each table is a plain parquet scan — Catalyst pushes
  * column pruning and predicate filters down to the reader, so callers
  * should `.select(...)`/`.filter(...)` as early as possible and let the
  * optimizer do the rest. On a real cluster these paths would be
  * partitioned directories; nothing here assumes single-file layout.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The one per-session cache: every derived frame, fitted model and
    * planning verdict a query reuses within a session, keyed by
    * (session tag, dir, key). A real pipeline derives these once; queries
    * sharing one session reuse the stored value instead of re-deriving
    * it, and a fresh session never sees another session's values. */
  private val sessionCache =
    scala.collection.concurrent.TrieMap[(String, String, String), Any]()

  /** Stable per-session key: a fresh UUID minted on first sight of each
    * live session and held in a WEAK-keyed map — unlike
    * identityHashCode, a tag can never be reused by a later session
    * (r14 ADVICE: identity-hash reuse after GC could replay a stale
    * cache line), and dead sessions' entries are collectable. */
  private val sessionTags =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def sessionTag(spark: SparkSession): String =
    sessionTags.synchronized {
      val t = sessionTags.get(spark)
      if (t != null) t
      else { val u = java.util.UUID.randomUUID().toString; sessionTags.put(spark, u); u }
    }

  /** The value `build` returns, built once per (session, dir, key). The
    * key must name everything the value depends on besides the session
    * and `dir`. */
  def sessionValue[T](spark: SparkSession, dir: String, key: String)(build: => T): T = {
    val tag = sessionTag(spark)
    touch(tag)
    sessionCache.getOrElseUpdate((tag, dir, key), build).asInstanceOf[T]
  }

  /** [[sessionValue]] of a persisted frame: shared derived tables (e.g.
    * the exploded transaction table every mining query starts from). */
  def memo(spark: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame =
    sessionValue(spark, dir, key)(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** SESSION-RETENTION bound (r15 VERDICT #3): a memoized DataFrame
    * strongly references its SparkSession, so a cache that only ever
    * grows pins every session a JVM ever created — dropped sessions
    * (and their persisted blocks) would never become collectable. The
    * cache therefore keeps entries for at most [[MaxMemoSessions]]
    * most-recently-USED sessions: when a fresh session pushes the count
    * over, the least-recently-touched session's entries are removed and
    * their frames unpersisted, making that session reachable only by
    * its owner (GC-collectable once dropped). Active sessions are never
    * evicted by their own use — only by MaxMemoSessions NEWER sessions
    * arriving, in which case the evicted session's next call simply
    * rebuilds (a perf, never a correctness, event).
    *
    * Spark's cache manager keeps ONE entry for all equal plans across
    * sessions, so an evicted frame is unpersisted only when no live
    * entry holds a frame of the same result; that entry's own eviction
    * unpersists it later. */
  private val MaxMemoSessions = 8
  private val touchCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val tagTouch = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def touch(tag: String): Unit = {
    tagTouch(tag) = touchCounter.incrementAndGet()
    while (tagTouch.size > MaxMemoSessions) {
      val oldest = tagTouch.minBy(_._2)._1
      tagTouch.remove(oldest)
      sessionCache.keys.filter(_._1 == oldest).toList.flatMap(sessionCache.remove).foreach {
        case df: org.apache.spark.sql.Dataset[_] if !heldByLiveEntry(df) =>
          try df.unpersist() catch { case _: Throwable => () }
        case _ => ()
      }
    }
  }

  /** Whether a live cache entry holds a frame whose plan gives the same
    * result as `df`'s, which is how Spark's cache manager matches entries. */
  private def heldByLiveEntry(df: org.apache.spark.sql.Dataset[_]): Boolean =
    sessionCache.values.exists {
      case live: org.apache.spark.sql.Dataset[_] =>
        live.queryExecution.normalized.sameResult(df.queryExecution.normalized)
      case _ => false
    }

  /** Test hooks for the retention spec. */
  private[graft] def sessionCount: Int = tagTouch.size
  private[graft] def sessionEntryCount: Int = sessionCache.size

  // ------------------------------------------------- persisted indexes

  /** Bumped when the stored format of an index or artifact changes; it
    * rides every [[fingerprint]]. */
  val IndexFormatVersion = 1

  /** Test hook: overrides the SPARK_GRAFT_INDEX_DIR resolution (env
    * vars cannot change within a JVM). */
  private[graft] var indexRootOverride: Option[Option[String]] = None

  /** The disk store's root: `$SPARK_GRAFT_INDEX_DIR`, default
    * `<tmpdir>/graft_index`; `off` disables persistence. */
  private[graft] def indexRoot: Option[String] =
    indexRootOverride.getOrElse(sys.env.get("SPARK_GRAFT_INDEX_DIR") match {
      case Some("off") | Some("0") | Some("") => None
      case Some(p) => Some(p)
      case None => Some(new java.io.File(
        sys.props("java.io.tmpdir"), "graft_index").getAbsolutePath)
    })

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fingerprint of `dir`'s parquet inputs: (name, length, mtime) of
    * every data file, format-versioned. Cheap (one directory listing;
    * no data read). CAVEAT (documented, accepted for a derived-artifact
    * cache): a same-length content change whose mtime is preserved (an
    * mtime-restoring copy, or a coarse-mtime filesystem landing two
    * writes in one tick) fingerprints identically and would serve the
    * prior artifact; content-hashing parquet footers would close it at
    * the cost of reading every file per lookup. Correctness backstop:
    * the store only ever holds DERIVED data — deleting the root (or
    * setting SPARK_GRAFT_INDEX_DIR=off) restores pure-memo behavior. */
  private[graft] def fingerprint(dir: String): String = {
    val d = new java.io.File(dir)
    val entries = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val parts = entries.flatMap { e =>
      if (e.isDirectory)
        Option(e.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith("_"))
          .sortBy(_.getName)
          .map(f => s"${e.getName}/${f.getName}:${f.length}:${f.lastModified}")
      else Array(s"${e.getName}:${e.length}:${e.lastModified}")
    }
    // Spark version rides the fingerprint: a learned artifact (seeded
    // k-means, PFP) is deterministic per Spark build, not across them.
    sha(s"v$IndexFormatVersion|spark${org.apache.spark.SPARK_VERSION}|" +
      parts.mkString("|")).take(16)
  }

  private def sqlOnly(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, _) => sqlOnly(et)
      case MapType(k, v, _) => sqlOnly(k) && sqlOnly(v)
      case StructType(fs) => fs.forall(f => sqlOnly(f.dataType))
      case _: UserDefinedType[_] => false
      case _ => true
    }
  }

  /** The PERSISTED store behind [[index]] and [[artifact]] (r15 VERDICT
    * task 6): a derived value is spilled to a VERSIONED directory keyed
    * by a fingerprint of the source tables, so the next JVM loads it
    * instead of re-deriving it — a one-time cost per corpus snapshot,
    * not a per-process cost. This is the maintained-index lifecycle a
    * real deployment runs (train/derive once per snapshot, serve from
    * the materialization).
    *
    * Layout: `<root>/<dirHash>/<key>__<fingerprint>/`. Any data change
    * or format bump yields a NEW path, so stale artifacts can never be
    * served (invalidation is structural, not advisory). Writes are
    * atomic (`save` into a temp dir → rename); a concurrent builder of
    * the same fingerprint loses the rename race and uses the winner's
    * copy. Persistence is BEST-EFFORT end to end: an unreadable stored
    * copy (torn write, concurrent cleanup) is dropped and rebuilt, and
    * an unwritable root (disk full, bad SPARK_GRAFT_INDEX_DIR) degrades
    * to the built value, never failing the query. Superseded
    * fingerprints of the key are swept on every hit and publish.
    *
    * A miss returns the built value, or with `readBack` the `load` of
    * the published copy. `save` may write nothing, which keeps that
    * value out of the store. */
  private def stored[T](dir: String, key: String, readBack: Boolean)(build: => T)(
      save: (T, String) => Unit)(load: String => T): T =
    indexRoot match {
      case None => build
      case Some(root) =>
        val dh = sha(new java.io.File(dir).getAbsolutePath).take(12)
        val safeKey = key.replaceAll("[^a-zA-Z0-9_.-]", "_")
        val parent = new java.io.File(root, dh)
        val kdir = new java.io.File(parent, s"${safeKey}__${fingerprint(dir)}")
        val loaded: Option[T] =
          if (kdir.isDirectory)
            try Some(load(kdir.getAbsolutePath))
            catch {
              case scala.util.control.NonFatal(_) =>
                // drop it so the rebuild below can publish (its rename
                // would collide otherwise)
                try rmTree(kdir) catch { case _: Throwable => () }
                None
            }
          else None
        loaded match {
          case Some(v) =>
            // hit path sweeps too (r17 ADVICE): a key never rebuilt
            // again would otherwise keep its superseded fingerprint
            // dirs forever — the sweep is one listFiles, age-gated
            dropStale(parent, safeKey, kdir.getName)
            v
          case None =>
            val v = build
            val tmp = new java.io.File(parent,
              s".${kdir.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
            try {
              save(v, tmp.getAbsolutePath)
              if (!tmp.renameTo(kdir)) rmTree(tmp) // concurrent winner, or nothing saved
              if (!kdir.isDirectory) v
              else {
                dropStale(parent, safeKey, kdir.getName)
                if (readBack) load(kdir.getAbsolutePath) else v
              }
            } catch {
              case scala.util.control.NonFatal(_) =>
                try rmTree(tmp) catch { case _: Throwable => () }
                v
            }
        }
    }

  /** Grace window before a SUPERSEDED fingerprint directory is deleted.
    * A concurrent JVM may hold a lazy DataFrame over the old artifact
    * (its source dir was regenerated between the two processes' loads);
    * deleting it immediately would fail that reader mid-scan. Stale dirs
    * are therefore only removed once older than this window — retention,
    * not correctness (a stale FINGERPRINT is never *served*, only kept
    * on disk briefly for in-flight readers). Only tests change it. */
  private[graft] var indexStaleGraceMs: Long = 15L * 60 * 1000

  /** Best-effort removal of this key's superseded fingerprint dirs
    * (everything matching `<key>__*` except `current`), age-gated by
    * [[indexStaleGraceMs]]. */
  private def dropStale(parent: java.io.File, safeKey: String,
      current: String): Unit = {
    val cutoff = System.currentTimeMillis() - indexStaleGraceMs
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(safeKey + "__") &&
        f.getName != current && f.lastModified() < cutoff)
      .foreach(rmTree)
  }

  /** A [[memo]] whose frame is also [[stored]] as plain parquet
    * (minhash signatures, component labels, mined itemsets, selection
    * scaffolds). A miss builds, writes and memoizes the read-back of the
    * published copy, so the memo persists parquet, not the build's
    * lineage. Frames whose schema holds a non-SQL type (e.g. an ml UDT)
    * are memoized but not stored — a parquet round-trip would drop the
    * UDT wrapper.
    *
    * Correctness stance: builds are deterministic by this repo's
    * determinism rules, and parquet round-trips values exactly, so a
    * loaded index is VALUE-identical to a fresh build; only physical
    * row order/partitioning may differ, which no downstream consumer
    * depends on (every declared key orders its own output). The sf-dir
    * fingerprint guard is spec-gated in ContractSpec. */
  def index(spark: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame =
    memo(spark, dir, key) {
      stored(dir, key, readBack = true)(build) { (df, path) =>
        if (sqlOnly(df.schema)) df.write.mode("overwrite").parquet(path)
      }(spark.read.parquet(_))
    }

  /** A [[sessionValue]] that is also [[stored]]: learned models (the IVF
    * k-means codebook, the PQ subspace codebooks, the BPE rule list).
    * The caller provides how to `save` a built value into a directory
    * and how to `load` one back; a miss returns the built value (no
    * reload round-trip — save/load is value-faithful by contract). */
  private[graft] def artifact[T](spark: SparkSession, dir: String, key: String)(build: => T)(
      save: (T, String) => Unit)(load: String => T): T =
    sessionValue(spark, dir, key)(stored(dir, key, readBack = false)(build)(save)(load))

  /** Per-SESSION scratch directory for queries that materialize work
    * tables (fimi round-trips, snapshot/time-travel rebuilds, format
    * dumps). The session tag in the path is what makes two concurrent
    * drivers on one host (verify and bench overlapping — r15 ADVICE)
    * unable to `rm` each other's live tables mid-query: each JVM and
    * each session writes under its own root. A JVM shutdown hook
    * removes everything this process created (a crash leaves only
    * tmpdir garbage, never a torn shared table). */
  def workRoot(spark: SparkSession, tag: String): String = {
    val root = new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir"), "graft_work"),
      sessionTag(spark))
    workRootsLock.synchronized {
      if (workRoots.add(root) && workRoots.size == 1)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          workRootsLock.synchronized { workRoots.foreach(rmTree) }))
    }
    new java.io.File(root, tag).getAbsolutePath
  }

  /** A registered work catalog's addresses: `prefix` = the
    * catalog-qualified, backquoted namespace ("cat.`sf0.1`") table
    * names prepend to; `ns` = the namespace (the corpus dir's leaf
    * name, backquote-free — what `CALL` procedure arguments need);
    * `nsDir` = the namespace's filesystem directory. */
  case class WorkCatalog(prefix: String, ns: String, nsDir: String)

  /** Register (idempotently) a [[graft.catalog.GraftCatalog]] named
    * `cat` over this session's work root for `tag`, namespaced by
    * `dir`'s leaf name. INVARIANT the three managed-table keys share
    * (and the bench enforces): the per-SF component must be the
    * NAMESPACE, never the catalog root — a catalog's root is pinned at
    * its first instantiation in a session, and the bench JIT-warms
    * every key at sf0.001 before timing at the target SF in the same
    * session, so an SF-dependent root would resolve the second SF's
    * tables against the first SF's directory. */
  def fimiWorkCatalog(
      spark: SparkSession, tag: String, cat: String, dir: String): WorkCatalog = {
    val root = workRoot(spark, tag)
    val ns = new java.io.File(dir).getName
    new java.io.File(s"$root/$ns").mkdirs()
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    WorkCatalog(s"$cat.`$ns`", ns, s"$root/$ns")
  }

  private val workRoots = scala.collection.mutable.Set.empty[java.io.File]
  private val workRootsLock = new Object
  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  /** Footer-probe cache (r19 opt): [[load]] runs once per table
    * REFERENCE, so the NANOS-column probe otherwise re-opens a parquet
    * footer on every call — pure driver-side I/O repeated hundreds of
    * times per bench sweep. The answer is a pure function of the file's
    * bytes, so it caches by (path, mtime, length) file identity — a
    * regenerated corpus changes mtime/length and re-probes; this is
    * metadata about an input file, never derived data. */
  private val nanosColsCache =
    scala.collection.concurrent.TrieMap[(String, Long, Long), Set[String]]()

  /** Column names declared TIMESTAMP(NANOS) in the parquet footer of
    * `path` (a single file or a directory of part files — one footer is
    * representative because one writer produced the dataset). Footer-level
    * detection lets the ns→µs repair apply to ANY table/column a future
    * generator emits, instead of special-casing events.ts, and lets us
    * distinguish a genuine long column from a nanos timestamp that
    * `nanosAsLong` surfaced as LongType. */
  private def nanosTimestampCols(spark: SparkSession, path: String): Set[String] =
    nanosColsCache.getOrElseUpdate(fileId(path), nanosTimestampColsUncached(spark, path))

  private def fileId(path: String): (String, Long, Long) = {
    val f = new java.io.File(path)
    (path, f.lastModified, f.length)
  }

  /** Parquet schema inference runs one Spark job per read. Its answer is
    * a function of the file (the same (path, mtime, length) identity as
    * [[nanosColsCache]]) and of the session confs that steer parquet's
    * type mapping, so both form the key. Only the StructType is cached:
    * every [[load]] still builds a fresh relation with fresh expression
    * IDs, so two loads of one table self-join on distinct columns. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")
  private val schemaCache = scala.collection.concurrent.TrieMap[
    ((String, Long, Long), Seq[String]), org.apache.spark.sql.types.StructType]()

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = (fileId(path), schemaConfs.map(spark.conf.get))
    schemaCache.get(key) match {
      case Some(st) => spark.read.schema(st).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemaCache.putIfAbsent(key, df.schema)
        df
    }
  }

  private def nanosTimestampColsUncached(
      spark: SparkSession, path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      else Some(p)
    file.fold(Set.empty[String]) { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
      try reader.getFileMetaData.getSchema.getFields.asScala.collect {
        case fld if fld.isPrimitive && (fld.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        }) => fld.getName
      }.toSet
      finally reader.close()
    }
  }

  /** Row-group parallelize valve for per-row-HEAVY first stages
    * (shingling, fingerprinting, wide multi-distinct aggregation).
    *
    * A parquet row group is unsplittable, so an input written as one
    * file with one row group scans as ONE task no matter how many cores
    * the session has — and everything fused into that scan stage
    * (explode, hash, partial aggregation) serializes on one core. The
    * test fixtures are exactly that shape (single file, single row
    * group at every SF), which is also the real-world shape of a small
    * dimension snapshot or a few-big-gzip-files ingest. When the scan
    * yields fewer partitions than the session's parallelism, round-robin
    * repartition to the core count BEFORE the heavy stage; when the
    * input already scans wide (the 100 TB case — thousands of row
    * groups), this is a NO-OP: no exchange is added, map-side combine
    * stays on the scan tasks, and the plan is byte-identical. Apply it
    * only where the first stage does real per-row compute — for cheap
    * scans the exchange costs more than the serialism. */
  def fanOut(df: DataFrame, by: org.apache.spark.sql.Column*): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles
    // Reading the split count plans the whole frame (r13 ADVICE), so the
    // verdict is kept per (session, file set, cores); AQE never re-plans
    // scan splits. NUL cannot occur in a path, so the key holds the full
    // file list.
    val wide =
      if (files.isEmpty) df.rdd.getNumPartitions >= cores // non-file input: no stable key
      else sessionValue(df.sparkSession, "fanOut", (cores +: files).mkString("\u0000"))(
        df.rdd.getNumPartitions >= cores)
    if (wide) df
    // Prefer hash-partitioning on the downstream grouping keys: it skips
    // round-robin's local sort-before-repartition (retry determinism
    // costs a full in-task sort of the narrow frame) AND the following
    // aggregate reuses the exchange (partitioning already matches), so
    // the valve adds zero net shuffles. Round-robin only when no key
    // column exists before the heavy stage (e.g. pre-explode frames).
    else if (by.isEmpty) df.repartition(cores)
    else df.repartition(cores, by: _*)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Timestamp columns have drifted across generator versions:
    // TIMESTAMP(NANOS) (which Spark 4 rejects by default — read such
    // columns as long nanos via `nanosAsLong`, DIV 1000 to µs; integer
    // DIV because epoch nanos ≈ 1.7e18 exceeds double's 2^53 exact
    // range) and µs-naive TIMESTAMP(isAdjustedToUTC=false) (which Spark
    // reads as TIMESTAMP_NTZ; `unix_micros` & friends reject NTZ). Both
    // repairs are footer/schema-driven, so they cover whatever column a
    // future generator emits. Every NTZ column casts to TimestampType:
    // the session is pinned UTC, making the cast instant-identical to
    // the naive value the oracle reads, and keeping every downstream
    // operator on the one ts type the query surface was built against.
    // `nanosAsLong` is set only when the footer actually declares a
    // NANOS column, and every such column is converted right here, so
    // the session-global conf can never leave a stray long column behind.
    val path = s"$sfDir/$name.parquet"
    val nanosCols = nanosTimestampCols(spark, path)
    if (nanosCols.nonEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readParquet(spark, path)
    val nsFixed = nanosCols.foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType == org.apache.spark.sql.types.LongType)
        d.withColumn(c,
          org.apache.spark.sql.functions.expr(s"timestamp_micros($c DIV 1000)"))
      else d
    }
    nsFixed.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
      .foldLeft(nsFixed) { (d, f) =>
        d.withColumn(f.name,
          org.apache.spark.sql.functions.col(f.name).cast("timestamp"))
      }
  }
}
