package graft.sources.fimi

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contract tests for the manifest log's SCALE posture — the properties
  * VERDICT r15 flagged as the one remaining scale-killer:
  * bounded manifest opens per streaming-epoch commit and per cold read
  * (incremental fold + checkpoints), commit-time `#ts` resolution for
  * TIMESTAMP AS OF (mtime-independent), VACUUM retention, and
  * compaction's optimistic-commit conflict rule. */
class FimiLogSpec extends graft.SparkSpec {

  private def hfs(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def baskets(df: DataFrame): Seq[String] =
    df.select(concat_ws(",", col("items")).as("b"))
      .collect().map(_.getString(0)).sorted.toSeq

  test("per-commit opens are O(1): a 60-epoch commit loop opens ~1 manifest per epoch; cold reads are checkpoint-bounded") {
    val table = new Path(tempDir("opens") + "/t")
    val fs = hfs(table.toString)
    fs.mkdirs(table)
    val epochs = 60
    val before = FimiLog.contentOpens.get()
    // the streaming sink's per-epoch driver sequence, verbatim:
    // replay check → next version probe → manifest write → checkpoint
    (0 until epochs).foreach { e =>
      assert(!FimiLog.epochCommitted(fs, table, e))
      var v = FimiLog.latestVersion(fs, table).map(_ + 1).getOrElse(0L)
      while (!FimiLog.write(fs, table, v, Some(e), truncate = false, Seq(f"f$e%03d.dat")))
        v += 1
      FimiLog.maybeCheckpoint(fs, table)
    }
    val warmDelta = FimiLog.contentOpens.get() - before
    // pre-r16 behavior re-read EVERY manifest on EVERY commit:
    // ~epochs²/2 = 1800 opens. Incremental fold: each manifest parses
    // once (+ first read of each landed checkpoint) — linear, small.
    assert(warmDelta <= 3L * epochs,
      s"warm 60-epoch loop cost $warmDelta content opens — the fold is not incremental")
    // checkpoints actually landed (every CheckpointInterval commits)
    val ckpts = fs.listStatus(FimiLog.logDir(table))
      .map(_.getPath.getName).filter(_.endsWith(".checkpoint")).sorted
    assert(ckpts.length == epochs / FimiLog.CheckpointInterval, ckpts.mkString(","))
    // COLD reader (fresh JVM simulated): latest resolve = checkpoint + tail
    FimiLog.clearCache()
    val b1 = FimiLog.contentOpens.get()
    val files = FimiLog.resolve(fs, table, None)
    val coldResolve = FimiLog.contentOpens.get() - b1
    assert(files == (0 until epochs).map(e => f"f$e%03d.dat"),
      "fold order broken")
    assert(coldResolve <= FimiLog.CheckpointInterval + 1,
      s"cold resolve of a $epochs-version log cost $coldResolve opens")
    // COLD replay check: checkpoint's epoch ledger + tail
    FimiLog.clearCache()
    val b2 = FimiLog.contentOpens.get()
    assert(FimiLog.epochCommitted(fs, table, 30))
    assert(!FimiLog.epochCommitted(fs, table, 9999))
    assert(FimiLog.contentOpens.get() - b2 <= FimiLog.CheckpointInterval + 2,
      "cold replay check is not checkpoint-bounded")
    // checkpointed resolve ≡ manifest-only fold at EVERY version,
    // truncate semantics included — prove on a log with a mid-history
    // truncate landing before a checkpoint
    val t2 = new Path(tempDir("fold") + "/t")
    fs.mkdirs(t2)
    FimiLog.write(fs, t2, 0L, None, truncate = false, Seq("a.dat", "b.dat"))
    FimiLog.write(fs, t2, 1L, None, truncate = true, Seq("c.dat"))
    (2 until 14).foreach { v =>
      FimiLog.write(fs, t2, v.toLong, None, truncate = false, Seq(s"d$v.dat"))
      FimiLog.maybeCheckpoint(fs, t2)
    }
    def expected(v: Long): Seq[String] =
      if (v == 0) Seq("a.dat", "b.dat")
      else Seq("c.dat") ++ (2L to v).map(i => s"d$i.dat")
    (0L until 14L).foreach { v =>
      val warm = FimiLog.resolve(fs, t2, Some(v))
      FimiLog.clearCache()
      val cold = FimiLog.resolve(fs, t2, Some(v))
      assert(warm == expected(v) && cold == warm, s"v=$v warm=$warm cold=$cold")
    }
  }

  test("TIMESTAMP AS OF rides the #ts header: a copied log dir (fresh mtimes) keeps its commit history") {
    val sp = spark
    import sp.implicits._
    val dest = tempDir("ts") + "/t"
    def commitAndStamp(items: Seq[String], mode: String): Long = {
      Seq((0L, items)).toDF("tid", "items")
        .write.format("fimi").option("snapshots", "true").mode(mode).save(dest)
      Thread.sleep(15) // ensure the NEXT commit's #ts is strictly later
      val t = System.currentTimeMillis()
      Thread.sleep(15)
      t
    }
    val afterV0 = commitAndStamp(Seq("a"), "overwrite")
    val afterV1 = commitAndStamp(Seq("b"), "append")
    val afterV2 = commitAndStamp(Seq("c"), "append")
    val fs = hfs(dest)
    val p = new Path(dest)
    assert(FimiLog.versionAt(fs, p, afterV0).contains(0L))
    assert(FimiLog.versionAt(fs, p, afterV1).contains(1L))
    assert(FimiLog.versionAt(fs, p, afterV2).contains(2L))
    assert(FimiLog.versionAt(fs, p, afterV0 - 10000).isEmpty)
    // restore-from-backup: byte-copy the whole table dir — every copied
    // file gets a FRESH mtime, which is exactly what mtime-based
    // resolution mis-reads as "everything committed now"
    val copy = tempDir("ts-copy") + "/t"
    val srcRoot = java.nio.file.Paths.get(dest)
    java.nio.file.Files.walk(srcRoot).forEach { s =>
      val d = java.nio.file.Paths.get(copy).resolve(srcRoot.relativize(s))
      if (java.nio.file.Files.isDirectory(s)) java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.copy(s, d) // deliberately NOT copying attributes
    }
    FimiLog.clearCache()
    val cp = new Path(copy)
    assert(FimiLog.versionAt(fs, cp, afterV0).contains(0L),
      "copied log lost its commit history — resolution fell back to mtime")
    assert(FimiLog.versionAt(fs, cp, afterV1).contains(1L))
    assert(FimiLog.versionAt(fs, cp, afterV2).contains(2L))
    // and the resolved snapshots read identically
    assert(baskets(spark.read.format("fimi").option("versionAsOf", "1").load(copy))
      == Seq("a", "b"))
  }

  test("vacuum: retained versions read unchanged, expired versions fail loudly, only expired-only files are deleted") {
    val sp = spark
    import sp.implicits._
    val dest = tempDir("vac") + "/t"
    def commit(items: Seq[String], mode: String): Long = {
      Seq((0L, items)).toDF("tid", "items")
        .write.format("fimi").option("snapshots", "true").mode(mode).save(dest)
      Thread.sleep(15); val t = System.currentTimeMillis(); Thread.sleep(15); t
    }
    val afterV0 = commit(Seq("a", "b"), "overwrite")
    commit(Seq("c", "d"), "append")          // v1
    commit(Seq("e"), "overwrite")            // v2: truncate → v0/v1 files expire
    commit(Seq("f", "g"), "append")          // v3
    val fs = hfs(dest)
    val p = new Path(dest)
    // crash-orphan: present on disk, referenced by no manifest
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dest, "part-orphan.dat"), "zz\n".getBytes("UTF-8"))
    def readV(v: Long): Seq[String] =
      baskets(spark.read.format("fimi").option("versionAsOf", v.toString).load(dest))
    val v2Before = readV(2L)
    val v3Before = readV(3L)
    val deadFiles = FimiLog.resolve(fs, p, Some(1L)) // v0+v1 files, all expired
    assert(deadFiles.nonEmpty)
    val stats = FimiLog.vacuum(fs, p, retainLast = 2)
    assert(stats.retainedFrom == 2L && stats.manifestsDeleted == 2)
    assert(stats.dataFilesDeleted == deadFiles.size, s"$stats vs $deadFiles")
    // retained versions: byte-identical reads
    assert(readV(2L) == v2Before)
    assert(readV(3L) == v3Before)
    assert(baskets(spark.read.format("fimi").load(dest)) == v3Before)
    // expired explicit version: loud, names the boundary
    val ex = intercept[Exception] {
      spark.read.format("fimi").option("versionAsOf", "0").load(dest).count()
    }
    val msg = ex.getMessage + String.valueOf(ex.getCause)
    assert(msg.contains("vacuumed") && msg.contains("2"), msg)
    // expired TIMESTAMP: loud, never silently resolves to a later snapshot
    val ex2 = intercept[IllegalArgumentException] {
      FimiLog.versionAt(fs, p, afterV0)
    }
    assert(ex2.getMessage.contains("vacuumed"), ex2.getMessage)
    // disk: dead generation files gone; live + orphan untouched
    val onDisk = new java.io.File(dest).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    deadFiles.foreach(f => assert(!onDisk.contains(f), s"expired $f survived vacuum"))
    FimiLog.resolve(fs, p, Some(3L)).foreach(f =>
      assert(onDisk.contains(f), s"live $f deleted by vacuum"))
    assert(onDisk.contains("part-orphan.dat"),
      "vacuum deleted an orphan that may belong to an in-flight commit")
    // idempotent: nothing left to retire
    val again = FimiLog.vacuum(fs, p, retainLast = 2)
    assert(again.dataFilesDeleted == 0 && again.manifestsDeleted == 0)
    // retention wider than history: a no-op, never an error
    assert(FimiLog.vacuum(fs, p, retainLast = 99).dataFilesDeleted == 0)
  }

  test("compaction conflict: a commit landing mid-compaction restarts the attempt; a hot table aborts, never a stale truncate") {
    val sp = spark
    import sp.implicits._
    val dest = tempDir("conflict") + "/t"
    (0 until 6).foreach { i =>
      Seq((i.toLong, Seq(s"x$i"))).toDF("tid", "items")
        .write.format("fimi").option("snapshots", "true")
        .mode(if (i == 0) "overwrite" else "append").save(dest)
    }
    def interlope(tag: String): Unit =
      Seq((99L, Seq(tag))).toDF("tid", "items")
        .write.format("fimi").mode("append").save(dest)
    // one-shot race: an appended commit lands in the window between
    // compaction's file-list snapshot and its manifest write
    var fired = false
    FimiCompact.beforeCommitHook = () =>
      if (!fired) { fired = true; interlope("zz_interloper") }
    try {
      val n = FimiCompact.compact(spark, dest)
      assert(n >= 1)
    } finally FimiCompact.beforeCommitHook = () => ()
    val after = baskets(spark.read.format("fimi").load(dest))
    assert(after == ((0 until 6).map(i => s"x$i") :+ "zz_interloper").sorted,
      s"conflicting commit was erased or duplicated: $after")
    // permanently hot table: every attempt loses → loud abort, and the
    // table keeps EVERY commit (no stale truncate ever landed).
    // Re-fragment first — the generation the first compact left is a
    // single file, which compaction correctly no-ops on.
    interlope("y0"); interlope("y1")
    var count = 0
    FimiCompact.beforeCommitHook = () => { count += 1; interlope(s"hot_$count") }
    try {
      val ex = intercept[java.util.ConcurrentModificationException] {
        FimiCompact.compact(spark, dest)
      }
      assert(ex.getMessage.contains("compact"), ex.getMessage)
    } finally FimiCompact.beforeCommitHook = () => ()
    val hot = baskets(spark.read.format("fimi").load(dest))
    val expected = ((0 until 6).map(i => s"x$i") :+ "zz_interloper") ++
      Seq("y0", "y1") ++ (1 to count).map(i => s"hot_$i")
    assert(hot == expected.sorted, s"aborted compaction lost a commit: $hot")
  }

  test("single-file bins are referenced by name, never rewritten") {
    val sp = spark
    import sp.implicits._
    val dest = tempDir("reuse") + "/t"
    // ordinal order: two tiny files, then one big file
    Seq((0L, Seq("s0"))).toDF("tid", "items")
      .write.format("fimi").option("snapshots", "true").mode("overwrite").save(dest)
    Seq((1L, Seq("s1"))).toDF("tid", "items")
      .write.format("fimi").mode("append").save(dest)
    (0 until 50).map(i => (i.toLong, Seq(s"big$i", "pad"))).toDF("tid", "items")
      .repartition(1).write.format("fimi").mode("append").save(dest)
    val fs = hfs(dest)
    val p = new Path(dest)
    val filesBefore = FimiLog.resolve(fs, p, None)
    assert(filesBefore.size == 3, filesBefore.mkString(","))
    val bigName = filesBefore.last
    val bigMtime = fs.getFileStatus(new Path(p, bigName)).getModificationTime
    val contentBefore = baskets(spark.read.format("fimi").load(dest))
    // target sized so [s0, s1] bin-pack together and big rides alone
    val n = FimiCompact.compact(spark, dest, targetBytes = 64L)
    assert(n == 2, s"expected [s0+s1, big], got $n files")
    val filesAfter = FimiLog.resolve(fs, p, None)
    assert(filesAfter.exists(_.startsWith("compact-")), filesAfter.mkString(","))
    assert(filesAfter.contains(bigName),
      s"single-file bin was rewritten instead of referenced: $filesAfter")
    assert(fs.getFileStatus(new Path(p, bigName)).getModificationTime == bigMtime,
      "the referenced file's bytes were touched")
    assert(baskets(spark.read.format("fimi").load(dest)) == contentBefore)
    // the shared file serves BOTH generations (old version still reads)
    assert(baskets(spark.read.format("fimi").option("versionAsOf", "2").load(dest))
      == contentBefore)
    // and vacuum's reference counting keeps the shared file alive
    FimiLog.vacuum(fs, p, retainLast = 1)
    assert(baskets(spark.read.format("fimi").load(dest)) == contentBefore,
      "vacuum deleted a file shared between an expired and the retained generation")
  }

  test("CALL system.optimize inherits compact's conflict abort — a permanently hot table fails loudly through SQL") {
    // The SQL surface (GraftProcedures) must delegate to the SAME
    // FimiCompact implementation the API tests pin: after MaxAttempts
    // races, the CALL statement itself surfaces the
    // ConcurrentModificationException and no stale truncate ever lands.
    val root = tempDir("sqlconflict")
    val dest = s"$root/ns/t.fimi"
    val sp = spark
    import sp.implicits._
    (0 until 4).foreach { i =>
      Seq(s"x$i").toDF("line").select(split(col("line"), " ").as("items"))
        .coalesce(1).write.format("fimi").option("snapshots", "true")
        .mode(if (i == 0) "overwrite" else "append").save(dest)
    }
    spark.conf.set("spark.sql.catalog.graft_sqlc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sqlc.root", root)
    var count = 0
    FimiCompact.beforeCommitHook = () => {
      count += 1
      Seq(s"hot_$count").toDF("line").select(split(col("line"), " ").as("items"))
        .coalesce(1).write.format("fimi").mode("append").save(dest)
    }
    try {
      val e = intercept[Exception] {
        spark.sql("CALL graft_sqlc.system.optimize(table => 'ns.t')").collect()
      }
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      assert(msgs(e).exists(_.contains("compact")), msgs(e).toString)
    } finally FimiCompact.beforeCommitHook = () => ()
    // every commit survived: the original four plus one per attempt
    val after = baskets(spark.read.format("fimi").load(dest))
    val expected = ((0 until 4).map(i => s"x$i") ++
      (1 to count).map(i => s"hot_$i")).sorted
    assert(after == expected, s"aborted SQL optimize lost a commit: $after")
  }

  test("the row-level rewrite scan is cached per operation; a schema-mismatched second build re-plans at the same pin") {
    // r16 ADVICE: commit correctness (replaced-set = planned files)
    // requires the scan the executors ran to BE the scan commit reads.
    // A repeated build() must return the same pinned scan (not re-pin a
    // later snapshot); a second build with a genuinely different pruned
    // schema RE-PLANS (r18 VERDICT task 5) — the last-built scan is the
    // one Spark executes — but must keep the FIRST build's version pin,
    // so two planning passes can never straddle a concurrent commit.
    val root = tempDir("scancache")
    val dest = s"$root/t.fimi"
    val sp = spark
    import sp.implicits._
    Seq("a b").toDF("line").select(split(col("line"), " ").as("items"))
      .write.format("fimi").option("snapshots", "true")
      .mode("overwrite").save(dest)
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", dest)
    val cmap = new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts)
    val info = new org.apache.spark.sql.connector.write.RowLevelOperationInfo {
      override def options() = org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      override def command() =
        org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE
    }
    val op = new FimiRowLevelOperation(cmap, info)
    val b1 = op.newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    val s1 = b1.build()
    val s2 = b1.build()
    assert(s1 eq s2, "repeated build() re-planned the rewrite scan")
    // a NULLABILITY/metadata-only difference is the same pruning — a
    // re-analysis that re-derives nullability must reuse the pinned
    // scan, not refuse the statement (r17 ADVICE)
    val b1b = op.newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    b1b.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
      .pruneColumns(org.apache.spark.sql.types.StructType(
        FimiTable.Schema.fields.map(_.copy(nullable = true))))
    assert(b1b.build() eq s1, "nullability-only re-plan dropped the pinned scan")
    // a second builder pruned to a genuinely narrower schema RE-PLANS:
    // the new scan becomes the configured witness, pinned at the SAME
    // snapshot version as the first build (never re-resolving latest —
    // here a concurrent append lands in between to prove it)
    Seq("c d").toDF("line").select(split(col("line"), " ").as("items"))
      .write.format("fimi").option("snapshots", "true")
      .mode("append").save(dest)
    val b2 = op.newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    b2.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
      .pruneColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tid",
          org.apache.spark.sql.types.LongType))))
    val s3 = b2.build().asInstanceOf[FimiRowLevelScan]
    assert(!(s3 eq s1), "differently-pruned build must re-plan")
    assert(op.configuredScan eq s3, "re-plan must become the commit witness")
    assert(s3.baseVersion == s1.asInstanceOf[FimiRowLevelScan].baseVersion,
      "re-plan re-resolved the snapshot pin")
    assert(s3.readSchema().fieldNames.toSeq == Seq("tid"))
  }

  test("property: random op sequences — the log always folds like the reference model, cold or warm, before and after vacuum") {
    // Model-based check of the WHOLE protocol surface: a pure in-memory
    // reference model applies the same random sequence of commits
    // (append / truncate / streaming epoch), vacuums and cold-restarts,
    // and after every step the real log must agree on resolve() at
    // every retained version, fail loudly at every expired one,
    // remember every epoch ever committed (the checkpoint carries them
    // across vacuum), and report the same history verbs. Fixed seeds =
    // deterministic sample set (offline scalacheck, PropertiesSpec
    // convention).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    sealed trait Op
    case class Append(nFiles: Int) extends Op
    case class Truncate(nFiles: Int) extends Op
    case class Epoch(e: Long) extends Op
    case class Vacuum(retain: Int) extends Op
    case object Cold extends Op
    val opGen: Gen[Op] = Gen.frequency(
      5 -> Gen.chooseNum(0, 3).map(Append(_)),
      2 -> Gen.chooseNum(0, 2).map(Truncate(_)),
      3 -> Gen.chooseNum(0L, 6L).map(Epoch(_)),
      2 -> Gen.chooseNum(1, 4).map(Vacuum(_)),
      2 -> Gen.const(Cold))
    val seqGen = Gen.chooseNum(8, 30).flatMap(n => Gen.listOfN(n, opGen))
    (1 to 12).foreach { case i =>
      val ops = seqGen.pureApply(Gen.Parameters.default, Seed(1800L + i))
      val table = new Path(tempDir(s"prop$i") + "/t")
      val fs = hfs(table.toString)
      fs.mkdirs(table)
      // reference model
      var committed = Vector.empty[(Long, Boolean, Seq[String], Option[Long], String)]
      var boundary = 0L // earliest retained version
      var epochsEver = Set.empty[Long]
      var nextFile = 0
      def modelResolve(v: Long): Seq[String] =
        committed.filter(_._1 <= v).foldLeft(Vector.empty[String]) {
          case (acc, (_, tr, fs0, _, _)) => (if (tr) Vector.empty else acc) ++ fs0
        }
      def commit(tr: Boolean, n: Int, ep: Option[Long], op: String): Unit = {
        val files = (0 until n).map { _ => nextFile += 1; f"f$nextFile%04d.dat" }
        var v = FimiLog.latestVersion(fs, table).map(_ + 1).getOrElse(0L)
        while (!FimiLog.write(fs, table, v, ep, tr, files, op = Some(op))) v += 1
        FimiLog.maybeCheckpoint(fs, table)
        committed :+= ((v, tr, files, ep, op))
        ep.foreach(epochsEver += _)
      }
      ops.foreach {
        case Append(n) => commit(tr = false, n, None, "APPEND")
        case Truncate(n) => commit(tr = true, n, None, "OVERWRITE")
        case Epoch(e) =>
          // replay-safe like the streaming sink: skip committed epochs
          if (!FimiLog.epochCommitted(fs, table, e))
            commit(tr = false, 1, Some(e), "STREAMING APPEND")
          else assert(epochsEver.contains(e), s"phantom epoch $e (case $i)")
        case Vacuum(r) =>
          if (committed.nonEmpty) {
            val retained = committed.map(_._1).filter(_ >= boundary)
            FimiLog.vacuum(fs, table, r)
            if (retained.size > r) boundary = retained(retained.size - r)
          }
        case Cold => FimiLog.clearCache()
      }
      // final agreement, cold AND warm
      (0 to 1).foreach { pass =>
        if (pass == 0) FimiLog.clearCache()
        val retained = committed.map(_._1).filter(_ >= boundary)
        assert(FimiLog.latestVersion(fs, table) == committed.lastOption.map(_._1),
          s"latest (case $i)")
        retained.foreach { v =>
          assert(FimiLog.resolve(fs, table, Some(v)) == modelResolve(v),
            s"resolve($v) diverged from model (case $i)")
        }
        committed.map(_._1).filter(_ < boundary).take(2).foreach { v =>
          val e = intercept[Exception] { FimiLog.resolve(fs, table, Some(v)) }
          assert(e.getMessage.contains("retained") || e.getMessage.contains("versionAsOf"),
            s"expired resolve($v) error (case $i): ${e.getMessage}")
        }
        epochsEver.foreach(e =>
          assert(FimiLog.epochCommitted(fs, table, e), s"lost epoch $e (case $i)"))
        assert(!FimiLog.epochCommitted(fs, table, 999L), s"phantom epoch (case $i)")
        val hist = FimiLog.history(fs, table)
        assert(hist.map(h => (h.version, h.operation)) ==
          committed.filter(_._1 >= boundary).map(c => (c._1, c._5)),
          s"history diverged (case $i)")
      }
    }
  }

  test("property: schema and stats folds agree with the model across vacuum and cold restarts") {
    // Model-based check of the r19 fold surface: for random sequences
    // of appends (with per-file #stats), truncates, ADD COLUMNS commits
    // (#schema), vacuums and cold restarts, the real log must agree
    // with a pure reference model on schemaAt (last schema at or below
    // every retained version — carried through the boundary checkpoint
    // when the ALTER manifest expires) and on statsAt for every file
    // LIVE at every retained version (stats are immutable per-file
    // facts; checkpoints prune dead entries but may never lose a live
    // one). Fixed seeds (offline scalacheck).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    sealed trait Op
    case class Append(nFiles: Int) extends Op
    case class Truncate(nFiles: Int) extends Op
    case object Evolve extends Op
    case class Vacuum(retain: Int) extends Op
    case object Cold extends Op
    val opGen: Gen[Op] = Gen.frequency(
      5 -> Gen.chooseNum(0, 3).map(Append(_)),
      2 -> Gen.chooseNum(0, 2).map(Truncate(_)),
      2 -> Gen.const(Evolve),
      2 -> Gen.chooseNum(1, 4).map(Vacuum(_)),
      2 -> Gen.const(Cold))
    val seqGen = Gen.chooseNum(10, 28).flatMap(n => Gen.listOfN(n, opGen))
    (1 to 10).foreach { i =>
      val ops = seqGen.pureApply(Gen.Parameters.default, Seed(3400L + i))
      val table = new Path(tempDir(s"schemaprop$i") + "/t")
      val fs = hfs(table.toString)
      fs.mkdirs(table)
      var committed = Vector.empty[
        (Long, Boolean, Seq[String], Option[String], Map[String, String])]
      var boundary = 0L
      var nextFile = 0
      var nextCol = 0
      def commit(tr: Boolean, files: Seq[String], schema: Option[String],
          stats: Map[String, String], op: String): Unit = {
        var v = FimiLog.latestVersion(fs, table).map(_ + 1).getOrElse(0L)
        while (!FimiLog.write(fs, table, v, None, tr, files, op = Some(op),
            schemaJson = schema, stats = stats)) v += 1
        FimiLog.maybeCheckpoint(fs, table)
        committed :+= ((v, tr, files, schema, stats))
      }
      def freshFiles(n: Int): Seq[String] =
        (0 until n).map { _ => nextFile += 1; f"f$nextFile%04d.dat" }
      ops.foreach {
        case Append(n) =>
          val files = freshFiles(n)
          val stats = files.map(f => f ->
            s"""{"rows":1,"cols":{"c1":{"nulls":0,"min":$nextFile,"max":$nextFile}}}""").toMap
          commit(tr = false, files, None, stats, "APPEND")
        case Truncate(n) =>
          val files = freshFiles(n)
          commit(tr = true, files, None,
            files.map(f => f -> """{"rows":2,"cols":{}}""").toMap, "OVERWRITE")
        case Evolve =>
          nextCol += 1
          val schema = org.apache.spark.sql.types.StructType(
            FimiTable.Schema.fields.toSeq ++ (1 to nextCol).map(k =>
              org.apache.spark.sql.types.StructField(
                s"c$k", org.apache.spark.sql.types.LongType))).json
          commit(tr = false, Seq.empty, Some(schema), Map.empty, "ADD COLUMNS")
        case Vacuum(r) =>
          if (committed.nonEmpty) {
            val retained = committed.map(_._1).filter(_ >= boundary)
            FimiLog.vacuum(fs, table, r)
            if (retained.size > r) boundary = retained(retained.size - r)
          }
        case Cold => FimiLog.clearCache()
      }
      def modelSchema(v: Long): Option[String] =
        committed.filter(_._1 <= v).flatMap(_._4).lastOption
      def modelResolve(v: Long): Vector[String] =
        committed.filter(_._1 <= v).foldLeft(Vector.empty[String]) {
          case (acc, (_, tr, fs0, _, _)) => (if (tr) Vector.empty else acc) ++ fs0
        }
      val modelStatsAll: Map[String, String] = committed.flatMap(_._5).toMap
      (0 to 1).foreach { pass =>
        if (pass == 0) FimiLog.clearCache()
        val retained = committed.map(_._1).filter(_ >= boundary)
        retained.foreach { v =>
          assert(FimiLog.schemaAt(fs, table, Some(v)) == modelSchema(v),
            s"schemaAt($v) diverged from model (case $i)")
          val st = FimiLog.statsAt(fs, table, Some(v))
          modelResolve(v).foreach { f =>
            assert(st.get(f) == modelStatsAll.get(f),
              s"statsAt($v)[$f] diverged from model (case $i)")
          }
        }
        assert(FimiLog.schemaAt(fs, table, None) ==
          committed.lastOption.map(_._1).flatMap(modelSchema),
          s"schemaAt(latest) diverged (case $i)")
      }
    }
  }

  test("property: the change-feed diff reconstructs every retained listing (random op sequences)") {
    // Model-based check of FimiChanges.diffRange against the same pure
    // reference model as the protocol property above: for random
    // commit/vacuum/cold-restart sequences, cumulatively applying each
    // CommitDiff (drop removed names, append added names) to the
    // previous listing must reconstruct resolve() at EVERY retained
    // version, each diff's ordinals must be the name's position in the
    // listing its side resolves against (the positional-tid contract),
    // and ranges reaching vacuumed history must refuse — including the
    // one carve-out: a range may start at the retention boundary only
    // if that commit is an APPEND. Fixed seeds (offline scalacheck).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    sealed trait Op
    case class Append(nFiles: Int) extends Op
    case class Truncate(nFiles: Int) extends Op
    case class Vacuum(retain: Int) extends Op
    case object Cold extends Op
    val opGen: Gen[Op] = Gen.frequency(
      5 -> Gen.chooseNum(0, 3).map(Append(_)),
      3 -> Gen.chooseNum(0, 2).map(Truncate(_)),
      2 -> Gen.chooseNum(1, 4).map(Vacuum(_)),
      2 -> Gen.const(Cold))
    val seqGen = Gen.chooseNum(8, 25).flatMap(n => Gen.listOfN(n, opGen))
    (1 to 10).foreach { i =>
      val ops = seqGen.pureApply(Gen.Parameters.default, Seed(2600L + i))
      val table = new Path(tempDir(s"cdfprop$i") + "/t")
      val fs = hfs(table.toString)
      fs.mkdirs(table)
      var committed = Vector.empty[(Long, Boolean, Seq[String])]
      var boundary = 0L
      var nextFile = 0
      def modelResolve(v: Long): Vector[String] =
        committed.filter(_._1 <= v).foldLeft(Vector.empty[String]) {
          case (acc, (_, tr, fs0)) => (if (tr) Vector.empty else acc) ++ fs0
        }
      def commit(tr: Boolean, n: Int): Unit = {
        val files = (0 until n).map { _ => nextFile += 1; f"f$nextFile%04d.dat" }
        var v = FimiLog.latestVersion(fs, table).map(_ + 1).getOrElse(0L)
        while (!FimiLog.write(fs, table, v, None, tr, files,
            op = Some(if (tr) "OVERWRITE" else "APPEND"))) v += 1
        FimiLog.maybeCheckpoint(fs, table)
        // diffRange stats touched files, so data files must exist
        files.foreach { f =>
          val out = fs.create(new Path(table, f), true)
          try out.write("x\n".getBytes("UTF-8")) finally out.close()
        }
        committed :+= ((v, tr, files))
      }
      ops.foreach {
        case Append(n) => commit(tr = false, n)
        case Truncate(n) => commit(tr = true, n)
        case Vacuum(r) =>
          if (committed.nonEmpty) {
            val retained = committed.map(_._1).filter(_ >= boundary)
            FimiLog.vacuum(fs, table, r)
            if (retained.size > r) boundary = retained(retained.size - r)
          }
        case Cold => FimiLog.clearCache()
      }
      if (committed.nonEmpty) (0 to 1).foreach { pass =>
        if (pass == 0) FimiLog.clearCache()
        val latest = committed.last._1
        def truncateAt(v: Long): Boolean = committed.find(_._1 == v).exists(_._2)
        val start =
          if (boundary == 0 || !truncateAt(boundary)) boundary else boundary + 1
        if (start <= latest) {
          var listing = modelResolve(start - 1)
          FimiChanges.diffRange(fs, table, start, latest).foreach { d =>
            val rm = d.removed.map(_._1).toSet
            listing = listing.filterNot(rm) ++ d.added.map(_._1)
            val expect = modelResolve(d.version)
            assert(listing == expect,
              s"diff application diverged at v${d.version} (case $i): " +
                s"$listing vs $expect")
            d.added.foreach { case (n, o) =>
              assert(expect.indexOf(n) == o,
                s"added ordinal of $n at v${d.version} (case $i)")
            }
            val prevL = modelResolve(d.version - 1)
            d.removed.foreach { case (n, o) =>
              assert(prevL.indexOf(n) == o,
                s"removed ordinal of $n at v${d.version} (case $i)")
            }
            assert(d.tsMicros > 0L, s"ts at v${d.version} (case $i)")
          }
        }
        // refusals: a truncate commit AT the boundary cannot seed its
        // diff (its removed set needs the vacuumed predecessor listing)
        if (boundary > 0 && truncateAt(boundary)) {
          val e = intercept[IllegalArgumentException] {
            FimiChanges.diffRange(fs, table, boundary, boundary).toVector
          }
          assert(e.getMessage.contains("cannot START"), s"(case $i) ${e.getMessage}")
        }
        // a range reaching below the boundary always refuses
        if (boundary > 0) {
          val e = intercept[IllegalArgumentException] {
            FimiChanges.diffRange(fs, table, boundary - 1, latest).toVector
          }
          assert(e.getMessage.contains("not retained") ||
            e.getMessage.contains("invalid change range"), s"(case $i) ${e.getMessage}")
        }
      }
    }
  }

  test("history: #op verbs read back; legacy op-less manifests derive from shape; epochs ride along") {
    val table = new Path(tempDir("hist") + "/t")
    val fs = hfs(table.toString)
    fs.mkdirs(table)
    // explicit verbs (the writers' form since r18)
    FimiLog.write(fs, table, 0L, None, truncate = true, Seq("a.dat"),
      op = Some("CREATE TABLE"))
    FimiLog.write(fs, table, 1L, None, truncate = false, Seq("b.dat"),
      op = Some("APPEND"))
    // legacy manifests: no #op header — operation derives from shape
    FimiLog.write(fs, table, 2L, Some(7L), truncate = false, Seq("c.dat"))
    FimiLog.write(fs, table, 3L, None, truncate = true, Seq("d.dat"))
    FimiLog.write(fs, table, 4L, None, truncate = false, Seq("e.dat", "f.dat"))
    val h = FimiLog.history(fs, table)
    assert(h.map(_.version) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(h.map(_.operation) == Seq("CREATE TABLE", "APPEND",
      "STREAMING APPEND", "OVERWRITE", "APPEND"))
    assert(h.map(_.epoch) == Seq(None, None, Some(7L), None, None))
    assert(h.map(_.truncate) == Seq(true, false, false, true, false))
    assert(h.map(_.fileCount) == Seq(1, 1, 1, 1, 2))
    // commit instants come from #ts, so they survive an mtime rewrite
    assert(h.forall(_.tsMillis > 0L))
    // a warm second read opens zero manifest contents (immutability cache)
    val before = FimiLog.contentOpens.get()
    assert(FimiLog.history(fs, table).size == 5)
    assert(FimiLog.contentOpens.get() == before, "history re-opened cached manifests")
  }
}
