package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Contract tests for [[graft.catalog.GraftCatalog]]: namespace/table
  * discovery over the testdata tree, SQL through the catalog equal to
  * path-based reads for both the parquet star schema and a `.fimi`
  * transaction-text table, read-only enforcement, and cache
  * invalidation picking up an external rewrite. */
class GraftCatalogSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", "/root/testdata")
  }

  test("namespaces and tables list from the directory tree") {
    // SHOW NAMESPACES backticks names containing dots
    val ns = spark.sql("SHOW NAMESPACES IN graft")
      .collect().map(_.getString(0).stripPrefix("`").stripSuffix("`")).sorted.toSeq
    assert(ns.contains("sf0.001") && ns.contains("sf0.01"), ns.toString)
    val tables = spark.sql("SHOW TABLES IN graft.`sf0.001`")
      .collect().map(_.getString(1)).sorted.toSeq
    assert(tables == Tables.names.sorted, tables.toString)
  }

  test("catalog parquet scan ≡ path-based read, with pushdown intact") {
    val viaCatalog = spark.sql(
      "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM graft.`sf0.001`.lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaPath = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaCatalog == viaPath)
    // the delegated parquet table still pushes filters to the scan
    val plan = spark.sql(
      "SELECT l_orderkey FROM graft.`sf0.001`.lineitem WHERE l_quantity > 40")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      plan.take(2000))
  }

  test("a .fimi directory resolves to the connector table through the same catalog") {
    val root = tempDir("cat")
    Files.createDirectories(java.nio.file.Paths.get(root, "corpus", "tx.fimi"))
    Files.write(java.nio.file.Paths.get(root, "corpus", "tx.fimi", "a.dat"),
      "x y\ny z\nx y z\n".getBytes("UTF-8"))
    spark.conf.set("spark.sql.catalog.graft2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft2.root", root)
    val freq = spark.sql(
      "SELECT item, CAST(count(*) AS BIGINT) AS freq FROM " +
        "(SELECT explode(items) AS item FROM graft2.corpus.tx) " +
        "GROUP BY item ORDER BY item")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(freq == Seq(("x", 2L), ("y", 3L), ("z", 2L)))
  }

  test("SQL VERSION AS OF / TIMESTAMP AS OF resolve through the catalog to pinned fimi snapshots") {
    val sp = spark
    import sp.implicits._
    val root = tempDir("cat-tt")
    Files.createDirectories(java.nio.file.Paths.get(root, "corpus"))
    val dest = s"$root/corpus/tx.fimi"
    spark.conf.set("spark.sql.catalog.graft_tt", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tt.root", root)
    // v0, then a later overwrite v1 — with a commit-time gap so
    // TIMESTAMP AS OF can land between the two manifests
    Seq((0L, Seq("a", "b"))).toDF("tid", "items")
      .write.format("fimi").option("snapshots", "true").mode("overwrite").save(dest)
    val betweenMs = {
      Thread.sleep(1100) // manifest mtimes are second-grain on some filesystems
      val t = System.currentTimeMillis(); Thread.sleep(1100); t
    }
    Seq((1L, Seq("c"))).toDF("tid", "items")
      .write.format("fimi").mode("overwrite").save(dest)
    def q(sql: String): Seq[String] =
      spark.sql(sql).collect().map(_.getString(0)).sorted.toSeq
    // latest = the reset generation; VERSION AS OF 0 = the original
    assert(q("SELECT concat_ws(',', items) FROM graft_tt.corpus.tx") == Seq("c"))
    assert(q("SELECT concat_ws(',', items) FROM graft_tt.corpus.tx VERSION AS OF 0")
      == Seq("a,b"))
    assert(q("SELECT concat_ws(',', items) FROM graft_tt.corpus.tx VERSION AS OF 1")
      == Seq("c"))
    // TIMESTAMP AS OF between the commits resolves to v0
    val ts = new java.sql.Timestamp(betweenMs).toString
    assert(q(s"SELECT concat_ws(',', items) FROM graft_tt.corpus.tx TIMESTAMP AS OF '$ts'")
      == Seq("a,b"), "timestamp between commits must resolve to v0")
    // unknown version fails loudly, never reads as empty
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft_tt.corpus.tx VERSION AS OF 99").count()
    }
    assert(ex.getMessage.contains("versionAsOf") ||
      String.valueOf(ex.getCause).contains("versionAsOf"), s"got $ex")
    // a timestamp before the first commit fails loudly too
    val ex2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_tt.corpus.tx TIMESTAMP AS OF '1999-01-01 00:00:00'").count()
    }
    assert(String.valueOf(ex2.getMessage).contains("no snapshot") ||
      String.valueOf(ex2.getCause).contains("no snapshot"), s"got $ex2")
    // a log-less table rejects time travel with the remedy named
    val ex3 = intercept[Exception] {
      spark.sql("SELECT * FROM graft.`sf0.001`.orders VERSION AS OF 0").count()
    }
    assert(String.valueOf(ex3.getMessage).contains("snapshot log") ||
      String.valueOf(ex3.getCause).contains("snapshot log"), s"got $ex3")
  }

  test("ALTER TABLE SET TBLPROPERTIES round-trips through DESCRIBE EXTENDED") {
    spark.sql("ALTER TABLE graft.`sf0.001`.orders " +
      "SET TBLPROPERTIES ('steward' = 'curation', 'tier' = 'gold')")
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft.`sf0.001`.orders")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val shown = desc.getOrElse("Table Properties", "")
    assert(shown.contains("steward=curation") && shown.contains("tier=gold"),
      s"properties not visible in DESCRIBE EXTENDED: $shown")
    // UNSET removes exactly the named key and keeps the rest
    spark.sql("ALTER TABLE graft.`sf0.001`.orders UNSET TBLPROPERTIES ('steward')")
    val after = spark.sql("DESCRIBE TABLE EXTENDED graft.`sf0.001`.orders")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
      .getOrElse("Table Properties", "")
    assert(!after.contains("steward=curation") && after.contains("tier=gold"), after)
    spark.sql("ALTER TABLE graft.`sf0.001`.orders UNSET TBLPROPERTIES ('tier')")
  }

  test("property annotations never touch the data plane or its pushdown") {
    val before = spark.sql(
      "SELECT CAST(count(*) AS BIGINT) FROM graft.`sf0.001`.orders")
      .head().getLong(0)
    spark.sql("ALTER TABLE graft.`sf0.001`.orders " +
      "SET TBLPROPERTIES ('note' = 'annotated')")
    val after = spark.sql(
      "SELECT CAST(count(*) AS BIGINT) FROM graft.`sf0.001`.orders")
      .head().getLong(0)
    assert(before == after && before > 0)
    // the annotated table still delegates scan planning: filters push down
    val plan = spark.sql(
      "SELECT o_orderkey FROM graft.`sf0.001`.orders WHERE o_totalprice > 1000")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      plan.take(2000))
    spark.sql("ALTER TABLE graft.`sf0.001`.orders UNSET TBLPROPERTIES ('note')")
  }

  test("schema-changing ALTER is still rejected: snapshots, not mutable tables") {
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.`sf0.001`.orders ADD COLUMN bogus INT")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("read-only")), msgs(e).mkString(" / "))
  }

  test("one root serves multiple namespaces; DESCRIBE NAMESPACE shows each location") {
    val root = tempDir("cat-multi")
    for (ns <- Seq("bronze", "silver")) {
      val dir = java.nio.file.Paths.get(root, ns, "tx.fimi")
      Files.createDirectories(dir)
      Files.write(dir.resolve("a.dat"),
        (if (ns == "bronze") "a b\n" else "a b\nc d\n").getBytes("UTF-8"))
    }
    spark.conf.set("spark.sql.catalog.graft4", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft4.root", root)
    val ns = spark.sql("SHOW NAMESPACES IN graft4")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ns == Seq("bronze", "silver"), ns.toString)
    // the same table name resolves independently per namespace
    assert(spark.sql("SELECT * FROM graft4.bronze.tx").count() == 1)
    assert(spark.sql("SELECT * FROM graft4.silver.tx").count() == 2)
    val loc = spark.sql("DESCRIBE NAMESPACE EXTENDED graft4.silver")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(loc.getOrElse("location", loc.getOrElse("Location", ""))
      .contains("silver"), loc.toString)
  }

  test("the catalog is read-only; invalidateTable picks up an external rewrite") {
    val e = intercept[Exception] {
      spark.sql("DROP TABLE graft.`sf0.001`.lineitem")
    }
    assert(e.getMessage.contains("read-only") ||
      e.getCause != null && e.getCause.getMessage.contains("read-only"),
      e.getMessage)
    // external rewrite of a .fimi table becomes visible after invalidate
    val root = tempDir("cat-inv")
    val dir = java.nio.file.Paths.get(root, "ns", "t.fimi")
    Files.createDirectories(dir)
    Files.write(dir.resolve("a.dat"), "p q\n".getBytes("UTF-8"))
    spark.conf.set("spark.sql.catalog.graft3", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft3.root", root)
    assert(spark.sql("SELECT * FROM graft3.ns.t").count() == 1)
    Files.write(dir.resolve("b.dat"), "r s\n".getBytes("UTF-8"))
    // the connector lists files at scan planning, so new files appear
    // without invalidation; REFRESH TABLE must also succeed (it routes
    // to invalidateTable) and the count stays correct after it
    spark.sql("REFRESH TABLE graft3.ns.t")
    assert(spark.sql("SELECT * FROM graft3.ns.t").count() == 2)
  }

  // -------------------------------------------------- row-level DML

  /** Snapshot table with three SEPARATE append commits (v0..v2), one
    * data file each — so the copy-on-write group granularity is
    * observable per file. Returns (catalog-qualified name, table path). */
  private def dmlTable(cat: String, lines: Seq[String]): (String, String) = {
    val root = tempDir(s"$cat")
    Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    val dest = s"$root/ns/t.fimi"
    val sp = spark
    import sp.implicits._
    lines.zipWithIndex.foreach { case (l, i) =>
      val mode = if (i == 0) "overwrite" else "append"
      Seq(l).toDF("line").select(split(col("line"), " ").as("items"))
        .coalesce(1).write.format("fimi")
        .option("snapshots", "true").mode(mode).save(dest)
    }
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (s"$cat.ns.t", dest)
  }

  private def contents(table: String): Seq[String] =
    spark.sql(s"SELECT array_join(items, ' ') AS s FROM $table ORDER BY s")
      .collect().map(_.getString(0)).toSeq

  private def visibleFiles(dest: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dest)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.fimi.FimiLog.resolve(fs, p, None)
  }

  test("DELETE rewrites only the files containing matches; history stays readable") {
    val (t, dest) = dmlTable("graft_dml1", Seq("a b", "kill x", "c d"))
    val before = visibleFiles(dest)
    assert(before.size == 3, before.toString)
    spark.sql(s"DELETE FROM $t WHERE array_contains(items, 'kill')")
    assert(contents(t) == Seq("a b", "c d"))
    // copy-on-write group granularity: the two untouched files survive
    // BY NAME (runtime group filtering pruned them out of the rewrite);
    // only the matching file's name is gone
    val after = visibleFiles(dest)
    assert(after.toSet.intersect(before.toSet) == (before.toSet - before(1)),
      s"before=$before after=$after")
    // the pre-DML snapshot is still served (DML is just another commit)
    assert(contents(s"$t VERSION AS OF 2") == Seq("a b", "c d", "kill x"))
  }

  test("UPDATE applies assignments copy-on-write; unmatched groups untouched") {
    val (t, dest) = dmlTable("graft_dml2", Seq("a b", "m n", "c d"))
    val before = visibleFiles(dest)
    spark.sql(s"UPDATE $t SET items = array_union(items, array('u')) " +
      "WHERE array_contains(items, 'm')")
    assert(contents(t) == Seq("a b", "c d", "m n u"))
    val after = visibleFiles(dest)
    assert(after.toSet.intersect(before.toSet) == (before.toSet - before(1)),
      s"before=$before after=$after")
  }

  test("MERGE INTO supports matched-delete, matched-update and not-matched-insert") {
    val (t, _) = dmlTable("graft_dml3", Seq("a b", "m n", "kill x"))
    spark.sql(
      s"""MERGE INTO $t AS tgt
         |USING (
         |  SELECT tid, items FROM $t WHERE array_contains(items, 'm')
         |  UNION ALL
         |  SELECT tid, items FROM $t WHERE array_contains(items, 'kill')
         |  UNION ALL
         |  SELECT -1L AS tid, array('new', 'row') AS items
         |) AS src
         |ON tgt.tid = src.tid
         |WHEN MATCHED AND array_contains(tgt.items, 'kill') THEN DELETE
         |WHEN MATCHED THEN UPDATE SET items = array_union(tgt.items, array('u'))
         |WHEN NOT MATCHED THEN INSERT (tid, items) VALUES (src.tid, src.items)
         |""".stripMargin)
    assert(contents(t) == Seq("a b", "m n u", "new row"))
  }

  test("RENAME TO moves a fimi work table with its whole snapshot history; corpus stays unrenamable") {
    val (t, dest) = dmlTable("graft_ren", Seq("a b", "c d"))
    spark.sql(s"INSERT INTO $t VALUES (9L, array('e'))")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('tier' = 'gold')")
    spark.sql(s"ALTER TABLE $t RENAME TO ns.t2")
    assert(!new java.io.File(dest).exists())
    assert(contents("graft_ren.ns.t2") == Seq("a b", "c d", "e"))
    // the manifest log moved with the directory: history and time
    // travel keep working under the new name
    assert(contents("graft_ren.ns.t2 VERSION AS OF 1") == Seq("a b", "c d"))
    val ops = spark.sql("CALL graft_ren.system.history(table => 'ns.t2')")
      .collect().map(_.getString(2)).toSeq
    assert(ops.last == "APPEND", ops.toString)
    // property annotations follow the identifier
    val tier = spark.sql("SHOW TBLPROPERTIES graft_ren.ns.t2")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(tier.get("tier").contains("gold"), tier.toString)
    // the old name is gone; DML works under the new one
    intercept[Exception] { spark.sql(s"SELECT * FROM $t").collect() }
    spark.sql("DELETE FROM graft_ren.ns.t2 WHERE array_contains(items, 'e')")
    assert(contents("graft_ren.ns.t2") == Seq("a b", "c d"))
    // renaming onto an existing table fails and leaves both untouched
    spark.sql("CREATE TABLE graft_ren.ns.other (tid BIGINT, items ARRAY<STRING>) USING fimi")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_ren.ns.other RENAME TO ns.t2")
    }
    assert(contents("graft_ren.ns.t2") == Seq("a b", "c d"))
    assert(contents("graft_ren.ns.other").isEmpty)
    // corpus parquet stays unrenamable
    spark.conf.set("spark.sql.catalog.graft_ren3", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ren3.root", "/root/testdata")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_ren3.`sf0.001`.lineitem RENAME TO `sf0.001`.l2")
    }
    assert(String.valueOf(e.getMessage).contains("read-only"), e.getMessage)
  }

  test("TRUNCATE TABLE: metadata-only empty, history preserved, verb in the ledger") {
    val (t, dest) = dmlTable("graft_trnc", Seq("a b", "c d"))
    spark.sql(s"TRUNCATE TABLE $t")
    assert(contents(t).isEmpty)
    // metadata-only: the pre-truncate generation's files are UNTOUCHED
    // on disk and its snapshot still reads (VACUUM owns retention)
    assert(contents(s"$t VERSION AS OF 1") == Seq("a b", "c d"))
    assert(visibleFiles(dest).isEmpty)
    // the table stays fully writable after the truncate
    spark.sql(s"INSERT INTO $t VALUES (0L, array('e'))")
    assert(contents(t) == Seq("e"))
    // the ledger records the verb as its own commit
    val ops = spark.sql("CALL graft_trnc.system.history(table => 'ns.t')")
      .collect().map(_.getString(2)).toSeq
    assert(ops.takeRight(2) == Seq("TRUNCATE TABLE", "APPEND"), ops.toString)
    // parquet corpus snapshots stay untruncatable
    spark.conf.set("spark.sql.catalog.graft_trnc2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_trnc2.root", "/root/testdata")
    val e = intercept[Exception] {
      spark.sql("TRUNCATE TABLE graft_trnc2.`sf0.001`.lineitem")
    }
    assert(String.valueOf(e.getMessage).toLowerCase.contains("truncate"), e.getMessage)
  }

  test("schema evolution: ADD COLUMNS round-trip — null-fill, evolved DML, per-generation time travel") {
    val (t, dest) = dmlTable("graft_evo", Seq("a b", "x y"))
    // v0, v1 committed above; evolve: quality BIGINT appends (v2)
    spark.sql(s"ALTER TABLE $t ADD COLUMN quality BIGINT")
    // DESCRIBE serves the evolved schema
    val cols = spark.sql(s"DESCRIBE TABLE $t")
      .collect().map(_.getString(0)).takeWhile(_.nonEmpty).toSeq
    assert(cols == Seq("tid", "items", "quality"), cols.toString)
    // pre-evolution rows null-fill with ZERO bytes rewritten
    def rows(sel: String): Seq[String] =
      spark.sql(sel).collect()
        .map(r => s"${r.getSeq[String](0).mkString(" ")}|${r.get(1)}").sorted.toSeq
    assert(rows(s"SELECT items, quality FROM $t") ==
      Seq("a b|null", "x y|null"))
    // INSERT with the evolved column (v3); a second evolution (v4)
    // APPENDS — older cells keep their position (prefix property)
    spark.sql(s"INSERT INTO $t VALUES (9L, array('c', 'd'), 7L)")
    spark.sql(s"ALTER TABLE $t ADD COLUMN src STRING")
    spark.sql(s"INSERT INTO $t VALUES (10L, array('e'), 8L, 'web archive')") // v5
    assert(spark.sql(s"SELECT items, quality, src FROM $t").collect()
      .map(r => s"${r.getSeq[String](0).mkString(" ")}|${r.get(1)}|${r.get(2)}")
      .sorted.toSeq ==
      Seq("a b|null|null", "c d|7|null", "e|8|web archive", "x y|null|null"))
    // copy-on-write DML on the evolved schema: UPDATE writes cells back
    spark.sql(s"UPDATE $t SET quality = 1L, src = 'flagged' " +
      "WHERE array_contains(items, 'a')") // v6
    assert(spark.sql(s"SELECT items, quality, src FROM $t " +
        "WHERE array_contains(items, 'a')").collect()
      .map(r => s"${r.get(1)}|${r.get(2)}").toSeq == Seq("1|flagged"))
    // string cells round-trip quoting (space above; separators here)
    spark.sql(s"INSERT INTO $t VALUES (11L, array('q'), NULL, " +
      "'line\\nbreak \"quoted\" back\\\\slash')")
    assert(spark.sql(s"SELECT src FROM $t WHERE array_contains(items, 'q')")
      .head().getString(0) == "line\nbreak \"quoted\" back\\slash")
    // TIME TRAVEL: each generation reads under its own schema
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 1").columns.toSeq ==
      Seq("tid", "items"))
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 3").columns.toSeq ==
      Seq("tid", "items", "quality"))
    val v3q = spark.sql(s"SELECT items, quality FROM $t VERSION AS OF 3")
      .collect().map(r => s"${r.getSeq[String](0).mkString(" ")}|${r.get(1)}")
      .sorted.toSeq
    assert(v3q == Seq("a b|null", "c d|7", "x y|null"), v3q.toString)
    // history labels the evolution commits
    val ops = spark.sql("CALL graft_evo.system.history(table => 'ns.t')")
      .collect().map(_.getString(2)).toSeq
    assert(ops.count(_ == "ADD COLUMNS") == 2, ops.toString)
    // the CHANGE FEED serves the evolved shape too
    val feed = spark.read.format("fimi").option("changesFrom", 5).load(dest)
    assert(feed.columns.toSeq ==
      Seq("tid", "items", "quality", "src", "_change_type",
        "_commit_version", "_commit_timestamp"))
    val v5ins = feed.filter(col("_commit_version") === 5L &&
        col("_change_type") === "insert")
      .select(col("quality"), col("src")).collect()
      .map(r => s"${r.get(0)}|${r.get(1)}").toSeq
    assert(v5ins == Seq("8|web archive"), v5ins.toString)
    // guards: DROP / RENAME / retype / non-nullable / unsupported type /
    // positioned adds stay rejected, naming the contract
    def err(sql: String): String = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      msgs(e).mkString(" | ")
    }
    assert(err(s"ALTER TABLE $t DROP COLUMN quality")
      .contains("fixed schema contract"))
    assert(err(s"ALTER TABLE $t RENAME COLUMN items TO basket")
      .contains("fixed schema contract"))
    assert(err(s"ALTER TABLE $t ADD COLUMN quality2 ARRAY<INT>")
      .contains("not") , "unsupported type must refuse")
    assert(err(s"ALTER TABLE $t ADD COLUMN dup STRING FIRST")
      .toLowerCase.contains("append"))
    assert(err(s"ALTER TABLE $t ADD COLUMN quality BIGINT")
      .contains("already exists"))
    // property annotations still work alongside evolution
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('tier' = 'gold')")
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5L)
  }

  test("metadata tables: <t>.history and <t>.files SELECT, filter and join like any relation") {
    val (t, dest) = dmlTable("graft_meta", Seq("a b", "x y", "p q"))
    spark.sql(s"DELETE FROM $t WHERE array_contains(items, 'a')") // v3 COW
    // history relation ≡ the CALL procedure's rows (same ledger)
    val viaTable = spark.sql(
      s"SELECT version, operation, truncated, file_count FROM $t.history " +
        "ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getInt(3))).toSeq
    val viaCall = spark.sql(
      "CALL graft_meta.system.history(table => 'ns.t')")
      .select(col("version"), col("operation"), col("truncated"), col("file_count"))
      .orderBy("version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getInt(3))).toSeq
    assert(viaTable == viaCall && viaTable.size == 4, viaTable.toString)
    assert(viaTable.map(_._2) ==
      Seq("OVERWRITE", "APPEND", "APPEND", "DELETE"), viaTable.toString)
    // it COMPOSES: aggregate + filter, like any relation
    assert(spark.sql(
      s"SELECT CAST(count(*) AS BIGINT) FROM $t.history WHERE NOT truncated")
      .head().getLong(0) == 2L)
    // files relation: exactly the current generation, ordinal order,
    // with real sizes and the adding commit
    val files = spark.sql(
      s"SELECT file, ordinal, size_bytes, version_added FROM $t.files " +
        "ORDER BY ordinal")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val p = new org.apache.hadoop.fs.Path(dest)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(files.map(_._1) == graft.sources.fimi.FimiLog.resolve(fs, p, None),
      files.toString)
    assert(files.map(_._2) == files.indices.toSeq)
    // the two untouched files keep their real sizes; the DELETE's
    // rewritten group had no survivors, so its replacement part file is
    // EMPTY (0 bytes — planned away by the >0-length split filter)
    assert(files.count(_._3 > 0) == 2 && files.forall(_._3 >= 0), files.toString)
    // provenance: survivors trace to their original APPEND commits, the
    // empty rewrite output to the DELETE commit
    assert(files.map(_._4).toSet.subsetOf(Set(1L, 2L, 3L)), files.toString)
    // history JOINS files on the adding version — the audit-shape query
    // the procedures could never run
    val joined = spark.sql(
      s"""SELECT h.operation, CAST(count(*) AS BIGINT) AS n
         |FROM $t.files f JOIN $t.history h ON f.version_added = h.version
         |GROUP BY h.operation ORDER BY h.operation""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(joined == Seq(("APPEND", 2L), ("DELETE", 1L)), joined.toString)
    // guards: unknown metadata name and non-fimi targets resolve to
    // NO SUCH TABLE, not a silent empty relation
    val bad = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t.bogus").collect()
    }
    assert(String.valueOf(bad.getMessage).toUpperCase.contains("TABLE"),
      bad.getMessage)
    val parq = intercept[Exception] {
      spark.sql("SELECT * FROM graft.`sf0.001`.lineitem.history").collect()
    }
    assert(String.valueOf(parq.getMessage).toUpperCase.contains("TABLE"),
      parq.getMessage)
  }

  test("sort-clustered OPTIMIZE: zorder rewrite narrows per-file stats so skipping bites") {
    val (t, dest) = dmlTable("graft_zo", Seq("seed x"))
    spark.sql(s"ALTER TABLE $t ADD COLUMN q BIGINT")
    spark.sql(s"ALTER TABLE $t ADD COLUMN w BIGINT")
    // SCATTER the cluster key: each commit lands ONE file spanning the
    // whole q range (coalesce(1)), so pre-optimize stats prune NOTHING
    val sp = spark
    import sp.implicits._
    def appendScattered(rows: (String, Long, Long)*): Unit =
      rows.toSeq.map { case (i, q, w) => (Seq(i), q, w) }
        .toDF("items", "q", "w").coalesce(1)
        .write.format("fimi").mode("append").save(dest)
    appendScattered(("a", 1L, 10L), ("b", 99L, 20L))
    appendScattered(("c", 2L, 30L), ("d", 98L, 40L))
    appendScattered(("e", 3L, 50L), ("f", 97L, 60L))
    def parts(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
    val before = spark.table(t)
    val nFilesBefore = parts(before)
    assert(nFilesBefore >= 3, s"fixture needs several files, got $nFilesBefore")
    // every data file covers [lo, hi] of q: a selective filter prunes
    // only the seed file (all-null q by the add-after inference)
    assert(parts(before.filter(col("q") > 90L)) == nFilesBefore - 1)
    val contentBefore = before.select(array_join(col("items"), " "), col("q"), col("w"))
      .collect().map(r => (r.getString(0), r.get(1), r.get(2))).sortBy(_.toString).toSeq
    val preVersion = spark.sql(s"SELECT max(version) FROM $t.history").head().getLong(0)
    // cluster by q into ~2-row files
    val out = spark.sql(
      s"CALL graft_zo.system.optimize(table => 'ns.t', " +
        "target_file_bytes => 16, zorder => 'q')")
      .head().getInt(1)
    assert(out >= 2, s"clustered rewrite produced $out files")
    val after = spark.table(t)
    // content preserved as a multiset
    val contentAfter = after.select(array_join(col("items"), " "), col("q"), col("w"))
      .collect().map(r => (r.getString(0), r.get(1), r.get(2))).sortBy(_.toString).toSeq
    assert(contentAfter == contentBefore, s"$contentAfter vs $contentBefore")
    // the clustered layout's stats now PRUNE: the q>90 rows live in one
    // tail file
    val hi = after.filter(col("q") > 90L)
    assert(parts(hi) < out, s"clustered skip planned ${parts(hi)} of $out")
    assert(hi.count() == 3)
    // time travel to the pre-optimize generation is intact
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF $preVersion")
      .head().getLong(0) == 7L)
    // history labels the clustered rewrite
    val ops = spark.sql(s"SELECT operation FROM $t.history ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(ops.last.startsWith("OPTIMIZE ZORDER"), ops.toString)
    // MULTI-COLUMN numeric z-interleave composes the same way
    val out2 = spark.sql(
      s"CALL graft_zo.system.optimize(table => 'ns.t', " +
        "target_file_bytes => 16, zorder => 'q,w')")
      .head().getInt(1)
    assert(out2 >= 2)
    assert(spark.table(t).count() == 7L)
    // a non-evolved cluster key refuses with the contract
    val bad = intercept[Exception] {
      spark.sql(s"CALL graft_zo.system.optimize(table => 'ns.t', " +
        "zorder => 'tid')").collect()
    }
    def msgs(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + msgs(x.getCause)
    assert(msgs(bad).contains("not an evolved column"), msgs(bad).take(300))
  }

  test("the exactly-once streaming sink writes evolved columns as cells") {
    val (t, dest) = dmlTable("graft_sevo", Seq("a b"))
    spark.sql(s"ALTER TABLE $t ADD COLUMN q BIGINT")
    // a second managed table as the streaming SOURCE
    val root = new java.io.File(dest).getParentFile.getParent
    val srcDir = s"$root/ns/src.fimi"
    val sp = spark
    import sp.implicits._
    Seq((10L, Seq("x", "y")), (11L, Seq("z"))).toDF("tid", "items")
      .coalesce(1).write.format("fimi").mode("overwrite").save(srcDir)
    val ck = s"${tempDir("sevo-ck")}/ck"
    val q = spark.readStream.table(s"${t.stripSuffix(".t")}.src")
      .select(col("tid"), col("items"),
        (col("tid") * 100L).as("q")) // evolved column fed by the stream
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .toTable(t)
    try q.processAllAvailable() finally q.stop()
    val rows = spark.sql(
      s"SELECT array_join(items, ' ') AS b, q FROM $t ORDER BY b")
      .collect().map(r => (r.getString(0), Option(r.get(1)))).toSeq
    // the pre-evolution row null-fills; streamed rows carry their cells
    assert(rows.map(_._1) == Seq("a b", "x y", "z"), rows.toString)
    assert(rows.map(_._2.orNull).count(_ == null) == 1, rows.toString)
    // source tids are positional (byte offsets 0 and 4), so q = 0, 400
    assert(rows.collect { case (_, Some(v)) => v.asInstanceOf[Long] }.sorted
      == Seq(0L, 400L), rows.toString)
    // and the epoch's stats line landed, so skipping applies to
    // stream-written files too
    val pruned = spark.table(t).filter(col("q") > 5000L)
    assert(pruned.rdd.getNumPartitions == 0, "streamed cells missing stats")
    // streaming READ of the evolved table serves cells too (the
    // micro-batch reader must carry the table's extras — a dropped
    // extras list crashes the first projected batch)
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    val ck2 = s"${tempDir("sevo-ck2")}/ck"
    val q2 = spark.readStream.table(t)
      .select(array_join(col("items"), " ").as("b"), col("q"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck2)
      .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val batch = bdf.collect().map(r => (r.getString(0), r.get(1)))
        got.synchronized { got ++= batch }
        ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val streamed = got.synchronized(got.toSeq).sortBy(_._1)
    assert(streamed.map(_._1) == Seq("a b", "x y", "z"), streamed.toString)
    assert(streamed.map(_._2) == Seq(null, 0L, 400L), streamed.toString)
  }

  test("schema evolution survives OPTIMIZE, VACUUM and a cold manifest cache") {
    val (t, dest) = dmlTable("graft_evo2", Seq("a b", "x y"))
    spark.sql(s"ALTER TABLE $t ADD COLUMN w DOUBLE")
    spark.sql(s"INSERT INTO $t VALUES (5L, array('c'), 0.25D)")
    // compaction byte-copies lines, so cells ride through it
    assert(graft.sources.fimi.FimiCompact.compact(spark, dest) == 1)
    def all(): Seq[String] =
      spark.sql(s"SELECT items, w FROM $t").collect()
        .map(r => s"${r.getSeq[String](0).mkString(" ")}|${r.get(1)}").sorted.toSeq
    assert(all() == Seq("a b|null", "c|0.25", "x y|null"))
    // vacuum to the newest version: the boundary checkpoint must carry
    // the folded schema even though the ADD COLUMNS manifest expires
    val p = new org.apache.hadoop.fs.Path(dest)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.fimi.FimiLog.vacuum(fs, p, retainLast = 1)
    graft.sources.fimi.FimiLog.clearCache() // cold reader
    spark.sessionState.catalogManager.catalog("graft_evo2")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ns"), "t"))
    assert(all() == Seq("a b|null", "c|0.25", "x y|null"))
    assert(spark.table(t).columns.toSeq == Seq("tid", "items", "w"))
  }

  test("MERGE INTO NOT MATCHED BY SOURCE: retire-unmatched DELETE and UPDATE both apply") {
    // DELETE flavor: target rows absent from the source are dropped
    val (t, _) = dmlTable("graft_dml8", Seq("a b", "m n", "old x"))
    spark.sql(
      s"""MERGE INTO $t AS tgt
         |USING (
         |  SELECT tid, items FROM $t WHERE array_contains(items, 'm')
         |  UNION ALL
         |  SELECT -1L AS tid, array('fresh') AS items
         |) AS src
         |ON tgt.tid = src.tid
         |WHEN MATCHED THEN UPDATE SET items = array_union(tgt.items, array('u'))
         |WHEN NOT MATCHED THEN INSERT (tid, items) VALUES (src.tid, src.items)
         |WHEN NOT MATCHED BY SOURCE THEN DELETE
         |""".stripMargin)
    assert(contents(t) == Seq("fresh", "m n u"))
    // UPDATE flavor: unmatched target rows take target-only assignments
    val (t2, _) = dmlTable("graft_dml9", Seq("a b", "m n"))
    spark.sql(
      s"""MERGE INTO $t2 AS tgt
         |USING (SELECT tid FROM $t2 WHERE array_contains(items, 'm')) AS src
         |ON tgt.tid = src.tid
         |WHEN MATCHED THEN UPDATE SET items = array_union(tgt.items, array('kept'))
         |WHEN NOT MATCHED BY SOURCE THEN
         |  UPDATE SET items = array_union(tgt.items, array('retired'))
         |""".stripMargin)
    assert(contents(t2) == Seq("a b retired", "kept m n"))
  }

  test("row-level DML demands a snapshot log and fails loudly otherwise") {
    val root = tempDir("dml4")
    val dir = java.nio.file.Paths.get(root, "ns", "t.fimi")
    Files.createDirectories(dir)
    Files.write(dir.resolve("a.dat"), "a b\n".getBytes("UTF-8"))
    spark.conf.set("spark.sql.catalog.graft_dml4", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dml4.root", root)
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft_dml4.ns.t WHERE array_contains(items, 'a')")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("snapshot")), msgs(e).toString)
  }

  test("SQL INSERT INTO appends a snapshot version through the catalog") {
    val (t, dest) = dmlTable("graft_dml7", Seq("a b"))
    spark.sql(s"INSERT INTO $t VALUES (0L, array('x', 'y'))")
    assert(contents(t) == Seq("a b", "x y"))
    // the append is its own snapshot commit: the pre-insert version
    // still reads one row
    assert(contents(s"$t VERSION AS OF 0") == Seq("a b"))
    assert(visibleFiles(dest).size == 2)
  }

  test("row-level DML still works on a property-annotated fimi table") {
    val (t, _) = dmlTable("graft_dml6", Seq("a b", "kill x"))
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('steward' = 'etl')")
    spark.sql(s"DELETE FROM $t WHERE array_contains(items, 'kill')")
    assert(contents(t) == Seq("a b"))
  }

  test("CALL system.optimize compacts a fimi table through SQL; contents and history survive") {
    val (t, dest) = dmlTable("graft_pr1", Seq("a b", "c d", "e f", "g h"))
    assert(visibleFiles(dest).size == 4)
    // named-argument CALL with the default target size; one result row
    val res = spark.sql("CALL graft_pr1.system.optimize(table => 'ns.t')")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(res == Seq(("ns.t", 1)), res.toString)
    assert(visibleFiles(dest).size == 1)
    assert(contents(t) == Seq("a b", "c d", "e f", "g h"))
    // compaction is its own snapshot commit: the pre-compaction version
    // (4 appends => v3) still lists the fragmented file set
    assert(contents(s"$t VERSION AS OF 3") == Seq("a b", "c d", "e f", "g h"))
    // a second optimize is a no-op (single file already): returns 0,
    // commits nothing
    val again = spark.sql("CALL graft_pr1.system.optimize('ns.t')")
      .collect().map(_.getInt(1)).toSeq
    assert(again == Seq(0), again.toString)
    assert(visibleFiles(dest).size == 1)
  }

  test("CALL system.vacuum retires history through SQL; retained versions stay intact") {
    val (t, dest) = dmlTable("graft_pr2", Seq("a b", "c d", "e f", "g h"))
    val stats = spark.sql(
      "CALL graft_pr2.system.vacuum(table => 'ns.t', retain_last => 2)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    // boundary v2; v0/v1 manifests retired; every data file is still
    // referenced by a retained version, so none are deleted
    assert(stats == Seq((2L, 0, 2, 0)), stats.toString)
    assert(contents(t) == Seq("a b", "c d", "e f", "g h"))
    assert(contents(s"$t VERSION AS OF 2") == Seq("a b", "c d", "e f"))
    val e = intercept[Exception] { contents(s"$t VERSION AS OF 0") }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(m => m.contains("vacuum") || m.contains("retain") ||
      m.contains("earliest")), msgs(e).toString)
    assert(visibleFiles(dest).size == 4)
  }

  test("CALL system.detail summarizes table state; vacuum moves the retained window") {
    val (t, dest) = dmlTable("graft_pr4", Seq("a b", "c d", "e f"))
    spark.sql(s"INSERT OVERWRITE $t VALUES (9L, array('z', 'z9'))") // v3: truncate generation
    def detail(): (String, Long, Long, Int, Int, Long) = {
      val r = spark.sql("CALL graft_pr4.system.detail(table => 'ns.t')").collect()
      assert(r.length == 1)
      (r(0).getString(0), r(0).getLong(1), r(0).getLong(2),
        r(0).getInt(3), r(0).getInt(4), r(0).getLong(5))
    }
    val d1 = detail()
    assert(d1._1.endsWith("/ns/t.fimi"), d1._1)
    assert((d1._2, d1._3, d1._4, d1._5) == ((3L, 0L, 4, 1)), d1.toString)
    assert(d1._6 > 0L, "current generation must have bytes")
    // retention moves the window; the current generation is unchanged
    spark.sql("CALL graft_pr4.system.vacuum(table => 'ns.t', retain_last => 1)")
    val d2 = detail()
    assert((d2._2, d2._3, d2._4, d2._5) == ((3L, 3L, 1, 1)), d2.toString)
    assert(d2._6 == d1._6)
  }

  test("procedures fail loudly on bad arguments and non-fimi tables") {
    val (_, _) = dmlTable("graft_pr3", Seq("a b"))
    def err(sql: String): String = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      msgs(e).mkString(" | ")
    }
    // unknown procedure name
    assert(err("CALL graft_pr3.system.frobnicate('ns.t')")
      .contains("no procedure"), "unknown procedure")
    // procedures live under `system` only
    assert(err("CALL graft_pr3.ns.optimize('ns.t')").contains("system"))
    // one-part table identifier
    assert(err("CALL graft_pr3.system.optimize(table => 't')")
      .contains("namespace"), "one-part ident")
    // parquet corpus tables are not maintainable
    spark.conf.set("spark.sql.catalog.graft_pr4", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pr4.root", "/root/testdata")
    assert(err("CALL graft_pr4.system.optimize(table => '`sf0.001`.lineitem')")
      .contains("fimi"), "parquet table")
    // vacuum retention must be >= 1 (FimiLog.vacuum's own require)
    assert(err("CALL graft_pr3.system.vacuum(table => 'ns.t', retain_last => 0)")
      .contains("retain"), "retain_last 0")
    // SHOW PROCEDURES lists both maintenance verbs
    val procs = spark.sql("SHOW PROCEDURES IN graft_pr3.system")
      .collect().map(_.toString).mkString(",")
    assert(procs.contains("optimize") && procs.contains("vacuum"), procs)
  }

  test("CTAS onto a fimi work table: create, DML, time-travel, drop — corpus parquet stays read-only") {
    val root = tempDir("ctas")
    Files.createDirectories(java.nio.file.Paths.get(root, "work"))
    spark.conf.set("spark.sql.catalog.graft_ct", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ct.root", root)
    // atomic CTAS: staged through the manifest log's one-rename commit
    spark.sql(
      """CREATE TABLE graft_ct.work.t USING fimi AS
        |SELECT id AS tid, array(concat('x', CAST(id AS STRING)), 'c') AS items
        |FROM range(4)""".stripMargin)
    assert(contents("graft_ct.work.t").size == 4)
    // the reader serves items in canonical sorted order
    assert(contents("graft_ct.work.t").forall(_.startsWith("c x")),
      contents("graft_ct.work.t").toString)
    // DML on the created table; pre-DML version stays readable
    spark.sql("DELETE FROM graft_ct.work.t WHERE array_contains(items, 'x1')")
    assert(contents("graft_ct.work.t").size == 3)
    assert(contents("graft_ct.work.t VERSION AS OF 0").size == 4)
    // INSERT then maintenance through SQL on the same table
    spark.sql("INSERT INTO graft_ct.work.t VALUES (99L, array('zz'))")
    val opt = spark.sql("CALL graft_ct.system.optimize(table => 'work.t')")
      .collect().map(_.getInt(1)).toSeq
    assert(opt == Seq(1), opt.toString)
    assert(contents("graft_ct.work.t").size == 4)
    // plain CREATE TABLE publishes an empty readable v0
    spark.sql("CREATE TABLE graft_ct.work.empty (tid BIGINT, items ARRAY<STRING>) USING fimi")
    assert(contents("graft_ct.work.empty").isEmpty)
    spark.sql("INSERT INTO graft_ct.work.empty VALUES (0L, array('a'))")
    assert(contents("graft_ct.work.empty") == Seq("a"))
    // duplicate CTAS fails; the survivor is untouched
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_ct.work.t USING fimi AS SELECT array('y') AS items")
    }
    assert(contents("graft_ct.work.t").size == 4)
    // non-fimi provider and corpus parquet stay read-only
    def err(sql: String): String = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      msgs(e).mkString(" | ")
    }
    assert(err("CREATE TABLE graft_ct.work.p USING parquet AS SELECT 1 AS a")
      .contains("read-only"))
    assert(err("CREATE TABLE graft_ct.work.bad (v INT) USING fimi")
      .contains("items"), "schema contract")
    spark.conf.set("spark.sql.catalog.graft_ct2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ct2.root", "/root/testdata")
    assert(err("DROP TABLE graft_ct2.`sf0.001`.lineitem").contains("read-only"))
    // DROP removes the managed table and its files
    spark.sql("DROP TABLE graft_ct.work.t")
    assert(!new java.io.File(s"$root/work/t.fimi").exists())
    assert(err("SELECT * FROM graft_ct.work.t").nonEmpty)
  }

  test("REPLACE TABLE AS SELECT lands as one truncate snapshot; history and abort-safety hold") {
    val root = tempDir("rtas")
    Files.createDirectories(java.nio.file.Paths.get(root, "work"))
    spark.conf.set("spark.sql.catalog.graft_rt", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rt.root", root)
    spark.sql("CREATE TABLE graft_rt.work.t USING fimi AS SELECT array('old') AS items")
    assert(contents("graft_rt.work.t") == Seq("old"))
    // REPLACE swaps contents atomically; the pre-replace version remains
    spark.sql("REPLACE TABLE graft_rt.work.t USING fimi AS SELECT array('new') AS items")
    assert(contents("graft_rt.work.t") == Seq("new"))
    assert(contents("graft_rt.work.t VERSION AS OF 0") == Seq("old"))
    // CREATE OR REPLACE works for both existing and fresh tables
    spark.sql("CREATE OR REPLACE TABLE graft_rt.work.t USING fimi AS SELECT array('v3') AS items")
    assert(contents("graft_rt.work.t") == Seq("v3"))
    spark.sql("CREATE OR REPLACE TABLE graft_rt.work.u USING fimi AS SELECT array('u0') AS items")
    assert(contents("graft_rt.work.u") == Seq("u0"))
    // REPLACE of a missing table fails; a failed replace leaves the
    // survivor untouched (staged files are invisible until the manifest)
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft_rt.work.missing USING fimi AS SELECT array('x') AS items")
    }
    intercept[Exception] {
      // schema contract violation aborts the staged replace
      spark.sql("REPLACE TABLE graft_rt.work.t USING fimi AS SELECT 1 AS v")
    }
    assert(contents("graft_rt.work.t") == Seq("v3"))
  }

  test("the _file metadata column is selectable and names each row's data file") {
    val (t, dest) = dmlTable("graft_dml5", Seq("a b", "c d"))
    val rows = spark.sql(s"SELECT array_join(items, ' ') AS s, _file FROM $t ORDER BY s")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.map(_._1) == Seq("a b", "c d"))
    assert(rows.map(_._2).distinct.size == 2, rows.toString)
    assert(rows.forall(_._2.contains(new java.io.File(dest).getName)), rows.toString)
  }

  test("catalog-managed streaming: readStream.table → writeStream.toTable is exactly-once, epochs in history") {
    val root = tempDir("cst")
    Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    spark.conf.set("spark.sql.catalog.graft_cst", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cst.root", root)
    spark.sql("CREATE TABLE graft_cst.ns.src (tid BIGINT, items ARRAY<STRING>) USING fimi")
    spark.sql("CREATE TABLE graft_cst.ns.sink (tid BIGINT, items ARRAY<STRING>) USING fimi")
    spark.sql("INSERT INTO graft_cst.ns.src VALUES (0L, array('x', 'y')), (1L, array('y', 'z'))")
    val ck = s"$root/ck"
    // same rationale as FimiDsv2Spec's exactly-once test: the forced
    // epoch replay below needs the engine's commit-marker delete to look
    // like a genuine crash, not a concurrent writer
    val cacheKey = "spark.sql.streaming.metadataCache.enabled"
    val prevCache = spark.conf.getOption(cacheKey)
    spark.conf.set(cacheKey, "false")
    def run(): Unit = {
      val q = spark.readStream.table("graft_cst.ns.src")
        .select(col("tid"), col("items"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .toTable("graft_cst.ns.sink")
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(contents("graft_cst.ns.sink") == Seq("x y", "y z"))
    // a snapshot commit lands while the stream is DOWN; restart emits
    // only the delta (the source discovers through the manifest log)
    spark.sql("INSERT INTO graft_cst.ns.src VALUES (2L, array('p', 'q'))")
    run()
    assert(contents("graft_cst.ns.sink") == Seq("p q", "x y", "y z"))
    // FORCED EPOCH REPLAY: delete the engine's last commit marker; the
    // restarted query re-executes that epoch and the sink's #epoch
    // ledger must drop the duplicate
    val commits = new java.io.File(ck, "commits").listFiles()
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
    assert(commits.nonEmpty, "no engine commit markers written")
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(commits.last.delete())
    run()
    assert(contents("graft_cst.ns.sink") == Seq("p q", "x y", "y z"),
      "replayed epoch duplicated rows through the catalog identifiers")
    // nothing new → restart emits nothing
    run()
    assert(contents("graft_cst.ns.sink") == Seq("p q", "x y", "y z"))
    // the sink's commit ledger records the stream: STREAMING APPEND
    // verbs carrying their epoch ids
    val h = spark.sql("CALL graft_cst.system.history(table => 'ns.sink')")
      .collect().filter(_.getString(2) == "STREAMING APPEND")
    assert(h.nonEmpty && h.forall(!_.isNullAt(4)), h.mkString(","))
    prevCache match {
      case Some(v) => spark.conf.set(cacheKey, v)
      case None => spark.conf.unset(cacheKey)
    }
  }

  test("CALL system.history reads the commit ledger: CTAS→INSERT→DELETE→OPTIMIZE→RTAS") {
    val root = tempDir("hist")
    Files.createDirectories(java.nio.file.Paths.get(root, "work"))
    spark.conf.set("spark.sql.catalog.graft_h", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_h.root", root)
    spark.sql(
      """CREATE TABLE graft_h.work.t USING fimi AS
        |SELECT id AS tid, array(concat('x', CAST(id AS STRING)), 'c') AS items
        |FROM range(4)""".stripMargin)
    spark.sql("INSERT INTO graft_h.work.t VALUES (99L, array('zz'))")
    spark.sql("DELETE FROM graft_h.work.t WHERE array_contains(items, 'x1')")
    spark.sql("CALL graft_h.system.optimize(table => 'work.t')").collect()
    spark.sql("REPLACE TABLE graft_h.work.t USING fimi AS SELECT array('r') AS items")
    def hist(tbl: String) =
      spark.sql(s"CALL graft_h.system.history(table => '$tbl')").collect().toSeq
    val rows = hist("work.t")
    // version order, one row per commit, the DDL/DML verb each manifest recorded
    assert(rows.map(_.getLong(0)) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(rows.map(_.getString(2)) == Seq("CREATE TABLE AS SELECT", "APPEND",
      "DELETE", "OPTIMIZE", "REPLACE TABLE AS SELECT"))
    // append commits list files ADDED; table-replacing commits carry the
    // truncate flag and list the generation's FULL file set
    assert(rows.map(_.getBoolean(3)) == Seq(false, false, true, true, true))
    assert(rows.map(_.getInt(5)).last == 1) // RTAS generation: one file
    // commit instants populated and monotone; batch commits have no epoch
    val ts = rows.map(_.getTimestamp(1).getTime)
    assert(ts == ts.sorted && ts.forall(_ > 0L), ts.toString)
    assert(rows.forall(_.isNullAt(4)))
    // vacuum retires history: only the retained window stays listed
    spark.sql("CALL graft_h.system.vacuum(table => 'work.t', retain_last => 2)").collect()
    assert(hist("work.t").map(r => (r.getLong(0), r.getString(2))) ==
      Seq((3L, "OPTIMIZE"), (4L, "REPLACE TABLE AS SELECT")))
    // plain CREATE TABLE publishes an empty v0 labeled with its verb
    spark.sql("CREATE TABLE graft_h.work.c (tid BIGINT, items ARRAY<STRING>) USING fimi")
    assert(hist("work.c").map(r => (r.getLong(0), r.getString(2), r.getInt(5))) ==
      Seq((0L, "CREATE TABLE", 0)))
    // SHOW PROCEDURES lists history next to the maintenance verbs
    val procs = spark.sql("SHOW PROCEDURES IN graft_h.system")
      .collect().map(_.toString).mkString(",")
    assert(procs.contains("history"), procs)
    // error surface: parquet corpus tables keep no snapshot log
    spark.conf.set("spark.sql.catalog.graft_h2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_h2.root", "/root/testdata")
    val e = intercept[Exception] {
      spark.sql("CALL graft_h2.system.history(table => '`sf0.001`.lineitem')").collect()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).mkString(" | ").contains("fimi"), msgs(e).toString)
  }
}
