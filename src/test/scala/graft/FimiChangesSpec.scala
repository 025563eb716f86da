package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.fimi.{FimiChanges, FimiLog}

/** Contract tests for the fimi CHANGE DATA FEED
  * (graft.sources.fimi.FimiChanges): append commits surface as inserts
  * with the committing version, copy-on-write DML diffs against the
  * previous listing with carryover rows cancelled by [[FimiChanges.net]],
  * tids join positionally against the matching snapshots, vacuumed
  * history fails loudly, and the relation is read-only. */
class FimiChangesSpec extends SparkSpec {

  private def writeBaskets(dest: String, lines: Seq[String], mode: String,
      parts: Int = 1): Unit = {
    val sp = spark
    import sp.implicits._
    lines.toDF("raw").select(split(col("raw"), " ").as("items"))
      .repartition(parts)
      .write.format("fimi").option("snapshots", "true").mode(mode).save(dest)
  }

  private def changes(dest: String, from: Long, to: Option[Long] = None): DataFrame = {
    val r = spark.read.format("fimi").option(FimiChanges.FromOption, from)
    to.foldLeft(r)((r, v) => r.option(FimiChanges.ToOption, v)).load(dest)
  }

  private def basketStrings(df: DataFrame, extra: String*): Seq[Seq[String]] =
    df.select((col("items") +: extra.map(col)): _*).collect().toSeq
      .map(r => r.getSeq[String](0).mkString(",") +: extra.indices.map(i =>
        r.get(i + 1).toString))
      .sortBy(_.mkString("|"))

  test("append commits read back as inserts tagged with their version") {
    val dest = s"${tempDir("append")}/t.fimi"
    writeBaskets(dest, Seq("a b", "b c"), "overwrite")
    writeBaskets(dest, Seq("c d"), "append")
    val all = basketStrings(changes(dest, 0),
      FimiChanges.ChangeTypeCol, FimiChanges.VersionCol)
    assert(all == Seq(
      Seq("a,b", "insert", "0"),
      Seq("b,c", "insert", "0"),
      Seq("c,d", "insert", "1")), all.toString)
    // range selection: only the second commit
    val tail = basketStrings(changes(dest, 1),
      FimiChanges.ChangeTypeCol, FimiChanges.VersionCol)
    assert(tail == Seq(Seq("c,d", "insert", "1")), tail.toString)
    // bounded range: only the first commit
    val head = basketStrings(changes(dest, 0, Some(0)),
      FimiChanges.ChangeTypeCol, FimiChanges.VersionCol)
    assert(head.map(_.head) == Seq("a,b", "b,c"), head.toString)
    // the commit instant rides along and is never null
    assert(changes(dest, 0).filter(col(FimiChanges.TimestampCol).isNull).count() == 0)
  }

  test("copy-on-write DELETE: raw feed carries carryover pairs, net() cancels them") {
    val root = tempDir("cowdel")
    Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    val dest = s"$root/ns/t.fimi"
    // two part files so the rewrite granularity (whole touched files) shows
    writeBaskets(dest, Seq("a b", "x y", "a z", "q r"), "overwrite", parts = 2)
    spark.conf.set("spark.sql.catalog.graft_cdf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cdf.root", root)
    spark.sql("DELETE FROM graft_cdf.ns.t WHERE array_contains(items, 'a')")

    val raw = changes(dest, 1)
    // raw feed is file-granular: deletes = every row of each touched
    // file; inserts = that file's surviving rows rewritten
    val rawDel = raw.filter(col(FimiChanges.ChangeTypeCol) === "delete")
    val rawIns = raw.filter(col(FimiChanges.ChangeTypeCol) === "insert")
    assert(rawDel.count() >= 2, "both deleted baskets must appear")
    assert(rawDel.count() - rawIns.count() == 2,
      "carryover rows must appear on both sides in equal number")

    // net(): exactly the two deleted baskets, nothing else
    val net = basketStrings(FimiChanges.net(raw),
      FimiChanges.ChangeTypeCol, FimiChanges.VersionCol, "n_baskets")
    assert(net == Seq(
      Seq("a,b", "delete", "1", "1"),
      Seq("a,z", "delete", "1", "1")), net.toString)

    // delete-row tids are the PRE-image's: they join versionAsOf=0
    val pre = spark.read.format("fimi").option("versionAsOf", "0").load(dest)
      .select(col("tid"), concat_ws(",", col("items")).as("b"))
    val joined = rawDel.select(col("tid"),
        concat_ws(",", col("items")).as("bd"))
      .join(pre, "tid")
    assert(joined.count() == rawDel.count() &&
      joined.filter(col("b") =!= col("bd")).count() == 0,
      "every delete row must match the version-0 snapshot positionally")
    // insert-row tids are the POST-image's: they join the latest snapshot
    val post = spark.read.format("fimi").load(dest)
      .select(col("tid"), concat_ws(",", col("items")).as("b"))
    val ji = rawIns.select(col("tid"), concat_ws(",", col("items")).as("bi"))
      .join(post, "tid")
    assert(ji.count() == rawIns.count() &&
      ji.filter(col("b") =!= col("bi")).count() == 0,
      "every insert row must match the post-DML snapshot positionally")
  }

  test("vacuumed history fails loudly; an append at the retained boundary still diffs") {
    val dest = s"${tempDir("vac")}/t.fimi"
    writeBaskets(dest, Seq("a b"), "overwrite") // v0
    writeBaskets(dest, Seq("b c"), "append")    // v1
    writeBaskets(dest, Seq("c d"), "append")    // v2
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sessionState.newHadoopConf())
    FimiLog.vacuum(fs, new org.apache.hadoop.fs.Path(dest), retainLast = 2)
    // v0 expired: a range reaching it must fail with the boundary named
    val e = intercept[Exception] { changes(dest, 0).collect() }
    assert(e.getMessage.contains("not retained"), e.getMessage)
    // v1 is the boundary and an APPEND: its diff needs only its own
    // listing minus its added tail (the vacuumed v0 listing is not needed)
    val atBoundary = basketStrings(changes(dest, 1),
      FimiChanges.ChangeTypeCol, FimiChanges.VersionCol)
    assert(atBoundary == Seq(
      Seq("b,c", "insert", "1"),
      Seq("c,d", "insert", "2")), atBoundary.toString)
  }

  test("guards: bad ranges, versionAsOf exclusivity, read-only relation, plain dirs") {
    val dest = s"${tempDir("guards")}/t.fimi"
    writeBaskets(dest, Seq("a b"), "overwrite")
    val tooFar = intercept[Exception] { changes(dest, 5).collect() }
    assert(tooFar.getMessage.contains("invalid change range"), tooFar.getMessage)
    val both = intercept[Exception] {
      spark.read.format("fimi").option(FimiChanges.FromOption, 0)
        .option("versionAsOf", 0).load(dest).collect()
    }
    assert(both.getMessage.contains("mutually exclusive"), both.getMessage)
    val ro = intercept[Exception] {
      val sp = spark
      import sp.implicits._
      Seq("z z").toDF("raw").select(split(col("raw"), " ").as("items"))
        .write.format("fimi").option(FimiChanges.FromOption, 0)
        .mode("append").save(dest)
    }
    assert(ro.getMessage.contains("read-only"), ro.getMessage)
    // a directory with no snapshot log has no reconstructable history
    val plain = tempDir("plain")
    Files.write(java.nio.file.Paths.get(plain, "a.dat"), "x y\n".getBytes("UTF-8"))
    val noLog = intercept[Exception] { changes(plain, 0).collect() }
    assert(noLog.getMessage.contains("snapshot log"), noLog.getMessage)
  }

  test("streaming change feed: version-aligned micro-batches, capped admission, checkpoint resume") {
    val root = tempDir("cdc")
    Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    val dest = s"$root/ns/t.fimi"
    writeBaskets(dest, Seq("a b", "x y", "a z", "q r"), "overwrite", parts = 2) // v0
    writeBaskets(dest, Seq("m n"), "append")                                   // v1
    spark.conf.set("spark.sql.catalog.graft_cdc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cdc.root", root)
    spark.sql("DELETE FROM graft_cdc.ns.t WHERE array_contains(items, 'a')")   // v2
    val ck = s"${tempDir("cdc-ck")}/ck"
    // one batch = (distinct versions in it, its (change, basket) rows)
    def drain(): Seq[(Seq[Long], Seq[(String, String)])] = {
      val batches = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Long], Seq[(String, String)])]
      val q = spark.readStream.format("fimi")
        .option(FimiChanges.FromOption, 0)
        .option("maxFilesPerTrigger", "1").load(dest)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = bdf.select(col(FimiChanges.VersionCol),
              col(FimiChanges.ChangeTypeCol),
              concat_ws(",", col("items")).as("b"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
          batches.synchronized {
            if (rows.nonEmpty)
              batches += ((rows.map(_._1).distinct.sorted,
                rows.map(r => (r._2, r._3)).sortBy(_.toString)))
          }
          ()
        }
        .start()
      assert(q.awaitTermination(120000), "AvailableNow drain did not stop")
      batches.synchronized(batches.toSeq)
    }
    val run1 = drain()
    // version-aligned admission: a micro-batch is a whole number of
    // commits — with a 1-file cap every batch is exactly one version
    assert(run1.forall(_._1.size == 1), run1.toString)
    assert(run1.map(_._1.head) == Seq(0L, 1L, 2L), run1.toString)
    // batch contents: v0/v1 all-insert; v2 is the COW diff whose net is
    // the two deleted 'a' baskets
    assert(run1(0)._2.forall(_._1 == "insert") && run1(0)._2.size == 4)
    assert(run1(1)._2 == Seq(("insert", "m,n")), run1(1).toString)
    val v2 = run1(2)._2
    val deletes = v2.filter(_._1 == "delete").map(_._2)
    val inserts = v2.filter(_._1 == "insert").map(_._2)
    assert((deletes diff inserts).sorted == Seq("a,b", "a,z"),
      s"net of the v2 batch must be the deleted baskets: $v2")
    // a commit landing after the drain waits for the NEXT run — and
    // only it is delivered there (offsets checkpointed by version)
    writeBaskets(dest, Seq("z z"), "append") // v3
    val run2 = drain()
    assert(run2 == Seq((Seq(3L), Seq(("insert", "z")))), run2.toString)
  }

  test("the feed plans only the files the range's commits touched, never the table") {
    val root = tempDir("pruneplan")
    Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    val dest = s"$root/ns/t.fimi"
    writeBaskets(dest, Seq("x y"), "overwrite") // v0, file 1
    writeBaskets(dest, Seq("a b"), "append")    // v1, file 2 (the only 'a')
    writeBaskets(dest, Seq("p q"), "append")    // v2, file 3
    spark.conf.set("spark.sql.catalog.graft_cdp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cdp.root", root)
    // COW DELETE whose runtime group filter touches exactly file 2; the
    // rewritten group has no survivors, so the commit adds no files
    spark.sql("DELETE FROM graft_cdp.ns.t WHERE array_contains(items, 'a')") // v3
    // the v3 feed reads ONE file (the removed group) — not the table
    val v3 = changes(dest, 3)
    assert(v3.rdd.getNumPartitions == 1,
      s"v3 diff must plan 1 touched file, got ${v3.rdd.getNumPartitions}")
    assert(basketStrings(v3, FimiChanges.ChangeTypeCol) ==
      Seq(Seq("a,b", "delete")), "v3 is the net delete of the 'a' basket")
    // sanity: the full-history feed covers all three original files
    assert(changes(dest, 0, Some(2)).rdd.getNumPartitions == 3)
  }

  test("changesFromTimestamp resolves through the commit ledger; vacuumed boundaries refuse") {
    val dest = s"${tempDir("fromts")}/t.fimi"
    writeBaskets(dest, Seq("a b"), "overwrite") // v0
    Thread.sleep(20) // distinct #ts instants at ms grain
    writeBaskets(dest, Seq("b c"), "append")    // v1
    val table = new org.apache.hadoop.fs.Path(dest)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val hist = FimiLog.history(fs, table)
    val Seq(ts0, ts1) = hist.map(_.tsMillis)
    assert(ts0 < ts1, "fixture needs distinct commit instants")
    def fromTs(ms: Long): Seq[String] =
      basketStrings(spark.read.format("fimi")
        .option(FimiChanges.FromTsOption, ms).load(dest),
        FimiChanges.VersionCol).map(_.mkString("@"))
    // at v1's instant: v1 only (commits AT or AFTER the time)
    assert(fromTs(ts1) == Seq("b,c@1"), fromTs(ts1).toString)
    // strictly after v1: nothing (empty range is an error — matches the
    // batch contract; a STREAM with the same option would wait instead)
    val past = intercept[Exception] { fromTs(ts1 + 1000) }
    assert(past.getMessage.contains("invalid change range"), past.getMessage)
    // at or before v0's instant with full history: everything
    assert(fromTs(ts0) == Seq("a,b@0", "b,c@1"))
    // both start options together refuse
    val both = intercept[Exception] {
      spark.read.format("fimi").option(FimiChanges.FromOption, 0)
        .option(FimiChanges.FromTsOption, ts0).load(dest).collect()
    }
    assert(both.getMessage.contains("mutually exclusive"), both.getMessage)
    // after vacuum the checkpointed #ts ledger still anchors the
    // boundary exactly: a time at the retained commit serves it, a
    // time reaching the EXPIRED commit refuses with the remedy
    FimiLog.vacuum(fs, table, retainLast = 1)
    assert(fromTs(ts1) == Seq("b,c@1"), fromTs(ts1).toString)
    val vac = intercept[Exception] { fromTs(ts0) }
    assert(vac.getMessage.contains("was vacuumed"), vac.getMessage)
  }

  test("pushed _commit_version and _change_type predicates prune feed partitions at planning") {
    val root = tempDir("pushdown")
    Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    val dest = s"$root/ns/t.fimi"
    writeBaskets(dest, Seq("x y"), "overwrite") // v0, file 1
    writeBaskets(dest, Seq("a b"), "append")    // v1, file 2
    writeBaskets(dest, Seq("p q"), "append")    // v2, file 3
    spark.conf.set("spark.sql.catalog.graft_cdpd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cdpd.root", root)
    spark.sql("DELETE FROM graft_cdpd.ns.t WHERE array_contains(items, 'a')") // v3: 1 removed, 0 added
    val all = changes(dest, 0)
    assert(all.rdd.getNumPartitions == 4) // 3 adds + 1 remove
    // version bound: only v1's single add is even diffed
    val v1 = all.filter(col(FimiChanges.VersionCol) === 1L)
    assert(v1.rdd.getNumPartitions == 1, s"v1 bound planned ${v1.rdd.getNumPartitions}")
    assert(basketStrings(v1, FimiChanges.ChangeTypeCol) == Seq(Seq("a,b", "insert")))
    assert(v1.queryExecution.executedPlan.toString.contains("versionBound=[1,1]"),
      "pushed version bound missing from the plan")
    // range bound
    assert(all.filter(col(FimiChanges.VersionCol) >= 2L).rdd.getNumPartitions == 2)
    // side bound: an insert-only consumer never reads the delete side
    val ins = all.filter(col(FimiChanges.ChangeTypeCol) === "insert")
    assert(ins.rdd.getNumPartitions == 3, s"insert side planned ${ins.rdd.getNumPartitions}")
    assert(ins.queryExecution.executedPlan.toString.contains("sides=insert"))
    val del = all.filter(col(FimiChanges.ChangeTypeCol) === "delete")
    assert(del.rdd.getNumPartitions == 1)
    assert(basketStrings(del, FimiChanges.VersionCol) == Seq(Seq("a,b", "3")))
    // combined bounds compose; an impossible side plans zero partitions
    assert(all.filter(col(FimiChanges.VersionCol) === 3L &&
      col(FimiChanges.ChangeTypeCol) === "insert").rdd.getNumPartitions == 0)
    // a sparse IN prunes to exactly its members, not the [min,max] span
    val sparse = all.filter(col(FimiChanges.VersionCol).isin(0L, 3L))
    assert(sparse.rdd.getNumPartitions == 2,
      s"IN(0,3) planned ${sparse.rdd.getNumPartitions} partitions")
    assert(basketStrings(sparse, FimiChanges.ChangeTypeCol,
        FimiChanges.VersionCol) ==
      Seq(Seq("a,b", "delete", "3"), Seq("x,y", "insert", "0")))
    // pruning is a work skip, never a validity change: a pushed bound
    // must NOT turn a vacuumed option range into a silent success
    FimiLog.vacuum(new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(dest), retainLast = 2)
    val vac = intercept[Exception] {
      changes(dest, 0).filter(col(FimiChanges.VersionCol) >= 3L).collect()
    }
    assert(vac.getMessage.contains("not retained"), vac.getMessage)
  }

  test("column pruning reaches the feed: version-only and count scans work") {
    val dest = s"${tempDir("prune")}/t.fimi"
    writeBaskets(dest, Seq("a b", "b c"), "overwrite")
    writeBaskets(dest, Seq("c d"), "append")
    assert(changes(dest, 0).count() == 3)
    val versions = changes(dest, 0).select(FimiChanges.VersionCol)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(versions == Seq(0L, 0L, 1L), versions.toString)
  }

  test("a streaming changesFrom beyond latest+1 fails at start, not as a silent empty stream") {
    val dest = s"${tempDir("ahead")}/t.fimi"
    writeBaskets(dest, Seq("a b"), "overwrite") // v0 only
    def stream(from: Long): Unit = {
      val q = spark.readStream.format("fimi")
        .option(FimiChanges.FromOption, from).load(dest)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"${tempDir(s"ahead-ck-$from")}/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { if (!q.awaitTermination(120000)) fail("drain did not stop") }
      finally q.stop()
    }
    // latest+1 is the legitimate subscribe-ahead case: an idle stream
    stream(1L)
    // latest+2 is a typo'd version — loud failure, never an idle stream
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    val e = intercept[Throwable] { stream(2L) }
    assert(messages(e).contains("beyond the next commit"), messages(e).take(500))
  }

  test("version bounds at the Long extremes saturate to empty, never wrap to no-prune") {
    val dest = s"${tempDir("satur")}/t.fimi"
    writeBaskets(dest, Seq("a b"), "overwrite")
    writeBaskets(dest, Seq("b c"), "append")
    val all = changes(dest, 0)
    // strict bounds past either extreme are unsatisfiable: zero
    // partitions planned (a v+1/v-1 wraparound would instead plan the
    // FULL range and return every row through the residual filter)
    val hi = all.filter(col(FimiChanges.VersionCol) > Long.MaxValue)
    assert(hi.rdd.getNumPartitions == 0,
      s"> Long.MaxValue planned ${hi.rdd.getNumPartitions} partitions")
    assert(hi.count() == 0)
    val lo = all.filter(col(FimiChanges.VersionCol) < Long.MinValue)
    assert(lo.rdd.getNumPartitions == 0,
      s"< Long.MinValue planned ${lo.rdd.getNumPartitions} partitions")
    assert(lo.count() == 0)
    // non-strict extremes stay full-range (they are satisfiable)
    assert(all.filter(col(FimiChanges.VersionCol) <= Long.MaxValue).count() == 2)
  }
}
