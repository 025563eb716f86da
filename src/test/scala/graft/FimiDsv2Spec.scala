package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Contract tests for the `fimi` DataSourceV2 connector
  * (graft.sources.fimi.FimiDataSourceV2): split-invariant deterministic
  * tids, byte-range split planning, reader-level column pruning, limit
  * and tid-range pushdown, the two-phase write commit, and the session
  * catalog (`CREATE TABLE ... USING fimi`) surface. */
class FimiDsv2Spec extends SparkSpec {

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.write(p, String.join("\n", lines: _*).getBytes("UTF-8"))
  }

  private def readFimi(path: String, opts: Map[String, String] = Map.empty): DataFrame =
    opts.foldLeft(spark.read.format("fimi"))((r, kv) => r.option(kv._1, kv._2)).load(path)

  private def scanOf(df: DataFrame): BatchScanExec = {
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .orElse(org.apache.spark.sql.graft.Bridge
        .runtimeOps(df.queryExecution.executedPlan)
        .collectFirst { case b: BatchScanExec => b })
      .getOrElse(fail("no BatchScanExec in plan"))
  }

  test("read matches the FimiSource helper's baskets, content-identical") {
    val dir = tempDir("content")
    writeLines(dir, "tx.dat", Seq(
      "b a c", "a a b", "", "  ", "z", "c b"))
    val v2 = readFimi(dir)
    // canonicalization: dedup + sort, blank lines dropped
    val got = v2.select(concat_ws(",", col("items")).as("b"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("a,b", "a,b,c", "b,c", "z"))
    // helper reader sees the same content multiset
    val helper = graft.sources.FimiSource.read(spark, s"$dir/tx.dat")
      .select(concat_ws(",", col("items")).as("b"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(helper == got)
  }

  test("item tokens equal String.split for spaces, tabs, whitespace runs and a custom sep") {
    val cases = Seq(
      "\\s+" -> Seq("a b c", "c\tb\ta", "  a \t\t b   c  ", "b\ta  a", "x"),
      ","     -> Seq("a,b,c", "a,,b", ",a,b,", "  a,b  ", "c"))
    for ((sep, lines) <- cases) {
      // reference: String.split(sep), which compiles `sep` on every call
      def tokens(line: String) = line.trim.split(sep).filter(_.nonEmpty)
      def items(r: org.apache.spark.sql.Row) = r.getSeq[String](1).toList
      val want = lines.map(l => tokens(l).distinct.sorted.toList)
      val opts = Map("sep" -> sep)
      val dir = tempDir("sep")
      writeLines(dir, "tx.dat", lines)
      assert(readFimi(dir, opts).orderBy("tid").collect().map(items).toSeq == want, s"dsv2, sep $sep")
      assert(graft.sources.FimiSource.read(spark, s"$dir/tx.dat", sep).orderBy("tid")
        .collect().map(items).toSeq == want, s"FimiSource, sep $sep")
      // bucketed layout: each line starts with its explicit tid
      val bdir = tempDir("sepb")
      new java.io.File(s"$bdir/bucket=0").mkdirs()
      val tidLines = lines.zipWithIndex.map { case (l, i) => s"$i${if (sep == ",") "," else "\t"}$l" }
      writeLines(s"$bdir/bucket=0", "part-0.dat", tidLines)
      assert(readFimi(bdir, opts + ("buckets" -> "1")).orderBy("tid").collect().map(items).toSeq ==
        tidLines.map(l => tokens(l).drop(1).distinct.sorted.toList), s"bucketed, sep $sep")
    }
  }

  test("tids are deterministic and split-invariant: 1-byte-off split sizes agree") {
    val dir = tempDir("splits")
    val lines = (0 until 2000).map(i => s"i${i % 7} i${i % 13} i${i % 31}")
    writeLines(dir, "big.dat", lines)
    val whole = readFimi(dir).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).mkString(","))).sorted.toSeq
    for (split <- Seq("512", "1023", "4096")) {
      val df = readFimi(dir, Map("maxSplitBytes" -> split))
      assert(df.rdd.getNumPartitions > 1, s"split=$split produced one partition")
      val got = df.collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).mkString(","))).sorted.toSeq
      assert(got == whole, s"split=$split changed the (tid, items) set")
    }
    assert(whole.map(_._1).distinct.size == whole.size, "tids not unique")
    assert(whole.size == 2000)
  }

  test("multi-file reads order file ordinals by path; tids stay unique") {
    val dir = tempDir("multifile")
    writeLines(dir, "a.dat", Seq("x y", "y z"))
    writeLines(dir, "b.dat", Seq("x y", "p q"))
    val rows = readFimi(dir).select("tid").collect().map(_.getLong(0))
    assert(rows.distinct.length == 4)
    val ordinals = rows.map(_ >> graft.sources.fimi.FimiTable.OffsetBits).distinct.sorted
    assert(ordinals.toSeq == Seq(0L, 1L))
  }

  test("column pruning reaches the reader: items-only scan drops tid") {
    val dir = tempDir("prune")
    writeLines(dir, "tx.dat", Seq("a b", "b c"))
    val df = readFimi(dir).select("items")
    val scan = scanOf(df)
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("items"),
      s"scan schema: ${scan.scan.readSchema()}")
    assert(df.count() == 2)
    // count(*): empty required schema still counts data lines
    val cnt = readFimi(dir).count()
    assert(cnt == 2)
  }

  test("limit pushes into the scan; global semantics unchanged") {
    val dir = tempDir("limit")
    writeLines(dir, "tx.dat", (0 until 100).map(i => s"a$i b$i"))
    val df = readFimi(dir).limit(7)
    assert(df.count() == 7)
    assert(scanOf(df).scan.description().contains("pushedLimit=7"),
      s"desc: ${scanOf(df).scan.description()}")
  }

  test("tid-range predicate prunes whole splits at planning") {
    val dir = tempDir("tidprune")
    val lines = (0 until 4000).map(i => s"i${i % 7} i${i % 13}")
    writeLines(dir, "big.dat", lines)
    val opts = Map("maxSplitBytes" -> "1024")
    val all = readFimi(dir, opts)
    val nAll = all.rdd.getNumPartitions
    assert(nAll >= 8, s"expected many splits, got $nAll")
    val bound = 2048L // byte offset ⇒ only splits overlapping [0, 2048]
    val filtered = readFimi(dir, opts).filter(col("tid") <= bound)
    val nFiltered = filtered.rdd.getNumPartitions
    assert(nFiltered < nAll, s"no split pruning: $nFiltered vs $nAll")
    // pruning is work-skip only: same rows as a post-hoc filter
    val expect = all.collect().filter(_.getLong(0) <= bound)
      .map(r => (r.getLong(0), r.getSeq[String](1).mkString(","))).sorted.toSeq
    val got = filtered.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).mkString(","))).sorted.toSeq
    assert(got == expect)
  }

  test("write commits atomically: overwrite truncates, append adds, no staging residue") {
    val src = tempDir("wsrc")
    writeLines(src, "tx.dat", Seq("a b c", "b c", "a c"))
    val dest = tempDir("wdest") + "/out"
    val baskets = readFimi(src)
    baskets.write.format("fimi").mode("overwrite").save(dest)
    val back1 = readFimi(dest)
    assert(back1.count() == 3)
    // append doubles the corpus
    baskets.write.format("fimi").mode("append").save(dest)
    assert(readFimi(dest).count() == 6)
    // overwrite truncates back to one copy
    baskets.write.format("fimi").mode("overwrite").save(dest)
    val back2 = readFimi(dest)
    assert(back2.count() == 3)
    assert(back2.select(concat_ws(",", col("items")).as("b"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a,b,c", "a,c", "b,c"))
    // no staging residue
    val residue = new java.io.File(dest).listFiles()
      .filter(_.getName.startsWith(".graft-staging"))
    assert(residue.isEmpty, residue.mkString(","))
  }

  test("write → read round-trips the sf baskets through the connector") {
    val baskets = operators.Mining.fpmBasketize(spark, sf)
      .select(col("l_orderkey").as("tid"),
        split(col("items_str"), ",").as("items"))
    val dest = tempDir("roundtrip") + "/corpus"
    baskets.write.format("fimi").mode("overwrite").save(dest)
    val back = readFimi(dest)
    assert(back.count() == baskets.count())
    val a = baskets.select(concat_ws(",", col("items")).as("b"))
      .groupBy("b").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = back.select(concat_ws(",", col("items")).as("b"))
      .groupBy("b").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("compressed file: single split, unique line-counter tids, content intact") {
    val dir = tempDir("gz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/tx.dat.gz"))
    out.write((0 until 500).map(i => s"a$i b").mkString("\n").getBytes("UTF-8"))
    out.close()
    // a tiny split size must NOT split a non-splittable codec
    val df = readFimi(dir, Map("maxSplitBytes" -> "64"))
    assert(df.rdd.getNumPartitions == 1)
    val rows = df.collect().map(r => (r.getLong(0), r.getSeq[String](1).mkString(",")))
    assert(rows.length == 500)
    assert(rows.map(_._1).distinct.length == 500, "compressed tids collided")
    assert(rows.map(_._2).sorted.toSeq == (0 until 500).map(i => s"a$i,b").sorted)
  }

  test("streaming read: new files become micro-batches; restart resumes from the checkpoint log") {
    val src = tempDir("stream-src")
    val ck = tempDir("stream-ck") + "/ck"
    // phase files land one per run; foreachBatch (not the memory sink:
    // memory is not fault-tolerant, Spark refuses to restart it from a
    // checkpoint) captures exactly that run's emissions.
    def drain(): Seq[(Long, String)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      val q = spark.readStream.format("fimi").load(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = bdf.collect()
            .map(r => (r.getLong(0), r.getSeq[String](1).mkString(",")))
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.synchronized(buf.toSeq)
    }
    writeLines(src, "a.dat", Seq("x y", "y z"))
    val run1 = drain()
    assert(run1.map(_._2).sorted == Seq("x,y", "y,z"))
    // second file lands while the query is DOWN; the restarted run must
    // emit ONLY the new file (committed offsets not reprocessed) with
    // the next log ordinal
    writeLines(src, "b.dat", Seq("p q"))
    val run2 = drain()
    assert(run2.map(_._2) == Seq("p,q"), run2.toString)
    assert(run2.map(_._1 >> graft.sources.fimi.FimiTable.OffsetBits).distinct == Seq(1L))
    // third run with nothing new emits nothing
    assert(drain().isEmpty)
    // ordinals across runs are disjoint and sequential: a=0, b=1
    val ords = (run1 ++ run2).map(_._1 >> graft.sources.fimi.FimiTable.OffsetBits)
    assert(ords.distinct.sorted == Seq(0L, 1L))
  }

  test("admission control: maxFilesPerTrigger bounds each micro-batch to one file") {
    val src = tempDir("admit-src")
    val ck = tempDir("admit-ck") + "/ck"
    writeLines(src, "a.dat", Seq("x y", "y z"))
    writeLines(src, "b.dat", Seq("p q"))
    writeLines(src, "c.dat", Seq("r s", "s t"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = spark.readStream.format("fimi")
      .option("maxFilesPerTrigger", "1").load(src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ords = bdf.collect()
          .map(_.getLong(0) >> graft.sources.fimi.FimiTable.OffsetBits).toSeq
        batches.synchronized { if (ords.nonEmpty) batches += ords }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = batches.synchronized(batches.toSeq)
    // one file per non-empty batch, all three files delivered in order
    assert(got.size == 3, s"expected 3 single-file batches, got $got")
    assert(got.forall(_.distinct.size == 1), s"a batch spanned files: $got")
    assert(got.map(_.head) == Seq(0L, 1L, 2L), got.toString)
  }

  test("Trigger.AvailableNow drains exactly the files present at start, in capped batches, then stops") {
    val src = tempDir("avnow-src")
    val ck = tempDir("avnow-ck") + "/ck"
    writeLines(src, "a.dat", Seq("x y"))
    writeLines(src, "b.dat", Seq("p q"))
    def drainNow(): Seq[Seq[String]] = {
      val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val q = spark.readStream.format("fimi")
        .option("maxFilesPerTrigger", "1").load(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = bdf.collect().map(_.getSeq[String](1).mkString(",")).toSeq
          batches.synchronized { if (rows.nonEmpty) batches += rows }
          ()
        }
        .start()
      assert(q.awaitTermination(120000), "AvailableNow run did not stop")
      batches.synchronized(batches.toSeq)
    }
    val run1 = drainNow()
    assert(run1 == Seq(Seq("x,y"), Seq("p,q")), run1.toString)
    // a file landing after the drain waits for the NEXT run — and only
    // it is emitted there (committed offsets are not reprocessed)
    writeLines(src, "c.dat", Seq("r s"))
    val run2 = drainNow()
    assert(run2 == Seq(Seq("r,s")), run2.toString)
  }

  test("data-update guard: a COW rewrite under an append-only stream fails loudly; ignoreChanges opts in") {
    val root = tempDir("updguard")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    val dest = s"$root/ns/t.fimi"
    val sp = spark
    import sp.implicits._
    Seq("a b", "x y").toDF("raw")
      .select(split(col("raw"), " ").as("items")).coalesce(1)
      .write.format("fimi").option("snapshots", "true")
      .mode("overwrite").save(dest)
    val ck = s"${tempDir("updguard-ck")}/ck"
    def drain(ignore: Boolean): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val r = spark.readStream.format("fimi")
      val q = (if (ignore) r.option("ignoreChanges", "true") else r).load(dest)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = bdf.collect().map(_.getSeq[String](1).mkString(","))
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.synchronized(buf.toSeq).sorted
    }
    assert(drain(ignore = false) == Seq("a,b", "x,y"))
    // a COW DELETE rewrites the delivered file (the survivor re-lands
    // in a fresh file; the old file leaves the latest listing)
    spark.conf.set("spark.sql.catalog.graft_ug", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ug.root", root)
    spark.sql("DELETE FROM graft_ug.ns.t WHERE array_contains(items, 'a')")
    // the resumed append-only stream must FAIL (streaming the rewritten
    // file would duplicate the survivor and silently drop the delete)
    val e = intercept[Throwable] { drain(ignore = false) }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(e).contains("already-delivered"), messages(e).take(500))
    // ignoreChanges accepts re-delivery: the rewritten file streams as
    // an append (the survivor row again — documented duplicate)
    assert(drain(ignore = true) == Seq("x,y"))
  }

  test("streams ride through OPTIMIZE: compaction-rewritten content is never re-delivered, appends keep flowing") {
    val dest = s"${tempDir("optride")}/t.fimi"
    val sp = spark
    import sp.implicits._
    def append(lines: String*): Unit =
      lines.toSeq.toDF("raw").select(split(col("raw"), " ").as("items")).coalesce(1)
        .write.format("fimi").option("snapshots", "true").mode("append").save(dest)
    append("a b"); append("b c"); append("c d") // 3 one-file commits
    val ck = s"${tempDir("optride-ck")}/ck"
    def drain(): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = spark.readStream.format("fimi").load(dest)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = bdf.collect().map(_.getSeq[String](1).mkString(","))
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.synchronized(buf.toSeq).sorted
    }
    assert(drain() == Seq("a,b", "b,c", "c,d"))
    // compaction rewrites all delivered bytes into one file — content
    // identical, so the resumed stream must deliver NOTHING new and
    // must not fail (the rewritten file is accounted, not re-streamed)
    assert(graft.sources.fimi.FimiCompact.compact(spark, dest) == 1)
    assert(drain().isEmpty, "compacted content was re-delivered")
    // appends after the compaction keep flowing
    append("d e")
    assert(drain() == Seq("d,e"))
    // a second compaction (sources: the first compaction's output plus
    // the delivered append) accounts through the chain
    assert(graft.sources.fimi.FimiCompact.compact(spark, dest) == 1)
    assert(drain().isEmpty, "chained compaction broke the accounting")
    // and the stream is still live afterwards
    append("e f")
    assert(drain() == Seq("e,f"))
    // VACUUM expiring the ridden-through optimize commits must NOT kill
    // the stream: the classification is durable in the checkpoint, not
    // re-derived from the (now vacuumed) manifests
    val table = new org.apache.hadoop.fs.Path(dest)
    graft.sources.fimi.FimiLog.vacuum(
      table.getFileSystem(spark.sessionState.newHadoopConf()), table, retainLast = 1)
    append("f g")
    assert(drain() == Seq("f,g"), "vacuum of ridden-through optimize commits broke the stream")
  }

  test("an ignoreChanges ride-through is durable: forgiven files persist as acct markers and survive restart + vacuum") {
    val root = tempDir("forgive")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    val dest = s"$root/ns/t.fimi"
    val sp = spark
    import sp.implicits._
    Seq("a b", "x y").toDF("raw")
      .select(split(col("raw"), " ").as("items")).coalesce(1)
      .write.format("fimi").option("snapshots", "true")
      .mode("overwrite").save(dest)
    val ckRoot = tempDir("forgive-ck")
    val ck = s"$ckRoot/ck"
    def drain(): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = spark.readStream.format("fimi").option("ignoreChanges", "true").load(dest)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = bdf.collect().map(_.getSeq[String](1).mkString(","))
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.synchronized(buf.toSeq).sorted
    }
    assert(drain() == Seq("a,b", "x,y"))
    spark.conf.set("spark.sql.catalog.graft_fg", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_fg.root", root)
    spark.sql("DELETE FROM graft_fg.ns.t WHERE array_contains(items, 'a')") // v1: COW rewrite
    // the opt-in forgives the rewrite (survivor re-delivered, documented)
    assert(drain() == Seq("x,y"))
    // the forgiveness is DURABLE: an acct increment carries an F marker
    // (without it gone.diff(explained) never empties and every later
    // trigger repeats the full-history classification walk)
    def acctLines(): Seq[String] = {
      val ckDir = java.nio.file.Paths.get(ckRoot)
      val accts = java.nio.file.Files.walk(ckDir).iterator()
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (accts.hasNext) {
        val p = accts.next()
        if (p.getFileName.toString.matches("acct-\\d+"))
          out ++= new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            .split("\n").filter(_.nonEmpty)
      }
      out.toSeq
    }
    assert(acctLines().exists(_.startsWith("F ")),
      s"forgiven file not persisted: ${acctLines()}")
    // vacuum expires the pre-DML history the walk would need; a fresh
    // stream (cold restore from the checkpoint) must stay clean and
    // deliver nothing new — the durable F set, not re-derivation,
    // carries the classification
    val table = new org.apache.hadoop.fs.Path(dest)
    graft.sources.fimi.FimiLog.vacuum(
      table.getFileSystem(spark.sessionState.newHadoopConf()), table, retainLast = 1)
    graft.sources.fimi.FimiLog.clearCache() // simulate a cold driver JVM
    assert(drain().isEmpty, "restarted forgiven stream re-delivered or failed")
    // and later appends keep flowing
    Seq("p q").toDF("raw").select(split(col("raw"), " ").as("items")).coalesce(1)
      .write.format("fimi").option("snapshots", "true").mode("append").save(dest)
    assert(drain() == Seq("p,q"))
  }

  test("acct persistence retries past a sequence collision instead of dropping the classification") {
    val dir = tempDir("acctrace")
    writeLines(dir, "a.dat", Seq("x y"))
    val ck = s"${tempDir("acctrace-ck")}/src0"
    val kvs = graft.sources.fimi.FimiTable.confKVs(
      spark.sessionState.newHadoopConf())
    val stream = new graft.sources.fimi.FimiMicroBatchStream(
      Seq(dir), kvs, graft.sources.fimi.FimiTable.Schema, "\\s+", ck)
    // a FOREIGN acct-0 lands AFTER the stream's restore (a concurrent
    // writer / crashed attempt): the keep-if-exists protocol would
    // silently drop the increment below — the fix retries at acct-1
    val logDir = java.nio.file.Paths.get(ck, "graft-fimi-log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.write(logDir.resolve("acct-0"),
      "E foreign\n".getBytes("UTF-8"))
    stream.persistAcct(Seq("/data/gone1"), Seq("/data/kept1"), Seq("/data/forg1"))
    def lines(n: Int): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(
        logDir.resolve(s"acct-$n")), "UTF-8").split("\n").filter(_.nonEmpty).toSeq
    assert(lines(0) == Seq("E foreign"), "foreign increment must stay intact")
    assert(lines(1) == Seq("E /data/gone1", "S /data/kept1", "F /data/forg1"),
      s"collided increment must land at the next sequence: ${lines(1)}")
    // the next increment advances normally
    stream.persistAcct(Seq("/data/gone2"), Nil)
    assert(lines(2) == Seq("E /data/gone2"), lines(2).toString)
  }

  test("ignoreChanges never re-delivers proven-safe compaction output") {
    val dest = s"${tempDir("ignopt")}/t.fimi"
    val sp = spark
    import sp.implicits._
    def append(lines: String*): Unit =
      lines.toSeq.toDF("raw").select(split(col("raw"), " ").as("items")).coalesce(1)
        .write.format("fimi").option("snapshots", "true").mode("append").save(dest)
    append("a b"); append("b c")
    val ck = s"${tempDir("ignopt-ck")}/ck"
    def drain(): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = spark.readStream.format("fimi").option("ignoreChanges", "true").load(dest)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = bdf.collect().map(_.getSeq[String](1).mkString(","))
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.synchronized(buf.toSeq).sorted
    }
    assert(drain() == Seq("a,b", "b,c"))
    // the opt-in forgives genuine data changes; it must NOT disable the
    // OPTIMIZE ride-through and duplicate the whole compacted table
    assert(graft.sources.fimi.FimiCompact.compact(spark, dest) == 1)
    assert(drain().isEmpty, "ignoreChanges re-delivered compaction output")
  }

  test("data skipping: evolved-column predicates prune whole files via manifest stats, tids unchanged") {
    val root = tempDir("skip")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "ns"))
    val dest = s"$root/ns/t.fimi"
    val sp = spark
    import sp.implicits._
    Seq("a b").toDF("raw").select(split(col("raw"), " ").as("items")).coalesce(1)
      .write.format("fimi").option("snapshots", "true").mode("overwrite").save(dest)
    spark.conf.set("spark.sql.catalog.graft_sk", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sk.root", root)
    val t = "graft_sk.ns.t"
    spark.sql(s"ALTER TABLE $t ADD COLUMN q BIGINT")
    spark.sql(s"ALTER TABLE $t ADD COLUMN src STRING")
    // four one-row commits (one file each) with DISJOINT q ranges
    spark.sql(s"INSERT INTO $t VALUES (1L, array('c'), 1L, 'web')")
    spark.sql(s"INSERT INTO $t VALUES (3L, array('e'), 5L, 'books')")
    spark.sql(s"INSERT INTO $t VALUES (4L, array('f'), 6L, NULL)")
    spark.sql(s"INSERT INTO $t VALUES (5L, array('g'), 9L, 'code')")
    def parts(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
    val all = spark.table(t)
    assert(parts(all) == 5, s"expected 5 files, got ${parts(all)}")
    // range predicate: only the covering file plans
    val hi = all.filter(col("q") > 8L)
    assert(parts(hi) == 1, s"q>8 planned ${parts(hi)}")
    assert(hi.select("items").collect().map(_.getSeq[String](0).mkString(",")).toSeq
      == Seq("g"))
    // equality inside a gap between ranges: zero files
    assert(parts(all.filter(col("q") === 4L)) == 0)
    // the pre-evolution file is all-null for src: IS NULL keeps it (and
    // the explicit-NULL file); IS NOT NULL prunes both
    assert(parts(all.filter(col("src").isNull)) == 2)
    assert(all.filter(col("src").isNull).count() == 2) // 'a b' + the NULL row
    assert(parts(all.filter(col("q").isNotNull)) == 4)
    // string stats prune too
    val web = all.filter(col("src") === "web")
    assert(parts(web) == 1, s"src='web' planned ${parts(web)}")
    // plan surfaces the pushed stats filters
    assert(web.queryExecution.executedPlan.toString.contains("statsFilters="),
      "pushed stats filters missing from the plan")
    // skipping must never re-key tids: the kept file's tids equal the
    // unpruned read's tids for the same rows
    val unpruned = all.select(col("tid"), col("items")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).mkString(","))).toMap
    val pruned = hi.select(col("tid"), col("items")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).mkString(","))).toSeq
    assert(pruned.forall { case (tid, b) => unpruned.get(tid).contains(b) },
      "stats skipping re-keyed tids")
    // OPTIMIZE merges member stats into the bin (rows/nulls sum,
    // min/max widen); skipping keeps working on the compacted table
    assert(graft.sources.fimi.FimiCompact.compact(spark, dest) == 1)
    val afterOpt = spark.table(t)
    assert(parts(afterOpt) == 1)
    assert(parts(afterOpt.filter(col("q") > 100L)) == 0,
      "merged bin stats must still prune an out-of-range predicate")
    assert(afterOpt.filter(col("q") > 8L).count() == 1)
    // correctness is never affected: residual filters re-evaluate
    assert(afterOpt.filter(col("q") === 4L).count() == 0)
    // the stats ledger is SELECT-able through the files metadata table
    // (the audit affordance: why did/didn't a predicate prune?)
    val ledger = spark.sql(
      "SELECT stats FROM graft_sk.ns.t.files WHERE stats IS NOT NULL")
      .collect().map(_.getString(0)).toSeq
    assert(ledger.size == 1 && ledger.head.contains("\"min\"") &&
      ledger.head.contains("\"q\""), ledger.toString)
  }

  test("storage-partitioned join: two bucketed fimi tables join with ZERO shuffle exchanges") {
    val sp = spark
    import sp.implicits._
    val root = tempDir("spj")
    new java.io.File(s"$root/ns").mkdirs()
    // two co-bucketed tables sharing the tid key space
    val ta = (0L until 400L).map(t => (t, Seq(s"a${t % 7}", s"a${t % 3}")))
      .toDF("tid", "items")
    val tb = (0L until 400L by 2).map(t => (t, Seq(s"lbl${t % 5}")))
      .toDF("tid", "items")
    ta.write.format("fimi").option("buckets", "4").mode("overwrite")
      .save(s"$root/ns/ta.fimib")
    tb.write.format("fimi").option("buckets", "4").mode("overwrite")
      .save(s"$root/ns/tb.fimib")
    val scoped = Seq(
      "spark.sql.catalog.graftspj" -> "graft.catalog.GraftCatalog",
      "spark.sql.catalog.graftspj.root" -> root,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // round-trip: the bucketed layout preserves explicit tids exactly
      val back = spark.table("graftspj.ns.ta")
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      val want = ta.collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).distinct.sorted.toList).toMap
      assert(back == want)
      // the join: co-partitioned by the catalog's bucket(4, tid) on both
      // sides -> storage-partitioned join, no exchange of either side
      val joined = spark.table("graftspj.ns.ta").select(col("tid"),
          col("items").as("basket"))
        .join(spark.table("graftspj.ns.tb").select(col("tid"),
          col("items").as("labels")), "tid")
      val rows = joined.collect()
      assert(rows.length == 200)
      val ops = org.apache.spark.sql.graft.Bridge
        .runtimeOps(joined.queryExecution.executedPlan)
      val shuffles = ops.count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      assert(shuffles == 0,
        s"SPJ did not engage — $shuffles shuffle(s) in:\n" +
          ops.map(_.nodeName).mkString(" | "))
      // and the result matches the plain dataframe join
      val plainCount = ta.join(tb.select(col("tid")), "tid").count()
      assert(rows.length.toLong == plainCount)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed layout guards: append N-mismatch refused, shrink clears stale dirs, optionless read errors") {
    val sp = spark
    import sp.implicits._
    val dest = tempDir("guards") + "/t.fimib"
    val rows = (0L until 100L).map(t => (t, Seq(s"i${t % 5}"))).toDF("tid", "items")
    rows.write.format("fimi").option("buckets", "8").mode("overwrite").save(dest)
    // append with a different N would corrupt the declared layout
    val ex = intercept[Exception] {
      rows.write.format("fimi").option("buckets", "4").mode("append").save(dest)
    }
    assert(ex.getMessage.contains("buckets=4") || ex.getCause != null)
    // shrinking overwrite clears the stale high bucket dirs
    rows.write.format("fimi").option("buckets", "4").mode("overwrite").save(dest)
    assert(spark.read.format("fimi").option("buckets", "4").load(dest).count() == 100)
    (4 until 8).foreach { k =>
      val bdir = new java.io.File(dest, s"bucket=$k")
      val live = Option(bdir.listFiles()).getOrElse(Array.empty)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(live.isEmpty, s"stale files survive in bucket=$k")
    }
    // growing back to 8 must not resurrect anything
    rows.write.format("fimi").option("buckets", "8").mode("overwrite").save(dest)
    assert(spark.read.format("fimi").option("buckets", "8").load(dest).count() == 100)
    // an optionless read of a bucketed dir fails with the remedy, never
    // returns a silently empty frame
    val ex2 = intercept[Exception] {
      spark.read.format("fimi").load(dest).count()
    }
    assert(ex2.getMessage.contains("bucketed") ||
      String.valueOf(ex2.getCause).contains("bucketed"), s"got $ex2")
  }

  test("flat overwrite truncates native .dat inputs; compressed tids ignore byte-range pruning") {
    val sp = spark
    import sp.implicits._
    // overwrite of a dir holding a native .dat must replace it entirely
    val dir = tempDir("truncnative")
    writeLines(dir, "retail.dat", Seq("x y", "y z"))
    Seq((0L, Seq("a", "b"))).toDF("tid", "items")
      .write.format("fimi").mode("overwrite").save(dir)
    val items = readFimi(dir).selectExpr("explode(items) AS i")
      .collect().map(_.getString(0)).toSet
    assert(items == Set("a", "b"), s"old generation visible: $items")
    // compressed file: line-counter tids exceed the compressed byte
    // length; a tid filter above that length must still return rows
    val cdir = tempDir("gztid")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$cdir/many.dat.gz"))
    gz.write(Array.fill(50000)("w").mkString("", "\n", "\n").getBytes("UTF-8"))
    gz.close()
    // premise: line count (50000) far exceeds the compressed byte length
    assert(new java.io.File(s"$cdir/many.dat.gz").length() < 10000)
    val high = readFimi(cdir).filter(col("tid") >= 40000L).count()
    assert(high == 10000L, s"pruning dropped compressed rows: $high")
  }

  test("streaming write: readStream→writeStream is exactly-once across restart AND a replayed epoch") {
    val src = tempDir("swrite-src")
    val dest = tempDir("swrite-dest") + "/sink"
    val ck = tempDir("swrite-ck") + "/ck"
    // the engine's per-session checkpoint-file cache would flag our
    // hand-deleted commit marker as a concurrent writer; a genuine
    // crash-replay starts a fresh driver with no such cache — disable
    // it so the replay below exercises the sink, not the cache
    val cacheKey = "spark.sql.streaming.metadataCache.enabled"
    val prevCache = spark.conf.getOption(cacheKey)
    spark.conf.set(cacheKey, "false")
    def run(): Unit = {
      val q = spark.readStream.format("fimi").load(src)
        .select(col("tid"), col("items"))
        .writeStream.format("fimi").outputMode("append")
        .option("checkpointLocation", ck)
        .start(dest)
      try q.processAllAvailable() finally q.stop()
    }
    def sinkBaskets(): Seq[String] =
      spark.read.format("fimi").load(dest)
        .select(concat_ws(",", col("items")).as("b"))
        .collect().map(_.getString(0)).sorted.toSeq
    def ckState(tag: String): Unit = {
      def ls(d: String) = Option(new java.io.File(ck, d).listFiles())
        .getOrElse(Array.empty).map(_.getName).sorted.mkString(",")
      info(s"[$tag] offsets={${ls("offsets")}} commits={${ls("commits")}}")
    }
    writeLines(src, "a.dat", Seq("x y", "y z"))
    run()
    ckState("after run1")
    assert(sinkBaskets() == Seq("x,y", "y,z"))
    // file lands while the query is DOWN; restart emits only the delta
    writeLines(src, "b.dat", Seq("p q"))
    run()
    ckState("after run2")
    assert(sinkBaskets() == Seq("p,q", "x,y", "y,z"))
    // FORCED EPOCH REPLAY — the exactly-once failure mode the sink must
    // absorb: deleting the engine's commit marker for the last batch
    // makes the restarted query re-execute that epoch and re-commit it
    // to the sink; the manifest's #epoch ledger must drop the replay.
    val commits = new java.io.File(ck, "commits").listFiles()
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
    assert(commits.nonEmpty, "no engine commit markers written")
    // delete the checksum sibling too: a genuine crash wrote neither,
    // and a stale local-FS .crc makes the replayed commit's re-create
    // throw FileAlreadyExists before the sink is even reached
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(commits.last.delete())
    run()
    assert(sinkBaskets() == Seq("p,q", "x,y", "y,z"),
      "replayed epoch duplicated rows")
    // nothing new → restart emits nothing, sink unchanged
    run()
    assert(sinkBaskets() == Seq("p,q", "x,y", "y,z"))
    // no staging residue, and every data file is manifest-accounted
    val leftovers = new java.io.File(dest).listFiles()
      .filter(_.getName.startsWith(".graft-streaming"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val manifested = graft.sources.fimi.FimiLog
      .resolve(fs, new org.apache.hadoop.fs.Path(dest), None).toSet
    val onDisk = new java.io.File(dest).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    assert(onDisk == manifested, s"disk $onDisk vs manifest $manifested")
    prevCache match {
      case Some(v) => spark.conf.set(cacheKey, v)
      case None => spark.conf.unset(cacheKey)
    }
  }

  test("snapshot log: versionAsOf time travel; truncate keeps old generations; staged writes invisible") {
    val sp = spark
    import sp.implicits._
    val dest = tempDir("snap") + "/t"
    def baskets(df: DataFrame): Seq[String] =
      df.select(concat_ws(",", col("items")).as("b"))
        .collect().map(_.getString(0)).sorted.toSeq
    def readV(v: Option[Long]): DataFrame =
      v.foldLeft(spark.read.format("fimi"))((r, x) => r.option("versionAsOf", x))
        .load(dest)
    // v0: overwrite with snapshots on; v1: append; v2: overwrite (reset)
    Seq((0L, Seq("a", "b"))).toDF("tid", "items")
      .write.format("fimi").option("snapshots", "true").mode("overwrite").save(dest)
    Seq((1L, Seq("c", "d"))).toDF("tid", "items")
      .write.format("fimi").mode("append").save(dest)
    Seq((2L, Seq("e"))).toDF("tid", "items")
      .write.format("fimi").mode("overwrite").save(dest)
    assert(baskets(readV(Some(0L))) == Seq("a,b"))
    assert(baskets(readV(Some(1L))) == Seq("a,b", "c,d"))
    assert(baskets(readV(Some(2L))) == Seq("e"))
    assert(baskets(readV(None)) == Seq("e"), "latest must be the reset generation")
    // truncate kept generation-0/1 files on disk (time travel depends on it)
    assert(baskets(readV(Some(1L))) == Seq("a,b", "c,d"),
      "old generation unreadable after truncate")
    // an unknown version fails loudly, never reads as empty
    val ex = intercept[Exception] { readV(Some(99L)).count() }
    assert(ex.getMessage.contains("versionAsOf") ||
      String.valueOf(ex.getCause).contains("versionAsOf"), s"got $ex")
    // a CONCURRENT STAGED WRITE (files present, manifest not yet
    // committed) is invisible: a reader's snapshot only moves on commit
    val staged = new java.io.File(dest, ".graft-staging-concurrent")
    staged.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staged.toString, "part-00000-x.dat"),
      "q r\n".getBytes("UTF-8"))
    // and even a DATA file dropped into the dir without a manifest entry
    // (the crash-between-rename-and-manifest orphan) stays invisible
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dest, "part-orphan.dat"),
      "s t\n".getBytes("UTF-8"))
    assert(baskets(readV(None)) == Seq("e"), "uncommitted write leaked into a snapshot read")
  }

  test("compaction: bin-packs the latest generation, preserves content AND order, keeps time travel, handles missing trailing newlines, no-ops when already compact") {
    val sp = spark
    import sp.implicits._
    val dest = tempDir("compact") + "/t"
    def baskets(df: DataFrame): Seq[String] =
      df.orderBy("tid").select(concat_ws(",", col("items")).as("b"))
        .collect().map(_.getString(0)).toSeq
    // gen 0: a native file WITHOUT a trailing newline, adopted by the
    // first snapshot commit; then three appended epochs → 4+ small files
    new java.io.File(dest).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dest, "native.dat"),
      "a b\nc d".getBytes("UTF-8")) // no trailing \n — boundary hazard
    Seq((0L, Seq("e", "f"))).toDF("tid", "items")
      .write.format("fimi").option("snapshots", "true").mode("append").save(dest)
    Seq((1L, Seq("g"))).toDF("tid", "items")
      .write.format("fimi").mode("append").save(dest)
    Seq((2L, Seq("h", "i"))).toDF("tid", "items")
      .write.format("fimi").mode("append").save(dest)
    val before = baskets(spark.read.format("fimi").load(dest))
    val filesBefore = graft.sources.fimi.FimiLog.resolve(
      new org.apache.hadoop.fs.Path(dest).getFileSystem(
        spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(dest), None)
    assert(filesBefore.size >= 4, s"fixture under-filed: $filesBefore")
    val nOut = graft.sources.fimi.FimiCompact.compact(spark, dest)
    assert(nOut == 1, s"expected one compacted file, got $nOut")
    val after = spark.read.format("fimi").load(dest)
    // content AND global order preserved (order-preserving concatenation)
    assert(baskets(after) == before, "compaction changed content or order")
    // the new generation really is one file
    val fs = new org.apache.hadoop.fs.Path(dest).getFileSystem(
      spark.sessionState.newHadoopConf())
    val filesAfter = graft.sources.fimi.FimiLog.resolve(
      fs, new org.apache.hadoop.fs.Path(dest), None)
    assert(filesAfter.size == 1 && filesAfter.head.startsWith("compact-"),
      s"got $filesAfter")
    // time travel across the compaction: every pre-compaction version
    // still resolves to its own files and content
    val v0 = spark.read.format("fimi").option("versionAsOf", "0").load(dest)
    assert(baskets(v0) == Seq("a,b", "c,d", "e,f"),
      "compaction broke versionAsOf=0")
    // idempotence: a second compact finds nothing to do and commits nothing
    val vBefore = graft.sources.fimi.FimiLog.latestVersion(
      fs, new org.apache.hadoop.fs.Path(dest))
    assert(graft.sources.fimi.FimiCompact.compact(spark, dest) == 0)
    val vAfter = graft.sources.fimi.FimiLog.latestVersion(
      fs, new org.apache.hadoop.fs.Path(dest))
    assert(vBefore == vAfter, "no-op compaction must not commit a version")
    // a small targetBytes splits into multiple bins, still content-exact
    val dest2 = tempDir("compact2") + "/t"
    (0 until 12).foreach { i =>
      Seq((i.toLong, Seq(s"x$i", "y"))).toDF("tid", "items")
        .write.format("fimi")
        .option("snapshots", "true")
        .mode(if (i == 0) "overwrite" else "append").save(dest2)
    }
    val before2 = baskets(spark.read.format("fimi").load(dest2))
    val n2 = graft.sources.fimi.FimiCompact.compact(spark, dest2, targetBytes = 16L)
    assert(n2 > 1 && n2 < 12, s"expected multi-bin compaction, got $n2")
    assert(baskets(spark.read.format("fimi").load(dest2)) == before2)
  }

  test("session catalog surface: CREATE TABLE ... USING fimi, then SQL over it") {
    val dir = tempDir("catalog")
    writeLines(dir, "tx.dat", Seq("a b", "b c", "a b c"))
    spark.sql("DROP TABLE IF EXISTS fimi_tx")
    spark.sql(s"CREATE TABLE fimi_tx USING fimi OPTIONS (path '$dir')")
    try {
      val n = spark.sql(
        "SELECT item, count(*) AS freq FROM (SELECT explode(items) AS item FROM fimi_tx) GROUP BY item")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(n == Map("a" -> 2L, "b" -> 3L, "c" -> 2L))
    } finally spark.sql("DROP TABLE IF EXISTS fimi_tx")
  }
}
