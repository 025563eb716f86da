package graft

import graft.expressions.GraftExtensions
import graft.sources.FimiSource
import org.apache.spark.sql.functions._

/** Driver-contract invariants and source round-trips. */
class ContractSpec extends SparkSpec {

  test("every oracle key has a query; no dangling oracles") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("oracle coverage: only the declared sketch/LSH keys are oracle-free") {
    val oracleFree = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(oracleFree == Set("rel_agg_approx", "rel_profile_approx",
      "rel_agg_sketch_merge", "llm_minhash_neardup", "llm_simhash",
      "fpm_fpgrowth_full", "fpm_prefixspan_full", "llm_ann_ivf_kmeans",
      "llm_simhash_neardup", "fpm_assoc_rules_full", "llm_dedup_clusters_lsh",
      "stream_neardup", "llm_dedup_keep_best_lsh", "llm_bloom_prefilter", "llm_ann_pq",
      "llm_semdedup", "llm_knn_graph_ivf", "llm_quality_quantile_approx",
      "fpm_kcore", "llm_bpe_train", "llm_bpe_encode"),
      s"unexpected oracle-free keys: $oracleFree")
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has unique, non-empty column names") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, sf).columns
      assert(cols.nonEmpty && cols.distinct.length == cols.length,
        s"$name columns: ${cols.mkString(",")}")
      assert(cols.forall(_.nonEmpty), s"$name has empty column name")
    }
  }

  test("scale-posture plan shapes: column pruning, broadcast dim, no shuffle before banding") {
    // chunking reads only the two columns it needs
    val chunkScan = operators.LlmOps.chunk(spark, sf)
      .queryExecution.executedPlan.toString
    assert(chunkScan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"chunk scan not pruned:\n$chunkScan")
    // stream-static enrichment broadcasts the dimension side
    val ssj = streaming.Streaming.streamStaticJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ssj.contains("BroadcastHashJoin"), s"dim not broadcast:\n$ssj")
    // heavy hitters: the one-row totals frame broadcasts into the
    // summary side (the summary shuffles ONCE, on the shard key, inside
    // MapGroups — the filter join must not add a second exchange to it)
    // and the totals side prunes to the single column it aggregates
    val hh = streaming.Streaming.streamHeavyhitters(spark, sf)
      .queryExecution.executedPlan.toString
    assert(hh.contains("BroadcastNestedLoopJoin"), s"totals not broadcast:\n$hh")
    assert(hh.contains("ReadSchema: struct<user_id:bigint>"),
      s"totals scan not pruned to user_id:\n$hh")
    // grouping sets plan expands, not multi-scans: exactly one orders scan
    val gs = operators.SqlSurface.queries("sql_grouping_sets")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(gs.contains("Expand"), s"no Expand in grouping-sets plan:\n$gs")
    // Q6 is a pure pushed-filter scan-aggregate: predicates reach parquet,
    // no join anywhere in the plan
    val q6 = operators.SqlSurface.queries("sql_tpch_q6")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q6.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"Q6 filters not pushed:\n$q6")
    assert(!q6.contains("Join"), s"Q6 plan has a join:\n$q6")
    // Q18's IN-subquery must plan as a (semi) join against the
    // re-aggregated fact, not a per-row subquery
    val q18 = operators.SqlSurface.queries("sql_tpch_q18")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q18.contains("LeftSemi"), s"Q18 IN-subquery not decorrelated:\n$q18")
    // unpivot plans as a one-pass Expand, not a multi-scan union
    val up = operators.Relational.relUnpivot(spark, sf)
      .queryExecution.executedPlan.toString
    assert(up.contains("Expand"), s"unpivot not Expand-based:\n$up")
    assert(up.split("FileScan").length - 1 == 1, s"unpivot re-scans:\n$up")
    // winnowing's fingerprint selection is projection + generate off the
    // scan: the only exchanges are the per-doc distinct and the final
    // presentation sort — nothing shuffles before the explode, and the
    // hash array materializes once per document (Generate barrier)
    val win = operators.LlmOps.winnowing(spark, sf)
      .queryExecution.executedPlan.toString
    assert(win.split("Exchange").length - 1 <= 2,
      s"winnowing has extra shuffles:\n$win")
    assert(win.contains("Generate explode"),
      s"winnowing window positions not exploded (projection-collapse risk):\n$win")
    assert(win.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"winnowing scan not pruned:\n$win")
    // importance weights broadcast the vocabulary LM table; the probe
    // side never shuffles for that join
    val iw = operators.LlmOps.importanceWeights(spark, sf)
      .queryExecution.executedPlan.toString
    assert(iw.contains("BroadcastHashJoin"), s"vocab LM not broadcast:\n$iw")
    // high-utility pair mining reads exactly the three lineitem columns
    // its utility table needs
    val hui = operators.Mining.fpmHuiPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(hui.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_extendedprice:double>"),
      s"hui scan not pruned:\n$hui")
    // two distinct aggregates over one input plan as one Expand feeding
    // a shared aggregate, not as self-joined single-distinct scans
    val md = operators.Relational.relAggMultidistinct(spark, sf)
      .queryExecution.executedPlan.toString
    assert(md.contains("Expand"), s"multi-distinct not Expand-planned:\n$md")
    assert(md.split("FileScan").length - 1 == 1, s"multi-distinct re-scans:\n$md")
    // profile: one-pass multi-column profiling — a SINGLE orders scan
    // feeds the Expand-planned multi-distinct wide aggregate; four
    // UNION'd per-column scans (the oracle's formulation) would defeat
    // the operator's point. Since the r19 split of the min/max fold out
    // of the hot aggregate (SortAggregate-fallback fix), the two
    // aggregate branches share the repartition exchange via AQE's
    // runtime stage reuse, so the single-scan property is asserted on
    // the EXECUTED adaptive plan (runtimeOps), not the static text; the
    // hot count+distinct chain must plan HashAggregate, never
    // SortAggregate.
    val pfDf = operators.Relational.relProfile(spark, sf)
    pfDf.collect()
    val pfOps = org.apache.spark.sql.graft.Bridge.runtimeOps(
      pfDf.queryExecution.executedPlan)
    assert(pfOps.exists(_.nodeName.contains("Expand")),
      s"profile not Expand-planned:\n${pfOps.map(_.nodeName)}")
    assert(pfOps.count(_.isInstanceOf[
      org.apache.spark.sql.execution.FileSourceScanExec]) == 1,
      s"profile re-scans:\n${pfOps.map(_.nodeName)}")
    assert(pfOps.exists(_.nodeName.contains("ReusedExchange")),
      s"profile branches do not share the scan exchange:\n${pfOps.map(_.nodeName)}")
    assert(!pfOps.exists(p => p.nodeName.contains("SortAggregate") &&
      p.toString.contains("count(")),
      s"profile distinct chain fell back to SortAggregate:\n${pfOps.map(_.nodeName)}")
    // retrieval join: the probes×k hit table broadcasts — the corpus
    // metadata scan must not shuffle for the join
    val rj = operators.LlmOps.retrievalJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(rj.contains("BroadcastHashJoin"), s"retrieval hits not broadcast:\n$rj")
    // co-occurrence: the vocab cap rides a broadcast semi-join ahead of
    // the pair self-join (never a shuffled semi)
    val co = operators.LlmOps.cooccurrence(spark, sf)
      .queryExecution.executedPlan.toString
    assert(co.contains("BroadcastHashJoin") && co.contains("LeftSemi"),
      s"cooccurrence vocab cap not a broadcast semi-join:\n$co")
    // grouping-id cube still plans as one Expand pass over one scan
    val gi = operators.Relational.relAggGroupingId(spark, sf)
      .queryExecution.executedPlan.toString
    assert(gi.contains("Expand"), s"grouping-id cube not Expand-planned:\n$gi")
    assert(gi.split("FileScan").length - 1 == 1, s"grouping-id re-scans:\n$gi")
  }

  test("udf_sql_function inlines into the calling plan (no function node survives analysis)") {
    val opt = functions.Udfs.udfSqlFunction(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("CASE WHEN"), opt)
    assert(!opt.toLowerCase.contains("sqlfunction"), opt)
    // and unlike a Scala UDF, nothing codegen-opaque is introduced
    val phys = functions.Udfs.udfSqlFunction(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("ScalaUDF"), phys)
  }

  test("sql_recursive_cte executes through UnionLoopExec (genuine recursion, not an unrolled union)") {
    val ops = org.apache.spark.sql.graft.Bridge.runtimeOps(
      SparkEntry.queries("sql_recursive_cte")(spark, sf).queryExecution.executedPlan)
    assert(ops.exists(_.nodeName.contains("UnionLoop")),
      ops.map(_.nodeName).mkString(" | "))
    // the recursive side is the bounded 12-row ladder: the orders scan
    // must sit under a broadcast join, never a shuffle of the fact side
    // keyed by the ladder
    val rows = SparkEntry.queries("sql_recursive_cte")(spark, sf).collect()
    assert(rows.length == 12)
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("round-11 second-wave plan gates: sketch two-phase, TWS operator, pipe ≡ ANSI shape") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    def ops(name: String): Seq[SparkPlan] =
      org.apache.spark.sql.graft.Bridge.runtimeOps(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
    // approx_top_k: exactly two sketch-exchange hops (shard partials →
    // global combine) over ONE scan; raw rows never shuffle past phase 1
    val topk = ops("rel_agg_approx_topk")
    assert(topk.count(_.isInstanceOf[FileSourceScanExec]) == 1)
    assert(topk.count(_.isInstanceOf[Exchange]) <= 3,
      topk.map(_.nodeName).mkString(" | "))
    // the declared TWS key runs the REAL operator in batch
    val tws = ops("stream_transform_with_state")
    assert(tws.exists(_.nodeName.contains("TransformWithState")),
      tws.map(_.nodeName).mkString(" | "))
    // pipe syntax is parser sugar: the pipe chain and its ANSI oracle
    // restatement must optimize to the same physical operator multiset
    def shapeOf(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
      df.collect()
      org.apache.spark.sql.graft.Bridge.runtimeOps(df.queryExecution.executedPlan)
        .map(_.nodeName.replaceAll("\\(.*\\)", ""))
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    val pipe = shapeOf(SparkEntry.queries("sql_pipe_syntax")(spark, sf))
    val ansi = shapeOf(spark.sql(SparkEntry.oracleSql("sql_pipe_syntax")))
    assert(pipe == ansi, s"pipe plan diverged from ANSI: $pipe vs $ansi")
  }

  test("round-11 third-wave plan gates: running-distinct scans pruned, window fed by aggregates") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("rel_running_distinct")(spark, sf)
    df.collect()
    val ops = org.apache.spark.sql.graft.Bridge.runtimeOps(df.queryExecution.executedPlan)
    // every events scan must be pruned to the two live columns — a scan
    // reading the full row at 100 TB is the failure this key exists to avoid
    val scans = ops.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    scans.foreach { sc =>
      assert(sc.requiredSchema.fields.length <= 2,
        s"unpruned events scan: ${sc.requiredSchema.catalogString}")
    }
    // the unpartitioned prefix-sum window must exist, and the frame that
    // feeds it must already be aggregated (calendar-bounded), never raw rows
    assert(ops.exists(_.nodeName.contains("Window")), ops.map(_.nodeName).mkString(" | "))
    assert(ops.count(_.nodeName.contains("HashAggregate")) >= 4, // 2 aggs × partial/final
      ops.map(_.nodeName).mkString(" | "))
  }

  test("round-13 gate: Tables.fanOut is a literal no-op on inputs that already scan wide") {
    // The row-group parallelize valve's 100 TB claim is identity, not
    // speed: on an input whose scan already yields >= cores partitions
    // it must return the SAME DataFrame (no exchange, byte-identical
    // plan). On the one-row-group fixture it must add exactly one
    // exchange partitioned to the core count on the requested keys.
    // r13 ADVICE: derive the wide fixture's width from the session's
    // own parallelism (a hard-coded repartition(8) silently narrows if
    // the test master ever rises above local[8]) and clean up the dir.
    val tmp = "/tmp/graft_fanout_wide"
    val cores = spark.sparkContext.defaultParallelism
    try {
      Tables.load(spark, sf, "documents").select("doc_id", "text")
        .repartition(cores * 2).write.mode("overwrite").parquet(tmp)
      val wide = spark.read.parquet(tmp)
      assert(wide.rdd.getNumPartitions >= cores)
      assert(Tables.fanOut(wide, col("doc_id")) eq wide,
        "fanOut must return the identical DataFrame on a wide input")
      val narrow = Tables.load(spark, sf, "documents").select("doc_id", "text")
      assert(narrow.rdd.getNumPartitions < cores,
        "fixture assumption broken: single-file docs should scan narrow")
      val fanned = Tables.fanOut(narrow, col("doc_id"))
      assert(fanned.rdd.getNumPartitions == cores)
      val exs = org.apache.spark.sql.graft.Bridge.runtimeOps(
        fanned.queryExecution.executedPlan)
        .filter(_.nodeName.contains("Exchange"))
      assert(exs.size == 1 && exs.head.toString.contains("hashpartitioning"),
        s"expected one hash exchange on the narrow path: ${exs.map(_.nodeName)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp)): Unit
    }
  }

  test("round-13 plan gate: exact quantile windows the value histogram, never the raw fact") {
    // rel_agg_quantile's two-phase form: the cumulative-rank Window must
    // consume the (group, value) COUNT aggregate, not raw lineitem rows —
    // the r12 sf1 probe measured the raw-fact row_number form at
    // 4.8×/decade; the histogram form held 1.07×. Gate: walking down
    // from the Window, a HashAggregate must appear before any scan.
    val df = SparkEntry.queries("rel_agg_quantile")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    def findWindow(p: org.apache.spark.sql.execution.SparkPlan):
        Option[org.apache.spark.sql.execution.SparkPlan] = {
      val self = org.apache.spark.sql.graft.Bridge.runtimeOps(p)
        .find(_.nodeName.contains("Window"))
      self
    }
    val win = findWindow(plan)
    assert(win.isDefined, "no Window in rel_agg_quantile plan")
    val below = org.apache.spark.sql.graft.Bridge.runtimeOps(win.get)
      .drop(1) // the window node itself
    val aggIdx = below.indexWhere(_.nodeName.contains("HashAggregate"))
    val scanIdx = below.indexWhere(_.nodeName.contains("Scan"))
    // A memoized histogram satisfies the gate the same way a live
    // HashAggregate does — but only if the cached frame IS the
    // aggregate (its output carries the `cnt` count column, which raw
    // lineitem rows never have). A cached RAW fact would still fail.
    val cachedHistogram = below
      .collectFirst {
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i }
      .exists(i => below.indexOf(i) == scanIdx && i.output.exists(_.name == "cnt"))
    assert((aggIdx >= 0 && (scanIdx < 0 || aggIdx < scanIdx)) || cachedHistogram,
      s"Window fed by raw rows, not the value histogram: " +
        below.map(_.nodeName).mkString(" | "))
  }

  test("round-14 plan gate: cell discipline — no dimension-sized single-task window sort") {
    // The bucketed two-level scan/selection family must never sort more
    // than one ratio-bounded cell in a single task. Rule: every
    // WindowExec either (a) PARTITIONS BY the cell column — per-cell
    // slices run in parallel; (b) is fed (through Sort / Exchange /
    // Project / Filter / AQE plumbing only) by a HashAggregate whose
    // grouping keys include the cell — the ≤|cells| carry/interval
    // frame; or (c) consumes the already-capped output of a window
    // that itself satisfies the rule (rel_window_ntile's
    // 4-rows-per-group lead over the selection output). The r13 forms
    // (unpartitioned prefix sum over every part, 5-task full ntile
    // sort) all violate this rule.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def refsCell(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
      exprs.exists(_.references.exists(_.name == "cell"))
    def firstInteresting(p: SparkPlan): Option[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        firstInteresting(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        firstInteresting(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        firstInteresting(r.child)
      case _: org.apache.spark.sql.execution.SortExec
         | _: org.apache.spark.sql.execution.ProjectExec
         | _: org.apache.spark.sql.execution.FilterExec
         | _: org.apache.spark.sql.execution.ColumnarToRowExec
         | _: org.apache.spark.sql.execution.InputAdapter
         | _: org.apache.spark.sql.execution.WholeStageCodegenExec
         | _: org.apache.spark.sql.execution.exchange.Exchange
         | _: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
        firstInteresting(p.children.head)
      case other => Some(other)
    }
    def windowOk(w: WindowExec): Boolean =
      refsCell(w.partitionSpec) || (firstInteresting(w.child) match {
        case Some(a: BaseAggregateExec) => refsCell(a.groupingExpressions)
        case Some(inner: WindowExec)    => windowOk(inner)
        // a MEMOIZED cell frame is the same ≤|cells| aggregate, cached:
        // its output carries the cell column; a cached raw fact would
        // too, so also require the count column the aggregate produced
        case Some(i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec) =>
          i.output.exists(_.name == "cell") &&
            i.output.exists(a => a.name == "c" || a.name == "cs")
        case _                          => false
      })
    for (key <- Seq("rel_skyline", "rel_abc_pareto", "rel_window_ntile",
        "rel_hist_equidepth", "rel_agg_quantile_bucketed")) {
      val df = SparkEntry.queries(key)(spark, sf)
      df.collect()
      val wins = org.apache.spark.sql.graft.Bridge
        .runtimeOps(df.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$key: expected Window nodes in the plan")
      wins.foreach(w => assert(windowOk(w),
        s"$key: window not cell-partitioned, cell-aggregate-fed, or " +
          s"capped-window-fed:\n$w"))
    }
  }

  test("AQE skew join: OptimizeSkewedJoin splits the hot partition; no manual salt needed") {
    // r13/r14 verdict task: prove the claim that AQE covers JOIN skew
    // (so the manual salt in rel_join_skew_salted is an aggregation /
    // no-exchange tool, not a join necessity). Fixture: 60 % of the
    // left rows share ONE key — the single-hot-key shape. AQE splits
    // the skewed shuffle partition by MAPPER RANGES (a single key's
    // partition still splits; the other side's matching partition is
    // replicated per split), so the hot key spreads over many tasks
    // with no salt column anywhere in the query.
    val sp = spark
    import sp.implicits._
    val scoped = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // shrink thresholds so the ~8 MB test fixture counts as skewed
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // sort-merge planning, which EngineConf's join knobs keep once
      // partitions pass 64m; this small fixture would plan shuffled-hash
      "spark.sql.join.preferSortMergeJoin" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "0")
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // payload is md5 text: skew detection reads COMPRESSED map-output
      // bytes, so a repetitive pad would deflate under the threshold
      val left = spark.range(0, 200000).select(
        when(col("id") % 10 < 6, lit(0L)).otherwise(col("id")).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val right = spark.range(0, 5000).select(col("id").as("k"),
        (col("id") * 7).as("v"))
      val joined = left.join(right, "k")
      // collect() executes THIS queryExecution (a count() would plan a
      // separate pruned query whose payload-less hot partition
      // compresses under the skew threshold) and keeps the payload in
      // the shuffle, the realistic wide-row shape
      val n = joined.collect().length.toLong
      // correctness first: hot key 0 matches (120 k rows), plus the
      // 4-in-10 distinct ids below 5000 that survive the skew rewrite
      val expect = 120000L + (0 until 5000).count(i => i % 10 >= 6).toLong
      assert(n == expect, s"skew-join result wrong: $n vs $expect")
      val smjs = org.apache.spark.sql.graft.Bridge
        .runtimeOps(joined.queryExecution.executedPlan)
        .collect { case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s }
      assert(smjs.nonEmpty, "expected a sort-merge join")
      assert(smjs.exists(_.isSkewJoin),
        "OptimizeSkewedJoin did not fire on the hot-key fixture — " +
          "the AQE-covers-join-skew claim is unproven")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("parameterized SQL: named-param, EXECUTE IMMEDIATE, and session-variable forms agree") {
    val base = SparkEntry.queries("sql_parameterized")(spark, sf).collect().toSeq
    val immediate = spark.sql(
      """EXECUTE IMMEDIATE
        |'SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        | FROM orders WHERE o_totalprice > ?
        | GROUP BY o_orderpriority ORDER BY o_orderpriority'
        |USING 200000""".stripMargin).collect().toSeq
    assert(immediate == base)
    spark.sql("DECLARE OR REPLACE VARIABLE graft_threshold INT DEFAULT 200000")
    val viaVar = spark.sql(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > graft_threshold
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      .collect().toSeq
    assert(viaVar == base)
  }

  test("expensive-tail plan gates: audited shapes locked against regression") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    // Walk the RUNTIME operator tree (Bridge.runtimeOps): AQE wrappers
    // expanded, subqueries included, cached subtrees stopped at their
    // InMemoryTableScan boundary — a memoized frame's build plan runs
    // once at materialization, never per query, and Spark's STRING
    // rendering of a materialized cache (InMemoryRelation vs
    // TableCacheQueryStage vs embedded "== Final Plan ==" dumps with
    // reset indentation) is too unstable to scrape.
    def audit(name: String): (Seq[SparkPlan], Int, Int) = {
      val ops = org.apache.spark.sql.graft.Bridge.runtimeOps(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      (ops, ops.count(_.isInstanceOf[FileSourceScanExec]),
        ops.count(_.isInstanceOf[Exchange]))
    }
    def shape(ops: Seq[SparkPlan]): String = ops.map(_.nodeName).mkString(" | ")
    // hui pairs: per-(tid,item) utility table reduced BEFORE the pair
    // self-join; the memoized utility frame materializes once, so the
    // query-side plan has no second lineitem pass and a bounded exchange
    // count (pair-join shuffle, pair agg, presentation sort)
    val (hui, huiScans, huiEx) = audit("fpm_hui_pairs")
    assert(huiScans <= 2, s"hui_pairs re-scans ($huiScans): ${shape(hui)}")
    assert(huiEx <= 6, s"hui_pairs exchange count grew ($huiEx): ${shape(hui)}")
    // containment dedup: inverted shingle index — exactly ONE
    // tokenize/explode pass feeds the posting lists (plus the in-list
    // pair explode); the two size probes and the corpus-min prune frame
    // (a 1-row broadcast) are projection-only scans, never a second
    // corpus explode+shuffle — the Generate gate below is what pins that
    val (cd, cdScans, cdEx) = audit("llm_containment_dedup")
    assert(cdScans <= 4, s"containment_dedup re-scans ($cdScans): ${shape(cd)}")
    assert(cd.count(_.isInstanceOf[GenerateExec]) == 2,
      s"containment_dedup gained an explode pass: ${shape(cd)}")
    assert(cdEx <= 8, s"containment_dedup exchange count grew ($cdEx): ${shape(cd)}")
    // collocations: the heavy NGrams bigram pass runs ONCE (its Generate
    // plus the two cheap unigram split-explodes = 3); the N denominator
    // is a projection-only scan — a 4th Generate means someone
    // reintroduced the bigram re-aggregation (measured 10x slower)
    val (coll, collScans, _) = audit("llm_collocations")
    assert(coll.count(_.isInstanceOf[GenerateExec]) <= 3,
      s"collocations re-runs an explode pass: ${shape(coll)}")
    assert(collScans <= 4, s"collocations re-scans ($collScans): ${shape(coll)}")
    // Q9/Q11: the derived-partsupp CTE is re-aggregated once per textual
    // reference — Q9 references ps once (+ the fact join) and Q11 twice
    // (grouped sum + global-sum threshold), so lineitem scans are bounded
    // by reference count, not multiplied by join planning
    def liScans(ops: Seq[SparkPlan]): Int = ops.count(o =>
      o.isInstanceOf[FileSourceScanExec] && o.toString.contains("lineitem.parquet"))
    val (q9, q9Scans, _) = audit("sql_tpch_q9")
    assert(liScans(q9) <= 2, s"Q9 lineitem scanned ${liScans(q9)} times: ${shape(q9)}")
    assert(q9Scans <= 8, s"Q9 total scans grew ($q9Scans): ${shape(q9)}")
    val (q11, q11Scans, _) = audit("sql_tpch_q11")
    assert(liScans(q11) <= 2, s"Q11 lineitem scanned ${liScans(q11)} times: ${shape(q11)}")
    assert(q11Scans <= 6, s"Q11 total scans grew ($q11Scans): ${shape(q11)}")
    // triangle count: the memoized pair-support frame is the only input
    // — the query side is degree broadcast-joins + the two wedge
    // equi-joins + per-item rollup, never a fact re-scan
    val (tri, triScans, triEx) = audit("fpm_triangle_count")
    info(s"fpm_triangle_count: scans=$triScans exchanges=$triEx")
    assert(triScans == 0, s"triangle_count re-scans ($triScans): ${shape(tri)}")
    assert(triEx <= 12, s"triangle_count exchange count grew ($triEx): ${shape(tri)}")
    // tfidf_topk: the per-doc window rides the scored frame — corpus
    // tokenize feeds tf once; df/N are broadcast; bounded exchanges
    val (tt, ttScans, ttEx) = audit("llm_tfidf_topk")
    info(s"llm_tfidf_topk: scans=$ttScans exchanges=$ttEx")
    assert(ttScans <= 4, s"tfidf_topk re-scans ($ttScans): ${shape(tt)}")
    assert(ttEx <= 12, s"tfidf_topk exchange count grew ($ttEx): ${shape(tt)}")
    // co-occurrence: the within-doc pair join shuffles tokenized docs
    // once per side plus the pair agg; vocab/df/N side is all broadcast
    val (co2, coScans, coEx) = audit("llm_cooccurrence")
    info(s"llm_cooccurrence: scans=$coScans exchanges=$coEx")
    assert(coScans <= 2, s"cooccurrence re-scans ($coScans): ${shape(co2)}")
    assert(coEx <= 8, s"cooccurrence exchange count grew ($coEx): ${shape(co2)}")
    // stream_neardup's batch form: one documents scan into the stateful
    // signature operator — the only exchanges are the group-by-key
    // repartition and the presentation sort
    val (sn, snScans, snEx) = audit("stream_neardup")
    info(s"stream_neardup: scans=$snScans exchanges=$snEx")
    assert(snScans <= 1, s"stream_neardup re-scans ($snScans): ${shape(sn)}")
    assert(snEx <= 4, s"stream_neardup exchange count grew ($snEx): ${shape(sn)}")
    // seq_gap: the hour-bin range join must plan as an EQUI-join on
    // (user, bin) — never a cartesian fallback. Three events scans are
    // the two join sides plus the support-denominator aggregate; the
    // single nested-loop join is the 1-row broadcast threshold scalar
    // (the approved crossJoin(broadcast(<scalar>)) idiom), NOT the gap
    // join falling out of equi-planning.
    val (sg, sgScans, _) = audit("fpm_seq_gap")
    info(s"fpm_seq_gap: scans=$sgScans")
    assert(sgScans <= 3, s"seq_gap re-scans ($sgScans): ${shape(sg)}")
    assert(!sg.exists(_.nodeName.contains("CartesianProduct")),
      s"seq_gap planned a cartesian product: ${shape(sg)}")
    assert(sg.count(_.nodeName.contains("BroadcastNestedLoopJoin")) <= 1,
      s"seq_gap gap predicate fell out of the equi-join: ${shape(sg)}")
    assert(sg.exists(o => o.nodeName.contains("HashJoin")
        || o.nodeName.contains("SortMergeJoin")),
      s"seq_gap pair join is not an equi-join: ${shape(sg)}")
    // trigram LM: ONE tokenize pass — the window denominator must not
    // re-run the corpus explode the way a groupBy-then-self-join would
    val (tl, tlScans, tlEx) = audit("llm_trigram_lm")
    info(s"llm_trigram_lm: scans=$tlScans exchanges=$tlEx")
    assert(tlScans <= 1, s"trigram_lm re-scans ($tlScans): ${shape(tl)}")
    assert(tl.count(_.isInstanceOf[GenerateExec]) <= 1,
      s"trigram_lm re-explodes: ${shape(tl)}")
    // ngram novelty: one explode pass (novel counts) + one projection-
    // only scan (row-local totals) — and NO window over a gram posting
    // list (the skew hazard the agg formulation exists to avoid)
    val (nv, nvScans, nvEx) = audit("llm_ngram_novelty")
    info(s"llm_ngram_novelty: scans=$nvScans exchanges=$nvEx")
    assert(nvScans <= 2, s"ngram_novelty re-scans ($nvScans): ${shape(nv)}")
    assert(nv.count(_.isInstanceOf[GenerateExec]) <= 1,
      s"ngram_novelty re-explodes: ${shape(nv)}")
    assert(!nv.exists(_.isInstanceOf[WindowExec]),
      s"ngram_novelty sorts a posting list: ${shape(nv)}")
    // closed itemsets: both closure anti-joins (item-vs-pair-cover,
    // pair-vs-triple-cover) are equi-joins on (member, freq) — the only
    // nested-loop joins allowed are the 1-row broadcast threshold
    // scalars (the approved crossJoin(broadcast(<scalar>)) idiom). A
    // LeftAnti BroadcastNestedLoopJoin means the OR-of-members predicate
    // crept back in.
    val (cl, clScans, clEx) = audit("fpm_closed")
    info(s"fpm_closed: scans=$clScans exchanges=$clEx")
    val clBnljTypes = cl.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        j.joinType.toString
    }
    assert(!clBnljTypes.exists(_.contains("Anti")),
      s"fpm_closed anti-join fell out of equi-planning ($clBnljTypes): ${shape(cl)}")
    assert(!cl.exists(_.nodeName.contains("CartesianProduct")),
      s"fpm_closed planned a cartesian product: ${shape(cl)}")
    // asof_nearest: the whole prior/next window stack rides ONE
    // user-partition shuffle + ONE window sort — the second
    // Sort+Exchange pair is the presentation order only. No join at
    // all (the nearest-direction pick is pure projection).
    val (an, anScans, anEx) = audit("rel_asof_nearest")
    info(s"rel_asof_nearest: scans=$anScans exchanges=$anEx")
    assert(anScans == 1, s"asof_nearest re-scans ($anScans): ${shape(an)}")
    assert(anEx <= 2, s"asof_nearest window stack re-shuffles ($anEx): ${shape(an)}")
    assert(an.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) <= 2,
      s"asof_nearest window stack re-sorts: ${shape(an)}")
    assert(!an.exists(_.nodeName.contains("Join")),
      s"asof_nearest gained a join: ${shape(an)}")
    // source_cap: partial+final TopKPerGroup around a SINGLE group-hash
    // exchange, and the rank window REUSES that partitioning (the exec
    // passes child partitioning through) — one data shuffle total plus
    // the presentation sort.
    val (sc2, scScans, scEx) = audit("llm_source_cap")
    info(s"llm_source_cap: scans=$scScans exchanges=$scEx")
    assert(sc2.count(_.nodeName == "TopKPerGroup") == 1 &&
      sc2.count(_.nodeName == "TopKPerGroupPartial") == 1,
      s"source_cap lost the partial/final TopK pair: ${shape(sc2)}")
    assert(scScans == 1, s"source_cap re-scans ($scScans): ${shape(sc2)}")
    assert(scEx <= 2, s"source_cap window re-shuffles after TopK ($scEx): ${shape(sc2)}")
    // heavyhitters batch form: one shard-key exchange into the stateful
    // MapGroups; the only nested-loop join is the 1-row broadcast
    // totals scalar; the totals subtree is the second (aggregate-only)
    // events scan.
    val (hh2, hhScans, hhEx) = audit("stream_heavyhitters")
    info(s"stream_heavyhitters: scans=$hhScans exchanges=$hhEx")
    assert(hhScans <= 2, s"heavyhitters re-scans ($hhScans): ${shape(hh2)}")
    assert(hh2.count(_.nodeName.contains("MapGroups")) == 1,
      s"heavyhitters lost the single stateful pass: ${shape(hh2)}")
    assert(hh2.count(_.nodeName.contains("BroadcastNestedLoopJoin")) <= 1,
      s"heavyhitters grew a second nested-loop join: ${shape(hh2)}")
    assert(!hh2.exists(_.nodeName.contains("CartesianProduct")),
      s"heavyhitters planned a cartesian product: ${shape(hh2)}")
  }


  test("iterative-loop plan gates: bpe_train rounds never re-scan the corpus; kcore per-round work constant") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // The driver-bounded loops (bpe_train's merge-rule argmax, kcore's
    // H-index fixpoint) execute one job per round behind localCheckpoint
    // lineage cuts, so the final plan shows nothing — the gate instead
    // captures EVERY execution fired while the operator runs, via a
    // QueryExecutionListener, and audits the per-round plans.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        captured.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // The listener bus is async but delivers in post order, so instead of
    // a quiet-period heuristic (flake-prone under load) we post a tagged
    // SENTINEL execution and wait for it: once the sentinel arrives,
    // every execution fired before it has been delivered. Executions
    // after the sentinel (stragglers from other work on the shared
    // session) are excluded — the audit sees exactly the operator's own
    // window.
    var sentinelSeq = 0
    def drainedBeforeSentinel(): Seq[QueryExecution] = {
      import scala.jdk.CollectionConverters._
      sentinelSeq += 1
      val tag = s"graft_drain_sentinel_$sentinelSeq"
      spark.range(1).select(org.apache.spark.sql.functions.lit(1).as(tag)).collect()
      def isSentinel(qe: QueryExecution) = qe.executedPlan.toString.contains(tag)
      var waited = 0
      while (!captured.asScala.exists(isSentinel) && waited < 15000) {
        Thread.sleep(50); waited += 50
      }
      val all = captured.asScala.toSeq
      assert(all.exists(isSentinel), "listener sentinel never arrived (15 s)")
      all.takeWhile(qe => !isSentinel(qe))
        .filterNot(_.executedPlan.toString.contains("graft_drain_sentinel"))
    }
    def flushStragglers(): Unit = { drainedBeforeSentinel(); captured.clear() }
    def ops(qe: QueryExecution) =
      org.apache.spark.sql.graft.Bridge.runtimeOps(qe.executedPlan)
    def docScans(qe: QueryExecution): Int = ops(qe).count {
      case f: FileSourceScanExec => f.toString.contains("documents.parquet")
      case _ => false
    }
    def fileScans(qe: QueryExecution): Int =
      ops(qe).count(_.isInstanceOf[FileSourceScanExec])
    def exchanges(qe: QueryExecution): Int = ops(qe).count(_.isInstanceOf[Exchange])

    // --- bpe_train: the corpus is scanned EXACTLY once (the initial
    // word-count frame); every merge round runs on the vocabulary frame
    spark.listenerManager.register(listener)
    try {
      flushStragglers() // async leftovers from earlier tests stay out of the window
      val rules = operators.LlmOps.bpeTrainRounds(spark, sf, 10).collect()
      assert(rules.length == 10, "bpe_train depth collapsed — rounds not real")
      val execs = drainedBeforeSentinel()
      val scanning = execs.filter(docScans(_) > 0)
      assert(scanning.size == 1,
        s"bpe_train scanned documents.parquet in ${scanning.size} executions (want 1: the initial word count)")
      // each round's argmax is vocabulary-frame work: bounded exchanges,
      // no file scan of any table
      execs.filterNot(scanning.contains).foreach { qe =>
        assert(fileScans(qe) == 0,
          s"bpe_train round re-scanned a table: ${ops(qe).map(_.nodeName).mkString(" | ")}")
        assert(exchanges(qe) <= 3,
          s"bpe_train round exchange count grew: ${ops(qe).map(_.nodeName).mkString(" | ")}")
      }
    } finally spark.listenerManager.unregister(listener)

    // --- kcore: warm the memoized edge frames first, then instrument a
    // second run — every captured execution must be fact-scan-free, and
    // the H-index rounds (the WindowExec checkpoints) must carry a
    // STABLE exchange count (constant per-round work; ±1 jitter allowed
    // for runtime re-planning, linear growth — the doubling-lineage
    // failure this gate exists for — would spread the counts wide)
    operators.Mining.fpmKcore(spark, sf).collect()
    captured.clear()
    spark.listenerManager.register(listener)
    try {
      flushStragglers()
      operators.Mining.fpmKcore(spark, sf).collect()
      val execs = drainedBeforeSentinel()
      execs.foreach { qe =>
        assert(fileScans(qe) == 0,
          s"kcore round touched a file scan: ${ops(qe).map(_.nodeName).mkString(" | ")}")
      }
      val rounds = execs.filter(qe => ops(qe).exists(_.isInstanceOf[WindowExec]))
      assert(rounds.size >= 2, s"kcore ran ${rounds.size} instrumented rounds — loop not captured")
      val exCounts = rounds.map(exchanges)
      assert(exCounts.max - exCounts.min <= 1,
        s"kcore per-round exchange counts grew: $exCounts")
    } finally spark.listenerManager.unregister(listener)
  }

  test("format round-trip preserves content exactly per format") {
    val rt = operators.Relational.relFormatRoundtrip(spark, sf).collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet).toMap
    val direct = Tables.load(spark, sf, "documents")
      .groupBy("lang").agg(count(lit(1)).as("cnt"), sum("n_chars").as("sc"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rt.keySet == Set("orc", "csv", "json"))
    rt.foreach { case (fmt, rows) => assert(rows == direct, s"$fmt round-trip diverged") }
  }

  test("native graft functions resolve and evaluate through SQL text") {
    // GraftExtensions' one list: all six functions, plus the TopK strategy
    val sqlSession = spark.newSession()
    GraftExtensions.install(sqlSession)
    val r = sqlSession.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       graft_top_run(array('a', 'a', 'b')) AS t,
        |       graft_ngrams('x y z', 2, false, false) AS n,
        |       size(graft_minhash_sig(array('x y'), 8)) AS m,
        |       graft_simhash(array(5L)) AS h,
        |       (SELECT graft_simhash_agg(v) FROM VALUES (5L) AS t(v)) AS a""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 2L)
    assert(r.getSeq[String](2) == Seq("x y", "y z"))
    assert(r.getInt(3) == 8)
    assert(r.getLong(4) == 5L && r.getLong(5) == 5L)
    assert(sqlSession.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
  }

  test("GraftExtensions applies cleanly to a fresh SparkSessionExtensions") {
    // the spark.sql.extensions route a library user configures at
    // session build — injection must not throw and must register all
    // seven extension points (6 functions + the TopK planner strategy)
    val fns = scala.collection.mutable.ArrayBuffer.empty[String]
    var strategies = 0
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: org.apache.spark.sql.SparkSessionExtensions#FunctionDescription): Unit = {
        fns += f._1.funcName; super.injectFunction(f)
      }
      override def injectPlannerStrategy(b: org.apache.spark.sql.SparkSessionExtensions#StrategyBuilder): Unit = {
        strategies += 1; super.injectPlannerStrategy(b)
      }
    }
    new GraftExtensions().apply(ext)
    assert(fns.toSet == Set("graft_dot", "graft_minhash_sig", "graft_simhash",
      "graft_simhash_agg", "graft_top_run", "graft_ngrams"))
    assert(fns.size == 6 && strategies == 1)
  }

  test("query bodies leave the session's function registry untouched") {
    // every LLM key (the family that builds native expressions) and the
    // streaming near-dup transform, on a session nothing was installed in
    val s = spark.newSession()
    operators.LlmOps.queries.toSeq.sortBy(_._1).foreach { case (k, q) =>
      withClue(k) { q(s, sf).collect() }
    }
    streaming.Streaming.neardupStream(Tables.load(s, sf, "documents")).collect()
    val reg = s.sessionState.functionRegistry
    val names = Seq("graft_dot", "graft_minhash_sig", "graft_simhash",
      "graft_simhash_agg", "graft_top_run", "graft_ngrams")
    val present = names.filter(n =>
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(present.isEmpty, s"registered by a query body: ${present.mkString(", ")}")
  }

  test("partitioned parquet write enables partition pruning on read") {
    val path = tempDir("part")
    Tables.load(spark, sf, "documents")
      .write.partitionBy("lang").mode("overwrite").parquet(path)
    val filtered = spark.read.parquet(path).filter(col("lang") === "en")
    val plan = filtered.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition pruning in:\n$plan")
    val expected = Tables.load(spark, sf, "documents")
      .filter(col("lang") === "en").count()
    assert(filtered.count() == expected)
  }

  test("rel_partition_prune: declared key scans only the predicate's date partitions") {
    val df = operators.Relational.relPartitionPrune(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"no partition pruning in:\n$plan")
    // the scan must plan only the 5 matching date directories
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, s"no file scan in:\n$plan")
    assert(scans.head.relation.location.inputFiles.length > 5,
      "fixture too small to demonstrate pruning")
    // content identity with the direct filter on the source table
    val expected = Tables.load(spark, sf, "events")
      .filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-15").count()
    assert(df.count() == expected && expected > 0)
  }

  test("csv and json sources round-trip a table with schema pinned") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    val base = tempDir("fmt")
    docs.write.option("header", "true").csv(s"$base/csv")
    docs.write.json(s"$base/json")
    val csvBack = spark.read.option("header", "true")
      .schema("doc_id LONG, lang STRING, n_chars LONG").csv(s"$base/csv")
    val jsonBack = spark.read
      .schema("doc_id LONG, lang STRING, n_chars LONG").json(s"$base/json")
    val expect = docs.collect().map(_.toSeq).toSet
    assert(csvBack.collect().map(_.toSeq).toSet == expect)
    assert(jsonBack.collect().map(_.toSeq).toSet == expect)
  }

  test("orc source round-trips embeddings including the float-array column") {
    val emb = Tables.load(spark, sf, "embeddings")
    val path = tempDir("orc")
    emb.write.mode("overwrite").orc(path)
    val back = spark.read.orc(path)
    assert(back.schema == emb.schema)
    val a = emb.orderBy("vec_id").collect().map(_.toSeq.map {
      case s: Seq[_] => s.toVector; case x => x
    })
    val b = back.orderBy("vec_id").collect().map(_.toSeq.map {
      case s: Seq[_] => s.toVector; case x => x
    })
    assert(a.sameElements(b))
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key owning ~200k rows vs 1k cold keys; thresholds lowered
    // so local-scale data trips the same skew path a 100 TB hot key would
    val sp = spark
    import sp.implicits._
    val conf = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = (1 to 200000).map(i => (7L, i.toLong)) ++
        (1 to 1000).map(i => (i.toLong + 100, i.toLong))
      val fact = skewed.toDF("k", "v").repartition(4)
      val dim = (1 to 2000).map(i => (i.toLong, s"d$i")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      // collect() (not count()) so THIS QueryExecution runs and its
      // adaptive plan is finalized
      assert(joined.collect().length == 201000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(4000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("FIMI text source round-trips the mining baskets") {
    val baskets = operators.Mining.baskets(spark, sf)
      .orderBy("tid").select("items")
    val path = s"${tempDir("fimi")}/t"
    FimiSource.write(baskets, path)
    val back = FimiSource.read(spark, path)
    assert(back.count() == baskets.count())
    // same multiset of canonical basket strings
    val a = baskets.select(concat_ws(",", col("items")).as("b"))
      .groupBy("b").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = back.select(concat_ws(",", col("items")).as("b"))
      .groupBy("b").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("Tables.load normalizes every events.ts writer vintage to TimestampType") {
    // The loader has been bitten by BOTH parquet timestamp drifts:
    // TIMESTAMP(NANOS) (reads as long under nanosAsLong) and µs-naive
    // TIMESTAMP(isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ, which
    // unix_micros rejects). Pin that both shapes — and the plain µs
    // TimestampType shape — normalize to TimestampType with identical
    // epoch-µs values under the UTC session.
    val tsType = org.apache.spark.sql.types.TimestampType
    val base = tempDir("tsdrift")
    val epochUs = 1704067200000000L // 2024-01-01T00:00:00Z
    def shaped(tsCol: org.apache.spark.sql.Column) =
      spark.range(5).select(
        col("id").as("user_id"), tsCol.as("ts"), lit("click").as("event_type"))
    // current generator: µs-naive → TIMESTAMP_NTZ on read
    shaped(expr(s"timestamp_micros($epochUs + id * 1000000)").cast("timestamp_ntz"))
      .write.parquet(s"$base/ntz/events.parquet")
    // Legacy generator: a REAL TIMESTAMP(NANOS)-annotated file. Spark's
    // writer can't emit NANOS, so build it with parquet-java directly —
    // the loader's repair keys on the footer annotation (a plain INT64
    // is a genuine long column and must NOT be touched), so only an
    // annotated file exercises the legacy path.
    locally {
      import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
      val msg = Types.buildMessage()
        .required(PrimitiveType.PrimitiveTypeName.INT64).named("user_id")
        .required(PrimitiveType.PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
        .required(PrimitiveType.PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type")
        .named("spark_schema")
      val hconf = new org.apache.hadoop.conf.Configuration()
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msg, hconf)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$base/ns/events.parquet"), hconf))
        .withConf(hconf).build()
      val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      for (i <- 0 until 5)
        w.write(gf.newGroup()
          .append("user_id", i.toLong)
          .append("ts", epochUs * 1000L + i * 1000000000L)
          .append("event_type", "click"))
      w.close()
    }
    // plain µs TimestampType: must pass through untouched
    shaped(expr(s"timestamp_micros($epochUs + id * 1000000)"))
      .write.parquet(s"$base/us/events.parquet")
    for (shape <- Seq("ntz", "ns", "us")) {
      val ev = Tables.load(spark, s"$base/$shape", "events")
      assert(ev.schema("ts").dataType == tsType, s"$shape: ${ev.schema("ts").dataType}")
      assert(ev.selectExpr("min(unix_micros(ts))").head.getLong(0) == epochUs,
        s"$shape: wrong epoch value")
    }
    // the normalization is table-generic: the regenerated lineitem/orders
    // date columns are also written µs-naive and must come back as
    // TimestampType (the type the whole query surface was built against)
    assert(Tables.load(spark, sf, "lineitem").schema("l_shipdate").dataType == tsType)
    assert(Tables.load(spark, sf, "orders").schema("o_orderdate").dataType == tsType)
  }

  test("Tables.load caches the inferred schema, never the frame") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(tempDir("schema"))
    val file = base.resolve("items.parquet")
    // one parquet file, as the corpus tables are
    def write(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = base.resolve(s"w${System.nanoTime()}").toString
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, file,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    // jobs started by `body`: a marker job after it flushes the listener bus
    def jobsOf[T](body: => T): (T, Int) = {
      val g = s"schema-${System.nanoTime()}"
      val sc = spark.sparkContext
      sc.setJobGroup(g, g)
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$g-marker", g)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(s"$g-marker") && System.nanoTime() < deadline) Thread.sleep(5)
      assert(groups.contains(s"$g-marker"), "listener bus did not deliver the marker job")
      (r, groups.asScala.count(_ == g))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      write(spark.range(10).selectExpr("id", "cast(id AS string) AS s"))
      val uncached = spark.read.parquet(file.toString).schema
      assert(jobsOf(Tables.load(spark, base.toString, "items"))._2 > 0, "cold load infers")
      val (warm, warmJobs) = jobsOf(Tables.load(spark, base.toString, "items"))
      assert(warmJobs == 0, "warm load starts no job")
      assert(warm.schema == uncached)
      // a parquet conf the inference depends on is part of the key
      val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
      val nanos = spark.conf.get(nanosKey)
      spark.conf.set(nanosKey, (!nanos.toBoolean).toString)
      try assert(jobsOf(Tables.load(spark, base.toString, "items"))._2 > 0, "conf flip infers")
      finally spark.conf.set(nanosKey, nanos)
      // so is the file identity: a rewrite infers the new schema
      write(spark.range(10).selectExpr("id", "cast(id AS string) AS s", "id * 2 AS d"))
      val (rewritten, jobs) = jobsOf(Tables.load(spark, base.toString, "items"))
      assert(jobs > 0, "rewrite infers")
      assert(rewritten.columns.toSeq == Seq("id", "s", "d"))
      // each load is a fresh relation: a self-join sees distinct columns
      val (a, b) = (Tables.load(spark, base.toString, "items"), Tables.load(spark, base.toString, "items"))
      assert(a.queryExecution.analyzed.output.map(_.exprId)
        .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
      assert(a.join(b, a("id") === b("d")).count() == 5)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("memo session retention: cycling many sessions never grows the cache monotonically") {
    // r15 VERDICT #3: memoized DataFrames strongly reference their
    // session, so without eviction a JVM that churns sessions pins every
    // one of them (and their persisted blocks) forever. The LRU bound
    // must hold the session count at MaxMemoSessions however many
    // sessions come and go.
    // Each churned session also holds one non-frame value; eviction
    // drops both and unpersists the frame. The frames differ per
    // session because Spark's cache manager shares one cache entry
    // between equal plans.
    val entriesBefore = Tables.sessionEntryCount
    val frames = (0 until 20).map { i =>
      val s2 = spark.newSession()
      val df = Tables.memo(s2, sf, "spec_retention") {
        s2.range(5).toDF("v").withColumn("session", lit(i))
      }
      assert(df.count() == 5)
      assert(Tables.sessionValue(s2, sf, "spec_retention_value")(i) == i)
      df
    }
    assert(Tables.sessionCount <= 8,
      s"cache retains ${Tables.sessionCount} sessions — unbounded growth")
    assert(Tables.sessionEntryCount <= entriesBefore + 16,
      s"entries grew from $entriesBefore to ${Tables.sessionEntryCount} after 20 session cycles")
    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(frames.dropRight(8).forall(_.storageLevel == none), "an evicted frame stays persisted")
    assert(frames.last.storageLevel != none)
    // an ACTIVE session is never evicted by its own use: re-touching the
    // last session keeps its entry across another churn wave
    val live = spark.newSession()
    Tables.memo(live, sf, "spec_live") { live.range(3).toDF("v") }
    (0 until 6).foreach { _ =>
      val s3 = spark.newSession()
      Tables.memo(s3, sf, "spec_churn") { s3.range(2).toDF("v") }
      Tables.memo(live, sf, "spec_live") { fail("live session's memo was evicted mid-use") }
    }
  }

  test("evicting a session keeps a live session's memo of an equal plan cached") {
    // Spark's cache manager keeps one entry for equal plans across
    // sessions: a's eviction must not uncache b's memo of the same plan,
    // and b's own eviction, as the last holder, unpersists it.
    val none = org.apache.spark.storage.StorageLevel.NONE
    val a = spark.newSession()
    val b = spark.newSession()
    Tables.memo(a, sf, "spec_equal_plan") { a.range(7).toDF("v") }.count()
    val fb = Tables.memo(b, sf, "spec_equal_plan") { b.range(7).toDF("v") }
    assert(fb.count() == 7)
    val level = fb.storageLevel
    assert(level != none)
    (0 until 8).foreach { _ =>
      Tables.sessionValue(spark.newSession(), sf, "spec_equal_plan_churn")(())
      Tables.memo(b, sf, "spec_equal_plan") { fail("live session b's memo was evicted") }
    }
    assert(fb.storageLevel == level, "evicting session a uncached session b's memo")
    (0 until 8).foreach { _ =>
      Tables.sessionValue(spark.newSession(), sf, "spec_equal_plan_churn")(())
    }
    assert(fb.storageLevel == none, "the last holder's eviction left the frame cached")
  }

  test("sessionValue builds once per (session, dir, key) and again in a new session") {
    var builds = 0
    def value(s: org.apache.spark.sql.SparkSession, dir: String, key: String) =
      Tables.sessionValue(s, dir, key) { builds += 1; builds }
    val s1 = spark.newSession()
    assert(value(s1, sf, "spec_value") == 1)
    assert(value(s1, sf, "spec_value") == 1, "a second call rebuilt")
    assert(value(s1, sf, "spec_value_2") == 2)
    assert(value(s1, sf + "_other", "spec_value") == 3)
    val s2 = s1.newSession()
    assert(value(s2, sf, "spec_value") == 4, "a new session was served another session's value")
    assert(value(s1, sf, "spec_value") == 1)
  }

  test("persisted index: served across sessions from disk, invalidated by a source change") {
    // r15 VERDICT task 6: Tables.index spills a derived frame to the
    // versioned on-disk store; a fresh session (≈ a cold JVM: the
    // session memo is empty) must load the artifact instead of
    // rebuilding, and ANY source-file change must flip the fingerprint
    // and force a rebuild — stale artifacts are structurally
    // unreachable (the fingerprint is in the path).
    val dir = tempDir("idxspec")
    spark.range(5).toDF("x").coalesce(1).write.parquet(s"$dir/t.parquet")
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1
      s.range(3).toDF("v")
    }
    val a = Tables.index(spark, dir, "ixspec")(build(spark))
      .collect().map(_.getLong(0)).sorted.toSeq
    val s2 = spark.newSession()
    val b = Tables.index(s2, dir, "ixspec")(build(s2))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(builds == 1, s"fresh session rebuilt instead of loading ($builds builds)")
    assert(a == b)
    // mtime change = new fingerprint = rebuild (old artifact dropped)
    val part = new java.io.File(s"$dir/t.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part.setLastModified(part.lastModified() + 60000))
    val s3 = spark.newSession()
    Tables.index(s3, dir, "ixspec")(build(s3)).collect()
    assert(builds == 2, s"stale fingerprint was served ($builds builds)")
  }

  test("disk store: an index miss memoizes its published copy, an artifact loads only on a hit, UDT frames stay memo-only") {
    val dir = tempDir("storespec")
    spark.range(5).toDF("x").coalesce(1).write.parquet(s"$dir/t.parquet")
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val ix = Tables.index(spark.newSession(), dir, s"ix_$tag")(spark.range(3).toDF("v"))
    val Seq(kdir) = indexDirsFor(s"ix_$tag")
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = ix.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.getName) }.flatten
    assert(roots == Seq(kdir.getName), s"the miss did not read back the published copy: $roots")
    var (builds, loads) = (0, 0)
    def model(s: org.apache.spark.sql.SparkSession) =
      Tables.artifact(s, dir, s"art_$tag") { builds += 1; "m" } { (m, path) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path, "m"), m)
      } { path => loads += 1; java.nio.file.Files.readString(java.nio.file.Paths.get(path, "m")) }
    assert(model(spark.newSession()) == "m" && (builds, loads) == (1, 0))
    assert(model(spark.newSession()) == "m" && (builds, loads) == (1, 1))
    val udt = Tables.index(spark.newSession(), dir, s"udt_$tag")(spark.range(3).select(
      org.apache.spark.ml.functions.array_to_vector(array(col("id").cast("double"))).as("v")))
    assert(udt.count() == 3)
    assert(indexDirsFor(s"udt_$tag").isEmpty, "a UDT frame was stored")
  }

  /** All on-disk `<key>__*` artifact dirs for `key`, across the store. */
  private def indexDirsFor(key: String): Seq[java.io.File] = {
    val root = new java.io.File(Tables.indexRoot.get)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(dh => Option(dh.listFiles()).getOrElse(Array.empty).toSeq)
      .filter(_.getName.startsWith(key + "__"))
  }

  test("persisted index: superseded fingerprints are age-gated, so a lazy reader at the old artifact survives a rebuild") {
    // r16 VERDICT task 7: the stale-fingerprint cleanup used to rmTree
    // immediately on publish; a second JVM holding a lazy DataFrame
    // over the old dir (its source regenerated between the two
    // processes' loads) would fail mid-scan. Simulated in one JVM:
    // fresh sessions stand in for JVMs (the session memo is empty),
    // and the held frame stands in for the concurrent reader.
    val dir = tempDir("agespec")
    spark.range(5).toDF("x").coalesce(1).write.parquet(s"$dir/t.parquet")
    def bump(): Unit = {
      val part = new java.io.File(s"$dir/t.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(part.setLastModified(part.lastModified() + 60000))
    }
    val key = s"agespec_${java.util.UUID.randomUUID().toString.take(8)}"
    val held = Tables.index(spark, dir, key)(spark.range(4).toDF("v"))
    assert(indexDirsFor(key).size == 1)
    // default grace (15 min): the rebuild publishes a second fingerprint
    // but must NOT delete the young one the held frame still reads
    bump()
    val s2 = spark.newSession()
    Tables.index(s2, dir, key)(s2.range(4).toDF("v")).collect()
    assert(indexDirsFor(key).size == 2,
      "young superseded fingerprint was deleted inside the grace window")
    assert(held.count() == 4, "the concurrent reader's artifact was deleted")
    // zero grace: the next rebuild may retire everything superseded
    val prevGrace = Tables.indexStaleGraceMs
    try {
      Tables.indexStaleGraceMs = 0L
      Thread.sleep(20) // strictly-older mtimes at millisecond granularity
      bump()
      val s3 = spark.newSession()
      Tables.index(s3, dir, key)(s3.range(4).toDF("v")).collect()
      assert(indexDirsFor(key).size == 1,
        s"expected only the current fingerprint after zero-grace cleanup: " +
          indexDirsFor(key).map(_.getName))
    } finally Tables.indexStaleGraceMs = prevGrace
  }

  test("persisted index is best-effort: a corrupt stored copy rebuilds and an unwritable root degrades to memo") {
    // r16 ADVICE: index() had no try/catch around the spill, unlike
    // artifact() — a full/unwritable root failed every routed key.
    val dir = tempDir("bespec")
    spark.range(5).toDF("x").coalesce(1).write.parquet(s"$dir/t.parquet")
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = {
      builds += 1; s.range(3).toDF("v")
    }
    val bkey = s"bespec_${java.util.UUID.randomUUID().toString.take(8)}"
    Tables.index(spark, dir, bkey)(build(spark)).collect()
    assert(builds == 1)
    // corrupt every stored parquet file: a fresh session must rebuild
    // (and republish), never throw or serve garbage
    indexDirsFor(bkey).foreach { kd =>
      kd.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
      }
    }
    val s2 = spark.newSession()
    val out = Tables.index(s2, dir, bkey)(build(s2))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(builds == 2, s"corrupt artifact was not rebuilt ($builds builds)")
    assert(out == Seq(0L, 1L, 2L))
    // unwritable root (a FILE at the root path): the query still answers
    val badRoot = java.nio.file.Files.createFile(java.nio.file.Paths.get(tempDir("noroot"), "root.f"))
    val prev = Tables.indexRootOverride
    try {
      Tables.indexRootOverride = Some(Some(badRoot.toString))
      val s3 = spark.newSession()
      val v = Tables.index(s3, dir, bkey + "_2")(build(s3))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(v == Seq(0L, 1L, 2L))
      assert(builds == 3)
    } finally Tables.indexRootOverride = prev
  }
}
