package graft

import graft.operators.Relational
import org.apache.spark.sql.functions.{col, count, countDistinct, date_trunc, expr, lit, to_date, when}

/** Physical-plan assertions (SURVEY.md §4.2): the declarative queries must
  * actually produce the scale-correct plans — pushdown reaching parquet,
  * broadcast vs shuffle-merge join selection, top-k instead of full sort. */
class RelationalSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  test("filter predicate is pushed down to the parquet scan") {
    val plan = Relational.relFilterPred(spark, sf).queryExecution
      .sparkPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("l_shipdate"),
      s"no pushdown in:\n$plan")
  }

  test("scan-project prunes columns at the reader") {
    val plan = Relational.relScanProject(spark, sf).queryExecution
      .sparkPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("l_comment"))
    assert(!plan.contains("l_shipdate"), "projection not pruned")
  }

  test("bottom-k hash sample plans as TakeOrderedAndProject, no global sort") {
    // the inner orderBy(h).limit(200) must become per-partition heaps;
    // only the 200 survivors may hit the final presentation sort
    val plan = Relational.relSampleBottomk(spark, sf).queryExecution
      .sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"full sort in:\n$plan")
  }

  test("salted skew join equals the plain join bit-for-bit") {
    import org.apache.spark.sql.functions._
    val got = Relational.relJoinSkewSalted(spark, sf).collect().toSeq
    val plain = graft.Tables.load(spark, sf, "lineitem")
      .join(graft.Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("line_cnt"),
        sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(got == plain)
  }

  test("dimension join is a broadcast hash join") {
    assert(planOf(Relational.relJoinBroadcast(spark, sf))
      .contains("BroadcastHashJoin"))
  }

  test("fact-fact join is a sort-merge join") {
    assert(planOf(Relational.relJoinSortmerge(spark, sf))
      .contains("SortMergeJoin"))
  }

  test("global top-k plans as TakeOrderedAndProject") {
    val plan = Relational.relSortLimit(spark, sf).queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"full sort in:\n$plan")
  }

  test("bucketed tables co-locate the join: no shuffle exchange on either side") {
    spark.sql("DROP TABLE IF EXISTS li_b"); spark.sql("DROP TABLE IF EXISTS ord_b")
    Seq("li_b", "ord_b").foreach { t =>
      val loc = new java.io.File(s"/tmp/graft-warehouse/$t")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (loc.exists()) rm(loc)
    }
    Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.load(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")
    // force the shuffle-join path (broadcast would win at this tiny scale
    // and bypass bucketing entirely — at 100 TB neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try {
        val joined = spark.table("li_b").join(spark.table("ord_b"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        joined.collect()
        joined.queryExecution.executedPlan.toString
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // bucket-pruned SMJ reads both sides pre-partitioned: the only
    // acceptable exchange would be a broadcast, never a shuffle
    assert(plan.contains("SortMergeJoin"), s"not SMJ:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"shuffle in bucketed join:\n$plan")
    spark.sql("DROP TABLE li_b"); spark.sql("DROP TABLE ord_b")
  }

  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L

  test("as-of join matches an independent per-row reference computation") {
    val got = Relational.relAsofJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    // reference: brute-force scan over collected events
    val evs = Tables.load(spark, sf, "events")
      .select("user_id", "event_id", "event_type", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3), r.getDouble(4)))
    val byUser = evs.groupBy(_._1)
    val expected = (for {
      (u, rows) <- byUser.toSeq
      (_, cid, typ, cts, _) <- rows if typ == "click"
      prior = rows.filter { case (_, vid, vt, vts, _) =>
        vt == "view" && (vts.before(cts) || (vts == cts && vid < cid))
      }
      if prior.nonEmpty
      best = prior.maxBy { case (_, vid, _, vts, _) => (micros(vts), vid) }
      gapUs = micros(cts) - micros(best._4)
      if gapUs <= 3600000000L
    } yield (u, cid) -> (best._5, gapUs)).toMap
    assert(got == expected)
  }

  test("nearest as-of join matches an independent per-row reference computation") {
    val got = Relational.relAsofNearest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getDouble(3), r.getLong(4))).toMap
    val evs = Tables.load(spark, sf, "events")
      .select("user_id", "event_id", "event_type", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3), r.getDouble(4)))
    val gap = 3600000000L
    def before(aUs: Long, aId: Long, bUs: Long, bId: Long): Boolean =
      aUs < bUs || (aUs == bUs && aId < bId)
    val expected = (for {
      (u, rows) <- evs.groupBy(_._1).toSeq
      (_, cid, typ, cts, _) <- rows if typ == "click"
      views = rows.filter(_._3 == "view")
        .sortBy { case (_, vid, _, vts, _) => (micros(vts), vid) }
      prior = views.filter(v => before(micros(v._4), v._2, micros(cts), cid)).lastOption
      next = views.filter(v => before(micros(cts), cid, micros(v._4), v._2)).headOption
      pg = prior.map(p => micros(cts) - micros(p._4))
      ng = next.map(n => micros(n._4) - micros(cts))
      pok = pg.exists(_ <= gap)
      nok = ng.exists(_ <= gap)
      if pok || nok
    } yield {
      val pick: (String, Double, Long) =
        if (pok && (!nok || pg.get <= ng.get)) ("prior", prior.get._5, pg.get)
        else ("next", next.get._5, -ng.get)
      (u, cid) -> pick
    }).toMap
    assert(got == expected)
    assert(expected.values.exists(_._1 == "next") &&
      expected.values.exists(_._1 == "prior"), "both directions must occur")
  }

  test("rel_agg_quantile equals driver-side rank-based ground truth") {
    val byFlag = Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    val got = Relational.relAggQuantile(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == byFlag.size * 3)
    got.foreach { case (f, p, v) =>
      val xs = byFlag(f)
      val t = math.ceil(p * xs.length).toInt
      assert(v == xs(t - 1), s"flag=$f p=$p got=$v want=${xs(t - 1)}")
    }
  }

  test("rel_agg_quantile_bucketed ≡ the histogram exact form, at default and stress cell widths") {
    val want = Relational.relAggQuantile(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // K=64 cells/e-fold (the declared key), K=1 (cells ~e× wide —
    // multiple targets share a cell), K=0 (degenerate: every row in
    // cell 0 — the selection pass must reduce to the plain per-group
    // rank) all agree with the exact form
    Seq(64, 1, 0).foreach { b =>
      val got = Relational.relAggQuantileBucketedB(spark, sf, b).collect().toSeq
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(got == want, s"B=$b diverged: got=$got want=$want")
    }
  }

  test("rel_bucketed_join: declared key joins with no shuffle on either side") {
    // broadcast off: at test SF Catalyst would broadcast (also shuffle-
    // free) and bypass the bucketed layout this key exists to prove
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Relational.relBucketedJoin(spark, sf)
      df.collect()
      // QueryStageExec is a leaf for collect(), so audit the expanded
      // string: the join must be SMJ and NO exchange may partition by a
      // join key — the only legitimate exchange is the aggregate's, on
      // o_orderpriority
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey")
          && !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"shuffle on a join key under the bucketed join:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("custom TopKPerGroup: equals the window formulation, plans as one exchange + custom exec") {
    val got = Relational.relTopkGroup(spark, sf)
    // exact equality with the row_number() <= k spec
    val orders = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc, org.apache.spark.sql.functions.col("o_orderkey"))
    val expected = orders
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(org.apache.spark.sql.functions.col("rn") <= 3)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .orderBy(org.apache.spark.sql.functions.col("o_orderpriority"),
        org.apache.spark.sql.functions.col("o_totalprice").desc,
        org.apache.spark.sql.functions.col("o_orderkey"))
      .collect().toSeq
    assert(got.collect().toSeq == expected)
    // plan shape: the custom exec node ran, behind a single hash exchange
    // AQE prints Final + Initial sections; audit the final plan only
    val plan = got.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("TopKPerGroup"), s"custom exec missing:\n$plan")
    assert(plan.contains("TopKPerGroupPartial"),
      s"map-side partial heap pass missing:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one hash exchange before the heap operator:\n$plan")
  }

  test("TopKPerGroup: partial-map flush at high group cardinality stays exact") {
    import org.apache.spark.sql.functions.{col, row_number}
    // 20k distinct groups per partition >> the 64-group flush threshold,
    // so the partial pass takes the overflow-flush path many times over
    val df = spark.range(100000).select(
      (col("id") % 20000).as("g"),
      ((col("id") * 2654435761L) % 1000003L).as("v"),
      col("id"))
    spark.conf.set("spark.graft.topk.flushThreshold", "64")
    try {
      val got = plans.TopK.perGroup(df, Seq("g"), Seq(("v", false), ("id", true)), 2)
        .orderBy("g", "id").collect().toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id"))
      val expected = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2).select("g", "v", "id")
        .orderBy("g", "id").collect().toSeq
      assert(got == expected)
    } finally spark.conf.unset("spark.graft.topk.flushThreshold")
  }

  test("sessionize matches a driver-side gap recompute and one exchange serves both windows") {
    val ev = Tables.load(spark, sf, "events")
      .select("user_id", "event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime * 1000L +
        r.getTimestamp(2).getNanos / 1000 % 1000))
    val gapUs = 30L * 60 * 1000000
    val expected = ev.groupBy(_._1).flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      var seq = 0L; var prev = Long.MinValue
      val sess = scala.collection.mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
      sorted.foreach { r =>
        if (prev == Long.MinValue || r._3 - prev > gapUs) seq += 1
        sess(seq) = r._3 :: sess(seq); prev = r._3
      }
      sess.map { case (sq, ts) =>
        (uid, sq) -> (ts.length.toLong, ts.min, ts.max)
      }
    }
    val got = Relational.relSessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got == expected.toMap)
    // one exchange feeds both the lag window and the running sum
    val plan = Relational.relSessionize(spark, sf).queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length - 1 <= 2, plan)
  }

  test("set ops: except and intersect branches are disjoint by construction") {
    val rows = Relational.relSetOps(spark, sf).collect()
    val byTag = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    val ex = byTag.getOrElse("except", Set.empty)
    val in = byTag.getOrElse("intersect", Set.empty)
    assert(ex.intersect(in).isEmpty && (ex.nonEmpty || in.nonEmpty))
  }

  test("first/last/nth windows equal a driver-side per-customer sort") {
    val orders = Tables.load(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("od"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byCust = orders.groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2)).toIndexedSeq)
    val got = Relational.relWindowFirstLast(spark, sf).collect()
    assert(got.length == orders.length)
    got.foreach { r =>
      val hist = byCust(r.getLong(0))
      assert(r.getDouble(3) == hist.head._4, "first_price")
      assert(r.getDouble(4) == hist.last._4, "last_price")
      val second = if (hist.length >= 2) Some(hist(1)._4) else None
      assert(Option(r.get(5)).map(_.asInstanceOf[Double]) == second, "second_price")
    }
  }

  test("decimal-moment correlation matches a naive double corr to 1e-9 and stays in [-1,1]") {
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity", "l_extendedprice")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val got = Relational.relAggCorr(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    li.groupBy(_._1).foreach { case (rf, xs) =>
      val n = xs.length.toDouble
      val (sx, sy) = (xs.map(_._2).sum, xs.map(_._3).sum)
      val sxy = xs.map(t => t._2 * t._3).sum
      val (sxx, syy) = (xs.map(t => t._2 * t._2).sum, xs.map(t => t._3 * t._3).sum)
      val naive = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      val c = got(rf)
      assert(c >= -1.0 && c <= 1.0)
      assert(math.abs(c - naive) < 1e-9, s"$rf: $c vs naive $naive")
    }
  }

  test("count-min heavy hitters: sketch collision-free at test SF, CMS contract holds") {
    val exact = Tables.load(spark, sf, "lineitem").groupBy("l_suppkey")
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = Relational.heavyHitterEstimates(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // CMS never underestimates — the unconditional contract
    est.foreach { case (k, e) => assert(e >= exact.getOrElse(k, 0L), s"under-count at $k") }
    // collision-freeness at test SF (what licenses the exact-count
    // DuckDB oracle): 100 keys into 3 independent 65536-bucket rows
    assert(est.forall { case (k, e) => e == exact.getOrElse(k, 0L) },
      "sketch collided at test SF — the oracle's exact-count claim is void")
    // the shipped key is exactly the est-ordered top-10
    val top = Relational.relAggHeavyHitters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top.length == math.min(10, est.size))
    val want = est.toSeq.sortBy { case (k, e) => (-e, k) }.take(10)
    assert(top.toSeq == want)
  }

  test("Dataset.observe: pipeline metrics ride the main pass, no second scan") {
    // the operational pattern for 100 TB jobs: row counts / null counts /
    // value sums observed ON the production query's single pass (a
    // separate metrics query would double the scan cost)
    val observed = Tables.load(spark, sf, "orders")
      .observe("order_metrics",
        count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_price_nonnull"),
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
    val groups = observed.collect()
    val m = observed.queryExecution.observedMetrics("order_metrics")
    assert(m.getLong(0) == groups.map(_.getLong(1)).sum, "observed count != query's own total")
    assert(m.getLong(1) == m.getLong(0), "unexpected nulls in o_totalprice")
    assert(m.getDouble(2) > 0.0)
    // exactly one file scan in the executed plan — the metrics were free
    val scans = org.apache.spark.sql.graft.Bridge
      .runtimeOps(observed.queryExecution.executedPlan)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"observe added a scan: $scans")
  }

  test("AQE skew join: the runtime re-plan splits a skewed partition without manual salting") {
    // rel_join_skew_salted demonstrates MANUAL salting; this gate proves
    // the AQE path the scaladocs point to as the runtime alternative:
    // OptimizeSkewedJoin splits the oversized partition of a sort-merge
    // join mid-query. Thresholds are scoped down so the sf0.001 frame
    // trips them; result equality vs the plain join is asserted too.
    val scoped = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // sort-merge planning, which EngineConf's join knobs keep once
      // partitions pass 64m; this small fixture would plan shuffled-hash
      "spark.sql.join.preferSortMergeJoin" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "0")
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      // ~half of lineitem lands on skew key 0, the rest spread thin.
      // Two shape preconditions found by probing:
      //  - the right side must feed Sort <- ShuffleStage DIRECTLY (a
      //    distinct()'s final HashAggregate between them breaks
      //    OptimizeSkewedJoin's pattern match) -> join the already-unique
      //    orders key instead;
      //  - the map stage needs >1 task (a skewed reduce partition is
      //    split by MAPPER ranges; one mapper = one indivisible block)
      //    -> repartition(8) the input first.
      val skewed = Tables.load(spark, sf, "lineitem").repartition(8)
        .select(when(col("l_orderkey") % 2 === 0, 0L)
          .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
      val right = Tables.load(spark, sf, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      val joined = skewed.join(right, "k")
      // materialize joined ITSELF (count() would spawn a separate query
      // execution and leave this plan un-finalized by AQE)
      val n = joined.collect().length.toLong
      val smjs = org.apache.spark.sql.graft.Bridge
        .runtimeOps(joined.queryExecution.executedPlan)
        .collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, "expected a sort-merge join")
      assert(smjs.exists(_.isSkewJoin),
        s"AQE did not mark the join skew-optimized: ${smjs.map(_.isSkewJoin)}")
      // ground truth from an unskewed-config join on the same frames
      scoped.foreach { case (k, _) => spark.conf.unset(k) }
      val plain = Tables.load(spark, sf, "lineitem")
        .select(when(col("l_orderkey") % 2 === 0, 0L)
          .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
        .join(Tables.load(spark, sf, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderpriority")), "k")
        .count()
      assert(n == plain, s"skew-split changed the result: $n vs $plain")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("TopK.perGroup API guards: k >= 1, non-empty groups, session-rule name resolution") {
    val df = spark.range(10).selectExpr("id % 2 AS G", "id AS v")
    intercept[IllegalArgumentException](
      graft.plans.TopK.perGroup(df, Seq("G"), Seq("v" -> true), 0))
    intercept[IllegalArgumentException](
      graft.plans.TopK.perGroup(df, Seq.empty, Seq("v" -> true), 1))
    // resolves case-insensitively like the rest of the session (the old
    // exact-match find() rejected "g" against column "G")
    val r = graft.plans.TopK.perGroup(df, Seq("g"), Seq("v" -> true), 1).collect()
    assert(r.length == 2)
  }

  test("mergeable HLL rollup: error bound holds per group; union estimate is partitioning-invariant") {
    val est = Relational.relAggSketchMerge(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.load(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    // lgConfigK=14 → relative std error ~0.8%; 3% is a ~4σ gate
    est.foreach { case (k, e) =>
      val x = exact(k)
      assert(math.abs(e - x) <= math.max(2.0, 0.03 * x), s"$k: est $e vs exact $x")
    }
    // partitioning-invariance: the same partial-sketch rollup built from a
    // differently-partitioned source must land on identical estimates
    // (register merge is a max — commutative and associative)
    val re = Tables.load(spark, sf, "orders").repartition(7)
      .groupBy(col("o_orderpriority").as("priority"),
        date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"))
      .groupBy("priority")
      .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(sk, false)) AS BIGINT)")
        .as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(re == est, s"estimate changed under repartitioning: $re vs $est")
  }

  test("nearest as-of join: signed gaps bounded, prior preferred on ties, never farther than backward-only") {
    val nearest = Relational.relAsofNearest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(4)))
    val backward = Relational.relAsofJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) // user, click, gap
      .map { case (u, c, g) => (u, c) -> g }.toMap
    assert(nearest.nonEmpty && nearest.length >= backward.size,
      "nearest must cover at least every backward match")
    nearest.foreach { case (u, c, dir, gap) =>
      // signed convention: positive = prior view, negative = next view
      assert(math.abs(gap) <= 3600000000L, s"click $c gap $gap beyond 1h")
      assert((dir == "prior") == (gap >= 0), s"click $c direction/sign mismatch")
      // where a backward match exists, nearest never picks a farther view,
      // and an equal-distance tie resolves to the prior side
      backward.get((u, c)).foreach { bg =>
        assert(math.abs(gap) <= bg, s"click $c picked farther view ($gap vs $bg)")
        if (math.abs(gap) == bg) assert(dir == "prior", s"click $c tie not prior")
      }
    }
    // the forward direction must genuinely add matches (clicks whose only
    // in-range view is later) — else the nearest form is vacuous here
    assert(nearest.length > backward.size, "no forward-only matches in fixture")
  }

  test("retention cohorts equal a driver recompute; offset-0 cell covers the whole cohort") {
    val got = Relational.relRetentionCohorts(spark, sf).collect()
      .map(r => ((r.getDate(0).toString, r.getLong(1)), r.getLong(2))).toMap
    assert(got.nonEmpty)
    // driver recompute from raw events via the same week truncation
    val ev = graft.Tables.load(spark, sf, "events")
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val cohort = ev.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val naive = ev.groupBy { case (u, wk) =>
      (cohort(u).toString,
        java.time.temporal.ChronoUnit.DAYS.between(cohort(u), wk) / 7)
    }.map { case (k, xs) => k -> xs.map(_._1).distinct.size.toLong }
    assert(got == naive)
    // each cohort's offset-0 cell counts every member of the cohort
    val sizes = cohort.groupBy(_._2).map { case (c, xs) => c.toString -> xs.size.toLong }
    sizes.foreach { case (c, n) => assert(got((c, 0L)) == n, s"cohort $c offset 0") }
    // retention is live: some offset > 0 exists
    assert(got.keys.exists(_._2 > 0L), "no retention offsets in fixture")
  }

  test("quality checks: one scan, metrics equal driver recompute, pass flags consistent") {
    val df = Relational.relQualityChecks(spark, sf)
    val rows = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.map(_._1).toSeq ==
      Seq("completeness_custkey", "membership_orderstatus",
          "range_totalprice", "uniqueness_orderkey"))
    rows.foreach { case (rule, m, t, p) =>
      assert(m >= 0.0 && m <= 1.0, s"$rule metric $m out of [0,1]")
      assert(p == (m >= t), s"$rule passed flag inconsistent")
    }
    // driver recompute from the raw table
    val o = graft.Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus").collect()
    val n = o.length.toDouble
    val got = rows.map(r => r._1 -> r._2).toMap
    assert(got("completeness_custkey") == o.count(!_.isNullAt(1)) / n)
    assert(got("uniqueness_orderkey") == o.map(_.getLong(0)).distinct.length / n)
    assert(got("membership_orderstatus") ==
      o.count(r => Set("O", "F", "P")(r.getString(3))) / n)
    assert(got("range_totalprice") ==
      o.count(r => !r.isNullAt(2) &&
        r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1000000.0) / n)
    // the one-scan promise: adding rules must never add scans
    val scans = org.apache.spark.sql.graft.Bridge.runtimeOps(
      df.queryExecution.executedPlan)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"expected one orders scan, saw $scans")
  }

  test("running distinct: prefix-sum form equals naive expanding count(distinct)") {
    val got = Relational.relRunningDistinct(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // naive ground truth: for each day, distinct users with any event <= day
    val ev = graft.Tables.load(spark, sf, "events")
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString))
    val days = ev.map(_._2).distinct.sorted
    val naive = days.map(d => d -> ev.collect { case (u, dd) if dd <= d => u }
      .distinct.length.toLong).toMap
    got.foreach { case (d, _, cum) =>
      assert(cum == naive(d), s"day $d: cum $cum != naive ${naive(d)}")
    }
    // new_users telescopes into cum_users, and cum is monotone
    got.sliding(2).foreach {
      case Array((_, _, c1), (d2, nu2, c2)) =>
        assert(c2 == c1 + nu2, s"day $d2 telescoping broken")
        assert(c2 >= c1)
      case _ =>
    }
    assert(got.last._3 == ev.map(_._1).distinct.length.toLong)
  }

  test("rel_profile_approx: exact fields identical to rel_profile, distinct within HLL rsd") {
    def byCol(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r).toMap
    val exact = byCol(Relational.relProfile(spark, sf))
    val approx = byCol(Relational.relProfileApprox(spark, sf))
    assert(approx.keySet == exact.keySet && approx.size == 4)
    approx.foreach { case (c, a) =>
      val e = exact(c)
      // everything except the sketch slot is computed identically
      assert(a.getLong(1) == e.getLong(1), s"$c non-null differs")
      (3 to 6).foreach(i => assert(a.get(i) == e.get(i), s"$c field $i differs"))
      // HLL++ at rsd 0.02: allow 5 sigma plus slack for tiny cardinalities
      val (est, truth) = (a.getLong(2).toDouble, e.getLong(2).toDouble)
      assert(math.abs(est - truth) <= math.max(5.0, 0.10 * truth),
        s"$c distinct: est $est vs exact $truth")
    }
    // still a one-scan profile: the sketch swap must not add a scan —
    // and, unlike the exact twin, it must NOT plan an Expand: the whole
    // point of the HLL slot is bounded sketch state instead of the
    // rows × profiled-columns Expand replication (the 100 TB claim,
    // asserted here rather than argued in the scaladoc). Asserted on
    // the EXECUTED adaptive plan: since the r19 min/max-fold split the
    // two aggregate branches share the scan exchange via AQE runtime
    // stage reuse, which the initial static plan does not show.
    val apDf = Relational.relProfileApprox(spark, sf)
    apDf.collect()
    val ops = org.apache.spark.sql.graft.Bridge.runtimeOps(
      apDf.queryExecution.executedPlan)
    val scans = ops.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"expected one orders scan, saw $scans")
    assert(!ops.exists(_.nodeName.contains("Expand")),
      s"approx profile must not Expand: ${ops.map(_.nodeName).mkString(" | ")}")
  }
}
