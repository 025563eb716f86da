package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2.3) over small random
  * transaction databases, executed through the same Spark operators the
  * declared queries use. Uses raw scalacheck generators with fixed seeds
  * (the scalatest+scalacheck bridge artifact is not in the offline
  * cache), so every run checks the same deterministic sample set. */
class PropertiesSpec extends SparkSpec {

  private val vocab = ('a' to 'h').map(_.toString)

  private val txGen: Gen[List[Set[String]]] =
    Gen.chooseNum(5, 40).flatMap { n =>
      Gen.listOfN(n, Gen.someOf(vocab).map(_.toSet))
    }.map(_.map(s => if (s.isEmpty) Set("a") else s))

  private def samples(k: Int): Seq[List[Set[String]]] =
    (1 to k).map(i => txGen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private def freqItemsets(tx: List[Set[String]], minCount: Long): Map[Set[String], Long] = {
    val sp = spark
    import sp.implicits._
    val df = tx.zipWithIndex
      .flatMap { case (items, tid) => items.map(tid -> _) }
      .toDF("tid", "item")
    val a = df.select(col("tid"), col("item").as("ia"))
    val b = df.select(col("tid").as("tb"), col("item").as("ib"))
    val l1 = df.groupBy("item").agg(count(lit(1)).as("f"))
      .collect().map(r => Set(r.getString(0)) -> r.getLong(1))
    val l2 = a.join(b, col("tid") === col("tb") && col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("f"))
      .collect().map(r => Set(r.getString(0), r.getString(1)) -> r.getLong(2))
    (l1 ++ l2).filter(_._2 >= minCount).toMap
  }

  test("bucketed fimi layout: random frames round-trip exactly at any bucket count and partitioning") {
    val sp = spark
    import sp.implicits._
    val caseGen = for {
      n <- Gen.chooseNum(1, 60)
      tids <- Gen.listOfN(n, Gen.chooseNum(0L, 5000L)).map(_.distinct)
      rows <- Gen.sequence[List[(Long, Set[String])], (Long, Set[String])](
        tids.map(t => Gen.someOf(vocab).map(s =>
          t -> (if (s.isEmpty) Set("a") else s.toSet))))
      buckets <- Gen.chooseNum(1, 8)
      parts <- Gen.chooseNum(1, 5)
    } yield (rows, buckets, parts)
    (1 to 4).foreach { i =>
      val (rows, buckets, parts) =
        caseGen.pureApply(Gen.Parameters.default, Seed(4242L + i))
      val dest = tempDir(s"fimib-prop$i") + "/t.fimib"
      rows.map { case (t, s) => (t, s.toSeq) }.toDF("tid", "items")
        .repartition(parts)
        .write.format("fimi").option("buckets", buckets.toString)
        .mode("overwrite").save(dest)
      val back = spark.read.format("fimi").option("buckets", buckets.toString)
        .load(dest)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList)
      // exact multiset identity (tids unique by construction)
      assert(back.length == rows.length, s"case $i: row count")
      assert(back.toMap == rows.map { case (t, s) =>
        t -> s.toList.distinct.sorted }.toMap, s"case $i: content")
      // overwrite truncates the previous bucketed write completely
      if (i == 1) {
        rows.map { case (t, s) => (t, s.toSeq) }.toDF("tid", "items")
          .write.format("fimi").option("buckets", buckets.toString)
          .mode("overwrite").save(dest)
        val n2 = spark.read.format("fimi").option("buckets", buckets.toString)
          .load(dest).count()
        assert(n2 == rows.length, s"overwrite doubled rows: $n2 vs ${rows.length}")
      }
      // layout invariant: every line sits in pmod(tid, buckets)
      val base = new java.io.File(dest)
      (0 until buckets).foreach { k =>
        val bdir = new java.io.File(base, s"bucket=$k")
        assert(bdir.isDirectory, s"case $i: missing bucket dir $k")
        bdir.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
          scala.io.Source.fromFile(f).getLines().filter(_.trim.nonEmpty).foreach { l =>
            val tid = l.trim.split("\\s+").head.toLong
            assert(graft.sources.fimi.FimiBucketFunction.bucketOf(tid, buckets) == k,
              s"case $i: tid $tid in wrong bucket $k")
          }
        }
      }
    }
  }

  test("downward closure: subsets of frequent itemsets are frequent") {
    samples(6).foreach { tx =>
      val fi = freqItemsets(tx, 2)
      fi.keys.filter(_.size == 2).foreach { pair =>
        pair.subsets(1).foreach(sub => assert(fi.contains(sub)))
      }
    }
  }

  test("anti-monotonicity: raising minSupport shrinks the result set") {
    samples(6).foreach { tx =>
      val lo = freqItemsets(tx, 2).keySet
      val hi = freqItemsets(tx, 4).keySet
      assert(hi.subsetOf(lo))
    }
  }

  test("support bounds: pair support never exceeds either item support") {
    samples(6).foreach { tx =>
      val fi = freqItemsets(tx, 1)
      fi.filter(_._1.size == 2).foreach { case (pair, supp) =>
        pair.subsets(1).foreach { sub =>
          assert(supp <= fi.getOrElse(sub, 0L))
        }
      }
    }
  }

  test("TopKPerGroup equals the window formulation on random data (fixed-seed samples)") {
    val sp = spark
    import sp.implicits._
    val rowsGen: Gen[List[(Long, Long, Long)]] =
      Gen.chooseNum(1, 300).flatMap { n =>
        Gen.listOfN(n, for {
          g <- Gen.chooseNum(0L, 5L)   // few groups -> guaranteed fat groups
          v <- Gen.chooseNum(-50L, 50L) // narrow domain -> guaranteed ties
        } yield (g, v))
      }.map(_.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) })
    (1 to 5).foreach { i =>
      val data = rowsGen.pureApply(Gen.Parameters.default, Seed(1000L + i))
      val df = data.toDF("g", "v", "id").repartition(4)
      (1 to 7 by 3).foreach { k =>
        val custom = graft.plans.TopK
          .perGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), k)
          .orderBy("g", "id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v").desc, col("id"))
        val windowed = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).drop("rn")
          .orderBy("g", "id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(custom == windowed, s"sample $i k=$k")
      }
    }
  }

  test("SpaceSaving invariants hold on random skewed streams (fixed-seed samples)") {
    val sp = spark
    import sp.implicits._
    import graft.streaming.Streaming
    // zipf-ish skew: key k drawn ~ 1/(k+1) over a small domain, so some
    // keys are genuinely heavy and eviction genuinely fires at small caps
    val streamGen: Gen[List[Long]] =
      Gen.chooseNum(30, 200).flatMap { n =>
        Gen.listOfN(n, Gen.chooseNum(0.0, 1.0).map { u =>
          (math.pow(20.0, u).toLong - 1) // 0-heavy over ~[0, 19]
        })
      }
    (1 to 5).foreach { i =>
      val uids = streamGen.pureApply(Gen.Parameters.default, Seed(2000L + i))
      val evs = uids.zipWithIndex.map { case (u, j) =>
        Ev(new java.sql.Timestamp(1704067200000L + j * 1000L), u, "click", 1.0, j.toLong)
      }
      val truth = uids.groupBy(identity).view.mapValues(_.size.toLong).toMap
      for (shards <- Seq(1, 4); capacity <- Seq(3, 8, 64)) {
        val out = Streaming.heavyHittersStream(evs.toDF(), shards, capacity)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // summary is bounded and per-key unique
        assert(out.length <= shards * capacity, s"sample $i $shards/$capacity overflow")
        assert(out.map(_._1).distinct.length == out.length)
        // overestimate bookkeeping: truth <= est <= truth + err
        out.foreach { case (u, est, err) =>
          assert(truth(u) <= est && est <= truth(u) + err,
            s"sample $i $shards/$capacity u$u est=$est err=$err truth=${truth(u)}")
        }
        // the retention guarantee, per shard: any key with count >
        // N_shard/capacity must be in the summary
        val byShard = uids.groupBy(u =>
          math.floorMod(scala.util.hashing.byteswap64(u), shards.toLong))
        val kept = out.map(_._1).toSet
        byShard.foreach { case (_, shardUids) =>
          val nShard = shardUids.size
          shardUids.groupBy(identity).foreach { case (u, occ) =>
            if (occ.size.toLong * capacity > nShard)
              assert(kept(u), s"sample $i $shards/$capacity lost heavy key $u " +
                s"(${occ.size} of $nShard shard events)")
          }
        }
        // exact regime: capacity >= distinct keys -> exact counts, zero err
        if (capacity >= truth.size) {
          assert(out.map { case (u, est, _) => u -> est }.toMap == truth)
          assert(out.forall(_._3 == 0L))
        }
      }
    }
  }

  test("label propagation: fixed-round schedule reaches the union-find fixpoint " +
       "on long chains and random graphs") {
    val sp = spark
    import sp.implicits._
    def groundTruth(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(d => d -> find(d)).toMap
    }
    def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
      operators.LlmOps.labelPropagate(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // adversarial for the round bound: one 64-node chain, diameter 63 —
    // the scheduled ceil(log2 64)+1 = 7 rounds must cover it (2^7-1 = 127)
    val chain = (0L until 63L).map(i => (i, i + 1))
    assert(run(chain) == groundTruth(chain))
    // random sparse graphs: mixed chains, stars, isolated pairs
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.chooseNum(1, 80).flatMap { n =>
        Gen.listOfN(n, for {
          a <- Gen.chooseNum(0L, 40L)
          b <- Gen.chooseNum(0L, 40L) if a != b
        } yield (math.min(a, b), math.max(a, b)))
      }
    (1 to 4).foreach { i =>
      val es = edgeGen.pureApply(Gen.Parameters.default, Seed(7000L + i))
        .distinct.filter(e => e._1 != e._2)
      if (es.nonEmpty) assert(run(es) == groundTruth(es), s"sample $i")
    }
  }

  test("BFS core: frontier walk equals driver BFS on chains, stars, and random forests") {
    val sp = spark
    import sp.implicits._
    def groundTruth(edges: Seq[(Long, Long)], cap: Long): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).toSet }
      val seed = adj.keys.min
      var dist = Map(seed -> 0L)
      var frontier = Set(seed)
      var h = 0L
      while (frontier.nonEmpty && h < cap) {
        h += 1
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
        dist ++= frontier.map(_ -> h)
      }
      dist
    }
    def run(edges: Seq[(Long, Long)], cap: Long): Map[Long, Long] = {
      val sym = edges ++ edges.map(_.swap)
      operators.Mining.bfsFrom(sym.toDF("src", "dst"), cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // depth-cap adversary: a 12-node chain under an 8-hop cap must stop
    // exactly at depth 8, not at the chain's end
    val chain = (0L until 11L).map(i => (i, i + 1))
    val capped = run(chain, 8L)
    assert(capped == groundTruth(chain, 8L))
    assert(capped.values.max == 8L && capped.size == 9)
    // multi-component adversary: BFS must cover ONLY the seed's component
    val twoComp = Seq((0L, 1L), (1L, 2L), (10L, 11L))
    assert(run(twoComp, 8L) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // random sparse graphs: mixed chains, stars, isolated pairs
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.chooseNum(1, 60).flatMap { n =>
        Gen.listOfN(n, for {
          a <- Gen.chooseNum(0L, 30L)
          b <- Gen.chooseNum(0L, 30L) if a != b
        } yield (math.min(a, b), math.max(a, b)))
      }
    (1 to 4).foreach { i =>
      val es = edgeGen.pureApply(Gen.Parameters.default, Seed(8100L + i))
        .distinct.filter(e => e._1 != e._2)
      if (es.nonEmpty) assert(run(es, 8L) == groundTruth(es, 8L), s"sample $i")
    }
  }

  test("sessionization: per-user session count is within [1, events-per-user]") {
    val sessions = streaming.Streaming.streamSession(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum(col("cnt")).as("n_events"))
      .collect()
    assert(sessions.nonEmpty)
    sessions.foreach { r =>
      val ns = r.getLong(1); val ne = r.getLong(2)
      assert(ns >= 1 && ns <= ne)
    }
  }
  test("graft_ngrams matches a reference implementation on random strings") {
    val sp = spark
    import sp.implicits._
    // random texts over a tiny alphabet with deliberate doubled/leading/
    // trailing spaces so empty tokens are exercised
    val charGen = Gen.frequency(6 -> Gen.oneOf('x', 'y', 'z'), 3 -> Gen.const(' '))
    val textGen = Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, charGen)).map(_.mkString)
    val texts = (1 to 200).map(i => textGen.pureApply(Gen.Parameters.default, Seed(7L + i)))

    def reference(text: String, k: Int, distinct: Boolean, shortWhole: Boolean): Seq[String] = {
      val toks = text.split(" ", -1)
      if (toks.length < k) { if (shortWhole) Seq(text) else Seq.empty }
      else {
        val grams = toks.sliding(k).map(_.mkString(" ")).toSeq
        if (distinct) grams.distinct else grams
      }
    }

    val df = texts.toDF("text")
    for ((k, d, w) <- Seq((2, false, false), (3, true, true), (5, true, true), (1, true, false))) {
      val got = df.select(col("text"),
          graft.expressions.NGrams.ngrams(col("text"), k, d, w).as("g"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
      texts.distinct.foreach { t =>
        assert(got(t) == reference(t, k, d, w), s"text='$t' k=$k distinct=$d whole=$w")
      }
    }
  }

}
