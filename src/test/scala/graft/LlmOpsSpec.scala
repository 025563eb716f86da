package graft

import graft.expressions.{DotProduct, GraftExtensions, MinHashSig, NGrams, SimHashBits, TopRun}
import graft.operators.LlmOps
import org.apache.spark.sql.functions._

/** Validation for the oracle-free LLM ops (SURVEY.md §5.2.6) and sanity on
  * the similarity family. Exact Jaccard ground truth is computed
  * driver-side: the corpus token sets are tiny (≤31-token vocabulary). */
class LlmOpsSpec extends SparkSpec {

  private lazy val tokenSets: Map[Long, Set[String]] =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .toMap

  /** Ground-truth 5-token shingle sets, mirroring LlmOps.shingles. */
  private lazy val shingleSets: Map[Long, Set[String]] =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val toks = r.getString(1).split(" ", -1)
        val sh =
          if (toks.length < 5) Set(toks.mkString(" "))
          else toks.sliding(5).map(_.mkString(" ")).toSet
        r.getLong(0) -> sh
      }.toMap

  private def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  test("minhash candidates: estimates track exact shingle Jaccard, high-sim recall holds") {
    val cand = LlmOps.minhashNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cand.nonEmpty)
    // NOTE: candidates are SELECTED for est >= 0.7, so the estimator error
    // on this subset is biased upward — bound the mean error and the
    // precision, not each individual pair.
    val errs = cand.map { case (a, b, est) =>
      math.abs(est - jaccard(shingleSets(a), shingleSets(b)))
    }
    assert(errs.sum / errs.length <= 0.15, s"mean |est-exact| = ${errs.sum / errs.length}")
    val precise = cand.count { case (a, b, _) =>
      jaccard(shingleSets(a), shingleSets(b)) >= 0.5
    }
    assert(precise.toDouble / cand.length >= 0.8,
      s"precision ${precise}/${cand.length}")
    // recall: most truly-near pairs (J >= 0.9) must surface as candidates
    val ids = shingleSets.keys.toSeq.sorted
    val near = for {
      i <- ids; j <- ids if i < j
      if jaccard(shingleSets(i), shingleSets(j)) >= 0.9
    } yield (i, j)
    assert(near.nonEmpty, "corpus lost its near-dup pairs — recalibrate")
    val found = cand.map(c => (c._1, c._2)).toSet
    val hit = near.count(found.contains)
    assert(hit.toDouble / near.size >= 0.5, s"recall ${hit}/${near.size}")
  }

  test("shingling is order-aware: unigram-identical docs with different order differ") {
    // token-bag dedup groups (identical bags) need NOT share shingle sets —
    // that asymmetry is the whole reason to shingle. Just pin mechanics:
    // shingles of a >=5-token doc are contiguous 5-grams.
    val someDoc = shingleSets.keys.min
    val text = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") === someDoc).select("text").head.getString(0)
    val toks = text.split(" ", -1)
    if (toks.length >= 5)
      assert(shingleSets(someDoc).forall(s => s.split(" ", -1).length == 5))
  }

  test("near-dup block caps are live and default caps are no-ops at test SF") {
    val fullN = LlmOps.ngramJaccard(spark, sf).count()
    assert(fullN > 0)
    assert(LlmOps.ngramJaccardCapped(spark, sf, Int.MaxValue).count() == fullN)
    assert(LlmOps.ngramJaccardCapped(spark, sf, 1).count() == 0L)
    val fullE = LlmOps.embedCosineNeardup(spark, sf).count()
    assert(fullE > 0)
    assert(LlmOps.embedCosineNeardupCapped(spark, sf, Int.MaxValue).count() == fullE)
    assert(LlmOps.embedCosineNeardupCapped(spark, sf, 1).count() == 0L)
    val fullF = LlmOps.fuzzyEditdist(spark, sf).count()
    assert(fullF > 0)
    assert(LlmOps.fuzzyEditdistCapped(spark, sf, Int.MaxValue).count() == fullF)
    assert(LlmOps.fuzzyEditdistCapped(spark, sf, 1).count() == 0L)
    // co-occurrence vocab cap: default is a no-op; shrinking it restricts
    // pairs to exactly the top-df tokens
    val fullC = LlmOps.cooccurrence(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(fullC ==
      LlmOps.cooccurrenceCapped(spark, sf, Int.MaxValue).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet)
    val topDf = Tables.load(spark, sf, "documents")
      .select(explode(array_distinct(split(col("text"), " "))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(5)
      .collect().map(_.getString(0)).toSet
    val capped = LlmOps.cooccurrenceCapped(spark, sf, 5).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(capped.nonEmpty && capped.size < fullC.size)
    capped.foreach { case (a, b) => assert(topDf(a) && topDf(b)) }
  }

  test("vocab global-rank window caps are live and default caps are no-ops at test SF") {
    // zipf: default cap ≡ uncapped; shrinking keeps exactly the rank
    // prefix (rank and freq_frac of a prefix only depend on the prefix
    // + the global total, which stays all-token)
    val fullZ = LlmOps.zipfStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(fullZ ==
      LlmOps.zipfStatsCapped(spark, sf, Int.MaxValue).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq)
    assert(fullZ.size > 5, "corpus vocabulary too small for cap test")
    val cappedZ = LlmOps.zipfStatsCapped(spark, sf, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(cappedZ == fullZ.take(5))
    // token freq bands: same prefix-stability property, including the
    // integer cumulative sums and band labels (total stays all-token)
    val fullB = LlmOps.tokenFreqBands(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(fullB ==
      LlmOps.tokenFreqBandsCapped(spark, sf, Int.MaxValue).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq)
    val cappedB = LlmOps.tokenFreqBandsCapped(spark, sf, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(cappedB == fullB.take(5))
  }

  test("vocab encode: TakeOrdered cap is live and rank-prefix-stable") {
    def enc(cap: Int): Seq[(Long, Long, String)] =
      LlmOps.vocabEncodeCapped(spark, sf, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // default cap 64 covers the whole ≤31-token vocabulary at test SF,
    // so it must equal the uncapped ranking (the no-op guarantee the
    // hash oracle relies on)
    val full = enc(Int.MaxValue)
    assert(enc(64) == full)
    // live cap: with cap 3 only ids 1..3 survive, everything else OOV=0;
    // surviving ids must be the same as the full ranking's (the rank of
    // a prefix depends only on the prefix)
    val capped = enc(3)
    assert(capped != full, "cap=3 did not change the encoding — cap path dead")
    val fullIds = full.map { case (d, _, ids) => d -> ids.split(",").map(_.toLong) }.toMap
    capped.foreach { case (d, n, ids) =>
      val c = ids.split(",").map(_.toLong)
      val f = fullIds(d)
      assert(c.length == n && c.length == f.length)
      c.indices.foreach { i =>
        assert(c(i) >= 0L && c(i) <= 3L)
        if (c(i) > 0L) assert(c(i) == f(i), s"surviving id diverged at doc $d pos $i")
        else assert(f(i) == 0L || f(i) > 3L, s"id wrongly OOV'd at doc $d pos $i")
      }
    }
  }

  test("pack sequences: two-phase prefix-sum twin ≡ exact window, buckets live") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val exact = rows(LlmOps.packSequences(spark, sf))
    // default production width
    assert(rows(LlmOps.packSequencesScalable(spark, sf)) == exact)
    // shrunk width forces many live buckets per language (500 docs / 8
    // ≈ 63 buckets), exercising the offset-join recombination
    assert(exact.size > 8, "corpus too small to force multiple buckets")
    assert(rows(LlmOps.packSequencesBucketed(spark, sf, 8)) == exact)
  }

  test("quality quantile approx: keep-set matches the exact window up to the median boundary") {
    val exact = LlmOps.qualityQuantile(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(4)))
    val approx = LlmOps.qualityQuantileApprox(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(approx.length == exact.length)
    val exactKeep = exact.map(e => e._1 -> e._3).toMap
    val disagree = approx.filter { case (id, _, _, _, k) => exactKeep(id) != k }
    // PINNED measured disagreement (r14 verdict task 7: the ≤2%
    // allowance was a ceiling, not evidence). At this fixture the
    // sketch flips EXACTLY four keep-flags — one per non-English
    // language, each a single doc at its language's median boundary.
    // The pin is deterministic: percentile_approx is a fixed-seed
    // deterministic sketch over a fixed frame. If the fixture or the
    // sketch's accuracy parameter changes, re-measure and re-pin.
    assert(disagree.length == 4,
      s"${disagree.length}/${approx.length} keep-flags disagree (pinned: 4)")
    assert(disagree.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map("de" -> 1, "fr" -> 1, "es" -> 1, "zh" -> 1),
      s"disagreement drifted off the pinned per-language boundary set: " +
        disagree.groupBy(_._2).view.mapValues(_.length).toMap.toString)
    // approx keep decisions are internally consistent with the
    // broadcast threshold they carry
    approx.foreach { case (id, _, q, thr, k) =>
      assert(k == (q >= thr), s"doc $id keep flag inconsistent with threshold")
    }
  }

  test("ivf-cell knn graph: neighbors are the per-cell brute-force top-k; cap is live") {
    // cell assignment read off the semdedup surface (same memoized
    // kmeans assignment scan the graph builder uses)
    val cells = LlmOps.semDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      (src, c) <- cells.toSeq
      peers = cells.iterator.collect { case (v, cc) if cc == c && v != src => v }.toSeq
      (dst, rank) <- peers
        .map(v => (v, cos(vecs(src), vecs(v))))
        .sortBy { case (v, s) => (-s, v) }.take(3).map(_._1).zipWithIndex
    } yield (src, rank + 1L, dst)).toSet
    val got = LlmOps.knnGraphIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    // cap liveness: cap=2 keeps the 2 lowest vec_ids per cell; each
    // survivor from a ≥2-member cell has exactly one neighbor (its only
    // surviving cell-mate), while a singleton cell's survivor has no
    // cell-mate and so emits no edge rows at all
    val survivorPairs = cells.toSeq.groupBy(_._2)
      .map { case (c, vs) => c -> vs.map(_._1).sorted.take(2) }
    val paired = survivorPairs.valuesIterator.filter(_.size == 2).flatten.toSet
    assert(paired.size < survivorPairs.valuesIterator.map(_.size).sum,
      "corpus has no singleton k-means cell — liveness setup assumption broken")
    val capped = LlmOps.knnGraphIvfCapped(spark, sf, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.map(_._1).toSet == paired)
    capped.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length == 1 && rows.head._2 == 1L, s"src $src neighbor count")
    }
  }

  test("media decode parses real PNG/JPEG/GIF wire-format headers; raw passthrough otherwise") {
    // PNG: signature + IHDR, 640×480, color type 6 (RGBA) → 4 channels
    val png = (Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13).map(_.toByte) ++ "IHDR".getBytes("US-ASCII") ++
      Array(0, 0, 0x02, 0x80, 0, 0, 0x01, 0xE0, 8, 6, 0, 0, 0).map(_.toByte))
    assert(LlmOps.parseMediaHeader(png) == ("png", Some(640L), Some(480L), Some(4L)))
    // JPEG: SOI, an APP0 segment to skip, then SOF0 with height 100,
    // width 200, 3 components
    val jpeg = (Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10).map(_.toByte) ++
      Array.fill(14)(0.toByte) ++
      Array(0xFF, 0xC0, 0x00, 0x11, 8, 0x00, 0x64, 0x00, 0xC8, 3).map(_.toByte))
    assert(LlmOps.parseMediaHeader(jpeg) == ("jpeg", Some(200L), Some(100L), Some(3L)))
    // GIF89a logical screen 3×5 (little-endian dims)
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array(0x03, 0x00, 0x05, 0x00).map(_.toByte))
    assert(LlmOps.parseMediaHeader(gif) == ("gif", Some(3L), Some(5L), Some(3L)))
    // non-media payloads pass through as raw with null dims
    assert(LlmOps.parseMediaHeader("hello world".getBytes("US-ASCII")) ==
      ("raw", None, None, None))
    assert(LlmOps.parseMediaHeader(Array.empty[Byte]) == ("raw", None, None, None))
    // truncated JPEG (SOI only): identified but dimensionless
    assert(LlmOps.parseMediaHeader(Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)) ==
      ("jpeg", None, None, None))
  }

  test("audio decode parses real WAV/FLAC wire-format headers; raw passthrough otherwise") {
    def le16(v: Int) = Array(v & 0xff, (v >> 8) & 0xff).map(_.toByte)
    def le32(v: Int) =
      Array(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff).map(_.toByte)
    // WAV with a LIST chunk BEFORE fmt (proves the chunk walk): PCM,
    // 2 channels, 44100 Hz, 16 bits/sample
    val fmtPayload = le16(1) ++ le16(2) ++ le32(44100) ++ le32(176400) ++
      le16(4) ++ le16(16)
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(60) ++
      "WAVE".getBytes("US-ASCII") ++
      "LIST".getBytes("US-ASCII") ++ le32(6) ++ Array.fill(6)(0.toByte) ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ fmtPayload
    assert(LlmOps.parseAudioHeader(wav) ==
      ("wav", Some(44100L), Some(2L), Some(16L)))
    // odd-sized chunk before fmt: walk must word-align (pad byte)
    val wavOdd = "RIFF".getBytes("US-ASCII") ++ le32(60) ++
      "WAVE".getBytes("US-ASCII") ++
      "LIST".getBytes("US-ASCII") ++ le32(5) ++ Array.fill(6)(0.toByte) ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ fmtPayload
    assert(LlmOps.parseAudioHeader(wavOdd) ==
      ("wav", Some(44100L), Some(2L), Some(16L)))
    // FLAC STREAMINFO: 96000 Hz, 2 channels, 24 bits/sample.
    // sr 96000 = 0x17700 → bytes 0x17,0x70,0x0_; channels-1=1 (3 bits),
    // bps-1=23 (5 bits): byte20 = sr_low4<<4 | (ch-1)<<1 | bps_hi1,
    // byte21 = bps_low4<<4 | ...
    val srCh = Array(0x17, 0x70, (0x0 << 4) | (1 << 1) | 1, 0x7 << 4)
      .map(_.toByte)
    val flac = "fLaC".getBytes("US-ASCII") ++ le32(0) ++
      Array.fill(10)(0.toByte) ++ srCh ++ Array.fill(4)(0.toByte)
    assert(LlmOps.parseAudioHeader(flac) ==
      ("flac", Some(96000L), Some(2L), Some(24L)))
    // non-audio payloads pass through as raw with null fields
    assert(LlmOps.parseAudioHeader("hello world".getBytes("US-ASCII")) ==
      ("raw", None, None, None))
    assert(LlmOps.parseAudioHeader(Array.empty[Byte]) == ("raw", None, None, None))
    // truncated RIFF with no fmt chunk: identified, fields null
    val wavTrunc = "RIFF".getBytes("US-ASCII") ++ le32(4) ++
      "WAVE".getBytes("US-ASCII")
    assert(LlmOps.parseAudioHeader(wavTrunc) == ("wav", None, None, None))
    // MALFORMED chunk sizes from untrusted bytes must terminate the walk
    // (not spin or throw): 0xFFFFFFF8 reads as sz.toInt = -8 → zero
    // advance pre-fix; 0x7FFFFFFF overflows the int advance; a huge
    // in-int size walks past the buffer. All must yield wav/null-fields.
    for (badSz <- Seq(0xFFFFFFF8, 0x7FFFFFFF, 1000000)) {
      val evil = "RIFF".getBytes("US-ASCII") ++ le32(60) ++
        "WAVE".getBytes("US-ASCII") ++
        "LIST".getBytes("US-ASCII") ++ le32(badSz) ++ Array.fill(8)(0.toByte)
      assert(LlmOps.parseAudioHeader(evil) == ("wav", None, None, None),
        s"malformed chunk size 0x${badSz.toHexString} not contained")
    }
  }

  test("knn graph block cap: subset-capped hot blocks still yield k neighbors per survivor") {
    // default cap is a no-op at test SF
    val fullG = LlmOps.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fullG ==
      LlmOps.knnGraphCapped(spark, sf, Int.MaxValue).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // shrink the cap below every label-block size: survivors are the CAP
    // lowest vec_ids per label (truncation, not block drop), and every
    // survivor still gets exactly k=3 neighbors from the capped pool
    val cap = 5
    val byLabel = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._2).map { case (l, rs) => l -> rs.map(_._1).sorted.take(cap).toSet }
    val survivors = byLabel.values.flatten.toSet
    val capped = LlmOps.knnGraphCapped(spark, sf, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.map(_._1).toSet == survivors)
    assert(capped.map(_._3).toSet.subsetOf(survivors))
    capped.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L), s"src $src lost neighbors")
    }
  }

  test("native graft_minhash_sig is bit-identical to the exploded relational form") {
    val docs = Tables.load(spark, sf, "documents")
    val exploded = LlmOps.minhashSigExploded(spark, sf, 32).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    import org.apache.spark.sql.functions._
    val sig = docs.select(col("doc_id"),
        MinHashSig.minhashSig(
          when(size(split(col("text"), " ")) >= 5,
            array_distinct(transform(sequence(lit(0), size(split(col("text"), " ")) - lit(5)),
              i => concat_ws(" ", slice(split(col("text"), " "), i + lit(1), lit(5))))))
            .otherwise(array(col("text"))),
          32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(sig == exploded)
  }

  test("simhash near-dup pairs: banding is exact for hamming <= 3") {
    val fps = LlmOps.simhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (ia, ha) <- fps; (ib, hb) <- fps if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    val got = LlmOps.simhashNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "no simhash near-dups in corpus — assertion vacuous")
  }

  test("chunking: full coverage, stride-4 starts, tail may be short") {
    val chunks = LlmOps.chunk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val byDoc = chunks.groupBy(_._1)
    val texts = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val cs = byDoc(id).sortBy(_._2)
      assert(cs.head._2 == 0)
      // every token position is covered by at least one chunk
      val covered = cs.flatMap { case (_, ci, _, n) => (ci * 4) until (ci * 4 + n.toInt) }.toSet
      assert(covered == toks.indices.toSet, s"doc $id coverage hole")
      // chunk text matches the slice it claims
      cs.foreach { case (_, ci, chunk, n) =>
        assert(chunk == toks.slice(ci * 4, ci * 4 + 8).mkString(" "))
        assert(n == math.min(8, toks.length - ci * 4).max(0) || toks.length < 8)
      }
    }
  }

  test("quantization: qvals in [-127,127], sign-consistent, scale positive") {
    LlmOps.quantizeEmb(spark, sf).collect().foreach { r =>
      val q = r.getLong(2); val sc = r.getDouble(3)
      assert(q >= -127 && q <= 127, s"qval $q out of range")
      assert(sc > 0.0)
    }
  }

  test("native graft_simhash matches the HOF formulation on edge cases") {
    import org.apache.spark.sql.functions._
    // ties (2*ones == n must NOT set the bit), empty array (sig 0),
    // all-bits element, null elements (count toward the total, never
    // toward ones), and a NULL array (HOF yields 0; native is null →
    // the operator call sites coalesce to 0)
    val rows = spark.sql(
      """SELECT id, hs FROM VALUES
        |  (1, array(3L, 3L, 1L)),
        |  (2, array()),
        |  (3, array(-1L)),
        |  (4, array(1L, CAST(NULL AS BIGINT), 1L, 2L)),
        |  (5, array(5L, 5L, 2L, 2L)),
        |  (6, CAST(NULL AS ARRAY<BIGINT>))
        |AS t(id, hs)""".stripMargin)
    val got = rows.select(col("id"),
        coalesce(SimHashBits.simhash(col("hs")), lit(0L)).as("sig"),
        expr(graft.streaming.Streaming.SimhashFromHashesSql).as("ref"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (id, sig, ref) =>
      assert(sig == ref, s"row $id: native $sig != HOF $ref")
    }
    assert(got.find(_._1 == 2).get._2 == 0L)
    assert(got.find(_._1 == 3).get._2 == -1L)
  }

  test("simhash: fused sums ≡ per-bit explosion ≡ TypedImperativeAggregate") {
    val fused = LlmOps.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exploded = LlmOps.simhashExploded(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaAgg = LlmOps.simhashViaAgg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fused == exploded)
    assert(fused == viaAgg)
  }

  test("dedup clusters equal driver-computed connected components") {
    val pairs = LlmOps.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // union-find ground truth with min-id roots
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(d => d -> find(d)).toMap
    val got = LlmOps.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("LSH-fed clusters coarsen-or-equal exact clusters; exact clusters never split") {
    val exact = LlmOps.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = LlmOps.dedupClustersLsh(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    // the LSH edge set is a superset, so every exact-clustered doc is
    // LSH-clustered, and adding edges can only MERGE components: every
    // exact cluster maps into exactly one LSH cluster
    assert(exact.keySet.subsetOf(lsh.keySet),
      s"docs lost by LSH feeder: ${exact.keySet.diff(lsh.keySet)}")
    exact.groupBy(_._2).foreach { case (cid, members) =>
      val lshClusters = members.keys.map(lsh).toSet
      assert(lshClusters.size == 1,
        s"exact cluster $cid split across LSH clusters $lshClusters")
    }
    // coarsen-or-equal: restricted to the exact docs, LSH has no MORE clusters
    val lshCount = exact.keySet.map(lsh).size
    assert(lshCount <= exact.values.toSet.size)
  }

  test("LSH keep-best: exactly one keeper per LSH cluster, at the cluster's max quality") {
    val rows = LlmOps.dedupKeepBestLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cid, rs) =>
      val keepers = rs.filter(_._3)
      assert(keepers.length == 1, s"cluster $cid has ${keepers.length} keepers")
      assert(keepers.head._4 == rs.map(_._4).max, s"cluster $cid keeper not max-quality")
    }
    // membership matches the LSH cluster table exactly
    val lsh = LlmOps.dedupClustersLsh(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == lsh)
  }

  test("learned-codebook IVF: nprobe=k reproduces brute force; default recall >= 0.9") {
    val brute = LlmOps.similarityKnn(spark, sf).collect().map(_.getLong(0)).toSeq
    // probing every cell must reproduce the exact brute-force top-10
    val allCells = LlmOps.annIvfKmeansProbed(spark, sf, 8).collect().map(_.getLong(0)).toSeq
    assert(allCells == brute)
    val ann = LlmOps.annIvfKmeans(spark, sf).collect().map(_.getLong(0)).toSet
    val recall = brute.toSet.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall at default nprobe")
    // the knob is monotone: more probes never lowers recall
    val r2 = LlmOps.annIvfKmeansProbed(spark, sf, 2).collect().map(_.getLong(0)).toSet
      .intersect(brute.toSet).size
    assert(r2 <= ann.intersect(brute.toSet).size)
  }

  test("exact dedup groups contain identical token bags") {
    val fps = LlmOps.fingerprint(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    LlmOps.exactDedup(spark, sf).collect().foreach { r =>
      val fp = r.getString(0)
      val members = fps.filter(_._2 == fp).keys
      assert(members.size == r.getLong(1))
      val bags = members.map(tokenSets(_)).toSet
      assert(bags.size == 1, s"group $fp has differing bags")
    }
  }

  test("native graft_dot is bit-identical to the HOF fold") {
    val emb = Tables.load(spark, sf, "embeddings")
    val diffs = emb.select(
        DotProduct.dot(col("embedding"), col("embedding")).as("native"),
        LlmOps.dotHof(col("embedding"), col("embedding")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0)
  }

  test("graft_dot codegen for non-nullable inputs equals interpreted") {
    // neither the arrays nor their elements can be null, so the
    // expression is non-nullable and codegen declares no isNull variable
    def run(confs: (String, String)*): Seq[Double] = {
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val v = array(col("id").cast("double"), lit(2.0))
      val df = s.range(5).select(DotProduct.dot(v, v).as("d"))
      assert(!df.schema("d").nullable)
      df.collect().map(_.getDouble(0)).toSeq
    }
    val compiled = run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(compiled == interpreted)
    assert(compiled == (0 until 5).map(i => i * i + 4.0))
  }

  test("expression edges: dot null-element propagates, ngrams rejects bad args, empty minhash is null") {
    val sqlSession = spark.newSession()
    GraftExtensions.install(sqlSession)
    // a NULL element nulls the product, matching the HOF's null
    // propagation (a zeroed slot would silently read as 0.0)
    val row = sqlSession.sql(
      "SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(2.0D, 3.0D)) d")
      .collect().head
    assert(row.isNullAt(0), s"expected NULL, got $row")
    // bad ngrams arguments fail at build with the remedy, not a raw
    // ClassCastException / per-row ArrayIndexOutOfBounds at execution
    Seq(
      "SELECT graft_ngrams('a b', '2', true, true)",
      "SELECT graft_ngrams('a b', 0, true, true)",
      "SELECT graft_ngrams('a b', CAST(NULL AS INT), true, true)",
      "SELECT graft_ngrams('a b', 2)").foreach { q =>
      val e = intercept[Exception](sqlSession.sql(q).collect())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(e).exists(m => m != null && m.contains("graft_ngrams")),
        s"$q raised ${e.getClass}: ${e.getMessage}")
    }
    // empty/all-null token arrays have NO signature (a MaxValue sentinel
    // vector would make all empty docs perfect LSH near-dups)
    val mh = sqlSession.sql(
      """SELECT graft_minhash_sig(CAST(array() AS ARRAY<STRING>), 8) a,
        |       graft_minhash_sig(array(CAST(NULL AS STRING)), 8) b,
        |       graft_minhash_sig(array('x'), 8) c""".stripMargin).collect().head
    assert(mh.isNullAt(0) && mh.isNullAt(1) && !mh.isNullAt(2))
  }

  test("knn: 10 rows, sims in [-1,1], strictly ordered") {
    val sims = LlmOps.similarityKnn(spark, sf).collect().map(_.getDouble(1))
    assert(sims.length == 10)
    assert(sims.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
  }

  test("IVF ANN returns a subset of the brute-force ranking universe") {
    val brute = LlmOps.similarityKnn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bruteTop = brute.values.max
    val ivf = LlmOps.annIvf(spark, sf).collect()
    assert(ivf.nonEmpty && ivf.length <= 10)
    // no IVF hit can beat the global best
    ivf.foreach(r => assert(r.getDouble(1) <= bruteTop + 1e-12))
  }

  test("dedup result is invariant under input row permutation") {
    val base = LlmOps.exactDedup(spark, sf).collect().toSeq
    // same computation over a shuffled copy of the table
    val tmp = tempDir("perm")
    Tables.load(spark, sf, "documents").orderBy(rand(42))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val perm = LlmOps.exactDedup(spark, tmp).collect().toSeq
    assert(base == perm)
  }

  test("text-quality family: repetition/contamination/zipf/containment match driver-side ground truth") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    // repetition: exact bigram stats recomputed per doc
    val rep = LlmOps.repetition(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    for ((id, text, _) <- docs) {
      val toks = text.split(" ", -1)
      if (toks.length >= 2) {
        val bgs = toks.sliding(2).map(_.mkString(" ")).toSeq
        val counts = bgs.groupBy(identity).map(_._2.size)
        val (n, top, dup, dr) = rep(id)
        assert(n == bgs.size.toLong)
        assert(math.abs(top - counts.max.toDouble / bgs.size) < 1e-12)
        assert(math.abs(dup - (bgs.size - counts.size).toDouble / bgs.size) < 1e-12)
        assert(math.abs(dr - toks.distinct.length.toDouble / toks.length) < 1e-12)
      }
    }

    // contamination: 3-shingle hits vs the src0 benchmark set
    def sh3(text: String): Set[String] = {
      val t = text.split(" ", -1)
      if (t.length < 3) Set(text) else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val benchIds = docs.filter(_._3 == "src0").map(_._1).toSet
    val benchSh = docs.filter(_._3 == "src0").flatMap(d => sh3(d._2)).toSet
    val cont = LlmOps.contamination(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cont.keySet.intersect(benchIds).isEmpty, "benchmark docs must not score themselves")
    for ((id, text, src) <- docs if src != "src0") {
      val s = sh3(text)
      val (n, hit) = cont(id)
      assert(n == s.size.toLong && hit == s.count(benchSh).toLong)
    }

    // zipf: dense ranks in (freq desc, token) order, shares sum to 1
    val z = LlmOps.zipfStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val totalToks = docs.map(_._2.split(" ", -1).length.toLong).sum
    assert(z.map(_._2).sum == totalToks)
    assert(z.map(_._3).toSeq == (1 to z.length).map(_.toLong))
    assert(math.abs(z.map(_._4).sum - 1.0) < 1e-9)
    assert(z.sortBy(t => (-t._2, t._1)).map(_._3).toSeq == (1 to z.length).map(_.toLong))

    // containment: exact recompute incl. the df-cap stop-shingle filter
    val shAll = docs.map(d => d._1 -> sh3(d._2)).toMap
    val df = shAll.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val keptSh = shAll.map { case (id, s) => id -> s.filter(g => df(g) <= 50) }
    val expected = (for {
      (a, sa) <- shAll.toSeq; (b, sb) <- shAll.toSeq if a < b
      shared = keptSh(a).intersect(keptSh(b)).size
      if shared > 0
      c = shared.toDouble / math.min(sa.size, sb.size)
      if c >= 0.5
    } yield (a, b) -> (shared.toLong, c)).toMap
    val got = LlmOps.containmentDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (s, c)) =>
      assert(s == expected(k)._1 && math.abs(c - expected(k)._2) < 1e-12)
    }
  }

  test("incremental dedup / temperature weights / edit distance match driver-side recompute") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

    // incremental dedup: survivors = new docs whose token-bag fp is unseen in src0
    def fp(text: String): String = text.split(" ", -1).distinct.sorted.mkString(" ")
    val existing = docs.filter(_._3 == "src0").map(d => fp(d._2)).toSet
    val expectedSurvivors = docs.filter(d => d._3 != "src0" && !existing.contains(fp(d._2)))
      .map(_._1).toSet
    val got = LlmOps.incrementalDedup(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got == expectedSurvivors)

    // temperature weights: weights sum to 1, boost = weight/share, sqrt flattening
    val w = LlmOps.temperatureWeights(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(math.abs(w.map(_._4).sum - 1.0) < 1e-9)
    assert(math.abs(w.map(_._3).sum - 1.0) < 1e-9)
    w.foreach { case (_, n, share, weight, boost) =>
      assert(math.abs(boost - weight / share) < 1e-12)
    }
    // sqrt temperature flattens: smaller langs get boost > larger langs
    val sorted = w.sortBy(_._2)
    assert(sorted.head._5 >= sorted.last._5)

    // edit distance: exact DP recompute per emitted pair
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val cost = if (a(i - 1) == b(j - 1)) diag else diag + 1
          diag = prev(j)
          prev(j) = math.min(math.min(prev(j) + 1, prev(j - 1) + 1), cost)
        }
      }
      prev(b.length)
    }
    val text = docs.map(d => d._1 -> d._2).toMap
    val pairs = LlmOps.fuzzyEditdist(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b, d, sim) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val expected = lev(text(a), text(b))
      assert(d == expected.toLong, s"pair ($a,$b)")
      assert(sim >= 0.0 && sim <= 1.0)
      assert((d == 0L) == (text(a) == text(b)))
    }
  }

  test("perplexity proxy equals driver-side unigram recompute") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpusFreq = docs.flatMap(_._2.split(" ", -1)).groupBy(identity)
      .map { case (t, o) => t -> o.length.toLong }
    val got = LlmOps.perplexityProxy(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val (sumF, nT, mean) = got(id)
      assert(nT == toks.length.toLong)
      assert(sumF == toks.map(corpusFreq).sum)
      assert(math.abs(mean - sumF.toDouble / nT) < 1e-12)
    }
  }

  test("bloom prefilter: zero false negatives, fp rate bounded, pipeline equivalence") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def fp(text: String): String = text.split(" ", -1).distinct.sorted.mkString(" ")
    val existing = docs.filter(_._3 == "src0").map(d => fp(d._2)).toSet
    val flags = LlmOps.bloomPrefilter(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val newDocs = docs.filter(_._3 != "src0")
    assert(flags.keySet == newDocs.map(_._1).toSet)
    var fpCount = 0
    newDocs.foreach { case (id, text, _) =>
      if (existing.contains(fp(text)))
        assert(flags(id), s"FALSE NEGATIVE on doc $id — bloom contract broken")
      else if (flags(id)) fpCount += 1
    }
    // fpp=0.01 at 4096 capacity; corpus is far below capacity — allow 5x slack
    assert(fpCount.toDouble / newDocs.length <= 0.05, s"fp rate $fpCount/${newDocs.length}")
    // bloom-negative docs are exactly the incremental-dedup survivors minus fp'd ones:
    // survivors == all new docs that are not true dups
    val survivors = LlmOps.incrementalDedup(spark, sf).collect().map(_.getLong(0)).toSet
    newDocs.foreach { case (id, text, _) =>
      if (!flags(id)) assert(survivors.contains(id), s"bloom-negative doc $id not a survivor")
    }
    // zero-FN must hold at ANY shard count (shard(fp) is a pure function
    // of fp — a fingerprint probes exactly the bloom it was inserted into)
    val flags3 = LlmOps.bloomPrefilterSharded(spark, sf, 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    newDocs.foreach { case (id, text, _) =>
      if (existing.contains(fp(text)))
        assert(flags3(id), s"FALSE NEGATIVE on doc $id at numShards=3")
    }
  }

  test("mean pooling equals driver-side fold in vec_id order") {
    val embs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val expected = embs.groupBy(_._2).map { case (label, rows) =>
      val sorted = rows.sortBy(_._1)
      val acc = new Array[Double](64)
      sorted.foreach(r => for (i <- 0 until 64) acc(i) += r._3(i).toDouble)
      label -> (rows.length.toLong, acc.map(_ / rows.length))
    }
    val got = LlmOps.meanPoolEmb(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(got.keySet == expected.keySet)
    got.foreach { case (label, rows) =>
      val (n, mean) = expected(label)
      assert(rows.head._2 == n)
      rows.foreach { case (_, _, pos, c) => assert(c == mean(pos), s"label $label pos $pos") }
    }
  }

  test("mean pooling salt-sharded fold: multi-salt path live, ulp-close, deterministic") {
    // liveness precondition: shrinking the cap to 64 must split every
    // label's vec_id range into >1 salt (vec_ids are corpus-global and
    // span 0..499 at sf0.001, so DIV 64 yields ~8 salts)
    val nSalts = Tables.load(spark, sf, "embeddings")
      .select(expr("vec_id DIV 64").as("salt")).distinct().count()
    assert(nSalts > 1, "cap 64 produced a single salt — shard path dead")
    val flat = LlmOps.meanPoolEmb(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(2)), (r.getLong(1), r.getDouble(3)))).toMap
    val sharded = LlmOps.meanPoolEmbSharded(spark, sf, 64).collect()
      .map(r => ((r.getInt(0), r.getInt(2)), (r.getLong(1), r.getDouble(3)))).toMap
    assert(sharded.keySet == flat.keySet)
    sharded.foreach { case (k, (n, c)) =>
      val (fn, fc) = flat(k)
      assert(n == fn)
      // fp association differs ((a+b)+(c+d) vs (((a+b)+c)+d); the values
      // must agree to relative 1e-12 — far tighter than any downstream use
      assert(math.abs(c - fc) <= 1e-12 * math.max(1.0, math.abs(fc)),
        s"component diverged at $k: $c vs $fc")
    }
    // sharded path is itself deterministic (fixed salt frame + fold order)
    val again = LlmOps.meanPoolEmbSharded(spark, sf, 64).collect()
      .map(r => ((r.getInt(0), r.getInt(2)), (r.getLong(1), r.getDouble(3)))).toMap
    assert(again == sharded)
  }

  test("mean pooling is bit-invariant under input row permutation") {
    val base = LlmOps.meanPoolEmb(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val tmp = tempDir("mp-perm")
    Tables.load(spark, sf, "embeddings").orderBy(rand(7))
      .repartition(7)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val perm = LlmOps.meanPoolEmb(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(base == perm, "ordered fold must make pooling partition/order independent")
  }

  test("native graft_ngrams is element-identical to the HOF shingle/bigram forms") {
    // distinct shingles, k=3 and k=5, incl. short-doc whole-text branch
    for (k <- Seq(3, 5)) {
      val both = Tables.load(spark, sf, "documents").select(
          NGrams.ngrams(col("text"), k, true, true).as("native"),
          LlmOps.shinglesHof(col("text"), k).as("hof"))
        .collect()
      both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"k=$k"))
    }
    // non-distinct bigrams, short docs -> empty
    val toks = split(col("text"), " ")
    val bg = Tables.load(spark, sf, "documents").select(
        NGrams.ngrams(col("text"), 2, false, false).as("native"),
        when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
          .otherwise(array().cast("array<string>")).as("hof"))
      .collect()
    bg.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // edge cases: empty string, single token, doubled/leading/trailing spaces
    val sp = spark
    import sp.implicits._
    val edges = Seq("", "solo", "a b", "a  b", " a b ", "a a a a a a")
      .toDF("text")
    val eq = edges.select(col("text"),
        NGrams.ngrams(col("text"), 2, false, false).as("n2"),
        when(size(split(col("text"), " ")) >= 2,
          transform(sequence(lit(1), size(split(col("text"), " ")) - 1),
            i => concat_ws(" ", element_at(split(col("text"), " "), i),
              element_at(split(col("text"), " "), i + 1))))
          .otherwise(array().cast("array<string>")).as("h2"),
        NGrams.ngrams(col("text"), 5, true, true).as("n5"),
        LlmOps.shinglesHof(col("text"), 5).as("h5"))
      .collect()
    eq.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"bigrams of '${r.getString(0)}'")
      assert(r.getSeq[String](3) == r.getSeq[String](4), s"shingles of '${r.getString(0)}'")
    }
  }

  test("native graft_top_run is bit-identical to the HOF fold on real bigram arrays") {
    val toks = split(col("text"), " ")
    val arrays = Tables.load(spark, sf, "documents").select(
      col("doc_id"),
      sort_array(when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))).as("sbg"))
    val both = arrays.select(col("doc_id"),
        TopRun.topRun(col("sbg")).as("native"),
        LlmOps.topRunHof(col("sbg")).as("hof"),
        size(col("sbg")).as("n"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}")
      if (r.getInt(3) == 0) assert(r.getLong(1) == 0L)
    }
    // degenerate cases: empty, all-equal, all-distinct
    val sp = spark
    import sp.implicits._
    val edge = Seq(
      (Seq.empty[String], 0L),
      (Seq("a", "a", "a"), 3L),
      (Seq("a", "b", "c"), 1L),
      (Seq("a", "a", "b", "b", "b"), 3L)).toDF("arr", "expect")
    edge.select(TopRun.topRun(col("arr")).as("got"), col("expect"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("corpus export is consistent with its component operators") {
    val exported = LlmOps.corpusExport(spark, sf).collect().map(_.getLong(0)).toSet
    val srcOf = Tables.load(spark, sf, "documents").select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val quality = LlmOps.qualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    val cont = LlmOps.contamination(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val keep = LlmOps.dedupKeepBest(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val expected = srcOf.keySet.filter { id =>
      srcOf(id) != "src0" && quality(id) >= 0.65 &&
        cont(id) < 0.5 && keep.getOrElse(id, true)
    }
    assert(exported == expected && exported.nonEmpty)
    assert(exported.forall(id => srcOf(id) != "src0"))
  }

  test("bigram LM: conditional probabilities per w1 sum to 1, counts match corpus") {
    val rows = LlmOps.bigramLm(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (w1, grp) =>
      assert(math.abs(grp.map(_._4).sum - 1.0) < 1e-9, s"P(*|$w1) does not sum to 1")
    }
    val totalBigrams = Tables.load(spark, sf, "documents")
      .select("text").collect()
      .map(r => math.max(0, r.getString(0).split(" ", -1).length - 1).toLong).sum
    assert(rows.map(_._3).sum == totalBigrams)
  }

  test("knn graph equals driver-side per-source top-3 within label blocks") {
    val embs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = embs.flatMap { case (src, lab, ea) =>
      embs.filter(o => o._2 == lab && o._1 != src)
        .map(o => (o._1, cos(ea, o._3)))
        .sortBy { case (dst, sim) => (-sim, dst) }
        .take(3).zipWithIndex
        .map { case ((dst, _), i) => (src, i + 1L, dst) }
    }.toSet
    val got = LlmOps.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("PQ ANN: shortlist+rerank recall vs brute force, ADC distances sane") {
    val pq = LlmOps.annPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(pq.length == 10)
    // reranked similarity is monotone non-increasing; ADC distances sane
    pq.sliding(2).foreach(w => assert(w(0)._3 >= w(1)._3 - 1e-12))
    pq.foreach { case (_, d, sim) =>
      assert(d >= -1e-9 && d < 4.5)
      assert(sim >= -1.0 - 1e-9 && sim <= 1.0 + 1e-9)
    }
    // recall vs exact brute-force cosine top-10 (at this SF the ADC
    // shortlist covers the whole corpus, so rerank must be near-exact)
    val brute = LlmOps.similarityKnn(spark, sf).collect().map(_.getLong(0)).toSet
    val hit = pq.map(_._1).count(brute.contains)
    assert(hit >= 7, s"PQ recall $hit/10 vs brute force")
  }

  test("quality score stays within [0,1] and language scores are consistent") {
    LlmOps.qualityScore(spark, sf).collect().foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0 + 1e-12)
    }
    LlmOps.langId(spark, sf).collect().foreach { r =>
      val sc = r.getAs[Double]("stop_score")
      val pred = r.getAs[String]("pred_lang")
      assert((sc > 0.0) == (pred == "en"))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val docTexts: Map[Long, String] =
    Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("winnowing equals a driver-side recompute and respects the window-min guarantee") {
    val expected = docTexts.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val shingles =
        if (toks.length < 5) Seq(text)
        else toks.sliding(5).map(_.mkString(" ")).toSeq
      val hs = shingles.map(md5hex)
      val nw = math.max(1, hs.length - 3)
      id -> (1 to nw).map(i => hs.slice(i - 1, i - 1 + 4).min).distinct.toSet
    }
    val got = LlmOps.winnowing(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got == expected)
    // density: winnowing keeps strictly fewer fingerprints than full
    // shingling on any doc long enough to slide a window
    val fullCounts = docTexts.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(5).map(_.mkString(" ")).toSet.size
    }
    assert(expected.exists { case (id, fps) => fps.size < fullCounts(id) })
  }

  test("substring dedup equals a driver-side inverted-index recompute") {
    val spans = docTexts.map { case (id, text) =>
      val toks = text.split(" ", -1)
      id -> (if (toks.length < 8) Set(text)
             else toks.sliding(8).map(_.mkString(" ")).toSet)
    }
    val docsPerSpan = spans.toSeq.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val expected = spans.map { case (id, ss) =>
      val dup = ss.count(docsPerSpan(_) >= 2).toLong
      (id, ss.size.toLong, dup, dup.toDouble / ss.size)
    }.toSet
    val got = LlmOps.substringDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
    assert(got.exists(_._3 > 0), "no duplicated spans found at this sf")
  }

  test("importance weights equal an exact integer-ratio recompute") {
    val docSrc: Map[Long, String] =
      Tables.load(spark, sf, "documents").select("doc_id", "source")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = docTexts.toSeq.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val fAll = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val fTgt = toks.filter(t => docSrc(t._1) == "src0").flatMap(_._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap.withDefaultValue(0L)
    val nAll = fAll.values.sum
    val nTgt = fTgt.values.sum
    val expected = toks.map { case (id, ts) =>
      val num = ts.map(fTgt(_)).sum
      val den = ts.map(fAll(_)).sum
      (id, ts.length.toLong, (num.toDouble * nAll) / (den.toDouble * nTgt))
    }.toSet
    val got = LlmOps.importanceWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"spark-only: ${(got -- expected).take(3)}; gt-only: ${(expected -- got).take(3)}")
    // target-slice docs must on average up-weight vs the corpus LM
    val tgtIds = docSrc.collect { case (id, "src0") => id }.toSet
    val byId = expected.map(t => t._1 -> t._3).toMap
    val tgtMean = tgtIds.iterator.map(byId).sum / tgtIds.size
    val restIds = docSrc.keySet -- tgtIds
    val restMean = restIds.iterator.map(byId).sum / restIds.size
    assert(tgtMean > restMean, s"target mean $tgtMean <= rest mean $restMean")
  }

  test("bpe pair statistics equal a driver-side frequency-weighted recompute") {
    val vocab = docTexts.values.flatMap(_.split(" ", -1)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val expected = vocab.toSeq.filter(_._1.length >= 2)
      .flatMap { case (tok, f) =>
        (0 until tok.length - 1).map(i => tok.substring(i, i + 2) -> f)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = LlmOps.bpePairs(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("gopher rules equal a driver-side recompute and every rule discriminates") {
    val expected = docTexts.map { case (id, text) =>
      val tk = text.split(" ", -1)
      val n = tk.length.toLong
      val meanLen = tk.map(_.length.toLong).sum.toDouble / n
      val stops = tk.count(t => t == "a" || t == "the").toLong
      val dr = tk.distinct.length.toDouble / n
      val (okW, okM, okS, okD) =
        (n >= 20, meanLen >= 3.0 && meanLen < 5.0, stops >= 2, dr > 0.3)
      (id, n, meanLen, stops, dr, okW, okM, okS, okD, okW && okM && okS && okD)
    }.toSet
    val got = LlmOps.gopherRules(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9))).toSet
    assert(got == expected)
    // every rule must be live on this corpus — a flag that is constant
    // tests nothing (measured: 446/496/391/476 of 500 pass per rule,
    // keep = 352/500 at sf0.001)
    Seq(5, 6, 7, 8, 9).foreach { i =>
      val vals = got.map(_.productElement(i).asInstanceOf[Boolean])
      assert(vals == Set(true, false), s"flag at tuple index $i is constant: $vals")
    }
  }

  test("ann range search is consistent with top-k; prefix dedup keeps exactly the min per group") {
    // every top-10 hit at sim >= threshold must appear in the range result,
    // and every range row really clears the threshold
    val range = LlmOps.annRange(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    range.values.foreach(s => assert(s >= 0.25))
    LlmOps.similarityKnn(spark, sf).collect().foreach { r =>
      if (r.getDouble(1) >= 0.25)
        assert(range.get(r.getLong(0)).contains(r.getDouble(1)))
    }
    // IVF range search only ever MISSES candidates (cell restriction):
    // its hits are a subset of brute-force range at the same threshold,
    // with identical sims for shared ids
    val bruteLo = LlmOps.annRangeThreshold(spark, sf, 0.2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivfRange = LlmOps.annIvfRange(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(ivfRange.nonEmpty)
    ivfRange.foreach { case (id, s) => assert(bruteLo.get(id).contains(s)) }
    // prefix dedup: one keeper per prefix group, keeper = min doc_id
    val rows = LlmOps.prefixDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    rows.groupBy(_._2).foreach { case (_, g) =>
      val keepers = g.filter(_._3).map(_._1)
      assert(keepers.length == 1 && keepers.head == g.map(_._1).min)
    }
    // quality-quantile: per lang, keep-set is exactly the q_rank <= 0.5 half
    // and keep-rate is near one half
    val qq = LlmOps.qualityQuantile(spark, sf).collect()
      .map(r => (r.getString(1), r.getDouble(3), r.getBoolean(4)))
    qq.foreach { case (_, qr, keep) => assert(keep == (qr <= 0.5)) }
    qq.groupBy(_._1).foreach { case (lang, g) =>
      val rate = g.count(_._3).toDouble / g.size
      assert(rate > 0.3 && rate < 0.7, s"$lang keep rate $rate")
    }
  }

  test("semdedup: reported pairs are true near-dups in the same cell; recall vs brute force bounded") {
    val embs = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val ids = embs.keys.toSeq.sorted
    val bruteDropped = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      if cos(embs(ids(i)), embs(ids(j))) > 0.3
    } yield ids(j)).toSet
    val rows = LlmOps.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getBoolean(3)))
    assert(rows.length == embs.size)
    val cidOf = rows.map(t => t._1 -> t._2).toMap
    // driver-side union-find over the SAME within-cell pair set → exact
    // expected component representative for every clustered vector
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if cidOf(a) == cidOf(b) && cos(embs(a), embs(b)) > 0.3
    } { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val keptIds = rows.filter(_._4).map(_._1).toSet
    val dropped = rows.filter(!_._4)
    dropped.foreach { case (vid, cid, dupOf, _) =>
      val d = dupOf.get
      assert(d < vid, "representative must be the lower id")
      assert(cidOf(d) == cid, "representative must share the k-means cell")
      assert(d == find(vid), s"dup_of must be the component representative ($vid)")
      assert(keptIds.contains(d), s"dup_of target $d of $vid is itself dropped")
      // droppedness is the DIRECT-partner rule, not component membership
      assert(ids.exists(o => o < vid && cidOf(o) == cid && cos(embs(o), embs(vid)) > 0.3))
    }
    // kept rows carry no partner
    assert(rows.filter(_._4).forall(_._3.isEmpty))
    // cell blocking only ever MISSES pairs (precision 1.0): dropped ⊆ brute
    val droppedIds = dropped.map(_._1).toSet
    assert(droppedIds.subsetOf(bruteDropped))
    val recall = droppedIds.size.toDouble / bruteDropped.size
    info(s"semdedup recall vs brute force: $recall (${droppedIds.size}/${bruteDropped.size})")
    assert(recall >= 0.5, s"recall $recall collapsed (measured 0.67 on this corpus)")
  }

  test("bpe training: merge rules equal a driver-side recompute of the same algorithm") {
    val wc = Tables.load(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var words: Seq[(Seq[String], Long)] =
      wc.toSeq.map { case (w, c) => (w.toSeq.map(_.toString), c) }
    val expected =
      scala.collection.mutable.ListBuffer.empty[(Long, String, String, String, Long)]
    for (rank <- 1 to 10) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      words.foreach { case (syms, c) =>
        syms.sliding(2).withFilter(_.length == 2)
          .foreach(p => counts((p(0), p(1))) += c)
      }
      if (counts.nonEmpty) {
        val ((l, r), tot) = counts.toSeq.minBy { case ((a, b), t) => (-t, a, b) }
        expected += ((rank.toLong, l, r, l + r, tot))
        words = words.map { case (syms, c) => (LlmOps.bpeMerge(syms, l, r), c) }
      }
    }
    val got = LlmOps.bpeTrain(spark, sf).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getString(3),
        x.getLong(4))).toSeq
    assert(got == expected.toSeq)
    // depth liveness: some rule must merge onto an earlier merge result
    // (a multi-char left or right symbol), or ten rounds degenerated to
    // independent character bigrams
    assert(got.exists(g => g._2.length >= 2 || g._3.length >= 2),
      "no rule builds on a prior merge — vacuous fixture")
    // the greedy-leftmost substitution helper: overlapping runs merge
    // left to right ('aaa' + rule (a,a) -> ['aa','a'])
    assert(LlmOps.bpeMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    // encode pass: per-doc subword counts equal a driver recompute with
    // the same learned rules, and merging can only shorten words
    val rules = got.map(g => (g._2, g._3))
    val enc = LlmOps.bpeEncode(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(enc.length == texts.size)
    enc.foreach { case (id, wt, bt, fert) =>
      val ws = texts(id).split(" ", -1)
      var sub = 0L
      ws.foreach { w =>
        var syms: Seq[String] = w.toSeq.map(_.toString)
        rules.foreach { case (l, r) => syms = LlmOps.bpeMerge(syms, l, r) }
        sub += syms.length
      }
      assert(wt == ws.length.toLong && bt == sub, s"doc $id encode diverged")
      assert(bt <= ws.map(_.length).sum, s"doc $id grew under merging")
      assert(math.abs(fert - sub.toDouble / ws.length) < 1e-12)
    }
    // merges must actually fire somewhere: total subwords < total chars
    assert(enc.map(_._3).sum < texts.values.map(_.replace(" ", "").length.toLong).sum,
      "encode never merged anything — vacuous fixture")
  }

  test("source cap: the TopKPerGroup form keeps exactly K best per source and equals the window formulation") {
    val capped = LlmOps.sourceCap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    // the cap must BITE: every source holds more than K docs in the
    // fixture, so each contributes exactly K survivors, ranked 1..K
    val perSource = capped.groupBy(_._2)
    val total = Tables.load(spark, sf, "documents").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource.keySet == total.keySet)
    perSource.foreach { case (src, rows) =>
      assert(total(src) > 10, s"fixture source $src too small — cap vacuous")
      assert(rows.length == 10, s"$src kept ${rows.length}")
      assert(rows.map(_._4).sorted.toSeq == (1L to 10L), s"$src ranks broken")
    }
    // survivor set == the plain window formulation over the same scores
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
    val windowed = LlmOps.qualityScore(spark, sf).select("doc_id", "quality")
      .join(Tables.load(spark, sf, "documents").select("doc_id", "source"), "doc_id")
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
      .collect().map(r => (r.getLong(0), r.getInt(r.fieldIndex("rnk"))))
    assert(capped.map(r => (r._1, r._4.toInt)).toSet ==
      windowed.map(r => (r._1, r._2)).toSet)
  }
}
