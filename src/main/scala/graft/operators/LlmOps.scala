package graft.operators

import graft.Tables
import graft.expressions.DotProduct.dot
import graft.expressions.MinHashSig.minhashSig
import graft.expressions.NGrams.ngrams
import graft.expressions.SimHashAgg.simhashAgg
import graft.expressions.SimHashBits
import graft.expressions.TopRun.topRun
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §D — LLM-training-data pipeline operators (SURVEY.md §2.1.D plus the
  * scale-pipeline additions: dedup family, similarity search, text
  * analysis, fingerprinting, multimodal plumbing).
  *
  * Engine-parity design notes:
  *  - Vector math NEVER goes through decimal: DuckDB casts FLOAT→DECIMAL
  *    via the float's shortest repr while Spark goes via double (probed —
  *    they disagree). Instead: cast each element to DOUBLE (exact binary
  *    widening in both engines) and LEFT-FOLD the products in array order
  *    (`aggregate` HOF ≡ DuckDB `list_reduce` with a prepended 0.0).
  *    IEEE double + and * are deterministic given identical operand order,
  *    and sqrt is correctly rounded — so cosine/L2 are engine-identical.
  *  - Dedup keys on md5 of the canonical token bag (sorted distinct
  *    tokens): raw-text md5 groups are empty below sf0.1 in this corpus.
  *
  * Scale posture (100 TB):
  *  - dot products are per-row projections (no shuffle, no explode);
  *    brute-force knn is a broadcast of the probe row + TakeOrdered.
  *  - near-dup joins are *blocked* (LSH bands / (lang,n_chars) /
  *    label cells) so candidate generation shuffles on a bounded key,
  *    never the full cross product.
  *  - MinHash signatures are built by partial-aggregated min per
  *    (doc, perm) — the classic map-side-combine shape.
  */
object LlmOps {

  private val Stopwords = Seq("a", "the")

  /** Interpreted-HOF formulation of `graft_top_run` — test-only
    * equivalence anchor (LlmOpsSpec pins it bit-equal to the native
    * expression over the real corpus arrays). */
  def topRunHof(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Left-fold dot product in array order — engine-identical IEEE
    * doubles. The queries run it as the native codegen'd
    * [[graft.expressions.DotProduct]] (`dot`); this HOF formulation is
    * kept for the bit-equality test in LlmOpsSpec. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** DuckDB-side equivalents of dot/norm (same fold order, 0.0 init). */
  private def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(generate_series(1, len($a)),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x,y) -> x + y)""".stripMargin
  private def sqlNorm(a: String): String = s"sqrt(${sqlDot(a, a)})"

  /** Canonical token-bag fingerprint (rolling-hash-style doc identity). */
  private val fpCol: Column =
    md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))
  private val fpSql =
    "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"

  // ---------------------------------------------------------------- queries

  def tokenizeWordcount(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(50)

  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), fpCol.as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("dup_cnt"), min(col("doc_id")).as("canonical_id"))
      .filter(col("dup_cnt") > 1)
      .orderBy("fp")

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), fpCol.as("fp"))
      .orderBy("doc_id")

  /** k-token shingles (k=5) of a document — the real near-dup unit:
    * word ORDER matters, so re-ordered documents stop looking identical
    * (unigram token sets can't tell them apart). Documents shorter than
    * k tokens contribute their whole text as one shingle. Built by the
    * native one-pass [[graft.expressions.NGrams]] kernel (each shingle
    * is a byte-range view of the row — no interpreted lambda, no
    * per-token allocation); the HOF formulation is retained as
    * [[shinglesHof]] and pinned bit-equal in LlmOpsSpec. */
  private def shingles(text: Column, k: Int = 5): Column =
    ngrams(text, k, keepDistinct = true, shortWhole = true)

  /** Interpreted-HOF shingle formulation — test-only equivalence anchor. */
  def shinglesHof(text: Column, k: Int = 5): Column = {
    val toks = split(text, " ")
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - lit(k)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
      .otherwise(array(text))
  }

  /** MinHash + LSH banding near-dup candidates (no oracle — LSH banding
    * is not reasonably SQL-expressible; validated against exact shingle
    * Jaccard in LlmOpsSpec). Hashes 5-gram token SHINGLES (order-aware
    * doc identity, not unigram bags); 32 seeded xxhash64 permutations,
    * 4 bands × 8 rows.
    *
    * Scale shape: per-(doc, perm) partial-aggregated min (map-side
    * combine), then ONE array signature row per doc; band buckets larger
    * than `bucketCap` are dropped before pairing — the LSH analogue of
    * stopword removal, and the thing that keeps candidate generation from
    * going quadratic inside degenerate buckets at corpus scale. The
    * Jaccard estimate is a zip_with over the two signature arrays, not a
    * 32-row join. Output: candidate pairs with estimated Jaccard ≥ 0.7. */
  def minhashNeardup(s: SparkSession, dir: String): DataFrame =
    minhashCandidates(s, dir).orderBy("doc_a", "doc_b")

  /** Memoized MinHash candidate table — shared by `llm_minhash_neardup`
    * and the LSH-fed cluster labels, the way a pipeline materializes its
    * candidate-pair table once per corpus snapshot. */
  private def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    Tables.index(s, dir, "minhashCandidates") { computeMinhashCandidates(s, dir) }

  private def computeMinhashCandidates(s: SparkSession, dir: String): DataFrame = {
    val numPerm = 32
    val numBands = 4
    val rowsPerBand = numPerm / numBands
    val bucketCap = 1024 // no-op below sf0.1; bounds degenerate mega-buckets above
    // signatures via the native one-pass expression: a pure projection
    // off the scan, NO shuffle (the explode × permutations × groupBy-min
    // relational form is retained test-only as minhashSigExploded and
    // pinned bit-identical in LlmOpsSpec)
    // localCheckpoint: the signature table is referenced three times
    // (banding + both sides of the estimate join) — materialize the
    // small (doc, 32×long) frame once instead of re-hashing the corpus
    // per reference. At warehouse scale this is the signatures table a
    // pipeline would persist anyway.
    val sigArr = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        minhashSig(shingles(col("text")), numPerm).as("sig"))
      .localCheckpoint(true)
    val bandRows = sigArr.select(col("doc_id"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"), col("sig"))
      .select(col("doc_id"), col("band"),
        concat_ws(",", slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)))
          .as("band_key"))
    val smallBuckets = bandRows.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > 1 && col("bsz") <= bucketCap)
      .select("band", "band_key")
    val bucketed = bandRows.join(smallBuckets, Seq("band", "band_key"), "left_semi")
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sa = sigArr.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigArr.select(col("doc_id").as("db"), col("sig").as("sig_b"))
    cand.join(sa, "doc_a")
      .join(sb, col("db") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numPerm).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.7)
  }

  /** Reference relational formulation of the MinHash signature (explode
    * shingles × permutations → xxhash64 → per-(doc,perm) min) —
    * test-only: LlmOpsSpec pins it bit-identical to the native
    * `graft_minhash_sig` expression used by [[minhashNeardup]]. */
  def minhashSigExploded(s: SparkSession, dir: String, numPerm: Int): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(shingles(col("text"))).as("tok"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(numPerm - 1))).as("perm"), col("tok"))
      .select(col("doc_id"), col("perm"),
        xxhash64(col("tok"), col("perm").cast("long")).as("h"))
      .groupBy("doc_id", "perm").agg(min(col("h")).as("mh"))
      .groupBy("doc_id")
      .agg(transform(sort_array(collect_list(struct(col("perm"), col("mh")))),
        f => f.getField("mh")).as("sig"))

  /** Exact word-set Jaccard over (lang, n_chars)-blocked candidate pairs —
    * the verifiable n-gram-Jaccard dedup path. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardCapped(s, dir, ExactBlockCap)

  /** Default block cap for the exact (lang, n_chars)-blocked pair
    * family. 128 is a GLOBAL work bound, not a tuning knob: the cell
    * domain is bounded (|langs| × |plausible char lengths| ≈ 5 × ~650 ≈
    * 3 k cells), so capping each cell at 128 docs bounds TOTAL exact
    * pair work at cells × cap·(cap−1)/2 ≈ 26 M pairs at ANY corpus
    * size — the hot remainder belongs to the MinHash-LSH path by
    * contract. The round-13 sf10 probe is what moved this from 1024:
    * at 500 k docs the cells average 160 docs, so the old cap never
    * fired and candidate pairs went 629 k → 60.4 M in one decade
    * (quadratic — the pair aggregation alone held the probe > 30 min);
    * at 128 the valve drops the dense cells and sf10 carries 2.6 M
    * pairs (4.2× sf1, linear-shaped). No-op at every oracle SF (max
    * block 11 at sf0.1) and at sf1 (max block 55) — hashes unchanged. */
  private val ExactBlockCap = 128

  /** Blocked pair generation is quadratic INSIDE a block, so blocks
    * larger than `blockCap` are dropped entirely (same policy as the
    * MinHash bucket cap): one hot (lang, n_chars) cell must not go O(n²)
    * at corpus scale — see [[ExactBlockCap]] for the global bound. The
    * default cap is a proven no-op at test SFs (max block ≈ 11 rows at
    * sf0.1); LlmOpsSpec proves the cap path is live by shrinking it. */
  def ngramJaccardCapped(s: SparkSession, dir: String, blockCap: Int): DataFrame = {
    val docs0 = Tables.load(s, dir, "documents")
    val smallBlocks = docs0.groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= blockCap)
      .select("lang", "n_chars")
    val docs = docs0.join(broadcast(smallBlocks), Seq("lang", "n_chars"), "left_semi")
    val toks = docs.select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
    val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val a = docs.select(col("doc_id").as("doc_a"), col("lang"), col("n_chars"))
    val b = docs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"), col("n_chars").as("nc_b"))
    val pairs = a.join(b, col("lang") === col("lang_b")
      && col("n_chars") === col("nc_b") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val ta = toks.select(col("doc_id").as("doc_a"), col("tok"))
    val tb = toks.select(col("doc_id").as("db"), col("tok").as("tok_b"))
    pairs
      .join(ta, "doc_a")
      .join(tb, col("db") === col("doc_b") && col("tok_b") === col("tok"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("doc_a"), col("nt").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("nt").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Brute-force exact cosine top-10 to probe vector vec_id=0 — the knn
    * baseline (`llm_ann_ivf` is the bucketed scale path). Probe row is
    * broadcast; top-k runs as TakeOrdered, no global sort. */
  def similarityKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("embedding"), col("qe")) / (norm(col("embedding")) * norm(col("qe"))))
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF-style ANN: 8 fixed "centroids" (vec_id < 8), assign every vector
    * to its nearest centroid by L2², search only the probe vector's cell.
    * Deterministic: argmin tiebreak on centroid id; validated for recall
    * against brute force in LlmOpsSpec. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val d2 = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("cid"),
        aggregate(
          zip_with(col("embedding"), col("ce"),
            (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
          lit(0.0), (acc, v) => acc + v).as("d2"))
    val assign = d2
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("d2"), col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
    val probeCell = assign.filter(col("vec_id") === 0).select(col("cid").as("qcid"))
    val q = Tables.load(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    assign.join(broadcast(probeCell), col("cid") === col("qcid"))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("embedding"), col("qe")) / (norm(col("embedding")) * norm(col("qe"))))
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Embedding-cosine near-dup pairs, blocked by label cell. Norms are
    * precomputed per vector BEFORE the pair join (2k fold evaluations
    * instead of 2·|pairs|), so each pair costs exactly one dot fold. */
  def embedCosineNeardup(s: SparkSession, dir: String): DataFrame =
    embedCosineNeardupCapped(s, dir, 1024)

  /** Label blocks larger than `blockCap` are dropped before the pair
    * join (MinHash bucket-cap policy): all-pairs inside one fat label is
    * O(n²) at scale. The cap is part of the declared semantics, so the
    * DuckDB oracle models it too (a no-op at driver SFs — max label
    * block ≈ 218 rows at sf0.1 — but it ENGAGES at sf1 where every
    * label block is ≈ 2000 rows); LlmOpsSpec proves the cap path is
    * live. */
  def embedCosineNeardupCapped(s: SparkSession, dir: String, blockCap: Int): DataFrame = {
    val emb0 = Tables.load(s, dir, "embeddings")
    val smallBlocks = emb0.groupBy("label")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= blockCap)
      .select("label")
    val emb = emb0.join(broadcast(smallBlocks), Seq("label"), "left_semi")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("ed"),
        norm(col("embedding")).as("nrm"))
    val a = emb.select(col("vec_id").as("va"), col("label"),
      col("ed").as("ea"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vb"), col("label").as("label_b"),
      col("ed").as("eb"), col("nrm").as("nb"))
    a.join(b, col("label") === col("label_b") && col("va") < col("vb"))
      .select(col("va"), col("vb"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") > 0.3)
      .orderBy("va", "vb")
  }

  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("doc_cnt"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        countDistinct(col("source")).as("distinct_sources"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  /** Token counting: whitespace tokens + a BPE-ish piece count
    * (ceil(len/4) pieces per word, integer arithmetic only). */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        aggregate(
          transform(split(col("text"), " "),
            w => floor((length(w) + 3) / lit(4.0)).cast("long")),
          lit(0L), (acc, v) => acc + v).as("bpe_ish_tokens"),
        (col("n_chars").cast("double") / size(split(col("text"), " ")))
          .as("chars_per_token"))
      .orderBy("doc_id")

  /** Overlapping token chunks (window 8, stride 4) — the standard
    * pre-tokenization split for embedding/training pipelines. Chunk
    * count = max(1, ceil((n-8)/4)+1); the tail chunk may be short; docs
    * shorter than one window yield exactly one chunk. Pure per-row
    * explode — no shuffle at any scale. */
  def chunk(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nchunks = greatest(lit(1),
      ceil((size(toks) - lit(8)).cast("double") / 4.0).cast("int") + lit(1))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks"), nchunks.as("nc"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("nc") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", slice(col("toks"), col("chunk_idx") * 4 + 1, lit(8))).as("chunk"),
        size(slice(col("toks"), col("chunk_idx") * 4 + 1, lit(8))).cast("long")
          .as("chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** TF-IDF-style term scoring, LOG-FREE for engine parity: `ln` is
    * libm-dependent (implementations differ across engines, like `pow`
    * — see SURVEY §2.0), so the inverse-document-frequency factor is the
    * raw ratio N/df instead of ln(N/df). Rank order per document is
    * preserved (ln is monotone). All ratios are IEEE doubles from exact
    * integer counts in a fixed operation order.
    *
    * Scale shape: one shuffle by (doc, term) for tf; df is
    * vocab-bounded and broadcast; N is a broadcast 1-row frame. */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = docs.select(countDistinct(col("doc_id")).as("nd"))
    tf.join(dl, "doc_id")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"), col("cnt"),
        (col("cnt").cast("double") / col("dl")).as("tf"),
        (col("nd").cast("double") / col("df")).as("idf_ratio"),
        ((col("cnt").cast("double") / col("dl"))
          * (col("nd").cast("double") / col("df"))).as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** Int8 scalar quantization of embeddings (the ANN-index compression
    * step): per-vector scale = 127 / max|component|, q = floor(x·scale
    * + 0.5) — floor(+0.5) instead of round() because round()
    * implementations differ across engines while floor is exact.
    * Zero vectors take scale 1.0. Scalar (vec_id, pos, qval, scale)
    * output rows, canonically sortable. */
  def quantizeEmb(s: SparkSession, dir: String): DataFrame = {
    val mx = aggregate(
      transform(col("embedding"), x => abs(x.cast("double"))),
      lit(0.0), (a, v) => greatest(a, v))
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        when(mx > 0.0, lit(127.0) / mx).otherwise(lit(1.0)).as("scale"))
      .select(col("vec_id"), col("scale"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"),
        floor(col("x").cast("double") * col("scale") + 0.5).cast("long").as("qval"),
        col("scale"))
      .orderBy("vec_id", "pos")
  }

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ 3, found by
    * banding the 64-bit fingerprint into 4 × 16-bit keys — pigeonhole
    * guarantees any pair within hamming 3 collides in ≥ 1 band, so
    * banding is EXACT for this radius (recall 1.0 by construction,
    * asserted in LlmOpsSpec against a driver-side all-pairs scan).
    * Bucket cap bounds degenerate bands, as in MinHash. No oracle
    * (xxhash64). */
  def simhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val bucketCap = 1024
    // one (doc_id, long) row per doc, referenced 4× below (bucket sizing
    // + both self-join sides) — materialize the fingerprints once
    val sh = simhashRaw(s, dir).select(col("doc_id"), col("simhash"))
      .localCheckpoint(true)
    val bands = sh
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band"),
        expr("shiftright(simhash, CAST(band * 16 AS INT)) & 65535").as("band_key"))
    val smallBuckets = bands.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > 1 && col("bsz") <= bucketCap)
      .select("band", "band_key")
    val bucketed = bands.join(smallBuckets, Seq("band", "band_key"), "left_semi")
    bucketed.as("x").join(bucketed.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("hamming"))
      // filter BEFORE the dedup (r19 opt, guide §2.3): hamming is a
      // cheap codegen'd expression, and dropping >radius pairs first
      // shrinks the distinct's exchange to the (rare) true near-dups
      // instead of every band collision × up-to-4 duplicate bands
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** PII scrubbing (training-data hygiene): email addresses → <EMAIL>,
    * digit runs → <NUM>. The synthetic corpus contains neither (probed:
    * zero digit hits), so the op scrubs a deterministic audit line
    * appended per doc — the regex plumbing and hash-verified arithmetic
    * are real; the patterns are the ones a production scrubber starts
    * with. Regex subset chosen to behave identically in Java regex and
    * RE2 (character classes, +, no backtracking constructs). */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val line = concat(col("text"), lit(" uid="), col("doc_id"),
      lit(" mail=user"), col("doc_id"), lit("@example.com"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), line.as("raw"))
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("raw"), "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
          "[0-9]+", "<NUM>").as("scrubbed"),
        length(col("raw")).cast("long").as("raw_len"))
      .orderBy("doc_id")
  }

  /** Contiguous sequence packing (training-batch assembly): per lang,
    * docs in doc_id order are packed into ~512-token bins by prefix-sum
    * sharding — bin = floor(tokens_before / 512). Deterministic, one
    * shuffle by lang; the window is a running sum, not a buffer.
    *
    * SCALE CAVEAT: the running sum is a per-language unbounded-preceding
    * window, and one language is most of a real corpus — a single-task
    * scan of nearly everything at 100 TB. This exact-window form stays
    * as the declared oracle-checked shape; [[packSequencesScalable]] is
    * the production-scale twin (two-phase distributed prefix sum,
    * identical output — the `llm_quality_quantile`/`_approx` sibling
    * policy), and [[packStats]] reads the scalable feeder. */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("tok_cnt"))
      .withColumn("cum", sum(col("tok_cnt")).over(w))
      .select(col("doc_id"), col("lang"), col("tok_cnt"),
        floor((col("cum") - col("tok_cnt")).cast("double") / 512.0).cast("long").as("bin"))
      .orderBy("doc_id")
  }

  /** Scalable twin of [[packSequences]] — the classic TWO-PHASE
    * DISTRIBUTED PREFIX SUM, bit-identical output without any window
    * over an unbounded per-language frame:
    *  1. each doc lands in a doc_id-range bucket (`doc_id DIV width` —
    *     order-preserving, so (bucket asc, doc_id asc) ≡ doc_id asc);
    *  2. phase 1 aggregates per-(lang, bucket) partial token sums — a
    *     frame of corpus/width rows (width 2²⁰ ⇒ ~10⁵ rows per lang at
    *     10¹¹ docs), over which the cumulative-offset window runs
    *     bucket-bounded, and which broadcasts;
    *  3. phase 2 computes the within-bucket running sum under a window
    *     partitioned by (lang, bucket) — every partition ≤ width rows —
    *     and adds the broadcast offset. cum = offset + local prefix is
    *     exactly the global prefix, so bin assignment is unchanged.
    * The full DuckDB hash oracle applies (same SQL as the exact form);
    * LlmOpsSpec additionally pins scalable ≡ exact at a shrunk bucket
    * width that forces multiple live buckets per language. */
  def packSequencesScalable(s: SparkSession, dir: String): DataFrame =
    packSequencesBucketed(s, dir, 1 << 20)

  private[graft] def packSequencesBucketed(
      s: SparkSession, dir: String, bucketWidth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("tok_cnt"))
      .withColumn("bkt", expr(s"doc_id DIV $bucketWidth"))
    val offW = Window.partitionBy("lang").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = d.groupBy("lang", "bkt").agg(sum(col("tok_cnt")).as("part"))
      .withColumn("off", sum(col("part")).over(offW) - col("part"))
      .select(col("lang"), col("bkt"), col("off"))
    val inW = Window.partitionBy("lang", "bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("cum", col("off") + sum(col("tok_cnt")).over(inW))
      .select(col("doc_id"), col("lang"), col("tok_cnt"),
        floor((col("cum") - col("tok_cnt")).cast("double") / 512.0).cast("long").as("bin"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic (stopword-hit scoring). NOTE: the synthetic
    * corpus uses one shared 31-token vocabulary for every `lang` value, so
    * no content-based detector can beat chance here — this demonstrates
    * the operator mechanics, not accuracy. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val hits = size(filter(toks, t => t.isin(Stopwords: _*)))
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"), col("lang"),
        when(hits > 0, "en").otherwise("unk").as("pred_lang"),
        (hits.cast("double") / size(toks)).as("stop_score"))
      .orderBy("doc_id")
  }

  /** Quality scoring: distinct-token, stopword and short-token ratios
    * combined with fixed weights in a fixed fp operation order. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val stopRatio = size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / n
    val shortRatio = size(filter(toks, t => length(t) <= 2)).cast("double") / n
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("tok_cnt"),
        distinctRatio.as("distinct_ratio"),
        stopRatio.as("stop_ratio"),
        shortRatio.as("short_ratio"),
        (distinctRatio * 0.5 + (lit(1.0) - stopRatio) * 0.3
          + (lit(1.0) - shortRatio) * 0.2).as("quality"))
      .orderBy("doc_id")
  }

  /** PER-SOURCE CONTRIBUTION CAP — the domain-cap curation step of a
    * crawl pipeline (no single domain may dominate the training mix):
    * keep each source's top-10 docs by [[qualityScore]]'s quality
    * (tiebreak doc_id), ranked within the survivors. Runs through the
    * custom `TopKPerGroup` whole-operator — bounded per-group heaps
    * behind ONE hash exchange on source, so per-task memory is
    * K × sources/partitions however many billions of docs a domain
    * contributes; the presentation rank is a window over the already
    * capped ≤ K-row partitions, never the raw corpus. The quality
    * expression is the oracle-checked fixed-order double of
    * `llm_quality_score`, so the full hash oracle applies. */
  def sourceCap(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val stopRatio = size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / n
    val shortRatio = size(filter(toks, t => length(t) <= 2)).cast("double") / n
    val scored = Tables.load(s, dir, "documents").select(
      col("doc_id"), col("source"),
      (distinctRatio * 0.5 + (lit(1.0) - stopRatio) * 0.3
        + (lit(1.0) - shortRatio) * 0.2).as("quality"))
    val kept = graft.plans.TopK.perGroup(scored, Seq("source"),
      Seq("quality" -> false, "doc_id" -> true), k = 10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
    kept.withColumn("rnk", row_number().over(w).cast("long"))
      .orderBy("source", "rnk")
  }

  /** SimHash fingerprints (no oracle: DuckDB has no xxhash64). 64-bit
    * simhash over token hashes — bit b of the result is set when the
    * count of tokens with bit b set exceeds half the token count.
    *
    * FUSED shape: 64 codegen'd `sum((h >> b) & 1)` aggregates in ONE
    * hash aggregate over the token rows — the partial agg combines
    * map-side, so exactly one 65-counter row per doc reaches the
    * shuffle. (The naive form explodes 64 bit-rows per token — a 64×
    * shuffle blow-up; kept below as [[simhashExploded]] and pinned
    * equal in LlmOpsSpec.) */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashRaw(s, dir).orderBy("doc_id")

  /** [[simhash]] without the declared key's total ORDER BY — the
    * [[simhashNeardup]] feeder checkpoints and self-joins the
    * fingerprints, so paying a global range-partition + sort before the
    * checkpoint is pure waste (r19 opt, guide §2.4: an orderBy used only
    * to make output deterministic is an accidental exchange).
    *
    * r19 shape: a PURE PROJECTION through the native one-pass
    * [[graft.expressions.SimHashBits]] expression — hash each token
    * once, take the 64 bit-majorities in one tight JVM pass. The
    * previous fused form exploded tokens into a 65-sum hash aggregate:
    * correct and map-side-combined, but it paid an explode, a 65-buffer
    * aggregate and a shuffle for what is per-row arithmetic (guide §2.4:
    * remove shuffles outright; the signature never needed grouping).
    * The explode/aggregate reference forms stay below, spec-pinned
    * equal. The null-text filter replicates the exploded form's
    * semantics (explode of a null array emits no row). fanOut keeps the
    * per-row bit work off a single-row-group scan's one task. */
  private def simhashRaw(s: SparkSession, dir: String): DataFrame = {
    Tables.fanOut(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        SimHashBits.simhash(
          expr("transform(split(text, ' '), t -> xxhash64(t))")).as("simhash"))
  }

  /** Third formulation of [[simhash]] via the custom
    * `TypedImperativeAggregate` [[graft.expressions.SimHashAgg]] — one
    * 65-long buffer per (doc × partition) reaches the shuffle, mutated
    * in place per token. Test-only (LlmOpsSpec pins all three
    * formulations equal); the `llm_simhash` query keeps the 64-sum form
    * because it stays inside whole-stage codegen. */
  def simhashViaAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(simhashAgg(col("h")).as("simhash"))
      .orderBy("doc_id")
  }

  /** Reference formulation of [[simhash]] via per-bit row explosion —
    * test-only (LlmOpsSpec asserts fused ≡ exploded); NOT in `queries`. */
  def simhashExploded(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitVotes = toks
      .select(col("doc_id"), explode(sequence(lit(0), lit(63))).as("bit"), col("h"))
      .groupBy("doc_id", "bit")
      .agg(
        sum(expr("shiftright(h, CAST(bit AS INT)) & 1")).as("ones"),
        count(lit(1)).as("total"))
    bitVotes
      .select(col("doc_id"),
        when(col("ones") * 2 > col("total"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
          .otherwise(0L).as("bitval"))
      .groupBy("doc_id")
      .agg(sum(col("bitval")).as("simhash"))
      .orderBy("doc_id")
  }

  /** Multimodal join: text row ⋈ vector row on doc_id=vec_id. */
  def multimodalJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val emb = Tables.load(s, dir, "embeddings")
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("label"),
        length(col("text")).cast("long").as("text_len"),
        norm(col("embedding")).as("emb_norm"))
      .orderBy("doc_id")
  }

  /** Multimodal binary plumbing: treat content as an opaque binary column
    * with typed metadata. The "decode" step is a clearly-marked
    * deterministic STUB (byte length mod 256) standing in for a real
    * image/audio decoder — the schema/partitioning/plumbing is real. */
  def binaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_md5"),
        upper(substring(md5(col("text")), 1, 8)).as("chunk_key"),
        (length(col("text").cast("binary")) % 256).cast("long").as("stub_feature"))
      .orderBy("doc_id")

  /** Parse the image-container header of an opaque binary payload —
    * REAL wire-format decoding, pure byte arithmetic, no media libs:
    *  - PNG  (RFC 2083): 8-byte signature, then the IHDR chunk's
    *    big-endian width/height at offsets 16/20 and the color-type
    *    byte at 25 mapped to its channel count (0→1 gray, 2→3 RGB,
    *    3→1 palette, 4→2 gray+alpha, 6→4 RGBA).
    *  - JPEG (ITU T.81): FF D8 SOI, then a marker-segment walk (each
    *    segment FF xx + big-endian length) to the first SOFn frame
    *    header (C0–CF minus C4/C8/CC), whose payload is precision(1),
    *    height(2), width(2), components(1).
    *  - GIF  (87a/89a): 6-byte signature, little-endian logical-screen
    *    width/height at offsets 6/8.
    * Anything else is passed through as `raw` with null dimensions. */
  private[graft] def parseMediaHeader(
      b: Array[Byte]): (String, Option[Long], Option[Long], Option[Long]) = {
    def u8(i: Int): Int = b(i) & 0xff
    def be16(i: Int): Long = ((u8(i) << 8) | u8(i + 1)).toLong
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Long = (u8(i) | (u8(i + 1) << 8)).toLong
    val isPng = b.length >= 26 && u8(0) == 0x89 && u8(1) == 0x50 &&
      u8(2) == 0x4e && u8(3) == 0x47 && u8(4) == 0x0d && u8(5) == 0x0a &&
      u8(6) == 0x1a && u8(7) == 0x0a &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'
    if (isPng) {
      val channels = u8(25) match {
        case 0 => 1L; case 2 => 3L; case 3 => 1L; case 4 => 2L; case 6 => 4L
        case _ => 0L
      }
      ("png", Some(be32(16)), Some(be32(20)), Some(channels))
    } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      var out: (String, Option[Long], Option[Long], Option[Long]) =
        ("jpeg", None, None, None)
      var done = false
      while (!done && i + 3 < b.length) {
        if (u8(i) != 0xff) done = true // desynced — stop, keep nulls
        else u8(i + 1) match {
          case 0xff => i += 1 // fill byte before a marker
          case m if m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7) =>
            i += 2 // parameterless markers (SOI, TEM, RSTn)
          case 0xd9 => done = true // EOI before any frame header
          case m =>
            val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
            if (isSof && i + 9 < b.length) {
              out = ("jpeg", Some(be16(i + 7)), Some(be16(i + 5)), Some(u8(i + 9).toLong))
              done = true
            } else i += 2 + be16(i + 2).toInt
        }
      }
      out
    } else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      ("gif", Some(le16(6)), Some(le16(8)), Some(3L))
    } else ("raw", None, None, None)
  }

  /** Batch DECODE over opaque binary content via typed mapPartitions —
    * the Scala analogue of a Pandas-UDF/`mapInPandas` decode stage for
    * image/audio columns. The per-batch decoder is [[parseMediaHeader]]
    * — a REAL PNG/JPEG/GIF container-header parser (width, height,
    * channels straight from the public wire formats, deterministic
    * byte arithmetic) with a `raw` passthrough for non-media payloads.
    * Registered as `llm_media_meta`; the historical `llm_decode_stub`
    * key remains an alias for artifact continuity (rounds 1–6 shipped
    * a labeled stub here — the decoder has been real since round 7).
    * The synthetic corpus' text-as-binary payloads all take
    * the `raw` branch — the oracle hash-verifies exactly that — and
    * the PNG/JPEG/GIF branches are spec-gated on hand-built wire-format
    * bytes in LlmOpsSpec. */
  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val (fmt, w, h, c) = parseMediaHeader(bytes)
          (id, bytes.length.toLong, fmt, w, h, c)
        }
      }
      .toDF("doc_id", "n_bytes", "format", "width", "height", "channels")
      .orderBy("doc_id")
  }

  /** Parse the audio-container header of an opaque binary payload — the
    * audio sibling of [[parseMediaHeader]], REAL wire-format decoding in
    * pure byte arithmetic, no media libs:
    *  - WAV  (RIFF, Microsoft/IBM 1991): "RIFF" + LE size + "WAVE", then
    *    a chunk walk (each chunk = 4-byte id + LE32 size + word-aligned
    *    payload) to the "fmt " chunk, whose payload holds channels
    *    (LE16 @+2), sample rate (LE32 @+4), bits/sample (LE16 @+14).
    *  - FLAC (xiph.org): "fLaC" magic, then the mandatory first
    *    STREAMINFO metadata block (payload at byte 8): sample rate is
    *    the 20 bits starting at payload offset 10 (file bytes 18–20),
    *    followed by channels−1 (3 bits) and bits-per-sample−1 (5 bits).
    * Anything else passes through as `raw` with null fields. */
  private[graft] def parseAudioHeader(
      b: Array[Byte]): (String, Option[Long], Option[Long], Option[Long]) = {
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Long = (u8(i) | (u8(i + 1) << 8)).toLong
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
    def tag(i: Int, s: String): Boolean =
      b.length >= i + 4 && s.indices.forall(k => b(i + k) == s.charAt(k).toByte)
    if (tag(0, "RIFF") && b.length >= 12 && tag(8, "WAVE")) {
      var i = 12
      var out: (String, Option[Long], Option[Long], Option[Long]) =
        ("wav", None, None, None)
      var done = false
      while (!done && i + 8 <= b.length) {
        val sz = le32(i + 4)
        if (tag(i, "fmt ") && i + 8 + 16 <= b.length) {
          out = ("wav", Some(le32(i + 12)), Some(le16(i + 10)), Some(le16(i + 22)))
          done = true
        } else {
          // Chunk sizes come from untrusted corpus bytes. le32 is
          // unsigned (always in [0, 2^32)), so the walk always moves
          // strictly forward by advance >= 8; the only desync mode left
          // is an advance past the buffer — stop there with the fields
          // still null (mirroring the JPEG walk's desync-stop).
          val advance = 8L + sz + (sz & 1L)
          if (i.toLong + advance > b.length.toLong) done = true
          else i += advance.toInt
        }
      }
      out
    } else if (tag(0, "fLaC") && b.length >= 22) {
      val sr = (u8(18).toLong << 12) | (u8(19).toLong << 4) | (u8(20) >> 4)
      val ch = ((u8(20) >> 1) & 0x7) + 1L
      val bps = (((u8(20) & 1) << 4) | (u8(21) >> 4)) + 1L
      ("flac", Some(sr), Some(ch), Some(bps))
    } else ("raw", None, None, None)
  }

  /** Audio metadata extraction over opaque binary content — completes
    * the multimodal family next to the image decode ([[mediaMeta]]):
    * same typed mapPartitions batch plumbing, per-batch decoder is
    * [[parseAudioHeader]] (WAV/FLAC sample rate, channel count and bit
    * depth straight from the public wire formats). The synthetic
    * corpus' text-as-binary payloads all take the `raw` branch — the
    * oracle hash-verifies exactly that — and the WAV/FLAC branches are
    * spec-gated on hand-built wire-format bytes in LlmOpsSpec. */
  def audioMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val (fmt, sr, ch, bps) = parseAudioHeader(bytes)
          (id, bytes.length.toLong, fmt, sr, ch, bps)
        }
      }
      .toDF("doc_id", "n_bytes", "format", "sample_rate", "channels",
        "bits_per_sample")
      .orderBy("doc_id")
  }

  /** Frame sampling over opaque content (the video-pipeline shape:
    * decode → sample every Nth frame → per-frame features): content is
    * split into fixed 16-char "frames", every 4th frame is kept, and a
    * per-frame fingerprint + length is emitted. The content here is the
    * text column standing in for a binary stream (same stance as
    * [[binaryMeta]]; DuckDB 1.0 has no BLOB substring, and the corpus
    * is ASCII so char ≡ byte) — the explode/stride/per-frame-feature
    * plumbing is the real thing. Pure per-row explode, no shuffle. */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    val nFrames = ceil(length(col("text")).cast("double") / 16.0).cast("int")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), nFrames.as("nf"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), greatest(col("nf") - 1, lit(0)))).as("frame_idx"))
      .filter(col("frame_idx") % 4 === 0)
      .select(col("doc_id"), col("frame_idx"),
        md5(expr("substring(text, frame_idx * 16 + 1, 16)")).as("frame_md5"),
        length(expr("substring(text, frame_idx * 16 + 1, 16)")).cast("long")
          .as("frame_len"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Deterministic hash-based sampling (eval/train split style): keep
    * docs whose salted md5 starts with one of 2/16 hex digits — a stable
    * ~12.5% sample, identical on every engine and at every scale. */
  def hashSample(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(substring(md5(concat(lit("graft:"), col("doc_id").cast("string"))), 1, 1)
        .isin("0", "1"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  /** VOCABULARY BUILD + TOKEN-ID ENCODING — the tokenizer-training
    * shape: rank tokens by corpus frequency (stable ids: freq desc, tok
    * asc), keep the top-64 as the vocabulary, encode every document as
    * its position-ordered id sequence with 0 as the OOV id. The vocab
    * rank is a TakeOrdered top-cap prefix FIRST (`orderBy(freq desc,
    * tok).limit(cap)` — per-partition top-cap merged at the exchange,
    * the [[zipfStatsCapped]] pattern), THEN the row_number window over
    * the cap-bounded frame: the rank of a prefix depends only on the
    * prefix (freq desc, tok is a total order), so the ids are provably
    * identical to ranking the full distinct-token frame — without the
    * single-task global sort that frame (billions of rows at 100 TB)
    * would otherwise flow through. The encode side is a broadcast join
    * against the tiny vocab, so the corpus-sized path is one shuffle
    * (doc_id regroup). Ids emitted as a comma string for a canonical
    * hashable value. Cap liveness is spec-gated in LlmOpsSpec by
    * shrinking the cap. */
  def vocabEncode(s: SparkSession, dir: String): DataFrame =
    vocabEncodeCapped(s, dir, 64)

  private[graft] def vocabEncodeCapped(
      s: SparkSession, dir: String, cap: Int): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(cap)
      .withColumn("tok_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("tok"))).cast("long"))
      .select(col("tok"), col("tok_id"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("tok_id"), lit(0L)).as("id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_toks"),
        concat_ws(",", transform(
          sort_array(collect_list(struct(col("pos"), col("id")))),
          x => x.getField("id").cast("string"))).as("ids"))
      .orderBy("doc_id")
  }

  /** Deterministic TRAIN/VAL/TEST split — the three-way DISJOINT
    * partition every training corpus needs (vs [[hashSample]]'s
    * keep-or-drop rate): membership hangs off the first hex digit of a
    * salted md5, so it is stable under re-partitioning, re-ingestion,
    * appends (a doc's split never changes when the corpus grows), and
    * identical in every engine. 12/16 train, 2/16 val, 2/16 test; a
    * scan-local projection, no shuffle. */
  def datasetSplit(s: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        when(h.isin("c", "d"), "val")
          .when(h.isin("e", "f"), "test")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** Deterministic STRATIFIED sampling — class-balanced subsampling, the
    * training-data mixing knob (rebalance languages/sources without a
    * seed lottery): per-stratum keep rates applied via the same
    * content-stable hash as [[hashSample]], so the sample is reproducible
    * across engines, runs, and partitionings (no RNG, no seed plumbing;
    * md5 prefix < per-lang hex threshold ⇒ keep — '4' = 4/16 = 25 %,
    * '8' = 8/16 = 50 %). A scan-local filter: no shuffle, prunes to three
    * columns, and composes with any downstream op. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(substring(md5(concat(lit("graft:"), col("doc_id").cast("string"))), 1, 1)
        < when(col("lang").isin("de", "en", "es"), lit("4")).otherwise(lit("8")))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** Unit-normalized embeddings: each component divided by the vector's
    * norm — the standard pre-step for cosine ANN indexes. The norm is
    * computed ONCE per row in its own projection (an O(d) fold), not
    * inside the per-element lambda (which would be O(d²) per row).
    * Output is exploded to scalar (vec_id, pos, component) rows so the
    * result is canonically sortable/hashable by any engine — raw IEEE
    * doubles, positionally deterministic. */
  def normalizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")), col("nrm"))
      .select(col("vec_id"), col("pos"),
        (col("x").cast("double") / col("nrm")).as("component"))
      .orderBy("vec_id", "pos")
  }

  /** Duplicate CLUSTERS from near-dup pairs — dedup pipelines keep one
    * canonical doc per connected component, not per pair. Components are
    * found by iterative min-label propagation with pointer jumping
    * (label ← label of label), so convergence is O(log diameter)
    * rounds; each round is one shuffle-by-key join, no driver-side
    * collect of data (the loop's only actions are converged-yet counts).
    * Deterministic: cluster_id = smallest doc_id in the component.
    * Output covers every doc that appears in ≥1 near-dup pair. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir).orderBy("doc_id")

  /** Converged (doc_id, cluster_id) labels — memoized per session+dir:
    * `llm_dedup_clusters` and `llm_dedup_keep_best` share one label
    * propagation, the way a pipeline materializes its cluster table
    * once. */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    Tables.index(s, dir, "dedupClusterLabels") {
      labelPropagate(ngramJaccard(s, dir).select(col("doc_a"), col("doc_b")))
    }

  /** LSH-fed cluster labels — the feeder that survives at 100 TB. The
    * exact blocked-Jaccard pairs stay in (they are a subset of the truth)
    * but the MinHash LSH candidates (est_jaccard ≥ 0.7) are what scale:
    * candidate generation is banded buckets, never all-pairs. Memoized
    * like [[clusterLabels]] — one label table per corpus snapshot. */
  private def lshClusterLabels(s: SparkSession, dir: String): DataFrame =
    Tables.index(s, dir, "dedupClusterLabelsLsh") {
      val exact = ngramJaccard(s, dir).select(col("doc_a"), col("doc_b"))
      val lsh = minhashCandidates(s, dir).select(col("doc_a"), col("doc_b"))
      labelPropagate(exact.unionByName(lsh).distinct())
    }

  /** Dedup clusters over the union of exact-Jaccard and MinHash-LSH
    * candidate edges. No SQL oracle (the LSH edges are xxhash64-derived):
    * rows-only + LlmOpsSpec gates — LSH-fed clusters coarsen-or-equal the
    * exact clusters, and every exact cluster maps into exactly one LSH
    * cluster (adding edges can only merge components, never split). */
  def dedupClustersLsh(s: SparkSession, dir: String): DataFrame =
    lshClusterLabels(s, dir).orderBy("doc_id")

  /** Connected components over an undirected edge list by iterative
    * min-label propagation with pointer jumping (label ← label of label).
    * Reach after t rounds grows as 2^t − 1 hops (propagate extends one
    * hop, the jump doubles), so `ceil(log2(n)) + 1` rounds ALWAYS reach
    * the fixpoint for n labeled nodes (diameter ≤ n − 1). The schedule is
    * FIXED from that upfront bound — one driver count before the loop,
    * zero per-round driver syncs beyond the eager checkpoint — then one
    * verification round asserts the fixpoint (zero changed rows — an
    * exact join count, type-agnostic so string labels work; min-
    * propagation monotonicity makes changed==0 a true fixpoint) with an
    * adaptive fallback that is provably dead but keeps correctness
    * independent of the bound. Deterministic: cluster_id = smallest
    * label in the component (doc_id or item string alike). */
  private[graft] def labelPropagate(pairs: DataFrame): DataFrame = {
    // localCheckpoint (eager) rather than persist: iterative plans nest
    // the previous iteration's plan TWICE (propagate join + pointer
    // jump), so without lineage truncation the logical plan doubles per
    // round and Catalyst planning time goes exponential (measured: 387 s
    // at sf0.1 with persist-only; sub-second per round checkpointed).
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint(true)
    var labels = edges.select(col("doc_a").as("doc")).distinct()
      .withColumn("cluster_id", col("doc"))
      .localCheckpoint(true)
    def round(cur: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(cur.select(col("doc").as("doc_b"), col("cluster_id").as("nlbl")), "doc_b")
        .groupBy("doc_a").agg(min(col("nlbl")).as("nmin"))
        .select(col("doc_a").as("doc"), col("nmin"))
      val propagated = cur.join(nbrMin, Seq("doc"), "left")
        .select(col("doc"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("mid"))
      // pointer jump: adopt the label of my current label
      propagated
        .join(propagated.select(col("doc").as("mid"), col("mid").as("root")),
          Seq("mid"), "left")
        .select(col("doc"), least(col("mid"), coalesce(col("root"), col("mid"))).as("cluster_id"))
        .localCheckpoint(true)
    }
    // fixpoint test: EXACT changed-row count between rounds — works for
    // any label type (numeric doc ids AND string item labels), unlike a
    // label-sum, and min-label monotonicity guarantees changed==0 is a
    // true fixpoint, not a collision artifact. Full-outer so a row-set
    // drift between rounds (a doc dropped or added) counts as changed
    // rather than silently vanishing from the comparison.
    def changed(cur: DataFrame, next: DataFrame): Long =
      cur.select(col("doc"), col("cluster_id").as("prev"))
        .join(next, Seq("doc"), "full_outer")
        .filter(col("prev").isNull || col("cluster_id").isNull ||
          col("cluster_id") =!= col("prev")).count()
    val n = labels.count()
    if (n > 0) {
      val scheduled =
        math.ceil(math.log(n.toDouble.max(2.0)) / math.log(2.0)).toInt + 1
      for (_ <- 1 to scheduled) labels = round(labels)
      // fixpoint verification: one extra round + one joined count,
      // replacing the per-round driver sync of the adaptive-only loop
      var converged = false
      var guard = 0
      while (!converged && guard < 20) {
        val next = round(labels)
        converged = changed(labels, next) == 0L
        labels = next
        guard += 1
      }
      // min-label + pointer-jump converges in O(log n) rounds, so 20
      // verification rounds past the schedule can only be exhausted by a
      // bug — fail loudly rather than return wrong labels silently
      assert(converged,
        s"labelPropagate: no fixpoint after $scheduled scheduled + $guard verification rounds")
    }
    labels.select(col("doc").as("doc_id"), col("cluster_id"))
  }

  /** Canonical-survivor selection — the final stage of the dedup
    * pipeline (exact → near-dup pairs → clusters → KEEP ONE): within
    * each near-dup cluster keep the highest-quality doc (tiebreak
    * doc_id). Output marks every clustered doc keep/drop with its
    * quality score. Clusters are near-cliques, so the per-cluster
    * window is bounded. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame =
    keepBestOver(s, dir, clusterLabels(s, dir))

  /** Keep-best over the LSH-FED clusters — survivor selection on the
    * feeder that scales (exact → LSH candidates → clusters → keep one):
    * a user running the dedup pipeline at 100 TB keeps one canonical doc
    * per LSH component, not per exact-Jaccard component. Rows-only
    * (xxhash64 edges); LlmOpsSpec gates exactly-one-keeper-per-cluster
    * with the cluster's max quality. */
  def dedupKeepBestLsh(s: SparkSession, dir: String): DataFrame =
    keepBestOver(s, dir, lshClusterLabels(s, dir))

  private def keepBestOver(s: SparkSession, dir: String, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = qualityScore(s, dir).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"),
        (col("rn") === 1).as("keep"), col("quality"))
      .orderBy("doc_id")
  }

  /** Embedding-cosine dedup clusters — SEMANTIC dedup, the third feeder
    * of the cluster family (token-Jaccard = [[dedupClusters]], LSH =
    * [[dedupClustersLsh]], embedding cosine = here): connected components
    * over the [[embedCosineNeardup]] pair graph (cos > 0.3 within label
    * blocks), same fixed-round label propagation. Fully oracle-checked,
    * unlike the LSH variant: the cosine pairs are deterministic IEEE
    * left-folds in both engines (proven by llm_embed_cos_neardup's hash
    * match) and the closure is WITH RECURSIVE reachability in DuckDB. */
  def dedupClustersEmb(s: SparkSession, dir: String): DataFrame =
    Tables.index(s, dir, "dedupClusterLabelsEmb") {
      labelPropagate(embedCosineNeardup(s, dir)
        .select(col("va").as("doc_a"), col("vb").as("doc_b")))
    }.select(col("doc_id").as("vec_id"), col("cluster_id")).orderBy("vec_id")

  /** IVF ANN with a LEARNED codebook: k-means|| (seeded) centroids over
    * the corpus, nprobe nearest cells searched. The centroid table is
    * model metadata (k rows), joined into the plan as a broadcast — the
    * probe's cell choice and the candidate scan both stay distributed.
    * No SQL oracle (k-means is not SQL-enumerable): rows-only + recall
    * assertion vs brute force in LlmOpsSpec. nprobe is the recall/latency
    * knob; nprobe=k is exact brute force. Measured top-10 recall at
    * sf0.001: 0.8 at nprobe=2, 1.0 at nprobe=4 (the default). The
    * synthetic corpus is ISOTROPIC (top-10 cosine sims ≈ 0.3, no label
    * alignment — measured) — the worst case for any IVF index, which is
    * why half the cells must be probed here; clustered real corpora
    * concentrate neighbors in 1-2 cells. */
  def annIvfKmeans(s: SparkSession, dir: String): DataFrame =
    annIvfKmeansProbed(s, dir, nprobe = 4)

  /** The shared spherical k-means codebook, built ONCE per (session,
    * corpus) — a real deployment trains and persists the codebook;
    * queries only assign + search. Persisted through [[Tables.artifact]]
    * (ml's own save/load — exact centroid round-trip), so a cold JVM
    * loads the trained index instead of re-fitting it. Seeded fit ⇒ the
    * persisted model is the model a rebuild would produce. */
  private def sphericalCodebook(
      s: SparkSession, dir: String,
      feat: DataFrame): org.apache.spark.ml.clustering.KMeansModel =
    Tables.artifact(s, dir, "kmeansCodebook") {
      new org.apache.spark.ml.clustering.KMeans()
        .setK(8).setSeed(42L).setMaxIter(20)
        .setFeaturesCol("fv").setPredictionCol("cid")
        .fit(feat)
    }((m, path) => m.write.save(path))(
      org.apache.spark.ml.clustering.KMeansModel.load)

  def annIvfKmeansProbed(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Spherical IVF: the query ranks by COSINE, so the codebook must
    // partition the unit sphere — cluster UNIT-normalized vectors (L2 on
    // the sphere is monotone in cosine). Clustering raw vectors mixes
    // magnitude into the cells and costs recall (measured: 0.8 → 1.0
    // at sf0.001, nprobe=2). Norm is hoisted out of the per-element
    // lambda (one O(d) fold per row).
    val unit = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("u"))
    val feat = unit.select(col("vec_id"), col("embedding"),
      array_to_vector(col("u")).as("fv"))
    val model = sphericalCodebook(s, dir, feat)
    val assign = model.transform(feat).select(col("vec_id"), col("embedding"), col("cid"))
    import s.implicits._
    val cents = model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toArray) }.toDF("cid", "ce")
    val q = unit.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("u").as("qu"))
    val nearCells = cents.crossJoin(broadcast(q))
      .select(col("cid"),
        aggregate(zip_with(col("ce"), col("qu"),
          (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v).as("d2"))
      .orderBy(col("d2"), col("cid")).limit(nprobe)
      .select("cid")
    assign.join(broadcast(nearCells), Seq("cid"), "left_semi")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("embedding"), col("qe")) / (norm(col("embedding")) * norm(col("qe"))))
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Gopher-style repetition signals per document: the fraction of
    * bigram occurrences taken by the single most frequent bigram
    * (`top_frac`), the fraction that are repeat occurrences beyond each
    * bigram's first (`dup_frac`), and the distinct-token ratio — the
    * classic "remove boilerplate / degenerate repetition" filter of a
    * training-data quality pipeline.
    *
    * Scale shape: a PURE PROJECTION — per row, sort the bigram array and
    * take the longest equal-run via a fold (top multiplicity), and read
    * the duplicate count off `size - size(array_distinct)`. No explode,
    * no shuffle, no join: the operator is map-side-only and scales
    * embarrassingly (first cut exploded 100× rows through two shuffles
    * and cost 4.5× more at sf0.1 — measured 11.2 s → 2.5 s). All ratios
    * are single IEEE divisions of exact integer counts
    * (engine-identical). Documents shorter than two tokens have no
    * bigrams and drop out (same semantics both engines). */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val staged = Tables.load(s, dir, "documents").select(
      col("doc_id"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .as("distinct_ratio"),
      ngrams(col("text"), 2,
        keepDistinct = false, shortWhole = false).as("bg"))
      .select(col("doc_id"), col("distinct_ratio"), col("bg"),
        sort_array(col("bg")).as("sbg"))
    // longest equal-run of the sorted bigram array = max bigram
    // multiplicity — native codegen'd expression (the interpreted HOF
    // fold it replaces is kept as topRunHof, pinned bit-equal in
    // LlmOpsSpec)
    val top = topRun(col("sbg"))
    staged.select(
        col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        (top.cast("double") / size(col("bg")).cast("double")).as("top_frac"),
        ((size(col("bg")) - size(array_distinct(col("bg")))).cast("double")
          / size(col("bg")).cast("double")).as("dup_frac"),
        col("distinct_ratio"))
      .filter(col("n_bigrams") > 0)
      .orderBy("doc_id")
  }

  /** Benchmark-contamination check: for every document outside the
    * benchmark slice (source = 'src0' stands in for an eval set), the
    * count and fraction of its distinct 3-token shingles that appear
    * anywhere in the benchmark — the decontamination step every
    * training-data pipeline runs before a corpus ships.
    *
    * Scale shape: the benchmark shingle set is dim-table-sized relative
    * to the corpus (eval suites are tiny), so it is broadcast and the
    * probe side never shuffles for the join; per-doc hit counting then
    * partially aggregates on doc_id. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), explode(shingles(col("text"), 3)).as("g"))
    val bench = sh.filter(col("source") === "src0")
      .select("g").distinct().withColumn("hit", lit(1))
    sh.filter(col("source") =!= "src0")
      .join(broadcast(bench), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(
        col("doc_id"),
        col("n_shingles").cast("long").as("n_shingles"),
        col("n_hit").cast("long").as("n_hit"),
        (col("n_hit").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"))
      .orderBy("doc_id")
  }

  /** BENCHMARK DECONTAMINATION applied — [[contamination]] promoted from
    * a per-doc report to the curation ACTION: per source, how many docs
    * survive the ≥ 0.15 shingle-overlap drop rule and how many clean
    * characters remain — the audit row a pipeline publishes when it
    * removes eval-set leakage from a training corpus. The threshold test
    * compares the exact-integer-ratio double against 0.15 identically in
    * both engines (the fixture's overlap distribution spans 0–0.22 plus
    * two near-1.0 plants, so the rule genuinely fires).
    *
    * Scale posture: inherits [[contamination]]'s broadcast-benchmark
    * shape (eval suites are dim-sized), then one source-keyed map-side-
    * combined aggregate over the per-doc frame. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // LEFT join + coalesce-to-0, matching the oracle's LEFT JOIN: a doc
    // whose shingle explode yields no rows (e.g. NULL text) has nothing
    // to overlap with the benchmark, so it counts as clean — an inner
    // join would silently drop it from n_docs/n_kept (no fixture has
    // such a doc today, but the count semantics must not depend on that).
    val cont = contamination(s, dir).select(col("doc_id"), col("contamination"))
    Tables.load(s, dir, "documents")
      .filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(cont, Seq("doc_id"), "left")
      .withColumn("contamination", coalesce(col("contamination"), lit(0.0)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contamination") >= 0.15, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("contamination") < 0.15, col("n_chars")).otherwise(0L))
          .as("kept_chars"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        (col("n_docs") - col("n_dropped")).as("n_kept"), col("kept_chars"))
      .orderBy("source")
  }

  /** COLLOCATIONS — adjacent-bigram association strength (the
    * Manning-&-Schütze collocation table, with the same log-free lift
    * ratio as [[cooccurrence]] because ln is libm-dependent):
    * lift = c(ab)·N / (c(a)·c(b)) over POSITIONAL bigram/unigram counts
    * — ADJACENCY, where cooccurrence measures within-doc co-presence.
    * Support ≥ 0.02 % of bigram positions (integer cross-multiply) and
    * lift ≥ 1.05 (measured mid-gap: corpus p90 ≈ 1.04, p97 ≈ 1.08 at
    * sf0.1) keep the table to genuine collocations. The score is one
    * double division of two exact int64 products (c·N and c_a·c_b
    * bound by N² — DECIMAL(38,0) past ~3·10⁹ tokens).
    *
    * Scale posture: ONE bigram explode (the native [[shingles]] kernel,
    * no interpreted lambda) into a map-side-combined aggregate; the
    * vocabulary-bounded unigram aggregate (a flat split-explode, far
    * cheaper than the bigram pass) broadcasts onto each endpoint join;
    * N comes from a projection-only scan (Σ max(len−1, 0) ≡ Σ bigram
    * counts by construction) — NEVER a re-aggregation of the bigram
    * frame, which is what made the first formulation re-run the
    * heavy NGrams pass (measured 5.6 s → 0.56 s at sf0.1). */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val bc = Tables.load(s, dir, "documents")
      .select(explode(ngrams(col("text"), 2,
        keepDistinct = false, shortWhole = false)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cab"))
    val uc = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = broadcast(Tables.load(s, dir, "documents")
      .select(greatest(size(split(col("text"), " ")) - 1, lit(0))
        .cast("long").as("nb1"))
      .agg(sum("nb1").as("nb")))
    bc.select(col("cab"),
        split(col("b"), " ").getItem(0).as("word_a"),
        split(col("b"), " ").getItem(1).as("word_b"))
      .join(broadcast(uc), col("word_a") === col("w"))
      .withColumnRenamed("c", "ca").drop("w")
      .join(broadcast(uc), col("word_b") === col("w"))
      .withColumnRenamed("c", "cb").drop("w")
      .crossJoin(tot)
      .filter(col("cab") * 5000 >= col("nb"))
      .select(col("word_a"), col("word_b"), col("cab").as("n_adjacent"),
        ((col("cab") * col("nb")).cast("double")
          / (col("ca") * col("cb")).cast("double")).as("lift"))
      .filter(col("lift") >= 1.05)
      .orderBy(col("lift").desc, col("word_a"), col("word_b"))
  }

  /** END-TO-END CURATION PIPELINE — the C4-style chain as ONE declarative
    * plan: normalize → language gate (stopword-hit langid = 'en') →
    * quality gate (fixed-order score ≥ 0.64, between the corpus p05 and
    * p25) → exact dedup on the md5 of the NORMALIZED text (keep min
    * doc_id — normalization makes punctuation/case variants collide,
    * which raw-text fingerprints miss) → per-source cap (top-20 by
    * quality through the TopKPerGroup heap operator) → per-source corpus
    * report (docs, tokens, chars, quality floor). Every stage reuses the
    * oracle-proven expression of its standalone key, so the full chain
    * hash-checks end to end — the point: a real pipeline is these six
    * stages COMPOSED, and Catalyst still sees one plan to optimize
    * across (the gates collapse into one scan's filters before any
    * shuffle).
    *
    * Scale posture: one corpus scan for stage the gates + fingerprint;
    * dedup and cap are both bounded-heap TopKPerGroup exchanges (never a
    * global sort); the report is a source-keyed partial+final aggregate.
    * min(quality) is order-independent — no float sum crosses a
    * partition boundary. */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val stopRatio = size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / n
    val shortRatio = size(filter(toks, t => length(t) <= 2)).cast("double") / n
    val cleaned = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[.,!?;:]", ""), " +", " "))
    val staged = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), cleaned.as("norm_text"),
        (distinctRatio * 0.5 + (lit(1.0) - stopRatio) * 0.3
          + (lit(1.0) - shortRatio) * 0.2).as("quality"),
        size(filter(toks, t => t.isin(Stopwords: _*))).as("stop_hits"))
      .filter(col("stop_hits") > 0)
      .filter(col("quality") >= 0.64)
      .withColumn("fp", md5(col("norm_text")))
    val deduped = graft.plans.TopK.perGroup(
      staged.select(col("doc_id"), col("source"), col("norm_text"),
        col("quality"), col("fp")),
      Seq("fp"), Seq("doc_id" -> true), k = 1)
    val capped = graft.plans.TopK.perGroup(deduped, Seq("source"),
      Seq("quality" -> false, "doc_id" -> true), k = 20)
    capped.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("norm_text"), " "))).cast("long").as("total_toks"),
        sum(length(col("norm_text"))).cast("long").as("total_chars"),
        min(col("quality")).as("quality_floor"))
      .orderBy("source")
  }

  /** Corpus token-distribution (Zipf) table: per-token frequency, rank
    * by descending frequency, and share of all token occurrences — the
    * corpus statistics a pipeline reads before choosing stopword lists,
    * vocabulary cutoffs, and sampling temperatures. */
  def zipfStats(s: SparkSession, dir: String): DataFrame =
    zipfStatsCapped(s, dir, 65536)

  /** Capped form: the ranked table is restricted to the `vocabCap`
    * highest-frequency tokens (token tiebreak ⇒ total order ⇒ the cap
    * boundary is deterministic and rank-prefix-stable). The raw
    * distinct-token table of a 100 TB web corpus is billions of rows
    * (URLs, typos, numbers), so an UNPARTITIONED rank window over it is
    * a single-task global sort — the cap turns that into a TakeOrdered
    * (per-partition top-cap, merged on the driver side of the exchange)
    * followed by a window over a cap-bounded frame, and a Zipf/stopword
    * report only ever reads the head anyway. The share denominator is
    * the one-row global total aggregate (map-side combined, broadcast),
    * NOT a `sum over Window.partitionBy()` — same value, no window.
    * Default cap is a no-op at test SFs (≤31-token corpus vocabulary,
    * measured) so the hash oracle is unchanged; LlmOpsSpec proves the
    * cap path is live by shrinking it. */
  def zipfStatsCapped(s: SparkSession, dir: String, vocabCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val tot = tf.agg(sum(col("freq")).as("total"))
    tf.orderBy(col("freq").desc, col("token")).limit(vocabCap)
      .withColumn("rnk",
        rank().over(Window.orderBy(col("freq").desc, col("token"))).cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("token"), col("freq"), col("rnk"),
        (col("freq").cast("double") / col("total").cast("double")).as("freq_frac"))
      .orderBy("rnk")
  }

  /** Containment near-dup candidates via an inverted shingle index: the
    * asymmetric complement of [[ngramJaccard]] — `shared / min(|A|,|B|)`
    * catches a short document embedded inside a longer one, which
    * Jaccard's union denominator dilutes away.
    *
    * Scale shape: classic inverted-index candidate generation — explode
    * 3-token shingles, group to one posting list per shingle, drop "stop
    * shingles" whose document frequency exceeds `dfCap` (the bound that
    * keeps degenerate shingles from going quadratic — per-shingle work is
    * ≤ C(dfCap, 2)), then emit each posting list's doc-id combinations
    * directly from the grouped row (a projection explode, NOT a
    * self-join: one shuffle on the shingle + one on the pair, vs the
    * join formulation's three — measured 6.6 s → 4.1 s at sf0.1). */
  def containmentDedup(s: SparkSession, dir: String): DataFrame = {
    val dfCap = 50
    // fanOut + eager localCheckpoint on the doc projection: the 3-gram
    // shingling is the per-row-heavy stage here and it runs ×3 (posting
    // lists, sizes, corpus-min) — a single-row-group fixture scan would
    // serialize all three on one task (Tables.fanOut — no-op on wide
    // inputs), and the checkpoint materializes the two-column frame ONCE
    // so the three consumers read memory instead of re-scanning (the
    // same policy as the simhash fingerprint frame; at corpus scale a
    // pipeline materializes its doc projection before a 3-pass op).
    val docs = Tables.fanOut(Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")), col("doc_id"))
      .localCheckpoint(true)
    val sh = docs
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("g"))
    val byShingle = sh.groupBy("g")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) <= dfCap && size(col("ds")) >= 2)
    // all (ds[i], ds[j]) with i < j — ascending because ds is sorted
    val pairsOfShingle = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), i + 2, size(col("ds"))),
        y => struct(x.as("a"), y.as("b")))))
    // |shingle set| is size() of the (already-distinct) shingle array —
    // a pure projection, NOT a second explode+shuffle pass over the
    // corpus (the posting-list build above is the only tokenize pass
    // that shuffles; the two size-join probes read two columns each)
    val sz = docs
      .select(col("doc_id"), size(shingles(col("text"), 3)).cast("long").as("n"))
    val pairs = byShingle.select(explode(pairsOfShingle).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      // global-min prune BEFORE the size joins: containment ≥ 0.5 needs
      // shared ≥ 0.5·min(na,nb) ≥ 0.5·(corpus-min shingle count), so
      // 2·shared ≥ minN is NECESSARY — integer-exact, result-preserving.
      // On this degenerate corpus it cuts the join probe ~1000× (1.13 M
      // aggregated pairs → ~1 k; median shared is 1): the candidate
      // aggregation itself is irreducible (the 31-token vocabulary makes
      // every posting list dense — real corpora are sparser), but
      // everything after it collapses. The one-row min frame broadcasts
      // (the heavy-hitters totals pattern), no driver-side action.
      .join(broadcast(docs
        .select(size(shingles(col("text"), 3)).cast("long").as("n"))
        .agg(min(col("n")).as("min_n"))))
      .filter(col("shared") * lit(2L) >= col("min_n"))
      .drop("min_n")
    pairs
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        col("shared").cast("long").as("shared"),
        (col("shared").cast("double")
          / least(col("sa.n"), col("sb.n")).cast("double")).as("containment"))
      .filter(col("containment") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental corpus refresh: new documents (source ≠ 'src0' stands in
    * for the fresh crawl) that do NOT duplicate any existing corpus
    * document (source = 'src0') by canonical token-bag fingerprint — the
    * anti-join every pipeline runs before appending a crawl snapshot to
    * the training set.
    *
    * Scale shape: a fingerprint anti-join — both sides reduce to one
    * bounded-width hash row per doc before the shuffle; Catalyst plans
    * broadcast-anti when the existing-corpus side is small and
    * shuffle-anti otherwise (both correct here). */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val existing = docs.filter(col("source") === "src0")
      .select(fpCol.as("fp")).distinct()
    docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), fpCol.as("fp"), col("source"))
      .join(existing, Seq("fp"), "left_anti")
      .select("doc_id", "fp", "source")
      .orderBy("doc_id")
  }

  /** Multilingual temperature-resampling weights (T = 2, i.e. w ∝ √n —
    * sqrt is IEEE-correctly-rounded so it is engine-safe where pow() is
    * not): per-language document share, resampling weight, and the
    * upsample/downsample boost factor — the mixing knob used to keep
    * low-resource languages represented in a training mix.
    *
    * Determinism: the denominator Σ√n is a LEFT-FOLD over the per-lang
    * counts in lang order (sort_array of (lang, n) structs ≡ DuckDB
    * `list(n ORDER BY lang)`), not a float aggregate — the one place a
    * naive sum(double) would be partition-order-dependent. */
  def temperatureWeights(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(s, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val denom = counts
      .agg(sort_array(collect_list(struct(col("lang"), col("n_docs")))).as("ls"))
      .select(
        aggregate(col("ls"), lit(0.0),
          (acc, x) => acc + sqrt(x.getField("n_docs").cast("double"))).as("denom"),
        aggregate(col("ls"), lit(0L),
          (acc, x) => acc + x.getField("n_docs")).as("n_total"))
    val share = col("n_docs").cast("double") / col("n_total").cast("double")
    val weight = sqrt(col("n_docs").cast("double")) / col("denom")
    counts.crossJoin(broadcast(denom))
      .select(
        col("lang"),
        col("n_docs").cast("long").as("n_docs"),
        share.as("share"),
        weight.as("weight"),
        (weight / share).as("boost"))
      .orderBy("lang")
  }

  /** Blocked fuzzy similarity scoring via edit distance: levenshtein
    * distance and normalized similarity for every (lang, n_chars)-blocked
    * pair — the character-level complement of the token-set and shingle
    * near-dup family (catches typo-level mutations token sets miss).
    * Unthresholded: on this corpus char-level similarity tops out ≈0.32
    * (measured), so the key scores pairs rather than gating them; the
    * blocking bound is what matters at scale (same shape as
    * `llm_ngram_jaccard`, O(block²) never O(corpus²)). Levenshtein is
    * unit-cost edit distance in both engines — identical integers. */
  def fuzzyEditdist(s: SparkSession, dir: String): DataFrame =
    fuzzyEditdistCapped(s, dir, ExactBlockCap)

  /** Capped form: blocks larger than `blockCap` are dropped entirely —
    * the SAME policy (and the same broadcast-semi-join shape) as
    * [[ngramJaccardCapped]] and the MinHash bucket cap, because one hot
    * (lang, n_chars) cell (en × a common length) must not go O(n²) at
    * corpus scale (the [[ExactBlockCap]] global bound — and the
    * edit-distance kernel is O(len²) per pair, so this family needs it
    * even more than Jaccard). The default cap is a proven no-op at test
    * SFs (max block = 11 rows at sf0.1, measured), so the hash oracle is
    * unchanged; LlmOpsSpec proves the cap path is live by shrinking it.
    * `levenshtein` is computed ONCE per pair in a projected column and
    * both outputs derive from it (not two evaluations of the O(|ta|·|tb|)
    * kernel racing Catalyst CSE). */
  def fuzzyEditdistCapped(s: SparkSession, dir: String, blockCap: Int): DataFrame = {
    val d0 = Tables.load(s, dir, "documents")
      .select("doc_id", "lang", "n_chars", "text")
    val smallBlocks = d0.groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= blockCap)
      .select("lang", "n_chars")
    val d = d0.join(broadcast(smallBlocks), Seq("lang", "n_chars"), "left_semi")
    val a = d.select(col("doc_id").as("doc_a"), col("lang"),
      col("n_chars"), col("text").as("ta"))
    val b = d.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("n_chars").as("nc_b"), col("text").as("tb"))
    a.join(b, col("lang") === col("lang_b") && col("n_chars") === col("nc_b")
        && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("double").as("mx"))
      .select(
        col("doc_a"), col("doc_b"), col("edit_dist"),
        (lit(1.0) - col("edit_dist").cast("double") / col("mx")).as("sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** Perplexity-proxy quality score: each document's mean corpus
    * frequency of its tokens — the cheap unigram-LM stand-in for "how
    * generic is this text" (high = common boilerplate tokens, low = rare
    * vocabulary). log-free for engine parity (`ln` is libm-dependent):
    * the per-doc numerator Σ corpus-freq(token) stays an exact INTEGER
    * sum — order-independent where a sum of per-token log-probs would
    * not be — and the only float op is one final division.
    *
    * Scale shape: the token-frequency table is vocabulary-bounded →
    * broadcast; the probe side is explode + one doc-keyed partial
    * aggregation. */
  def perplexityProxy(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val tf = tok.groupBy("t").agg(count(lit(1)).as("f"))
    tok.join(broadcast(tf), "t")
      .groupBy("doc_id")
      .agg(sum(col("f")).as("sum_freq"), count(lit(1)).as("n_tokens"))
      .select(
        col("doc_id"),
        col("sum_freq").cast("long").as("sum_freq"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("sum_freq").cast("double") / col("n_tokens").cast("double"))
          .as("mean_tok_freq"))
      .orderBy("doc_id")
  }

  /** Deterministic mean-pooling of embeddings per label — class
    * centroids / document-set pooling, the aggregation every
    * embedding-space pipeline needs. A naive per-dimension float SUM is
    * partition-order-dependent; instead each label's vectors are
    * collected in vec_id order and LEFT-FOLDED elementwise (the same
    * fold discipline as the dot product), then divided by the count
    * once — bit-identical across engines and partitionings. Output is
    * exploded to scalar (label, pos, component) rows.
    *
    * Scale: per-label state is the 64-double accumulator, but the
    * collect_list is O(group size) — past executor-sized groups the fold
    * SHARDS by a deterministic salt (`vec_id DIV groupCap`): per-(label,
    * salt) partial folds (each ≤ groupCap vectors, collect bounded),
    * then a per-label fold of the per-salt partials in salt order (the
    * partial frame is group/groupCap rows of one 64-double array each).
    * Salt assignment and both fold orders are data-deterministic, so the
    * sharded result is engine- and partitioning-stable like the flat
    * fold; the two differ only in fp association ((a+b)+(c+d) vs
    * ((a+b)+c)+d), so the default cap is sized as a no-op at test SFs
    * (single salt ⇒ bit-identical, hash oracle unchanged) and LlmOpsSpec
    * proves the multi-salt path live and ulp-close. */
  def meanPoolEmb(s: SparkSession, dir: String): DataFrame =
    meanPoolEmbSharded(s, dir, 1 << 20)

  private[graft] def meanPoolEmbSharded(
      s: SparkSession, dir: String, groupCap: Int): DataFrame = {
    val dim = 64 // embeddings table dimension (TESTDATA.md)
    val zeros = array((0 until dim).map(_ => lit(0.0)): _*)
    val partials = Tables.load(s, dir, "embeddings")
      .withColumn("salt", expr(s"vec_id DIV $groupCap"))
      .groupBy("label", "salt")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("vs"),
        count(lit(1)).as("n"))
      .select(col("label"), col("salt"), col("n"),
        aggregate(col("vs"), zeros,
          (acc, v) => zip_with(acc, v.getField("embedding"),
            (a, x) => a + x.cast("double"))).as("psum"))
    val pooled = partials
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("salt"), col("psum")))).as("ps"),
        sum(col("n")).as("n"))
      .select(col("label"), col("n"),
        aggregate(col("ps"), zeros,
          (acc, p) => zip_with(acc, p.getField("psum"), (a, x) => a + x)).as("sums"))
    pooled
      .select(col("label"), col("n"),
        transform(col("sums"), x => x / col("n")).as("mean"))
      .select(col("label"), col("n").cast("long").as("n"),
        posexplode(col("mean")).as(Seq("pos", "component")))
      .select(col("label"), col("n"), col("pos").cast("int").as("pos"), col("component"))
      .orderBy("label", "pos")
  }

  /** Bloom-filter prefilter for incremental dedup — the sketch that
    * makes [[incrementalDedup]]'s anti-join cheap at 100 TB: build one
    * Bloom filter over the existing corpus' fingerprints (a bounded
    * bitset, not data, on the driver — same artifact class as the
    * k-means codebook), broadcast it, and flag each new document whose
    * fingerprint the filter might contain. Only flagged docs (a few %
    * at a 1% fpp) need the exact anti-join; a Bloom NEGATIVE is
    * definitive, so unflagged docs ship straight to the corpus.
    *
    * SHARDED: fingerprints are partitioned by a deterministic hash into
    * P independent blooms built in ONE corpus pass (per-partition
    * partials, merged by bitset OR in a treeAggregate — the same
    * execution shape `stat.bloomFilter` uses for a single sketch), so
    * no single bitset's capacity has to grow with the corpus: at 10⁹
    * fingerprints you raise P, not the size of one 1.2 GB monolith, and
    * each executor probe touches exactly one fixed-size shard. A
    * membership query hits only blooms(shard(fp)) — zero-FN is
    * preserved per shard because shard(fp) is a pure function of fp.
    *
    * Bloom bitsets are deterministic (bits OR in, insertion-order
    * independent; fixed size/fpp) but not SQL-enumerable → rows-only;
    * LlmOpsSpec gates zero false negatives (at more than one shard
    * count — the property must not depend on P) and the false-positive
    * bound. */
  def bloomPrefilter(s: SparkSession, dir: String): DataFrame =
    bloomPrefilterSharded(s, dir, 8)

  /** String.hashCode is specified by the JLS — the shard of a
    * fingerprint is identical on every JVM, executor, and round. */
  private def bloomShard(fp: String, p: Int): Int = Math.floorMod(fp.hashCode, p)

  def bloomPrefilterSharded(s: SparkSession, dir: String, numShards: Int): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    // 2× headroom over the uniform expected load per shard: shard(fp) is
    // a hash so loads concentrate around 4096/P, but a shard that drew
    // more than its share would silently exceed expectedNumItems and
    // degrade past the 1 % fpp design point (zero-FN is unaffected
    // either way). Doubling capacity costs ~9.6 bits/key instead of
    // ~4.8 and keeps the bound for any shard under 2× mean load —
    // vanishingly unlikely to be exceeded at real corpus counts
    // (Chernoff: P[load > 2µ] ≤ exp(−µ/3)).
    val perShardCapacity = math.max(1L, 2L * 4096L / numShards)
    val existing = Tables.load(s, dir, "documents")
      .filter(col("source") === "src0").select(fpCol.as("fp"))
    val blooms = existing.rdd.map(_.getString(0)).treeAggregate(
      Array.fill(numShards)(BloomFilter.create(perShardCapacity, 0.01)))(
      (acc, fp) => { acc(bloomShard(fp, numShards)).putString(fp); acc },
      (a, b) => { a.indices.foreach(i => a(i).mergeInPlace(b(i))); a })
    val mightContain = udf((fp: String) =>
      blooms(bloomShard(fp, blooms.length)).mightContain(fp))
    Tables.load(s, dir, "documents")
      .filter(col("source") =!= "src0")
      .select(col("doc_id"), fpCol.as("fp"))
      .withColumn("bloom_hit", mightContain(col("fp")))
      .orderBy("doc_id")
  }

  /** Text normalization — the canonical pre-tokenization cleanup stage:
    * lowercase, collapse whitespace runs, trim, strip the corpus'
    * punctuation class, plus the before/after length delta. Pure
    * projection (regex class subset behaves identically in Java regex
    * and RE2; 'g'-flag replace on the DuckDB side). */
  def normalizeText(s: SparkSession, dir: String): DataFrame = {
    val cleaned = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[.,!?;:]", ""), " +", " "))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), cleaned.as("norm_text"),
        length(col("text")).cast("long").as("len_raw"),
        length(cleaned).cast("long").as("len_norm"))
      .orderBy("doc_id")
  }

  /** URL CANONICALIZATION — the web-corpus staple that precedes URL
    * dedup (CommonCrawl-style pipelines dedupe on canonical URL before
    * any content hashing): each document's synthetic source URL (built
    * deterministically from its columns, so the oracle can state the
    * expected parts by construction) is decomposed with Spark's
    * `parse_url` (HOST / PATH / keyed QUERY extraction), the tracking
    * parameters are DROPPED, and the canonical form is reassembled as
    * host + path + the one meaningful query key. The construction both
    * exercises the real parser and makes the result oracle-exact.
    *
    * Scale posture: pure per-row projections (parse_url is a codegen'd
    * built-in), embarrassingly parallel; canonical URL then serves as a
    * dedup key for the exact-dedup family. */
  def urlNormalize(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"), col("source"), lit(".example.com/"),
      col("lang"), lit("/"), col("doc_id"),
      lit("?id="), col("doc_id"), lit("&utm_source=feed&ref="), col("lang"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .select(
        col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("id")).cast("long").as("id_param"),
        concat(parse_url(col("url"), lit("HOST")),
          parse_url(col("url"), lit("PATH")),
          lit("?id="), parse_url(col("url"), lit("QUERY"), lit("id")))
          .as("canon"))
      .orderBy("doc_id")
  }

  /** END-TO-END corpus export — the query a pipeline actually ships: the
    * training slice (source ≠ src0, the benchmark slice excluded by
    * construction) filtered to quality ≥ 0.65 (Q1 of the corpus,
    * measured), benchmark contamination < 0.5, and dedup-surviving
    * (keep-best winner of its near-dup cluster; unclustered docs
    * survive by default). Composes the oracle-checked quality /
    * contamination / keep-best operators — each join is doc_id-keyed
    * against frames that are themselves bounded aggregations, and the
    * cluster labels come from the session-memoized label table. */
  def corpusExport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "lang", "source")
    val quality = qualityScore(s, dir).select(col("doc_id"), col("quality"))
    val cont = contamination(s, dir).select(col("doc_id"), col("contamination"))
    val keep = dedupKeepBest(s, dir).select(col("doc_id"), col("keep"))
    docs.filter(col("source") =!= "src0")
      .join(quality, "doc_id")
      .join(cont, "doc_id")
      .join(keep, Seq("doc_id"), "left")
      .filter(col("quality") >= 0.65 && col("contamination") < 0.5
        && coalesce(col("keep"), lit(true)))
      .select("doc_id", "lang", "quality", "contamination")
      .orderBy("doc_id")
  }

  /** KNN-graph builder — per-vector top-3 cosine neighbors within the
    * label block: the batch similarity graph under graph-based dedup,
    * recommendation, and label propagation ([[similarityKnn]] is the
    * single-probe lookup; this is the all-vectors materialization).
    * Same blocked-pair + hoisted-norm shape as [[embedCosineNeardup]]
    * (each ordered pair costs one dot fold), then a bounded per-source
    * window keeps k=3. At scale the block cap bounds the per-label
    * O(n²); an IVF-assignment block swap (cells for labels) is the
    * same plan. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphCapped(s, dir, 1024)

  /** Capped form: each label block is truncated to its `blockCap`
    * lowest-vec_id members (one row_number window per label) BEFORE the
    * pair join, so per-label work is O(cap²) never O(block²). Unlike
    * the dedup caps this keeps a deterministic SUBSET of a hot block
    * rather than dropping it — a knn graph over a truncated block is
    * still a knn graph (every survivor gets its k neighbors from the
    * capped pool); dropping the block would orphan every vector in it.
    * The truncation is declared semantics, so the ORACLE models it too
    * (QUALIFY row_number per label) — a no-op at driver SFs (max label
    * block = 218 rows at sf0.1, measured), engaging at sf1 (≈2000-row
    * label blocks); LlmOpsSpec shrinks the cap and asserts survivors
    * still get exactly k neighbors. */
  def knnGraphCapped(s: SparkSession, dir: String, blockCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capW = Window.partitionBy("label").orderBy("vec_id")
    val emb = Tables.load(s, dir, "embeddings")
      .withColumn("brank", row_number().over(capW))
      .filter(col("brank") <= blockCap)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("ed"),
        norm(col("embedding")).as("nrm"))
    val a = emb.select(col("vec_id").as("src"), col("label"),
      col("ed").as("ea"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("dst"), col("label").as("label_b"),
      col("ed").as("eb"), col("nrm").as("nb"))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    a.join(b, col("label") === col("label_b") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("src"), col("rank").cast("long").as("rank"),
        col("dst"), col("sim"))
      .orderBy("src", "rank")
  }

  /** KNN graph over IVF CELLS — the unlabeled-corpus form of
    * [[knnGraph]] its scaladoc promises: crawl data has no label column
    * to block on, so the blocking key is the learned k-means cell from
    * the memoized [[kmeansAssign]] scan (the same codebook the IVF
    * search family reuses — a deployment materializes the assignment
    * once per corpus snapshot). Identical plan shape: per-cell subset
    * cap, blocked pair join with hoisted norms (one dot fold per
    * ordered pair), bounded per-source window keeping k=3. Per-cell
    * work is O(min(cell, cap)²) and cells partition the corpus, so the
    * pair join scales with Σ cell² instead of corpus² — the SemDedup
    * blocking argument applied to graph construction. Learned codebook
    * → rows-only (same class as `llm_ann_ivf_kmeans`); LlmOpsSpec gates
    * that every vector's neighbors are exactly the per-cell brute-force
    * top-k and that the block cap is live. */
  def knnGraphIvf(s: SparkSession, dir: String): DataFrame =
    knnGraphIvfCapped(s, dir, 1024)

  def knnGraphIvfCapped(s: SparkSession, dir: String, blockCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capW = Window.partitionBy("cid").orderBy("vec_id")
    val emb = kmeansAssign(s, dir)
      .withColumn("brank", row_number().over(capW))
      .filter(col("brank") <= blockCap)
      .select(col("vec_id"), col("cid"),
        transform(col("embedding"), x => x.cast("double")).as("ed"),
        norm(col("embedding")).as("nrm"))
    val a = emb.select(col("vec_id").as("src"), col("cid"),
      col("ed").as("ea"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("dst"), col("cid").as("cid_b"),
      col("ed").as("eb"), col("nrm").as("nb"))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    a.join(b, col("cid") === col("cid_b") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("src"), col("rank").cast("long").as("rank"),
        col("dst"), col("sim"))
      .orderBy("src", "rank")
  }

  private val PqM = 8          // subspaces
  private val PqSubDim = 8     // dims per subspace (8×8 = 64)
  private val PqK = 16         // centroids per subspace

  /** ANN via PRODUCT QUANTIZATION — the fourth index of the ANN family
    * (brute [[similarityKnn]], fixed-codebook [[annIvf]], learned IVF
    * [[annIvfKmeans]], PQ here): each unit vector compresses to M=8
    * 4-bit-ish codes (one per 8-dim subspace, 16-centroid codebooks),
    * and search is asymmetric distance computation — the query's
    * 8×16 subspace-distance table is computed once driver-side from
    * the codebook (a sketch, not data), broadcast as literals, and
    * each candidate costs 8 array lookups + 7 adds instead of a
    * 64-dim fold. The compressed code table is 8 bytes/vector — the
    * representation that lets 100 TB of vectors fit an ANN tier.
    * Rows-only (learned codebooks are not SQL-enumerable); LlmOpsSpec
    * gates recall vs brute-force and the lookup-vs-exact-ADC identity.
    */
  def annPq(s: SparkSession, dir: String): DataFrame = annPqShortlist(s, dir, 150)

  def annPqShortlist(s: SparkSession, dir: String, shortlistN: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val unit = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("u"))
    val subCols = (0 until PqM).map(m =>
      slice(col("u"), m * PqSubDim + 1, PqSubDim).as(s"sub$m"))
    val subbed = unit.select(col("vec_id") +: subCols: _*)
    // Per-(session, corpus) product-quantization codebooks: M=8 seeded
    // k-means models, one per 8-dim subspace of the unit-normalized
    // vectors — trained once like the IVF codebook (warm() absorbs the
    // fits), then reused by every encode/search call; persisted as one
    // ml save/load per subspace under a single artifact dir.
    val models = Tables.artifact(s, dir, "pqCodebooks") {
      (0 until PqM).map { m =>
        new KMeans().setK(PqK).setSeed(42L + m).setMaxIter(20)
          .setFeaturesCol("fv").setPredictionCol("code")
          .fit(subbed.select(array_to_vector(col(s"sub$m")).as("fv")))
      }
    } { (ms, path) =>
      ms.zipWithIndex.foreach { case (m, i) => m.write.save(s"$path/m$i") }
    } { path =>
      (0 until PqM).map(i =>
        org.apache.spark.ml.clustering.KMeansModel.load(s"$path/m$i"))
    }
    // encode: one assignment column per subspace
    val encoded = (0 until PqM).foldLeft(subbed) { (df, m) =>
      models(m).setFeaturesCol(s"fv$m").setPredictionCol(s"code$m")
        .transform(df.withColumn(s"fv$m", array_to_vector(col(s"sub$m"))))
        .drop(s"fv$m")
    }
    // query = vec_id 0; its subspace-distance tables from the codebook
    val q = subbed.filter(col("vec_id") === 0)
      .select((0 until PqM).map(m => col(s"sub$m")): _*).head()
    val dt: Seq[Seq[Double]] = (0 until PqM).map { m =>
      val qm = q.getSeq[Double](m)
      models(m).clusterCenters.toSeq.map { c =>
        var d = 0.0
        var i = 0
        while (i < PqSubDim) {
          val diff = qm(i) - c(i); d += diff * diff; i += 1
        }
        d
      }
    }
    // ADC: 8 literal-table lookups summed in fixed subspace order
    val adc = (0 until PqM).map(m =>
        element_at(typedlit(dt(m)), col(s"code$m") + 1))
      .reduce(_ + _)
    val shortlist = encoded.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), adc.as("approx_dist"))
      .orderBy(col("approx_dist"), col("vec_id"))
      .limit(shortlistN)
    // exact rerank of the ADC shortlist — the production PQ shape:
    // compressed codes prune the corpus to a shortlist, exact cosine
    // ranks the survivors. Shortlist 150 is calibrated on this
    // synthetic ISOTROPIC corpus (ANN's worst case — distances
    // concentrate, so ADC needs a deep shortlist for recall 9/10;
    // measured 50→4, 100→7, 150→9 of the true top-10 at sf0.001);
    // clustered real embeddings need a far shallower one.
    val qv = unit.filter(col("vec_id") === 0).select(col("u").as("qu"))
    unit.join(shortlist, "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("approx_dist"),
        dot(col("u"), col("qu")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Bigram language-model estimation — the classic count-based LM
    * table: conditional probability P(w2 | w1) = c(w1 w2) / c(w1 ·)
    * over the corpus, where the denominator is the bigram-start count
    * (so rows per w1 sum to exactly 1). Counts stay exact integers;
    * the probability is one final division. Vocabulary-bounded output
    * (≤ |V|² rows); bigrams come from the native `graft_ngrams`
    * kernel. */
  /** Conditional TRIGRAM language model — P(w3 | w1 w2) with exact
    * integer counts, one order up from [[bigramLm]] (the n-gram LM
    * ladder every count-based quality filter climbs; the perplexity
    * proxy reads tables of exactly this shape). The context denominator
    * is a WINDOW SUM over the trigram count frame partitioned by
    * (w1, w2) — the `Mining.fpmMarkovTransition` idiom — so the whole key is
    * ONE tokenize pass + one (w1,w2,w3)-keyed shuffle with map-side
    * combine (a groupBy-then-self-join denominator would re-run the
    * tokenize explode once per branch); the window partition is one
    * context's continuation list, bounded by vocabulary fan-out, never
    * a global sort. Division is the single double op on two exact
    * integers — deterministic in any engine, stated identically by the
    * DuckDB oracle. */
  def trigramLm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tg = Tables.load(s, dir, "documents")
      .select(explode(ngrams(col("text"), 3,
        keepDistinct = false, shortWhole = false)).as("tg"))
      .select(split(col("tg"), " ").getItem(0).as("w1"),
        split(col("tg"), " ").getItem(1).as("w2"),
        split(col("tg"), " ").getItem(2).as("w3"))
    tg.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("cnt"))
      .withColumn("cnt12", sum(col("cnt")).over(Window.partitionBy("w1", "w2")))
      .select(col("w1"), col("w2"), col("w3"), col("cnt").cast("long").as("cnt"),
        (col("cnt").cast("double") / col("cnt12").cast("double")).as("p"))
      .orderBy("w1", "w2", "w3")
  }

  /** Per-document N-GRAM NOVELTY — the fraction of a doc's distinct
    * trigrams whose FIRST corpus occurrence (min doc_id in ingestion
    * order) is this document: the marginal-contribution curve data
    * curation reads to decide when a source is mined out (novelty → 0
    * means every new doc is re-treading seen text — the aggregate
    * cousin of the pairwise dedup family). Docs shorter than one
    * trigram carry no evidence and are absent, as in [[bigramLm]].
    *
    * Scale shape: every shuffle is MAP-SIDE-COMBINED aggregation, and
    * nothing sorts a posting list — the obvious `min over
    * Window.partitionBy(gram)` would put a stop-gram's entire posting
    * list (a constant fraction of a web corpus) in ONE task, so instead
    * the first-occurrence doc comes from a gram-keyed min agg (skew is
    * harmless: partial mins combine before the exchange), novel counts
    * from re-keying that bounded frame by its winning doc, and per-doc
    * TOTALS row-locally as `size(distinct-ngram array)` — no explode,
    * no shuffle, the second documents scan is projection-only (the
    * containment-dedup size-probe policy). novelty = novel/total is one
    * double division of two exact integers. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val grams = ngrams(col("text"), 3,
      keepDistinct = true, shortWhole = false)
    val novel = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(grams).as("g"))
      .groupBy("g").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), size(grams).cast("long").as("n_ngrams"))
      .filter(col("n_ngrams") > 0)
      .join(novel, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).cast("long").as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double")
          / col("n_ngrams").cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  /** TOKENIZER FERTILITY by language — subword-per-word ratio using the
    * same BPE-ish proxy as [[tokenCount]] (⌈len/4⌉ subwords per
    * whitespace word): the metric multilingual pipelines read to spot
    * languages a tokenizer fragments (fertility ≫ 1 ⇒ the language is
    * paying more sequence length per word — re-balance the vocab or the
    * mixture). Exact integer sums per language with ONE double division
    * at the end (never an average-of-ratios float sum, whose
    * cross-partition order is unspecified) — deterministic and stated
    * identically by the DuckDB oracle. One scan, one lang-keyed
    * map-side-combined aggregate: scale-free. */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("wt"),
        aggregate(
          transform(split(col("text"), " "),
            w => floor((length(w) + 3) / lit(4.0)).cast("long")),
          lit(0L), (acc, v) => acc + v).as("st"))
      .groupBy("lang")
      .agg(sum(col("st")).as("subword_tokens"), sum(col("wt")).as("word_tokens"))
      .select(col("lang"),
        col("subword_tokens").cast("long").as("subword_tokens"),
        col("word_tokens").cast("long").as("word_tokens"),
        (col("subword_tokens").cast("double")
          / col("word_tokens").cast("double")).as("fertility"))
      .orderBy("lang")

  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.load(s, dir, "documents")
      .select(explode(ngrams(col("text"), 2,
        keepDistinct = false, shortWhole = false)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val c1 = c12.groupBy("w1").agg(sum(col("cnt")).as("cnt1"))
    c12.join(c1, "w1")
      .select(col("w1"), col("w2"), col("cnt").cast("long").as("cnt"),
        (col("cnt").cast("double") / col("cnt1").cast("double")).as("p"))
      .orderBy("w1", "w2")
  }

  /** One-row corpus dashboard — the observability summary a pipeline
    * reports after every snapshot: doc/token/char totals, language and
    * fingerprint cardinalities, duplicate count, quality extremes.
    * Every statistic is an exact integer aggregate or an order-
    * independent min/max (no float sums). */
  def datasetStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val quality = qualityScore(s, dir).select(col("doc_id"), col("quality"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_toks"), fpCol.as("fp"))
      .join(quality, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
  }

  /** Deterministic shard assignment — the output-layout planner for a
    * 100 TB corpus write: content-stable md5-derived shard id (mod 16)
    * per document, summarized to per-shard doc and char budgets. The
    * same salted-md5 identity as [[hashSample]]/[[stratifiedSample]],
    * so shard membership is reproducible across engines, runs, and
    * repartitionings. */
  def shardAssign(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        (conv(substring(md5(concat(lit("graft:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long") % 16).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("shard"), col("n_docs"),
        col("sum_chars").cast("long").as("sum_chars"))
      .orderBy("shard")

  /** Memoized (vec_id, embedding, cid) k-means cell assignment off the
    * cached spherical codebook — shared by the IVF search and SemDedup
    * (a deployment materializes the assignment scan once per corpus
    * snapshot alongside the codebook). */
  private def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    Tables.memo(s, dir, "kmeansAssign") {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val unit = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
        .select(col("vec_id"), col("embedding"),
          transform(col("embedding"), x => x.cast("double") / col("nrm")).as("u"))
      val feat = unit.select(col("vec_id"), col("embedding"),
        array_to_vector(col("u")).as("fv"))
      sphericalCodebook(s, dir, feat)
        .transform(feat).select(col("vec_id"), col("embedding"), col("cid"))
    }

  /** SEMANTIC deduplication (SemDedup — Abbas et al., 2023, arXiv
    * 2303.09540): k-means the embedding space, then look for
    * near-duplicates ONLY within each cluster and keep the lowest-id
    * representative of every duplicate pair group. The clusters bound
    * the quadratic — at corpus scale all-pairs cosine is impossible and
    * label blocks don't exist for unlabeled crawl data; the learned
    * cells are the blocking key that scales (the paper runs exactly this
    * shape over LAION). Reuses the cached spherical codebook and the
    * memoized assignment scan. `dup_of` is resolved to the CONNECTED-
    * COMPONENT representative of the within-cell near-dup graph (min
    * vec_id of the component, via the same min-label propagation the
    * dedup-cluster keys use) — a naive min-over-my-pairs pointer can
    * land on a row that is itself dropped in a non-transitive chain
    * (pairs a-b, b-c without a-c leave c pointing at dropped b), and a
    * survivor table whose dup_of targets are themselves dropped is
    * useless to a consumer. Every dropped row therefore points at a
    * KEPT row in the same cell (the representative has no lower-id
    * partner, so it is never dropped). Rows-only (learned codebook,
    * like the IVF keys); LlmOpsSpec gates: every reported pair is a
    * true cosine near-dup pair (precision 1.0), dropped rows point at
    * a kept lower-id representative in the same cell, recall vs the
    * brute-force pair set is measured and bounded. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val assign = kmeansAssign(s, dir)
      .select(col("vec_id"), col("cid"),
        transform(col("embedding"), x => x.cast("double")).as("ed"),
        norm(col("embedding")).as("nrm"))
    val a = assign.select(col("vec_id").as("va"), col("cid"),
      col("ed").as("ea"), col("nrm").as("na"))
    val b = assign.select(col("vec_id").as("vb"), col("cid").as("cid_b"),
      col("ed").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b, col("cid") === col("cid_b") && col("va") < col("vb"))
      .select(col("va"), col("vb"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") > 0.3)
    // dropped = has a DIRECT lower-id near-dup partner (unchanged rule);
    // dup_of = that row's connected-COMPONENT representative (min vec_id
    // of the component, ≤ every direct partner, itself never dropped).
    // Cells bound the components (edges never cross cells), so the
    // propagation is the in-cell iterate/min-reduce, not corpus-wide.
    // Memoized like the doc-side cluster labels — one propagation per
    // corpus snapshot.
    val hasLower = pairs.select(col("vb").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    val comp = Tables.index(s, dir, "semdedupComp") {
      labelPropagate(
        pairs.select(col("va").as("doc_a"), col("vb").as("doc_b")))
    }.select(col("doc_id").as("vec_id"), col("cluster_id").as("rep"))
    assign.select(col("vec_id"), col("cid"))
      .join(hasLower, Seq("vec_id"), "left_outer")
      .join(comp, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"),
        when(col("is_dup"), col("rep")).as("dup_of"))
      .withColumn("kept", col("dup_of").isNull)
      .orderBy("vec_id")
  }

  /** GOPHER-style rule-based quality filtering (Rae et al., 2021, arXiv
    * 2112.11446 §A1.1): the hard-threshold document filters a pipeline
    * runs BEFORE any model-based scoring — word-count bounds, mean-word-
    * length bounds, minimum stopword evidence, distinct-token ratio —
    * with every rule's verdict surfaced as its own flag so downstream
    * can audit WHY a document dropped (the paper reports per-rule
    * removal rates; that requires per-rule flags, not one boolean).
    * Pure per-row projection (HOF folds off the scan, no shuffle);
    * thresholds adapted to this corpus so every rule discriminates
    * (word count p10 ≈ 21, mean token length 3.7–5.3, stopword hits
    * p20 = 1, distinct ratio 0.28–1.0 — measured at sf0.01). */
  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks)
    val meanLen = aggregate(
      transform(toks, t => length(t).cast("long")), lit(0L), (a, x) => a + x)
      .cast("double") / nWords
    val stops = size(filter(toks, t => t === "a" || t === "the"))
    val dratio = size(array_distinct(toks)).cast("double") / nWords
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        nWords.cast("long").as("n_words"),
        meanLen.as("mean_word_len"),
        stops.cast("long").as("stop_hits"),
        dratio.as("distinct_ratio"))
      .withColumn("ok_words", col("n_words") >= 20)
      .withColumn("ok_mean_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") < 5.0)
      .withColumn("ok_stops", col("stop_hits") >= 2)
      .withColumn("ok_distinct", col("distinct_ratio") > 0.3)
      .withColumn("keep", col("ok_words") && col("ok_mean_len")
        && col("ok_stops") && col("ok_distinct"))
      .orderBy("doc_id")
  }

  /** BATCH KNN serving — the multi-probe generalization of
    * `llm_similarity_knn` (one probe) and the lookup half of
    * `llm_knn_graph` (all-pairs): a small probe SET (a query batch, a
    * seed set for retrieval-augmented sampling) broadcast against the
    * corpus, top-3 per probe by cosine. The probe batch rides the
    * broadcast — the corpus scans ONCE for the whole batch instead of
    * once per query, and the per-probe ranking is one bounded window
    * behind the projection; swap the scan for the IVF cell semi-join and
    * this is the production ANN serving plan. */
  def knnBatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("ed"),
        norm(col("embedding")).as("nrm"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("ed").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    emb.filter(col("vec_id") >= 5)
      .crossJoin(broadcast(probes))
      .select(col("qid"), col("vec_id"),
        (dot(col("ed"), col("qe")) / (col("nrm") * col("qn"))).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("sim"))
      .orderBy("qid", "rank")
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    * positional 5-token shingle, slide a window of w=4 hashes, keep each
    * window's MINIMUM — the guarantee is every shared run of ≥ w+k−1
    * tokens between two documents shares ≥ 1 selected fingerprint, at
    * ~2/(w+1) the density of full shingling. Entirely a per-row
    * projection off the scan (native n-gram kernel → md5 → window-min
    * transform) — NO shuffle until the final per-doc distinct explode;
    * the selected-fingerprint inverted index, not the full shingle set,
    * is what a plagiarism/near-dup pipeline stores at corpus scale.
    * md5 hex min = lexicographic byte compare in both engines. */
  def winnowing(s: SparkSession, dir: String): DataFrame = {
    val k = 5; val w = 4
    val sh = ngrams(
      col("text"), k, keepDistinct = false, shortWhole = true)
    // The window positions are exploded BEFORE the per-window min so the
    // md5 hash array materializes once per document: with both stages in
    // one projection chain, CollapseProject inlines the hash-array alias
    // into every window's slice and the row recomputes all ~|tokens|
    // md5s per window — O(windows · tokens) hashes/row, measured 30 s at
    // sf0.1 vs 0.5 s for this shape (a Generate is a collapse barrier,
    // its child projection evaluates exactly once per input row).
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), transform(sh, g => md5(g)).as("hs"))
      .select(col("doc_id"), col("hs"),
        explode(sequence(lit(1), greatest(lit(1), size(col("hs")) - lit(w - 1))))
          .as("i"))
      .select(col("doc_id"), array_min(slice(col("hs"), col("i"), lit(w))).as("fp"))
      .distinct()
      .orderBy("doc_id", "fp")
  }

  /** Duplicated-SUBSTRING detection, fixed-span tier (the scalable
    * approximation of Lee et al., ACL 2022 "Deduplicating Training Data
    * Makes Language Models Better", which dedups exact ≥50-token
    * substrings via a suffix array): a doc's 8-token spans are checked
    * against an inverted span index; `dup_frac` = fraction of the doc's
    * distinct spans appearing in ≥ 2 documents — the memorization-risk
    * signal sequence-level dedup misses (Jaccard dilutes a short doc
    * quoted inside a long one; a shared paragraph inside two otherwise
    * different docs moves neither's fingerprint). Span generation is the
    * native n-gram kernel off the scan; the index is one groupBy on the
    * span key — the same plan a 100 TB run shards by span hash. */
  def substringDedup(s: SparkSession, dir: String): DataFrame = {
    val spans = ngrams(
      col("text"), 8, keepDistinct = true, shortWhole = true)
    val ex = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(spans).as("span"))
    // count, not countDistinct (r19 opt): the span array is generated
    // keepDistinct per doc, so (doc_id, span) rows are unique and the
    // distinct rewrite's extra aggregate level is pure overhead —
    // result-identical, the oracle still states count(DISTINCT doc_id)
    val counts = ex.groupBy("span").agg(count(lit(1)).as("ndocs"))
    ex.join(counts, "span")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        (col("dup_spans").cast("double") / col("n_spans")).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Data-selection IMPORTANCE WEIGHTS (the DSIR shape — Xie et al.,
    * NeurIPS 2023, which importance-resamples raw data toward a target
    * domain by a hashed-n-gram LM likelihood ratio): target = the
    * 'src0' slice, features = unigrams; a doc's weight is the ratio of
    * its average per-token frequency under the target LM vs the corpus
    * LM. Log-free for engine parity: both numerator and denominator stay
    * EXACT integer sums of vocabulary counts (Σ f_tgt(t), Σ f_all(t)),
    * normalized by each LM's total mass in one final double expression —
    * where Σ log p would be fp-order-dependent. Vocab frame is
    * dim-table-sized (broadcast); one shuffle, keyed by doc. */
  def importanceWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
    val allF = toks.groupBy("tok").agg(count(lit(1)).as("f_all"))
    val tgtF = toks.filter(col("source") === "src0")
      .groupBy("tok").agg(count(lit(1)).as("f_tgt"))
    val vocab = allF.join(tgtF, Seq("tok"), "left_outer")
      .select(col("tok"), col("f_all"), coalesce(col("f_tgt"), lit(0L)).as("f_tgt"))
    val totals = vocab.agg(sum("f_all").as("n_all"), sum("f_tgt").as("n_tgt"))
    toks.join(broadcast(vocab), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum("f_tgt").as("num"), sum("f_all").as("den"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_toks"),
        ((col("num").cast("double") * col("n_all"))
          / (col("den").cast("double") * col("n_tgt"))).as("weight"))
      .orderBy("doc_id")
  }

  /** BPE merge statistics — the counting step of byte-pair-encoding
    * tokenizer training (Sennrich, Haddow & Birch, ACL 2016): adjacent
    * symbol-pair frequencies over the corpus, at the character tier
    * (iteration 1, where every symbol is one char). The corpus-sized
    * pass is the token count (already vocab-bounded here and in any
    * tokenizer-training pipeline after the first word-count job); pair
    * explosion runs on the VOCABULARY frame weighted by token frequency
    * — the reason real BPE trainers count words first. Positional
    * bigrams (not distinct): 'aaa' contributes 'aa' twice. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    vocab
      .filter(length(col("tok")) >= 2)
      .select(col("f"), explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("f")).as("occurrences"))
      .orderBy(col("occurrences").desc, col("pair"))
  }

  /** Greedy leftmost BPE merge of one (left, right) pair in a symbol
    * sequence — the standard substitution step (exposed for the
    * LlmOpsSpec driver recompute). */
  private[graft] def bpeMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** BPE MERGE-RULE TRAINING (Sennrich, Haddow & Birch, ACL 2016) — the
    * actual tokenizer-training loop whose round-1 counting step
    * [[bpePairs]] exposes: start from character symbols, and for each of
    * 10 rounds (a) count adjacent symbol pairs over the word-frequency
    * vocabulary, (b) take the most frequent pair (count desc, pair asc —
    * a total order, bit-deterministic), (c) merge it greedily
    * left-to-right in every word. Output is the learned merge-rule
    * table (rank, left, right, merged, pair_count) — the artifact a
    * tokenizer ships.
    *
    * Scale shape: exactly one corpus-sized pass (the word count, the
    * same map-side-combined aggregate every tokenizer trainer runs
    * first); ALL training rounds operate on the VOCABULARY-sized
    * word-frequency frame — at 100 TB that frame is millions of rows,
    * not trillions, and each round is one pair explode + one
    * map-side-combined sum + a TakeOrdered(1). The driver holds only
    * the running rule list (O(rounds)) and the per-round 1-row argmax —
    * the same O(1)-driver loop policy as PageRank/k-core;
    * `localCheckpoint` truncates the per-round substitution lineage.
    * No SQL oracle (a data-dependent iterative argmax is not a fixed
    * CTE pipeline); LlmOpsSpec pins the full rule table against a
    * driver-side recompute of the same algorithm from the collected
    * word counts. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrainRounds(s, dir, 10)

  /** Trained merge-rule list per (session, dir) — the tokenizer is an
    * index artifact trained once per corpus snapshot and reused by the
    * encode pass (same cache policy as the FPGrowth model and the IVF
    * codebook). */
  private def bpeRules(s: SparkSession, dir: String): Seq[(String, String)] =
    Tables.artifact(s, dir, "bpeRules") {
      bpeTrain(s, dir).collect().map(r => (r.getString(1), r.getString(2))).toSeq
    } { (rules, path) =>
      // rank order IS the artifact: a count header then one line per
      // rule, tab-separated with \\ \t \n ESCAPED (a symbol is
      // arbitrary text — unescaped delimiters would silently corrupt
      // the ruleset on reload), so load can verify structure exactly
      val f = new java.io.File(path)
      f.mkdirs()
      val body = (s"graft-bpe-v2 ${rules.size}" +:
        rules.map { case (l, r) => s"${bpeEsc(l)}\t${bpeEsc(r)}" })
        .mkString("\n")
      java.nio.file.Files.write(
        new java.io.File(f, "rules.tsv").toPath, body.getBytes("UTF-8"))
    } { path =>
      // strict load: header + per-line field count + declared rule
      // count all verified; ANY mismatch throws and the artifact
      // wrapper rebuilds from the corpus (never serves a corrupt set)
      val lines = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(path, "rules.tsv").toPath), "UTF-8").split("\n", -1)
      val header = lines.headOption.getOrElse("")
      require(header.startsWith("graft-bpe-v2 "), s"bad bpe header: $header")
      val n = header.stripPrefix("graft-bpe-v2 ").trim.toInt
      val rules = lines.drop(1).filter(_.nonEmpty).toSeq.map { l =>
        l.split("\t", -1) match {
          case Array(a, b) => (bpeUnesc(a), bpeUnesc(b))
          case other => throw new IllegalArgumentException(
            s"bpe rule line has ${other.length} fields: $l")
        }
      }
      require(rules.size == n, s"bpe rules: ${rules.size} loaded, $n declared")
      rules
    }

  private def bpeEsc(sym: String): String =
    sym.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

  private def bpeUnesc(sym: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < sym.length) {
      if (sym.charAt(i) == '\\' && i + 1 < sym.length) {
        sym.charAt(i + 1) match {
          case 't' => sb.append('\t'); case 'n' => sb.append('\n')
          case c => sb.append(c)
        }
        i += 2
      } else { sb.append(sym.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** BPE ENCODE — apply the learned merge rules ([[bpeTrain]]) to every
    * document: each word starts as characters, the 10 rules apply in
    * rank order (the standard encode pass of a trained BPE tokenizer),
    * and the per-doc output is the word count, the resulting subword
    * count, and subwords-per-word fertility. The rule list is an O(10)
    * driver artifact broadcast into a row-local map — encoding is one
    * scan, no shuffle (the presentation sort aside), embarrassingly
    * parallel at any corpus size.
    *
    * The kernel encodes each DISTINCT word once per partition (the same
    * "count words first" observation [[bpePairs]] rests on): a word's
    * subword count is a pure function of (word, rules), so a
    * per-partition word→count cache turns per-occurrence merge work
    * into a hash probe — the round-13 sf10 probe measured the uncached
    * form at 11.9×/decade (59 s at 500 k docs; every occurrence re-ran
    * 10 merge passes over per-char Seq allocations), the cached form is
    * ~1×/decade because corpus word occurrences grow 10× while the
    * vocabulary barely grows. Two further bounds keep it honest at
    * 100 TB: a rule can only fire if `l+r` occurs as a substring of the
    * raw word (symbol text is always a contiguous slice of the word, so
    * the check is sound) — the merge pass is skipped otherwise — and
    * the cache is capped at 2^20 entries (beyond it, rare words encode
    * uncached), so driver-chosen memory stays bounded under an
    * adversarial open vocabulary. No SQL oracle (the rules are a
    * learned artifact); LlmOpsSpec pins the encode against a driver
    * recompute with the same rules and checks fertility bounds. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = bpeRules(s, dir)
    val bc = s.sparkContext.broadcast(rules.map { case (l, r) => (l, r, l + r) })
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rs = bc.value
        val cache = new java.util.HashMap[String, java.lang.Long]()
        val cacheCap = 1 << 20
        def encode(w: String): Long = {
          var syms: Seq[String] = w.toSeq.map(_.toString)
          rs.foreach { case (l, r, lr) =>
            if (w.contains(lr)) syms = bpeMerge(syms, l, r)
          }
          syms.length.toLong
        }
        it.map { case (id, text) =>
          val words = text.split(" ", -1)
          var sub = 0L
          words.foreach { w =>
            val hit = cache.get(w)
            if (hit ne null) sub += hit
            else {
              val n = encode(w)
              if (cache.size < cacheCap) cache.put(w, n)
              sub += n
            }
          }
          (id, words.length.toLong, sub,
            sub.toDouble / words.length.toDouble)
        }
      }
      .toDF("doc_id", "word_tokens", "bpe_tokens", "fertility")
      .orderBy("doc_id")
  }

  def bpeTrainRounds(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    import s.implicits._
    // NOT fanned out (r19 measurement): repartitioning the text bodies
    // before the tokenize cost more than the single-task tokenize saves
    // at sf0.1 (A/B 1.73 s vs 2.06 s) — the word-count partial aggregate
    // collapses to the vocabulary in-task, so the exchange moves far
    // more bytes than it parallelizes away
    var words = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => (w.toSeq.map(_.toString), c) }
      .toDF("syms", "cnt")
      .localCheckpoint(true)
    val rules = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(col("syms")) - 2),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, rr, tot) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += ((r + 1, l, rr, tot))
        r += 1
        // the final round's merged vocabulary has no reader — skip its
        // merge + checkpoint job (r19 opt); rules are already complete
        if (r < rounds) {
          words = words.as[(Seq[String], Long)]
            .map { case (syms, c) => (bpeMerge(syms, l, rr), c) }
            .toDF("syms", "cnt")
            .localCheckpoint(true)
        }
      }
    }
    rules.toSeq.toDF("rank", "left", "right", "pair_count")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("pair_count"))
      .orderBy("rank")
  }

  /** Materialize the shared memoized artifacts (cluster-label table, IVF
    * codebook + its assignment scan) so their one-time cost is not
    * attributed to whichever query happens to run first — Bench calls
    * this before the timed loop; a real pipeline materializes its
    * cluster table and ANN index once up front. */
  def warm(s: SparkSession, dir: String): Unit = {
    clusterLabels(s, dir).count()
    minhashCandidates(s, dir).count()
    lshClusterLabels(s, dir).count()
    dedupClustersEmb(s, dir).count()
    annIvfKmeans(s, dir).count()
    annPq(s, dir).count()
    kmeansAssign(s, dir).count()
    semDedup(s, dir).count() // materializes the memoized semdedupComp propagation
    cooccurrence(s, dir).count() // materializes the capped token + df frames
  }

  /** Per-SOURCE duplication audit — the corpus-composition dashboard a
    * dedup pipeline publishes: for each source, how many docs it ships
    * and what fraction are non-canonical exact duplicates (fingerprint
    * seen on a lower doc_id anywhere in the corpus). One shuffle on
    * fingerprint (canonical-id reduction + fp-keyed join), one on the
    * vocabulary-bounded source key. */
  def dupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), fpCol.as("fp"))
    val canon = d.groupBy("fp").agg(min(col("doc_id")).as("canonical_id"))
    d.join(canon, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_dups").cast("long").as("n_dups"),
        (col("n_dups").cast("double") / col("n_docs").cast("double")).as("dup_rate"))
      .orderBy("source")
  }

  /** PREFIX dedup — boilerplate-header removal: documents sharing the
    * same first-8-token prefix fingerprint collapse to the lowest-id
    * keeper (crawl pipelines run exactly this against template headers
    * and SEO boilerplate before any shingle pass). One md5 row per doc
    * before the shuffle; the group reduction is a window-min on the
    * prefix key. */
  def prefixDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pfx = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), pfx.as("prefix_fp"))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy("prefix_fp")))
      .select(col("doc_id"), col("prefix_fp"),
        (col("doc_id") === col("canonical_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** Document-length histogram per language — fixed power-of-two char
    * buckets (CASE thresholds, not float log2: bucket edges must land
    * identically in every engine), with doc and token mass per cell.
    * The length×language composition table behind curriculum/packing
    * decisions. Pure projection + one vocabulary-bounded aggregation. */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val bucket = when(col("n_chars") < 128, "a_lt128")
      .when(col("n_chars") < 256, "b_128_255")
      .when(col("n_chars") < 384, "c_256_383")
      .when(col("n_chars") < 512, "d_384_511")
      .otherwise("e_ge512")
    Tables.load(s, dir, "documents")
      .select(col("lang"), bucket.as("bucket"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .select(col("lang"), col("bucket"), col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"))
      .orderBy("lang", "bucket")
  }

  /** MIXTURE PLAN — the per-language sampling table a training run
    * materializes from [[temperatureWeights]]: given a token budget,
    * each language's target token mass (weight × budget) and the
    * resulting sampling rate against its available tokens (> 1 means
    * upsampling epochs). Same ordered-fold denominator as the weights
    * key (the one fp-order-sensitive reduction), token counts exact
    * integers until the final divisions. */
  def mixturePlan(s: SparkSession, dir: String): DataFrame = {
    val budget = 100000.0
    val counts = Tables.load(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
    val denom = counts
      .agg(sort_array(collect_list(struct(col("lang"), col("n_docs")))).as("ls"))
      .select(
        aggregate(col("ls"), lit(0.0),
          (acc, x) => acc + sqrt(x.getField("n_docs").cast("double"))).as("denom"))
    val weight = sqrt(col("n_docs").cast("double")) / col("denom")
    counts.crossJoin(broadcast(denom))
      .select(col("lang"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        weight.as("weight"),
        (weight * budget).as("target_tokens"),
        (weight * budget / col("n_tokens").cast("double")).as("sample_rate"))
      .orderBy("lang")
  }

  /** QUALITY-QUANTILE selection — keep the top half of every language by
    * [[qualityScore]]: per-language percent_rank (quantile thresholds
    * must be within-language, or high-resource languages crowd out the
    * rest — the reason pipelines stratify this filter). doc_id breaks
    * quality ties, so ranks are deterministic.
    *
    * Scale posture: percent_rank sorts each language inside ONE window
    * partition — exact and oracle-checkable, but a per-lang global sort
    * (the classic window-skew shape) at corpus scale. The 100 TB form of
    * the same selection computes each language's quality threshold with
    * `percentile_approx` (one pass, mergeable sketch), broadcasts the
    * 5-row threshold table, and filters — identical keep-set up to
    * sketch error, no full sort. The exact window is kept here as the
    * verifiable spec (same policy as the exact-vs-LSH dedup pairs). */
  def qualityQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
    Tables.load(s, dir, "documents").select("doc_id", "lang")
      .join(qualityScore(s, dir).select("doc_id", "quality"), "doc_id")
      .withColumn("q_rank", percent_rank().over(w))
      .withColumn("keep", col("q_rank") <= 0.5)
      .select("doc_id", "lang", "quality", "q_rank", "keep")
      .orderBy("doc_id")
  }

  /** QUALITY-QUANTILE selection, SKETCH form — the 100 TB twin of
    * [[qualityQuantile]] (same policy as the exact-vs-LSH dedup pairs:
    * exact verifiable spec + scalable sibling): instead of sorting each
    * language inside one window partition (a full-corpus single-task
    * sort when one language dominates a real crawl), compute each
    * language's median quality with `percentile_approx` — a one-pass
    * MERGEABLE sketch, so the aggregation is map-side-combined like any
    * count — broadcast the per-lang 5-row threshold table, and keep
    * docs at-or-above threshold with a scan-local filter. Keep-set ≡
    * the exact window's up to sketch error at the median boundary
    * (LlmOpsSpec gates the agreement); no full sort anywhere. Sketch
    * internals are engine-specific → rows-only, like the HLL key. */
  def qualityQuantileApprox(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.load(s, dir, "documents").select("doc_id", "lang")
      .join(qualityScore(s, dir).select("doc_id", "quality"), "doc_id")
    val thr = scored.groupBy("lang")
      .agg(percentile_approx(col("quality"), lit(0.5), lit(10000)).as("threshold"))
    scored.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("quality"), col("threshold"),
        (col("quality") >= col("threshold")).as("keep"))
      .orderBy("doc_id")
  }

  /** Cosine RANGE search — every vector within `minSim` of the probe
    * (threshold retrieval, the other half of the ANN API next to top-k
    * [[similarityKnn]]): broadcast probe, one corpus scan, predicate on
    * the same hoisted dot fold; swap the scan for the IVF cell semi-join
    * ([[annIvf]]) and this is the production range query at scale. */
  def annRange(s: SparkSession, dir: String): DataFrame =
    annRangeThreshold(s, dir, 0.25)

  def annRangeThreshold(s: SparkSession, dir: String, minSim: Double): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("embedding"), col("qe")) / (norm(col("embedding")) * norm(col("qe"))))
          .as("sim"))
      .filter(col("sim") >= minSim)
      .orderBy("vec_id")
  }

  /** Top-3 TF-IDF terms per document — keyword extraction off the
    * [[tfidf]] feature table (document tagging, sparse retrieval
    * signatures): one bounded per-doc window behind the scored frame,
    * term tiebreak for determinism. */
  def tfidfTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tfidf(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** BM25 top-3 terms per document — the Robertson–Sparck Jones ranking
    * function (Robertson et al., TREC-3 1994) next to the plain
    * [[tfidfTopk]]: score = idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)) with the standard k1 = 1.2, b = 0.75 literals. The
    * idf factor is the RSJ ratio (N − df + 0.5)/(df + 0.5) WITHOUT the
    * log wrap — ln is libm-dependent across engines (the [[tfidf]]
    * stance, SURVEY §2.0). NOTE this makes the ranking a log-free BM25
    * VARIANT, not standard BM25: idf is multiplied by a term-dependent
    * tf factor, so dropping the monotone ln can reorder terms whose
    * (idf, tf-factor) trade off (e.g. idf 10 × 1.0 vs idf 100 × 0.2
    * swap with/without the log) — the per-document top-k may differ
    * from textbook BM25's. The variant is deterministic and engine-
    * portable, which is what the hash oracle requires; every input is
    * an exact integer count and the double expression is fixed-order.
    *
    * Scale shape: one (doc, term) shuffle for tf; df is vocab-bounded
    * and broadcast; N/avgdl is a broadcast 1-row aggregate; top-k is a
    * bounded per-doc window. */
  def bm25Topk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = tok.agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("ntok"))
    val avgdl = col("ntok").cast("double") / col("nd")
    val idf = (col("nd").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val score = idf * (col("cnt").cast("double") * lit(2.2)) /
      (col("cnt") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    val w = Window.partitionBy("doc_id").orderBy(col("bm25").desc, col("term"))
    tf.join(dl, "doc_id")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"), score.as("bm25"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("bm25"))
      .orderBy("doc_id", "rnk")
  }

  /** Token CO-OCCURRENCE lift — the log-free PMI proxy (p(ab)/(p(a)p(b))
    * as a raw ratio; ln is libm-dependent, the ratio is one fixed-order
    * double expression) over within-document DISTINCT token pairs: the
    * association statistic under word-embedding co-occurrence matrices
    * and collocation extraction. */
  def cooccurrence(s: SparkSession, dir: String): DataFrame =
    cooccurrenceCapped(s, dir, 4096)

  /** Capped form: pairs are generated only over the `vocabCap` highest-
    * document-frequency tokens (token tiebreak) — the FIXED-VOCABULARY
    * restriction every real co-occurrence matrix applies, because the
    * within-doc pair explode is O(distinct-tokens² per doc) and a 100k-
    * distinct-token document must not go quadratic over its long tail
    * (the tail's pair statistics are noise at any corpus size anyway).
    * The vocab frame is cap-bounded → broadcast semi-join before the
    * pair join; default cap is a no-op at test SFs (31-token corpus
    * vocabulary, measured) so the hash oracle is unchanged; LlmOpsSpec
    * proves the cap path is live by shrinking it. */
  def cooccurrenceCapped(s: SparkSession, dir: String, vocabCap: Int): DataFrame = {
    // The capped (doc, token) frame and its doc-frequency table are
    // per-corpus index artifacts (built once, read by both pair-join
    // sides and both lift denominators) — memoized, else Catalyst
    // re-derives the tokenize + vocab-cap subtree once per reference
    // and the plan re-scans documents O(branches) times.
    val tok = Tables.memo(s, dir, s"cooccTok$vocabCap") {
      val tok0 = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
      val vocab = tok0.groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(vocabCap).select("t")
      tok0.join(broadcast(vocab), Seq("t"), "left_semi")
    }
    // df over the CAPPED frame ≡ df of kept tokens (the semi-join drops
    // rows, never rewrites them), one vocab-bounded aggregate.
    val dfreq = Tables.memo(s, dir, s"cooccDf$vocabCap") {
      tok.groupBy("t").agg(count(lit(1)).as("c"))
    }
    val nd = Tables.load(s, dir, "documents")
      .select(countDistinct(col("doc_id")).as("nd"))
    val a = tok.select(col("doc_id"), col("t").as("ta"))
    val b = tok.select(col("doc_id").as("db"), col("t").as("tb"))
    a.join(b, col("doc_id") === col("db") && col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("c_ab"))
      .join(broadcast(dfreq.select(col("t").as("ta"), col("c").as("c_a"))), "ta")
      .join(broadcast(dfreq.select(col("t").as("tb"), col("c").as("c_b"))), "tb")
      .crossJoin(broadcast(nd))
      .select(col("ta"), col("tb"), col("c_ab"),
        (col("c_ab").cast("double") * col("nd") / (col("c_a") * col("c_b")))
          .as("lift_ratio"))
      .orderBy("ta", "tb")
  }

  /** RETRIEVAL serving join — the end-to-end lookup a RAG/tagging
    * pipeline runs: batch KNN hits ([[knnBatch]]) joined back to the hit
    * documents' metadata through the multimodal doc_id = vec_id key. The
    * hit table is probes × k rows → broadcast against the corpus scan;
    * the corpus never shuffles. */
  def retrievalJoin(s: SparkSession, dir: String): DataFrame = {
    val hits = knnBatch(s, dir)
    Tables.load(s, dir, "documents")
      .select(col("doc_id").as("vec_id"),
        col("lang").as("hit_lang"), col("source").as("hit_source"))
      .join(broadcast(hits), "vec_id")
      .select(col("qid"), col("rank"), col("vec_id"), col("sim"),
        col("hit_lang"), col("hit_source"))
      .orderBy("qid", "rank")
  }

  /** Corpus SHINGLE statistics — top-20 5-token shingles by document
    * frequency (boilerplate discovery: the shingles worth stop-listing
    * before near-dup passes, cf. the containment key's stop-shingle
    * drop). One explode off the native n-gram kernel + one
    * count-per-shingle aggregation; top-k is a TakeOrdered, no global
    * sort. */
  def shingleStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(explode(shingles(col("text"))).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle"))
      .limit(20)

  /** Language-label AUDIT — rows where the n-gram language-ID signal
    * ([[langId]]: stopword evidence ⇒ 'en', else 'unk') disagrees with
    * the labeled lang: en-labeled docs with zero stopword evidence and
    * non-en docs that trip the English detector. The mislabel-rate
    * audit a corpus intake runs before trusting upstream metadata.
    * Pure projection off the langId frame. */
  def langMismatch(s: SparkSession, dir: String): DataFrame =
    langId(s, dir)
      .withColumn("mismatch",
        (col("lang") === "en") =!= (col("pred_lang") === "en"))
      .select("doc_id", "lang", "pred_lang", "stop_score", "mismatch")
      .orderBy("doc_id")

  /** PACKING-efficiency audit over [[packSequences]] — per language: bin
    * count, token mass, and fill rate against the 512-token context
    * window (wasted-pad fraction is the training-cost number packing
    * exists to optimize). Greedy cumulative packing means every bin
    * except possibly the last is full-ish; the rollup is
    * vocabulary-bounded. Reads the SCALABLE feeder
    * ([[packSequencesScalable]] — identical rows to the exact window
    * form, proven by its own hash oracle) so the stats path carries no
    * per-language unbounded window either. */
  def packStats(s: SparkSession, dir: String): DataFrame =
    packSequencesScalable(s, dir)
      .groupBy("lang")
      .agg((max(col("bin")) + 1).as("n_bins"),
        sum(col("tok_cnt")).as("n_tokens"))
      .select(col("lang"), col("n_bins").cast("long").as("n_bins"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens").cast("double") / (col("n_bins") * 512).cast("double"))
          .as("fill_rate"))
      .orderBy("lang")

  /** Cosine RANGE search through the IVF index — the fourth cell of the
    * ANN API matrix (top-k brute [[similarityKnn]], top-k IVF
    * [[annIvf]], range brute [[annRange]], range IVF here): assignment
    * semi-join to the probe's cell, then the threshold predicate —
    * candidate count bounded by the cell, not the corpus. Same fixed
    * centroids and deterministic argmin as `llm_ann_ivf`. */
  def annIvfRange(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val d2 = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("cid"),
        aggregate(
          zip_with(col("embedding"), col("ce"),
            (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
          lit(0.0), (acc, v) => acc + v).as("d2"))
    val assign = d2
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("d2"), col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
    val probeCell = assign.filter(col("vec_id") === 0).select(col("cid").as("qcid"))
    val q = Tables.load(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    assign.join(broadcast(probeCell), col("cid") === col("qcid"))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("embedding"), col("qe")) / (norm(col("embedding")) * norm(col("qe"))))
          .as("sim"))
      .filter(col("sim") >= 0.2)
      .orderBy("vec_id")
  }

  /** CROSS-SOURCE near-dup audit — the provenance question behind every
    * multi-feed corpus merge: which exact-Jaccard near-dup pairs span
    * TWO DIFFERENT sources (feed B re-crawling feed A's pages)? A
    * projection over the blocked [[ngramJaccard]] pair table joined to
    * the per-doc source column; the pair table is the bounded candidate
    * set, so the source join is pair-count-sized. */
  def dedupCrossSource(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(s, dir, "documents").select("doc_id", "source")
    ngramJaccard(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
      .filter(col("source_a") =!= col("source_b"))
      .select("doc_a", "doc_b", "source_a", "source_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** VOCABULARY frequency bands — head/torso/tail classification by
    * cumulative corpus-frequency share (the coverage analysis behind
    * tokenizer-vocabulary sizing: how few tokens cover 50% / 90% of the
    * token mass). Band edges are ALL-INTEGER comparisons on exact
    * cumulative sums (cum·2 ≤ total, cum·10 ≤ total·9) — a double
    * cumulative share would put band boundaries at the mercy of float
    * rounding. */
  def tokenFreqBands(s: SparkSession, dir: String): DataFrame =
    tokenFreqBandsCapped(s, dir, 65536)

  /** Capped form: rank and the cumulative sum run over the `vocabCap`
    * highest-frequency tokens only — a TakeOrdered prefix of the exact
    * (freq desc, token) order, so within the cap both windows produce
    * exactly the full-table values (rank and cumulative sum of a prefix
    * only depend on the prefix). Beyond-cap tokens are definitionally
    * "tail": each has freq ≤ the cap boundary's, so its cumulative
    * share is past the head/torso edges for any corpus where the cap
    * covers 90 % of token mass — which is what a coverage report sizes
    * the cap for. The band edges still compare against the ALL-token
    * total (one broadcast aggregate row), so head/torso shares are
    * corpus-true, not head-relative. This bounds the unpartitioned
    * window at billions of distinct web tokens; default cap is a no-op
    * at test SFs (≤31-token vocabulary, measured) so the hash oracle is
    * unchanged; LlmOpsSpec proves the cap path live by shrinking it. */
  def tokenFreqBandsCapped(s: SparkSession, dir: String, vocabCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("freq").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tf = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val tot = tf.agg(sum(col("freq")).as("total"))
    tf.orderBy(col("freq").desc, col("token")).limit(vocabCap)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("freq").desc, col("token"))))
      .withColumn("cum_freq", sum(col("freq")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("token"), col("freq"), col("rnk").cast("long").as("rnk"),
        col("cum_freq").cast("long").as("cum_freq"),
        when(col("cum_freq") * 2 <= col("total"), "head")
          .when(col("cum_freq") * 10 <= col("total") * 9, "torso")
          .otherwise("tail").as("band"))
      .orderBy("rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_trigram_lm"         -> (trigramLm _),
    "llm_bpe_train"          -> (bpeTrain _),
    "llm_bpe_encode"         -> (bpeEncode _),
    "llm_ngram_novelty"      -> (ngramNovelty _),
    "llm_tokenizer_fertility" -> (tokenizerFertility _),
    "llm_audio_meta"         -> (audioMeta _),
    "llm_ann_ivf_range"      -> (annIvfRange _),
    "llm_bm25_topk"          -> (bm25Topk _),
    "llm_knn_graph_ivf"      -> (knnGraphIvf _),
    "llm_quality_quantile_approx" -> (qualityQuantileApprox _),
    "llm_dedup_cross_source" -> (dedupCrossSource _),
    "llm_token_freq_bands"   -> (tokenFreqBands _),
    "llm_lang_mismatch"      -> (langMismatch _),
    "llm_pack_stats"         -> (packStats _),
    "llm_tfidf_topk"         -> (tfidfTopk _),
    "llm_cooccurrence"       -> (cooccurrence _),
    "llm_retrieval_join"     -> (retrievalJoin _),
    "llm_shingle_stats"      -> (shingleStats _),
    "llm_dup_rate_by_source" -> (dupRateBySource _),
    "llm_prefix_dedup"       -> (prefixDedup _),
    "llm_length_histogram"   -> (lengthHistogram _),
    "llm_mixture_plan"       -> (mixturePlan _),
    "llm_quality_quantile"   -> (qualityQuantile _),
    "llm_ann_range"          -> (annRange _),
    "llm_normalize_emb"      -> (normalizeEmbeddings _),
    "llm_dedup_clusters"     -> (dedupClusters _),
    "llm_dedup_clusters_lsh" -> (dedupClustersLsh _),
    "llm_dedup_clusters_emb" -> (dedupClustersEmb _),
    "llm_ann_ivf_kmeans"     -> (annIvfKmeans _),
    "llm_chunk"              -> (chunk _),
    "llm_tfidf"              -> (tfidf _),
    "llm_quantize_emb"       -> (quantizeEmb _),
    "llm_simhash_neardup"    -> (simhashNeardup _),
    "llm_pii_scrub"          -> (piiScrub _),
    "llm_pack_sequences"     -> (packSequences _),
    "llm_pack_sequences_scalable" -> (packSequencesScalable _),
    "llm_dedup_keep_best"    -> (dedupKeepBest _),
    "llm_dedup_keep_best_lsh" -> (dedupKeepBestLsh _),
    "llm_frame_sample"       -> (frameSample _),
    "llm_hash_sample"        -> (hashSample _),
    "llm_dataset_split"      -> (datasetSplit _),
    "llm_vocab_encode"       -> (vocabEncode _),
    "llm_stratified_sample"  -> (stratifiedSample _),
    "llm_media_meta"         -> (mediaMeta _),
    "llm_decode_stub"        -> (mediaMeta _), // alias: artifact continuity
    "llm_tokenize_wordcount" -> (tokenizeWordcount _),
    "llm_exact_dedup"        -> (exactDedup _),
    "llm_fingerprint"        -> (fingerprint _),
    "llm_minhash_neardup"    -> (minhashNeardup _),
    "llm_ngram_jaccard"      -> (ngramJaccard _),
    "llm_similarity_knn"     -> (similarityKnn _),
    "llm_ann_ivf"            -> (annIvf _),
    "llm_embed_cos_neardup"  -> (embedCosineNeardup _),
    "llm_text_stats"         -> (textStats _),
    "llm_token_count"        -> (tokenCount _),
    "llm_lang_id"            -> (langId _),
    "llm_quality_score"      -> (qualityScore _),
    "llm_source_cap"         -> (sourceCap _),
    "llm_simhash"            -> (simhash _),
    "llm_multimodal_join"    -> (multimodalJoin _),
    "llm_binary_meta"        -> (binaryMeta _),
    "llm_repetition"         -> (repetition _),
    "llm_contamination"      -> (contamination _),
    "llm_zipf_stats"         -> (zipfStats _),
    "llm_containment_dedup"  -> (containmentDedup _),
    "llm_decontaminate"      -> (decontaminate _),
    "llm_collocations"       -> (collocations _),
    "llm_pipeline_e2e"       -> (pipelineE2e _),
    "llm_incremental_dedup"  -> (incrementalDedup _),
    "llm_temperature_weights" -> (temperatureWeights _),
    "llm_fuzzy_editdist"     -> (fuzzyEditdist _),
    "llm_perplexity_proxy"   -> (perplexityProxy _),
    "llm_mean_pool_emb"      -> (meanPoolEmb _),
    "llm_bloom_prefilter"    -> (bloomPrefilter _),
    "llm_normalize_text"     -> (normalizeText _),
    "llm_url_normalize"      -> (urlNormalize _),
    "llm_corpus_export"      -> (corpusExport _),
    "llm_dataset_stats"      -> (datasetStats _),
    "llm_bigram_lm"          -> (bigramLm _),
    "llm_knn_graph"          -> (knnGraph _),
    "llm_ann_pq"             -> (annPq _),
    "llm_shard_assign"       -> (shardAssign _),
    "llm_winnowing"          -> (winnowing _),
    "llm_substring_dedup"    -> (substringDedup _),
    "llm_importance_weights" -> (importanceWeights _),
    "llm_bpe_pairs"          -> (bpePairs _),
    "llm_semdedup"           -> (semDedup _),
    "llm_knn_batch"          -> (knnBatch _),
    "llm_gopher_rules"       -> (gopherRules _),
  )

  val oracle: Map[String, String] = Map(
    "llm_ann_ivf_range" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |d2 AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(generate_series(1, len(e.embedding)),
         |             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
         |                * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))),
         |           (x,y) -> x + y) AS d2
         |  FROM embeddings e CROSS JOIN cent c),
         |assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT vec_id, embedding, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM d2) WHERE rn = 1),
         |probe AS (SELECT cid AS qcid FROM assign WHERE vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT a.vec_id,
         |       ${sqlDot("a.embedding", "q.qe")}
         |       / (${sqlNorm("a.embedding")} * sqrt(${sqlDot("q.qe", "q.qe")})) AS sim
         |FROM assign a JOIN probe ON a.cid = probe.qcid CROSS JOIN q
         |WHERE a.vec_id <> 0
         |  AND ${sqlDot("a.embedding", "q.qe")}
         |      / (${sqlNorm("a.embedding")} * sqrt(${sqlDot("q.qe", "q.qe")})) >= 0.2
         |ORDER BY a.vec_id""".stripMargin,

    "llm_dedup_cross_source" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |tl AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tl
        |       FROM documents),
        |sz AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
        |blk AS MATERIALIZED (SELECT lang, n_chars FROM documents
        |       GROUP BY lang, n_chars HAVING count(*) <= 128),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM documents a
        |       JOIN blk ON a.lang = blk.lang AND a.n_chars = blk.n_chars
        |       JOIN documents b
        |         ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b,
        |         CAST(len(list_intersect(la.tl, lb.tl)) AS BIGINT) AS i
        |  FROM pr JOIN tl la ON la.doc_id = doc_a
        |          JOIN tl lb ON lb.doc_id = doc_b),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |         CAST(i AS DOUBLE) / (sa.nt + sb.nt - i) AS jaccard
        |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.nt + sb.nt - i) >= 0.5)
        |SELECT doc_a, doc_b, da.source AS source_a, db.source AS source_b, jaccard
        |FROM pairs JOIN documents da ON da.doc_id = doc_a
        |           JOIN documents db ON db.doc_id = doc_b
        |WHERE da.source <> db.source
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_token_freq_bands" ->
      """WITH tf AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |r AS (
        |  SELECT token, freq,
        |         CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rnk,
        |         CAST(sum(freq) OVER (ORDER BY freq DESC, token
        |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq,
        |         CAST(sum(freq) OVER () AS BIGINT) AS total
        |  FROM tf)
        |SELECT token, freq, rnk, cum_freq,
        |       CASE WHEN cum_freq * 2 <= total THEN 'head'
        |            WHEN cum_freq * 10 <= total * 9 THEN 'torso'
        |            ELSE 'tail' END AS band
        |FROM r ORDER BY rnk""".stripMargin,

    "llm_lang_mismatch" ->
      """WITH l AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN len(list_filter(string_split(text, ' '),
        |                   t -> t = 'a' OR t = 'the')) > 0
        |              THEN 'en' ELSE 'unk' END AS pred_lang,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t = 'a' OR t = 'the')) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS stop_score
        |  FROM documents)
        |SELECT doc_id, lang, pred_lang, stop_score,
        |       (lang = 'en') <> (pred_lang = 'en') AS mismatch
        |FROM l ORDER BY doc_id""".stripMargin,

    "llm_pack_stats" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, tok_cnt,
        |         sum(tok_cnt) OVER (PARTITION BY lang ORDER BY doc_id
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d),
        |p AS (
        |  SELECT lang, tok_cnt,
        |         CAST(floor(CAST(cum - tok_cnt AS DOUBLE) / 512.0) AS BIGINT) AS bin
        |  FROM c)
        |SELECT lang, CAST(max(bin) + 1 AS BIGINT) AS n_bins,
        |       CAST(sum(tok_cnt) AS BIGINT) AS n_tokens,
        |       CAST(CAST(sum(tok_cnt) AS BIGINT) AS DOUBLE)
        |         / CAST((max(bin) + 1) * 512 AS DOUBLE) AS fill_rate
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
        |       FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         (CAST(tf.cnt AS DOUBLE) / dl.dl) * (CAST(nd.nd AS DOUBLE) / df.df) AS tfidf
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |          JOIN df ON tf.term = df.term
        |          CROSS JOIN nd)
        |SELECT doc_id,
        |       CAST(row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY tfidf DESC, term) AS BIGINT) AS rnk,
        |       term, tfidf
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "llm_cooccurrence" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        |  FROM documents),
        |dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |p AS (SELECT a.t AS ta, b.t AS tb, CAST(count(*) AS BIGINT) AS c_ab
        |      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
        |      GROUP BY 1, 2)
        |SELECT ta, tb, c_ab,
        |       CAST(c_ab AS DOUBLE) * nd.nd / (ca.c * cb.c) AS lift_ratio
        |FROM p JOIN dfreq ca ON ca.t = ta JOIN dfreq cb ON cb.t = tb
        |CROSS JOIN nd
        |ORDER BY ta, tb""".stripMargin,

    "llm_retrieval_join" ->
      s"""WITH p AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |sims AS (
         |  SELECT p.qid, e.vec_id,
         |         ${sqlDot("e.embedding", "p.qe")}
         |         / (${sqlNorm("e.embedding")} * ${sqlNorm("p.qe")}) AS sim
         |  FROM embeddings e CROSS JOIN p
         |  WHERE e.vec_id >= 5),
         |rk AS (
         |  SELECT qid, vec_id, sim,
         |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
         |  FROM sims)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim,
         |       d.lang AS hit_lang, d.source AS hit_source
         |FROM rk JOIN documents d ON d.doc_id = rk.vec_id
         |WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin,

    "llm_shingle_stats" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(t) >= 5
        |                THEN list_distinct(list_transform(generate_series(1, len(t) - 4),
        |                       i -> array_to_string(t[i:i+4], ' ')))
        |                ELSE [text] END) AS g
        |  FROM toks)
        |SELECT g AS shingle, CAST(count(*) AS BIGINT) AS df
        |FROM sh GROUP BY g
        |ORDER BY df DESC, shingle LIMIT 20""".stripMargin,

    "llm_dup_rate_by_source" ->
      s"""WITH f AS (SELECT doc_id, source, $fpSql AS fp FROM documents),
         |c AS (SELECT fp, min(doc_id) AS canonical_id FROM f GROUP BY fp)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_dups,
         |       CAST(CAST(sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)
         |                 AS BIGINT) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS dup_rate
         |FROM f JOIN c USING (fp)
         |GROUP BY source ORDER BY source""".stripMargin,

    "llm_prefix_dedup" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS prefix_fp
        |  FROM documents)
        |SELECT doc_id, prefix_fp,
        |       doc_id = min(doc_id) OVER (PARTITION BY prefix_fp) AS kept
        |FROM p ORDER BY doc_id""".stripMargin,

    "llm_length_histogram" ->
      """SELECT lang,
        |       CASE WHEN n_chars < 128 THEN 'a_lt128'
        |            WHEN n_chars < 256 THEN 'b_128_255'
        |            WHEN n_chars < 384 THEN 'c_256_383'
        |            WHEN n_chars < 512 THEN 'd_384_511'
        |            ELSE 'e_ge512' END AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    "llm_mixture_plan" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY lang),
        |d AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(list(n_docs ORDER BY lang),
        |                       x -> sqrt(CAST(x AS DOUBLE)))), (a,b) -> a + b) AS denom
        |      FROM c)
        |SELECT lang, n_docs, n_tokens,
        |       sqrt(CAST(n_docs AS DOUBLE)) / denom AS weight,
        |       sqrt(CAST(n_docs AS DOUBLE)) / denom * 100000.0 AS target_tokens,
        |       sqrt(CAST(n_docs AS DOUBLE)) / denom * 100000.0
        |         / CAST(n_tokens AS DOUBLE) AS sample_rate
        |FROM c, d ORDER BY lang""".stripMargin,

    "llm_quality_quantile" ->
      """WITH q AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t = 'a' OR t = 'the')) AS DOUBLE) AS nstop,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> length(t) <= 2)) AS DOUBLE) AS nshort
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |         (nd / n) * 0.5 + (1.0 - nstop / n) * 0.3
        |           + (1.0 - nshort / n) * 0.2 AS quality
        |  FROM q)
        |SELECT d.doc_id, d.lang, sc.quality,
        |       percent_rank() OVER (PARTITION BY d.lang
        |                            ORDER BY sc.quality DESC, d.doc_id) AS q_rank,
        |       percent_rank() OVER (PARTITION BY d.lang
        |                            ORDER BY sc.quality DESC, d.doc_id) <= 0.5 AS keep
        |FROM documents d JOIN sc ON sc.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "llm_ann_range" ->
      s"""SELECT e.vec_id,
         |       ${sqlDot("e.embedding", "q.qe")}
         |       / (${sqlNorm("e.embedding")} * sqrt(${sqlDot("q.qe", "q.qe")})) AS sim
         |FROM embeddings e
         |CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |  AND ${sqlDot("e.embedding", "q.qe")}
         |      / (${sqlNorm("e.embedding")} * sqrt(${sqlDot("q.qe", "q.qe")})) >= 0.25
         |ORDER BY e.vec_id""".stripMargin,

    "llm_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |m AS (SELECT doc_id,
        |        CAST(len(tk) AS BIGINT) AS n_words,
        |        CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum')
        |          AS DOUBLE) / len(tk) AS mean_word_len,
        |        CAST(len(list_filter(tk, x -> x = 'a' OR x = 'the')) AS BIGINT)
        |          AS stop_hits,
        |        CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_ratio
        |      FROM t)
        |SELECT doc_id, n_words, mean_word_len, stop_hits, distinct_ratio,
        |       n_words >= 20 AS ok_words,
        |       mean_word_len >= 3.0 AND mean_word_len < 5.0 AS ok_mean_len,
        |       stop_hits >= 2 AS ok_stops,
        |       distinct_ratio > 0.3 AS ok_distinct,
        |       (n_words >= 20 AND mean_word_len >= 3.0 AND mean_word_len < 5.0
        |        AND stop_hits >= 2 AND distinct_ratio > 0.3) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "llm_knn_batch" ->
      s"""WITH p AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |sims AS (
         |  SELECT p.qid, e.vec_id,
         |         ${sqlDot("e.embedding", "p.qe")}
         |         / (${sqlNorm("e.embedding")} * ${sqlNorm("p.qe")}) AS sim
         |  FROM embeddings e CROSS JOIN p
         |  WHERE e.vec_id >= 5),
         |rk AS (
         |  SELECT qid, vec_id, sim,
         |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
         |  FROM sims)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
         |FROM rk WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin,

    "llm_winnowing" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
        |hs AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) >= 5
        |           THEN list_transform(generate_series(1, len(t) - 4),
        |                  i -> md5(array_to_string(t[i:i+4], ' ')))
        |           ELSE [md5(text)] END AS h
        |  FROM toks),
        |fps AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(
        |           generate_series(1, greatest(1, len(h) - 3)),
        |           i -> list_aggregate(h[i:i+3], 'min')))) AS fp
        |  FROM hs)
        |SELECT doc_id, fp FROM fps ORDER BY doc_id, fp""".stripMargin,

    "llm_substring_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(t) >= 8
        |           THEN list_distinct(list_transform(generate_series(1, len(t) - 7),
        |                  i -> array_to_string(t[i:i+7], ' ')))
        |           ELSE [text] END) AS span
        |  FROM toks),
        |c AS (SELECT span, count(DISTINCT doc_id) AS ndocs FROM sp GROUP BY span)
        |SELECT sp.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
        |       CAST(sum(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS dup_frac
        |FROM sp JOIN c USING (span)
        |GROUP BY sp.doc_id
        |ORDER BY doc_id""".stripMargin,

    "llm_importance_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |fa AS (SELECT tok, count(*) AS f_all FROM tk GROUP BY tok),
        |ft AS (SELECT tok, count(*) AS f_tgt FROM tk WHERE source = 'src0' GROUP BY tok),
        |v AS (SELECT fa.tok, f_all, coalesce(f_tgt, 0) AS f_tgt
        |      FROM fa LEFT JOIN ft ON fa.tok = ft.tok),
        |tot AS (SELECT sum(f_all) AS n_all, sum(f_tgt) AS n_tgt FROM v),
        |d AS (SELECT tk.doc_id, count(*) AS n_toks,
        |             sum(v.f_tgt) AS num, sum(v.f_all) AS den
        |      FROM tk JOIN v ON tk.tok = v.tok
        |      GROUP BY tk.doc_id)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |       (CAST(num AS DOUBLE) * n_all) / (CAST(den AS DOUBLE) * n_tgt) AS weight
        |FROM d, tot ORDER BY doc_id""".stripMargin,

    "llm_bpe_pairs" ->
      """WITH tk AS (
        |  SELECT tok, count(*) AS f
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |bp AS (
        |  SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
        |           i -> substr(tok, CAST(i AS INT), 2))) AS pair, f
        |  FROM tk WHERE length(tok) >= 2)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS occurrences
        |FROM bp GROUP BY pair
        |ORDER BY occurrences DESC, pair""".stripMargin,
    "llm_knn_graph" ->
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed,
         |         ${sqlNorm("embedding")} AS nrm
         |  FROM embeddings
         |  QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) <= 1024),
         |p AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |         ${sqlDot("a.ed", "b.ed")} / (a.nrm * b.nrm) AS sim
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
         |r AS (SELECT src, dst, sim,
         |             CAST(row_number() OVER (PARTITION BY src
         |                                     ORDER BY sim DESC, dst) AS BIGINT) AS rank
         |      FROM p)
         |SELECT src, rank, dst, sim FROM r WHERE rank <= 3
         |ORDER BY src, rank""".stripMargin,

    "llm_trigram_lm" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |tg AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 2),
        |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks WHERE len(t) >= 3),
        |sp AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
        |              string_split(g, ' ')[3] AS w3 FROM tg),
        |c123 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS cnt
        |         FROM sp GROUP BY w1, w2, w3),
        |c12 AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS cnt12
        |        FROM c123 GROUP BY w1, w2)
        |SELECT c123.w1, c123.w2, c123.w3, c123.cnt,
        |       CAST(c123.cnt AS DOUBLE) / CAST(c12.cnt12 AS DOUBLE) AS p
        |FROM c123 JOIN c12 ON c12.w1 = c123.w1 AND c12.w2 = c123.w2
        |ORDER BY c123.w1, c123.w2, c123.w3""".stripMargin,

    "llm_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |dg AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(generate_series(1, len(t) - 2),
        |                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |    FROM toks WHERE len(t) >= 3)),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM dg GROUP BY g)
        |SELECT dg.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_ngrams,
        |       CAST(sum(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_novel,
        |       CAST(CAST(sum(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
        |                 AS BIGINT) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS novelty
        |FROM dg JOIN f ON f.g = dg.g
        |GROUP BY dg.doc_id ORDER BY dg.doc_id""".stripMargin,

    "llm_tokenizer_fertility" ->
      """WITH d AS (
        |  SELECT lang,
        |         len(string_split(text, ' ')) AS wt,
        |         list_sum(list_transform(string_split(text, ' '),
        |                  w -> (length(w) + 3) // 4)) AS st
        |  FROM documents)
        |SELECT lang,
        |       CAST(sum(st) AS BIGINT) AS subword_tokens,
        |       CAST(sum(wt) AS BIGINT) AS word_tokens,
        |       CAST(CAST(sum(st) AS BIGINT) AS DOUBLE)
        |         / CAST(CAST(sum(wt) AS BIGINT) AS DOUBLE) AS fertility
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_audio_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       'raw' AS format,
        |       CAST(NULL AS BIGINT) AS sample_rate,
        |       CAST(NULL AS BIGINT) AS channels,
        |       CAST(NULL AS BIGINT) AS bits_per_sample
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_bigram_lm" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |                               i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |sp AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2 FROM bg),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM sp GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS cnt1 FROM c12 GROUP BY w1)
        |SELECT c12.w1, c12.w2, c12.cnt,
        |       CAST(c12.cnt AS DOUBLE) / CAST(c1.cnt1 AS DOUBLE) AS p
        |FROM c12 JOIN c1 ON c1.w1 = c12.w1
        |ORDER BY c12.w1, c12.w2""".stripMargin,

    "llm_dataset_stats" ->
      """WITH qr AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t = 'a' OR t = 'the')) AS DOUBLE) AS nstop,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> length(t) <= 2)) AS DOUBLE) AS nshort
        |  FROM documents),
        |q AS (SELECT doc_id,
        |             (nd / n) * 0.5 + (1.0 - nstop / n) * 0.3
        |             + (1.0 - nshort / n) * 0.2 AS quality
        |      FROM qr),
        |d AS (SELECT doc_id, lang, n_chars,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |             md5(array_to_string(list_sort(list_distinct(
        |               string_split(text, ' '))), ' ')) AS fp
        |      FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
        |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_docs,
        |       min(quality) AS min_quality,
        |       max(quality) AS max_quality
        |FROM d JOIN q USING (doc_id)""".stripMargin,

    "llm_shard_assign" ->
      """SELECT CAST(CAST('0x' || substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |            AS UBIGINT) % 16 AS BIGINT) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY shard ORDER BY shard""".stripMargin,

    "llm_url_normalize" ->
      """SELECT doc_id,
        |       source || '.example.com' AS host,
        |       '/' || lang || '/' || doc_id AS path,
        |       CAST(doc_id AS BIGINT) AS id_param,
        |       source || '.example.com/' || lang || '/' || doc_id
        |         || '?id=' || doc_id AS canon
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_normalize_text" ->
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text),
        |            '[.,!?;:]', '', 'g'), ' +', ' ', 'g')) AS norm_text,
        |       CAST(length(text) AS BIGINT) AS len_raw,
        |       CAST(length(trim(regexp_replace(regexp_replace(lower(text),
        |            '[.,!?;:]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS len_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_corpus_export" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |tl AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tl
        |       FROM documents),
        |sz AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
        |blk AS MATERIALIZED (SELECT lang, n_chars FROM documents
        |       GROUP BY lang, n_chars HAVING count(*) <= 128),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM documents a
        |       JOIN blk ON a.lang = blk.lang AND a.n_chars = blk.n_chars
        |       JOIN documents b
        |         ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b,
        |         CAST(len(list_intersect(la.tl, lb.tl)) AS BIGINT) AS i
        |  FROM pr JOIN tl la ON la.doc_id = doc_a
        |          JOIN tl lb ON lb.doc_id = doc_b),
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.nt + sb.nt - i) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
        |reach(doc, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.doc),
        |cl AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
        |qr AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t = 'a' OR t = 'the')) AS DOUBLE) AS nstop,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> length(t) <= 2)) AS DOUBLE) AS nshort
        |  FROM documents),
        |q AS (SELECT doc_id,
        |             (nd / n) * 0.5 + (1.0 - nstop / n) * 0.3
        |             + (1.0 - nshort / n) * 0.2 AS quality
        |      FROM qr),
        |keep AS (
        |  SELECT cl.doc_id,
        |         (row_number() OVER (PARTITION BY cluster_id
        |                             ORDER BY quality DESC, cl.doc_id) = 1) AS keep
        |  FROM cl JOIN q ON q.doc_id = cl.doc_id),
        |tk3 AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, source,
        |         unnest(CASE WHEN len(t) >= 3
        |                THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                       i -> array_to_string(t[i:i+2], ' ')))
        |                ELSE [array_to_string(t, ' ')] END) AS g
        |       FROM tk3),
        |bench AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
        |cont AS (
        |  SELECT s.doc_id,
        |         CAST(sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |           / count(*) AS contamination
        |  FROM sh s LEFT JOIN bench b ON b.g = s.g
        |  WHERE s.source <> 'src0' GROUP BY s.doc_id)
        |SELECT d.doc_id, d.lang, q.quality, cont.contamination
        |FROM documents d
        |JOIN q ON q.doc_id = d.doc_id
        |JOIN cont ON cont.doc_id = d.doc_id
        |LEFT JOIN keep ON keep.doc_id = d.doc_id
        |WHERE d.source <> 'src0'
        |  AND q.quality >= 0.65
        |  AND cont.contamination < 0.5
        |  AND coalesce(keep.keep, TRUE)
        |ORDER BY d.doc_id""".stripMargin,

    "llm_mean_pool_emb" ->
      """WITH z AS (SELECT label, list(embedding ORDER BY vec_id) AS vs,
        |                  CAST(count(*) AS BIGINT) AS n
        |           FROM embeddings GROUP BY label),
        |m AS (SELECT label, n,
        |        list_reduce(
        |          list_prepend(list_transform(generate_series(1, 64),
        |                                      i -> CAST(0.0 AS DOUBLE)),
        |            list_transform(vs, v -> list_transform(v, x -> CAST(x AS DOUBLE)))),
        |          (acc, e) -> list_transform(generate_series(1, 64),
        |                                     i -> acc[i] + e[i])) AS sums
        |      FROM z)
        |SELECT label, n,
        |       CAST(unnest(generate_series(1, 64)) - 1 AS INTEGER) AS pos,
        |       unnest(list_transform(sums, x -> x / n)) AS component
        |FROM m ORDER BY label, pos""".stripMargin,

    "llm_perplexity_proxy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY t)
        |SELECT doc_id, CAST(sum(f) AS BIGINT) AS sum_freq,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(CAST(sum(f) AS BIGINT) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS mean_tok_freq
        |FROM tok JOIN tf USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_incremental_dedup" ->
      s"""SELECT doc_id, $fpSql AS fp, source FROM documents
         |WHERE source <> 'src0'
         |  AND $fpSql NOT IN (SELECT $fpSql FROM documents WHERE source = 'src0')
         |ORDER BY doc_id""".stripMargin,

    "llm_temperature_weights" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY lang),
        |d AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(list(n_docs ORDER BY lang),
        |                       x -> sqrt(CAST(x AS DOUBLE)))), (a,b) -> a + b) AS denom,
        |      CAST(sum(n_docs) AS BIGINT) AS n_total FROM c)
        |SELECT lang, n_docs,
        |       CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
        |       sqrt(CAST(n_docs AS DOUBLE)) / denom AS weight,
        |       sqrt(CAST(n_docs AS DOUBLE)) / denom
        |         / (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) AS boost
        |FROM c, d ORDER BY lang""".stripMargin,

    "llm_fuzzy_editdist" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
        |       1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
        |             / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS sim
        |FROM documents a
        |JOIN (SELECT lang, n_chars FROM documents
        |      GROUP BY lang, n_chars HAVING count(*) <= 128) blk
        |  ON a.lang = blk.lang AND a.n_chars = blk.n_chars
        |JOIN documents b
        |  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (
        |  SELECT doc_id,
        |         CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
        |           AS distinct_ratio
        |  FROM toks),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 1),
        |                               i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |         CAST(max(c) AS BIGINT) AS top,
        |         CAST(sum(c) - count(*) AS BIGINT) AS dup
        |  FROM cnt GROUP BY doc_id)
        |SELECT a.doc_id, a.n_bigrams,
        |       CAST(a.top AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE) AS top_frac,
        |       CAST(a.dup AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE) AS dup_frac,
        |       b.distinct_ratio
        |FROM agg a JOIN base b ON b.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    "llm_contamination" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |         unnest(CASE WHEN len(t) >= 3
        |                THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                       i -> array_to_string(t[i:i+2], ' ')))
        |                ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
        |hits AS (
        |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |         CAST(sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit
        |  FROM sh s LEFT JOIN bench b ON b.g = s.g
        |  WHERE s.source <> 'src0'
        |  GROUP BY s.doc_id)
        |SELECT doc_id, n_shingles, n_hit,
        |       CAST(n_hit AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination
        |FROM hits ORDER BY doc_id""".stripMargin,

    "llm_zipf_stats" ->
      """WITH tf AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token)
        |SELECT token, freq,
        |       CAST(rank() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rnk,
        |       CAST(freq AS DOUBLE) / CAST(sum(freq) OVER () AS DOUBLE) AS freq_frac
        |FROM tf ORDER BY rnk""".stripMargin,

    "llm_decontaminate" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |         unnest(CASE WHEN len(t) >= 3
        |                THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                       i -> array_to_string(t[i:i+2], ' ')))
        |                ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
        |hits AS (
        |  SELECT s.doc_id,
        |         CAST(sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS contamination
        |  FROM sh s LEFT JOIN bench b ON b.g = s.g
        |  WHERE s.source <> 'src0'
        |  GROUP BY s.doc_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN coalesce(h.contamination, 0) >= 0.15 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_dropped,
        |       CAST(sum(CASE WHEN coalesce(h.contamination, 0) >= 0.15 THEN 0 ELSE 1 END)
        |         AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN coalesce(h.contamination, 0) < 0.15 THEN d.n_chars ELSE 0 END)
        |         AS BIGINT) AS kept_chars
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |WHERE d.source <> 'src0'
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "llm_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |              i -> array_to_string(t[i:i+1], ' '))) AS b
        |       FROM toks WHERE len(t) >= 2),
        |bc AS (SELECT b, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY b),
        |uc AS (SELECT unnest(t) AS w FROM toks),
        |ucc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uc GROUP BY w),
        |n AS (SELECT CAST(sum(cab) AS BIGINT) AS nb FROM bc),
        |lifted AS (
        |  SELECT string_split(b, ' ')[1] AS word_a, string_split(b, ' ')[2] AS word_b,
        |         cab AS n_adjacent,
        |         CAST(cab * nb AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE) AS lift
        |  FROM bc JOIN ucc ca ON ca.w = string_split(b, ' ')[1]
        |          JOIN ucc cb ON cb.w = string_split(b, ' ')[2], n
        |  WHERE cab * 5000 >= nb)
        |SELECT word_a, word_b, n_adjacent, lift FROM lifted
        |WHERE lift >= 1.05
        |ORDER BY lift DESC, word_a, word_b""".stripMargin,

    "llm_pipeline_e2e" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |              '[.,!?;:]', '', 'g'), ' +', ' ', 'g')) AS norm_text,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t = 'a' OR t = 'the')) AS DOUBLE) AS nstop,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> length(t) <= 2)) AS DOUBLE) AS nshort
        |  FROM documents),
        |staged AS (
        |  SELECT doc_id, source, norm_text, md5(norm_text) AS fp,
        |         (nd / n) * 0.5 + (1.0 - nstop / n) * 0.3
        |           + (1.0 - nshort / n) * 0.2 AS quality
        |  FROM q
        |  WHERE nstop > 0
        |    AND (nd / n) * 0.5 + (1.0 - nstop / n) * 0.3
        |        + (1.0 - nshort / n) * 0.2 >= 0.64),
        |deduped AS (
        |  SELECT * FROM staged
        |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
        |capped AS (
        |  SELECT * FROM deduped
        |  QUALIFY row_number() OVER (PARTITION BY source
        |          ORDER BY quality DESC, doc_id) <= 20)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(norm_text, ' '))) AS BIGINT) AS total_toks,
        |       CAST(sum(length(norm_text)) AS BIGINT) AS total_chars,
        |       min(quality) AS quality_floor
        |FROM capped GROUP BY source ORDER BY source""".stripMargin,

    "llm_containment_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(t) >= 3
        |                THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
        |                       i -> array_to_string(t[i:i+2], ' ')))
        |                ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |kept AS (
        |  SELECT doc_id, g FROM sh
        |  WHERE g IN (SELECT g FROM sh GROUP BY g HAVING count(*) <= 50)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, shared,
        |       CAST(shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
        |FROM pairs JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE CAST(shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_normalize_emb" ->
      s"""WITH n AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(x AS DOUBLE) / ${sqlNorm("embedding")}) AS unit
         |  FROM embeddings)
         |SELECT vec_id,
         |       CAST(unnest(generate_series(1, len(unit))) - 1 AS INTEGER) AS pos,
         |       unnest(unit) AS component
         |FROM n ORDER BY vec_id, pos""".stripMargin,

    "llm_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin,

    "llm_vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok,
        |         CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS BIGINT) AS tok_id
        |  FROM tok GROUP BY tok
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, tok) <= 64),
        |pos AS (
        |  -- zipped double-unnest: the LATERAL subscript form carries the
        |  -- full token list into every position row (list x positions
        |  -- blows DuckDB's allocator at 500 k docs); same-length unnests
        |  -- zip positionally in DuckDB
        |  SELECT doc_id, unnest(generate_series(1, len(t))) AS pos,
        |         unnest(t) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) z),
        |ids AS (
        |  SELECT doc_id, pos, coalesce(v.tok_id, 0) AS id
        |  FROM pos LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |       array_to_string(list(id ORDER BY pos), ',') AS ids
        |FROM ids GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_dataset_split" ->
      """SELECT doc_id, lang,
        |       CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |                 IN ('c', 'd') THEN 'val'
        |            WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |                 IN ('e', 'f') THEN 'test'
        |            ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |      < CASE WHEN lang IN ('de', 'en', 'es') THEN '4' ELSE '8' END
        |ORDER BY doc_id""".stripMargin,

    "llm_media_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       'raw' AS format,
        |       CAST(NULL AS BIGINT) AS width,
        |       CAST(NULL AS BIGINT) AS height,
        |       CAST(NULL AS BIGINT) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_decode_stub" -> // alias of llm_media_meta (artifact continuity)
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       'raw' AS format,
        |       CAST(NULL AS BIGINT) AS width,
        |       CAST(NULL AS BIGINT) AS height,
        |       CAST(NULL AS BIGINT) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_tokenize_wordcount" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY freq DESC, word LIMIT 50""".stripMargin,

    "llm_exact_dedup" ->
      s"""SELECT $fpSql AS fp, CAST(count(*) AS BIGINT) AS dup_cnt,
         |       min(doc_id) AS canonical_id
         |FROM documents GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin,

    "llm_fingerprint" ->
      s"SELECT doc_id, $fpSql AS fp FROM documents ORDER BY doc_id",

    "llm_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |tl AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tl
        |       FROM documents),
        |sz AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
        |blk AS MATERIALIZED (SELECT lang, n_chars FROM documents
        |       GROUP BY lang, n_chars HAVING count(*) <= 128),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM documents a
        |       JOIN blk ON a.lang = blk.lang AND a.n_chars = blk.n_chars
        |       JOIN documents b
        |         ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b,
        |         CAST(len(list_intersect(la.tl, lb.tl)) AS BIGINT) AS i
        |  FROM pr JOIN tl la ON la.doc_id = doc_a
        |          JOIN tl lb ON lb.doc_id = doc_b)
        |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.nt + sb.nt - i) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / (sa.nt + sb.nt - i) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |        unnest(generate_series(0,
        |          greatest(1, CAST(ceil((len(toks) - 8) / 4.0) AS INT) + 1) - 1)) AS chunk_idx
        |      FROM d)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |       array_to_string(toks[chunk_idx*4+1 : chunk_idx*4+8], ' ') AS chunk,
        |       CAST(len(toks[chunk_idx*4+1 : chunk_idx*4+8]) AS BIGINT) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "llm_bm25_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
        |       FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd,
        |              CAST(count(*) AS BIGINT) AS ntok FROM tok),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         ((CAST(nd.nd AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
        |         * (CAST(tf.cnt AS DOUBLE) * 2.2)
        |         / (tf.cnt + 1.2 * (0.25 + 0.75
        |             * (CAST(dl.dl AS DOUBLE) / (CAST(nd.ntok AS DOUBLE) / nd.nd)))) AS bm25
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |          JOIN df ON tf.term = df.term
        |          CROSS JOIN nd)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, bm25 FROM (
        |  SELECT doc_id, term, bm25,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term) AS rnk
        |  FROM scored)
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "llm_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
        |       FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents)
        |SELECT tf.doc_id, tf.term, tf.cnt,
        |       CAST(tf.cnt AS DOUBLE) / dl.dl AS tf,
        |       CAST(nd.nd AS DOUBLE) / df.df AS idf_ratio,
        |       (CAST(tf.cnt AS DOUBLE) / dl.dl) * (CAST(nd.nd AS DOUBLE) / df.df) AS tfidf
        |FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |        JOIN df ON tf.term = df.term
        |        CROSS JOIN nd
        |ORDER BY tf.doc_id, tf.term""".stripMargin,

    "llm_quantize_emb" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |           (a, b) -> greatest(a, b)) AS mx
        |  FROM embeddings),
        |sc AS (SELECT vec_id, embedding,
        |              CASE WHEN mx > 0.0 THEN 127.0 / mx ELSE 1.0 END AS scale
        |       FROM e)
        |SELECT vec_id,
        |       CAST(unnest(generate_series(1, len(embedding))) - 1 AS INTEGER) AS pos,
        |       CAST(floor(unnest(list_transform(embedding,
        |            x -> CAST(x AS DOUBLE))) * scale + 0.5) AS BIGINT) AS qval,
        |       scale
        |FROM sc ORDER BY vec_id, pos""".stripMargin,

    "llm_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(ceil(length(text) / 16.0) AS INT) AS nf
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, greatest(nf - 1, 0))) AS frame_idx
        |  FROM d)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |       md5(substring(text, frame_idx * 16 + 1, 16)) AS frame_md5,
        |       CAST(length(substring(text, frame_idx * 16 + 1, 16)) AS BIGINT) AS frame_len
        |FROM f WHERE frame_idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "llm_pii_scrub" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         text || ' uid=' || CAST(doc_id AS VARCHAR)
        |              || ' mail=user' || CAST(doc_id AS VARCHAR) || '@example.com' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |         '[0-9]+', '<NUM>', 'g') AS scrubbed,
        |       CAST(length(raw) AS BIGINT) AS raw_len
        |FROM r ORDER BY doc_id""".stripMargin,

    "llm_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, tok_cnt,
        |         sum(tok_cnt) OVER (PARTITION BY lang ORDER BY doc_id
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT doc_id, lang, tok_cnt,
        |       CAST(floor(CAST(cum - tok_cnt AS DOUBLE) / 512.0) AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    // The scalable twin is bit-identical to the exact window form by
    // construction (two-phase prefix sum ≡ global prefix sum), so it
    // shares the same oracle statement — a full hash check, not a
    // rows-only declaration.
    "llm_pack_sequences_scalable" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, tok_cnt,
        |         sum(tok_cnt) OVER (PARTITION BY lang ORDER BY doc_id
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT doc_id, lang, tok_cnt,
        |       CAST(floor(CAST(cum - tok_cnt AS DOUBLE) / 512.0) AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    "llm_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |tl AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tl
        |       FROM documents),
        |sz AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
        |blk AS MATERIALIZED (SELECT lang, n_chars FROM documents
        |       GROUP BY lang, n_chars HAVING count(*) <= 128),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM documents a
        |       JOIN blk ON a.lang = blk.lang AND a.n_chars = blk.n_chars
        |       JOIN documents b
        |         ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b,
        |         CAST(len(list_intersect(la.tl, lb.tl)) AS BIGINT) AS i
        |  FROM pr JOIN tl la ON la.doc_id = doc_a
        |          JOIN tl lb ON lb.doc_id = doc_b),
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.nt + sb.nt - i) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
        |reach(doc, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.doc),
        |cl AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
        |qr AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t = 'a' OR t = 'the')) AS DOUBLE) AS nstop,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> length(t) <= 2)) AS DOUBLE) AS nshort
        |  FROM documents),
        |q AS (SELECT doc_id,
        |             (nd / n) * 0.5 + (1.0 - nstop / n) * 0.3
        |             + (1.0 - nshort / n) * 0.2 AS quality
        |      FROM qr)
        |SELECT cl.doc_id, cl.cluster_id,
        |       (row_number() OVER (PARTITION BY cluster_id
        |                           ORDER BY quality DESC, cl.doc_id) = 1) AS keep,
        |       quality
        |FROM cl JOIN q ON q.doc_id = cl.doc_id
        |ORDER BY cl.doc_id""".stripMargin,

    "llm_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |tl AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tl
        |       FROM documents),
        |sz AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
        |blk AS MATERIALIZED (SELECT lang, n_chars FROM documents
        |       GROUP BY lang, n_chars HAVING count(*) <= 128),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM documents a
        |       JOIN blk ON a.lang = blk.lang AND a.n_chars = blk.n_chars
        |       JOIN documents b
        |         ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b,
        |         CAST(len(list_intersect(la.tl, lb.tl)) AS BIGINT) AS i
        |  FROM pr JOIN tl la ON la.doc_id = doc_a
        |          JOIN tl lb ON lb.doc_id = doc_b),
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.nt + sb.nt - i) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
        |reach(doc, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.doc)
        |SELECT doc AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin,

    "llm_similarity_knn" ->
      s"""SELECT e.vec_id,
         |       ${sqlDot("e.embedding", "q.qe")}
         |       / (${sqlNorm("e.embedding")} * sqrt(${sqlDot("q.qe", "q.qe")})) AS sim
         |FROM embeddings e
         |CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin,

    "llm_ann_ivf" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |d2 AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(generate_series(1, len(e.embedding)),
         |             i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
         |                * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))),
         |           (x,y) -> x + y) AS d2
         |  FROM embeddings e CROSS JOIN cent c),
         |assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT vec_id, embedding, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM d2) WHERE rn = 1),
         |probe AS (SELECT cid AS qcid FROM assign WHERE vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT a.vec_id,
         |       ${sqlDot("a.embedding", "q.qe")}
         |       / (${sqlNorm("a.embedding")} * sqrt(${sqlDot("q.qe", "q.qe")})) AS sim
         |FROM assign a JOIN probe ON a.cid = probe.qcid CROSS JOIN q
         |WHERE a.vec_id <> 0
         |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,

    "llm_dedup_clusters_emb" ->
      s"""WITH RECURSIVE eok AS (
         |  SELECT * FROM embeddings WHERE label IN (
         |    SELECT label FROM embeddings GROUP BY label
         |    HAVING count(*) <= 1024)),
         |pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM eok a JOIN eok b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${sqlDot("a.embedding", "b.embedding")}
         |        / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}) > 0.3),
         |e AS (SELECT va AS a, vb AS b FROM pairs
         |      UNION ALL SELECT vb AS a, va AS b FROM pairs),
         |reach(doc, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.doc)
         |SELECT doc AS vec_id, min(r) AS cluster_id
         |FROM reach GROUP BY doc ORDER BY vec_id""".stripMargin,

    "llm_embed_cos_neardup" ->
      s"""WITH eok AS (
         |  SELECT * FROM embeddings WHERE label IN (
         |    SELECT label FROM embeddings GROUP BY label
         |    HAVING count(*) <= 1024))
         |SELECT a.vec_id AS va, b.vec_id AS vb,
         |       ${sqlDot("a.embedding", "b.embedding")}
         |       / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}) AS cos
         |FROM eok a JOIN eok b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${sqlDot("a.embedding", "b.embedding")}
         |      / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}) > 0.3
         |ORDER BY va, vb""".stripMargin,

    "llm_text_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS doc_cnt,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |       CAST(count(DISTINCT source) AS BIGINT) AS distinct_sources,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(list_sum(list_transform(string_split(text, ' '),
        |            w -> (length(w) + 3) // 4)) AS BIGINT) AS bpe_ish_tokens,
        |       CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_lang_id" ->
      """SELECT doc_id, lang,
        |       CASE WHEN len(list_filter(string_split(text, ' '),
        |                 t -> t = 'a' OR t = 'the')) > 0
        |            THEN 'en' ELSE 'unk' END AS pred_lang,
        |       CAST(len(list_filter(string_split(text, ' '),
        |            t -> t = 'a' OR t = 'the')) AS DOUBLE)
        |       / len(string_split(text, ' ')) AS stop_score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_quality_score" ->
      """WITH q AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t = 'a' OR t = 'the')) AS DOUBLE) AS nstop,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> length(t) <= 2)) AS DOUBLE) AS nshort
        |  FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS tok_cnt,
        |       nd / n AS distinct_ratio,
        |       nstop / n AS stop_ratio,
        |       nshort / n AS short_ratio,
        |       (nd / n) * 0.5 + (1.0 - nstop / n) * 0.3 + (1.0 - nshort / n) * 0.2 AS quality
        |FROM q ORDER BY doc_id""".stripMargin,

    "llm_source_cap" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> t = 'a' OR t = 'the')) AS DOUBLE) AS nstop,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              t -> length(t) <= 2)) AS DOUBLE) AS nshort
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |         (nd / n) * 0.5 + (1.0 - nstop / n) * 0.3
        |           + (1.0 - nshort / n) * 0.2 AS quality
        |  FROM q)
        |SELECT doc_id, source, quality,
        |       CAST(row_number() OVER (PARTITION BY source
        |            ORDER BY quality DESC, doc_id) AS BIGINT) AS rnk
        |FROM s QUALIFY rnk <= 10
        |ORDER BY source, rnk""".stripMargin,

    "llm_multimodal_join" ->
      s"""SELECT doc_id, label, CAST(length(text) AS BIGINT) AS text_len,
         |       ${sqlNorm("embedding")} AS emb_norm
         |FROM documents JOIN embeddings ON doc_id = vec_id
         |ORDER BY doc_id""".stripMargin,

    "llm_binary_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5,
        |       upper(substring(md5(text), 1, 8)) AS chunk_key,
        |       CAST(octet_length(encode(text)) % 256 AS BIGINT) AS stub_feature
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
