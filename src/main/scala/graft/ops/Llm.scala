package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators: deduplication (exact, MinHash
  * LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity search,
  * and text analysis (language ID, quality scoring, token counting,
  * fingerprinting).
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * higher-order array functions + hash built-ins (`xxhash64`, `md5`) —
  * no Scala UDFs in the hot path, so whole-stage codegen spans the full
  * per-document compute.
  *
  * Scale design (100 TB): every candidate-generation step is a
  * *bucketed* equi-join (band-hash or LSH bucket), never an n² cross
  * join; per-document signature compute is embarrassingly parallel map
  * work; the only shuffles are groupBy-bucket + the pair join on bucket
  * keys.
  */
object Llm {
  import Tables._

  // ---- shared vector helpers (array<double>) --------------------------
  // Native codegen'd Catalyst expressions (graft.functions.Vec) — same
  // left-to-right accumulation as the interpreted `aggregate`/`zip_with`
  // formulation and the DuckDB oracle, minus the per-element lambda
  // interpretation cost.

  def dot(a: Column, b: Column): Column = graft.functions.Vec.dot(a, b)

  def l2norm(a: Column): Column = graft.functions.Vec.l2norm(a)

  def cosine(a: Column, b: Column): Column = graft.functions.Vec.cosine(a, b)

  // ---- exact dedup ----------------------------------------------------

  /** Exact dedup = hash groupBy on the content key: one shuffle on
    * `text` (or a digest of it at scale — same plan shape). Keeps the
    * smallest doc_id per text, deterministic.
    */
  def q_dedup_exact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select("keep_id", "dup_cnt", "text")
      .orderBy("keep_id")

  // ---- MinHash + LSH near-dedup --------------------------------------

  private val Bands = 8
  private val RowsPerBand = graft.functions.TextKernels.NumHashes / Bands

  /** doc_id, sigs: array<long> of `TextKernels.NumHashes` minhashes over
    * 3-word shingles. Pure map work, no shuffle; the signature kernel is
    * a native codegen expression (`graft_minhash`), so it runs inside
    * the whole-stage-generated loop — no UDF dispatch or String decode.
    */
  private def minhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.Vec.minhash(col("text")).as("sigs"))

  /** MinHash-LSH near-duplicate pairs: shingle → minhash → band →
    * bucket → EXACT verify. Candidates only meet inside a (band,
    * band-sig) bucket, and candidate pairs are then confirmed by exact
    * shingle-set Jaccard ≥ 0.5 (candidates→verify, the standard at-scale
    * near-dup pipeline, see [[minhashPairs]]). Hash-exact DuckDB oracle:
    * the full shingle→minhash→band→cap→pair→verify pipeline is
    * replicated in HUGEINT SQL ([[graft.OracleSql.dedupMinhash]]);
    * OpsSpec additionally gates recall ≥ 0.8 AND precision 1.0 vs exact
    * ground truth.
    */
  def q_dedup_minhash(s: SparkSession, d: String): DataFrame =
    minhashPairs(documents(s, d), threshold = 0.5)

  /** No-op. [[minhashPairs]] keeps no cache or checkpoint, so there is
    * nothing to release; kept because callers written against the
    * earlier cached shape still call it.
    */
  def unpersistCandidates(): Unit = ()

  /** LSH bucket cap of the near-dup operators ([[Scale.capBuckets]]): a
    * bucket of n candidates emits n·(n-1)/2 pairs, so 256 bounds any
    * single bucket at ~32k pairs and bounds the `collect_list` buffer at
    * 256 rows. Buckets above the cap are degenerate by construction — at
    * corpus scale only boilerplate/empty documents collide thousands
    * deep, and those carry no near-dup signal worth a quadratic blowup.
    */
  val MaxBucket = 256

  /** Reusable transform: near-duplicate pairs of any `(doc_id, text)`
    * DataFrame via MinHash-LSH banding, verified on the texts. Output
    * `(id1, id2, est_jaccard, jaccard)` with id1 < id2 and exact
    * `jaccard ≥ threshold`, ordered by (id1, id2).
    *
    * Filter, then refine:
    *  - Candidates. ONE scan computes the signatures and explodes them
    *    into `(doc_id, band, bsig)` rows, whose [[Scale.bucketPairs]]
    *    (capped at [[MaxBucket]]) are made distinct across bands. Only
    *    ids and bucket keys cross its one exchange: ~160 B per document
    *    before compression, where the 32-long signature on each of the 8
    *    band rows would move ~2.2 KB. Candidate volume is Σ|bucket|²,
    *    inherent to LSH and controlled by the band width, never n².
    *  - Verify. The distinct pairs join `(doc_id, text)` on id1, then on
    *    id2, and keep the pairs whose exact shingle-set Jaccard
    *    (`graft_shingle_jaccard`, one pass per text) reaches
    *    `threshold`. LSH proposes, verification disposes: banding
    *    selects the upper tail of the 32-component estimator, so a
    *    true-J≈0.3 pair that collides typically reads est ≥ 0.5
    *    (est-only filtering measured 0.21 precision at sf0.01). The
    *    joins move pair-sized rows plus one text per candidate side.
    *  - `est_jaccard` is computed for output rows only, from the two
    *    texts with the kernels the buckets came from (`graft_minhash`,
    *    `graft_sigmatch`), so it equals the bucket-side estimate and a
    *    consumer that prunes the column never computes it.
    *
    * The whole transform runs inside the consumer's action: no cache,
    * no checkpoint, no session-wide state, so concurrent callers in one
    * session cannot free each other's blocks. The buckets the cap drops
    * are observable via [[minhashBucketStats]] (the production
    * monitoring hook: run it alongside the dedup to log how much signal
    * the cap discarded).
    */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.Vec
    val cand = Scale.bucketPairs(minhashExploded(docs).select("doc_id", "band", "bsig"),
        Seq("band", "bsig"), "doc_id", MaxBucket)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val text = docs.select("doc_id", "text")
    cand
      .join(text.select(col("doc_id").as("id1"), col("text").as("t1")), Seq("id1"))
      .join(text.select(col("doc_id").as("id2"), col("text").as("t2")), Seq("id2"))
      // the kernel runs in a one-element Generate: predicate pushdown
      // does not cross it, so the threshold filter and the output read
      // one evaluation (a projected column would be inlined into the
      // join condition and computed again for the output)
      .select(col("id1"), col("id2"), col("t1"), col("t2"),
        explode(array(Vec.shingleJaccard(col("t1"), col("t2")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"),
        // native matched-component count, not aggregate/zip_with HOF
        // lambdas (interpreted at ≈40×/element, PERF.md Finding 1)
        (Vec.sigMatch(Vec.minhash(col("t1")), Vec.minhash(col("t2")))
          .cast("double") / graft.functions.TextKernels.NumHashes).as("est_jaccard"),
        col("jaccard"))
      .orderBy("id1", "id2")
  }

  /** One row per (doc, band): the LSH bucket key stream that
    * [[minhashPairs]], [[minhashBucketStats]] and [[contaminationFuzzy]]
    * read. `sigs` is read only by [[contaminationFuzzy]]'s band-meet
    * estimate; the other two project it away before their exchange.
    */
  private def minhashExploded(docs: DataFrame): DataFrame =
    minhashSigs(docs)
      .select(col("doc_id"), col("sigs"),
        explode(transform(sequence(lit(0), lit(Bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sigs"), b * RowsPerBand + 1, lit(RowsPerBand))).as("bsig")))).as("bk"))
      .select(col("doc_id"), col("sigs"), col("bk.band").as("band"), col("bk.bsig").as("bsig"))

  /** Observability companion to [[minhashPairs]]: one summary row of the
    * LSH bucket-size distribution — total buckets, max/p-ish sizes, and
    * how many buckets (and candidate docs) the [[MaxBucket]] cap of
    * [[minhashPairs]] dropped.
    * This is the "dropped-bucket metric" a production dedup run logs
    * next to its output; it reuses the bucket aggregation's fixed-size
    * buffers (count/max/sum), so it is safe at any skew. Hash-exact
    * DuckDB oracle ([[graft.OracleSql.dedupBucketStats]]).
    */
  def minhashBucketStats(docs: DataFrame): DataFrame =
    minhashExploded(docs)
      .groupBy("band", "bsig").agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("buckets"),
        max(col("n")).as("max_bucket"),
        sum(when(col("n") > 1, col("n") * (col("n") - 1) / 2).otherwise(0)).as("candidate_pairs"),
        count(when(col("n") > MaxBucket, 1)).as("dropped_buckets"),
        coalesce(sum(when(col("n") > MaxBucket, col("n"))), lit(0)).as("dropped_doc_slots"))

  /** End-to-end near-dup resolution: minhash candidate pairs → connected
    * components → canonical doc per cluster (min doc_id). This is the
    * full dedup pipeline a training-data run executes: `keep = false`
    * rows are the near-duplicates to drop. Hash-exact DuckDB oracle:
    * recursive-CTE transitive closure over the SQL-replicated verified
    * pair set ([[graft.OracleSql.dedupClusters]]); clustering invariants
    * in OpsSpec.
    */
  def q_dedup_clusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = minhashPairs(docs, threshold = 0.5).select("id1", "id2")
    val cc = Scale.connectedComponents(docs.select("doc_id"), "doc_id", pairs, "id1", "id2")
    cc.select(col("id").as("doc_id"), col("label").as("cluster"),
        (col("id") === col("label")).as("keep"))
      .orderBy("doc_id")
  }

  /** Near-dup resolution with a QUALITY keep rule: clusters as in
    * [[q_dedup_clusters]], but the canonical survivor is the LONGEST
    * member (ties → smallest doc_id) instead of the smallest id — the
    * rule production dedup actually ships (near-dup groups usually
    * contain truncated/boilerplate-stripped variants; keeping the
    * longest retains the most content). The argmax is a row_number
    * window PARTITIONED BY cluster — near-dup clusters are small by
    * construction (bucket-capped candidates), so the window never
    * concentrates rows the way a global rank would.
    */
  def q_dedup_keep_best(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = minhashPairs(docs, threshold = 0.5).select("id1", "id2")
    val cc = Scale.connectedComponents(docs.select("doc_id"), "doc_id", pairs, "id1", "id2")
    val cl = cc.select(col("id").as("doc_id"), col("label").as("cluster"))
    val w = Window.partitionBy("cluster").orderBy(col("n_bytes").desc, col("doc_id").asc)
    cl.join(docs.select(col("doc_id"), length(col("text")).cast("long").as("n_bytes")), "doc_id")
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster"), col("n_bytes"), (col("rk") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the third
    * candidate-generation scheme next to LSH banding and simhash
    * buckets: docs sort by a normalized content key (lowercased
    * alphanumerics, first 12 chars), and each doc pairs with its w−1=2
    * predecessors in key order; survivors are pairs with word-set
    * Jaccard ≥ 0.5. Near-identical records get near-identical keys and
    * land adjacent, so candidate volume is O(n·w), never n².
    *
    * Scale shape: the sort is a lag window PARTITIONED by the key's
    * 2-char prefix — bounded buckets, full parallelism; neighbors that
    * straddle a prefix boundary are the documented recall loss
    * (standard for distributed SNM; a prefix-skewed corpus — every doc
    * starting "the …" — would want a longer bucket prefix or a
    * domain-aware key, traded against more boundary loss). A planted
    * canary (doc −1 = copy of the smallest doc → identical key,
    * adjacent by tie-break) keeps the gate non-vacuous.
    */
  def q_dedup_snm(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val canary = base.orderBy("doc_id").limit(1)
      .select(lit(-1L).as("doc_id"), col("text"))
    val keyed = base.unionAll(canary)
      .withColumn("sk", substring(
        lower(regexp_replace(col("text"), "[^A-Za-z0-9]", "")), 1, 12))
      .withColumn("bucket", substring(col("sk"), 1, 2))
    val w = Window.partitionBy("bucket").orderBy(col("sk"), col("doc_id"))
    val lagged = keyed
      .withColumn("p1_id", lag("doc_id", 1).over(w))
      .withColumn("p1_text", lag("text", 1).over(w))
      .withColumn("p2_id", lag("doc_id", 2).over(w))
      .withColumn("p2_text", lag("text", 2).over(w))
    def pairs(idc: String, txtc: String) = lagged
      .filter(col(idc).isNotNull)
      .select(
        least(col("doc_id"), col(idc)).as("id1"),
        greatest(col("doc_id"), col(idc)).as("id2"),
        (size(array_intersect(array_distinct(split(col("text"), " ")),
                              array_distinct(split(col(txtc), " ")))).cast("double") /
         size(array_union(array_distinct(split(col("text"), " ")),
                          array_distinct(split(col(txtc), " "))))).as("jaccard"))
    pairs("p1_id", "p1_text").unionAll(pairs("p2_id", "p2_text"))
      .filter(col("jaccard") >= 0.5)
      .distinct()
      .orderBy("id1", "id2")
  }

  // ---- SimHash --------------------------------------------------------

  /** 64-bit SimHash per document + Hamming distance to the previous doc
    * (previous EXISTING doc_id — id gaps are handled). The prev-doc
    * pairing is a lag window PARTITIONED by a doc_id bucket (10k ids per
    * bucket), not a global-order window — an unpartitioned window
    * funnels every row through one task and dies at scale. The first doc
    * of each bucket gets a null prev (1-in-10k boundary loss,
    * documented trade for full parallelism).
    * Hash-exact DuckDB oracle: the FNV/splitmix vote kernel is
    * replicated in HUGEINT SQL ([[graft.OracleSql.dedupSimhash]]).
    */
  def q_dedup_simhash(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id") / 10000 cast "long").orderBy("doc_id")
    simhashSigs(documents(s, d))
      .withColumn("prev_simhash", lag("simhash", 1).over(w))
      .select(
        col("doc_id"), col("simhash"),
        when(col("prev_simhash").isNotNull,
          bit_count(col("simhash").bitwiseXOR(col("prev_simhash")))).as("hamming_prev"))
      .orderBy("doc_id")
  }

  /** Reusable transform: 64-bit simhash signature per `(doc_id, text)`
    * (native codegen kernel — runs inside the whole-stage loop).
    */
  def simhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.Vec.simhash(col("text")).as("simhash"))

  // ---- n-gram Jaccard (oracle-able variant) ---------------------------

  /** Exact word-set Jaccard between consecutive doc_ids — a linear-cost
    * probe of the Jaccard kernel (the full near-dup sweep is
    * q_dedup_minhash; this one is DuckDB-verifiable).
    */
  def q_dedup_ngram(s: SparkSession, d: String): DataFrame = {
    val a = documents(s, d).select(col("doc_id").as("id1"),
      array_distinct(split(col("text"), " ")).as("w1"))
    val b = documents(s, d).select(col("doc_id").as("id2"),
      array_distinct(split(col("text"), " ")).as("w2"))
    a.join(b, col("id2") === col("id1") + 1)
      .select(col("id1"), col("id2"),
        round(size(array_intersect(col("w1"), col("w2"))).cast("double") /
          size(array_union(col("w1"), col("w2"))), 6).as("jaccard"))
      .orderBy("id1")
  }

  /** Word-set CONTAINMENT between consecutive doc_ids — the asymmetric
    * companion to [[q_dedup_ngram]]'s Jaccard: C(A,B) = |A∩B| / |A|
    * flags a small document swallowed whole by a larger one (quote
    * farms, boilerplate wrappers), which symmetric Jaccard dilutes
    * toward 0 as |B| grows. Same linear-cost consecutive-pair probe of
    * the kernel (the sweep-scale candidate generator is minhash /
    * setSimJoin); both directions emitted. DuckDB-oracled.
    */
  def q_dedup_containment(s: SparkSession, d: String): DataFrame = {
    val a = documents(s, d).select(col("doc_id").as("id1"),
      array_distinct(split(col("text"), " ")).as("w1"))
    val b = documents(s, d).select(col("doc_id").as("id2"),
      array_distinct(split(col("text"), " ")).as("w2"))
    val inter = size(array_intersect(col("w1"), col("w2"))).cast("double")
    a.join(b, col("id2") === col("id1") + 1)
      .select(col("id1"), col("id2"),
        round(inter / size(col("w1")) + lit(1e-9), 6).as("contain_fwd"),
        round(inter / size(col("w2")) + lit(1e-9), 6).as("contain_rev"))
      .orderBy("id1")
  }

  // ---- canonical-URL dedup --------------------------------------------

  /** URL canonicalization: lowercase the authority, strip the default
    * :443 port, strip a trailing path slash, drop the `#fragment`
    * (never sent to the server — pure client state), drop `utm_*`
    * tracking params, and sort the surviving query params — the
    * normalization every web-crawl dedup runs before exact-URL
    * grouping (the same fetched page arrives under dozens of surface
    * spellings). Pure codegen'd string expressions (regexp_extract /
    * filter / sort), no UDF, no shuffle — a map over the scan.
    */
  def urlCanonicalize(u: Column): Column = {
    val host = lower(regexp_replace(
      regexp_extract(u, "^https?://([^/?#]+)", 1), ":443$", ""))
    val path = regexp_replace(
      regexp_extract(u, "^https?://[^/?#]+([^?#]*)", 1), "/$", "")
    val params = array_join(
      array_sort(filter(split(regexp_extract(u, "\\?([^#]*)", 1), "&"),
        x => !startswith(x, lit("utm_")))), "&")
    concat(lit("https://"), host, path, lit("?"), params)
  }

  /** Gate for [[urlCanonicalize]]: four deterministic surface spellings
    * of each page URL (clean / SHOUTING host + :443 / shuffled params /
    * utm junk + trailing slash; page id = doc_id div 4) must collapse to
    * one canonical form — grouping on it yields the keep-decision table
    * (n_dups, min-id witness). The dedup itself is one hash aggregation
    * on the canonical string: at 100 TB the shuffle carries distinct
    * URLs, not raw rows. DuckDB-oracled end-to-end.
    */
  def q_dedup_url(s: SparkSession, d: String): DataFrame = {
    val base = expr("doc_id div 4")
    val variant = pmod(col("doc_id"), lit(4))
    val hostFull = concat(lit("src"), pmod(base, lit(20)).cast("string"),
      lit(".example.org"))
    val url = concat(
      lit("https://"),
      when(variant === 1, concat(upper(hostFull), lit(":443"))).otherwise(hostFull),
      lit("/docs/"), base.cast("string"),
      when(variant === 3, lit("/")).otherwise(lit("")),
      when(variant === 2, lit("?b=2&a=1"))
        .when(variant === 3, lit("?a=1&b=2&utm_source=feed"))
        .otherwise(lit("?a=1&b=2")))
    documents(s, d)
      .select(col("doc_id"), urlCanonicalize(url).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keep_id"))
      .orderBy("canon_url")
  }

  // ---- embedding-cosine near-dup via random-hyperplane LSH ------------

  /** Near-duplicate embedding pairs: 12-bit random-hyperplane signature
    * → bucket equi-join → exact cosine ≥ 0.95. The brute-force n² cross
    * join never happens; candidate volume is |bucket|² summed, controlled
    * by the signature width. Hash-exact DuckDB oracle: the plane-dot
    * signs, bucket cap, and exact cosine replicate in order-exact
    * list_reduce SQL ([[graft.OracleSql.dedupEmbed]]).
    */
  def q_dedup_embed(s: SparkSession, d: String): DataFrame = {
    val emb = col("embedding").cast("array<double>")
    val base = embeddings(s, d).withColumn("e", emb).select(col("vec_id"), col("e"))
    // Planted canary: an exact copy of the smallest vec_id's embedding
    // under vec_id = -1. The fixture embeddings are random vectors (max
    // pairwise cosine ≈ 0.51 at sf0.01), so without it the ≥0.95 output
    // is empty and the gate asserts nothing; the canary guarantees the
    // pair (-1, minId) exercises signature → bucket → cosine at every
    // SF. cos(-1, minId) = 1.0 exactly.
    val probe = base.orderBy("vec_id").limit(1).select(lit(-1L).as("vec_id"), col("e"))
    embedPairs(base.unionByName(probe), threshold = 0.95)
  }

  /** Reusable transform behind [[q_dedup_embed]]: near-duplicate pairs
    * of any `(vec_id, e)` DataFrame via 12-bit hyperplane signature →
    * bucket equi-join → exact cosine ≥ threshold.
    *
    * One scan + one shuffle: the [[Scale.bucketPairs]] of each signature
    * (capped at [[MaxBucket]]: zero/constant embeddings all hash to one
    * signature). Recall floor vs brute-force cosine ground truth is
    * asserted in OpsSpec on planted near-dups (single-table 12-plane
    * LSH: collision probability (1 − θ/π)^12, deterministic — the plane
    * matrix and the fixture are both fixed).
    */
  def embedPairs(vecs: DataFrame, threshold: Double): DataFrame =
    Scale.bucketPairs(
        vecs.select(col("vec_id"), col("e"), graft.functions.Vec.embSig(col("e")).as("sig")),
        Seq("sig"), "vec_id", MaxBucket)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        round(cosine(col("a.e"), col("b.e")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("id1", "id2")

  // ---- similarity search ---------------------------------------------

  /** Brute-force cosine top-k for a pinned query set (vec_id < 20):
    * broadcast the tiny query side against the full corpus, window
    * top-k per query. This is the exact-baseline; the scale path for
    * all-pairs work is the LSH bucketing above (q_dedup_embed).
    */
  def q_sim_topk(s: SparkSession, d: String): DataFrame = {
    // Norms are computed ONCE per side before the join (not per pair —
    // that would triple the per-pair flops); the pair-level cosine is
    // dot/(qn*cn), the exact arithmetic of the DuckDB oracle.
    val emb = embeddings(s, d).withColumn("e", col("embedding").cast("array<double>"))
    val q = emb.select(col("vec_id").as("qid"), col("e").as("qe"), l2norm(col("e")).as("qn"))
      .filter(col("qid") < 20)
    val c = emb.select(col("vec_id").as("cid"), col("e").as("ce"), l2norm(col("e")).as("cn"))
    val w = Window.partitionBy("qid").orderBy(col("cos_raw").desc, col("cid"))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos_raw", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 9))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("cid"), round(col("cos_raw"), 6).as("cos"))
      .orderBy("qid", "rn")
  }

  /** k-NN label classification over the embedding column — the standard
    * embedding-quality eval (does nearest-neighbor structure recover the
    * labels?) and the label-propagation primitive for weakly-labeled
    * corpus curation: each pinned query's top-5 cosine neighbors
    * majority-vote its label. Same exact-baseline plan as
    * [[q_sim_topk]] (broadcast pinned queries × corpus, per-query
    * window top-k — the LSH/IVF buckets are the at-scale carrier);
    * vote ties break by the class with the NEAREST member, then
    * smallest label — total order, engine-exact.
    */
  def q_knn_classify(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).withColumn("e", col("embedding").cast("array<double>"))
    val q = emb.select(col("vec_id").as("qid"), col("e").as("qe"),
      l2norm(col("e")).as("qn"), col("label").as("qlabel")).filter(col("qid") < 20)
    val c = emb.select(col("vec_id").as("cid"), col("e").as("ce"),
      l2norm(col("e")).as("cn"), col("label").as("clabel"))
    val w = Window.partitionBy("qid").orderBy(col("cos_raw").desc, col("cid"))
    val top = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos_raw", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 9))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
    top.groupBy(col("qid"), col("qlabel"), col("clabel"))
      .agg(count(lit(1)).as("votes"), min(col("rn")).as("__best"))
      .withColumn("__vr", row_number().over(Window.partitionBy("qid")
        .orderBy(col("votes").desc, col("__best"), col("clabel"))))
      .filter(col("__vr") === 1)
      .select(col("qid"), col("qlabel").cast("int").as("true_label"),
        col("clabel").cast("int").as("pred_label"), col("votes"),
        (col("clabel") === col("qlabel")).as("correct"))
      .orderBy("qid")
  }

  /** Truncated-embedding top-k (the Matryoshka/MRL serving trick): rank
    * by cosine over the FIRST 32 of 64 dims — prefix truncation plus
    * renormalization is exactly prefix cosine — and surface the
    * full-dim cosine of each retrieved candidate alongside, so the
    * quality trade is visible in the gate output itself. Scale story:
    * half the scan/shuffle bytes of [[q_sim_topk]] with the same plan
    * shape (broadcast pinned queries, per-query window top-k), and it
    * composes with int8 quantization ([[q_sim_quantized]]) for a 16×
    * cut. The full-dim cosine is computed only for the k survivors,
    * not per candidate pair. Same order-exact arithmetic conventions
    * as q_sim_topk (left-to-right dots, round(·,9) before ranking).
    */
  def q_sim_truncated(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("e32", slice(col("e"), 1, 32))
    val q = emb.select(col("vec_id").as("qid"), col("e32").as("qe"), l2norm(col("e32")).as("qn"),
      col("e").as("qfull"), l2norm(col("e")).as("qfn")).filter(col("qid") < 20)
    val c = emb.select(col("vec_id").as("cid"), col("e32").as("ce"), l2norm(col("e32")).as("cn"),
      col("e").as("cfull"), l2norm(col("e")).as("cfn"))
    val w = Window.partitionBy("qid").orderBy(col("cos32_raw").desc, col("cid"))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos32_raw", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 9))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("cid"),
        round(col("cos32_raw"), 6).as("cos32"),
        round(round(dot(col("qfull"), col("cfull")) / (col("qfn") * col("cfn")), 9), 6).as("cos_full"))
      .orderBy("qid", "rn")
  }

  /** Two-stage retrieval — the SERVING shape every vector store runs:
    * a cheap coarse pass over the whole corpus (prefix-32 cosine, the
    * [[q_sim_truncated]] Matryoshka trick — ¼ the FLOPs and memory
    * bandwidth of full-dim) shortlists 20 candidates per query, and
    * only the shortlist pays full-dimension exact rerank for the final
    * top-5. Deterministic end to end (exact shortlist, exact rerank,
    * id tiebreaks), so the gate is hash-exact — unlike IVF, whose
    * probe-miss nondeterminism is recall-gated instead. 100 TB shape:
    * stage 1 is the broadcast-query × corpus scan with the codegen dot
    * kernel over 32 of 64 dims; stage 2 touches 20·|Q| rows — the
    * corpus is never scanned at full dimension.
    */
  def q_sim_rerank(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("e32", slice(col("e"), 1, 32))
    val q32 = emb.select(col("vec_id").as("qid"), col("e32").as("qe"),
      l2norm(col("e32")).as("qn")).filter(col("qid") < 20)
    val c32 = emb.select(col("vec_id").as("cid"), col("e32").as("ce"),
      l2norm(col("e32")).as("cn"))
    // The shortlist sort carries ONLY (qid, cid, cos32): the first
    // formulation dragged both full 64-dim vectors through the window
    // shuffle (~1.5 KB/row over |Q|·n candidate rows) and the sf100
    // spot caught its dominant stage spilling — task-time 31× on
    // 10.8× rows/task. Full vectors join back AFTER the cut, against
    // 20·|Q| rows.
    val wShort = Window.partitionBy("qid").orderBy(col("cos32_raw").desc, col("cid"))
    val shortlist = c32.crossJoin(broadcast(q32))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos32_raw", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 9))
      .select(col("qid"), col("cid"), col("cos32_raw"))
      .withColumn("rn32", row_number().over(wShort).cast("long"))
      .filter(col("rn32") <= 20)
    val qFull = emb.select(col("vec_id").as("qid"), col("e").as("qfull"),
      l2norm(col("e")).as("qfn")).filter(col("qid") < 20)
    val cFull = emb.select(col("vec_id").as("cid"), col("e").as("cfull"),
      l2norm(col("e")).as("cfn"))
    val wRerank = Window.partitionBy("qid").orderBy(col("cos_full_raw").desc, col("cid"))
    broadcast(shortlist)
      .join(cFull, "cid")
      .join(broadcast(qFull), "qid")
      .withColumn("cos_full_raw",
        round(dot(col("qfull"), col("cfull")) / (col("qfn") * col("cfn")), 9))
      .withColumn("rank", row_number().over(wRerank).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("cid"), col("rn32").as("shortlist_pos"),
        round(col("cos_full_raw"), 6).as("cos_full"))
      .orderBy("qid", "rank")
  }

  /** Edit-distance probe between consecutive docs (built-in levenshtein,
    * capped to the first 80 chars to bound the O(len²) DP). Linear pair
    * count via the doc_id+1 equi-join — an all-pairs edit-distance sweep
    * would be the minhash candidates piped into this kernel.
    */
  def q_dedup_edit(s: SparkSession, d: String): DataFrame = {
    val t = documents(s, d).select(col("doc_id"), substring(col("text"), 1, 80).as("head80"))
    t.as("a")
      .join(t.as("b").select((col("doc_id") - 1).as("doc_id"), col("head80").as("head80_b")),
        Seq("doc_id"))
      .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"),
        levenshtein(col("head80"), col("head80_b")).cast("long").as("edit_dist"))
      .orderBy("id1")
  }

  // ---- winnowing fingerprints ----------------------------------------

  /** Gate-facing view of [[winnowFingerprints]]: the fingerprint array
    * is surfaced as scalars (count, min/max, digest of the canonical
    * CSV) — the driver's pandas compare can't hash array cells
    * (round-1 gate error). The digest pins the exact multiset.
    * Hash-exact DuckDB oracle: the FNV/splitmix k-gram chain and the
    * SIGNED window minima are replicated in HUGEINT SQL
    * ([[graft.OracleSql.winnow]]).
    */
  def q_winnow(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(documents(s, d))
      .select(
        col("doc_id"),
        col("n_fp"),
        array_min(col("fingerprints")).as("fp_min"),
        array_max(col("fingerprints")).as("fp_max"),
        md5(array_join(transform(array_sort(col("fingerprints")), _.cast("string")), ","))
          .as("fp_digest"))
      .orderBy("doc_id")

  /** Winnowing document fingerprints (the MOSS scheme): rolling k-gram
    * hashes, then the minimum hash of every w-length window, deduplicated
    * (`graft_winnow`, k = 5 words, w = 4). Guarantee: any shared
    * substring of ≥ w+k-1 words between two documents yields at least
    * one shared fingerprint (asserted in OpsSpec). Pure map work. Output
    * `doc_id, fingerprints, n_fp`.
    */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.Vec.winnow(col("text")).as("fingerprints"))
      .withColumn("n_fp", size(col("fingerprints")).cast("long")) // single kernel eval

  // ---- IVF approximate nearest neighbor -------------------------------

  private val NList = 16  // coarse cells
  private val NProbe = 8  // cells probed per query (the measured knee)

  /** IVF-style ANN top-k: the corpus is coarse-quantized into NList
    * cells (nearest centroid), queries probe only their NProbe nearest
    * cells — per-query work drops from |corpus| to ~|corpus|·NProbe/NList.
    *
    * Centroid "training" is a deterministic stride-sample of the corpus
    * (a k-means stand-in; the pipeline shape — small driver-side
    * centroid table, broadcast assignment UDF, cell-bucketed candidate
    * join — is exactly the production IVF layout). The only driver
    * collect is the NList centroid vectors, which is small BY
    * CONSTRUCTION at any corpus size. No oracle (approximate); recall
    * vs the exact baseline is asserted in OpsSpec.
    */
  def q_sim_ivf(s: SparkSession, d: String): DataFrame = q_sim_ivf(s, d, 100.0)

  def q_sim_ivf(s: SparkSession, d: String, trainFraction: Double): DataFrame =
    q_sim_ivf(s, d, trainFraction, NProbe)

  /** `nProbe` override for the recall/latency trade. The committed
    * sf0.01/0.1/1 ladder (IVF_RECALL_r11.json) shows recall@5 rising
    * near-linearly with the probed fraction on the uniform synthetic
    * embeddings — 0.21/0.35/0.53/0.79 (sf0.01) and 0.23/0.38/0.66/0.85
    * (sf0.1) at nProbe 1/2/4/8 of 16 cells — i.e. there is no sharp
    * knee below half the corpus when neighbors are near-uniform, so the
    * recall-per-probe curve ends at nProbe=8: the DEFAULT operating
    * point, chosen deliberately (round-10 verdict item 6) as the
    * highest recall before probing degenerates into most-of-the-corpus;
    * callers trading recall for probe cost pass a lower nProbe with the
    * published curve in hand. At sf1 the ladder saturates (1.0 from
    * nProbe=1): the replicated corpus' true top-5 are exact replicas,
    * which quantize into the SAME cell — the regime real near-dup-heavy
    * corpora live in, where IVF shines.
    */
  def q_sim_ivf(s: SparkSession, d: String, trainFraction: Double,
                nProbe: Int): DataFrame =
    q_sim_ivf(s, d, trainFraction, nProbe, NList)

  /** `nList` override — the quantizer grain. The gate default stays
    * NList=16 (right for the sub-5k gate corpora); at scale the
    * defended sizing is nList = ⌈√n⌉ with nProbe = 8: the round-12
    * CLUSTERED ladder (IVF_RECALL_r12.json — planted 64-component
    * Gaussian mixture, the geometry real embedding corpora have, where
    * the uniform fixture's recall ∝ probed-fraction artifact
    * disappears) measures a SHARP knee at nProbe≈8 ABSOLUTE across
    * three decades — recall@5 0.98 at 5k/71 cells (11% probed), 1.00 at
    * 50k/224 from nProbe=4 (1.8%), 1.00 at 500k/708 from nProbe=8
    * (1.1%) — i.e. the probed fraction FALLS with n while recall holds,
    * which is the entire IVF value proposition. OpsSpec gates the
    * operating point (recall ≥ 0.9 on a fresh clustered fixture at
    * nList=√n, nProbe=nList/8).
    */
  def q_sim_ivf(s: SparkSession, d: String, trainFraction: Double,
                nProbe: Int, nList: Int): DataFrame = {
    val NList = nList
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

    def cellFn(cents: Array[(Int, Seq[Double])], n: Int) = {
      // flat primitive centroid matrix: the naive tuple-map + full sortBy
      // allocated ~nList tuples per ROW and sorted all of them to take
      // n — measured as the quantizer wall on the 500k×707-cell recall
      // ladder. Selection is a bounded descending insertion (n slots,
      // strict-> displacement keeps the earlier cid on dot ties — the
      // stable-sortBy order), dots accumulate over a primitive array.
      val flat = cents.map(_._2.toArray)
      val cids = cents.map(_._1)
      val bc = s.sparkContext.broadcast((flat, cids))
      udf { e: Seq[Double] =>
        val (cs, ids) = bc.value
        val ev = e.toArray
        val bestDot = new Array[Double](n)
        val bestCid = new Array[Int](n)
        var filled = 0
        var c = 0
        while (c < cs.length) {
          val cv = cs(c)
          var dot = 0.0
          var i = 0
          val lim = math.min(ev.length, cv.length)
          while (i < lim) { dot += ev(i) * cv(i); i += 1 }
          // insert (dot, cid) into the descending top-n
          if (filled < n || dot > bestDot(filled - 1)) {
            var p = math.min(filled, n - 1)
            while (p > 0 && dot > bestDot(p - 1)) {
              bestDot(p) = bestDot(p - 1); bestCid(p) = bestCid(p - 1); p -= 1
            }
            bestDot(p) = dot; bestCid(p) = ids(c)
            if (filled < n) filled += 1
          }
          c += 1
        }
        java.util.Arrays.copyOf(bestCid, filled).toSeq
      }
    }

    // init: deterministic stride sample; refine with 2 Lloyd iterations.
    // At scale, pass trainFraction < 100 so quantizer training runs on a
    // deterministic hash-sample (the standard IVF recipe — training
    // never touches the full corpus); the default trains on everything,
    // right for test-scale corpora. The train set is cached for the
    // iteration loop (training is eager) and released before returning.
    // Only the NList×Dim centroid matrix reaches the driver.
    val centroids = Scratch.scope { scratch =>
      val trainSet = scratch.persist(
        if (trainFraction >= 100.0) emb
        else Scale.hashSample(emb, Seq(col("vec_id")), trainFraction),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var trained: Array[(Int, Seq[Double])] = emb
        .filter(col("vec_id") % 31 === 0).orderBy("vec_id").limit(NList)
        .collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1)) }
      val vsum = udaf(Udafs.VecSum)
      for (_ <- 1 to 2) {
        val assigned = trainSet.withColumn("cell", element_at(cellFn(trained, 1)(col("e")), 1))
        // centroid update via the JVM vector-sum aggregate — no n·dim
        // explode; the shuffle carries only per-cell partial buffers
        val means = assigned
          .groupBy("cell").agg(vsum(col("e")).as("s"))
          .collect().map { r =>
            val st = r.getStruct(1)
            val (sums, n) = (st.getSeq[Double](0), st.getLong(1))
            (r.getInt(0), sums.map(_ / n))
          }.toMap
        // empty cells keep their previous centroid
        trained = trained.map { case (cid, c) => (cid, means.getOrElse(cid, c)) }
      }
      trained
    }(_ => Nil)

    val corpus = emb
      .withColumn("cell", element_at(cellFn(centroids, 1)(col("e")), 1))
      .select(col("vec_id").as("cid_v"), col("e").as("ce"), l2norm(col("e")).as("cn"), col("cell"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("e").as("qe"), l2norm(col("e")).as("qn"),
        explode(cellFn(centroids, nProbe)(col("e"))).as("cell"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid_v"))
    queries.join(corpus, "cell") // equi-join on cell: candidates only
      .filter(col("cid_v") =!= col("qid"))
      .withColumn("cos", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 9))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("cid_v").as("cid"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rn")
  }

  // ---- int8-quantized similarity search --------------------------------

  /** Symmetric per-vector int8 quantization of an embedding column:
    * `scale = max|e|/127`, `codes[i] = round(e[i]/scale)` — plus the
    * exact L2 norm, captured BEFORE precision is dropped. The persisted
    * corpus then costs 1 byte/component instead of 8 (the at-scale win:
    * a 100 TB float64 embedding store becomes 12.5 TB of scan/shuffle/
    * broadcast bytes), and reconstruction is `codes[i]*scale` with
    * per-component error ≤ scale/2. Pure codegen'd expressions.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val e = col(vecCol)
    val scale =
      greatest(array_max(transform(e, abs(_))), lit(1e-30)) / lit(127.0)
    df.withColumn("q_scale", scale)
      .withColumn("q_codes",
        transform(e, x => round(x / col("q_scale")).cast("tinyint")))
      .withColumn("q_norm", l2norm(e))
      .drop(vecCol)
  }

  /** Top-k cosine over the int8-QUANTIZED corpus (same shape as the
    * exact [[q_sim_topk]]: broadcast pinned query side, window top-k):
    * `cos ≈ (sa·sb·Σ qa[i]·qb[i]) / (|a|·|b|)` with the exact stored
    * norms. The int dot runs through the same codegen `graft_dot`
    * kernel (codes cast back to double inside the whole-stage loop —
    * the 4-8× saving is in STORAGE/SHUFFLE bytes, which is what
    * dominates a 100 TB scan, not flops). Hash-exact DuckDB oracle
    * ([[graft.OracleSql.simQuantized]] — round-half-away and the exact
    * integer codes ARE portable SQL); OpsSpec asserts recall@5 vs the
    * exact baseline and the per-component reconstruction bound.
    */
  def q_sim_quantized(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val quant = quantizeInt8(emb, "e")
      .select(col("vec_id"), col("q_codes").cast("array<double>").as("qd"),
        col("q_scale"), col("q_norm"))
    val q = quant.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("qd").as("qa"),
        col("q_scale").as("sa"), col("q_norm").as("na"))
    val c = quant
      .select(col("vec_id").as("cid"), col("qd").as("qb"),
        col("q_scale").as("sb"), col("q_norm").as("nb"))
    val w = Window.partitionBy("qid").orderBy(col("cos_raw").desc, col("cid"))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos_raw",
        round(col("sa") * col("sb") * dot(col("qa"), col("qb")) /
          (col("na") * col("nb")), 9))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("cid"), round(col("cos_raw"), 6).as("cos_q"))
      .orderBy("qid", "rn")
  }

  // ---- BPE tokenizer training ----------------------------------------

  /** Distributed BPE merge-rule training (Sennrich et al. 2016,
    * arXiv:1508.07909) — the tokenizer-training step of a pretraining
    * pipeline, in its scale-correct formulation: the corpus collapses
    * ONCE to its distinct-word frequency table (Zipf-bounded — ~100M
    * rows off 100 TB of text), and every merge round runs over words ×
    * counts, never raw text. Per round: one weighted adjacent-pair
    * count (map-side combined; `zip_with` over the symbol array inside
    * the scan stage), a top-1 collect (the driver sees ONE row per
    * round), and a map-side merge apply; `localCheckpoint` bounds
    * lineage across rounds. Ties break (count desc, left asc, right
    * asc), so the learned rules are fully deterministic.
    *
    * Returns (ordered merge rules with their frequencies, final
    * symbolized word table).
    */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int)
      : (Seq[(String, String, Long)], DataFrame) = Scratch.scope { scratch =>
    // LAZY checkpoints throughout the round loop: each round's pair-count
    // job is a FULL aggregation over every partition of `words`, so it
    // materializes the (lazily-marked) checkpoint as a side effect — the
    // merge-apply pass fuses into the count pass and each round costs ONE
    // job, not two (and at vocabulary scale, one pass over the word
    // table, not two).
    var words = scratch.checkpoint(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat(split(col("w"), ""), array(lit("</w>"))).as("syms"), col("cnt")),
      eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = words
        .select(col("cnt"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => struct(x.as("l"), y.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1).collect()
      // the aggregate above touched every partition of `words`
      scratch.keep(words)
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((l, r, f))
        words = scratch.checkpoint(words
          .withColumn("syms",
            graft.functions.Vec.bpeApply(col("syms"), Seq((l, r)))), eager = false)
      }
      round += 1
    }
    // a loop that ended on a merge leaves the final round's checkpoint
    // unmaterialized: force it (one full pass — exactly the eager
    // materialization the final round skipped), so the returned table
    // owns its blocks and storage holds ONE checkpoint (OpsSpec pins it)
    if (!exhausted && merges.nonEmpty) words.count()
    (merges.toSeq, words)
  }(r => Seq(r._2))

  /** BPE ENCODING with a trained merge list — the apply side of
    * [[bpeTrain]], i.e. what actually tokenizes the corpus before
    * training. Standard greedy decoder (Sennrich et al. 2016 §3;
    * the GPT-2 reference encoder): per word, repeatedly merge the
    * adjacent pair with the LOWEST merge rank until none applies —
    * equivalent to replaying the training merges in order, because one
    * left-to-right pass exhausts a rule (a merge output `a+b` can never
    * re-create the pair `(a,b)`).
    *
    * Shape at 100 TB: the kernel runs once per DISTINCT word
    * (Zipf-bounded vocabulary, same collapse as training), with the
    * merge-rank table baked into the kernel's plan (broadcast-sized: the
    * merge list IS the tokenizer model, ~30k entries). Documents then
    * pick up their words' token arrays through an equi-join on the word
    * (vocabulary side broadcastable) and a per-doc positional
    * flatten bounded by doc length. Raw text never meets the kernel.
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    // same initial symbolization expression as bpeTrain, so the two
    // sides of the parity invariant (encode(vocab) == trained word
    // table) start from identical symbol arrays by construction; the
    // greedy merge loop is the native codegen graft_bpe_apply kernel
    // (its UDF reference lives in TextExpressionsSpec)
    val vocab = docs
      .select(explode(split(col(textCol), " ")).as("__w"))
      .filter(length(col("__w")) > 0).distinct()
      .withColumn("__toks",
        graft.functions.Vec.bpeApply(
          concat(split(col("__w"), ""), array(lit("</w>"))), merges))
    val tokRows = docs
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), " ")).as(Seq("__pos", "__dw")))
      .filter(length(col("__dw")) > 0)
      .join(vocab, col("__dw") === col("__w"))
      .groupBy("__id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__toks")))),
        s => s.getField("__toks"))).as("tokens"))
    docs.select(col(idCol)).distinct()
      .join(tokRows, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("tokens"), array().cast("array<string>")).as("tokens"))
  }

  /** Gate query for [[bpeTrain]]+[[bpeEncode]]: train 30 merges on the
    * documents corpus, tokenize every document with them, and report
    * per-doc token count and char-per-token compression. Fully
    * deterministic (training tie-break is total); token arrays are
    * surfaced as a '|'-joined prefix so the driver's pandas hash path
    * (no list cells) applies. Hash-exact oracle: OracleSql.bpeEncode
    * (unrolled materialized CTE rounds + sep-encoded string replace);
    * OpsSpec additionally holds the parity + round-trip invariants.
    */
  def q_bpe_encode(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val (merges, _) = bpeTrain(docs, "text", numMerges = 30)
    bpeEncode(docs, "doc_id", "text", merges.map { case (l, r, _) => (l, r) })
      .select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"),
        array_join(slice(col("tokens"), 1, 10), "|").as("head_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility by language — tokens-per-word after applying
    * the corpus-trained BPE (Sennrich 2016 merges via [[bpeEncode]]):
    * the vocabulary-coverage metric multilingual pipelines watch,
    * because a tokenizer trained lopsided makes under-represented
    * languages pay 2-4× the tokens for the same text (and therefore
    * 2-4× the training/inference budget — the mBERT/XLM imbalance
    * q_temperature_sample exists to correct). Fertility ships as the
    * house round-half-up ppm integer, engine-exact; word counts are
    * the nonempty whitespace tokens (the bpe tokenization's own word
    * grain).
    */
  def q_tokenizer_fertility(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val (merges, _) = bpeTrain(docs, "text", numMerges = 30)
    val enc = bpeEncode(docs, "doc_id", "text", merges.map { case (l, r, _) => (l, r) })
      .select(col("doc_id"), size(col("tokens")).cast("long").as("n_t"))
    docs.select(col("doc_id"), col("lang"),
        size(filter(split(col("text"), " "), w => length(w) > lit(0)))
          .cast("long").as("n_w"))
      .join(enc, "doc_id")
      .groupBy("lang")
      .agg(sum("n_w").as("n_words"), sum("n_t").as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        expr("cast((2000000 * n_tokens + n_words) div (2 * n_words) as bigint)")
          .as("fertility_ppm"))
      .orderBy("lang")
  }

  /** Per-document character-histogram Shannon entropy — the
    * gibberish/boilerplate screen next to the compression-ratio signal
    * (q_quality_compress): natural text sits in a narrow char-entropy
    * band, while keyboard mash, base64 blobs and repeated separators
    * fall outside it. Exact-integer discipline: per-(doc, char) counts
    * are exact, each −p·ln p term is rounded to a micro-nat INTEGER
    * from identical (cnt, n) inputs in both engines, and the per-doc
    * sum of integers is order-independent (the q_entropy / corpus-card
    * dsum convention).
    *
    * Production path is the ONE-PASS `graft_charstats` codegen kernel:
    * per-doc entropy is a per-ROW scalar, so exploding every character
    * into a shuffle row (the explode(split(text, "")) form that
    * TextExpressionsSpec keeps as the parity reference —
    * 3 billion rows and a giant (doc,char) hash agg at sf100, the
    * largest decade ratio on the r12 board) buys nothing. The kernel
    * keeps the whole computation inside the scan stage: no shuffle but
    * the final orderBy. Bit-parity with the explode form is pinned by
    * TextExpressionsSpec on the corpus + unicode edges (surrogate
    * halves, combining marks, empty text).
    */
  def q_char_entropy(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), graft.functions.Vec.charStats(col("text")).as("cs"))
      .filter(col("cs").isNotNull)
      .select(col("doc_id"),
        col("cs.n_chars_split").as("n_chars_split"),
        col("cs.entropy_micro").as("entropy_micro"))
      .orderBy("doc_id")

  /** Gate query for [[bpeTrain]]: the first 10 merge rules learned from
    * the documents corpus, with rank and corpus frequency. Exact
    * integer counts + total-order tie-break make the output
    * deterministic at every SF. Hash-exact oracle: OracleSql.bpeTrain
    * (the merge budget unrolled as CTE rounds); OpsSpec additionally
    * verifies the learned rules on a hand-computable corpus against
    * the published algorithm's trace.
    */
  def q_bpe_train(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val (merges, _) = bpeTrain(documents(s, d), "text", numMerges = 10)
    merges.zipWithIndex
      .map { case ((l, r, f), i) => (i.toLong + 1, l, r, l + r, f) }
      .toDF("rank", "left", "right", "merged", "freq")
      .orderBy("rank")
  }

  /** CCNet-style language-model quality filter: score every document by
    * its mean negative log-probability under a UNIGRAM model estimated
    * from the corpus itself, keep documents under a cutoff (high nll =
    * unusual token distribution = boilerplate/garbled/off-language —
    * the Wenzek et al. 2020 CCNet screen, with the unigram LM standing
    * in for their KenLM since the shape, not the model, is the Spark
    * part). Shape at 100 TB: one explode in the scan stage collapsed
    * IMMEDIATELY to (doc_id, term, tf) by a map-side-combined agg —
    * the raw token-occurrence stream never crosses a shuffle on the
    * Zipf-skewed term key (sf100 measured 14.9×/decade before this
    * pre-aggregation; the doc-term matrix is bounded by docs × vocab).
    * The Zipf-bounded vocab (Heaps-law sublinear) is then BROADCAST so
    * the per-term log-prob lookup is map-side; the only corpus-sized
    * shuffle left is the evenly-distributed doc_id agg key.
    *
    * Determinism: per-term log-probs are rounded to 6 then the exact
    * per-doc sum is Σ tf·lp in DECIMAL — bit-identical to summing lp
    * per occurrence, and partial-aggregation order can never change
    * the score (same contract as `Relational.dsum`).
    */
  def q_quality_perplexity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val terms = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // the Zipf-bounded vocab is materialized once; the total reduces it
    // (previously the plan re-derived the token explode per component —
    // 4 corpus scans, ExecProbe-audited; now 2: vocab build + doc join)
    val vocab = tf.groupBy("term").agg(sum("tf").as("cnt")).localCheckpoint()
    val total = vocab.agg(sum("cnt").as("total"))
    tf.join(broadcast(vocab), "term")
      .crossJoin(broadcast(total))
      .withColumn("lp",
        round(log(col("cnt").cast("double") / col("total").cast("double")) + lit(1e-9), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"), sum(col("lp") * col("tf")).as("slp"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("slp").cast("double") / col("n_tokens") + lit(1e-9), 6).as("nll"))
      // cutoff sits inside the fixture's nll range (3.38–3.70 at
      // sf0.01) so the screen demonstrably drops the worst tail
      .withColumn("keep", col("nll") <= 3.55)
      .orderBy("doc_id")
  }

  /** Corpus vocabulary: term → collection frequency + document
    * frequency, thresholded. One explode inside the scan stage, one
    * map-side-combined aggregation on the term — the vocabulary-build
    * step of any tokenizer/quality pipeline, linear at 100 TB.
    */
  def q_vocab_df(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .filter(col("cf") >= 50)
      .orderBy("term")

  /** Differential word usage — log-odds ratio with an informative
    * Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words":
    * Political Analysis 16(4) §3.5): which words distinguish source
    * 'src0' from the rest of the corpus, variance-stabilized so rare
    * words don't dominate the way raw log-odds or PMI would. The prior
    * α_w = a0·(global_w / global_total) shrinks per-word odds toward
    * the corpus-wide rate. All inputs are exact integer counts; δ, σ²
    * and z are computed from them with the identical expression tree in
    * both engines and z is rounded to a micro-integer (the house
    * convention for transcendental outputs). Shape at 100 TB: the
    * corpus collapses to the Zipf-bounded vocabulary before any math —
    * one explode + one word-grain agg, a cf floor bounds the output.
    */
  def q_log_odds(s: SparkSession, d: String): DataFrame = {
    val a0 = 1000.0
    val words = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val counts = words.groupBy("word").agg(
      count(when(col("source") === "src0", lit(1))).as("y_i"),
      count(when(col("source") =!= "src0", lit(1))).as("y_j"))
      .filter(col("y_i") + col("y_j") >= 20)
    val tot = words.agg(
      count(when(col("source") === "src0", lit(1))).as("n_i"),
      count(when(col("source") =!= "src0", lit(1))).as("n_j"))
    def dbl(c: Column) = c.cast("double")
    counts.crossJoin(broadcast(tot))
      .withColumn("aw",
        lit(a0) * (dbl(col("y_i") + col("y_j")) / dbl(col("n_i") + col("n_j"))))
      .withColumn("delta",
        log((dbl(col("y_i")) + col("aw"))
            / (dbl(col("n_i")) + lit(a0) - dbl(col("y_i")) - col("aw")))
          - log((dbl(col("y_j")) + col("aw"))
            / (dbl(col("n_j")) + lit(a0) - dbl(col("y_j")) - col("aw"))))
      .withColumn("variance",
        lit(1.0) / (dbl(col("y_i")) + col("aw"))
          + lit(1.0) / (dbl(col("y_j")) + col("aw")))
      .select(col("word"), col("y_i"), col("y_j"),
        round(col("delta") / sqrt(col("variance")) * 1000000 + lit(1e-9), 0)
          .cast("long").as("z_micro"))
      .orderBy("word")
  }

  /** Exact WEIGHTED median per group — the percentile family's missing
    * member: each document weighs by its token count, so the statistic
    * answers "the length at which half the corpus TOKENS sit in shorter
    * docs" (the curriculum/packing planner's question; the unweighted
    * median over-represents short docs). Exact integer selection at
    * VALUE grain: per (source, value) weight sums, a cumulative window
    * over the tiny distinct-value relation, then the smallest value
    * whose doubled cumulative weight reaches the total — no floats, no
    * interpolation, cross-engine exact.
    */
  def q_weighted_median(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("source"), col("n_chars"),
        graft.functions.Vec.wordCount(col("text")).as("w"))
    val vals = docs.groupBy("source", "n_chars").agg(sum("w").as("wsum"))
    val win = Window.partitionBy("source").orderBy("n_chars")
    val tot = Window.partitionBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vals
      .withColumn("cum", sum("wsum").over(
        win.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("w_total", sum("wsum").over(tot))
      .filter(col("cum") * 2 >= col("w_total"))
      .groupBy("source")
      .agg(min("n_chars").as("weighted_median_chars"),
        max("w_total").as("total_tokens"))
      .orderBy("source")
  }

  /** 1-D Wasserstein (earth-mover) distance between the benchmark
    * source's length distribution and the rest of the corpus — the
    * drift family's metric with UNITS (expected chars a doc must move),
    * complementing PSI/JS (bin-relative) and KS (sup-norm). W₁ =
    * ∫|F_a − F_b| over the value axis, computed EXACTLY in integers by
    * cross-multiplying the two CDFs to the common denominator n_a·n_b:
    * Σ |cumA·n_b − cumB·n_a| · (v_{i+1} − v_i), emitted as that integer
    * numerator plus the denominator (the rational IS the statistic).
    * Value-grain everything: two counts, one merged cumulative window
    * over distinct lengths, one lead().
    */
  def q_drift_wasserstein(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val byVal = docs.groupBy("n_chars").agg(
      count(when(col("source") === "src0", lit(1))).as("ca"),
      count(when(col("source") =!= "src0", lit(1))).as("cb"))
    val w = Window.orderBy("n_chars")
    val tot = docs.agg(
      count(when(col("source") === "src0", lit(1))).as("na"),
      count(when(col("source") =!= "src0", lit(1))).as("nb"))
    byVal
      .withColumn("cuma", sum("ca").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cumb", sum("cb").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gap", lead("n_chars", 1).over(w) - col("n_chars"))
      .filter(col("gap").isNotNull)
      .crossJoin(broadcast(tot))
      .agg(
        sum(abs(col("cuma") * col("nb") - col("cumb") * col("na")) * col("gap"))
          .cast("long").as("w1_numer"),
        max(col("na") * col("nb")).as("w1_denom"))
  }

  /** Quantile normalization across sources — map every source's
    * `n_chars` distribution onto the POOLED corpus distribution (the
    * microarray-normalization classic, used in data mixing to strip
    * per-source length bias while preserving each source's ranking):
    * a doc at within-source CDF position q is assigned the smallest
    * global value whose global CDF reaches q (inverse-CDF step
    * function — EXACT integer cross-multiplied comparisons, no
    * interpolation, no floats anywhere). Shape at 100 TB: both CDFs
    * live at VALUE grain (distinct n_chars ≪ docs — the windows sort
    * thousands of rows, never the corpus); the value→value map
    * broadcasts back onto the doc-grain relation.
    */
  def q_quantile_norm(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val sv = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
    val ws = Window.partitionBy("source").orderBy("n_chars")
    val sc = sv
      .withColumn("cum", sum("cnt").over(
        ws.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_src", sum("cnt").over(
        Window.partitionBy("source")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val gv = docs.groupBy("n_chars").agg(count(lit(1)).as("gcnt"))
    val wg = Window.orderBy("n_chars")
    val gc = gv
      .withColumn("gcum", sum("gcnt").over(
        wg.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gprev", col("gcum") - col("gcnt"))
      .select(col("n_chars").as("gval"), col("gcum"), col("gprev"))
    val n = docs.agg(count(lit(1)).as("n_all"))
    // target global rank r = ceil(cum * N / n_src), matched to the
    // unique global value owning cum range (gprev, gcum]
    val mapped = sc.crossJoin(broadcast(n))
      .withColumn("r", expr("(cum * n_all + n_src - 1) div n_src"))
      .join(broadcast(gc), col("r") > col("gprev") && col("r") <= col("gcum"))
      .select(col("source"), col("n_chars"), col("gval").as("norm_chars"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(broadcast(mapped), Seq("source", "n_chars"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("norm_chars"))
      .orderBy("doc_id")
  }

  /** Bigram LM sufficient statistics — the integer count tables a
    * Kneser-Ney/Katz n-gram model trains from: per surviving bigram,
    * `c12` = bigram count, `c1` = left-context count Σc(w1·),
    * `n1p_fwd` = N1+(w1·) distinct continuations of w1, `n1p_bwd` =
    * N1+(·w2) distinct left contexts of w2 (the KN continuation-
    * probability numerator). Emitting the exact integer statistics
    * instead of smoothed probabilities keeps the gate hash-exact and
    * IS the trained model — the discounted probability is a cheap
    * query-time formula over these four columns.
    *
    * Shape at 100 TB: bigram pairs are built with an array transform
    * inside the scan stage (no token-stream self-join); the first
    * aggregation map-side-combines occurrences into the Zipf-bounded
    * bigram TYPE table, and every downstream stat is an aggregate or
    * join over types, never occurrences (the q_tfidf pattern).
    */
  def q_bigram_lm(s: SparkSession, d: String): DataFrame = {
    val pairs = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      // the >= 2 filter also dodges Spark's descending sequence(1, 0)
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |          i -> struct(toks[i-1] AS w1, toks[i] AS w2))""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // one corpus scan: the Heaps-bounded type table is materialized
    // once and the marginals reduce it (without the checkpoint the
    // executed plan re-derived the full bigram explode per component —
    // 6 parquet scans, ExecProbe-audited; PERF.md round 9)
    val types = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val left = types.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1p_fwd"))
    val right = types.groupBy("w2").agg(count(lit(1)).as("n1p_bwd"))
    types.join(left, "w1").join(right, "w2")
      .filter(col("c12") >= 5)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1p_fwd"), col("n1p_bwd"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(1000)
  }

  /** Skip-gram co-occurrence counts (word2vec-style ±2 window): how
    * often word pairs appear within two positions, in text order — the
    * sufficient statistics behind embedding training data, collocation
    * mining, and windowed PMI (the doc-level PMI profile sees bag
    * co-occurrence; this sees PROXIMITY). Pair generation is pure
    * array arithmetic inside the scan stage (two slice+zip passes per
    * doc — distance-1 and distance-2 — no join, no window, fanout
    * exactly 2n−3 pairs per n-token doc); the count reduces map-side
    * to the Zipf-bounded pair-type table, and the report is a
    * distributed TakeOrderedAndProject top-100.
    */
  def q_cooccur_skipgram(s: SparkSession, d: String): DataFrame = {
    val pairs = documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        """concat(
          |  zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
          |           (a, b) -> struct(a AS w1, b AS w2)),
          |  CASE WHEN size(t) >= 3 THEN
          |    zip_with(slice(t, 1, size(t) - 2), slice(t, 3, size(t) - 2),
          |             (a, b) -> struct(a AS w1, b AS w2))
          |  ELSE array() END)""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_cooccur"))
      .orderBy(col("n_cooccur").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** TF-IDF weights per (document, term): tf from one grouped count,
    * df from a term-level aggregate joined back on the term, N from a
    * 1-row broadcast (no driver action). Smooth idf
    * (ln((N+1)/(df+1))+1); tf≥5 bounds the emitted matrix. Two
    * shuffles — (doc,term) and term — regardless of corpus size.
    */
  def q_tfidf(s: SparkSession, d: String): DataFrame = {
    val terms = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .filter(col("tf") >= 5)
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs").cast("double") + 1.0) /
          (col("df").cast("double") + 1.0)) + 1.0) + lit(1e-9), 6))
      .select("doc_id", "term", "tf", "df", "tfidf")
      .orderBy("doc_id", "term")
  }

  /** BM25 ranking (Robertson/Lucene form) for a pinned query-term set —
    * the retrieval scoring a corpus pipeline serves next to its
    * inverted index. Shape: doc lengths from one agg over the term
    * stream; df/tf restricted to the query terms BEFORE any join
    * (selective early filter); avgdl/N ride a broadcast scalar row.
    * Per-(doc, term) partial scores are rounded then DECIMAL-summed so
    * the 2-3-term sum is partitioning-independent; top-50 plans as
    * TakeOrderedAndProject. DuckDB-oracled, hash-exact.
    */
  def q_bm25(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (k1, b) = (1.2, 0.75)
    val qTerms = Seq("the", "data", "model")
    val terms = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n_docs"))
    val qt = terms.filter(col("term").isin(qTerms: _*))
    val tf = qt.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = qt.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    tf.join(dfreq, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("part",
        round(col("idf") * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))) + lit(1e-9), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("doc_id")
      .agg(round(sum(col("part")).cast("double") + lit(1e-9), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(50)
  }

  /** Inverted index (term → sorted posting list): the retrieval-side
    * structure a corpus pipeline materializes next to the text. One
    * explode + one term-shuffle; posting lists are per-term buckets
    * (bounded by document frequency), rendered as a sorted CSV string
    * for the gate. Thresholded to frequent terms so the emitted index
    * is the hot vocabulary, not the long tail.
    */
  def q_inverted_index(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        array_join(array_sort(collect_list(col("doc_id"))), ",").as("postings"))
      .filter(col("df") >= 30)
      .orderBy("term")

  /** End-to-end DPP-orchestrated document pipeline — the engine's two
    * halves composed: reference pipeline combinators (`sequence`/`Prev`)
    * driving LLM data ops (normalize → language filter → exact dedup on
    * the normalized key → projection). Each step is a lazy DataFrame
    * transform, so Catalyst fuses the whole pipeline into one plan —
    * the filter reaches the scan even though it was declared three
    * steps deep.
    */
  def q_pipeline_docs(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline._
    val norm = graft.functions.Vec.normText(col("text"))
    val p = DPP("docs" -> documents(s, d))
    p.sequence(
      p.docs >> fn("normalize")(_.withColumn("norm_key", md5(norm))) >> p.normed,
      Prev >> fn("langFilter")(_.filter(col("lang").isin("es", "de", "zh"))) >> p.kept,
      Prev >> fn("dedup")(df =>
        Scale.dedupKeepFirst(df, Seq(col("norm_key")), Seq(col("doc_id")))) >> p.unique,
      Prev >> fn("project")(
        _.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")) >> p.result)
    p("result")
  }

  /** End-to-end "corpus release" pipeline — the flagship composition the
    * engine exists for, every tier exercised in ONE gated query:
    * lakehouse on-ramp (snapshot-table commit + read-back of the raw
    * corpus), the reference DPP combinators (`sequence`/`Prev`)
    * orchestrating the LLM data ops, and a lakehouse off-ramp (the
    * release card committed as its own versioned snapshot and served
    * from the committed bytes). Stages, each individually gated
    * elsewhere and composed here verbatim:
    *
    *   ingest → normalize (the VERBATIM regex idiom — the auto-injected
    *   [[graft.plans.TextKernelRewriteRule]] lowers it to
    *   `graft_normtext`/`translate`, PipelineSpec asserts the fire) →
    *   quality gate (lang allowlist + ≥5-token floor) → exact dedup on
    *   the normalized key (keep min doc_id) → MinHash-LSH near-dup drop
    *   (verified Jaccard ≥ 0.5; the LARGER id of each verified pair is
    *   dropped — one bounded-bucket LSH pass, never doc×doc) → Neyman-
    *   allocation stratified sample (budget 200, by source — the
    *   [[graft.ops.Relational.q_sample_neyman]] single-corpus-scan
    *   quotaSample carrier) → one-pass corpus card → snapshot publish.
    *
    * The DuckDB oracle ([[graft.OracleSql.pipelineRelease]]) replays the
    * deterministic stages end to end — including the HUGEINT minhash
    * replica — so the composed artifact is hash-gated, not just each
    * piece. 100 TB shape: every stage is the gated production operator;
    * the only driver materialization is the one-row-per-source card.
    */
  def q_pipeline_release(s: SparkSession, d: String): DataFrame = {
    // the publish stage reads the committed card back into a local
    // relation, so the whole scratch tree — corpus snapshot AND card
    // snapshot — can go before returning, and goes when a step throws:
    // repeated Verify/Bench/smoke runs must not accumulate directories
    // under java.io.tmpdir
    val base = java.nio.file.Files.createTempDirectory("graft_release_")
    try {
      val p = releasePipeline(s, d, base)
      // the result is a local relation: free the checkpoints behind every
      // stage slot (the bench runs this gate repeatedly — blocks must not
      // accumulate)
      Scratch.release(p.snapshot.values.toSeq: _*)
      p("result")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  /** Builds and RUNS the release composition with its snapshots under
    * `base`, returning the pipeline context (every stage slot
    * inspectable — PipelineDataSpec counts corpus-snapshot rescans in the
    * composed plan). The caller owns `base`; [[q_pipeline_release]] is
    * the gate wrapper.
    *
    * Shape: every per-source decision is one Spark action whose small
    * result the driver holds — the Neyman allocation, the sampler's
    * survivor cut and miss check, the card, and the card read-back —
    * and the card and the result are local relations. Document text
    * crosses no shuffle at bench scale: the exact dedup and the sample
    * cut decide on narrow rows ([[releaseDedupExact]], [[releaseSample]]).
    * Measured jobs of a warm run over sf0.001 (JobProbe, 4 cores):
    * ingest 1, dedupExact 3 (one action: the key aggregate, the
    * survivor-id broadcast and the survivor-text checkpoint), dedupNear
    * 8 (one action; the LSH pairs run inside it), neymanSample 8,
    * corpusCard 4, publish 2; with the collect of the result, 26 in all
    * (SessionSpec).
    */
  private[graft] def releasePipeline(
      s: SparkSession, d: String, base: java.nio.file.Path): graft.pipeline.DPP = {
    import graft.pipeline._
    val corpusSnap = s"$base/corpus_snapshot"
    val cardSnap = s"$base/release_card"
    val p = DPP("raw" -> documents(s, d))
    p.sequence(
      p.raw >> fn("ingest") { df =>
        Sinks.Snapshots.commit(s, df, corpusSnap)
        Sinks.Snapshots.read(s, corpusSnap)
      } >> p.corpus,
      Prev >> fn("normalize")(_
        .withColumn("norm_key", md5(lower(trim(regexp_replace(
          regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " ")))))
        .withColumn("n_tok", size(split(col("text"), " ")))) >> p.normed,
      Prev >> fn("quality")(_
        .filter(col("lang").isin("es", "de", "zh") && col("n_tok") >= 5)) >> p.kept,
      Prev >> fn("dedupExact")(releaseDedupExact) >> p.uniq,
      Prev >> fn("dedupNear") { df =>
        val drop = minhashPairs(df, threshold = 0.5)
          .select(col("id2").as("doc_id")).distinct()
        // Checkpoint the SURVIVOR IDS (dim-sized: one long per kept doc)
        // and re-attach payloads with a semi-join against the committed
        // snapshot — the guide-§8 "decide with small rows" move. The
        // downstream tier runs several independent driver actions
        // (Neyman alloc + the quota sampler's survivor cut/checks), and
        // each one re-executed its whole subtree per action: without
        // this barrier the LSH candidate pipeline re-derived in EVERY
        // such job (measured at sf0.1: eight serial ~0.8 s single-task
        // re-derivations inside the neymanSample tier, 94 of the
        // query's 115 jobs). Now it materializes exactly once, and every
        // later action pays one column-pruned snapshot scan + an id
        // semi-join (broadcast at bench scale; plannable as SMJ/bloom
        // at cluster scale).
        val keepIds = df.select("doc_id").join(drop, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        p("corpus").join(keepIds, Seq("doc_id"), "left_semi")
      } >> p.deduped,
      Prev >> fn("neymanSample")(releaseSample(_, 200L)) >> p.sampled,
      Prev >> fn("corpusCard")(cardLocal) >> p.card,
      Prev >> fn("publish") { card =>
        // a local relation scans as up to one partition per core: one
        // partition keeps the card one file
        Sinks.Snapshots.commit(s, card.coalesce(1), cardSnap)
        // read the committed bytes back (one row per source) and sort
        // them on the driver: the result is a local relation
        val back = Sinks.Snapshots.read(s, cardSnap)
        sortedBySource(back.collect(), back.schema, s)
      } >> p.result)
    p
  }

  /** The release pipeline's exact dedup: of the rows sharing a
    * `norm_key`, keep the one with the min `doc_id`, as `(doc_id, text)`
    * — the rows of `Scale.dedupKeepFirst(df, Seq(norm_key), Seq(doc_id))`
    * when `doc_id` is unique and non-null (the documents key).
    *
    * The survivors are decided on the narrow `(norm_key, doc_id)` rows —
    * a min per key, combined map-side, so the exchange carries one
    * partial row per key and partition — and re-attached to the texts by
    * a semi-join on `doc_id`. The re-attach broadcasts the id set when it
    * is small; at cluster scale it is a sort-merge semi-join that moves
    * the text once by `doc_id`, no more than a window over the whole rows
    * would. Only the key side computes `norm_key`.
    *
    * The survivors are checkpointed by the same action: the pipeline's
    * one corpus-sized checkpoint, which the LSH that follows reads four
    * ways. Checkpointed before the dedup instead, each of those reads
    * would repeat the min-per-key aggregate and its broadcast semi-join
    * inside the near-dup action. The caller owns the checkpoint:
    * [[q_pipeline_release]] frees it with [[Scratch.release]].
    */
  private[graft] def releaseDedupExact(df: DataFrame): DataFrame = {
    val firsts = df.groupBy("norm_key").agg(min("doc_id").as("doc_id"))
    df.select("doc_id", "text").join(firsts.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
  }

  /** The release pipeline's Neyman-allocation stratified sample of
    * `budget` docs by `source` (deterministic md5 draw, retry-stable)
    * over a `(doc_id, source, n_chars, text, lang)` frame. The card
    * features are computed in the population's scan stage and replace
    * `text` ([[cardFeatures]]), so the sampler's survivor checkpoint and
    * rank exchange carry narrow rows. Output: `source, doc_id, n_chars,
    * lang, n_tokens, k, n_h, rn`, the input of [[cardLocal]].
    */
  private[graft] def releaseSample(df: DataFrame, budget: Long): DataFrame = {
    val pop = cardFeatures(df.select(col("doc_id"), col("source"), col("n_chars"),
      col("text"), col("lang")))
    val alloc = Relational.neymanAlloc(pop.select("doc_id", "source", "n_chars"), budget)
    Scale.quotaSample(pop, Seq("source"),
      md5(concat_ws(":", col("source"), col("doc_id"))), Seq(col("doc_id")),
      Right(alloc.select(col("source"), col("n_h"))),
      groupCounts = Some(alloc.select(col("source"), col("n").as("__grp_n"))))
  }

  private val ChunkW = 8 // words per chunk for cross-doc chunk dedup

  /** C4-style cross-document chunk dedup census: split every document
    * into fixed 8-word chunks and count, per document, how many of its
    * chunks also occur in ANOTHER document (the "remove duplicated
    * lines/paragraphs across the corpus" pre-training filter). Shape at
    * 100 TB: chunks explode inside the scan stage; the duplicate set is
    * found with one map-side-combined agg on the chunk hash; the
    * left-semi-style count join shuffles chunk rows once — never
    * doc × doc.
    */
  def q_dedup_lines(s: SparkSession, d: String): DataFrame = {
    val chunks = documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.Vec.wordNGrams(col("text"), ChunkW, ChunkW)).as("chunk"))
    val dup = chunks.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") > 1)
      .select(col("chunk").as("dchunk"))
    chunks.join(dup, col("chunk") === col("dchunk"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(col("dchunk")).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  /** Content-defined chunking dedup census — the shift-robust sibling of
    * [[q_dedup_lines]]: chunk boundaries come from a per-token rolling-
    * hash predicate (`graft_cdc_chunks`, mean 16-word chunks), so an
    * insertion or deletion perturbs only the chunk containing the edit
    * and every later chunk re-aligns bit-identically — fixed frames and
    * fixed-stride lines lose ALL downstream chunks to the shift. This is
    * the storage-dedup CDC idea (Muthitacharoen et al. 2001, LBFS)
    * applied to corpus boilerplate detection. A planted canary (doc −1 =
    * copy of the smallest doc) keeps the gate non-vacuous.
    *
    * Shape at 100 TB: chunks are emitted inside the scan stage by a
    * codegen kernel (no token-stream explode, no per-doc window); the
    * shuffle currency is the 16-byte md5 of each ~16-word chunk — one
    * map-side-combined agg finds cross-doc duplicates, one chunk-keyed
    * join counts them per doc. md5 keys are uniform: no skew, and both
    * shuffles move ~1/16 of the token stream.
    */
  def q_dedup_cdc(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val canary = base.orderBy("doc_id").limit(1)
      .select(lit(-1L).as("doc_id"), col("text"))
    val chunks = base.unionAll(canary)
      .select(col("doc_id"),
        explode(graft.functions.Vec.cdcChunks(col("text"))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk").cast("binary")).as("ck"))
    val dup = chunks.groupBy("ck")
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") > 1)
      .select(col("ck").as("dck"))
    chunks.join(dup, col("ck") === col("dck"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(col("dck")).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  /** ExactSubstr-style duplicate-SPAN removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §4.1): any span of `k` consecutive tokens that
    * occurs at least `minOcc` times across the whole corpus is removed
    * from EVERY document; the survivors are re-joined into the cleaned
    * text. This is the span-level sibling of document-level dedup — it
    * kills boilerplate (headers, license blocks, navigation chrome)
    * that document hashing can never catch. Semantics deviation from
    * the paper: ALL occurrences are removed (the C4 duplicated-line
    * convention), not all-but-one — simpler, idempotent, and the form
    * every production cleaning pipeline uses.
    *
    * Shape at 100 TB — the paper's suffix array is replaced by three
    * embarrassingly-parallel passes, no global order anywhere:
    *  1. window hashes: each doc emits its k-gram 64-bit hashes inside
    *     the scan stage (array HOFs, codegen; census rows are narrow
    *     (id, pos, hash) tuples, never gram text);
    *  2. census: map-side-combined count per hash → the duplicated set;
    *  3. coverage: occurrences of duplicated hashes explode to the ≤ k
    *     positions they cover; a left-anti join on (doc, pos) keeps the
    *     uncovered tokens, and a per-doc sort/agg (bounded by doc
    *     length) rebuilds the text.
    * A 64-bit hash collision flags a span as duplicated spuriously
    * (P ≈ n²/2⁶⁵ over n distinct grams) — it can only over-clean,
    * never corrupt surviving text.
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 7, minOcc: Int = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")
    val base = docs.select(col(idCol).as("__id"), split(col(textCol), " ").as("__w"))
      .withColumn("__n", size(col("__w")))
    val occ = base
      .select(col("__id"),
        posexplode(
          when(col("__n") >= k,
            transform(sequence(lit(0), col("__n") - k),
              q => xxhash64(concat_ws(" ", slice(col("__w"), q + 1, lit(k))))))
            .otherwise(array().cast("array<bigint>"))))
      .toDF("__id", "__q", "__g")
    val dup = occ.groupBy("__g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minOcc).select("__g")
    val covered = occ.join(dup, "__g")
      .select(col("__id"), explode(sequence(col("__q"), col("__q") + (k - 1))).as("__pos"))
      .distinct()
    val toks = base.select(col("__id"), posexplode(col("__w")).as(Seq("__pos", "__tok")))
    val kept = toks.join(covered, Seq("__id", "__pos"), "left_anti")
    val rebuilt = kept.groupBy("__id")
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            s => s.getField("__tok")), " ").as("__clean"),
        count(lit(1)).as("__kept"))
    base.join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        coalesce(col("__kept"), lit(0L)).as("n_kept"),
        (col("__n").cast("long") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Gate query for [[dedupSpans]]: clean the documents table of every
    * 7-token span occurring twice anywhere in the corpus (the fixture
    * plants cross-doc boilerplate spans — ~9% of tokens go). Verified
    * text-for-text by a DuckDB oracle that carries the gram STRINGS,
    * so the 64-bit-hash census is also collision-audited at gate scale.
    */
  def q_dedup_spans(s: SparkSession, d: String): DataFrame =
    dedupSpans(documents(s, d), "doc_id", "text", k = 7, minOcc = 2)
      .orderBy("doc_id")

  /** Incremental dedup of a NEW batch against an already-ingested
    * corpus — the production ingest pattern: the corpus is represented
    * only by its persisted key INDEX (one key column; at scale a
    * bucketed table on the key so this join never shuffles the index),
    * never rescanned. A batch row survives iff its key is absent from
    * the index AND it is the first occurrence (min id) of its key
    * within the batch. Returns every batch row with a `keep` flag; the
    * index update for the next batch is `index ∪ keys of kept rows`.
    *
    * Shape: one left join + one window, both hash-partitioned on the
    * key — two shuffles of the BATCH (small by definition), zero of
    * the corpus beyond the index keys.
    */
  def incrementalDedup(batch: DataFrame, idCol: String, keyCol: String,
                       index: DataFrame): DataFrame = {
    val idx = index.select(col(index.columns.head).as(keyCol))
      .distinct().withColumn("__in_corpus", lit(true))
    val w = Window.partitionBy(keyCol).orderBy(idCol)
    batch.join(idx, Seq(keyCol), "left")
      .withColumn("__rn", row_number().over(w))
      .withColumn("keep", col("__in_corpus").isNull && col("__rn") === 1)
      .drop("__in_corpus", "__rn")
  }

  /** Near-dup flavor of [[incrementalDedup]]: the corpus index holds
    * MinHash band signatures `(band, bsig)` instead of exact keys; a
    * batch doc is flagged as a candidate near-dup of the corpus when
    * ANY of its bands collides with the index (standard LSH contract:
    * candidates, to be confirmed by an exact kernel on the flagged
    * minority). Semi-join on (band, bsig) — the index is bucketable on
    * the same key, so at scale the probe co-locates.
    */
  def incrementalMinhashFlags(batch: DataFrame, sigIndex: DataFrame): DataFrame = {
    val hits = minhashExploded(batch)
      .join(sigIndex.select("band", "bsig"), Seq("band", "bsig"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("near_corpus", lit(true))
    batch.join(hits, Seq("doc_id"), "left")
      .withColumn("near_corpus", coalesce(col("near_corpus"), lit(false)))
  }

  /** Band-signature index of a corpus — what a production run persists
    * (bucketed on (band, bsig)) for the next [[incrementalMinhashFlags]]
    * batch.
    */
  def minhashIndex(corpus: DataFrame): DataFrame =
    minhashExploded(corpus).select("band", "bsig").distinct()

  /** Gate query for [[incrementalDedup]]: docs below 250 are "the
    * corpus" (only their normalized keys survive as the index), docs
    * from 250 up are "the new batch". Exact-key dedup on the
    * q_text_normalize key, so the whole flow is SQL-expressible and
    * DuckDB-oracled.
    */
  def q_dedup_incremental(s: SparkSession, d: String): DataFrame = {
    val norm = graft.functions.Vec.normText(col("text"))
    val n = documents(s, d).select(col("doc_id"), norm.as("k"))
    val index = n.filter(col("doc_id") < 250).select("k")
    val batch = n.filter(col("doc_id") >= 250)
    incrementalDedup(batch, "doc_id", "k", index)
      .select("doc_id", "keep")
      .orderBy("doc_id")
  }

  /** Text normalization (the dedup-key step every pipeline runs before
    * exact dedup): strip non-alphanumerics, collapse whitespace, trim,
    * lowercase — then surface the md5 dedup key + normalized length.
    * Pure codegen'd string expressions, shuffle-free, embarrassingly
    * parallel.
    */
  def q_text_normalize(s: SparkSession, d: String): DataFrame = {
    val norm = graft.functions.Vec.normText(col("text"))
    documents(s, d)
      .select(col("doc_id"), md5(norm).as("norm_key"),
        length(norm).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  /** Planted non-ASCII canary rows for the Unicode gates — the fixture
    * corpus is pure ASCII (verified), so without them NFC and script
    * detection would be vacuously-passing identity checks. Doc −1 and
    * −2 are the SAME string in decomposed (e + U+0301) vs precomposed
    * (é) form; −3 is Cyrillic; −4 CJK; −5 mixed-script.
    */
  private[graft] val unicodeCanaries: Seq[(Long, String)] = Seq(
      (-1L, "café modèle français"), // decomposed
      (-2L, "café modèle français"),    // precomposed NFC
      (-3L, "привет мир"), // привет мир
      (-4L, "漢字のテスト"),   // 漢字のテスト
      (-5L, "mixed мир and 漢字 text"))

  private def withUnicodeCanaries(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select("doc_id", "text")
      .unionByName(unicodeCanaries.toDF("doc_id", "text"))
  }

  /** Unicode NFC normalization audit (`graft_nfc` codegen kernel over
    * `java.text.Normalizer`): per doc, whether the text is already
    * NFC, the codepoint count before/after, and the md5 of the
    * normalized form — the canonical-equivalence collapse every
    * dedup key needs BEFORE hashing (visually identical strings with
    * different codepoint sequences — e+combining-acute vs é — hash
    * apart otherwise; the planted canary pair −1/−2 must share
    * nfc_key). Shuffle-free scan-stage expressions; hash-exact DuckDB
    * oracle via `nfc_normalize` (both implement Unicode NFC).
    */
  def q_text_nfc(s: SparkSession, d: String): DataFrame =
    withUnicodeCanaries(documents(s, d))
      .withColumn("nfc", graft.functions.Vec.nfc(col("text")))
      .select(
        col("doc_id"),
        (col("text") === col("nfc")).as("is_nfc"),
        length(col("text")).cast("long").as("n_cp"),
        length(col("nfc")).cast("long").as("n_cp_nfc"),
        md5(col("nfc")).as("nfc_key"))
      .orderBy("doc_id")

  /** Unicode-script detection (the pre-language-ID routing step of a
    * multilingual pipeline: a CJK doc must never reach the Latin
    * stopword heuristic): per-doc codepoint counts for
    * Latin/Cyrillic/Han/Hiragana+Katakana, the dominant script
    * (tie-break by fixed order), and its share in ppm of scripted
    * codepoints. `regexp_count` over script character classes —
    * codegen'd scan-stage work, no shuffle; exact integers so the
    * DuckDB RE2 oracle (`\\p{Script}` classes) is hash-exact.
    */
  def q_script_detect(s: SparkSession, d: String): DataFrame = {
    val scripts = Seq(
      "latin" -> "\\p{IsLatin}",
      "cyrillic" -> "\\p{IsCyrillic}",
      "han" -> "\\p{IsHan}",
      "kana" -> "[\\p{IsHiragana}\\p{IsKatakana}]")
    val base = scripts.foldLeft(withUnicodeCanaries(documents(s, d))) {
      case (df, (name, re)) =>
        df.withColumn(s"n_$name", regexp_count(col("text"), lit(re)).cast("long"))
    }
    val total = scripts.map { case (n, _) => col(s"n_$n") }.reduce(_ + _)
    // dominant: first script (in declared order) achieving the max count
    val maxCount = scripts.map(p => col(s"n_${p._1}")).reduce((a, b) => greatest(a, b))
    val domExpr = scripts.reverse.foldLeft(lit("none")) { case (acc, (name, _)) =>
      when(col(s"n_$name") === maxCount && maxCount > 0, lit(name)).otherwise(acc)
    }
    base.withColumn("__max", maxCount).withColumn("__tot", total)
      .select(
        col("doc_id"),
        col("n_latin"), col("n_cyrillic"), col("n_han"), col("n_kana"),
        domExpr.as("dominant"),
        when(col("__tot") > 0, expr("__max * 1000000L div __tot"))
          .otherwise(lit(0L)).cast("long").as("dom_share_ppm"))
      .orderBy("doc_id")
  }

  /** Compression-ratio quality signal (the MassiveText/Gopher-class
    * screen: highly repetitive boilerplate deflates far below natural
    * prose, near-random noise doesn't deflate at all): per doc,
    * deflate(level 6) the UTF-8 bytes and report
    * ratio_ppm = compressed·10⁶ / raw (integer division — exact). The
    * kernel is a per-partition map (one `Deflater` reused per
    * partition, reset per doc — allocation-free in the loop); at
    * 100 TB this is embarrassingly parallel scan work. No SQL oracle
    * (DuckDB has no deflate) → rows-only gate; OpsSpec pins the
    * invariants: repetitive ≪ prose < shuffled-noise, determinism,
    * and the empty-doc convention (ratio 0).
    */
  def q_quality_compress(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        val out = it.map { case (id, text) =>
          val raw = (if (text == null) "" else text).getBytes("UTF-8")
          var comp = 0L
          if (raw.nonEmpty) {
            defl.reset()
            defl.setInput(raw)
            defl.finish()
            while (!defl.finished()) comp += defl.deflate(buf)
          }
          (id, raw.length.toLong,
            if (raw.isEmpty) 0L else comp * 1000000L / raw.length)
        }
        // release the native zlib state when the partition drains —
        // finalizer-driven cleanup accumulates off-heap memory on
        // long-lived executors
        new Iterator[(Long, Long, Long)] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h) defl.end()
            h
          }
          def next(): (Long, Long, Long) = out.next()
        }
      }
      .toDF("doc_id", "n_bytes", "deflate_ppm")
      .orderBy("doc_id")
  }

  /** Full distributed k-means clustering over the embedding corpus
    * (`Scale.kMeans` — Lloyd until convergence, map-side assignment,
    * one partial+final agg per iteration). Surfaces the cluster census:
    * size and majority label per cluster — the topic/domain-bucketing
    * step of a training-data pipeline. No oracle (iterative float
    * refinement isn't SQL); OpsSpec asserts the Lloyd invariants
    * (monotone WCSS, nearest-centroid assignment, full coverage).
    */
  def q_cluster_kmeans(s: SparkSession, d: String): DataFrame = {
    val model = Scale.kMeans(embeddings(s, d), "embedding", k = 8, maxIters = 5)
    model.assigned
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), countDistinct(col("label")).as("n_labels"))
      .orderBy("cluster")
  }

  /** SemDeDup semantic near-dedup over the embedding corpus
    * ([[Scale.semanticDedup]]): k-means bucketing confines the
    * quadratic cosine screen to within-cluster pairs. One row per item
    * with its cluster and keep flag.
    *
    * k = √n (clamped to [4, 4096]) BALANCES the two cost terms the
    * operator pays: centroid assignment is n·k·dim per Lloyd pass and
    * the within-cluster quadratic screen is Σ|c|² ≈ n·(n/k), so their
    * sum minimizes at k ≈ √n — total work ~2·n^1.5, the
    * sort-tier growth. The previous fixed-cluster-size heuristic
    * (k = n/64) made ASSIGNMENT n²/64: invisible at the driver SFs,
    * the slowest query in the suite at sf1 (8.7 s; √n cuts it ~3×),
    * quadratic death at 100 TB. Past the clamp you shard the
    * clustering hierarchically (coarse k-means → per-cell k-means),
    * which composes from the same pieces.
    * Planted canary (same device as q_dedup_embed): vec_id −1 is an
    * exact copy of the smallest vec_id's embedding — fixture vectors
    * max out at pairwise cos ≈ 0.51, so without it the ≥0.95 screen
    * never fires; identical vectors land in the same cluster under ANY
    * centroid set, so the canary pair survives k-means nondeterminism
    * by construction. No oracle (iterative float k-means isn't SQL);
    * OpsSpec asserts the keep-rule invariants brute-force.
    */
  def q_dedup_semantic(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val probe = base.orderBy("vec_id").limit(1).select(lit(-1L).as("vec_id"), col("e"))
    val corpus = base.unionByName(probe)
    val k = math.max(4, math.min(4096, math.sqrt(corpus.count().toDouble).ceil.toInt))
    // 3 Lloyd iterations, not convergence: SemDeDup needs decent
    // BUCKETING (near-identical vectors land together under any
    // centroid set); extra refinement buys no dedup recall, just jobs
    Scale.semanticDedup(corpus, "vec_id", "e", k, threshold = 0.95, maxIters = 3)
      .orderBy("vec_id")
  }

  /** Maximal Marginal Relevance (MMR) selection (Carbonell & Goldstein
    * 1998): greedily pick k items maximizing
    * `λ·cos(query, d) − (1−λ)·max_{s∈selected} cos(d, s)` — the
    * diversity-aware top-k used to assemble eval/few-shot/dedup'd
    * fine-tuning sets where plain top-k returns k near-copies of the
    * best hit.
    *
    * Shape: query relevance is computed ONCE and checkpointed; each of
    * the k greedy rounds is one full scan scoring
    * `λ·relq − (1−λ)·greatest(cos to each selected)` with the ≤k
    * selected vectors broadcast as literals, then a top-1 `limit(1)`
    * (TakeOrdered — one row to the driver per round, the sanctioned
    * payload). Total work O(k²·n·dim) with NO pairwise corpus join;
    * k scans amortize on a cluster exactly like the other fixed-round
    * iterative operators (BPE, Lloyd). Ties break on vec_id, so the
    * selection is deterministic.
    */
  def mmrSelect(vecs: DataFrame, queryVec: Seq[Double], k: Int,
                lambda: Double): DataFrame = Scratch.scope { scratch =>
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = scratch.checkpoint(vecs.select(col("vec_id"), col("e"))
      .withColumn("relq", cosine(col("e"), typedLit(queryVec))))
    var selected = Vector.empty[(Int, Long, Double)] // rank, id, score
    var selVecs = Vector.empty[Seq[Double]]
    for (rank <- 1 to k) {
      val penalty =
        if (selVecs.isEmpty) lit(0.0)
        else selVecs.map(v => cosine(col("e"), typedLit(v)))
          .reduce((a, b) => greatest(a, b))
      val candidates =
        if (selected.isEmpty) base
        else base.filter(!col("vec_id").isInCollection(selected.map(_._2)))
      val top = candidates
        .withColumn("score", lit(lambda) * col("relq") - lit(1.0 - lambda) * penalty)
        .orderBy(col("score").desc, col("vec_id"))
        .limit(1)
        .select(col("vec_id"), col("e"), col("score"))
        .collect()
      if (top.nonEmpty) {
        selected :+= ((rank, top(0).getLong(0), top(0).getDouble(2)))
        selVecs :+= top(0).getSeq[Double](1)
      }
    }
    selected.toDF("rank", "vec_id", "score")
  }(Seq(_))

  /** Gate for [[mmrSelect]]: k = 10, λ = 0.7, query = the smallest
    * vec_id's embedding. No oracle (iterative greedy float argmax is
    * not SQL); OpsSpec asserts the exact-top-1 first pick, the
    * no-near-dup diversity property on planted pairs, and determinism.
    */
  def q_mmr_select(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.orderBy("vec_id").limit(1).select("e").head.getSeq[Double](0)
    mmrSelect(emb, q, k = 10, lambda = 0.7)
      .select(col("rank"), col("vec_id"), round(col("score"), 6).as("score"))
      .orderBy("rank")
  }

  // ---- text analysis --------------------------------------------------

  def q_text_stats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.Vec.wordCount(col("text"))).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  def q_lang_filter(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("lang").isin("es", "de", "zh") && col("n_chars") >= 200)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  private val EnStops = Seq("the", "and", "of", "to", "in")
  private val EsStops = Seq("el", "la", "de", "que", "los")
  private val DeStops = Seq("der", "die", "das", "und", "ist")

  /** Occurrence count of stop-set tokens — the `graft_stopcount`
    * kernel: one byte pass, no regex split, no per-row array (≡
    * `size(filter(split(text, " "), _.isInCollection(stops)))`,
    * kernel-parity pinned in TextExpressionsSpec).
    */
  private def stopHits(text: Column, stops: Seq[String]): Column =
    graft.functions.Vec.stopCount(text, stops)

  /** Stopword-profile language ID — an n-gram-style heuristic whose
    * scoring is exactly reproducible in the DuckDB oracle.
    */
  def q_lang_id(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .select(
        col("doc_id"),
        stopHits(col("text"), EnStops).as("s_en"),
        stopHits(col("text"), EsStops).as("s_es"),
        stopHits(col("text"), DeStops).as("s_de"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
      .orderBy("doc_id")
  }

  /** Length / stopword-ratio quality score — integer-derived arithmetic
    * only, so bit-identical across engines.
    */
  def q_quality_score(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        size(words).cast("long").as("n_tok"),
        stopHits(col("text"), EnStops).as("stop_hits"))
      // +1e-9 before each round: the ratios are small-denominator
      // rationals that land exactly on x.xxxx5 round boundaries, where
      // Spark (BigDecimal HALF_UP on the true double) and DuckDB
      // disagree; the epsilon pushes ties off the boundary identically
      // in both engines (boundary-distance of non-ties is >= 5e-5).
      .withColumn("avg_wlen",
        round((col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok") + 1e-9, 4))
      .withColumn("stop_ratio", round(col("stop_hits").cast("double") / col("n_tok") + 1e-9, 4))
      .withColumn("score",
        round(least(lit(1.0), col("n_tok").cast("double") / 100.0) * 0.5 +
          col("stop_ratio") * 0.5 + 1e-9, 4))
      .select("doc_id", "n_tok", "avg_wlen", "stop_ratio", "score")
      .orderBy("doc_id")
  }

  /** Multi-PHRASE blocklist screen — the real-world form of C4's §2.2
    * "bad words" filter, where the list holds thousands of multi-word
    * phrases, not single tokens. Scale shape: the corpus explodes to
    * (doc, position, token) once, equi-joins the phrase list on the
    * phrase's FIRST token only (so the shuffle carries just positions
    * whose token opens some phrase), and verifies the full phrase with
    * one `slice == tokens` comparison at the matched position. Work is
    * corpus-linear + (first-token selectivity)·|phrases| — never
    * doc×phrase, no regex backtracking, overlap-safe (position-based,
    * unlike non-overlapping regex/string scans). The phrase side is a
    * broadcast dim at any realistic blocklist size.
    *
    * Memory bound: each exploded row carries only a max-phrase-length
    * window of the document (`ctx`), sliced INSIDE the generator input —
    * carrying the full word array through posexplode materializes
    * O(doc_len²) bytes per document in the generate stage, vs
    * O(doc_len · max_phrase_len) here. The verify then compares against
    * the bounded window instead of re-slicing the whole array.
    */
  def q_blocklist_phrases(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val phrases = Seq("slow query", "fast table", "hash join fast", "the window")
    val maxPlen = phrases.map(_.split(" ").length).max
    val ph = phrases.toDF("phrase")
      .select(col("phrase"), split(col("phrase"), " ").as("pw"))
      .select(col("phrase"), col("pw"), element_at(col("pw"), 1).as("w"),
        size(col("pw")).as("plen"))
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(transform(col("ws"),
        (w, i) => struct(w.as("w"),
          slice(col("ws"), i + 1, lit(maxPlen)).as("ctx")))).as(Seq("i", "b")))
      .select(col("doc_id"), col("b.w").as("w"), col("b.ctx").as("ctx"))
      .join(broadcast(ph), "w")
      .filter(slice(col("ctx"), lit(1), col("plen")) === col("pw"))
      .groupBy("doc_id", "phrase")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id", "phrase")
  }

  /** Flesch reading-ease per document — the classic readability screen a
    * curriculum-ordered training mix sorts on (simpler text first). The
    * three counts are regex families both engines implement identically
    * over ASCII: words = `[a-z0-9]+` runs, sentences = `[.!?]+` runs
    * (floored at 1 so a fragment still scores), syllables ~ vowel-group
    * runs `[aeiouy]+` — the standard dictionary-free approximation.
    * Scan-stage column arithmetic only: no shuffle until the gate's
    * ORDER BY, so the screen is one linear pass at 100 TB. The +1e-9
    * epsilon before round follows the engine-parity convention
    * documented at [[q_quality_score]].
    */
  def q_readability(s: SparkSession, d: String): DataFrame = {
    val t = lower(col("text"))
    def runs(pat: String): Column =
      size(regexp_extract_all(t, lit(pat), lit(0))).cast("double")
    documents(s, d)
      .select(col("doc_id"),
        runs("[a-z0-9]+").as("words"),
        greatest(lit(1.0), runs("[.!?]+")).as("sents"),
        runs("[aeiouy]+").as("sylls"))
      .filter(col("words") > 0)
      .select(col("doc_id"),
        col("words").cast("long").as("n_words"),
        round(lit(206.835) - lit(1.015) * col("words") / col("sents")
          - lit(84.6) * col("sylls") / col("words") + lit(1e-9), 4).as("flesch"))
      .orderBy("doc_id")
  }

  /** C4/FineWeb-style quality-filter CASCADE with per-rule audit flags:
    * token-count bounds, mean-word-length bounds, minimum stopword
    * evidence, and a blocklist-term screen, each surfaced as its own
    * boolean so a corpus run can report per-rule attrition (the number
    * C4's §2.2 tables publish) instead of one opaque keep bit. All four
    * rules are scan-stage column arithmetic over one `split` — no
    * shuffle at all until the gate's ORDER BY, so the cascade is a
    * single linear pass at 100 TB. Keep-rate at sf0.01: 28/500, with
    * every rule rejecting at least one document (non-vacuous flags).
    */
  def q_c4_filters(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        size(words).cast("long").as("n_tok"),
        stopHits(col("text"), EnStops).as("stop_hits"),
        array_contains(words, "slow").as("has_block"))
      .withColumn("avg_wlen",
        round((col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok") + 1e-9, 4))
      .withColumn("r_len", col("n_tok") >= 30 && col("n_tok") <= 5000)
      .withColumn("r_wlen", col("avg_wlen") >= 3.0 && col("avg_wlen") <= 12.0)
      .withColumn("r_stop", col("stop_hits") >= 2)
      .withColumn("r_block", !col("has_block"))
      .withColumn("keep",
        col("r_len") && col("r_wlen") && col("r_stop") && col("r_block"))
      .select("doc_id", "n_tok", "avg_wlen", "stop_hits",
        "r_len", "r_wlen", "r_stop", "r_block", "keep")
      .orderBy("doc_id")
  }

  /** Filter WATERFALL attribution — the pipeline-ops report next to
    * [[q_c4_filters]]'s per-rule flags: rules apply in a declared ORDER
    * and each doc is attributed to the FIRST rule that kills it, so the
    * report reads as the survival waterfall an ablation writeup quotes
    * (n in → −len → −wlen → −stop → −block → n out). Emits one row per
    * stage with docs killed there, cumulative survivors, and the
    * docs-killed token mass (what the filter actually costs the token
    * budget). Same single-scan stage predicates as the cascade; the
    * rollup is stage-grain (5 rows).
    */
  def q_filter_waterfall(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val flagged = documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        size(words).cast("long").as("n_tok"),
        stopHits(col("text"), EnStops).as("stop_hits"),
        array_contains(words, "slow").as("has_block"))
      .withColumn("avg_wlen",
        round((col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok") + 1e-9, 4))
      .withColumn("killed_by",
        when(!(col("n_tok") >= 30 && col("n_tok") <= 5000), "1_len")
          .when(!(col("avg_wlen") >= 3.0 && col("avg_wlen") <= 12.0), "2_wlen")
          .when(!(col("stop_hits") >= 2), "3_stop")
          .when(col("has_block"), "4_block")
          .otherwise("5_kept"))
    val stages = flagged.groupBy("killed_by")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
    val w = Window.orderBy("killed_by")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = flagged.agg(count(lit(1)).as("n_in"))
    stages.crossJoin(broadcast(tot))
      .withColumn("survivors_after",
        col("n_in") - sum(when(col("killed_by") =!= "5_kept", col("n_docs"))
          .otherwise(0L)).over(w))
      .select("killed_by", "n_docs", "tokens", "survivors_after")
      .orderBy("killed_by")
  }

  /** Whitespace + BPE-ish regex token counts. */
  def q_token_count(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        graft.functions.Vec.wordCount(col("text")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]', 0)")).cast("long").as("re_tokens"))
      .orderBy("doc_id")

  /** Document fingerprints: md5 of normalized text + min-word-hash (a
    * 1-gram winnowing fingerprint). Both reproducible in DuckDB.
    */
  def q_fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        md5(lower(trim(col("text"))).cast("binary")).as("fp_md5"),
        array_min(transform(split(col("text"), " "), w => md5(w.cast("binary")))).as("fp_minword"))
      .orderBy("doc_id")

  /** Repetition-based quality signals (Gopher-style filters): per-doc
    * duplicate-word fraction and most-frequent-word fraction. The shape
    * is two hash aggregations — explode → (doc, word) partial counts →
    * per-doc reduce — both with map-side combine, so at 100 TB the
    * shuffled bytes are distinct-(doc,word) pairs, not raw tokens.
    * All arithmetic is integer-derived with the suite's +1e-9 nudge.
    */
  def q_quality_signals(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("top_cnt"))
      .select(
        col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        col("n_distinct").cast("long").as("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words") + lit(1e-9), 4)
          .as("dup_frac"),
        round(col("top_cnt").cast("double") / col("n_words") + lit(1e-9), 4)
          .as("top_frac"))
      .orderBy("doc_id")

  /** N-gram-level repetition signals — the Gopher filter tier ABOVE
    * [[q_quality_signals]]'s word level: per-doc duplicate-bigram
    * fraction and the fraction of CHARACTERS covered by duplicated
    * bigrams (the Rae et al. 2021 "dup n-gram char fraction" family —
    * machine-generated spam repeats phrases, not just words, so the
    * word-level signal misses it). Bigrams come from the native
    * codegen kernel; the shape is the same two map-side-combined hash
    * aggregations, shuffling distinct (doc, bigram) pairs only. All
    * metrics are order-independent (sums / max over the group), so no
    * argmax tie pinning is needed. DuckDB-oracled.
    */
  def q_quality_ngram_rep(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.Vec.wordNGrams(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .withColumn("glen", length(col("g")))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_big"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_big"),
        sum(col("glen").cast("long") * col("cnt")).as("chars_all"),
        sum(when(col("cnt") > 1, col("glen").cast("long") * col("cnt"))
          .otherwise(0L)).as("chars_dup"),
        max("cnt").as("top_cnt"))
      .select(
        col("doc_id"),
        col("n_big").cast("long").as("n_big"),
        round(col("dup_big").cast("double") / col("n_big") + lit(1e-9), 4)
          .as("dup_big_frac"),
        round(col("chars_dup").cast("double") / col("chars_all") + lit(1e-9), 4)
          .as("dup_char_frac"),
        col("top_cnt").cast("long").as("top_cnt"))
      .orderBy("doc_id")

  /** Global n-gram heavy hitters — the corpus-statistics op behind
    * boilerplate detection and contamination checks. explode happens
    * inside the scan stage; the only shuffle carries (bigram, partial
    * count) pairs (map-side combine), then a global top-k. Deterministic
    * total order via the (count desc, bigram) tiebreak.
    */
  def q_ngram_topk(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(graft.functions.Vec.wordNGrams(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(50)

  /** Regex scrubbing / PII-redaction shape: pattern → replacement with a
    * per-row hit count, all codegen'd string expressions (no UDF). At
    * 100 TB this is a pure map — no shuffle, scales linearly with input.
    */
  def redact(df: DataFrame, c: Column, pattern: String, repl: String): DataFrame =
    df.withColumn("redacted", regexp_replace(c, pattern, repl))
      .withColumn("n_hits", size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long"))

  def q_text_redact(s: SparkSession, d: String): DataFrame =
    redact(customer(s, d), col("c_name"), "[0-9]+", "<NUM>")
      .select("c_custkey", "redacted", "n_hits")
      .orderBy("c_custkey")

  private val ContamN = 5 // word n-gram length for contamination checks

  /** Benchmark-contamination check: count the distinct word 5-grams each
    * corpus document shares with a benchmark set (here: the `src0`
    * slice) — the decontamination op every training pipeline runs before
    * eval. Shape at 100 TB: explode n-grams inside the scan stage,
    * distinct per side (map-side combined), equi-join on the gram —
    * never doc × doc. The benchmark side is eval-suite-sized, so
    * Catalyst/AQE broadcasts it; corpus bytes shuffle at most once.
    */
  def q_contamination(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("source") === "src0")
      .select(explode(graft.functions.Vec.wordNGrams(col("text"), ContamN)).as("gram")).distinct()
    val corpus = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"),
        explode(graft.functions.Vec.wordNGrams(col("text"), ContamN)).as("gram")).distinct()
    corpus.join(bench, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Fuzzy benchmark decontamination: MinHash-LSH candidate join of the
    * TRAINING side against the EVAL side (here: even/odd doc_id halves as
    * the two corpora), catching paraphrased or lightly-edited benchmark
    * leakage that [[q_contamination]]'s exact n-gram intersection misses.
    * Both sides band their signatures and meet in a shuffle equi-join on
    * (band, bucket-signature) — candidates are Σ|train-bucket|·|eval-
    * bucket|, never train × eval — with [[Scale.capBuckets]] at
    * [[MaxBucket]] guarding degenerate buckets on the large (train) side.
    * The eval side is uncapped: benchmark-sized at 100 TB, so AQE
    * broadcasts its exploded bands; train bytes never shuffle twice.
    * Hash-exact DuckDB oracle ([[graft.OracleSql.contaminationFuzzy]]);
    * OpsSpec plants a paraphrased eval doc and asserts it is caught and
    * that unrelated docs are not.
    */
  def q_contamination_fuzzy(s: SparkSession, d: String): DataFrame = {
    val train = documents(s, d).filter(pmod(col("doc_id"), lit(2)) === 0)
    // Planted canary (same device as q_dedup_embed): the smallest train
    // doc re-enters as eval doc_id = -1, so the (minTrainId, -1) pair
    // exercises sig → band → join → estimate at every SF even when the
    // random fixture halves share no true near-dups.
    val canary = train.orderBy("doc_id").limit(1)
      .select(lit(-1L).as("doc_id"), col("text"))
    val eval_ = documents(s, d).filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("text")).unionByName(canary)
    contaminationFuzzy(train, eval_, threshold = 0.5)
  }

  def contaminationFuzzy(train: DataFrame, eval_ : DataFrame,
                         threshold: Double): DataFrame = {
    val t = Scale.capBuckets(minhashExploded(train), Seq("band", "bsig"), MaxBucket)
      .select(col("doc_id").as("train_id"), col("sigs").as("tsigs"),
        col("band"), col("bsig"))
    val e = minhashExploded(eval_)
      .select(col("doc_id").as("eval_id"), col("sigs").as("esigs"),
        col("band"), col("bsig"))
    t.join(e, Seq("band", "bsig"))
      .select(col("train_id"), col("eval_id"),
        // Same codegen kernel as minhashPairs — the train×eval band-meet
        // is the other candidate-volume hot loop (see PERF.md Finding 1).
        (graft.functions.Vec.sigMatch(col("tsigs"), col("esigs"))
          .cast("double") / graft.functions.TextKernels.NumHashes).as("est_jaccard"))
      .dropDuplicates("train_id", "eval_id")
      .filter(col("est_jaccard") >= threshold)
      .orderBy("train_id", "eval_id")
  }

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin
    * family, Xiao et al. 2008 §3): every pair of documents whose word
    * SETS have Jaccard ≥ t — deterministic ground truth where
    * MinHash-LSH is only probabilistic, at the price of exact-verify
    * arithmetic per candidate. The pruning that keeps it off doc×doc:
    * rank tokens by global document frequency (rarest first, (df, word)
    * total order); a set of size n exposes only its first
    * n − ⌈t·n⌉ + 1 rarest tokens, because two sets with Jaccard ≥ t
    * MUST share a token in those prefixes. Candidates meet in a shuffle
    * equi-join on the prefix token — Σ per-token products of PREFIX
    * occurrence counts (rare tokens by construction), never doc×doc —
    * then the size filter |A| ≥ t·|B| and the exact
    * intersect/union check decide. One candidate pair can share several
    * prefix tokens → `dropDuplicates` before the verify.
    *
    * `maxToken` (opt-in) applies the [[Scale.capBuckets]] skew guard to
    * degenerate prefix tokens. Default = no cap, because unlike
    * the LSH ops this join's contract is EXACTNESS — capping trades
    * recall for skew-safety and is only for corpora whose df ranking
    * has already collapsed (boilerplate floods). The gate query keeps
    * the exact contract (its oracle is a brute-force join).
    */
  def setSimJoin(docs: DataFrame, idCol: String, textCol: String,
                 t: Double, maxToken: Int = Int.MaxValue): DataFrame = {
    val words = docs.select(col(idCol).as("id"),
      array_distinct(split(col(textCol), " ")).as("ws0"))
    val tok = words.select(col("id"), explode(col("ws0")).as("w"))
    val dfreq = tok.groupBy("w").agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfreq, "w")
      .groupBy("id")
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("w")))),
        s => s.getField("w")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("plen",
        (col("n") - ceil(lit(t) * col("n")) + lit(1)).cast("int"))
    val prefix = ranked
      .select(col("id"), col("toks"), col("n"),
        explode(slice(col("toks"), lit(1), col("plen"))).as("w"))
    val capped =
      if (maxToken == Int.MaxValue) prefix else Scale.capBuckets(prefix, Seq("w"), maxToken)
    val a = capped.select(col("w"), col("id").as("id1"),
      col("toks").as("t1"), col("n").as("n1"))
    val b = capped.select(col("w"), col("id").as("id2"),
      col("toks").as("t2"), col("n").as("n2"))
    a.join(b, Seq("w"))
      .filter(col("id1") < col("id2"))
      .filter(col("n1") >= ceil(lit(t) * col("n2")) &&
        col("n2") >= ceil(lit(t) * col("n1")))
      .dropDuplicates("id1", "id2")
      .withColumn("inter",
        size(array_intersect(col("t1"), col("t2"))).cast("long"))
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= t)
      .select(col("id1"), col("id2"), col("inter"), col("uni"),
        round(col("inter").cast("double") / col("uni") + lit(1e-9), 6).as("jac"))
      .orderBy("id1", "id2")
  }

  /** Gate query for [[setSimJoin]]: word-set Jaccard ≥ 0.9 pairs within
    * one source shard (the within-shard dedup shape), verified
    * row-for-row by a brute-force DuckDB oracle. The fixture's 31-word
    * vocabulary is a worst case for prefix filtering — real corpora's
    * Zipf tails make prefixes far more selective — so the gate scopes to
    * a shard and a high threshold to keep the DENSE-result case honest
    * without timing a pathological all-pairs output.
    */
  def q_join_setsim(s: SparkSession, d: String): DataFrame =
    setSimJoin(documents(s, d).filter(col("source") === "src0"),
      "doc_id", "text", t = 0.9)

  /** DSIR-style importance weights (Xie et al. 2023): score every
    * document by the log-likelihood ratio of its tokens under a TARGET
    * unigram model (here: the `lang = 'en'` subset) vs the SOURCE model
    * (the full corpus), add-one smoothed. High scores mark documents
    * that look like the target domain — the selection signal for
    * importance resampling of a raw crawl toward a curated domain. The
    * corpus collapses ONCE to (doc_id, lang, term, tf) inside the scan
    * stage (map-side partial agg — the raw token-occurrence stream
    * never shuffles on the Zipf-skewed term key), then the doc-term
    * matrix rolls up to the Zipf-bounded vocabulary (term →
    * source/target counts), which is BROADCAST back for a map-side
    * log-ratio lookup; the only corpus-sized shuffle is the even
    * doc_id key. Per-term log-ratios are rounded then Σ tf·lr summed
    * as DECIMAL (the `dsum` contract, bit-identical to per-occurrence
    * summing) so partial-aggregation order can never change a score.
    * Final score is per-token (length-normalized).
    */
  /** Shared DSIR sufficient statistic: per-doc summed target-vs-source
    * unigram log-likelihood ratio — (doc_id, lang, n_tok, slr DECIMAL).
    * [[q_dsir_weights]] reports the per-token normalization;
    * [[q_dsir_resample]] draws the Gumbel-top-k selection from it.
    */
  private def dsirDocLr(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val terms = documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
    // Zipf-bounded vocab materialized once; totals/termLr reduce it
    // (4 corpus scans → 2, same audit as q_quality_perplexity)
    val vocab = tf
      .groupBy("term")
      .agg(sum("tf").as("cnt_s"),
        sum(when(col("lang") === "en", col("tf")).otherwise(lit(0L))).as("cnt_t"))
      .localCheckpoint()
    val totals = vocab.agg(
      sum("cnt_s").as("tot_s"), sum("cnt_t").as("tot_t"),
      count(lit(1)).as("v"))
    val termLr = vocab.crossJoin(broadcast(totals))
      .select(col("term"),
        round(
          log((col("cnt_t") + 1).cast("double") / (col("tot_t") + col("v")).cast("double")) -
            log((col("cnt_s") + 1).cast("double") / (col("tot_s") + col("v")).cast("double")) +
            lit(1e-9), 6)
          .cast(DecimalType(18, 6)).as("lr"))
    tf.join(broadcast(termLr), "term")
      .groupBy("doc_id", "lang")
      .agg(sum(col("tf")).as("n_tok"), sum(col("lr") * col("tf")).as("slr"))
  }

  def q_dsir_weights(s: SparkSession, d: String): DataFrame =
    dsirDocLr(s, d)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        // + 0.0 normalizes IEEE −0.0 → +0.0 (a near-zero score can round
        // to signed zero; DuckDB keeps the sign, BigDecimal-based round
        // does not — both engines apply the same normalization)
        (round(col("slr").cast("double") / col("n_tok") + lit(1e-9), 6) + lit(0.0))
          .as("dsir_lr"))
      .orderBy("doc_id")

  /** DSIR importance RESAMPLING (Xie et al. 2023 §2.2) — the selection
    * step the weights exist for: keep the k documents whose doc-level
    * log-likelihood ratio, perturbed by Gumbel noise, ranks highest —
    * Gumbel-top-k IS sampling without replacement with probability
    * ∝ exp(slr), and staying in LOG space never materializes exp of a
    * ±40 log-ratio (no overflow at any corpus scale, where the naive
    * A-Res key u^(1/w) with w = exp(slr) does). Same deterministic
    * md5-uniform discipline as the A-Res sampler ([[q_sample_weighted]]):
    * u = first 13 md5 hex digits of doc_id, gumbel = −ln(−ln((u+1)/2⁵²)),
    * key = slr + gumbel — one double sum from an exact integer and an
    * exact DECIMAL, identical in both engines. Map-side key + global
    * top-k (TakeOrderedAndProject): no shuffle beyond the LR join.
    */
  def q_dsir_resample(s: SparkSession, d: String): DataFrame =
    dsirDocLr(s, d)
      .withColumn("u52",
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long"))
      .withColumn("k",
        col("slr").cast("double") +
          -log(-log((col("u52") + 1).cast("double") / lit(4503599627370497.0))))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        round(col("k") + lit(1e-9), 6).as("gkey6"), col("k"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(50)
      .drop("k")

  /** CCNet-style perplexity BUCKETING (head/middle/tail): the unigram-LM
    * NLL from [[q_quality_perplexity]] split at its corpus terciles —
    * CCNet trains on "head" (lowest-perplexity) data first and uses the
    * buckets as curriculum/quality tiers. Composition of two verified
    * patterns: the perplexity screen's DECIMAL-summed scores and
    * [[graft.ops.Relational.q_feature_bins]]' broadcast-cutpoint
    * assignment (ONE exact-percentile agg, map-side bin pick — no
    * global sort). Output is the per-bucket census a corpus run
    * publishes: doc count, NLL range, mean NLL.
    */
  def q_ccnet_buckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val nll = q_quality_perplexity(s, d).select(col("doc_id"), col("nll"))
    val cuts = nll.agg(percentile(col("nll"),
      lit(Array(1.0 / 3, 2.0 / 3))).as("cuts"))
    nll.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("nll") <= element_at(col("cuts"), 1), "head")
          .when(col("nll") <= element_at(col("cuts"), 2), "middle")
          .otherwise("tail"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        round(min("nll") + lit(1e-9), 6).as("nll_min"),
        round(max("nll") + lit(1e-9), 6).as("nll_max"),
        round((sum(col("nll").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))) + lit(1e-9), 6).as("nll_mean"))
      .orderBy("bucket")
  }

  /** Word co-occurrence PMI (pointwise mutual information over
    * document-level co-occurrence) — the distributional-association
    * profile behind collocation mining and boilerplate detection. The
    * corpus collapses to (doc, distinct word) once; pairs come from a
    * SELF-JOIN ON doc_id, so the volume is Σ_doc C(|distinct words|, 2)
    * — bounded by per-doc vocabulary, never corpus-vocab². Per-doc
    * vocabulary is bounded only by doc length, so a pathological 100k-
    * word doc contributes 10^10 candidates: `vocabCap > 0` keeps only
    * each doc's `vocabCap` RAREST distinct words (global-df-ranked,
    * (df, word) total order — the [[setSimJoin]] ranking device) before
    * pairing. Capping shrinks every doc's word set, so the capped pair-
    * key set is a SUBSET of the uncapped one and every capped n12 is ≤
    * its uncapped value (spec'd in OpsSpec); marginals are recomputed
    * over the capped relation so P(w) and P(w1,w2) stay consistent.
    * Default OFF — the gate query keeps the exact contract. Word
    * marginals are Zipf-small and broadcast.
    * PMI = ln(n12·N / (n1·n2)), support-thresholded.
    */
  def wordPmi(docs: DataFrame, idCol: String, textCol: String,
              minSupport: Long = 50, vocabCap: Int = 0): DataFrame = {
    val dw0 = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(split(col(textCol), " "))).as("w"))
    val dw = if (vocabCap <= 0) dw0 else {
      val dfreq = dw0.groupBy("w").agg(count(lit(1)).as("__df"))
      dw0.join(dfreq, "w") // df is vocab-sized (Zipf): broadcast-friendly
        .withColumn("__rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("__df"), col("w"))))
        .filter(col("__rk") <= vocabCap)
        .select(col("doc_id"), col("w"))
    }
    val wc = dw.groupBy("w").agg(count(lit(1)).as("nw"))
    val pairs = dw.select(col("doc_id"), col("w").as("w1"))
      .join(dw.select(col("doc_id"), col("w").as("w2")), "doc_id")
      .filter(col("w1") < col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= minSupport)
    val tot = docs.agg(count(lit(1)).as("n_docs"))
    pairs
      .join(broadcast(wc.select(col("w").as("w1"), col("nw").as("n1"))), "w1")
      .join(broadcast(wc.select(col("w").as("w2"), col("nw").as("n2"))), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n12"),
        // + 0.0: normalize a signed-zero rounded PMI (see q_dsir_weights)
        (round(log(col("n12").cast("double") * col("n_docs") / (col("n1") * col("n2"))) +
          lit(1e-9), 6) + lit(0.0)).as("pmi"))
      .orderBy("w1", "w2")
  }

  /** Gate for [[wordPmi]]: exact (uncapped) PMI over the documents
    * table, DuckDB-oracled. */
  def q_word_pmi(s: SparkSession, d: String): DataFrame =
    wordPmi(documents(s, d), "doc_id", "text", minSupport = 50)

  /** Zipf rank-frequency fit: the corpus-health diagnostic every
    * large-scale text pipeline runs on a new source — natural language
    * follows freq ∝ rank^s with s ≈ −1; a flat slope flags boilerplate
    * or template spam, a cliff flags truncated vocabulary. One word
    * count (map-side combined) and a log-log least-squares fit via the
    * SQL regression aggregates. Ranking goes through
    * [[Scale.globalSequence]] (range-partition on (freq desc, w), sort
    * within partitions, broadcast per-partition offsets) so even a
    * web-scale ~100M-term vocabulary ranks with full parallelism — no
    * partition-less window funnel anywhere in the plan. DuckDB-oracled
    * (identical closed-form arithmetic, the q_agg_regr epsilon
    * conventions).
    */
  def q_zipf_fit(s: SparkSession, d: String): DataFrame = {
    val freqs = documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
    Scale.globalSequence(freqs, Seq(col("freq").desc, col("w")), "rank",
        bucketKey = -col("freq").cast("double") + Scale.strFrac(col("w")))
      .withColumn("rank", col("rank").cast("long"))
      .agg(
        count(lit(1)).as("n_vocab"),
        (round(expr("regr_slope(ln(freq), ln(rank))") + lit(1e-9), 6) + lit(0.0))
          .as("zipf_slope"),
        (round(expr("regr_intercept(ln(freq), ln(rank))") + lit(1e-9), 6) + lit(0.0))
          .as("zipf_icept"),
        (round(expr("regr_r2(ln(freq), ln(rank))") + lit(1e-9), 6) + lit(0.0))
          .as("zipf_r2"))
  }

  /** Keyword-in-context (KWIC) concordance: every occurrence of a term
    * with its ±2-word context window — the corpus-inspection op behind
    * targeted quality audits ("how is this token actually used?").
    * posexplode inside the scan stage + 1-based slice arithmetic; the
    * only shuffle is the presentation sort.
    */
  def q_kwic(s: SparkSession, d: String): DataFrame = {
    val term = "merge"
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("words"), posexplode(col("words")).as(Seq("p0", "w")))
      .filter(col("w") === term)
      .withColumn("pos", (col("p0") + 1).cast("long"))
      .select(
        col("doc_id"), col("pos"),
        array_join(expr("slice(words, greatest(pos - 2, 1), pos - greatest(pos - 2, 1))"), " ")
          .as("left_ctx"),
        array_join(expr("slice(words, pos + 1, 2)"), " ").as("right_ctx"))
      .orderBy("doc_id", "pos")
  }

  /** Quality classifier, inference-only: a logistic model with FIXED
    * published-style weights over engineered text features (doc length,
    * mean word length, stopword ratio, type-token ratio) — the
    * fasttext-classifier-shaped filter every corpus pipeline runs,
    * expressed as pure codegen'd column math (no model runtime, no UDF,
    * no shuffle). Weights are constants, so the oracle reproduces the
    * score exactly; the epsilon-nudged round absorbs exp() ULP
    * differences between engines.
    */
  def q_quality_classifier(s: SparkSession, d: String): DataFrame = {
    val stop = "the,a,and,of,to,in,is,it"
    documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_w", size(col("words")).cast("double"))
      .withColumn("f_len", least(col("n_w") / 100.0, lit(1.0)))
      .withColumn("f_wlen",
        (col("n_chars").cast("double") - col("n_w") + 1.0) / col("n_w"))
      .withColumn("f_stop",
        size(array_intersect(col("words"), split(lit(stop), ","))).cast("double") / 8.0)
      .withColumn("f_ttr",
        size(array_distinct(col("words"))).cast("double") / col("n_w"))
      .withColumn("z",
        lit(-2.0) + lit(1.5) * col("f_len") + lit(0.4) * col("f_wlen") +
          lit(2.0) * col("f_stop") + lit(1.2) * col("f_ttr"))
      .select(
        col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))) + lit(1e-9), 6).as("quality"),
        (lit(1.0) / (lit(1.0) + exp(-col("z"))) > 0.5).as("keep"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition collapse: squash runs of consecutive
    * duplicate words to one occurrence (the C4/Gopher "repeated
    * content" cleanup, adjacent-run variant). Indexed `filter` HOF over
    * the word array — per-row, shuffle-free; arrays are document-sized
    * so the interpreted lambda stays off any hot aggregate path.
    */
  def q_dedup_runs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        expr("filter(words, (w, i) -> i = 0 OR w != element_at(words, i))").as("kept"))
      .select(
        col("doc_id"), col("n_words"),
        size(col("kept")).cast("long").as("n_after"),
        array_join(col("kept"), " ").as("collapsed"))
      .orderBy("doc_id")

  /** PageRank over the implicit doc-id binary tree (child → parent
    * edges): link-authority scoring via [[Scale.pageRank]]. Root 1
    * accumulates the most mass; leaves sit at the (1-d) floor.
    * DuckDB-oracled hash-exact: the gate's FIXED 5-round recursion
    * unrolls into one SQL CTE per round (SparkEntry.pagerankOracle) —
    * DECIMAL-accumulated contributions make per-round sums
    * order-independent in both engines, so the doubles agree bit-for-bit
    * and an epsilon-guarded round(…, 8) closes the last formatting gap.
    * ScaleSpec additionally replays the recursion dense on the driver.
    */
  def q_pagerank(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"))
    val edges = docs.filter(col("doc_id") >= 2)
      .select(col("doc_id").as("src"), (col("doc_id") / 2).cast("long").as("dst"))
    Scale.pageRank(edges, "src", "dst", iters = 5)
      .select(col("id"), round(col("rank") + lit(1e-12), 8).as("rank"))
      .orderBy("id")
  }

  /** Triangle counting ([[Scale.triangleCount]]) over a deterministic
    * doc-graph with known structure: chain edges (i, i+1) plus chords
    * (i, i+2) at even i — every even i with both neighbors present
    * closes the triangle {i, i+1, i+2}. Both the edge construction and
    * the wedge-close are SQL, so the whole query is DuckDB-oracled.
    */
  def q_graph_triangles(s: SparkSession, d: String): DataFrame =
    Scale.triangleCount(chainChordEdges(s, d), "src", "dst")
      .orderBy("a")

  /** The degree-oriented execution of [[q_graph_triangles]] run as its
    * own gate against the SAME DuckDB oracle: the O(m^1.5)-bounded
    * skew-guard path (`orientByDegree = true`, Scale.triangleCount)
    * must be hash-identical to the exact id-oriented plan — the
    * orientation is an execution detail, proven here on oracle data,
    * not just on the ScaleSpec star fixture.
    */
  def q_graph_triangles_deg(s: SparkSession, d: String): DataFrame =
    Scale.triangleCount(chainChordEdges(s, d), "src", "dst", orientByDegree = true)
      .orderBy("a")

  /** HITS hubs & authorities ([[Scale.hits]]) over the shared
    * deterministic gate graph — the OTHER classic link-quality score
    * next to [[q_pagerank]] (Kleinberg 1999): PageRank measures global
    * endorsement mass, HITS separates "points at good pages" (hub) from
    * "is pointed at by good hubs" (authority) — the pair web-corpus
    * curation uses to find directories vs content. Fixed 5 rounds, NO
    * per-round normalization, so every intermediate is an exact integer
    * and the DuckDB oracle unrolls the same rounds in BIGINT —
    * hash-exact with zero float scaffolding; unit-normalized doubles
    * (÷ max, the ranking-invariant form) ship alongside with the house
    * epsilon round.
    */
  def q_graph_hits(s: SparkSession, d: String): DataFrame = {
    val scores = Scale.hits(chainChordEdges(s, d), "src", "dst", iters = 5)
    val mx = scores.agg(max(col("hub")).as("__mh"), max(col("auth")).as("__ma"))
    scores.crossJoin(broadcast(mx))
      .select(col("id"), col("hub"), col("auth"),
        round(col("hub").cast("double") / col("__mh") + lit(1e-12), 8).as("hub_norm"),
        round(col("auth").cast("double") / col("__ma") + lit(1e-12), 8).as("auth_norm"))
      .orderBy("id")
  }

  /** Label-propagation communities ([[Scale.labelPropagation]], 3
    * synchronous min-tie-break rounds) over the shared deterministic
    * gate graph — the community detector next to PageRank/HITS/k-core
    * in the link-curation toolkit (domain clustering / spam-farm
    * grouping over a web corpus's link graph). Deterministic by
    * construction (no randomized update order), so the fixed recursion
    * unrolls into one DuckDB CTE per round — hash-exact, the same
    * treatment as the k-core peel. Reports each node's community and
    * the community's size (a broadcast-size rollup of the final
    * label frame).
    */
  def q_graph_lpa(s: SparkSession, d: String): DataFrame = {
    val labels = Scale.labelPropagation(chainChordEdges(s, d), "src", "dst", iters = 3)
    val sizes = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("community_size"))
    labels.select(col("id"), col("label").as("community"))
      .join(broadcast(sizes), "community")
      .select(col("id"), col("community"), col("community_size"))
      .orderBy("id")
  }

  /** Deterministic gate graph shared by the graph-operator queries:
    * chain edges (i, i+1) plus chords (i, i+2) at even i over the
    * document ids — bounded degree ≤ 4, known triangle structure.
    */
  private def chainChordEdges(s: SparkSession, d: String): DataFrame = {
    val ids = documents(s, d).select(col("doc_id"))
    val e1 = ids.as("x").join(ids.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
      .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
    val e2 = ids.as("x").filter(col("doc_id") % 2 === 0)
      .join(ids.as("y"), col("y.doc_id") === col("x.doc_id") + 2)
      .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
    e1.union(e2)
  }

  /** Two-hop neighborhood census (friends-of-friends): per vertex, the
    * count of vertices reachable in exactly two hops that are neither
    * the vertex itself nor a direct neighbor — the link-expansion
    * signal behind related-page mining and graph feature engineering.
    * Same deterministic chain+chord graph as [[q_graph_triangles]].
    * Runs [[Scale.twoHopCensus]] UNCAPPED (the gate graph is bounded-
    * degree and the DuckDB oracle wants the exact census); at 100 TB a
    * power-law graph passes `degreeCap` to drop supernode middles —
    * the subset semantics are spec'd in ScaleSpec.
    */
  def q_two_hop(s: SparkSession, d: String): DataFrame =
    Scale.twoHopCensus(undirectedChainChord(s, d), "src", "dst").orderBy("a")

  /** The supernode-guard execution of [[q_two_hop]] run as its own gate
    * against the SAME DuckDB oracle: `degreeCap = 8` sits above the
    * gate graph's maximum degree (4 — chain + both chord directions at
    * an even vertex), so the capped wedge enumeration must reproduce
    * the exact census hash-for-hash. This proves the guard path's
    * plumbing is lossless below the cap, complementing the ScaleSpec
    * assertion that ABOVE the cap it yields a strict subset.
    */
  def q_two_hop_capped(s: SparkSession, d: String): DataFrame =
    Scale.twoHopCensus(undirectedChainChord(s, d), "src", "dst", degreeCap = 8)
      .orderBy("a")

  private def undirectedChainChord(s: SparkSession, d: String): DataFrame = {
    val dir = chainChordEdges(s, d)
    dir.union(dir.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** k-core decomposition gate ([[Scale.kCore]] peeling over the same
    * deterministic chain+chord graph as [[q_graph_triangles]]), run for
    * k = 2 AND k = 3 with the per-vertex peel round surfaced: the k=2
    * peel removes only the dangling chain tail, the k=3 peel strips the
    * degree-2 odd vertices in round 1, which leaves the even vertices
    * on a bare chord path that collapses in round 2 — so the output
    * carries real multi-round structure at every SF (the graph is
    * locally identical at any scale; the peel depth is a structural
    * constant, which is what lets the DuckDB oracle replay the fixpoint
    * as THREE unrolled rounds per k — OpsSpec asserts round 3 removes
    * nothing, so the unroll bound is proven, not assumed).
    */
  def q_graph_kcore(s: SparkSession, d: String): DataFrame = {
    val ud = undirectedChainChord(s, d)
    Scale.kCore(ud, "src", "dst", k = 2).withColumn("k", lit(2L))
      .unionByName(Scale.kCore(ud, "src", "dst", k = 3).withColumn("k", lit(3L)))
      .select(col("k"), col("id"), col("peeled_round"))
      .orderBy("k", "id")
  }

  /** Dataset drift profile: Population Stability Index between two
    * corpus snapshots (here: doc_id < 250 = reference, ≥ 250 = current)
    * over fixed-width n_chars buckets — the monitoring op a training
    * pipeline runs on every refresh to catch distribution shift before
    * it reaches the model. One scan, one conditional agg per bucket,
    * dense bucket axis via a generated range so silent empty buckets
    * still report. Laplace-smoothed shares keep ln finite. PSI rule of
    * thumb: < 0.1 stable, > 0.25 shifted.
    */
  /** Jensen–Shannon divergence between the same two corpus snapshots as
    * [[q_drift_psi]] — the SYMMETRIC, always-finite drift metric (PSI
    * blows up as a share → 0 even smoothed; JS is bounded by ln 2 and
    * is the standard divergence reported next to PSI on monitoring
    * dashboards). Per bucket: 0.5·p·ln(p/m) + 0.5·q·ln(q/m) with
    * m = (p+q)/2 over the identical Laplace-smoothed shares — the
    * shares are exact rationals of integer counts, so both engines
    * produce bit-identical doubles through the same expression order,
    * and the 6-dp epsilon round closes formatting. Scan shape identical
    * to PSI: one conditional agg, dense bucket axis, no extra pass.
    */
  def q_drift_js(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), least(floor(col("n_chars") / 400), lit(9)).cast("long").as("bucket"))
    val counts = docs.groupBy("bucket").agg(
      sum(when(col("doc_id") < 250, 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("doc_id") >= 250, 1L).otherwise(0L)).as("n_cur"))
    val totals = docs.agg(
      sum(when(col("doc_id") < 250, 1L).otherwise(0L)).as("tot_ref"),
      sum(when(col("doc_id") >= 250, 1L).otherwise(0L)).as("tot_cur"))
    s.range(10).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(totals))
      .withColumn("p", (col("n_ref") + 0.5) / (col("tot_ref") + 5.0))
      .withColumn("q", (col("n_cur") + 0.5) / (col("tot_cur") + 5.0))
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(lit(0.5) * col("p") * log(col("p") / col("m"))
          + lit(0.5) * col("q") * log(col("q") / col("m")) + lit(1e-9), 6)
          .as("js_term"))
      .orderBy("bucket")
  }

  def q_drift_psi(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), least(floor(col("n_chars") / 400), lit(9)).cast("long").as("bucket"))
    val counts = docs.groupBy("bucket").agg(
      sum(when(col("doc_id") < 250, 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("doc_id") >= 250, 1L).otherwise(0L)).as("n_cur"))
    val totals = docs.agg(
      sum(when(col("doc_id") < 250, 1L).otherwise(0L)).as("tot_ref"),
      sum(when(col("doc_id") >= 250, 1L).otherwise(0L)).as("tot_cur"))
    s.range(10).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(totals))
      .withColumn("p_ref", (col("n_ref") + 0.5) / (col("tot_ref") + 5.0))
      .withColumn("p_cur", (col("n_cur") + 0.5) / (col("tot_cur") + 5.0))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round((col("p_ref") - col("p_cur")) * log(col("p_ref") / col("p_cur")) + lit(1e-9), 6)
          .as("psi_term"))
      .orderBy("bucket")
  }

  /** Deterministic train/val/test split on a CONTENT hash (md5 of the
    * dedup key, not the row id): reproducible across runs/partitionings/
    * engines, and duplicate texts land in the SAME split, so val/test
    * can never leak a train duplicate. Hex-prefix bucketing: first hex
    * char 0-1 → test (1/8), 2-3 → val (1/8), rest train — pure
    * codegen'd string ops, shuffle-free.
    */
  def q_split_train(s: SparkSession, d: String): DataFrame = {
    val h = substring(md5(col("text")), 1, 1)
    documents(s, d)
      .select(col("doc_id"),
        when(h.isin("0", "1"), "test")
          .when(h.isin("2", "3"), "val")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle: re-sequence documents by a content
    * hash (md5 of doc_id, doc_id tiebreak) — the "shuffle the corpus
    * before packing/sharding" step, reproducible by construction
    * (unlike rand()-ordered shuffles, identical across retries,
    * partitionings, and speculative re-runs). The global sequencing is
    * [[Scale.globalSequence]] — a range-partitioned, spillable total
    * sort plus per-partition offsets, never a partition-less window
    * funnelling the corpus through one task; the output position feeds
    * the downstream shard assignment (`position % n_shards`).
    */
  def q_corpus_shuffle(s: SparkSession, d: String): DataFrame =
    Scale.globalSequence(
      documents(s, d)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("__k")),
      Seq(col("__k"), col("doc_id")), "position",
      bucketKey = Scale.hexKeyProxy(col("__k")))
      .withColumn("position", col("position").cast("long"))
      .withColumn("shard", col("position") % 8)
      .select(col("doc_id"), col("position"), col("shard"))
      .orderBy("doc_id")

  // ---- training-set assembly ------------------------------------------

  /** Context-window chunking: split each document into overlapping
    * word windows (size `ChunkWin`, stride `ChunkStride`) — the
    * pretraining chunker. The fan-out (`explode` over chunk starts +
    * `slice`) happens inside the scan stage with codegen'd array ops —
    * no shuffle, no HOF lambdas; at 100 TB chunking is embarrassingly
    * parallel and output rows stay co-partitioned with their documents.
    */
  private val ChunkWin = 50
  private val ChunkStride = 40

  def q_chunk_docs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("chunk_id", explode(expr(s"sequence(0L, (n_words - 1) div $ChunkStride)")))
      .select(
        col("doc_id"),
        col("chunk_id"),
        array_join(expr(s"slice(words, chunk_id * $ChunkStride + 1, $ChunkWin)"), " ")
          .as("chunk_text"),
        least(lit(ChunkWin.toLong), col("n_words") - col("chunk_id") * ChunkStride)
          .as("chunk_words"))
      .orderBy("doc_id", "chunk_id")

  /** Mixture sampling: per-language target fractions applied with the
    * same deterministic md5-threshold trick as `q_sample_hash` — the
    * domain-mixture step of corpus assembly. Reproducible (pure hash of
    * the key, no RNG state), key-consistent, and shuffle-free: the
    * fraction lookup is a literal map expression evaluated in the scan
    * stage, so at 100 TB this is a single filtered pass.
    */
  private val MixFractions: Seq[(String, String)] = // lang -> 2-hex-digit threshold / 256
    Seq("en" -> "e6", "de" -> "80", "fr" -> "80", "es" -> "40", "zh" -> "40")

  /** Deterministic WEIGHTED sample (Efraimidis–Spirakis 2006 A-Res):
    * each doc draws u ∈ (0,1] from the md5 of its id (the suite's
    * cross-engine uniform) and the reservoir key is ln(u)/w with
    * w = n_chars — the global top-k by key IS a weighted
    * without-replacement sample, P(i ∈ sample) increasing in wᵢ.
    * Fully deterministic and retry-stable (same ids → same sample).
    * One scan + a TakeOrderedAndProject top-k — the corpus never
    * shuffles. The 52-bit u comes from the first 13 md5 hex chars
    * (exactly representable in a double), so both engines divide the
    * SAME integers; only ln differs at ≤1 ulp, far below inter-key
    * gaps, and the reported key is 6-dp rounded. As the corpus grows
    * the winning keys approach 0⁻ and the rounded report collapses to
    * zero — the oracle adds `+ 0` to normalize IEEE −0.0 (DuckDB
    * preserves the sign through round; Spark's BigDecimal round does
    * not), found as a hash mismatch at sf10; the substantive check is
    * the selected SET, which stays exact at every SF.
    */
  def q_sample_weighted(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("u52",
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long"))
      .withColumn("k",
        log((col("u52") + 1).cast("double") / lit(4503599627370497.0))
          / col("n_chars"))
      .select(col("doc_id"), col("n_chars").as("weight"),
        round(col("k") + lit(1e-9), 6).as("key6"), col("k"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(20)
      .drop("k")

  /** Temperature-based multilingual rebalancing (the mBERT/XLM α-
    * sampling scheme, α = 0.5): language quotas ∝ share^α — flattening
    * the Zipf of languages so low-resource ones are upsampled relative
    * to proportional sampling — then a deterministic md5-ranked draw of
    * each language's quota. Everything derives from one collected
    * language census: [[temperatureQuotas]] turns it into a local
    * relation on the driver, with the oracle's arithmetic.
    *
    * The draw is [[graft.ops.Scale.quotaSample]] with that relation as
    * both its quotas and its group counts, so no task ranks a whole
    * language and the sampler adds one corpus read (its survivor
    * prefilter) to the census: an md5-threshold prefilter cuts each
    * language to ~2× its quota and a count check falls back to the
    * whole-language rank only on a miss. The null-`lang` census row is
    * dropped, so null-`lang` docs drop at the sampler's stats join, as
    * they did at the old quota join (a null key never matches).
    */
  def q_temperature_sample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val census = docs.groupBy("lang").agg(count(lit(1))).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)))
    val alloc = temperatureQuotas(census.toSeq, target = 200).toDF("lang", "n_h", "__grp_n")
    Scale.quotaSample(docs, Seq("lang"), md5(col("doc_id").cast("string")), Seq(col("doc_id")),
      Right(alloc.select("lang", "n_h")), groupCounts = Some(alloc.select("lang", "__grp_n")))
      .select(col("doc_id"), col("lang"), col("rn"), col("n_h").as("quota"))
      .orderBy("doc_id")
  }

  /** The α = 0.5 quotas of [[q_temperature_sample]] from a language
    * census `(lang, n_l)`: `(lang, quota, n_l)` per non-null language.
    * The arithmetic is the oracle's SQL, step for step: w =
    * round(sqrt(n_l / n_tot) + 1e-15, 12) as DECIMAL(16,12), summed
    * exactly, quota = floor(target · w / Σw + 0.5) on doubles (sqrt is
    * IEEE-correctly-rounded, unlike pow). `n_tot` and Σw include the
    * null-`lang` row, whose quota is then dropped.
    */
  private[graft] def temperatureQuotas(census: Seq[(Option[String], Long)],
                                       target: Int): Seq[(String, Long, Long)] = {
    import java.math.{BigDecimal => JBig, RoundingMode}
    val nTot = census.map(_._2).sum.toDouble
    // Spark's round(double, 12) and its double → DECIMAL(16,12) cast
    def dec12(x: Double) = JBig.valueOf(x).setScale(12, RoundingMode.HALF_UP)
    val w = census.map { case (l, n) =>
      (l, n, dec12(dec12(math.sqrt(n / nTot) + 1e-15).doubleValue)) }
    val wSum = w.map(_._3).foldLeft(JBig.ZERO)(_ add _).doubleValue
    w.collect { case (Some(l), n, wl) =>
      (l, math.floor(target * (wl.doubleValue / wSum) + 0.5).toLong, n) }
  }

  def q_mix_sample(s: SparkSession, d: String): DataFrame = {
    val thr = MixFractions.map { case (l, t) => (lit(l), lit(t)) }
      .flatMap { case (l, t) => Seq(l, t) }
    documents(s, d)
      .withColumn("thr", coalesce(map(thr: _*)(col("lang")), lit("00")))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < col("thr"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Greedy sequence packing: concatenate documents (in doc_id order,
    * per source partition) into training sequences of at most
    * `PackBudget` tokens — the sample-packing step that turns ragged
    * documents into dense fixed-budget batches. Implemented as a
    * per-group sequential fold inside `mapPartitions` after an exact
    * hash repartition on `source` + intra-partition sort: the packing
    * order is total and deterministic, state never leaves a partition,
    * and the output is one row per document tagged with its (source,
    * bin) — so at 100 TB each executor packs its own sources with zero
    * coordination. Oversized documents get a bin of their own (never
    * split, never dropped). Hash-exact DuckDB oracle: the per-source
    * fold runs as a recursive CTE advancing all sources in lockstep
    * ([[graft.OracleSql.packSequences]]); invariants in OpsSpec.
    */
  private val PackBudget = 256L

  def q_pack_sequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = documents(s, d)
      .select(
        col("doc_id"), col("source"),
        graft.functions.Vec.wordCount(col("text")).as("n_tokens"))
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .as[(Long, String, Long)]
    toks.mapPartitions { it =>
      var src = ""; var bin = 0L; var used = Long.MaxValue
      it.map { case (id, source, n) =>
        if (source != src) { src = source; bin = 0L; used = 0L }
        if (used + n > PackBudget && used > 0) { bin += 1; used = 0L }
        used += n
        (id, source, n, bin)
      }
    }.toDF("doc_id", "source", "n_tokens", "bin_id")
      .orderBy("doc_id")
  }

  /** Tokenizer vocabulary coverage / OOV rate: learn the top-V
    * (V=500) vocabulary by collection frequency, then score every
    * document by the fraction of its token OCCURRENCES falling outside
    * it — the metric that sizes a tokenizer vocab against a corpus
    * (and flags off-domain/garbled docs as high-OOV outliers). Scale
    * shape: the exploded token stream collapses IMMEDIATELY to
    * (doc_id, term, tf) by a map-side-combined partial agg (the
    * q_tfidf pattern — the raw occurrence stream never shuffles on the
    * Zipf-skewed term key), the vocabulary rolls up from that doc-term
    * matrix (AQE reuses the exchange), top-V is a
    * TakeOrderedAndProject (V rows, deterministic (cnt desc, term)
    * total order), and the membership probe is a BROADCAST left join —
    * the only corpus-sized shuffle is the evenly-distributed doc_id
    * agg key.
    */
  def q_oov_rate(s: SparkSession, d: String): DataFrame = {
    val tf = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val topv = tf.groupBy("term").agg(sum("tf").as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(500)
      .select(col("term"), lit(1).as("in_vocab"))
      .localCheckpoint() // 500 rows — pins the vocab to one corpus scan
    tf.join(broadcast(topv), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tok"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov"))
      .select(col("doc_id"),
        col("n_tok").cast("long").as("n_tok"),
        col("n_oov").cast("long").as("n_oov"),
        round(col("n_oov").cast("double") / col("n_tok") + lit(1e-9), 6)
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Leakage-safe GROUPED train/val/test split: every document of a
    * source (domain/site/dump — the unit near-duplicates cluster in)
    * lands in the SAME split, assigned by a content hash of the GROUP
    * key. Doc-level hash splits ([[q_split_train]]) leak template/
    * boilerplate near-dups across train and eval (the contamination the
    * decontamination gates then have to catch); group-level assignment
    * closes that path structurally — the GroupKFold discipline at
    * corpus scale. Shuffle-free: one map-side hash per row, no window,
    * no join; determinism and retry-safety come from the same
    * content-hash contract as every split/sample op here.
    */
  def q_split_grouped(s: SparkSession, d: String): DataFrame = {
    val h = substring(md5(col("source")), 1, 1)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        when(h.isin("0", "1", "2"), "test")
          .when(h.isin("3", "4", "5"), "val")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** Leakage-safe TEMPORAL split with an embargo gap ([[q_split_grouped]]'s
    * time-axis sibling — the split financial/forecasting/behavioral ML
    * actually needs): train = strictly before the cutoff minus the
    * embargo, test = at/after the cutoff, and the embargo window in
    * between is DROPPED (events there leak label-horizon information
    * into training features; an adjacent train/test boundary is the
    * classic silent-leak bug). The cutoff is a fixed calendar date, the
    * embargo 2 days; each event maps by one scan-stage comparison — no
    * shuffle beyond the audit rollup.
    */
  def q_split_temporal(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("2024-01-20").cast("timestamp")
    val embargoFrom = lit("2024-01-18").cast("timestamp") // cutoff − 2d embargo
    events(s, d)
      .select(col("event_id"), col("ts"),
        when(col("ts") < embargoFrom, "train")
          .when(col("ts") >= cutoff, "test")
          .otherwise("embargo").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("split")
  }

  /** Bootstrap confidence intervals for a corpus metric WITHOUT
    * resampling the corpus — the online/Poisson bootstrap (Oza &
    * Russell 2001; Kleiner et al.'s little-bootstrap lineage): each of
    * B=32 replicates reweights every doc by a Poisson(1) count drawn
    * DETERMINISTICALLY from md5(doc_id:b) through the Poisson inverse
    * CDF (fixed literal thresholds — both engines compare the same
    * doubles), so a replicate's weighted mean is one map-side multiply
    * per doc and the whole error bar costs ONE scan + a (source, b)
    * agg — no B corpus copies, retry-stable, embarrassingly parallel
    * at 100 TB. Reports per source the replicate count, the bootstrap
    * mean of mean-doc-length, and the percentile CI (replicate means
    * quantized to DECIMAL(18,6) before any cross-replicate sum — the
    * float-order discipline — then ranked as DOUBLE in both engines).
    * Zero-total replicates (P ≈ e^-n per source) are dropped by the
    * same sum(k) > 0 guard in both engines.
    */
  def q_eval_bootstrap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val B = 32
    // Poisson(1) CDF thresholds, pinned literals (never engine-computed)
    val cdf = Seq(0.36787944117144233, 0.73575888234288466, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
      0.999916758850712, 0.9999897508033254)
    val k = cdf.zipWithIndex.foldRight(lit(8): Column) {
      case ((t, i), acc) => when(col("u") < t, lit(i)).otherwise(acc)
    }
    val reps = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("b", explode(sequence(lit(0), lit(B - 1))))
      .withColumn("u52",
        conv(substring(md5(concat_ws(":", col("doc_id"), col("b"))), 1, 13), 16, 10)
          .cast("long"))
      .withColumn("u", (col("u52") + 1).cast("double") / lit(4503599627370497.0))
      .withColumn("k", k)
    val ms = reps.groupBy("source", "b")
      .agg(sum(col("k") * col("n_chars")).as("skx"), sum("k").as("sk"))
      .filter(col("sk") > 0)
      .withColumn("m6",
        round(col("skx").cast("double") / col("sk").cast("double") + lit(1e-9), 6)
          .cast(DecimalType(18, 6)))
      .withColumn("m6d", col("m6").cast("double"))
    val pcts = percentile(col("m6d"), lit(Array(0.05, 0.95)))
    ms.groupBy("source")
      .agg(count(lit(1)).as("n_reps"),
        round(sum("m6").cast("double") / count(lit(1)) + lit(1e-9), 4).as("boot_mean"),
        round(element_at(pcts, 1) + lit(1e-9), 4).as("ci_lo"),
        round(element_at(pcts, 2) + lit(1e-9), 4).as("ci_hi"))
      .orderBy("source")
  }

  /** One-pass corpus card (the dataset-release summary every corpus
    * ships with): per source — docs, exact token totals, length
    * percentiles (p50/p95 over n_chars, exact interpolated), language
    * mix entropy in micro-nats (exact integer counts → one rounded ln
    * per term), and the exact-duplicate rate by normalized-text md5.
    * The card is one row per source — bounded by the stratification key
    * BY DESIGN — so it is computed eagerly and returned as a local
    * relation sorted by source.
    */
  def q_corpus_card(s: SparkSession, d: String): DataFrame =
    cardLocal(cardFeatures(documents(s, d)))

  /** The card ([[cardOf]]) of a `(source, lang, n_chars, n_tokens, k)`
    * feature frame collected into a local relation sorted by source: a
    * later collect fires no job. The release pipeline's card step.
    */
  private[graft] def cardLocal(features: DataFrame): DataFrame =
    sortedBySource(cardOf(features).collect(), corpusCardSchema, features.sparkSession)

  /** Rows keyed by a leading string `source` column as a local relation,
    * sorted on the driver in [[sparkStringOrder]] — the
    * one-row-per-source results need no range exchange.
    */
  private[graft] def sortedBySource(rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType, s: SparkSession): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(rows.sortBy(_.getString(0))(sparkStringOrder): _*), schema)

  /** Spark's ascending string order on the driver: UTF-8 bytes, nulls
    * first.
    */
  private[ops] val sparkStringOrder: Ordering[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    Ordering.by((x: String) => Option(x).map(UTF8String.fromString))(
      Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)))
  }

  /** The lazy report plan behind [[q_corpus_card]], unsorted (PlanSpec
    * asserts its single-scan shape on the optimized plan): the aggregate
    * [[cardOf]] over the per-doc [[cardFeatures]]. The release pipeline
    * computes the features in its sampling step, so its card step runs
    * the aggregate alone over narrow rows.
    *
    * Genuinely single-pass at the corpus grain: the three statistic
    * families group on DIFFERENT keys ((source), (source,lang),
    * (source,k)), so three separate aggregates would re-scan the
    * doc-grain projection once each — measured as the 3× cache-read
    * bill at the sf100 page-cache wall. GROUPING SETS computes all
    * three grains off ONE corpus scan (Expand triples the rows INSIDE
    * the scan stage; the shuffle carries map-combined partials). The
    * percentile buffers hold n_chars doubles only — 3× doc-count across
    * the three sets, megabytes at the fourth decade — and every other
    * aggregate is constant-state; the values outside each family's own
    * set are computed-and-ignored (aggregate inputs bind to the original
    * columns, so they cannot be set-gated).
    *
    * The report is ONE query over the grouping-sets output: a per-source
    * window gives the language total `n`, and one `groupBy("source")`
    * picks each family by its `gid` with conditional aggregates. Both
    * shuffle on `source`, so the window's exchange serves the aggregate
    * too. This replaces a checkpoint of the grouping-sets output read by
    * three derivations and two joins: the release pipeline's card step
    * fires 4 jobs per warm run over sf0.001, down from 11. Docs without
    * a source are left out, as the joins on `source` left them out.
    */
  private[graft] def corpusCard(docs: DataFrame): DataFrame =
    cardOf(cardFeatures(docs))

  /** The card's per-doc features: `text` replaced by its token count
    * `n_tokens` and its normalized-text md5 `k` (the exact-duplicate
    * key); the other columns pass through.
    */
  private[graft] def cardFeatures(docs: DataFrame): DataFrame =
    docs.withColumn("n_tokens", graft.functions.Vec.wordCount(col("text")))
      .withColumn("k", md5(graft.functions.Vec.normText(col("text"))))
      .drop("text")

  /** The card aggregate over a `(source, lang, n_chars, n_tokens, k)`
    * feature frame ([[cardFeatures]]).
    */
  private[graft] def cardOf(features: DataFrame): DataFrame = {
    val g = features.filter(col("source").isNotNull)
      .select(col("source"), col("lang"), col("n_chars"), col("n_tokens"), col("k"))
    val gs = g.groupingSets(
        Seq(Seq(col("source")),
          Seq(col("source"), col("lang")),
          Seq(col("source"), col("k"))),
        col("source"), col("lang"), col("k"))
      .agg(
        count(lit(1)).as("c"),
        sum(col("n_tokens")).as("tok"),
        percentile(col("n_chars"), lit(0.5)).as("p50"),
        percentile(col("n_chars"), lit(0.95)).as("p95"),
        grouping_id().as("gid"))
    // gid bit = 1 where the column is aggregated away, order (source,lang,k):
    // (source) = 011b = 3, (source,lang) = 001b = 1, (source,k) = 010b = 2
    def in(gid: Int, c: Column): Column = when(col("gid") === gid, c)
    // each −p·ln p term rounded then DECIMAL-summed (the q_entropy /
    // dsum contract: partial-agg order can't change the sum)
    val p = col("c").cast("double") / col("n").cast("double")
    gs.withColumn("n", sum(in(1, col("c"))).over(Window.partitionBy("source")))
      .groupBy("source").agg(
        max(in(3, col("c"))).as("n_docs"),
        max(in(3, col("tok"))).as("n_tokens"),
        round(max(in(3, col("p50"))) + lit(1e-9), 1).as("p50_chars"),
        round(max(in(3, col("p95"))) + lit(1e-9), 1).as("p95_chars"),
        (sum(in(2, col("c"))) - count(in(2, lit(1)))).as("n_dups"),
        sum(in(1, round(-p * log(p) * 1000000 + lit(1e-9), 0)
          .cast(org.apache.spark.sql.types.DecimalType(18, 0))))
          .cast("long").as("lang_entropy_micro"))
  }

  private[graft] val corpusCardSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("p50_chars",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("p95_chars",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("n_dups",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang_entropy_micro",
      org.apache.spark.sql.types.LongType)))

  /** Per-source token-budget trim (corpus quota enforcement): cap each
    * source's contribution at TrimBudget tokens, keeping a
    * deterministic hash-ordered prefix — the mixture-weight enforcement
    * step after [[q_mix_sample]] decides fractions (budgets are set in
    * TOKENS, the unit training actually consumes, not documents). Each
    * source is ordered by md5(doc_id) — reproducible, retry-safe, and
    * unbiased by doc_id assignment order — with a running token sum; a
    * doc is kept while the budget is not yet exhausted BEFORE it (so
    * the first over-budget doc still ships — budgets are soft caps,
    * never an empty source). Emits the KEPT rows — the trimmed corpus,
    * budget-bounded by construction.
    *
    * Scale shape: the running-prefix window would otherwise funnel each
    * whole source through one task, so the trim is
    * [[graft.ops.Scale.prefixCut]] with the token count as the weight
    * and the budget as the flat quota: a scan-stage md5-threshold
    * prefilter sized to ~2× the budget in expected tokens, the exact
    * running sums over that hash-order prefix, and the whole-source
    * window only for the rare source whose survivors neither reach the
    * budget nor cover the source. `cum_tokens` is the running token sum
    * including the row.
    */
  private val TrimBudget = 1000L

  def q_budget_trim(s: SparkSession, d: String): DataFrame =
    budgetTrim(documents(s, d), TrimBudget)

  /** The prefiltered trim behind [[q_budget_trim]]. */
  private[ops] def budgetTrim(docs: DataFrame, budget: Long): DataFrame =
    Scale.prefixCut(
      docs.select(col("doc_id"), col("source"),
        graft.functions.Vec.wordCount(col("text")).as("n_tokens")),
      Seq("source"), md5(col("doc_id").cast("string")), Seq(col("doc_id")),
      Left(budget), weight = Some(col("n_tokens")))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rn").as("cum_tokens"))
      .orderBy("doc_id")

  /** Rendezvous (highest-random-weight) shard assignment: each doc
    * hashes once per candidate shard and lands on the shard with the
    * max weight. Unlike modulo sharding ([[q_corpus_shuffle]]'s
    * `position % 8`), growing k→k+1 moves ONLY the docs the new shard
    * wins — an expected 1/(k+1) of the corpus, every move INTO the new
    * shard — so an incremental re-shard of a 100 TB corpus rewrites
    * one shard's worth of data instead of reshuffling everything
    * (Thaler & Ravishankar 1998; the property is spec-asserted
    * exactly, not statistically). Map-side only: k md5s per row, no
    * shuffle, content-hash deterministic and retry-safe.
    */
  private[graft] def rendezvousShard(doc: Column, k: Int): Column = {
    val ws = array((0 until k).map(i =>
      md5(concat(doc.cast("string"), lit(":" + i)))): _*)
    (array_position(ws, array_max(ws)) - 1).cast("int")
  }

  def q_shard_rendezvous(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), rendezvousShard(col("doc_id"), 8).as("shard"))
      .orderBy("doc_id")

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * word 5-grams that occur in NO other document — the inverse of the
    * boilerplate signal (template/mirror pages score near 0, original
    * prose near 1; the doc-level complement of the corpus-level
    * [[q_ngram_topk]] heavy hitters). Scale shape: grams explode
    * inside the scan stage and collapse to distinct (doc_id, gram)
    * via ONE map-side-combined agg; a doc's unique-gram count needs no
    * join back — a gram with df=1 belongs to exactly one doc, so
    * min(doc_id) over each gram group IS that doc, and both per-doc
    * rollups (total distinct grams, df=1 grams) reduce on the even
    * doc_id key. At 100 TB the gram strings would carry as 64-bit
    * fingerprints through the shuffle (the [[q_fingerprint]] kernels);
    * the string form keeps the gate oracle-exact.
    */
  def q_ngram_novelty(s: SparkSession, d: String): DataFrame = {
    val grams = documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.Vec.wordNGrams(col("text"), 5)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("occ"))
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val uniq = grams.groupBy("g")
      .agg(count(lit(1)).as("df"), min("doc_id").as("doc_id"))
      .filter(col("df") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_unique"))
    perDoc.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round(coalesce(col("n_unique"), lit(0L)).cast("double")
          / col("n_grams") + lit(1e-9), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Bigram-LM perplexity scoring — APPLIES the model whose sufficient
    * statistics [[q_bigram_lm]] trains: per-doc average negative
    * log-likelihood under an interpolated bigram model
    * p(w2|w1) = 0.75·c12/c1 + 0.25·c2/N (bigram MLE backed off to the
    * second-position unigram), the bigram upgrade of the CCNet-style
    * unigram screen [[q_quality_perplexity]]. Model trained on the
    * scored corpus itself, so no zero probabilities.
    *
    * Scale shape (the q_tfidf pattern end-to-end): documents collapse
    * to per-doc bigram TYPES in the scan stage (no token-stream
    * shuffle); the model is built once from the global type table —
    * Heaps-bounded, its c1/c2/N components fold in BEFORE the doc join
    * — and the scoring join runs on the composite (w1, w2) key, far
    * flatter than any unigram term key. Per-type log-probs are rounded
    * then DECIMAL-summed (partitioning-independent).
    */
  def q_bigram_ppl(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pairs = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |          i -> struct(toks[i-1] AS w1, toks[i] AS w2))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // LAZY checkpoint of the per-doc bigram-type table: the eager
    // `types` checkpoint job below is a full aggregation over every
    // docTypes partition, so it materializes this as a side effect
    // (bpeTrain's fused-job discipline) — and the scoring join then
    // reads the persisted blocks instead of re-deriving the corpus
    // explode + the (doc_id,w1,w2) exchange a second time. One corpus
    // scan and one doc-type exchange total, versus two of each before
    // (r16; the r15 shape deliberately paid the re-scan to keep only
    // the small types table persisted — measured here the persisted
    // docTypes is the cheaper side of that trade at sf0.1 AND sf10).
    val docTypes = pairs.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    // materialize the Heaps-bounded TYPE table once: without it each of
    // the four model components re-derives the full corpus explode —
    // the executed plan showed EIGHT parquet scans (no exchange reuse
    // across differing agg parents). With the checkpoint c1/c2/N reduce
    // the small cached table. Release via [[Scratch.release]].
    val types = docTypes.groupBy("w1", "w2").agg(sum("cnt").as("c12"))
      .localCheckpoint()
    val left = types.groupBy("w1").agg(sum("c12").as("c1"))
    val right = types.groupBy("w2").agg(sum("c12").as("c2"))
    val total = types.agg(sum("c12").as("n_total"))
    val model = types.join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .withColumn("nll", round(-log(
        lit(0.75) * (col("c12").cast("double") / col("c1").cast("double")) +
        lit(0.25) * (col("c2").cast("double") / col("n_total").cast("double")))
        + lit(1e-9), 6).cast(DecimalType(18, 6)))
      .select("w1", "w2", "nll")
    docTypes.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"), sum(col("nll") * col("cnt")).as("snll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("snll").cast("double") / col("n_bigrams") + lit(1e-9), 6)
          .as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Hard-negative mining for contrastive training: for each pinned
    * query vector, the top-5 nearest neighbors carrying a DIFFERENT
    * label — the "closest wrong answers" a contrastive or reranker
    * objective needs. Same broadcast-query exact-cosine plan as
    * [[q_sim_topk]] (norms once per side, codegen dot, round(·,9)
    * before ranking) with the label-mismatch predicate applied before
    * the window, so per-query state stays k candidates.
    */
  def q_mine_hardneg(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).withColumn("e", col("embedding").cast("array<double>"))
    val q = emb.select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("e").as("qe"), l2norm(col("e")).as("qn"))
      .filter(col("qid") < 20)
    val c = emb.select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("e").as("ce"), l2norm(col("e")).as("cn"))
    val w = Window.partitionBy("qid").orderBy(col("cos_raw").desc, col("cid"))
    c.crossJoin(broadcast(q))
      .filter(col("clabel") =!= col("qlabel"))
      .withColumn("cos_raw", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 9))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("qlabel").cast("long").as("qlabel"), col("rn"),
        col("cid"), col("clabel").cast("long").as("clabel"),
        round(col("cos_raw"), 6).as("cos"))
      .orderBy("qid", "rn")
  }

  /** EMBEDDING-space benchmark decontamination — the semantic sibling
    * of the n-gram screens ([[q_contamination]] exact,
    * [[q_contamination_fuzzy]] MinHash): flag every train vector whose
    * max cosine to the (small, broadcast) eval set crosses the
    * threshold, reporting the nearest eval item as evidence. Paraphrase
    * contamination survives n-gram screens; this is the screen that
    * catches it.
    *
    * Scale shape: eval sets are thousands of items — broadcast them and
    * the whole screen is ONE linear scan of the train corpus with a
    * map-side-combined per-vector arg-max (struct max), no shuffle of
    * candidate pairs at all (the crossJoin-then-window form would
    * shuffle |eval|× the corpus).
    */
  def q_decontam_semantic(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).withColumn("e", col("embedding").cast("array<double>"))
    val ev = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("eid"), col("e").as("ee"), l2norm(col("e")).as("en"))
    // Planted canary (the q_dedup_embed convention): train vector −1 is
    // an exact copy of eval vector 0 — fixture embeddings are random
    // (max train-eval cosine ≈ 0.49 at sf0.01), so without it the
    // threshold flags nothing and the gate asserts nothing. cos = 1.0.
    val canary = emb.filter(col("vec_id") === 0)
      .select(lit(-1L).as("tid"), col("e").as("te"), l2norm(col("e")).as("tn"))
    val train = emb.filter(col("vec_id") >= 50)
      .select(col("vec_id").as("tid"), col("e").as("te"), l2norm(col("e")).as("tn"))
      .unionByName(canary)
    train.crossJoin(broadcast(ev))
      .withColumn("cos_raw", round(dot(col("te"), col("ee")) / (col("tn") * col("en")), 9))
      .groupBy("tid")
      .agg(max(struct(col("cos_raw"), col("eid"))).as("m"))
      .select(col("tid"), col("m.eid").as("nearest_eval"),
        // the cos is reported at the ranking precision (9 dp), NOT
        // re-rounded to 6: with ~n output rows the 9-dp grid lands
        // exactly on 6-dp half boundaries at decade scale (2 rows of
        // 200k at sf10, caught by the sweep) where the engines'
        // half-handling splits — and an epsilon just relocates the tie
        // (x.xxxxx499 + 1e-9 IS the boundary). One rounding, no ties.
        col("m.cos_raw").as("cos"),
        (col("m.cos_raw") > 0.9).as("contaminated"))
      .orderBy("tid")
  }

  // ---- classifier evaluation (AUC / calibration) ----------------------

  /** Shared scoring frame for the classifier-eval gates: the
    * [[q_quality_classifier]] logistic rendered as exact micro-unit
    * integers (`score_ppm` = the house 6-dp rounding × 10⁶ — an
    * integer both engines agree on bit-for-bit), labeled with the
    * [[q_c4_filters]] rule-cascade keep decision as the reference
    * "gold" signal. Pure scan-stage column math.
    */
  private[ops] def classifierScored(s: SparkSession, d: String): DataFrame = {
    val stops = Seq("the", "a", "and", "of", "to", "in", "is", "it")
    // the graft_wordstats kernel computes the feature trio — token
    // count / distinct tokens / distinct-stops-present — in ONE byte
    // pass (≡ size(words) / size(array_distinct(words)) /
    // size(array_intersect(words, stops)); kernel parity pinned in
    // TextExpressionsSpec). No regex split, no per-row arrays.
    documents(s, d)
      .withColumn("ws", graft.functions.Vec.wordStats(col("text"), stops))
      .withColumn("n_w", col("ws.n_tokens").cast("double"))
      .withColumn("f_len", least(col("n_w") / 100.0, lit(1.0)))
      .withColumn("f_wlen",
        (col("n_chars").cast("double") - col("n_w") + 1.0) / col("n_w"))
      .withColumn("f_stop", col("ws.n_stop_distinct").cast("double") / 8.0)
      .withColumn("f_ttr", col("ws.n_distinct").cast("double") / col("n_w"))
      .withColumn("z",
        lit(-2.0) + lit(1.5) * col("f_len") + lit(0.4) * col("f_wlen") +
          lit(2.0) * col("f_stop") + lit(1.2) * col("f_ttr"))
      .withColumn("score_ppm",
        round(round(lit(1.0) / (lit(1.0) + exp(-col("z"))) + lit(1e-9), 6)
          * lit(1000000.0)).cast("long"))
      .withColumn("n_tok", col("ws.n_tokens"))
      .withColumn("avg_wlen",
        round((col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok")
          + lit(1e-9), 4))
      .withColumn("label",
        col("n_tok") >= 30 && col("n_tok") <= 5000 &&
          col("avg_wlen") >= 3.0 && col("avg_wlen") <= 12.0 &&
          stopHits(col("text"), EnStops) >= 2 &&
          stopHits(col("text"), Seq("slow")) === 0)
      .select("doc_id", "source", "score_ppm", "label")
  }

  /** Per-source AUC of the quality classifier against the C4 cascade
    * (the Mann–Whitney rank form, tie-aware via average ranks). EXACT
    * integer statistics: with scores as micro-unit integers, the
    * doubled positive rank sum, U₂ = 2·ΣR⁺ − P(P+1), and the report
    * `auc_micro` = round(10⁶·U₂ / (2·2PN)) are all integer arithmetic —
    * no float ranks, no tie nondeterminism. Slice-parallel: windows
    * partition by source, the per-source score grid is ≤ 10⁶+1 rows by
    * construction, and nothing global exists. Degenerate slices (all
    * positive / all negative) report NULL auc, as the statistic is
    * undefined there.
    */
  def q_eval_auc(s: SparkSession, d: String): DataFrame = {
    val grp = classifierScored(s, d)
      .groupBy("source", "score_ppm")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("label"), 1L).otherwise(0L)).as("pos"))
    val w = Window.partitionBy("source").orderBy("score_ppm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grp.withColumn("cumall", sum("cnt").over(w))
      .groupBy("source")
      .agg(sum("pos").as("p"),
        sum(col("cnt") - col("pos")).as("n"),
        sum(col("pos") * (lit(2L) * (col("cumall") - col("cnt"))
          + col("cnt") + 1L)).as("rs2"))
      .withColumn("u2", col("rs2") - col("p") * (col("p") + 1L))
      .select(col("source"), col("p"), col("n"), col("u2"),
        when(col("p") > 0 && col("n") > 0,
          expr("cast((1000000 * u2 + 2 * p * n) div (4 * p * n) as bigint)"))
          .as("auc_micro"))
      .orderBy("source")
  }

  /** Retrieval-quality eval (NDCG@10 / P@10) for the BM25 ranker over
    * pinned query terms — the eval-side mate of [[q_bm25]]. Gains are
    * exact term frequencies; the ranking key is the 6-dp-rounded BM25
    * score with doc_id ties, so the @10 cutoff is deterministic
    * cross-engine; the ideal ordering ranks by gain directly. Doc
    * length comes from `size(split(...))` — ONE corpus scan, no
    * second explode — and every rank window runs on the query-term
    * slice, never the full posting space.
    */
  def q_eval_ndcg(s: SparkSession, d: String): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val qTerms = Seq("the", "data", "model")
    // dl feeds the join AND the stats agg; tf feeds scoring AND the df
    // marginal — each materialized once (ExecProbe: 4 corpus scans → 2)
    val dl = documents(s, d)
      .select(col("doc_id"), graft.functions.Vec.wordCount(col("text")).as("dl"))
      .localCheckpoint()
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n_docs"))
    val tf = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // tf is one row per (doc, term), so df is a plain row count per term
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score",
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
          + lit(1e-9), 6))
    val wr = Window.partitionBy("term").orderBy(col("score").desc, col("doc_id"))
    val wi = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(wr))
      .withColumn("irnk", row_number().over(wi))
      .groupBy("term")
      .agg(
        round(sum(when(col("rnk") <= 10,
          col("tf").cast("double") / log2(col("rnk").cast("double") + 1)))
          + lit(1e-9), 6).as("dcg10"),
        round(sum(when(col("irnk") <= 10,
          col("tf").cast("double") / log2(col("irnk").cast("double") + 1)))
          + lit(1e-9), 6).as("idcg10"),
        round(sum(when(col("rnk") <= 10,
          col("tf").cast("double") / log2(col("rnk").cast("double") + 1)))
          / sum(when(col("irnk") <= 10,
            col("tf").cast("double") / log2(col("irnk").cast("double") + 1)))
          + lit(1e-9), 6).as("ndcg10"),
        round(sum(when(col("rnk") <= 10 && col("tf") >= 2, 1).otherwise(0))
          .cast("double") / 10.0 + lit(1e-9), 6).as("p10"))
      .orderBy("term")
  }

  /** Greedy maximum-coverage data selection (the classic set-cover
    * greedy, (1−1/e)-optimal): pick k = 8 docs maximizing cumulative
    * DISTINCT bigram coverage over the df ≥ 5 target vocabulary — the
    * COVERAGE objective next to [[q_mmr_select]]'s diversity
    * objective; production corpus assembly uses exactly this loop to
    * pick few-shot/eval exemplars that span a phrase inventory.
    *
    * Scale shape — CELF-style candidate pool + incremental gain
    * maintenance (Leskovec et al. 2007's lazy-greedy bound, applied
    * as a pool certificate): submodularity means residual gains only
    * ever FALL, so a doc whose INITIAL gain is below the last pick's
    * RESIDUAL gain can never be chosen. The corpus-sized doc-bigram
    * table (450M rows at sf100, DISK_ONLY-cached — a pinned
    * localCheckpoint starved the execution pool at the fourth decade)
    * is therefore touched exactly THREE times regardless of k: once to
    * build initial per-doc gains, once to extract the top-M candidate
    * pool's bigram pairs, and never again — the k greedy rounds run
    * entirely over the M-sized pool relations (argmax + the last
    * pick's covered-bigram delta decrementing only the pool docs that
    * share a bigram with it), replacing round 9's k full corpus
    * rescans (537 s IO-bound at sf100). The bound is CHECKED, not
    * assumed: every pick's residual gain must strictly exceed the max
    * initial gain outside the pool (strict, so doc_id tie-breaks can
    * never involve an excluded doc); if any round fails the
    * certificate, M grows 8× and the trajectory restarts (one extra
    * pool-extraction scan per doubling — still far below a rescan per
    * round). Driver state stays bounded as before: the covered set (≤
    * k docs' bigrams) and one argmax row per round. Gains are exact
    * integers with doc_id tie-break, so the trajectory is
    * engine-exact; the oracle replays it as a lockstep recursive CTE.
    */
  def q_select_cover(s: SparkSession, d: String): DataFrame =
    selectCover(documents(s, d), k = 8, m0 = 1024L)

  /** The CELF-pool greedy behind [[q_select_cover]]; `m0` = starting
    * pool size (exposed so SelectionSpec can force the
    * certificate-failure → pool-growth → restart path with m0 = 1).
    */
  private[ops] def selectCover(docs: DataFrame, k: Int, m0: Long): DataFrame = Scratch.scope { scratch =>
    val s = docs.sparkSession
    val dt0 = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(ws[i-1], ' ', ws[i]))"))
        .as("bg"))
      .distinct()
    val vocab = dt0.groupBy("bg").agg(count(lit(1)).as("df")).filter(col("df") >= 5)
    val dt = scratch.persist(dt0.join(vocab.select("bg"), Seq("bg"), "left_semi"),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // corpus touch 1: initial per-doc gains (doc-count-sized, not
    // corpus-sized — small enough to keep hot for the pool cuts)
    val gains0 = scratch.persist(dt.groupBy("doc_id").agg(count(lit(1)).as("gain")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = gains0.count()
    var covered = Set.empty[String]
    val out = collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    // The pool exists to keep round frames M-bounded at corpus scale;
    // when the corpus is already within one certificate growth step of
    // the pool (m0 × 8), a partial pool can only add a failed-attempt
    // re-run (tight gain ties fail the strict certificate on small
    // corpora — r16 JobProbe: the whole greedy ran twice at sf0.1,
    // 85 jobs) — size the starting pool by the DATA and go straight to
    // the full corpus, where the certificate is vacuous.
    var m = if (nDocs <= m0 * 8) nDocs else m0
    var done = false
    while (!done) {
      // NO reset of covered/out across pool retries: every pick made
      // before a certificate failure had gain strictly > t ≥ any
      // outside-pool doc's current gain (gains only decrease from their
      // initial values, and t is the max initial gain outside the
      // pool), so the prefix IS the full-corpus greedy prefix. The
      // retry resumes at rank out.size+1 over the grown pool, with the
      // new pool's gains decremented by the already-covered bigrams.
      // pool cut: the M-th initial gain (boundary ties included), and
      // the certificate threshold t = max initial gain OUTSIDE the pool.
      // Both derive from the DISTINCT-GAIN histogram in ONE job — the
      // previous spelling paid two serial driver round-trips (a top-m
      // min, then a filtered max over the same cached frame; r16
      // JobProbe: two ~0.4 s single-task jobs). The histogram is
      // bounded by the per-doc bigram count's value range (thousands of
      // distinct gains at any corpus size), never doc-count-sized, so
      // the collect stays driver-safe at scale.
      val hist = gains0.groupBy("gain").agg(count(lit(1)).as("c"))
        .orderBy(col("gain").desc).collect()
      var histSeen = 0L
      var cut = 0L
      var t: Option[Long] = None
      val histIt = hist.iterator
      while (histIt.hasNext && t.isEmpty) {
        val r = histIt.next()
        if (histSeen < m) { cut = r.getLong(0); histSeen += r.getLong(1) }
        else t = Some(r.getLong(0)) // first distinct gain below the cut
      }
      val poolIds = gains0.filter(col("gain") >= cut)
      // corpus touch 2: the pool docs' bigram pairs (M × avg-doc-bigrams
      // rows — pool-sized, every subsequent round reads only this)
      // pool is M-bounded (≤ m docs × avg-doc-bigrams rows) and is
      // re-scanned twice per greedy round (argmax join + decrement
      // semi-join); at shuffle.partitions-wide caching each scan pays
      // a task round-trip per partition for a dim-sized frame — size
      // the cache by the DATA (8 partitions covers any m the
      // certificate can grow to) instead of the session fan-out
      val pool = scratch.persist(
        dt.join(broadcast(poolIds.select("doc_id")), Seq("doc_id"), "left_semi").repartition(8),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // lazy checkpoints: each round's top-pick TakeOrdered scans every
      // poolGains partition, so it materializes the previous round's
      // (lazily-marked) checkpoint — the gain-decrement pass fuses into
      // the argmax job and each round costs one fewer job.
      // Partitioning is sized by the POOL (16 bytes/doc, one partition
      // per ~4M pool docs), not inherited from gains0's fan-out: the
      // k argmax rounds each scan every poolGains partition, so a
      // cores-wide layout of an m-row frame pays k × fan-out task
      // round-trips for kilobytes of data (r16 JobProbe: 33-task ~1 s
      // task-time argmax jobs per round at sf0.1).
      val pgParts = math.max(1L, m / 4000000L).toInt
      // resume support: a retry attempt starts from the carried prefix's
      // coverage — pool docs lose the bigrams already covered (one
      // broadcast semi-join, same shape as the per-round decrement)
      val pg0 =
        if (covered.isEmpty) poolIds
        else {
          val covDf = s.createDataFrame(
            s.sparkContext.parallelize(covered.toSeq.map(Tuple1(_)), 1)
              .map(x => org.apache.spark.sql.Row(x._1)),
            new org.apache.spark.sql.types.StructType()
              .add("bg", org.apache.spark.sql.types.StringType))
          val dec0 = broadcast(pool.join(broadcast(covDf), Seq("bg"), "left_semi")
            .groupBy("doc_id").agg(count(lit(1)).as("dec")))
          poolIds.join(dec0, Seq("doc_id"), "left_outer")
            .select(col("doc_id"),
              (col("gain") - coalesce(col("dec"), lit(0L))).as("gain"))
        }
      var poolGains = scratch.checkpoint(pg0.repartition(pgParts, col("doc_id")), eager = false)
      var certified = true
      var exhausted = false
      var rank = out.size + 1
      while (rank <= k && certified && !exhausted) {
        // ONE job per round: the top-1 argmax joined with the winner's
        // pool bigrams (bounded by one doc's bigram count) — previously
        // two driver round-trips (argmax collect + a full pool scan for
        // the winner's bigrams). gain > 0 implies the winner still owns
        // ≥1 pool row, so an empty collect still means "pool ran dry".
        val top = poolGains.filter(col("gain") > 0)
          .orderBy(col("gain").desc, col("doc_id")).limit(1)
          .join(pool, Seq("doc_id"))
          .select(col("doc_id"), col("gain"), col("bg")).collect()
        // the TakeOrdered side above touched every poolGains partition
        scratch.keep(poolGains, pool, dt, gains0)
        if (top.isEmpty) {
          // pool ran dry: exact iff no excluded doc could still gain
          if (t.isDefined) certified = false else exhausted = true
        } else {
          val id = top(0).getLong(0)
          val gain = top(0).getLong(1)
          // strict: at a tie with an excluded doc's initial gain the
          // doc_id order could prefer the excluded doc — not certifiable
          if (t.exists(gain <= _)) certified = false
          else {
            val newBgs = top.map(_.getString(2)).filterNot(covered)
            covered ++= newBgs
            out += ((rank, id, gain, covered.size.toLong))
            // incremental maintenance: only pool docs sharing a newly
            // covered bigram lose gain; everyone else is untouched
            val deltaDf = s.createDataFrame(
              s.sparkContext.parallelize(newBgs.toSeq.map(Tuple1(_)), 1)
                .map(x => org.apache.spark.sql.Row(x._1)),
              new org.apache.spark.sql.types.StructType()
                .add("bg", org.apache.spark.sql.types.StringType))
            // dec is pool-doc-bounded (a count per affected doc) —
            // broadcast it so the join keeps poolGains' pool-sized
            // layout instead of re-exchanging both sides at the
            // session fan-out every round
            val dec = broadcast(pool.join(broadcast(deltaDf), Seq("bg"), "left_semi")
              .groupBy("doc_id").agg(count(lit(1)).as("dec")))
            poolGains = scratch.checkpoint(poolGains.join(dec, Seq("doc_id"), "left_outer")
              .select(col("doc_id"),
                (col("gain") - coalesce(col("dec"), lit(0L))).as("gain")),
              eager = false) // next round's argmax materializes it
            rank += 1
          }
        }
      }
      // this pool's blocks are done with: a retry extracts a new pool
      scratch.keep(dt, gains0)
      if (certified) done = true
      else if (m >= nDocs)
        throw new IllegalStateException(
          s"select_cover pool certificate failed with the FULL corpus as pool " +
            s"(m=$m >= nDocs=$nDocs) — unreachable by construction")
      else m = math.min(m * 8, nDocs) // re-extraction is one corpus scan; jump fast
    }
    import s.implicits._
    out.toSeq.toDF("rank", "doc_id", "gain", "cum_cover")
  }(Seq(_))

  /** Reciprocal Rank Fusion (Cormack et al. 2009) of a LEXICAL and a
    * SEMANTIC ranker — the standard hybrid-retrieval combiner
    * (RRF(d) = Σᵢ 1/(60 + rankᵢ(d)), missing list → 0 via rank
    * sentinel 0). Ranker 1 is single-term BM25 ('data'); ranker 2 is
    * cosine vs a pinned query embedding, both rounded before ranking
    * (6 dp / 9 dp) so the orders are engine-exact. Each leg reduces to
    * its top-50 with a distributed TakeOrderedAndProject BEFORE any
    * window — the global row_number only ever sees ≤50 rows, so
    * nothing funnels at scale; the fusion itself is a full outer join
    * of two 50-row lists. 1/(60+r) divides the same exact integers in
    * both engines.
    */
  def q_rank_fusion(s: SparkSession, d: String): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    // dl and the term slice each materialize once — 4 corpus scans → 2
    // (ExecProbe-audited, same reuse gap as q_eval_ndcg)
    val dl = documents(s, d)
      .select(col("doc_id"), graft.functions.Vec.wordCount(col("text")).as("dl"))
      .localCheckpoint()
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n_docs"))
    val tf = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") === "data")
      .groupBy("doc_id").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfq = tf.agg(count(lit(1)).as("df"))
    val bmTop = tf.join(dl, "doc_id").crossJoin(broadcast(dfq))
      .crossJoin(broadcast(stats))
      .withColumn("score",
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
          + lit(1e-9), 6))
      .orderBy(col("score").desc, col("doc_id")).limit(50)
      .withColumn("r1",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long"))
      .select("doc_id", "r1")
    val emb = embeddings(s, d).withColumn("e", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("e").as("qe"), l2norm(col("e")).as("qn"))
    val cosTop = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .withColumn("c", round(dot(col("e"), col("qe")) / (l2norm(col("e")) * col("qn")), 9))
      .select(col("vec_id").as("doc_id"), col("c"))
      .orderBy(col("c").desc, col("doc_id")).limit(50)
      .withColumn("r2",
        row_number().over(Window.orderBy(col("c").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "r2")
    bmTop.join(cosTop, Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("r1", "r2"))
      .withColumn("rrf",
        round(
          when(col("r1") > 0, lit(1.0) / (col("r1") + 60)).otherwise(lit(0.0))
            + when(col("r2") > 0, lit(1.0) / (col("r2") + 60)).otherwise(lit(0.0))
            + lit(1e-9), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  /** Calibration (reliability-diagram) bins for the quality classifier
    * vs the C4 cascade: 10 fixed-width score bins, each reporting
    * count, empirical positive rate, and mean predicted score — the
    * "is a 0.8 really an 80%" table. All micro-unit integer exact
    * (scores enter as integers, rates are round-half-up integer
    * division). One map-side-combined groupBy on a 10-value key.
    */
  def q_eval_calibration(s: SparkSession, d: String): DataFrame =
    classifierScored(s, d)
      .withColumn("bin", least(expr("score_ppm div 100000"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum("score_ppm").as("sum_ppm"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("cast((2 * sum_ppm + n) div (2 * n) as bigint)").as("mean_score_ppm"),
        expr("cast((2000000 * n_pos + n) div (2 * n) as bigint)").as("pos_rate_ppm"))
      .orderBy("bin")

  /** Classifier eval: BINNED cumulative gains / lift (the marketing
    * "lift curve" read top-score-down): rank the corpus by the quality
    * classifier's score BIN (the same fixed 0.1-wide ppm bins as
    * [[q_eval_calibration]] — binned, NOT exact deciles, deliberately:
    * an exact global decile needs a corpus sort or a whole-corpus
    * percentile pass, while score binning is pure scan-stage math and
    * the lift question "how concentrated are the positives near the
    * top" is answered the same way), then report, cumulatively from the
    * top bin down: docs covered, positives captured (gain), and lift vs
    * the base rate. All-integer: gain_ppm and lift_ppm ship as
    * round-half-up integer divisions of exact counts. The cumulative
    * window orders ≤ 10 bin rows — nothing corpus-sized sorts.
    */
  def q_eval_lift(s: SparkSession, d: String): DataFrame = {
    val bins = classifierScored(s, d)
      .withColumn("bin", least(expr("score_ppm div 100000"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
    val wCum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = bins.agg(sum("n").as("tot_n"), sum("n_pos").as("tot_pos"))
    bins
      .withColumn("cum_n", sum("n").over(wCum))
      .withColumn("cum_pos", sum("n_pos").over(wCum))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        expr("cast((2000000 * cum_pos + tot_pos) div (2 * tot_pos) as bigint)")
          .as("gain_ppm"),
        // the cum_pos·tot_n product crosses Long range (~4.6e12) around a
        // 2M-doc corpus and non-ANSI Long mul wraps SILENTLY — route it
        // through DECIMAL(38,0) (the q_forecast_snaive convention); the
        // quotient itself is ppm-sized, so the final bigint cast is safe
        expr("cast((2000000 * cast(cum_pos as decimal(38,0)) * tot_n + cast(cum_n as decimal(38,0)) * tot_pos) div (2 * cast(cum_n as decimal(38,0)) * tot_pos) as bigint)")
          .as("lift_ppm"))
      .orderBy(col("bin").desc)
  }

  /** Per-source Cohen's kappa between the stopword lang-ID heuristic
    * ([[q_lang_id]]'s predictor) and the gold `lang` column —
    * chance-corrected rater agreement, the standard annotation-quality
    * number. Reported as exact integers: observed agreement `agree`,
    * the marginal product sum S = Σₖ rₖ·cₖ, and kappa's exact rational
    * as `kappa_num` = N·agree − S over `kappa_den` = N² − S (kappa can
    * be negative, and floor-vs-truncate integer division diverges
    * between engines there — so the gate ships the fraction, not a
    * rounded quotient). Marginals and cells are tiny grouped counts;
    * the corpus is scanned once.
    */
  def q_lang_kappa(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("source"), col("lang").as("gold"),
        stopHits(col("text"), EnStops).as("s_en"),
        stopHits(col("text"), EsStops).as("s_es"),
        stopHits(col("text"), DeStops).as("s_de"))
      .withColumn("pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
    // one corpus scan: marginals, N, and agreement all reduce the tiny
    // per-(source, gold, pred) cell table
    val cells = base.groupBy("source", "gold", "pred").agg(count(lit(1)).as("cc"))
    val predM = cells.groupBy("source", "pred").agg(sum("cc").as("rp"))
      .withColumnRenamed("pred", "cat")
    val goldM = cells.groupBy("source", "gold").agg(sum("cc").as("rg"))
      .withColumnRenamed("gold", "cat")
    val sSum = predM.join(goldM, Seq("source", "cat"))
      .groupBy("source").agg(sum(col("rp") * col("rg")).as("s"))
    cells.groupBy("source")
      .agg(sum("cc").as("n"),
        sum(when(col("gold") === col("pred"), col("cc")).otherwise(0L)).as("agree"))
      .join(sSum, "source")
      .select(col("source"), col("n"), col("agree"), col("s"),
        (col("n") * col("agree") - col("s")).as("kappa_num"),
        (col("n") * col("n") - col("s")).as("kappa_den"))
      .orderBy("source")
  }

  /** Krippendorff's alpha (nominal data, two coders, complete units) —
    * [[q_lang_kappa]]'s generalization and the agreement coefficient
    * annotation QA actually standardizes on (Krippendorff 2004): kappa
    * corrects chance by each coder's OWN marginal, alpha by the POOLED
    * value marginals, which makes it comparable across coder pairs and
    * extensible to missing data. For two complete coders the nominal
    * form reduces to exact integers: with n units, d disagreements, and
    * pooled value marginals m_c (gold count + pred count per label),
    * N = 2n and alpha = 1 − 2·d·(N−1) / (N² − Σ m_c²) — shipped as the
    * exact fraction (alpha_num, alpha_den) like kappa, because alpha is
    * negative below chance and rounded quotients diverge between
    * engines there. Same one-scan cell-table reduction as kappa; the
    * label space is bounded, so everything after the scan is tiny.
    */
  def q_agreement_alpha(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("source"), col("lang").as("gold"),
        stopHits(col("text"), EnStops).as("s_en"),
        stopHits(col("text"), EsStops).as("s_es"),
        stopHits(col("text"), DeStops).as("s_de"))
      .withColumn("pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
    val cells = base.groupBy("source", "gold", "pred").agg(count(lit(1)).as("cc"))
    val predM = cells.groupBy("source", "pred").agg(sum("cc").as("rp"))
      .withColumnRenamed("pred", "cat")
    val goldM = cells.groupBy("source", "gold").agg(sum("cc").as("rg"))
      .withColumnRenamed("gold", "cat")
    // pooled marginals need the FULL outer join: a label one coder never
    // emits still counts on the other side
    val m2 = predM.join(goldM, Seq("source", "cat"), "full_outer")
      .na.fill(0L, Seq("rp", "rg"))
      .withColumn("m", col("rp") + col("rg"))
      .groupBy("source").agg(sum(col("m") * col("m")).as("m2sum"))
    cells.groupBy("source")
      .agg(sum("cc").as("n"),
        sum(when(col("gold") =!= col("pred"), col("cc")).otherwise(0L)).as("disagree"))
      .join(m2, "source")
      .select(col("source"), col("n"), col("disagree"), col("m2sum"),
        (lit(4L) * col("n") * col("n") - col("m2sum")
          - lit(2L) * col("disagree") * (lit(2L) * col("n") - 1)).as("alpha_num"),
        (lit(4L) * col("n") * col("n") - col("m2sum")).as("alpha_den"))
      .orderBy("source")
  }

  /** Class-based TF-IDF keywords per source (the BERTopic c-TF-IDF
    * form, Grootendorst 2022): treat each SOURCE as one pseudo-document
    * and score term t in class c as tf_{t,c} · ln(1 + A/f_t), where f_t
    * is the term's corpus frequency and A the average words per class —
    * the per-class keyword extraction behind topic labeling and the
    * per-source "what is this crawl actually about" line of a corpus
    * card. Engine-exact: the log argument is the exact integer rational
    * (S·f_t + W)/(S·f_t) (S classes, W total words) — both engines cast
    * the same BIGINTs to double, divide, and ln, so the ppm-rounded
    * weights agree bit-for-bit. Scale shape: one explode + one
    * (source,term) map-combined aggregate; everything after is
    * vocabulary-grain (Zipf-collapsed), and the top-5 window partitions
    * over per-source vocab, never corpus rows.
    */
  def q_keywords_ctfidf(s: SparkSession, d: String): DataFrame = {
    val tf = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val ft = tf.groupBy("term").agg(sum("tf").as("ft"))
    val tot = tf.agg(sum("tf").as("w"), count_distinct(col("source")).as("srcs"))
    val rank = Window.partitionBy("source").orderBy(col("w_ppm").desc, col("term"))
    tf.join(ft, "term").crossJoin(broadcast(tot))
      .withColumn("w_ppm",
        round(col("tf") * log((col("srcs") * col("ft") + col("w")).cast("double")
          / (col("srcs") * col("ft")).cast("double")) * 1000000 + lit(1e-9), 0)
          .cast("long"))
      .withColumn("rn", row_number().over(rank).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("source"), col("rn"), col("term"), col("tf"), col("w_ppm"))
      .orderBy("source", "rn")
  }

  /** Per-class precision / recall / F1 for the stopword lang-ID
    * heuristic against the gold label — the standard classifier report
    * next to [[q_lang_kappa]]'s chance-corrected agreement. Everything
    * is exact integers off ONE corpus scan's tiny confusion-cell
    * table: tp/fp/fn per predicted class, and the three ratios as
    * round-half-up micro-units (F1 uses its exact rational form
    * 2tp/(2tp+fp+fn) — no float P·R composition). Degenerate classes
    * (never predicted / never gold) report NULL, like q_eval_auc.
    */
  def q_eval_f1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = documents(s, d)
      .select(col("lang").as("gold"),
        stopHits(col("text"), EnStops).as("s_en"),
        stopHits(col("text"), EsStops).as("s_es"),
        stopHits(col("text"), DeStops).as("s_de"))
      .withColumn("pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
      .groupBy("gold", "pred").agg(count(lit(1)).as("cc"))
      .localCheckpoint() // tiny cell grid feeds all three class sums
    Seq("de", "en", "es").toDF("cls")
      .crossJoin(cells)
      .groupBy("cls")
      .agg(
        coalesce(sum(when(col("gold") === col("cls") && col("pred") === col("cls"),
          col("cc"))), lit(0L)).as("tp"),
        coalesce(sum(when(col("pred") === col("cls") && col("gold") =!= col("cls"),
          col("cc"))), lit(0L)).as("fp"),
        coalesce(sum(when(col("gold") === col("cls") && col("pred") =!= col("cls"),
          col("cc"))), lit(0L)).as("fn"))
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          expr("cast((1000000 * tp + (tp + fp) div 2) div (tp + fp) as bigint)"))
          .as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("cast((1000000 * tp + (tp + fn) div 2) div (tp + fn) as bigint)"))
          .as("recall_ppm"),
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          expr("cast((2000000 * tp + (2 * tp + fp + fn) div 2) div (2 * tp + fp + fn) as bigint)"))
          .as("f1_ppm"))
      .orderBy("cls")
  }

  // ---- soft dedup -----------------------------------------------------

  /** SOFT dedup: keep every duplicate but down-weight it by its exact
    * duplicate-cluster size (weight 1/m in micro-units) — the
    * reweight-don't-drop alternative when duplicates carry signal
    * (domain mixing, quotes, boilerplate-adjacent pages). Scale shape:
    * the text never shuffles — docs collapse to a 16-byte md5 digest,
    * cluster sizes aggregate on the digest key, and the weight joins
    * back on the same even digest key. Two 16-byte-key shuffles total.
    */
  def q_dedup_soft(s: SparkSession, d: String): DataFrame = {
    val keyed = documents(s, d).select(col("doc_id"), md5(col("text")).as("k"))
    val m = keyed.groupBy("k").agg(count(lit(1)).as("m"))
    keyed.join(m, "k")
      .select(col("doc_id"), col("m"),
        expr("cast((2000000 + m) div (2 * m) as bigint)").as("weight_ppm"))
      .orderBy("doc_id")
  }

  // ---- sparse (bag-of-words) similarity -------------------------------

  /** Sparse-vector cosine top-k via the INVERTED INDEX — the lexical
    * sibling of [[q_sim_topk]]'s dense path: query docs' term vectors
    * broadcast against a df-capped term-partitioned index, partial dot
    * products reduce on (query, doc), and cosine orders exactly
    * (integer dot and norms; `sqrt`/`÷` are IEEE-correctly-rounded, so
    * both engines rank identical doubles). The df cap (terms in >10%
    * of docs are dropped) is what makes the term shuffle Zipf-safe —
    * the head terms that would dominate the posting volume carry no
    * discrimination anyway (the BM25 idf argument, applied as a
    * pre-filter). Top-k per query via the salted two-phase
    * [[Scale.topKPerGroup]] — 5 query groups never funnel through 5
    * tasks.
    */
  def q_sim_sparse(s: SparkSession, d: String): DataFrame = {
    val qIds: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L)
    // bigram terms, not unigrams: the synthetic corpus draws from a
    // ~31-word pool, so every unigram is a head term and a df cap
    // degenerates; bigrams give a realistic Zipf-tailed vocabulary
    // (and are the better lexical-similarity signal anyway)
    // the (doc, bigram, tf) index is materialized ONCE — the executed
    // plan otherwise re-derives the bigram explode along every chain
    // (df / kept / norms / qvec / dots / qnorms: 16 parquet scans,
    // ExecProbe-audited). "Build the index once" is also the honest
    // 100 TB shape; blocks spill via MEMORY_AND_DISK.
    val tf = documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.Vec.wordNGrams(col("text"), 2)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val tot = documents(s, d).groupBy().agg(count(lit(1)).as("n_docs"))
    val keptTerms = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(tot))
      .filter(col("df") * 10 <= col("n_docs"))
      .select("term")
      .localCheckpoint() // vocab-sized; re-derived per kept-chain otherwise
    val kept = tf.join(keptTerms, "term")
    val norms = kept.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("norm2"))
    val qvec = kept.filter(col("doc_id").isin(qIds: _*))
      .select(col("doc_id").as("q_doc"), col("term"), col("tf").as("qtf"))
    val dots = kept.join(broadcast(qvec), "term")
      .filter(col("doc_id") =!= col("q_doc"))
      .groupBy("q_doc", "doc_id")
      .agg(sum(col("qtf") * col("tf")).as("dot"))
    val qnorms = broadcast(
      norms.filter(col("doc_id").isin(qIds: _*))
        .select(col("doc_id").as("q_doc"), col("norm2").as("qnorm2")))
    val scored = dots.join(norms, "doc_id").join(qnorms, "q_doc")
      .withColumn("cos",
        col("dot").cast("double") /
          sqrt(col("norm2").cast("double") * col("qnorm2").cast("double")))
    val top = Scale.topKPerGroup(scored, Seq(col("q_doc")),
      Seq(col("cos").desc, col("doc_id")), 10, Seq(col("doc_id")))
    val wr = Window.partitionBy("q_doc").orderBy(col("cos").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(wr).cast("long"))
      .select(col("q_doc"), col("rank"), col("doc_id"), col("dot"),
        round(col("cos") + lit(1e-9), 6).as("cos"))
      .orderBy("q_doc", "rank")
  }
}
