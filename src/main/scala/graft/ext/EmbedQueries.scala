package graft.ext

import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{ArtifactStore, Tables}
import graft.plans.TopKPerKey

/** Embedding-compression and semantic-dedup operators (round-6 widening):
  *
  *   - int8 scalar quantization with per-vector scale and exact
  *     reconstruction-error audit (the storage/bandwidth step before an
  *     ANN index ships to serving)
  *   - SemDeDup-style semantic dedup: k-means cluster the corpus, then
  *     drop all but one of each within-cluster near-duplicate set
  *     (Abbas et al. 2023 shape: cluster → pairwise-within-cluster →
  *     keep-first)
  *   - product quantization ([[Pq]]): per-subspace codebooks compress
  *     each vector to M small codes, with an exact reconstruction-error
  *     audit
  *
  * Scale shape: quantization is a pure per-row expression pipeline (no
  * shuffle at all); SemDeDup joins only within cluster buckets — the
  * all-pairs stage is bounded by the largest cluster, the same blocking
  * argument as q_dedup_embed/q_sim_ivf.
  */
object EmbedQueries {

  /** The served binary-quantization funnel (q_quantize_binary_ivf's
    * body, shared with PlanAuditSpec so the audited plan IS the
    * registered plan): IVF probe pool (equi-join on the cell id) →
    * in-cell XOR+popcount Hamming top-`keep` → exact-cosine rerank
    * top-3. Returns (served top-3, pool) — the pool count feeds the
    * sub-quadratic ceiling gate.
    */
  private[graft] def binaryIvfServed(
      s: org.apache.spark.sql.SparkSession,
      emb: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]],
      nprobe: Int = 8,
      keep: Int = 100)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    def word(lo: Int): String =
      "aggregate(zip_with(slice(v, " + (lo + 1) + ", 32), sequence(0, 31), " +
        "(x, i) -> IF(x IS NOT NULL AND x > 0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
        "CAST(0 AS BIGINT), (a, b) -> a + b)"
    val packed = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("w0", expr(word(0)))
      .withColumn("w1", expr(word(32)))
      .localCheckpoint(true)
    val pool = Ivf.probeCells(emb.filter(queryPred), centroids, nprobe)
      .select(col("q_id"), col("bucket"))
      .join(Ivf.index(emb, centroids).select(col("n_id"), col("bucket")), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
    val ham = pool
      .join(
        packed.select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("w0").as("qw0"), col("w1").as("qw1")), Seq("q_id"))
      .join(
        packed.select(col("vec_id").as("n_id"), col("v").as("cv"),
          col("w0").as("cw0"), col("w1").as("cw1")), Seq("n_id"))
      .select(
        col("q_id"), col("n_id"), col("qv"), col("cv"),
        expr("CAST(bit_count(qw0 ^ cw0) + bit_count(qw1 ^ cw1) AS BIGINT)").as("hamming"))
    val reranked = TopKPerKey.topK(ham, Seq(col("q_id")), Seq(col("hamming"), col("n_id")), keep, "hrk")
      .select(
        col("q_id"), col("n_id"),
        (Similarity.dot(col("qv"), col("cv")) /
          (sqrt(Similarity.dot(col("qv"), col("qv"))) *
            sqrt(Similarity.dot(col("cv"), col("cv"))))).as("cos"))
    (Similarity.topByScore(reranked, "cos", 3), pool)
  }

  val queries: Seq[Q] = Seq(
    Q(
      "q_quantize_embed",
      // Per-vector symmetric int8 quantization: scale = max|x| / 127,
      // q_i = clamp(floor(x_i/scale + 0.5)) — floor(x+0.5) instead of
      // round() because both engines implement it with the same IEEE
      // double ops (Spark's round() goes through BigDecimal, DuckDB's
      // through std::round; floor stays in hardware semantics). The
      // reconstruction-error vector is reduced with max (order-free) and
      // a sequential-fold dot product (bit-equal to DuckDB's
      // list_dot_product), so every output column is cross-engine
      // deterministic WITHOUT quantizing the audit itself. Spark floor()
      // returns BIGINT — cast back to double before rescaling.
      (s, d) => {
        val v = col("embedding").cast("array<double>")
        val scale = when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax") / 127.0)
        val errv = transform(
          col("v"),
          x =>
            abs(x - least(greatest(floor(x / col("scale") + 0.5).cast("double"), lit(-127.0)), lit(127.0))
              * col("scale")))
        Tables(s, d, "embeddings")
          .select(col("vec_id"), v.as("v"))
          .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
          .withColumn("scale", scale)
          .withColumn("errv", errv)
          .select(
            col("vec_id"),
            size(col("v")).cast("long").as("n_dims"),
            col("scale"),
            array_max(col("errv")).as("max_abs_err"),
            Similarity.dot(col("errv"), col("errv")).as("sq_err"))
          .orderBy("vec_id")
      },
      Some(
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
          "a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM v), " +
          "s AS (SELECT vec_id, v, CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale FROM a), " +
          "e AS (SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, scale, " +
          "list_transform(v, x -> abs(x - least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale)) AS errv FROM s) " +
          "SELECT vec_id, n_dims, scale, list_max(errv) AS max_abs_err, " +
          "list_dot_product(errv, errv) AS sq_err FROM e ORDER BY vec_id"),
      headline = true
    ),
    Q(
      "q_quantize_binary",
      // BINARY embedding quantization + Hamming serving — the 1-bit
      // end of the compression spectrum (int8 above, PQ below): bit i
      // of the packed words is sign(x_i) > 0, so a d-dim float vector
      // becomes d/32 longs (the 32-dims-per-word convention keeps every
      // shift < 2^32 — DuckDB range-checks 1<<63 where Spark wraps, so
      // the cross-engine form never touches the sign bit) and candidate
      // scoring is XOR + popcount — the cheapest distance a CPU can
      // compute, and the first-pass filter modern retrieval stacks run
      // before an exact rerank (composes with the IVF blocking for the
      // candidate sweep at corpus scale; the fixture form scans). Every
      // output column is a FULL cross-engine value differential: the
      // pack is integer bit arithmetic (Spark shiftleft/^/bit_count ≡
      // DuckDB <</xor/bit_count, 0- vs 1-based lambda index aligned),
      // ranks tie-break on (hamming, n_id), and the rerank cosine rides
      // the sequential fold ≡ list_dot_product chain.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def word(lo: Int): String =
          "aggregate(zip_with(slice(v, " + (lo + 1) + ", 32), sequence(0, 31), " +
            "(x, i) -> IF(x IS NOT NULL AND x > 0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
            "CAST(0 AS BIGINT), (a, b) -> a + b)"
        val packed = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("w0", expr(word(0)))
          .withColumn("w1", expr(word(32)))
        val q = packed.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("w0").as("qw0"), col("w1").as("qw1"))
        val c = packed
          .select(col("vec_id").as("n_id"), col("v").as("cv"),
            col("w0").as("cw0"), col("w1").as("cw1"))
        val scored = q.join(c, col("q_id") =!= col("n_id"))
          .select(
            col("q_id"), col("n_id"), col("qv"), col("cv"),
            expr("CAST(bit_count(qw0 ^ cw0) + bit_count(qw1 ^ cw1) AS BIGINT)").as("hamming"))
        TopKPerKey.topK(scored, Seq(col("q_id")), Seq(col("hamming"), col("n_id")), 5, "rank")
          .select(
            col("q_id"), col("rank"), col("n_id"), col("hamming"),
            (Similarity.dot(col("qv"), col("cv")) /
              (sqrt(Similarity.dot(col("qv"), col("qv"))) *
                sqrt(Similarity.dot(col("cv"), col("cv"))))).as("cos"))
          .orderBy("q_id", "rank")
      },
      Some(
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
          "p AS (SELECT vec_id, v, " +
          "CAST(COALESCE(list_sum(list_transform(list_slice(v, 1, 32), (x, i) -> " +
          "CASE WHEN x > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS w0, " +
          "CAST(COALESCE(list_sum(list_transform(list_slice(v, 33, 64), (x, i) -> " +
          "CASE WHEN x > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS w1 FROM v), " +
          "s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.v AS qv, c.v AS cv, " +
          "CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming " +
          "FROM p q JOIN p c ON q.vec_id < 10 AND q.vec_id <> c.vec_id), " +
          "r AS (SELECT q_id, n_id, qv, cv, hamming, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS INT) AS rank FROM s) " +
          "SELECT q_id, rank, n_id, hamming, list_dot_product(qv, cv) / " +
          "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos " +
          "FROM r WHERE rank <= 5 ORDER BY q_id, rank")
    ),
    Q(
      "q_quantize_binary_ivf",
      // The SERVED binary-quantization composition q_quantize_binary's
      // scaladoc promises (round-17 verdict #6): candidates come from
      // the stored IVF coarse quantizer (probeCells ⋈ index on bucket,
      // corpus-adaptive k — 16 at fixture scale — / nprobe=8, the
      // nprobe-serving convention, like
      // q_hard_negatives_ivf), the 1-bit XOR+popcount Hamming filter
      // keeps each query's top-100 INSIDE the probed cells, and the
      // exact-cosine rerank answers top-3 — the three-stage funnel
      // (cells → bits → floats) a production retrieval stack actually
      // runs, with per-query work ∝ nprobe·cell + a CONSTANT float
      // rerank, never corpus. Cell assignment is float/partition-order
      // specific, so the gates are the served-family convention:
      // n_queries (real differential), recall vs the in-plan exact
      // top-3 (floor 0.5 — measured 0.833 sf0.01 / 0.667 sf0.1 at
      // nprobe=8/keep=100; the two-point sensitivity behind the
      // constants: nprobe=6/keep=20 reads 0.533/0.333 — the 1-bit
      // filter needs a generous rerank budget on near-uniform
      // vectors), the pool's nprobe/k-PROPORTIONAL candidate ceiling
      // (poolCeilingFrac — 0.75·q·corpus at the sf0.1 tier's k=16,
      // vacuous-by-design at sf0.01's 500-vector/k=8 tier where
      // nprobe=8 is exhaustive, ~0.15 at the 24x Stress tier's k=78;
      // the previous flat 0.6·q·corpus could never tighten with k —
      // round-18 verdict #1), and
      // full serving (3 answers per query).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val coarse = Ivf.trainSharedAdaptive(s, d)
        val np = Ivf.adaptiveNprobe(8, coarse.size) // = 8 at both gate tiers
        val frac = Ivf.poolCeilingFrac(coarse.size, np)
        val (served, pool) = binaryIvfServed(
          s, emb, col("vec_id") < 10, coarse, nprobe = np)
        val q = emb.filter(col("vec_id") < 10)
        val recall = Gate.recallGate(
          Similarity.bruteForceTopK(q, emb, 3),
          served.select(col("q_id"), col("n_id")), floor = 0.5)
        Gate.withCounts(recall, "n_corpus" -> emb, "__n_pool" -> pool, "__n_served" -> served)
          .select(
            col("n_queries"),
            col("recall_ge_floor"),
            Gate.ceiling(col("__n_pool"), frac, col("n_queries"), col("n_corpus"))
              .as("cand_sub_quadratic"),
            (col("__n_served") === col("n_queries") * 3).as("full_serving"))
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor, " +
          "true AS cand_sub_quadratic, true AS full_serving " +
          "FROM embeddings WHERE vec_id < 10")
    ),
    Q(
      "q_semdedup",
      // SemDeDup: deterministic k-means (Ivf.train, seeded picks, fixed
      // rounds) buckets the corpus; within each cluster a vector is
      // DROPPED when a lower-id cluster-mate sits within cosine >= tau.
      // k-means float averaging is partition-order sensitive, so the
      // gated output is the algorithm's defining INVARIANT reduced to a
      // row: the kept set must be pairwise < tau inside every cluster,
      // and every vector is assigned exactly once (n_vecs differential).
      // At scale: the candidate join is keyed on cluster id, never
      // all-pairs.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        // tau = 0.3 matches q_dedup_embed: the synthetic labels are weak
        // cosine clusters, so a production-ish 0.9x threshold drops
        // nothing here — same shape, lower bar.
        val flags = SemDedup.dropFlags(s, emb, k = 16, tau = 0.3)
        val kept = flags.filter(!col("dropped"))
          .join(emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), Seq("vec_id"))
        val a = kept.select(col("cluster"), col("vec_id").as("a_id"), col("v").as("av"))
        val b = kept.select(col("cluster"), col("vec_id").as("b_id"), col("v").as("bv"))
        val pairOk = a.join(b, Seq("cluster"))
          .filter(col("a_id") < col("b_id"))
          .agg(coalesce(
            bool_and(Similarity.cosine(col("av"), col("bv")) < 0.3),
            lit(true)).as("kept_pairwise_lt_tau"))
        flags.agg(count(lit(1)).as("n_vecs")).crossJoin(pairOk)
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
          "true AS kept_pairwise_lt_tau FROM embeddings")
    ),
    Q(
      "q_pq_encode",
      // Product quantization: 4 subspaces × 16-entry codebooks (PQ4×4bit)
      // over the embedding corpus — each vector compresses to 4 nibbles.
      // Codebook training is the deterministic Ivf k-means per subspace;
      // encoding is a pure per-row expression. The Lloyd means are float
      // partition-order sensitive, so the gated output is the encoding
      // contract per subspace: every vector encoded (n_vecs is a real
      // differential), codes in [0, k), at most k codes used, and finite
      // non-negative reconstruction error. EmbedSpec pins the
      // exact-reconstruction invariant on a fixture.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        Pq.encode(emb, Pq.shared(
          s, ArtifactStore.corpusKey(d, "embeddings", "raw|m=4|k=16|iters=3"))(
          Pq.train(s, emb, m = 4, k = 16)))
          .groupBy(col("m"))
          .agg(
            count(lit(1)).as("n_vecs"),
            bool_and(col("code") >= 0 && col("code") < 16).as("codes_in_range"),
            (countDistinct(col("code")) <= 16).as("codes_le_k"),
            bool_and(col("err2") >= 0.0 && !isnan(col("err2"))).as("err2_ok"))
          .orderBy("m")
      },
      Some(
        "SELECT CAST(t.m AS INTEGER) AS m, " +
          "(SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs, " +
          "true AS codes_in_range, true AS codes_le_k, true AS err2_ok " +
          "FROM (VALUES (0), (1), (2), (3)) t(m) ORDER BY m")
    ),
    Q(
      "q_pq_adc",
      // PQ search via asymmetric distance computation + exact re-rank:
      // queries carry 8×16 distance tables, corpus vectors are matched
      // through their stored codes alone; the ADC shortlist (128 — 64
      // until round 20: the driver's fixture regeneration read 0.490 at
      // 64/sf0.1, a hair under the floor; the re-measured sweep on the
      // r20 fixture is 64→0.490 / 128→0.600 / 192→0.690 at sf0.1 and
      // 0.740/0.850/0.930 at sf0.01, so 128 restores the floor's
      // margin at both tiers for one extra constant-size re-rank) is
      // then exactly re-ranked ([[Pq.adcRerankTopK]]) — the FAISS-style
      // serving shape where the full-corpus pass never touches floats.
      // k-means float means are partition-order sensitive, so the gated
      // output is recall@10 vs the in-plan exact L2 top-10, floor 0.5
      // (EmbedSpec asserts the same floor).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        val books = Pq.shared(
          s, ArtifactStore.corpusKey(d, "embeddings", "raw|m=8|k=16|iters=6"))(
          Pq.train(s, emb, m = 8, k = 16, iters = 6))
        val enc = Pq.encode(emb, books).select(col("vec_id"), col("m"), col("code"))
        val approx = Pq.adcRerankTopK(queries, enc, books, emb, k = 10, shortlist = 128)
        // exact L2 top-10 (broadcast × corpus — the deliberate exact side)
        val v = col("embedding").cast("array<double>")
        val q = queries.select(col("vec_id").as("q_id"), v.as("qv"))
        val c = emb.select(col("vec_id").as("n_id"), v.as("cv"))
        val d2 =
          Similarity.dot(col("qv"), col("qv")) + Similarity.dot(col("cv"), col("cv")) -
            lit(2.0) * Similarity.dot(col("qv"), col("cv"))
        val exact = TopKPerKey.topK(
          broadcast(q).crossJoin(c)
            .filter(col("q_id") =!= col("n_id"))
            .select(col("q_id"), col("n_id"), d2.as("d2")),
          Seq(col("q_id")), Seq(col("d2").asc, col("n_id").asc), 10, "rank")
        Gate.recallGate(
          exact,
          approx.select(col("q_id"), col("vec_id").as("n_id")),
          floor = 0.5)
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor " +
          "FROM embeddings WHERE vec_id < 10")
    ),
    Q(
      "q_pq_adc_ivf",
      // The COMPOSED IVF×PQ serving layout (round-12 verdict #1 — the
      // FAISS IVFPQ shape): PQ codes stored per coarse cell
      // ([[Pq.encodeCells]], one narrow map), queries build their ADC
      // distance table once and scan ONLY their nprobe=6 of the
      // corpus-adaptive k cells' codes (k=16 at sf0.1, so 3/8 of the
      // corpus; near-exhaustive at the 500-vector tiers' k=8 by
      // design), shortlist-128, exact re-rank to top-10. Knobs
      // re-measured against the round-19 fixture re-roll: the old
      // nprobe=4/shortlist-64 read 0.36 recall at sf0.1 (0.58 on the
      // r18 fixture); nprobe=6/128 reads 0.55 sf0.1 / 0.80 sf0.01.
      // Both the cell
      // assignment and the PQ codebooks are float/partition-order
      // sensitive, so the gated output is recall@10 vs the in-plan exact
      // L2 top-10 (floor 0.5, same as q_pq_adc) PLUS the sub-linear
      // candidate ceiling at the nprobe/k-proportional
      // Ivf.poolCeilingFrac bound (0.5625·q·docs at k=16) — a
      // full-corpus ADC regression (≈ n_queries · n_docs) trips it. The exact side is
      // gate-scale-only (it IS the oracle); the served plan is
      // probe → cell-equi-join → hash-agg → shortlist → re-rank,
      // plan-audited to contain no cartesian (PlanAuditSpec).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        val coarse = Ivf.trainSharedAdaptive(s, d)
        val books = Pq.shared(
          s, ArtifactStore.corpusKey(d, "embeddings", "raw|m=8|k=16|iters=6"))(
          Pq.train(s, emb, m = 8, k = 16, iters = 6))
        val enc = Pq.encodeCells(emb, books, coarse)
        val np = Ivf.adaptiveNprobe(6, coarse.size) // = 6 at both gate tiers
        val cand = Pq.adcCandidatesIvf(queries, enc, books, coarse, nprobe = np)
        val approx = Pq.exactRerank(Pq.shortlistTopK(cand, 128), queries, emb, k = 10)
        // exact L2 top-10 (broadcast × corpus — the deliberate exact side)
        val v = col("embedding").cast("array<double>")
        val q = queries.select(col("vec_id").as("q_id"), v.as("qv"))
        val c = emb.select(col("vec_id").as("n_id"), v.as("cv"))
        val d2 =
          Similarity.dot(col("qv"), col("qv")) + Similarity.dot(col("cv"), col("cv")) -
            lit(2.0) * Similarity.dot(col("qv"), col("cv"))
        val exact = TopKPerKey.topK(
          broadcast(q).crossJoin(c)
            .filter(col("q_id") =!= col("n_id"))
            .select(col("q_id"), col("n_id"), d2.as("d2")),
          Seq(col("q_id")), Seq(col("d2").asc, col("n_id").asc), 10, "rank")
        val recall = Gate.recallGate(
          exact, approx.select(col("q_id"), col("vec_id").as("n_id")), floor = 0.5)
        Gate.withCounts(recall, "__n_cand" -> cand, "__n_docs" -> emb)
          .select(
            col("n_queries"),
            col("recall_ge_floor"),
            Gate.ceiling(
              col("__n_cand"), Ivf.poolCeilingFrac(coarse.size, np),
              col("n_queries"), col("__n_docs"))
              .as("candidates_sublinear"))
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor, " +
          "true AS candidates_sublinear FROM embeddings WHERE vec_id < 10")
    ),
    Q(
      "q_pq_adc_ivf_res",
      // RESIDUAL-encoded IVFPQ (FAISS's default `by_residual=true`): the
      // sub-codebooks quantize x − centroid(cell) instead of x, spending
      // the same M×k code budget on the within-cell spread — the
      // standard recall lift over q_pq_adc_ivf's raw-space codes. Each
      // query now builds one distance table PER PROBED CELL over its own
      // residual to that cell (‖q−(c+r̂)‖² = ‖(q−c)−r̂‖²) — nprobe small
      // tables, still query-side-tiny; the codes-only cell equi-join and
      // the shortlist-128 → exact re-rank are unchanged (knobs shared
      // with q_pq_adc_ivf, re-measured on the round-19 fixture:
      // 0.58 sf0.1 / 0.77 sf0.01). Gates: residual
      // recall@10 vs in-plan exact L2 (floor 0.5) + the sub-linear
      // scanned-candidate ceiling. The A/B against raw-space codes runs
      // in EmbedSpec (residual hits ≥ raw hits; near-tied on the flat
      // fixture — the residual win grows with within-cell
      // spread, which the synthetic fixture's near-isotropic cells
      // barely have; the contract asserted is no-regression, not a
      // fixture-specific lift) — doubling the trained pipelines inside
      // THIS gate would double the correctness run's heaviest query for
      // a comparison the spec pins equally deterministically. Served
      // plan audited cartesian-free like its raw sibling (PlanAuditSpec).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        val coarse = Ivf.trainSharedAdaptive(s, d)
        // the residual codebooks are trained AGAINST this coarse layer,
        // so the artifact key carries its cell count — a corpus that
        // grows re-keys both quantizer and residual books together
        val booksRes = Pq.shared(
          s, ArtifactStore.corpusKey(d, "embeddings", s"residual-k${coarse.size}|m=8|k=16|iters=6"))(
          Pq.trainResidual(s, emb, coarse, m = 8, k = 16, iters = 6))
        val encRes = Pq.encodeCellsResidual(emb, booksRes, coarse)
        val npRes = Ivf.adaptiveNprobe(6, coarse.size) // = 6 at both gate tiers
        val candRes = Pq.adcCandidatesIvfResidual(queries, encRes, booksRes, coarse, nprobe = npRes)
        val topRes = Pq.exactRerank(Pq.shortlistTopK(candRes, 128), queries, emb, k = 10)
        val v = col("embedding").cast("array<double>")
        val q = queries.select(col("vec_id").as("q_id"), v.as("qv"))
        val c = emb.select(col("vec_id").as("n_id"), v.as("cv"))
        val d2 =
          Similarity.dot(col("qv"), col("qv")) + Similarity.dot(col("cv"), col("cv")) -
            lit(2.0) * Similarity.dot(col("qv"), col("cv"))
        val exact = TopKPerKey.topK(
          broadcast(q).crossJoin(c)
            .filter(col("q_id") =!= col("n_id"))
            .select(col("q_id"), col("n_id"), d2.as("d2")),
          Seq(col("q_id")), Seq(col("d2").asc, col("n_id").asc), 10, "rank")
        val recall = Gate.recallGate(
          exact, topRes.select(col("q_id"), col("vec_id").as("n_id")), floor = 0.5)
        Gate.withCounts(recall, "__n_cand" -> candRes, "__n_docs" -> emb)
          .select(
            col("n_queries"),
            col("recall_ge_floor"),
            Gate.ceiling(
              col("__n_cand"), Ivf.poolCeilingFrac(coarse.size, npRes),
              col("n_queries"), col("__n_docs"))
              .as("candidates_sublinear"))
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor, " +
          "true AS candidates_sublinear FROM embeddings WHERE vec_id < 10")
    )
  )
}
