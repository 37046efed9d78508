package graft.ext

import org.apache.spark.sql.functions._

import graft.Q
import graft.core.Tables

/** Sketch-family completion: count-min frequency estimation and
  * frequent-items detection, alongside the existing HLL
  * (q_approx_distinct), quantile sketch (q_approx_percentile) and minhash
  * union (q_minhash_union). Sketches are THE 100 TB answer for frequency
  * questions: fixed-size state, associative merges, one pass.
  *
  * The sketch estimates are seed/parameter-specific, so each registered
  * query outputs its INVARIANT instead of the raw estimate: the exact side
  * (a real differential vs the DuckDB oracle) plus the sketch's published
  * error contract reduced to a boolean. A broken sketch flips the boolean
  * and fails the driver gate; SketchSpec additionally pins the numeric
  * bounds.
  *
  * Round 16 adds the engine's OWN Count-Min sketch
  * ([[graft.functions.CmsAggregate]], the TypedImperativeAggregate tier
  * SURVEY §4.3 anticipated) with a stronger differential story than the
  * q_countmin invariant: its hash is the repo's cross-engine
  * char-polynomial fold, so the DuckDB oracle reproduces the sketch
  * RELATIONALLY — per hash row, bucket every occurrence and count;
  * estimate = min over rows of collided mass — and the gate
  * hash-compares exact estimate VALUES, proving the imperative
  * update/merge/serialize path (through Spark's partial aggregation)
  * against a from-scratch relational reconstruction. CmsSpec pins the
  * monoid algebra, the all-terms one-sided contract, and the JVM≡SQL
  * hash equivalence.
  */
object SketchQueries {

  /** Count-min estimates for the corpus's top tokens. The sketch is built
    * distributed (partial sketches merge associatively) and only the
    * fixed-size table reaches the driver; estimates are then looked up
    * for a deterministic probe set (the 5 alphabetically-first tokens).
    */
  def countMinEstimates(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val tok = Tables(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val sketch = tok.stat.countMinSketch("token", eps = 0.001, confidence = 0.99, seed = 42)
    // exact probe counts: 5 alphabetically-first tokens + the stream total
    // (both oracle-computable); only 5 probe rows reach the driver.
    val probes = tok.groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy("token").limit(5)
      .as[(String, Long)].collect().toSeq
    val total = sketch.totalCount
    probes
      .map { case (t, exact) =>
        val est = sketch.estimateCount(t)
        // CMS one-sided contract: exact <= est <= exact + eps * total
        (t, exact, est >= exact && est <= exact + (0.001 * total).ceil.toLong)
      }
      .toDF("token", "exact_cnt", "cms_within_bound")
      .orderBy("token")
  }

  /** DuckDB char-poly row-j bucket of the given term column (j from a
    * `rows_` relation): seed 7 + 13·j, fold (h·(31+10·j) + codepoint)
    * % 1048573 (prime modulus, per-row multiplier — see CmsSketch
    * scaladoc), then % 1024 — the exact arithmetic of
    * [[graft.functions.CmsSketch.bucket]]. A FUNCTION of the column
    * name (not a string-substituted constant — ADVICE round 16: a raw
    * `.replace("term", …)` was correct only while no other identifier
    * in the expression contained "term").
    */
  private def duckBucket(termCol: String): String =
    "list_reduce(list_prepend(CAST(7 + 13 * j AS BIGINT), " +
      s"list_transform(range(1, CAST(len($termCol) AS BIGINT) + 1), " +
      s"i -> CAST(ascii(substring($termCol, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(h, c) -> (h * (31 + 10 * j) + c) % 1048573) % 1024"

  val queries: Seq[Q] = Seq(
    Q(
      "q_cms_heavy_hitters",
      // One corpus-level graft_cms sketch (update on executors, merge
      // through partial aggregation, one 4×1024-counter array out),
      // probed for the true top-20 terms (graft_cms_query against the
      // broadcast sketch). Exact counts ride alongside, so the output
      // carries the one-sided-error contract as DATA — est ≥ true on
      // every row by construction — and the est VALUES hash-match
      // DuckDB's relational reconstruction: the full correctness
      // differential for update, merge, and the hash. Scale shape: the
      // sketch pass is a fixed-state aggregate (no vocabulary
      // materialization); the exact side exists for the differential
      // and is itself a plain top-k over a hash-agg.
      (s, d) => {
        val t = Tables(s, d, "documents")
          .select(explode(filter(split(col("text"), " "), x => x =!= "")).as("term"))
        val sketch = t.agg(expr("graft_cms(term)").as("sk"))
        val top = t.groupBy(col("term"))
          .agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("term"))
          .limit(20)
        top
          .crossJoin(broadcast(sketch))
          .select(
            col("term"),
            col("true_cnt"),
            expr("graft_cms_query(sk, term)").as("est"),
            (expr("graft_cms_query(sk, term)") >= col("true_cnt")).as("overcount_only"))
          .orderBy(col("true_cnt").desc, col("term"))
      },
      Some(
        "WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term FROM documents), " +
          "rows_ AS (SELECT unnest(range(0, 4)) AS j), " +
          s"hb AS (SELECT term, j, ${duckBucket("term")} AS b FROM toks CROSS JOIN rows_), " +
          "counters AS (SELECT j, b, CAST(COUNT(*) AS BIGINT) AS c FROM hb GROUP BY 1, 2), " +
          "tt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM toks " +
          "GROUP BY 1 ORDER BY true_cnt DESC, term LIMIT 20), " +
          "qb AS (SELECT DISTINCT hb.term, hb.j, hb.b FROM hb JOIN tt USING (term)), " +
          "est AS (SELECT term, MIN(c) AS est FROM qb JOIN counters USING (j, b) GROUP BY term) " +
          "SELECT term, true_cnt, est, (est >= true_cnt) AS overcount_only " +
          "FROM tt JOIN est USING (term) ORDER BY true_cnt DESC, term")
    ),
    Q(
      "q_cms_grouped",
      // Per-SOURCE sketches — the operational shape: one fixed-size
      // sketch per stream/shard, merged later (the aggregate is a
      // commutative monoid; CmsSpec pins shard-merge ≡ corpus sketch).
      // Each source's sketch is probed for the corpus's global top-5
      // terms, so columns stay bounded and fully differential. At
      // 100 TB this is per-shard term telemetry without a vocabulary
      // shuffle: the merge tree moves d·w longs per shard.
      (s, d) => {
        val st = Tables(s, d, "documents").select(
          col("source"),
          explode(filter(split(col("text"), " "), x => x =!= "")).as("term"))
        val perSource = st.groupBy(col("source")).agg(expr("graft_cms(term)").as("sk"))
        val top5 = st.groupBy(col("term"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term"))
          .limit(5)
          .select(col("term"))
        perSource
          .crossJoin(broadcast(top5))
          .select(
            col("source"), col("term"),
            expr("graft_cms_query(sk, term)").as("est"))
          .orderBy(col("source"), col("term"))
      },
      Some(
        "WITH toks AS (SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term FROM documents), " +
          "rows_ AS (SELECT unnest(range(0, 4)) AS j), " +
          s"hb AS (SELECT source, term, j, ${duckBucket("term")} AS b FROM toks CROSS JOIN rows_), " +
          "counters AS (SELECT source, j, b, CAST(COUNT(*) AS BIGINT) AS c FROM hb GROUP BY 1, 2, 3), " +
          "tt AS (SELECT term FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks " +
          "GROUP BY 1 ORDER BY cnt DESC, term LIMIT 5)), " +
          "qb AS (SELECT DISTINCT s.source, t.term, r.j, " +
          duckBucket("t.term") + " AS b " +
          "FROM (SELECT DISTINCT source FROM toks) s CROSS JOIN tt t CROSS JOIN rows_ r) " +
          "SELECT qb.source, qb.term, CAST(MIN(coalesce(c, 0)) AS BIGINT) AS est " +
          "FROM qb LEFT JOIN counters ON counters.source = qb.source AND counters.j = qb.j AND counters.b = qb.b " +
          "GROUP BY 1, 2 ORDER BY 1, 2")
    ),
    Q(
      "q_countmin",
      // Gate = exact probe counts (differential) + the one-sided CMS error
      // contract (eps=0.001 → est ∈ [exact, exact + 0.001·total]).
      (s, d) => countMinEstimates(s, d),
      Some(
        "WITH t2 AS (SELECT token FROM (SELECT unnest(string_split(text, ' ')) AS token " +
          "FROM documents) WHERE token <> ''), " +
          "p AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM t2 " +
          "GROUP BY token ORDER BY token LIMIT 5) " +
          "SELECT token, exact_cnt, true AS cms_within_bound FROM p ORDER BY token")
    ),
    Q(
      "q_freq_items",
      // Misra-Gries-style frequent items over the token stream. The
      // one-sided contract: every token with true frequency above the
      // support threshold is guaranteed present (false positives allowed).
      // Gate = the exact count of heavy tokens at 2× the support level
      // (margin against the threshold edge; oracle-computable) + "all of
      // them were surfaced" as a boolean.
      (s, d) => {
        val tok = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        val found = tok.stat.freqItems(Seq("token"), support = 0.01)
          .select(explode(col("token_freqItems")).as("token"))
          .withColumn("found", lit(true))
        val counts = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
        val heavy = Gate.withCounts(counts, "n_tok" -> tok)
          .filter(col("c").cast("double") > col("n_tok").cast("double") * 0.02)
        heavy
          .join(found, Seq("token"), "left")
          .agg(
            count(lit(1)).as("n_heavy"),
            coalesce(bool_and(coalesce(col("found"), lit(false))), lit(true))
              .as("all_heavy_found"))
      },
      Some(
        "WITH t2 AS (SELECT token FROM (SELECT unnest(string_split(text, ' ')) AS token " +
          "FROM documents) WHERE token <> '') " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS n_heavy, true AS all_heavy_found FROM " +
          "(SELECT token FROM t2 GROUP BY token " +
          "HAVING COUNT(*) > 0.02 * (SELECT COUNT(*) FROM t2))")
    ),
    Q(
      "q_hll_union",
      // Mergeable sketch COLUMNS (Spark 4 DataSketches HLL): one HLL
      // sketch per source persists as a binary column, and the corpus
      // distinct-token count is re-derived by UNIONING the stored
      // sketches — no second scan of the data. This is the incremental
      // pattern for 100 TB distinct-count maintenance: per-partition
      // sketches are tiny, associative, and re-aggregable at any
      // granularity. Gate = exact distinct counts per source and for the
      // union (differential) + the lgK=12 error contract (rsd ≈ 1.6%;
      // gated at 5% ≈ 3σ) as a boolean.
      (s, d) => {
        val tok = Tables(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        def estOk = (abs(col("est").cast("double") / col("exact_distinct").cast("double") - 1.0) <= 0.05)
          .as("est_ok")
        val perSource = tok
          .groupBy(col("source"))
          .agg(
            hll_sketch_agg(col("token"), lit(12)).as("sk"),
            countDistinct(col("token")).as("exact_distinct"))
        val rows = perSource.select(
          col("source"),
          col("exact_distinct"),
          hll_sketch_estimate(col("sk")).as("est"))
        val merged = perSource
          .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
          .crossJoin(tok.agg(countDistinct(col("token")).as("exact_distinct")))
          .select(
            lit("__union__").as("source"),
            col("exact_distinct"),
            hll_sketch_estimate(col("sk")).as("est"))
        rows.unionByName(merged)
          .select(col("source"), col("exact_distinct"), estOk)
          .orderBy("source")
      },
      Some(
        "WITH tok AS (SELECT source, token FROM (SELECT source, " +
          "unnest(string_split(text, ' ')) AS token FROM documents) WHERE token <> ''), " +
          "per AS (SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct, " +
          "true AS est_ok FROM tok GROUP BY source), " +
          "u AS (SELECT '__union__' AS source, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct, " +
          "true AS est_ok FROM tok) " +
          "SELECT * FROM per UNION ALL SELECT * FROM u ORDER BY source")
    ),
    Q(
      "q_kmv_distinct",
      // KMV/theta sketch (graft_kmv — functions/Kmv.scala): per-source
      // distinct-BIGRAM estimates from the K=64 smallest md5-prefix
      // hashes. The vocabulary's ~700 distinct bigrams per source put
      // every sketch in ESTIMATE mode (n_retained = 64), so the est
      // column exercises the (K−1)/θ formula, not the exact-mode
      // degenerate — and because the hash is the repo's cross-engine
      // md5 prefix, DuckDB rebuilds the EXACT k-min sets relationally
      // (DISTINCT hash → ROW_NUMBER ≤ K) and every est VALUE
      // hash-matches: a full differential on the imperative
      // update/merge/serialize path through partial aggregation.
      (s, d) => kmvParts(s, d)._3,
      Some(
        kmvOracleCtes +
          "k AS (SELECT source, COUNT(*) AS n_ret, MAX(CASE WHEN rk = 64 THEN h END) AS kth " +
          "FROM r WHERE rk <= 64 GROUP BY source), " +
          "e AS (SELECT source, CAST(COUNT(DISTINCT bg) AS BIGINT) AS n_exact FROM bi GROUP BY source) " +
          "SELECT k.source, e.n_exact, CAST(n_ret AS BIGINT) AS n_retained, " +
          "CASE WHEN n_ret < 64 THEN CAST(n_ret AS DOUBLE) " +
          "ELSE CAST(63 AS DOUBLE) * 4294967296.0 / CAST(kth AS DOUBLE) END AS est " +
          "FROM k JOIN e USING (source) ORDER BY source")
    ),
    Q(
      "q_kmv_overlap",
      // The theta-sketch SET OPERATION — what HLL structurally cannot
      // answer: pairwise cross-source distinct-bigram INTERSECTION
      // estimates by the inclusion rule (θ = min(θ_a, θ_b), est =
      // |common k-min hashes below θ| / θ), next to the exact common
      // counts. 190 source pairs, every est VALUE a cross-engine
      // differential (DuckDB re-derives the k-min sets, the per-pair θ,
      // the strict-below-θ common count, and the same two-op double
      // division). At 100 TB this is shard-overlap / contamination
      // telemetry from 512-byte-per-shard state — no pairwise corpus
      // join anywhere near the data.
      (s, d) => {
        val (pairs, _, common) = kmvPairParts(s, d, "n_exact_common")
        pairs
          .join(common, Seq("source_a", "source_b"), "left")
          .select(
            col("source_a"), col("source_b"),
            coalesce(col("n_exact_common"), lit(0L)).as("n_exact_common"),
            expr("graft_kmv_intersect(ska, skb)").as("est_common"))
          .orderBy("source_a", "source_b")
      },
      Some(
        kmvOracleCtes +
          "t AS (SELECT source, CASE WHEN COUNT(*) < 64 THEN CAST(4294967296 AS BIGINT) " +
          "ELSE MAX(CASE WHEN rk = 64 THEN h END) END AS theta FROM r WHERE rk <= 64 GROUP BY source), " +
          "m AS (SELECT source, h FROM r WHERE rk <= 64), " +
          "p AS (SELECT ta.source AS source_a, tb.source AS source_b, LEAST(ta.theta, tb.theta) AS th " +
          "FROM t ta JOIN t tb ON ta.source < tb.source), " +
          "cm AS (SELECT ma.source AS source_a, mb.source AS source_b, ma.h " +
          "FROM m ma JOIN m mb ON ma.h = mb.h AND ma.source < mb.source), " +
          "c AS (SELECT p.source_a, p.source_b, p.th, " +
          "COUNT(cm.h) FILTER (WHERE cm.h < p.th) AS cnt " +
          "FROM p LEFT JOIN cm ON cm.source_a = p.source_a AND cm.source_b = p.source_b " +
          "GROUP BY 1, 2, 3), " +
          "dist AS (SELECT DISTINCT source, bg FROM bi), " +
          "ex AS (SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS nec " +
          "FROM dist a JOIN dist b ON a.bg = b.bg AND a.source < b.source GROUP BY 1, 2) " +
          "SELECT c.source_a, c.source_b, COALESCE(ex.nec, 0) AS n_exact_common, " +
          "CAST(cnt AS DOUBLE) * 4294967296.0 / CAST(th AS DOUBLE) AS est_common " +
          "FROM c LEFT JOIN ex ON ex.source_a = c.source_a AND ex.source_b = c.source_b " +
          "ORDER BY 1, 2")
    ),
    Q(
      "q_kmv_setops",
      // The REST of the theta set algebra over STORED sketches
      // (DataSketches' union / AnotB shapes): per source pair,
      // graft_kmv_union composes the two 512-byte artifacts into the
      // pair's union sketch (scalar twin of the aggregate's merge —
      // downstream composition without touching data), and
      // graft_kmv_diff estimates |A \ B| by the inclusion rule (every
      // A-hash below θ = min(θ_a,θ_b) is decidably in/not-in B's
      // retained set). Exact counts ride alongside; every estimate
      // VALUE hash-matches DuckDB's relational reconstruction — union:
      // re-rank the combined distinct hash sets to K; diff: A's k-min
      // rows below θ anti-joined against B's. Same 190 pairs as
      // q_kmv_overlap; the exact sides by inclusion-exclusion: |A ∪ B| =
      // n_a + n_b − n_common, |A \ B| = n_a − n_common.
      (s, d) =>
        kmvPairSizes(s, d)
          .select(
            col("source_a"), col("source_b"),
            (col("na") + col("nb") - coalesce(col("ncom"), lit(0L))).as("n_exact_union"),
            (col("na") - coalesce(col("ncom"), lit(0L))).as("n_exact_only_a"),
            expr("graft_kmv_est(graft_kmv_union(ska, skb))").as("est_union"),
            expr("graft_kmv_diff(ska, skb)").as("est_only_a"))
          .orderBy("source_a", "source_b"),
      Some(
        kmvOracleCtes +
          "t AS (SELECT source, CASE WHEN COUNT(*) < 64 THEN CAST(4294967296 AS BIGINT) " +
          "ELSE MAX(CASE WHEN rk = 64 THEN h END) END AS theta FROM r WHERE rk <= 64 GROUP BY source), " +
          "m AS (SELECT source, h FROM r WHERE rk <= 64), " +
          "p AS (SELECT ta.source AS source_a, tb.source AS source_b, LEAST(ta.theta, tb.theta) AS th " +
          "FROM t ta JOIN t tb ON ta.source < tb.source), " +
          // union sketch: re-rank the pair's combined DISTINCT hash space to K
          "uhh AS (SELECT DISTINCT a.source_a, a.source_b, x.h FROM " +
          "(SELECT source_a, source_b FROM p) a JOIN hh x ON x.source IN (a.source_a, a.source_b)), " +
          "uh AS (SELECT source_a, source_b, h, " +
          "ROW_NUMBER() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rk FROM uhh), " +
          "uk AS (SELECT source_a, source_b, COUNT(*) AS n_ret, MAX(CASE WHEN rk = 64 THEN h END) AS kth " +
          "FROM uh WHERE rk <= 64 GROUP BY 1, 2), " +
          // A\B: A's k-min hashes below θ, anti-joined against B's retained set
          "dn AS (SELECT p.source_a, p.source_b, " +
          "COUNT(*) FILTER (WHERE ma.h < p.th AND mb.h IS NULL) AS cnt " +
          "FROM p JOIN m ma ON ma.source = p.source_a " +
          "LEFT JOIN m mb ON mb.source = p.source_b AND mb.h = ma.h " +
          "GROUP BY 1, 2), " +
          "dist AS (SELECT DISTINCT source, bg FROM bi), " +
          "ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd FROM dist GROUP BY source), " +
          "ex AS (SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS ncom " +
          "FROM dist a JOIN dist b ON a.bg = b.bg AND a.source < b.source GROUP BY 1, 2) " +
          "SELECT p.source_a, p.source_b, " +
          "pa.nd + pb.nd - COALESCE(ex.ncom, 0) AS n_exact_union, " +
          "pa.nd - COALESCE(ex.ncom, 0) AS n_exact_only_a, " +
          "CASE WHEN uk.n_ret < 64 THEN CAST(uk.n_ret AS DOUBLE) " +
          "ELSE CAST(63 AS DOUBLE) * 4294967296.0 / CAST(uk.kth AS DOUBLE) END AS est_union, " +
          "CAST(dn.cnt AS DOUBLE) * 4294967296.0 / CAST(p.th AS DOUBLE) AS est_only_a " +
          "FROM p " +
          "JOIN uk ON uk.source_a = p.source_a AND uk.source_b = p.source_b " +
          "JOIN dn ON dn.source_a = p.source_a AND dn.source_b = p.source_b " +
          "JOIN ps pa ON pa.source = p.source_a JOIN ps pb ON pb.source = p.source_b " +
          "LEFT JOIN ex ON ex.source_a = p.source_a AND ex.source_b = p.source_b " +
          "ORDER BY 1, 2")
    ),
    kmvJaccardQ,
    Q(
      "q_kmv_windowed",
      // WINDOWED KMV serving (round-18 verdict #8): the ingest twin
      // keeps ONE per-source sketch forever, but real telemetry asks
      // "distinct overlap in the last N windows" — so the stored state
      // becomes one 512-byte sketch per (source, window) (window =
      // doc_id div 140, the 7-round "week" of the 20-source
      // round-robin), and any trailing-window question is answered by
      // graft_kmv_union over the stored window sketches, never the
      // data. The union of per-window k-min sets re-ranked to K IS the
      // k-min set of the combined stream (every global top-K hash is
      // within its own window's top-K), so windowed state loses
      // NOTHING vs the monolithic sketch — that identity is what the
      // full value differential certifies: DuckDB re-derives the
      // per-window k-min sets, the last-2-window union re-rank, and
      // the same (K−1)/θ arithmetic, and every est VALUE hash-matches.
      // Exact trailing-window distinct counts ride alongside. At 100 TB
      // this is per-(shard, day) sketch state with union-served
      // retention questions — bytes per window, no rescans.
      (s, d) => {
        val biW = kmvBigramsWindowed(Tables(s, d, "documents"))
        val sk = biW.groupBy(col("source"), col("w")).agg(expr("graft_kmv(bg)").as("sk"))
        val wm = sk.groupBy(col("source"))
          .agg(max(col("w")).as("wmax"), count(lit(1)).as("n_windows"))
        val last = sk.join(wm, "source").filter(col("w") === col("wmax"))
          .select(col("source"), col("n_windows"), col("sk").as("sk_last"))
        val prev = sk.join(wm, "source").filter(col("w") === col("wmax") - 1)
          .select(col("source"), col("sk").as("sk_prev"))
        val exact2 = biW.join(wm, "source").filter(col("w") >= col("wmax") - 1)
          .groupBy(col("source")).agg(countDistinct(col("bg")).as("n_exact_last2"))
        last.join(prev, "source").join(exact2, "source")
          .select(
            col("source"), col("n_windows"), col("n_exact_last2"),
            expr("graft_kmv_est(sk_prev)").as("est_prev"),
            expr("graft_kmv_est(sk_last)").as("est_last"),
            expr("graft_kmv_est(graft_kmv_union(sk_prev, sk_last))").as("est_last2"))
          .orderBy("source")
      },
      Some(
        "WITH toks AS (SELECT source, CAST(doc_id // 140 AS BIGINT) AS w, " +
          "list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents), " +
          "bi AS (SELECT source, w, unnest(list_transform(range(1, len(t)), " +
          "i -> t[i] || '_' || t[i+1])) AS bg FROM toks), " +
          "hh AS (SELECT DISTINCT source, w, CAST('0x' || substring(md5(bg), 1, 8) AS BIGINT) AS h FROM bi), " +
          "wm AS (SELECT source, MAX(w) AS wmax, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_windows " +
          "FROM hh GROUP BY source), " +
          "r AS (SELECT source, w, h, ROW_NUMBER() OVER (PARTITION BY source, w ORDER BY h) AS rk FROM hh), " +
          "k AS (SELECT source, w, COUNT(*) AS n_ret, MAX(CASE WHEN rk = 64 THEN h END) AS kth " +
          "FROM r WHERE rk <= 64 GROUP BY 1, 2), " +
          "u0 AS (SELECT DISTINCT hh.source, hh.h FROM hh JOIN wm ON wm.source = hh.source " +
          "AND hh.w >= wm.wmax - 1), " +
          "ur AS (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk FROM u0), " +
          "uk AS (SELECT source, COUNT(*) AS n_ret, MAX(CASE WHEN rk = 64 THEN h END) AS kth " +
          "FROM ur WHERE rk <= 64 GROUP BY 1), " +
          "ex AS (SELECT bi.source, CAST(COUNT(DISTINCT bg) AS BIGINT) AS n_exact_last2 " +
          "FROM bi JOIN wm ON wm.source = bi.source AND bi.w >= wm.wmax - 1 GROUP BY 1) " +
          "SELECT wm.source, wm.n_windows, ex.n_exact_last2, " +
          "CASE WHEN kp.n_ret < 64 THEN CAST(kp.n_ret AS DOUBLE) " +
          "ELSE CAST(63 AS DOUBLE) * 4294967296.0 / CAST(kp.kth AS DOUBLE) END AS est_prev, " +
          "CASE WHEN kl.n_ret < 64 THEN CAST(kl.n_ret AS DOUBLE) " +
          "ELSE CAST(63 AS DOUBLE) * 4294967296.0 / CAST(kl.kth AS DOUBLE) END AS est_last, " +
          "CASE WHEN uk.n_ret < 64 THEN CAST(uk.n_ret AS DOUBLE) " +
          "ELSE CAST(63 AS DOUBLE) * 4294967296.0 / CAST(uk.kth AS DOUBLE) END AS est_last2 " +
          "FROM wm " +
          "JOIN k kp ON kp.source = wm.source AND kp.w = wm.wmax - 1 " +
          "JOIN k kl ON kl.source = wm.source AND kl.w = wm.wmax " +
          "JOIN uk ON uk.source = wm.source " +
          "JOIN ex ON ex.source = wm.source " +
          "ORDER BY wm.source")
    )
  )

  private def kmvJaccardQ: Q = Q(
    "q_kmv_jaccard",
    // Similarity TELEMETRY from stored sketches — the chart a shard
    // monitor actually draws: per source pair, Jaccard =
    // intersect/union and containment-in-A = intersect/est_A, every
    // term derived from the SAME two 512-byte artifacts through the
    // already-differential estimators (the divisions are single double
    // ops over values both engines compute bit-equal, so the ratios
    // hash-match too). Exact counterparts ride alongside via
    // inclusion-exclusion. At 100 TB: pairwise corpus similarity from
    // K longs per shard, no co-scan.
    (s, d) =>
      kmvPairSizes(s, d)
        .select(
          col("source_a"), col("source_b"),
          (coalesce(col("ncom"), lit(0L)).cast("double") /
            (col("na") + col("nb") - coalesce(col("ncom"), lit(0L))).cast("double"))
            .as("exact_jaccard"),
          (coalesce(col("ncom"), lit(0L)).cast("double") / col("na").cast("double"))
            .as("exact_containment_a"),
          (expr("graft_kmv_intersect(ska, skb)") /
            expr("graft_kmv_est(graft_kmv_union(ska, skb))")).as("est_jaccard"),
          (expr("graft_kmv_intersect(ska, skb)") /
            expr("graft_kmv_est(ska)")).as("est_containment_a"))
        .orderBy("source_a", "source_b"),
    Some(
      kmvOracleCtes +
        "t AS (SELECT source, CASE WHEN COUNT(*) < 64 THEN CAST(4294967296 AS BIGINT) " +
        "ELSE MAX(CASE WHEN rk = 64 THEN h END) END AS theta FROM r WHERE rk <= 64 GROUP BY source), " +
        "k AS (SELECT source, COUNT(*) AS n_ret, MAX(CASE WHEN rk = 64 THEN h END) AS kth " +
        "FROM r WHERE rk <= 64 GROUP BY source), " +
        "ea AS (SELECT source, CASE WHEN n_ret < 64 THEN CAST(n_ret AS DOUBLE) " +
        "ELSE CAST(63 AS DOUBLE) * 4294967296.0 / CAST(kth AS DOUBLE) END AS esta FROM k), " +
        "m AS (SELECT source, h FROM r WHERE rk <= 64), " +
        "p AS (SELECT ta.source AS source_a, tb.source AS source_b, LEAST(ta.theta, tb.theta) AS th " +
        "FROM t ta JOIN t tb ON ta.source < tb.source), " +
        "cm AS (SELECT ma.source AS source_a, mb.source AS source_b, ma.h " +
        "FROM m ma JOIN m mb ON ma.h = mb.h AND ma.source < mb.source), " +
        "c AS (SELECT p.source_a, p.source_b, p.th, " +
        "COUNT(cm.h) FILTER (WHERE cm.h < p.th) AS cnt " +
        "FROM p LEFT JOIN cm ON cm.source_a = p.source_a AND cm.source_b = p.source_b " +
        "GROUP BY 1, 2, 3), " +
        "uhh AS (SELECT DISTINCT a.source_a, a.source_b, x.h FROM " +
        "(SELECT source_a, source_b FROM p) a JOIN hh x ON x.source IN (a.source_a, a.source_b)), " +
        "uh AS (SELECT source_a, source_b, h, " +
        "ROW_NUMBER() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rk FROM uhh), " +
        "uk AS (SELECT source_a, source_b, COUNT(*) AS n_ret, MAX(CASE WHEN rk = 64 THEN h END) AS kth " +
        "FROM uh WHERE rk <= 64 GROUP BY 1, 2), " +
        "eu AS (SELECT source_a, source_b, CASE WHEN n_ret < 64 THEN CAST(n_ret AS DOUBLE) " +
        "ELSE CAST(63 AS DOUBLE) * 4294967296.0 / CAST(kth AS DOUBLE) END AS estu FROM uk), " +
        "ei AS (SELECT c.source_a, c.source_b, " +
        "CAST(cnt AS DOUBLE) * 4294967296.0 / CAST(th AS DOUBLE) AS esti FROM c), " +
        "dist AS (SELECT DISTINCT source, bg FROM bi), " +
        "ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd FROM dist GROUP BY source), " +
        "ex AS (SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS ncom " +
        "FROM dist a JOIN dist b ON a.bg = b.bg AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT p.source_a, p.source_b, " +
        "CAST(COALESCE(ex.ncom, 0) AS DOUBLE) / CAST(pa.nd + pb.nd - COALESCE(ex.ncom, 0) AS DOUBLE) AS exact_jaccard, " +
        "CAST(COALESCE(ex.ncom, 0) AS DOUBLE) / CAST(pa.nd AS DOUBLE) AS exact_containment_a, " +
        "ei.esti / eu.estu AS est_jaccard, " +
        "ei.esti / ea.esta AS est_containment_a " +
        "FROM p " +
        "JOIN ei ON ei.source_a = p.source_a AND ei.source_b = p.source_b " +
        "JOIN eu ON eu.source_a = p.source_a AND eu.source_b = p.source_b " +
        "JOIN ea ON ea.source = p.source_a " +
        "JOIN ps pa ON pa.source = p.source_a JOIN ps pb ON pb.source = p.source_b " +
        "LEFT JOIN ex ON ex.source_a = p.source_a AND ex.source_b = p.source_b " +
        "ORDER BY 1, 2")
  )

  /** The windowed bigram relation behind q_kmv_windowed and the
    * stream twin's windowed view — single-sourced (the kmvBigrams
    * discipline) so the registered row, the oracle, and the ingest
    * path cannot drift on window arithmetic or bigram spelling.
    */
  private[graft] def kmvBigramsWindowed(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(
        col("source"), expr("CAST(doc_id DIV 140 AS BIGINT)").as("w"),
        filter(split(col("text"), " "), x => x =!= "").as("t"))
      .select(col("source"), col("w"), explode(expr(
        "zip_with(slice(t, 1, greatest(size(t) - 1, 0)), " +
          "slice(t, 2, greatest(size(t) - 1, 0)), (a, b) -> concat(a, '_', b))")).as("bg"))

  /** The (source, bg) bigram relation — ONE spelling shared by the
    * batch gates and the ingest twin ([[graft.streaming.KmvStream]]),
    * so stream and batch cannot drift. Streamable: pure per-row
    * expressions.
    */
  private[graft] def kmvBigrams(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("source"), filter(split(col("text"), " "), x => x =!= "").as("t"))
      .select(col("source"), explode(expr(
        "zip_with(slice(t, 1, greatest(size(t) - 1, 0)), " +
          "slice(t, 2, greatest(size(t) - 1, 0)), (a, b) -> concat(a, '_', b))")).as("bg"))

  /** Shared KMV inputs: (per-source bigram relation, per-source
    * graft_kmv sketches, the q_kmv_distinct output) — one definition so
    * the distinct and overlap gates aggregate the identical stream.
    * Bigrams via equal-length slice zip (no `sequence(1, 0)` descending
    * trap on short docs).
    */
  private def kmvParts(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val bi = kmvBigrams(Tables(s, d, "documents"))
    val sk = bi.groupBy(col("source")).agg(expr("graft_kmv(bg)").as("sk"))
    val out = sk
      .join(bi.groupBy(col("source")).agg(countDistinct(col("bg")).as("n_exact")), "source")
      .select(
        col("source"), col("n_exact"),
        size(col("sk")).cast("long").as("n_retained"),
        expr("graft_kmv_est(sk)").as("est"))
      .orderBy("source")
    (bi, sk, out)
  }

  /** The source-pair relations of the theta set algebra (q_kmv_overlap,
    * _setops, _jaccard): (every pair a < b with both stored sketches
    * (ska, skb), the distinct (source, bg) relation, and per pair that
    * shares any bigram its exact distinct common count, named
    * `commonCol`).
    */
  private def kmvPairParts(s: org.apache.spark.sql.SparkSession, d: String, commonCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val (bi, sk, _) = kmvParts(s, d)
    val pairs = sk.select(col("source").as("source_a"), col("sk").as("ska"))
      .join(
        sk.select(col("source").as("source_b"), col("sk").as("skb")),
        col("source_a") < col("source_b"))
    val dist = bi.distinct()
    val common = dist.select(col("source").as("source_a"), col("bg"))
      .join(dist.select(col("source").as("source_b"), col("bg")), "bg")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as(commonCol))
    (pairs, dist, common)
  }

  /** [[kmvPairParts]]' pairs with each side's exact distinct count (na,
    * nb) and the common count `ncom` (null when the pair shares none):
    * everything inclusion-exclusion needs.
    */
  private def kmvPairSizes(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val (pairs, dist, common) = kmvPairParts(s, d, "ncom")
    val perSrc = dist.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    pairs
      .join(perSrc.select(col("source").as("source_a"), col("nd").as("na")), "source_a")
      .join(perSrc.select(col("source").as("source_b"), col("nd").as("nb")), "source_b")
      .join(common, Seq("source_a", "source_b"), "left")
  }

  /** The oracle's shared k-min reconstruction CTEs: bigrams (1-based
    * index arithmetic mirroring the slice-zip), DISTINCT md5-prefix
    * hashes, per-source hash ranks.
    */
  private def kmvOracleCtes: String =
    "WITH toks AS (SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents), " +
      "bi AS (SELECT source, unnest(list_transform(range(1, len(t)), i -> t[i] || '_' || t[i+1])) AS bg FROM toks), " +
      "hh AS (SELECT DISTINCT source, CAST('0x' || substring(md5(bg), 1, 8) AS BIGINT) AS h FROM bi), " +
      "r AS (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk FROM hh), "
}
