package graft.ext

import org.apache.spark.sql.functions._

import graft.Q
import graft.core.Tables
import graft.plans.TopKPerKey

/** Registered dedup queries — exact dedup (oracle: DISTINCT/GROUP BY),
  * blocked near-dup candidates with exact n-gram Jaccard (oracle: DuckDB
  * list algebra), and MinHash-LSH / SimHash variants (hash-seed-specific,
  * so rows-only checked here and property-tested in ScalaTest).
  */
object DedupQueries {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** q_line_dedup packs its (doc_id, seg_idx) keep order into one long as
    * doc_id·2^SegIdxBits + seg_idx (so the first-occurrence min stays a
    * codegen hash aggregate — a struct min falls back to SortAggregate).
    * Bounds: doc_id < 2^(63-SegIdxBits) ≈ 8.8e12, segments per doc <
    * 2^SegIdxBits (≈ 5M tokens); DedupSpec asserts the corpus sits far
    * inside the seg bound, mirroring ChunkSpec's chunk-id-stride gate.
    */
  val SegIdxBits = 20

  /** Estimated-Jaccard threshold of the REGISTERED minhash serving rows
    * (q_dedup_minhash / _pairs / _served / _incremental). Round 20: the
    * driver's per-round fixture regeneration produced a far more
    * template-dense documents table — at the old 0.3 the sf0.1 candidate
    * volume read 77 pairs/doc (384,898 pairs for 256 truth pairs),
    * blowing the 10×n_docs anti-degeneracy ceiling the rows gate; the
    * truth recall the rows ALSO gate never moved (1.000 at every
    * threshold measured). Re-measured sweep on the r20 fixture
    * (PLANS.md round 20, both tiers): 0.3 → 77.0/doc sf0.1, 7.9/doc sf0.01;
    * 0.4 → 33.1/0.49... the calibration: **0.5 → 4.46/doc sf0.1,
    * 0.49/doc sf0.01, truth recall 1.000 at both** — the standard
    * near-dup operating point, comfortably inside the ceiling with the
    * recall floor's full margin intact. The library default
    * (Dedup.minhashPairs's 0.4) is unchanged — this constant calibrates
    * the GATED rows to the gate fixture's duplicate density.
    */
  private[ext] val MinJacServe = 0.5

  /** Ground-truth near-dup pairs: exact 3-gram Jaccard >= 0.6 among
    * 30-char-prefix-blocked candidates (the same truth set DedupSpec uses;
    * oracle-computable in DuckDB list algebra). Blocking keeps the exact
    * side O(bucket²), not O(docs²).
    */
  private def truthPairs(s: SparkSession, d: String): DataFrame =
    truthPairsOf(Tables(s, d, "documents"))

  /** Blocked exact-Jaccard pair set over an arbitrary (doc_id, text)
    * frame. SCALE HAZARD (same class as the LSH bucket blowup measured
    * in round 6): identical duplicated texts share identical prefix
    * blocks, so per-bucket pair work grows quadratically in the
    * duplication factor. The pipeline-ordering remediation is the same —
    * exact-dedup (hash groupBy, keep one representative) BEFORE any
    * near-dup truth/candidate stage: 16× identical texts took the pair
    * stage 0.38 → 3.47 s, and dedup-first brought it back to 0.64 s
    * (PLANS.md, "Truth-set gram build").
    */
  private def truthPairsOf(docsIn: DataFrame): DataFrame =
    Dedup
      .blockedJaccardPairs(
        docsIn, "doc_id", "text", k = 3, minJac = 0.6,
        blockCols = Seq("blk" -> substring(col("text"), 1, 30)))
      .select(col("a_id"), col("b_id"))

  /** DuckDB side of [[truthPairs]]'s pair count. */
  private val truthCountSql =
    "WITH docs AS (SELECT doc_id, substring(text, 1, 30) AS blk, " +
      "list_distinct(list_transform(generate_series(1, greatest(1, length(text) - 2)), " +
      "i -> substring(text, i, 3))) AS grams FROM documents) " +
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, true AS recall_ge_floor, " +
      "true AS candidates_subquadratic " +
      "FROM docs a JOIN docs b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.grams, b.grams))) >= 0.6"

  /** Reduce a candidate-pair result to
    * (n_true_pairs, recall_ge_floor, candidates_subquadratic): the exact
    * pair count differentially checked vs DuckDB, the recall of `found`
    * over the truth set gated at `floor`, AND an anti-degeneracy ceiling —
    * a candidate generator that collapses toward all-pairs would pass any
    * recall floor trivially, so the gate also requires
    * |found| <= 10 × |docs| (sub-quadratic candidates per doc, the scale
    * property LSH/banding exists to provide). Diverges from
    * [[Gate.recallFold]] deliberately: counting the found side needs a
    * FULL OUTER join (the ANN gates don't — their approx side is
    * structurally capped by rank <= k).
    */
  private[ext] def pairRecallGate(
      truth: DataFrame, found: DataFrame, docs: DataFrame, floor: Double): DataFrame = {
    val folded = truth
      .withColumn("__t", lit(true))
      .join(
        found.select(col("a_id"), col("b_id")).withColumn("__f", lit(true)),
        Seq("a_id", "b_id"), "full_outer")
      .agg(
        coalesce(sum(col("__t").cast("long")), lit(0L)).as("n_true_pairs"),
        coalesce(sum(col("__f").cast("long")), lit(0L)).as("n_found"),
        coalesce(sum((col("__t") && col("__f")).cast("long")), lit(0L)).as("n_hit"))
    Gate.withCounts(folded, "n_docs" -> docs)
      .select(
        col("n_true_pairs"),
        Gate.recallOk(col("n_hit"), col("n_true_pairs"), floor).as("recall_ge_floor"),
        (col("n_found") <= col("n_docs") * 10L).as("candidates_subquadratic"))
  }

  val queries: Seq[Q] = Seq(
    Q(
      "q_dedup_exact",
      (s, d) =>
        Tables(s, d, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("n_unique"))
          .orderBy("lang"),
      Some(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique " +
          "FROM documents GROUP BY lang ORDER BY lang"),
      headline = true
    ),
    Q(
      "q_dedup_rep",
      // Exact dedup keeping a deterministic representative (min doc_id) per
      // text group — the hash-partitioned groupBy pattern that replaces
      // dropDuplicates' arbitrary survivor at scale.
      (s, d) =>
        Tables(s, d, "documents")
          .groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select(col("doc_id"), col("n_copies"))
          .orderBy("doc_id"),
      Some(
        "SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies " +
          "FROM documents GROUP BY text ORDER BY doc_id")
    ),
    Q(
      "q_dedup_ngram_jaccard",
      // Near-dup detection: block on (lang, 50-char prefix) — bounded
      // buckets, no all-pairs — then exact 3-gram Jaccard on candidates
      // (shared blocked shape: grams materialize per row, spread scan).
      (s, d) =>
        Dedup
          .blockedJaccardPairs(
            Tables(s, d, "documents"), "doc_id", "text", k = 3, minJac = 0.3,
            blockCols = Seq("lang" -> col("lang"), "blk" -> substring(col("text"), 1, 50)))
          .orderBy("a_id", "b_id"),
      Some(
        "WITH docs AS (SELECT doc_id, lang, text, substring(text, 1, 50) AS blk, " +
          "list_distinct(list_transform(generate_series(1, greatest(1, length(text) - 2)), " +
          "i -> substring(text, i, 3))) AS grams FROM documents), " +
          "cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
          "CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / " +
          "len(list_distinct(list_concat(a.grams, b.grams))) AS jac " +
          "FROM docs a JOIN docs b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id) " +
          "SELECT a_id, b_id, jac FROM cand WHERE jac >= 0.3 ORDER BY a_id, b_id")
    ),
    Q(
      "q_dedup_prefix_jaccard",
      // Prefix-filtered set-similarity self-join (AllPairs/PPJoin): the
      // COMPLETE alternative to q_dedup_ngram_jaccard's heuristic
      // (lang, text-prefix) blocking. Each doc only blocks on its
      // (sz − ⌈τ·sz⌉ + 1) rarest grams, which provably cannot miss a
      // Jaccard >= τ pair — so the DuckDB oracle here is the TRUE
      // all-pairs brute force, and this row driver-gates the
      // completeness guarantee itself, not a recall fraction. 5-char
      // grams (crossing word boundaries) because the fixture's word
      // vocabulary is ~31 tokens: token-level Jaccard is near-degenerate
      // (random doc pairs share most of the vocab), while 5-gram overlap
      // requires shared word SEQUENCES and cleanly isolates the ~25
      // planted near-dup pairs (J ≈ 0.99). τ = 0.6 — the near-dup
      // regime the filter is built for: prefix length (and candidate
      // volume) scales with 1−τ, so low τ turns any prefix filter into
      // de-facto all-pairs. This fixture is ADVERSARIAL for content
      // blocking — a ~31-word vocabulary means no gram is truly rare
      // (round-8's unguarded form measured Σdf² = 122M candidates,
      // ~30 s at sf0.1). Round 9 added the df-cap + pooled-fallback
      // hybrid (see Dedup.prefixJaccardParts): same EXACT output,
      // 5.0 s at sf0.1, with q_dedup_prefix_guard gating the candidate
      // ceiling and the pool split as live differentials.
      (s, d) =>
        Dedup
          .prefixJaccardPairs(
            Tables(s, d, "documents"), "doc_id", "text", k = 5, tauNum = 3, tauDen = 5)
          .orderBy("a_id", "b_id"),
      Some(
        "WITH d AS (SELECT doc_id, list_distinct(list_transform(" +
          "generate_series(1, greatest(1, length(text) - 4)), i -> substring(text, i, 5))) AS t " +
          "FROM documents), " +
          "p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
          "len(list_intersect(a.t, b.t)) AS inter, len(a.t) AS sza, len(b.t) AS szb " +
          "FROM d a JOIN d b ON a.doc_id < b.doc_id) " +
          "SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sza + szb - inter) AS jac " +
          "FROM p WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.6 " +
          "ORDER BY a_id, b_id")
    ),
    Q(
      "q_dedup_containment",
      // Asymmetric containment self-join (C(a→b) = |∩|/|grams(a)| >= 0.8):
      // catches "a lives inside b" near-dups — quoted bodies, boilerplate
      // wrappers, doc + appendix — that symmetric Jaccard structurally
      // misses once the size gap grows (J <= sza/szb no matter how
      // perfect the containment). Same COMPLETE prefix-filter family as
      // q_dedup_prefix_jaccard, but the probe side alone blocks on its
      // rarest (sz − ⌈τ·sz⌉ + 1) grams while the index side lists all —
      // the asymmetry of the predicate is the asymmetry of the blocking.
      // The DuckDB oracle is the true all-pairs brute force (each
      // unordered pair intersected once, both directions emitted), so
      // this row gates completeness itself. τ = 4/5 rational: thresholds
      // are exact integer arithmetic both sides; 5-char grams for the
      // same fixture reason as the Jaccard row (31-word vocabulary makes
      // token sets degenerate).
      (s, d) =>
        Dedup
          .containmentPairs(
            Tables(s, d, "documents"), "doc_id", "text", k = 5, tauNum = 4, tauDen = 5)
          .orderBy("a_id", "b_id"),
      Some(
        "WITH d AS (SELECT doc_id, list_distinct(list_transform(" +
          "generate_series(1, greatest(1, length(text) - 4)), i -> substring(text, i, 5))) AS t " +
          "FROM documents), " +
          "p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
          "len(list_intersect(a.t, b.t)) AS inter, len(a.t) AS sza, len(b.t) AS szb " +
          "FROM d a JOIN d b ON a.doc_id < b.doc_id), " +
          "dir AS (SELECT a_id, b_id, inter, sza FROM p " +
          "UNION ALL SELECT b_id, a_id, inter, szb FROM p) " +
          "SELECT a_id, b_id, CAST(inter AS DOUBLE) / sza AS containment " +
          "FROM dir WHERE inter * 5 >= sza * 4 ORDER BY a_id, b_id")
    ),
    Q(
      "q_dedup_prefix_guard",
      // The round-9 candidate-volume guard for the prefix-filter family
      // (round-8 verdict #2), gated as live invariants over the Jaccard
      // hybrid's actual intermediates (Dedup.prefixJaccardParts):
      //  - n_docs, n_pooled — REAL differentials: the oracle re-derives
      //    the pooled set independently (df ranking, prefix slice,
      //    df > cap test) in DuckDB, so a drifted cap, a broken rid
      //    order, or a wrong prefix length reads red;
      //  - n_true_pairs — the final pair count, recomputed by the
      //    oracle's brute-force all-pairs (completeness differential,
      //    same as q_dedup_prefix_jaccard but as a count);
      //  - cand_le_design_ceiling — candidates ≤ n_pooled² + cap ×
      //    rare-postings: the cheap path's join output is bounded by
      //    cap partners per posting BY CONSTRUCTION once frequent grams
      //    never post — a regression that posts them (the pre-round-9
      //    behavior: measured 122M candidates ≈ 24× this ceiling on the
      //    sf0.1 fixture) blows the bound.
      (s, d) => {
        val parts = Dedup.prefixJaccardParts(
          Tables(s, d, "documents"), "doc_id", "text", k = 5, tauNum = 3, tauDen = 5)
        val poolStats = parts.sets.agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("pooled").cast("long")), lit(0L)).as("n_pooled"))
        Gate
          .withCounts(
            poolStats,
            "n_cand" -> parts.cand, "n_post" -> parts.postings, "n_true_pairs" -> parts.pairs)
          .crossJoin(broadcast(parts.scalars.select(col("cap"))))
          .select(
            col("n_docs"),
            col("n_pooled"),
            col("n_true_pairs"),
            (col("n_cand") <= col("n_pooled") * col("n_pooled") + col("cap") * col("n_post"))
              .as("cand_le_design_ceiling"))
      },
      Some(
        "WITH d AS (SELECT doc_id, list_distinct(list_transform(" +
          "generate_series(1, greatest(1, length(text) - 4)), i -> substring(text, i, 5))) AS grams " +
          "FROM documents), " +
          "e AS (SELECT doc_id, unnest(grams) AS gram FROM d), " +
          "df AS (SELECT gram, count(*) AS df FROM e GROUP BY gram), " +
          "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d), " +
          "cap AS (SELECT greatest(64, CAST(ceil(n_docs * 0.02) AS BIGINT)) AS cap FROM nn), " +
          "r AS (SELECT gram, df FROM df), " +
          "tok AS (SELECT e.doc_id, r.df, row_number() OVER (PARTITION BY e.doc_id " +
          "ORDER BY r.df, e.gram) AS pos, count(*) OVER (PARTITION BY e.doc_id) AS sz " +
          "FROM e JOIN r USING (gram)), " +
          "pooled AS (SELECT doc_id, max(CASE WHEN df > (SELECT cap FROM cap) THEN 1 ELSE 0 END) AS pl " +
          "FROM tok WHERE pos <= sz - ((sz * 3 + 4) // 5) + 1 GROUP BY doc_id), " +
          "tp AS (SELECT count(*) AS n_true_pairs FROM (" +
          "SELECT 1 FROM d a JOIN d b ON a.doc_id < b.doc_id " +
          "WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / " +
          "(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.6)) " +
          "SELECT (SELECT n_docs FROM nn) AS n_docs, " +
          "CAST((SELECT coalesce(sum(pl), 0) FROM pooled) AS BIGINT) AS n_pooled, " +
          "CAST((SELECT n_true_pairs FROM tp) AS BIGINT) AS n_true_pairs, " +
          "true AS cand_le_design_ceiling")
    ),
    Q(
      "q_dedup_components",
      // Cluster step after pair detection: connected components over the
      // ngram-jaccard edge set (min-label propagation, O(diameter)
      // rounds), emitting the canonical keep-one-per-cluster flag. Oracle
      // replicates the closure with a recursive CTE.
      (s, d) => {
        val edges = Dedup
          .blockedJaccardPairs(
            Tables(s, d, "documents"), "doc_id", "text", k = 3, minJac = 0.3,
            blockCols = Seq("lang" -> col("lang"), "blk" -> substring(col("text"), 1, 50)))
          .select(col("a_id").as("a"), col("b_id").as("b"))
        val nodes = Tables(s, d, "documents").select(col("doc_id").as("id"))
        Dedup.connectedComponents(nodes, edges)
          .select(
            col("id").as("doc_id"),
            col("comp").as("component"),
            (col("comp") === col("id")).as("keep"))
          .orderBy("doc_id")
      },
      Some(
        "WITH RECURSIVE " +
          "docs AS (SELECT doc_id, lang, text, substring(text, 1, 50) AS blk, " +
          "list_distinct(list_transform(generate_series(1, greatest(1, length(text) - 2)), " +
          "i -> substring(text, i, 3))) AS grams FROM documents), " +
          "e AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM docs a JOIN docs b " +
          "ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id " +
          "WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / " +
          "len(list_distinct(list_concat(a.grams, b.grams))) >= 0.3), " +
          "sym AS (SELECT a_id AS src, b_id AS dst FROM e UNION ALL SELECT b_id, a_id FROM e), " +
          "walk(id, comp) AS (SELECT doc_id, doc_id FROM documents " +
          "UNION SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id) " +
          "SELECT id AS doc_id, CAST(MIN(comp) AS BIGINT) AS component, (MIN(comp) = id) AS keep " +
          "FROM walk GROUP BY id ORDER BY doc_id")
    ),
    Q(
      "q_split_leakage_safe",
      // Duplication-aware train/eval splits — the step between dedup and
      // fold assignment a serious training pipeline needs: a per-DOC
      // hash split (q_fold_split_hash's recipe) puts near-duplicate
      // documents on BOTH sides of the train/test boundary, which is
      // contamination that survives exact dedup (the C4/Dodge-et-al.
      // lesson). The leakage-safe assignment hashes the near-dup
      // COMPONENT id instead, so every cluster lands wholesale in one
      // fold. Output: per-fold (n_docs, n_components) plus the two
      // leakage counters computed the same way on both assignments —
      // leaked_components_naive is how many multi-doc clusters the
      // per-doc split straddles (the damage being prevented, re-derived
      // by the oracle, not asserted), leaked_components_safe the same
      // count under the component split (0 by construction, but
      // COMPUTED). Components and fold hashes are both proven
      // cross-engine recipes (q_dedup_components' recursive-CTE closure;
      // q_fold_split_hash's md5-prefix arithmetic), so the whole board
      // hash-matches. Scale shape: components from the banded-pair edge
      // set (never all-pairs), assignment a pure per-row expression,
      // leakage counters two component-keyed hash-aggs.
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val edges = Dedup
          .blockedJaccardPairs(
            docs, "doc_id", "text", k = 3, minJac = 0.3,
            blockCols = Seq("lang" -> col("lang"), "blk" -> substring(col("text"), 1, 50)))
          .select(col("a_id").as("a"), col("b_id").as("b"))
        val nodes = docs.select(col("doc_id").as("id"))
        def foldOf(c: org.apache.spark.sql.Column) =
          conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long") % 5
        val assigned = Dedup.connectedComponents(nodes, edges)
          .select(
            col("id").as("doc_id"), col("comp"),
            foldOf(col("comp")).as("fold"), foldOf(col("id")).as("naive_fold"))
          .localCheckpoint(true)
        def leaked(byCol: String) =
          assigned.groupBy(col("comp"))
            .agg(countDistinct(col(byCol)).as("nf"))
            .filter(col("nf") > 1)
        val perFold = assigned
          .groupBy(col("fold"))
          .agg(count(lit(1)).as("n_docs"), countDistinct(col("comp")).as("n_components"))
        Gate
          .withCounts(
            perFold,
            "leaked_components_naive" -> leaked("naive_fold"),
            "leaked_components_safe" -> leaked("fold"))
          .orderBy("fold")
      },
      Some(
        "WITH RECURSIVE " +
          "docs AS (SELECT doc_id, lang, text, substring(text, 1, 50) AS blk, " +
          "list_distinct(list_transform(generate_series(1, greatest(1, length(text) - 2)), " +
          "i -> substring(text, i, 3))) AS grams FROM documents), " +
          "e AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM docs a JOIN docs b " +
          "ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id " +
          "WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / " +
          "len(list_distinct(list_concat(a.grams, b.grams))) >= 0.3), " +
          "sym AS (SELECT a_id AS src, b_id AS dst FROM e UNION ALL SELECT b_id, a_id FROM e), " +
          "walk(id, comp) AS (SELECT doc_id, doc_id FROM documents " +
          "UNION SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id), " +
          "cc AS (SELECT id AS doc_id, MIN(comp) AS comp FROM walk GROUP BY id), " +
          "a AS (SELECT doc_id, comp, " +
          "CAST(concat('0x', substring(md5(CAST(comp AS VARCHAR)), 1, 4)) AS BIGINT) % 5 AS fold, " +
          "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 5 AS naive_fold " +
          "FROM cc), " +
          "ln_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS leaked_components_naive FROM " +
          "(SELECT comp FROM a GROUP BY comp HAVING COUNT(DISTINCT naive_fold) > 1)), " +
          "ls AS (SELECT CAST(COUNT(*) AS BIGINT) AS leaked_components_safe FROM " +
          "(SELECT comp FROM a GROUP BY comp HAVING COUNT(DISTINCT fold) > 1)) " +
          "SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_components, " +
          "leaked_components_naive, leaked_components_safe " +
          "FROM a CROSS JOIN ln_ CROSS JOIN ls " +
          "GROUP BY fold, leaked_components_naive, leaked_components_safe ORDER BY fold")
    ),
    Q(
      "q_dedup_minhash",
      // MinHash-LSH near-dup pairs: 32 hashes, 8 bands × 4 — candidates
      // only from band collisions (no cross join). The pair set is
      // hash-seed-specific, so the gated output is the recall invariant:
      // LSH pairs (est_jaccard >= 0.3) must recover >= 50% of the exact
      // blocked Jaccard-0.6 truth set (DedupSpec's floor), whose size the
      // oracle recomputes exactly in DuckDB list algebra. Correctness-only
      // since round 8: the benched headliner is the bare serving path
      // (q_dedup_minhash_pairs below) so cross-round bench totals track
      // the engine, not the exact truth side this gate must also compute.
      (s, d) =>
        pairRecallGate(
          truthPairs(s, d),
          Dedup.minhashPairs(Tables(s, d, "documents"), "doc_id", "text", minJaccard = MinJacServe),
          Tables(s, d, "documents"),
          floor = 0.5),
      Some(truthCountSql)
    ),
    Q(
      "q_dedup_minhash_pairs",
      // The bare MinHash-LSH serving path (what a 100 TB dedup run executes:
      // signatures → band explode → bucket self-join → est-Jaccard filter),
      // WITHOUT the exact truth side. The pair set is seed-specific, so the
      // oracle-checkable output is (n_docs differential, sub-quadratic
      // candidate contract) — recall itself is gated by q_dedup_minhash.
      // This is the bench headliner for the minhash family (round 8+).
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val found = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = MinJacServe)
        Gate.withCounts(found.agg(count(lit(1)).as("n_found")), "n_docs" -> docs)
          .select(
            col("n_docs"),
            (col("n_found") <= col("n_docs") * 10L).as("candidates_subquadratic"))
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, true AS candidates_subquadratic " +
          "FROM documents"),
      headline = true
    ),
    Q(
      "q_dedup_minhash_served",
      // The stored-artifact twin of q_dedup_minhash_pairs (the lifecycle
      // this round gave BM25 postings, sparse signatures, and PQ codes):
      // the banded signature relation comes from the fingerprint-keyed
      // MinhashIndex registry — signatures are content functions,
      // computed once per corpus, ever — and the sweep reads ONLY the
      // artifact (PlanAuditSpec: zero parquet scans in the serving
      // plan). Registers the SAME oracle string as q_dedup_minhash_pairs
      // with n_docs taken from the artifact's stored scalar, so the
      // correctness hash doubles as a build-vs-serve differential;
      // DedupSpec additionally asserts the served pair SET equals the
      // inline build's exactly (same deterministic hash family).
      (s, d) => {
        val idx = Dedup.minhashIndexShared(s, d)
        Dedup.minhashPairsServed(idx, minJaccard = MinJacServe)
          .agg(count(lit(1)).as("n_found"))
          .select(
            lit(idx.nDocs).as("n_docs"),
            (col("n_found") <= lit(idx.nDocs) * 10L).as("candidates_subquadratic"))
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, true AS candidates_subquadratic " +
          "FROM documents")
    ),
    Q(
      "q_dedup_incremental",
      // Incremental LSH maintenance — how a 100 TB corpus actually runs
      // near-dup detection: the corpus arrives in batches, and re-banding
      // ALL of history per batch is quadratic in time; the incremental
      // plan bands ONLY the delta (doc_id % 5 == 0 stands in for today's
      // batch) and probes it against the full band index, whose existing
      // side is a STORED table in production (signatures are content
      // functions — computed once per doc, ever). Two driver-gated
      // invariants: (1) LOSSLESSNESS — the delta-probe pair set must
      // EXACTLY equal the full recompute's delta-involving pairs (same
      // deterministic hash family, so equality is exact set equality, a
      // flipped boolean on any probe/normalization bug); (2) the recall
      // anchor — those pairs must recover >= 50% of the exact blocked
      // Jaccard-0.6 truth pairs involving the delta, whose count the
      // DuckDB oracle recomputes independently. Scale shape: delta×all
      // band join is |delta|-proportional work; history is touched only
      // through the (stored) band index.
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        // the incremental sweep reads ONLY the stored band index (round
        // 15: the "existing side is a stored table" contract made
        // literal) — the from-scratch fullDelta recompute below stays,
        // so incr_equals_full now gates the registry boundary too
        val incr = Dedup.incrementalMinhashPairsServed(
          Dedup.minhashIndexShared(s, d), col("id") % 5 === 0, minJaccard = MinJacServe)
        val fullDelta = Dedup
          .minhashPairs(docs, "doc_id", "text", minJaccard = MinJacServe)
          .filter(col("a_id") % 5 === 0 || col("b_id") % 5 === 0)
          .select(col("a_id"), col("b_id"))
        val truthDelta = truthPairsOf(docs)
          .filter(col("a_id") % 5 === 0 || col("b_id") % 5 === 0)
        val counts = docs.agg(
          sum((col("doc_id") % 5 === 0).cast("long")).as("n_delta"),
          sum((col("doc_id") % 5 =!= 0).cast("long")).as("n_existing"))
        val gate = pairRecallGate(truthDelta, incr, docs, floor = 0.5)
        Gate
          .withCounts(
            counts.crossJoin(broadcast(gate)),
            "n_incr" -> incr,
            "n_full" -> fullDelta,
            "n_common" -> incr.join(fullDelta, Seq("a_id", "b_id")))
          .select(
            col("n_delta"), col("n_existing"), col("n_true_pairs"),
            col("recall_ge_floor"), col("candidates_subquadratic"),
            (col("n_incr") === col("n_full") && col("n_common") === col("n_incr"))
              .as("incr_equals_full"))
      },
      Some(
        "WITH docs AS (SELECT doc_id, substring(text, 1, 30) AS blk, " +
          "list_distinct(list_transform(generate_series(1, greatest(1, length(text) - 2)), " +
          "i -> substring(text, i, 3))) AS grams FROM documents), " +
          "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs " +
          "FROM docs a JOIN docs b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
          "WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / " +
          "len(list_distinct(list_concat(a.grams, b.grams))) >= 0.6 " +
          "AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)) " +
          "SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 5 = 0) AS BIGINT) AS n_delta, " +
          "CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 5 <> 0) AS BIGINT) AS n_existing, " +
          "t.n_true_pairs, true AS recall_ge_floor, true AS candidates_subquadratic, " +
          "true AS incr_equals_full FROM t")
    ),
    Q(
      "q_minhash_union",
      // Sketch merge: per-language minhash signature of the UNION of all
      // documents' shingle sets (elementwise-min UDAF over per-doc
      // signatures) + cross-language similarity estimate vs 'en'. Gated
      // via two invariants per language: (1) the UDAF's union signature
      // must EXACTLY equal the declarative elementwise-min (longs — the
      // union algebra is order-free, so equality is exact, not
      // approximate); (2) the 32-hash Jaccard estimate vs 'en' must sit
      // within ±0.35 (4σ at n=32) of the EXACT union-shingle-set Jaccard,
      // which both engines compute independently — exact_jaccard_vs_en is
      // a real float differential vs the DuckDB oracle.
      (s, d) => {
        import org.apache.spark.sql.functions.udaf
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("lang"), col("text"))
        val sigs = Dedup
          .minhashSignatures(docs, "doc_id", "text", shingleK = 5, nHashes = 32)
          .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        val unioned = sigs
          .groupBy(col("lang"))
          .agg(udaf(MinHashUnionAgg).apply(col("sig")).as("union_sig"))
        // invariant 1: UDAF union == elementwise min, exactly
        val exprMin = sigs
          .select(col("lang"), posexplode(col("sig")).as(Seq("pos", "h")))
          .groupBy(col("lang"), col("pos"))
          .agg(min(col("h")).as("he"))
        val udafEq = unioned
          .select(col("lang"), posexplode(col("union_sig")).as(Seq("pos", "hu")))
          .join(exprMin, Seq("lang", "pos"))
          .groupBy(col("lang"))
          .agg(bool_and(col("hu") === col("he")).as("udaf_eq_expr"))
        // exact union 5-shingle sets per language, Jaccard vs 'en'
        val sh = docs
          .select(col("lang"), explode(Dedup.shingles(5)).as("s"))
          .distinct()
        val enSet = sh.filter(col("lang") === "en").select(col("s"))
        val sizes = sh.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val inter = sh.join(enSet, Seq("s"), "left_semi")
          .groupBy(col("lang")).agg(count(lit(1)).as("ix"))
        val exact = Gate.withCounts(sizes.join(inter, Seq("lang"), "left"), "en_n" -> enSet)
          .select(
            col("lang"),
            (coalesce(col("ix"), lit(0L)).cast("double") /
              (col("n") + col("en_n") - coalesce(col("ix"), lit(0L))).cast("double"))
              .as("exact_jaccard_vs_en"))
        val en = unioned.filter(col("lang") === "en").select(col("union_sig").as("en_sig"))
        unioned
          .crossJoin(broadcast(en))
          .select(col("lang"), Dedup.estJaccard(col("union_sig"), col("en_sig"), 32).as("est"))
          .join(exact, Seq("lang"))
          .join(udafEq, Seq("lang"))
          .select(
            col("lang"),
            col("exact_jaccard_vs_en"),
            col("udaf_eq_expr"),
            (abs(col("est") - col("exact_jaccard_vs_en")) <= 0.35).as("est_close"))
          .orderBy("lang")
      },
      Some(
        "WITH sh AS (SELECT DISTINCT lang, s FROM (SELECT lang, substring(text, i, 5) AS s " +
          "FROM documents, unnest(generate_series(1, greatest(1, length(text) - 4))) AS t(i))), " +
          "sz AS (SELECT lang, COUNT(*) AS n FROM sh GROUP BY lang), " +
          "en AS (SELECT s FROM sh WHERE lang = 'en'), " +
          "ix AS (SELECT sh.lang, COUNT(*) AS i FROM sh JOIN en USING (s) GROUP BY sh.lang) " +
          "SELECT sz.lang, CAST(COALESCE(ix.i, 0) AS DOUBLE) / " +
          "(sz.n + (SELECT COUNT(*) FROM en) - COALESCE(ix.i, 0)) AS exact_jaccard_vs_en, " +
          "true AS udaf_eq_expr, true AS est_close " +
          "FROM sz LEFT JOIN ix ON sz.lang = ix.lang ORDER BY sz.lang")
    ),
    Q(
      "q_dedup_simhash",
      // SimHash fingerprints via the custom codegen expression
      // (graft.functions.SimHash64): near-dup pairs = same 16-bit chunk
      // (banding) AND Hamming distance <= 8 of the 64-bit fingerprint
      // (12 until round 20 — the r20 fixture regeneration packed the
      // template-dense corpus's fingerprints closer: at <= 12 the sf0.1
      // candidate volume read 27.9/doc, past the 10x ceiling, while
      // every truth pair the banding catches sits at hamming <= 8 —
      // measured recall IDENTICAL at 12 and 8 on both tiers, 0.938
      // sf0.1 / 0.840 sf0.01, volume 6.79/0.78 per doc at 8).
      // DuckDB can't express simhash64, so the gated output is the recall
      // invariant over the same oracle-computable truth set as
      // q_dedup_minhash.
      (s, d) => {
        val fp = Tables(s, d, "documents")
          .select(col("doc_id"), expr("simhash64(text)").as("fp"))
        val chunks = fp.select(
          col("doc_id"),
          col("fp"),
          posexplode(
            array((0 until 4).map(i => expr(s"(fp >> ${i * 16}) & 65535")): _*))
            .as(Seq("chunk_idx", "chunk")))
        val a = chunks.select(col("doc_id").as("a_id"), col("fp").as("a_fp"), col("chunk_idx"), col("chunk"))
        val b = chunks.select(col("doc_id").as("b_id"), col("fp").as("b_fp"), col("chunk_idx"), col("chunk"))
        val found = a.join(b, Seq("chunk_idx", "chunk"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), expr("bit_count(a_fp ^ b_fp)").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 8)
        pairRecallGate(truthPairs(s, d), found, Tables(s, d, "documents"), floor = 0.5)
      },
      Some(truthCountSql)
    ),
    Q(
      "q_line_dedup",
      // C4-style sub-document (line-level) exact dedup: the corpus is cut
      // into non-overlapping 5-token segments (the "line" analogue for
      // the synthetic text), and only the FIRST occurrence of each
      // distinct segment survives — first = lowest (doc_id, seg_idx), the
      // same deterministic keep rule C4 applies per three-sentence span.
      // Plan: one explode, then the first-occurrence rule as a min() hash
      // aggregate on the segment — NOT a row_number window: the aggregate
      // gets map-side partial combine and needs no per-partition sort.
      // The (doc_id, seg_idx) keep order is packed into ONE long
      // (doc_id·2^20 + seg_idx — the chunk-id stride convention from
      // CorpusQueries, so docs are bounded at 2^43 and segments per doc
      // at 2^20 ≈ 5M tokens; a min(struct) would silently fall back to
      // SortAggregate, re-buying the sort). Each segment group's min IS
      // its kept row, so the per-doc kept count is a rollup of the
      // winners; n_segs is closed-form per document (no second explode).
      (s, d) => {
        val segs = expr(
          "transform(sequence(0, greatest(CAST(ceil(size(split(text, ' ')) / 5.0) AS INT), 1) - 1), " +
            "i -> array_join(slice(split(text, ' '), i * 5 + 1, 5), ' '))")
        val exploded = Tables(s, d, "documents")
          .select(col("doc_id"), posexplode(segs).as(Seq("seg_idx", "seg")))
        val perDoc = Tables(s, d, "documents").select(
          col("doc_id"),
          expr("CAST(greatest(CAST(ceil(size(split(text, ' ')) / 5.0) AS INT), 1) AS BIGINT)")
            .as("n_segs"))
        val kept = exploded
          .groupBy(col("seg"))
          .agg(min(shiftleft(col("doc_id"), SegIdxBits) + col("seg_idx")).as("first"))
          .groupBy(shiftright(col("first"), SegIdxBits).as("doc_id"))
          .agg(count(lit(1)).as("n_kept"))
        perDoc
          .join(kept, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            col("n_segs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (coalesce(col("n_kept"), lit(0L)).cast("double") / col("n_segs").cast("double"))
              .as("kept_frac"))
          .orderBy("doc_id")
      },
      Some(
        "WITH segs AS (SELECT doc_id, i AS seg_idx, " +
          "array_to_string(string_split(text, ' ')[(5*i+1):(5*i+5)], ' ') AS seg " +
          "FROM documents, unnest(generate_series(0, " +
          "greatest(CAST(ceil(len(string_split(text, ' ')) / 5.0) AS INT), 1) - 1)) AS t(i)), " +
          "k AS (SELECT doc_id, CASE WHEN ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 " +
          "THEN 1 ELSE 0 END AS kept FROM segs) " +
          "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs, CAST(SUM(kept) AS BIGINT) AS n_kept, " +
          "CAST(SUM(kept) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS kept_frac " +
          "FROM k GROUP BY doc_id ORDER BY doc_id"),
      headline = true
    ),
    Q(
      "q_fuzzy_join",
      // Fuzzy (edit-distance) join — the entity-resolution primitive:
      // names within Levenshtein 1..3 of each other. Scale shape: (1)
      // dedup to DISTINCT names first (the vocabulary trick — the join
      // runs over unique strings, not rows); (2) block on a cheap derived
      // key (the last token) so candidates are per-bucket, never
      // all-pairs; (3) exact Levenshtein only on candidates. Both engines
      // implement the same classic DP edit distance, so the pair set is
      // a real differential.
      (s, d) => {
        val n = Tables(s, d, "part")
          .select(col("p_name").as("name")).distinct()
          .withColumn("blk", element_at(split(col("name"), " "), -1))
        val a = n.select(col("name").as("a_name"), col("blk"))
        val b = n.select(col("name").as("b_name"), col("blk"))
        a.join(b, Seq("blk"))
          .filter(col("a_name") < col("b_name"))
          .select(
            col("a_name"), col("b_name"),
            levenshtein(col("a_name"), col("b_name")).as("dist"))
          .filter(col("dist").between(1, 3))
          .orderBy("a_name", "b_name")
      },
      Some(
        "WITH n AS (SELECT DISTINCT p_name AS name FROM part), " +
          "b AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM n) " +
          "SELECT a.name AS a_name, b2.name AS b_name, " +
          "CAST(levenshtein(a.name, b2.name) AS INT) AS dist " +
          "FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name " +
          "WHERE levenshtein(a.name, b2.name) BETWEEN 1 AND 3 " +
          "ORDER BY a_name, b_name")
    ),
    Q(
      "q_best_match",
      // Record-linkage ASSIGNMENT step: q_fuzzy_join emits the candidate
      // pair pool; entity resolution then needs, per left record, THE
      // canonical match — argmin over (edit distance, name) among its
      // candidates. Directional (every name with >=1 candidate gets
      // exactly one row), expressed as the row_number()<=k pattern with
      // k=1 so TopKRewrite lowers it to the bounded-heap TopKPerKey
      // operator: one row per name survives the partial side, k·names
      // rows cross the exchange — never the full candidate pool. Same
      // blocking + DP Levenshtein as the pair query, so the differential
      // is over identical candidate sets.
      (s, d) => {
        val n = Tables(s, d, "part")
          .select(col("p_name").as("name")).distinct()
          .withColumn("blk", element_at(split(col("name"), " "), -1))
        val a = n.select(col("name").as("a_name"), col("blk"))
        val b = n.select(col("name").as("b_name"), col("blk"))
        val near = a.join(b, Seq("blk"))
          .filter(col("a_name") =!= col("b_name"))
          .select(
            col("a_name"), col("b_name"),
            levenshtein(col("a_name"), col("b_name")).as("dist"))
          .filter(col("dist").between(1, 3))
        TopKPerKey.topK(near, Seq(col("a_name")), Seq(col("dist"), col("b_name")), 1, "rn")
          .select(col("a_name"), col("b_name"), col("dist"))
          .orderBy("a_name")
      },
      Some(
        "WITH n AS (SELECT DISTINCT p_name AS name FROM part), " +
          "b AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM n), " +
          "cand AS (SELECT a.name AS a_name, b2.name AS b_name, " +
          "CAST(levenshtein(a.name, b2.name) AS INT) AS dist " +
          "FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name <> b2.name " +
          "WHERE levenshtein(a.name, b2.name) BETWEEN 1 AND 3), " +
          "r AS (SELECT a_name, b_name, dist, " +
          "ROW_NUMBER() OVER (PARTITION BY a_name ORDER BY dist, b_name) AS rn FROM cand) " +
          "SELECT a_name, b_name, dist FROM r WHERE rn = 1 ORDER BY a_name")
    ),
    Q(
      "q_curation_v3",
      // Enforced-order near-dup curation (see graft.ext.Curation): the
      // corpus is documents plus a deterministic duplicated subset (every
      // doc_id % 5 == 0 re-keyed at +1_000_000 — the fixture has no exact
      // duplicates, and an invariant over an input that cannot violate it
      // proves nothing; both engines construct the same corpus). Exact
      // dedup runs FIRST, MinHash-LSH + components + keep-one consume the
      // survivor set, and the gate's contract boolean re-derives the
      // ordering from the LSH stage's actual input — reorder or drop the
      // dedup stage and the row reads red.
      (s, d) => {
        val base = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        val corpus = base.unionByName(
          base.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
        Curation.v3Gate(corpus, Curation.exactSurvivors(corpus))
      },
      Some(
        "WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0), " +
          "f AS (SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp FROM corpus) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_exact_survivors, " +
          "true AS lsh_input_is_survivor_set, true AS near_dup_keep_rule_consistent FROM f")
    ),
    Q(
      "q_exact_substr",
      // ExactSubstr-style cross-document substring overlap (the Lee et
      // al. 2022 dedup signal, shingled): every OVERLAPPING 10-token
      // window is fingerprinted (md5 — the rolling-hash analogue with a
      // portable hash), a window is "repeated" when its fingerprint
      // occurs in more than one document, and each doc reports its
      // repeated-span fraction. Plan: one explode, one fingerprint-keyed
      // hash-agg (distinct docs per fp), one fp-keyed join back, one
      // per-doc rollup — fingerprint cardinality ~ corpus tokens, so
      // every shuffle key is near-uniform. The suffix-array formulation
      // is single-machine; this shingle form is the one that shards.
      (s, d) => {
        val toks = split(col("text"), " ")
        val wins = expr(
          "transform(sequence(1, size(split(text, ' ')) - 9), " +
            "i -> md5(CAST(array_join(slice(split(text, ' '), i, 10), ' ') AS BINARY)))")
        val w = Tables(s, d, "documents")
          .filter(size(toks) >= 10)
          .select(col("doc_id"), explode(wins).as("fp"))
        val fpDocs = w.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("nd"))
        w.join(fpDocs, Seq("fp"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_windows"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_repeated"))
          .withColumn(
            "repeated_frac",
            col("n_repeated").cast("double") / col("n_windows").cast("double"))
          .orderBy("doc_id")
      },
      Some(
        "WITH w AS (SELECT doc_id, md5(array_to_string(string_split(text, ' ')[i:i+9], ' ')) AS fp " +
          "FROM documents, unnest(generate_series(1, len(string_split(text, ' ')) - 9)) AS t(i) " +
          "WHERE len(string_split(text, ' ')) >= 10), " +
          "fd AS (SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM w GROUP BY fp) " +
          "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows, " +
          "CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated, " +
          "CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS repeated_frac " +
          "FROM w JOIN fd USING (fp) GROUP BY doc_id ORDER BY doc_id")
    ),
    Q(
      "q_exact_substr_spans",
      // ExactSubstr upgraded to SPAN EXTRACTION (round-8 verdict #7): the
      // q_exact_substr row reports repeated-span FRACTION per doc; this
      // one emits the MAXIMAL cross-document repeated spans themselves —
      // what the Lee et al. suffix-array pass produces, re-expressed as
      // the sharded shingle-chain form. Corpus: documents plus a planted
      // 30-token mid-slice clone for every seventh doc (both engines
      // construct it with the same string arithmetic — the planted truth
      // the oracle checks exactly). Pipeline: overlapping 10-token
      // windows with positions → window-equality self-join (a_id < b_id)
      // → DIAGONAL islands: consecutive matches share ia − jb, and
      // gaps-and-islands on ia (ia − row_number() per diagonal) merges
      // each run into one maximal span of count + 9 tokens — a sub-span
      // can never appear alongside its container, maximality is by
      // construction. Spans re-joined to the token arrays for exact char
      // length; emitted at span_chars >= 50. Every shuffle is keyed on
      // window text or (pair, diagonal) — corpus-linear, no all-pairs.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        val planted = base.filter(col("doc_id") % 7 === 0)
          .select(
            (col("doc_id") + 3000000L).as("doc_id"),
            array_join(slice(split(col("text"), " "), 4, 30), " ").as("text"))
        val corpus = base.unionByName(planted)
        val tok = corpus.select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 10) // guard: sequence(0, n-10) descends for n < 10
        val wins = tok.select(
          col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, size(t) - 10), i -> md5(CAST(array_join(slice(t, i + 1, 10), ' ') AS BINARY)))"))
            .as(Seq("posn", "win")))
        val m = wins.select(col("doc_id").as("a_id"), col("posn").as("ia"), col("win"))
          .join(wins.select(col("doc_id").as("b_id"), col("posn").as("jb"), col("win")), "win")
          .filter(col("a_id") < col("b_id"))
        val byDiag = Window
          .partitionBy(col("a_id"), col("b_id"), col("diag"))
          .orderBy(col("ia"), col("jb"))
        val sp = m
          .withColumn("diag", col("ia") - col("jb"))
          .withColumn("grp", col("ia") - row_number().over(byDiag))
          .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
          .agg(
            min(col("ia")).as("start_a"),
            min(col("jb")).as("start_b"),
            (count(lit(1)) + 9).as("span_tokens"))
        sp.join(tok.select(col("doc_id").as("a_id"), col("t")), "a_id")
          .withColumn(
            "span_chars",
            length(array_join(
              expr("slice(t, start_a + 1, CAST(span_tokens AS INT))"), " ")).cast("long"))
          .filter(col("span_chars") >= 50)
          .select(
            col("a_id"), col("b_id"),
            col("start_a").cast("long").as("start_a"),
            col("start_b").cast("long").as("start_b"),
            col("span_tokens").cast("long").as("span_tokens"),
            col("span_chars"))
          .orderBy("a_id", "b_id", "start_a", "start_b")
      },
      Some(
        "WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 3000000, array_to_string(string_split(text, ' ')[4:33], ' ') " +
          "FROM documents WHERE doc_id % 7 = 0), " +
          "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus " +
          "WHERE len(string_split(text, ' ')) >= 10), " +
          "w AS (SELECT doc_id, i AS posn, md5(array_to_string(t[i+1:i+10], ' ')) AS win " +
          "FROM tok, unnest(generate_series(0, len(t) - 10)) AS g(i)), " +
          "m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.posn AS ia, b.posn AS jb " +
          "FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id), " +
          "isl AS (SELECT a_id, b_id, ia - jb AS diag, ia, jb, " +
          "ia - row_number() OVER (PARTITION BY a_id, b_id, ia - jb ORDER BY ia, jb) AS grp FROM m), " +
          "sp AS (SELECT a_id, b_id, min(ia) AS start_a, min(jb) AS start_b, " +
          "count(*) + 9 AS span_tokens FROM isl GROUP BY a_id, b_id, diag, grp) " +
          "SELECT sp.a_id, sp.b_id, CAST(start_a AS BIGINT) AS start_a, " +
          "CAST(start_b AS BIGINT) AS start_b, CAST(span_tokens AS BIGINT) AS span_tokens, " +
          "CAST(length(array_to_string(tok.t[CAST(start_a + 1 AS BIGINT):CAST(start_a + span_tokens AS BIGINT)], ' ')) AS BIGINT) AS span_chars " +
          "FROM sp JOIN tok ON tok.doc_id = sp.a_id " +
          "WHERE length(array_to_string(tok.t[CAST(start_a + 1 AS BIGINT):CAST(start_a + span_tokens AS BIGINT)], ' ')) >= 50 " +
          "ORDER BY a_id, b_id, start_a, start_b")
    )
  )
}
