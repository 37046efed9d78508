package graft.ext

import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{Agg, ArtifactStore, Tables}
import graft.plans.TopKPerKey

/** Registered similarity/embedding queries. Brute-force cosine and the
  * per-dimension embedding aggregate are differentially verified against
  * DuckDB's list functions; the LSH variant and centroid UDAF are
  * hash/float-order specific and property-tested in ScalaTest instead.
  */
object SimilarityQueries {

  /** The navigable serving graph of q_sim_graph_routed: out-degree-8
    * kNN edges ∪ 4 deterministic long-range edges per node (the
    * NSW navigability ingredient — without them greedy descent strands
    * in local neighborhoods; measured 0.10 → 0.43 recall at sf0.1).
    * The kNN side is the SUB-QUADRATIC IVF-blocked build by DEFAULT
    * (round-16 verdict #1): multi-probe cell blocking generates the
    * candidate pairs, exact cosine scores within cells, per-src top-8
    * selects — spec-proven recall-equal to the exact O(n²) build on the
    * MoG fixture (0.972 both ways at 0.22·n² candidates, PLANS.md
    * round 16) and the only build that survives a 100 TB corpus. The
    * exact build stays available as [[navGraphExact]] for the A/B spec
    * rows. Eagerly materialized: the walk consumes it once per hop.
    */
  def navGraph(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    navGraphFrom(emb, navKnnEdges(emb))

  /** The sub-quadratic kNN edge relation behind [[navGraph]]: the
    * q_knn_graph_ivf machinery (multi-probe IVF cells, r=2 →
    * in-cell exact cosine → per-src top-8). k is CORPUS-ADAPTIVE by
    * default (round-17 verdict #1): k = ⌈√n⌉ uncapped
    * ([[Ivf.cellCountScaled]] — past 64 cells the assignment rides the
    * broadcast-join argmin), so candidate volume r²·n²/k stays
    * ~r²·n^1.5 at ANY corpus size instead of flattening into a
    * constant-factor n² at a pinned k. Pass `k` explicitly only for
    * A/B harnesses.
    */
  private[graft] def navKnnEdges(
      emb: org.apache.spark.sql.DataFrame, k: Int = -1): org.apache.spark.sql.DataFrame = {
    val kk = if (k > 0) k else Ivf.cellCountScaled(emb.count())
    navKnnEdgesWith(emb, Ivf.trainK(emb.sparkSession, emb, kk))
  }

  /** [[navKnnEdges]] with a caller-supplied coarse quantizer — the
    * shared-artifact composition ([[navGraphShared]] trains through
    * [[Ivf.trainSharedAdaptive]] so the graph build and q_knn_graph_ivf
    * reuse one stored quantizer instead of running Lloyd twice).
    */
  private[graft] def navKnnEdgesWith(
      emb: org.apache.spark.sql.DataFrame,
      centroids: Seq[Seq[Double]]): org.apache.spark.sql.DataFrame = {
    val cells = Ivf.indexMulti(emb, centroids, r = 2)
    Ivf.knnTopK(Ivf.knnCandidates(cells), 8).select(col("src"), col("dst"))
  }

  /** The exact O(n²) build — A/B evidence only (SimilaritySpec measures
    * it against the registered IVF-blocked default); never registered.
    */
  private[graft] def navGraphExact(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    navGraphFrom(
      emb,
      Similarity.bruteForceTopK(emb, emb, 8)
        .select(col("q_id").as("src"), col("n_id").as("dst")))

  /** [[navGraph]] with a caller-supplied kNN edge relation — the SCALE
    * build path: at corpus size the exact O(n²) kNN side swaps for the
    * IVF-blocked candidate generation (Ivf.knnCandidates/knnTopK, the
    * q_knn_graph_ivf machinery) while the long-range links and the
    * serving walk stay byte-identical. SimilaritySpec's MoG scale-path
    * row routes over exactly this composition.
    */
  private[graft] def navGraphFrom(
      emb: org.apache.spark.sql.DataFrame,
      knn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    navGraphPlan(emb, knn).localCheckpoint(true)

  /** The UN-checkpointed build plan of [[navGraphFrom]] — exists so
    * PlanAuditSpec can pin the registered build cartesian-free (the
    * checkpoint in navGraphFrom collapses the consumer-visible plan to
    * ExistingRDD, which would hide an all-pairs regression).
    */
  private[graft] def navGraphPlan(
      emb: org.apache.spark.sql.DataFrame,
      knn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Long-link targets land on the ACTUAL id domain, not an assumed
    // dense 0..n-1: hash % n picks a RANK, and the rank joins back to
    // its vec_id through the distributed dense index (Ranks.globalIndex
    // — no window, no collect). On a dense corpus this is byte-identical
    // to the old `% n` form; on a gappy one (the NSW insert family's
    // base graph removes every tenth id) it stops silently dropping ~10%
    // of long links at the score join and starves no id of in-links.
    val (idx, n) = graft.core.Ranks.indexedCounted(
      emb.select(col("vec_id")), Seq(col("vec_id")), 32)
    val ranks = idx.select(col("gidx").as("__dr"), col("vec_id").as("dst"))
    val longLinks = emb.select(col("vec_id").as("src"))
      .crossJoin(broadcast(emb.sparkSession.range(4).select(col("id").as("j"))))
      .select(
        col("src"),
        (conv(substring(md5(concat_ws(":", col("src"), col("j"))), 1, 8), 16, 10)
          .cast("long") % n).as("__dr"))
      .join(ranks, Seq("__dr"))
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    knn.unionByName(longLinks).distinct()
  }

  /** Per-cell medoid waypoints — the coarse TOP LAYER of the
    * hierarchical (HNSW-style) entry: one representative node per IVF
    * cell, the in-cell vector closest to its own centroid. ≤ k rows
    * total, so the layer broadcasts at serve time; the layer's job is
    * exactly HNSW's upper-layer job (Malkov & Yashunin 2018) — put the
    * beam's starting point NEAR the query so the bottom-layer walk
    * spends its hops refining, not crossing the corpus.
    */
  private[graft] def cellMedoids(
      corpus: org.apache.spark.sql.DataFrame,
      centroids: Seq[Seq[Double]]): org.apache.spark.sql.DataFrame = {
    TopKPerKey.topK(
      Ivf.indexWithDist(corpus, centroids), Seq(col("bucket")), Seq(col("d2"), col("n_id")), 1, "mrk")
      .select(col("n_id"), col("cv"))
  }

  /** Hierarchical entry seeds: each query's top-`s` WAYPOINTS by exact
    * cosine over the broadcast medoid layer — O(n_q·k) scoring,
    * corpus-size-free. Output (q_id, n_id) feeds [[graphRoutedOver]]'s
    * `seeds`; with s = 8 the walk's construction bound is unchanged.
    */
  private[graft] def hierarchicalSeeds(
      waypoints: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      s: Int = 8): org.apache.spark.sql.DataFrame = {
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qv"))
    val wp = waypoints
      .select(col("n_id"), col("cv"))
      .withColumn("wn", sqrt(Similarity.dot(col("cv"), col("cv"))))
    Similarity.topByScore(
      q.crossJoin(broadcast(wp))
        .filter(col("q_id") =!= col("n_id"))
        .select(
          col("q_id"), col("n_id"),
          (Similarity.dot(col("qv"), col("cv")) /
            (sqrt(Similarity.dot(col("qv"), col("qv"))) * col("wn"))).as("wcos")),
      "wcos", s, "wrk")
      .select(col("q_id"), col("n_id"))
  }

  /** The graph family's SERVING DEFAULT (round-17 verdict #2): the
    * hierarchical waypoint-seeded walk at HALF the fixed-entry hops.
    * Seeds come from the stored waypoint layer (each query's top-8
    * medoids by exact cosine — corpus-size-free scoring over a
    * broadcast layer), so the bottom-layer walk starts NEAR the query
    * and 3 hops suffice where 8 fixed entries needed 6 (MoG: recall
    * 1.000 vs 0.972, serving −34%). Every registered serving row —
    * routed, tombstone, compaction, hybrid-graph — walks through this
    * helper; the fixed-entry walk survives as SimilaritySpec's
    * documented baseline rows and as the NSW INSERT walk (insertion
    * enters the graph cold by design — its contract is shared
    * bit-exactly with the streaming twin).
    */
  private[graft] val ServeHops = 3
  private[graft] val ServeBound: Long = 8L + ServeHops.toLong * 12L * 12L // 440/query

  private[graft] def hierRoutedOver(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      graph: org.apache.spark.sql.DataFrame,
      waypoints: Option[org.apache.spark.sql.DataFrame] = None,
      hops: Int = ServeHops)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val wp = waypoints.getOrElse(waypointsShared(s, d))
    graphRoutedOver(
      corpus, queries, graph, hops = hops,
      seeds = Some(hierarchicalSeeds(wp, queries)))
  }

  /** Beam search over a navigable graph with FIXED entry (the
    * pre-round-18 serving shape, now the spec-side baseline and the
    * NSW-insert walk; registered serving rides [[hierRoutedOver]]):
    * 8 fixed entry nodes, `hops` rounds of expand-neighbors →
    * exact-score → keep the top-`beam`, answer = per-query top-3 of
    * everything visited. Returns (routed top-3, full visited relation)
    * — the visited count is the construction-bound evidence. Each
    * hop's state is checkpointed (the PageRank loop-invariant lesson:
    * a lazily-chained round re-executes every earlier one).
    */
  def graphRoutedTopK(
      emb: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column,
      graph: org.apache.spark.sql.DataFrame,
      hops: Int = 6,
      beam: Int = 12): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    graphRoutedOver(emb, emb.filter(queryPred), graph, hops, beam)

  /** The walk with corpus and queries decoupled — what the NSW INSERT
    * path needs (delta vectors routed over the BASE corpus/graph).
    * `seeds` overrides the default 8 fixed entry nodes with a PER-QUERY
    * (q_id, n_id) entry relation — the hierarchical-entry hook
    * ([[hierarchicalSeeds]]); at ≤ 8 seeds/query the construction bound
    * is unchanged.
    */
  def graphRoutedOver(
      corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      graph: org.apache.spark.sql.DataFrame,
      hops: Int = 6,
      beam: Int = 12,
      seeds: Option[org.apache.spark.sql.DataFrame] = None): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val c = corpus
      .select(col("vec_id").as("n_id"), col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(Similarity.dot(col("cv"), col("cv"))))
      .localCheckpoint(true)
    val qn = broadcast(
      queries
        .select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qv"))
        .withColumn("qnrm", sqrt(Similarity.dot(col("qv"), col("qv")))))
    def score(cands: org.apache.spark.sql.DataFrame) =
      cands.join(c, "n_id").join(qn, Seq("q_id"))
        .filter(col("q_id") =!= col("n_id"))
        .select(
          col("q_id"), col("n_id"),
          (Similarity.dot(col("qv"), col("cv")) / (col("qnrm") * col("cn"))).as("cos"))
    val entry = seeds match {
      case Some(sp) => sp.select(col("q_id"), col("n_id"))
      case None =>
        corpus.orderBy("vec_id").limit(8).select(col("vec_id").as("n_id"))
          .crossJoin(qn.select(col("q_id")))
    }
    var visited = score(entry).localCheckpoint(true)
    for (_ <- 1 to hops) {
      val frontier = Similarity.topByScore(visited, "cos", beam, "rk")
        .select(col("q_id"), col("n_id"))
      val expand = frontier
        .join(graph, frontier("n_id") === graph("src"))
        .select(col("q_id"), col("dst").as("n_id")).distinct()
        .join(visited.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"), "left_anti")
      visited = visited.unionByName(score(expand)).localCheckpoint(true)
    }
    (Similarity.topByScore(visited, "cos", 3), visited)
  }

  /** NSW insert-edge derivation (q_sim_graph_incremental's body, shared
    * with [[graft.streaming.GraphInsertStream]] so ingest-time and batch
    * insertion cannot drift): each delta vector's out-edges are the
    * top-8 of its OWN beam-search walk over the frozen base graph —
    * (src, dst, cos) with src the delta node. Per-delta independence is
    * structural: every join in the walk keys on q_id and the frontier
    * window partitions by q_id, so inserting a delta set in one call
    * equals inserting it in any micro-batch slicing — the property the
    * streaming twin's bit-equality gate rests on.
    */
  /** The full-corpus navigable graph through the stored-artifact
    * registry — single-sourced key for every consumer of the serving
    * graph (q_sim_graph_routed, q_sim_graph_tombstone, and the
    * graph-densed hybrid fusion in [[SearchQueries]]).
    */
  private[graft] def navGraphShared(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    // corpus-adaptive blocking (round-17 verdict #1): k = ⌈√n⌉ rides
    // the artifact key, so a grown corpus re-keys its graph instead of
    // serving a stale (coarser) cell geometry; the quantizer itself is
    // the shared stored artifact (one Lloyd run per corpus fingerprint
    // across this build AND q_knn_graph_ivf/q_dedup_embed)
    val k = Ivf.adaptiveK(s, d)
    ArtifactStore.sharedDf(
      s, ArtifactStore.corpusKey(d, "embeddings", s"nav-graph|deg=8+4|build=ivfx2|k=$k")) {
      val emb = graft.core.Tables(s, d, "embeddings")
      navGraphFrom(emb, navKnnEdgesWith(emb, Ivf.trainSharedAdaptive(s, d)))
    }
  }

  /** The waypoint layer through the stored-artifact registry — built
    * once per corpus fingerprint next to the graph it serves
    * ([[navGraphShared]]): ≤ k medoid rows, broadcast at serve time.
    */
  private[graft] def waypointsShared(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val k = Ivf.adaptiveK(s, d)
    ArtifactStore.sharedDf(s, ArtifactStore.corpusKey(d, "embeddings", s"nav-waypoints|k=$k")) {
      cellMedoids(graft.core.Tables(s, d, "embeddings"), Ivf.trainSharedAdaptive(s, d))
        .localCheckpoint(true)
    }
  }

  /** The COMPACTED serving graph — rebuilt from LIVE vectors only (the
    * IVF-blocked default build) once the tombstone fraction crosses the
    * compaction threshold. Its own registry slot: compaction is an
    * offline maintenance job in production (hnswlib's resize/rebuild),
    * and the tombstoned original stays untouched for readers mid-swap.
    */
  /** The waypoint layer REBUILT from live vectors only — the serving
    * layer of the compacted graph ([[compactedNavGraphShared]]): a
    * compaction that rebuilds the bottom layer from live vectors must
    * rebuild its entry layer from the same corpus, or dead medoids keep
    * seeding walks into a graph that no longer contains them.
    */
  private[graft] def compactedWaypointsShared(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    ArtifactStore.sharedDf(
      s, ArtifactStore.corpusKey(d, "embeddings", "nav-waypoints-compact|dead=7m3|build=adaptive")) {
      val live = graft.core.Tables(s, d, "embeddings").filter(!(col("vec_id") % 7 === 3))
      cellMedoids(live, Ivf.trainK(s, live, Ivf.cellCountScaled(live.count())))
        .localCheckpoint(true)
    }

  private[graft] def compactedNavGraphShared(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    ArtifactStore.sharedDf(
      s, ArtifactStore.corpusKey(d, "embeddings", "nav-graph-compact|dead=7m3|build=ivfAdaptiveX2")) {
      // derived (live-only) corpus: navGraph picks its own adaptive k
      // from the live count — the quantizer is re-trained on exactly
      // the vectors the compacted graph indexes
      navGraph(graft.core.Tables(s, d, "embeddings").filter(!(col("vec_id") % 7 === 3)))
    }

  /** The NSW-insert family's frozen inputs, shared between
    * q_sim_graph_incremental and GraphInsertStreamSpec so the registry
    * key and the base/delta split are single-sourced: (base corpus —
    * nine of ten vectors, delta arrivals — the tenth, frozen base
    * graph through the stored-artifact registry).
    */
  private[graft] def graphIncrementalParts(
      s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val emb = graft.core.Tables(s, d, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val baseGraph = ArtifactStore.sharedDf(
      s, ArtifactStore.corpusKey(d, "embeddings", "nav-graph-base|deg=8+4|build=ivfAdaptiveX2")) {
      navGraph(base)
    }
    (base, delta, baseGraph)
  }

  private[graft] def nswInsertEdges(
      base: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame,
      baseGraph: org.apache.spark.sql.DataFrame,
      hops: Int = 6,
      beam: Int = 12): org.apache.spark.sql.DataFrame = {
    val (_, visited) = graphRoutedOver(base, delta, baseGraph, hops, beam)
    Similarity.topByScore(visited, "cos", 8, "rk")
      .select(col("q_id").as("src"), col("n_id").as("dst"), col("cos"))
  }

  /** MMR greedy selection (q_mmr_rerank's body, reusable for planted-corpus
    * specs): per query matching `queryPred`, take the top-20 exact-cosine
    * candidates and greedily select 5 maximizing mmr2 = rel − max-sim-to-
    * selected (λ=1/2 scaled ×2); ties to the lowest n_id. All cosines run
    * on round(x·1e6)-quantized vectors through the single dot/(sqrt·sqrt)
    * chain, so the doubles are engine-deterministic. Queries with fewer
    * than 5 candidates simply stop early (later rounds emit nothing).
    */
  def mmrSelect(emb: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val n = mmrNorm(emb)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val rels = q
      .join(
        n.select(col("vec_id").as("n_id"), col("v").as("cv"), col("n2").as("cn2")),
        col("q_id") =!= col("n_id"))
      .select(
        col("q_id"), col("n_id"), col("cv"), col("cn2"),
        (Similarity.dot(col("qv"), col("cv")) /
          (sqrt(col("qn2")) * sqrt(col("cn2")))).as("rel"))
    mmrGreedy(mmrTop20(rels))
  }

  /** Quantized (round(x·1e6)) vector relation with its norm² — the shared
    * scoring basis of the MMR family, and the reason the IVF-fed and
    * exact variants are comparable: both score through this chain.
    */
  private def mmrNorm(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb
      .select(
        col("vec_id"),
        expr("transform(CAST(embedding AS array<double>), x -> round(x * 1000000))").as("v"))
      .withColumn("n2", Similarity.dot(col("v"), col("v")))

  /** Per-query top-20 truncation of a scored candidate relation
    * (q_id, n_id, cv, cn2, rel), checkpointed once for the greedy rounds.
    */
  private def mmrTop20(rels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    Similarity.topByScore(rels, "rel", 20, "crnk")
      .select(col("q_id"), col("n_id"), col("cv"), col("cn2"), col("rel"))
      .localCheckpoint(true)
  }

  /** The SERVED MMR composition (PLANS.md round-13 open thread): the
    * candidate pool comes from the stored IVF coarse quantizer
    * ([[Ivf.probeCells]] ⋈ index on bucket — the q_sim_ivf serving
    * recipe) instead of the exact corpus scan, then the IDENTICAL
    * quantized scoring, top-20 truncation, and greedy selection. Returns
    * (selected, probed candidate pairs) so the registered gate and
    * PlanAuditSpec can bound the scored-candidate volume — the pool must
    * stay nprobe/k of queries×corpus, never all pairs.
    */
  private[graft] def mmrServedIvf(
      s: org.apache.spark.sql.SparkSession, emb: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int, nprobe: Int,
      coarse: Option[Seq[Seq[Double]]] = None)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val n = mmrNorm(emb)
    val centroids = coarse.getOrElse(Ivf.train(s, emb, k))
    val indexed = Ivf.index(emb, centroids)
    val pairs = Ivf.probeCells(emb.filter(queryPred), centroids, nprobe)
      .join(indexed, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
    val rels = pairs
      .join(n.select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2")), Seq("q_id"))
      .join(n.select(col("vec_id").as("n_id"), col("v").as("cv"), col("n2").as("cn2")), Seq("n_id"))
      .select(
        col("q_id"), col("n_id"), col("cv"), col("cn2"),
        (Similarity.dot(col("qv"), col("cv")) /
          (sqrt(col("qn2")) * sqrt(col("cn2")))).as("rel"))
    (mmrGreedy(mmrTop20(rels)), pairs)
  }

  /** Hard-negative mining chain (q_hard_negatives' body): per anchor, the
    * top-3 most-similar DIFFERENT-LABEL vectors through the quantized
    * cosine chain. `pool = None` scores every corpus vector (the exact
    * oracle side); `pool = Some(pairs)` restricts scoring to a served
    * (q_id, n_id) candidate relation — the IVF-fed production form.
    * Selection is a plain per-anchor top-k (no greedy interaction), so
    * unlike MMR the served output degrades monotonically with pool
    * recall — q_hard_negatives_ivf gates the mined set directly.
    */
  private[graft] def hardNegChain(
      emb: org.apache.spark.sql.DataFrame,
      anchorPred: org.apache.spark.sql.Column,
      pool: Option[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    val n = emb
      .select(
        col("vec_id"), col("label"),
        expr("transform(CAST(embedding AS array<double>), x -> round(x * 1000000))").as("v"))
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
    val anchors = n.filter(anchorPred)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("n2").as("qn2"))
    val candsN = n.select(col("vec_id").as("n_id"), col("label").as("neg_label"),
      col("v").as("cv"), col("n2").as("cn2"))
    val joined = pool match {
      case None =>
        anchors.join(candsN, col("q_id") =!= col("n_id") && col("q_label") =!= col("neg_label"))
      case Some(p) =>
        p.join(anchors, Seq("q_id"))
          .join(candsN, Seq("n_id"))
          .filter(col("q_label") =!= col("neg_label"))
    }
    Similarity.topByScore(
      joined.select(
        col("q_id"), col("q_label"), col("n_id"), col("neg_label"),
        (Similarity.dot(col("qv"), col("cv")) /
          (sqrt(col("qn2")) * sqrt(col("cn2")))).as("cos")),
      "cos", 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("q_label"), col("neg_label"), col("cos"))
  }

  /** Greedy λ=1/2 MMR over a (q_id, n_id, cv, cn2, rel) candidate
    * relation (≤20 rows per query) — identical for every candidate
    * source; see [[mmrSelect]] for the scoring contract.
    */
  private def mmrGreedy(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sims = cand
      .select(col("q_id"), col("n_id").as("a_id"), col("cv").as("av"), col("cn2").as("an2"))
      .join(
        cand.select(col("q_id"), col("n_id").as("b_id"), col("cv").as("bv"), col("cn2").as("bn2")),
        Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(
        col("q_id"), col("a_id"), col("b_id"),
        (Similarity.dot(col("av"), col("bv")) /
          (sqrt(col("an2")) * sqrt(col("bn2")))).as("sim"))
      .localCheckpoint(true)
    val thin = cand.select(col("q_id"), col("n_id"), col("rel"))
    // `=== 1`, not TopKPerKey.topK: its guard pre-pass runs per pick (q_mmr_rerank 47 → 84 jobs, 0.95 → 1.47 s)
    var selected = thin
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("n_id"))))
      .filter(col("rn") === 1)
      .select(col("q_id"), lit(1L).as("sel_rank"), col("n_id"), col("rel").as("mmr2"))
    for (t <- 2 to 5) {
      val selIds = selected.select(col("q_id"), col("n_id"))
      val pick = thin
        .join(selIds, Seq("q_id", "n_id"), "left_anti")
        .withColumnRenamed("n_id", "a_id")
        .join(sims, Seq("q_id", "a_id"))
        .join(selIds.withColumnRenamed("n_id", "b_id"), Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id"))
        .agg(max(col("rel")).as("rel"), max(col("sim")).as("maxsim"))
        .select(
          col("q_id"), col("a_id").as("n_id"),
          (col("rel") - col("maxsim")).as("mmr2"))
        // `=== 1` for the pre-pass reason above (q_mmr_rerank_ivf 115 → 189 jobs, 2.49 → 3.34 s)
        .withColumn(
          "rn",
          row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("mmr2").desc, col("n_id"))))
        .filter(col("rn") === 1)
        .select(col("q_id"), lit(t.toLong).as("sel_rank"), col("n_id"), col("mmr2"))
      selected = selected.unionByName(pick).localCheckpoint(true)
    }
    selected
  }

  /** nDCG@10 / MRR / hits of the truncated-dim fast pass vs the exact
    * full-dim ranking (q_rank_eval's body, reusable for planted-corpus
    * specs). Integer-weight discounts make the metric sums exact; see the
    * registered query's comment for the full design discussion.
    */
  def rankEval(emb: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val wDcg = (1 to 10).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))
    val wMrr = (1 to 10).map(r => math.round(1e6 / r.toDouble))
    val idcg = (1 to 10).map(r => (11 - r) * wDcg(r - 1)).sum
    val n = emb
      .select(
        col("vec_id"),
        expr("transform(CAST(embedding AS array<double>), x -> round(x * 1000000))").as("v"))
      .withColumn("vt", slice(col("v"), 1, 16))
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
      .withColumn("n2t", Similarity.dot(col("vt"), col("vt")))
    val q = n.filter(queryPred).select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("vt").as("qvt"),
      col("n2").as("qn2"), col("n2t").as("qn2t"))
    val pairs = q.join(
      n.select(col("vec_id").as("n_id"), col("v").as("cv"), col("vt").as("cvt"),
        col("n2").as("cn2"), col("n2t").as("cn2t")),
      col("q_id") =!= col("n_id"))
    val scored = pairs.select(
      col("q_id"), col("n_id"),
      (Similarity.dot(col("qv"), col("cv")) /
        (sqrt(col("qn2")) * sqrt(col("cn2")))).as("cos_full"),
      (Similarity.dot(col("qvt"), col("cvt")) /
        (sqrt(col("qn2t")) * sqrt(col("cn2t")))).as("cos_trunc"))
    val truth = Similarity.topByScore(scored, "cos_full", 10, "frnk")
      .select(col("q_id"), col("n_id"), (lit(11) - col("frnk")).cast("long").as("rel"))
    val system = Similarity.topByScore(scored, "cos_trunc", 10, "srnk")
      .select(col("q_id"), col("n_id"), col("srnk"))
    val wd = array(wDcg.map(lit): _*)
    val wm = array(wMrr.map(lit): _*)
    system
      .join(truth, Seq("q_id", "n_id"), "left")
      .withColumn("rel0", coalesce(col("rel"), lit(0L)))
      .groupBy(col("q_id"))
      .agg(
        sum(when(col("rel0") > 0, 1L).otherwise(0L)).as("hits"),
        sum(col("rel0") * element_at(wd, col("srnk"))).as("dcg_fp"),
        coalesce(
          max(when(col("rel0") > 0, element_at(wm, col("srnk")))), lit(0L)).as("mrr_fp"))
      .select(
        col("q_id"), col("hits"), col("dcg_fp"), col("mrr_fp"),
        (col("dcg_fp").cast("double") / lit(idcg.toDouble)).as("ndcg"))
  }

  val queries: Seq[Q] = Seq(
    Q(
      "q_sim_bruteforce",
      // Exact cosine top-3 for the first 10 vectors. Double arithmetic with
      // a sequential fold matches DuckDB's list_dot_product ordering.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        Similarity
          .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 3)
          .orderBy("q_id", "rank")
      },
      Some(
        "WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10), " +
          "c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
          "s AS (SELECT q_id, n_id, list_dot_product(qv, cv) / " +
          "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos " +
          "FROM q CROSS JOIN c WHERE q_id <> n_id), " +
          "r AS (SELECT q_id, n_id, cos, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank FROM s) " +
          "SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 3 ORDER BY q_id, rank"),
      headline = true
    ),
    Q(
      "q_knn_graph",
      // kNN-graph construction — the all-nodes generalization of
      // q_sim_bruteforce and the substrate step for SemDeDup clustering,
      // graph-based ANN indexes, and label propagation over embeddings:
      // EVERY vector gets its exact cosine top-3 neighbors. Per-node
      // selection is the row_number()<=k pattern, so TopKRewrite lowers
      // it to the bounded-heap TopKPerKey operator: k rows per node
      // survive the partial side, never the N-1 scored candidates. The
      // exact all-pairs scoring here is the oracle-able form (sequential
      // fold ≡ DuckDB list_dot_product ordering, bit-equal doubles); at
      // corpus scale the candidate generation swaps to the IVF-cell
      // blocking gated by q_dedup_embed / q_sim_ivf — the per-node
      // top-k side is unchanged.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        Similarity
          .bruteForceTopK(emb, emb, 3)
          .select(
            col("q_id").as("src"), col("rank"),
            col("n_id").as("dst"), col("cos"))
          .orderBy("src", "rank")
      },
      Some(
        "WITH q AS (SELECT vec_id AS src, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings), " +
          "c AS (SELECT vec_id AS dst, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
          "s AS (SELECT src, dst, list_dot_product(qv, cv) / " +
          "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos " +
          "FROM q CROSS JOIN c WHERE src <> dst), " +
          "r AS (SELECT src, dst, cos, CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS INT) AS rank FROM s) " +
          "SELECT src, rank, dst, cos FROM r WHERE rank <= 3 ORDER BY src, rank")
    ),
    Q(
      "q_knn_graph_ivf",
      // The GATED scale path for kNN-graph construction (round-8 verdict
      // #1): candidate generation via shared multi-probe IVF cells
      // (Ivf.indexMulti r=2 — the q_dedup_embed blocking), exact cosine
      // only within candidates, per-src top-3 through the same
      // TopKPerKey selection as the exact form. The cell assignment is
      // float/partition-order specific, so the gated output is the
      // recall invariant vs the in-plan exact all-pairs truth
      // (floor 0.5) PLUS the sub-quadratic candidate ceiling: scored
      // candidate pairs must stay under 0.6·n² — balanced cells give
      // ≈ r²/k = 1/4, so the ceiling holds with slack while an
      // all-pairs regression (n·(n−1) ≈ n²) trips it. The truth side is
      // gate-scale-only (it IS the oracle); the served plan is
      // Ivf.knnCandidates → Ivf.knnTopK, plan-audited to contain no
      // nested-loop join (PlanAuditSpec).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        // corpus-adaptive k = ⌈√n⌉ (round-17 verdict #1): candidate
        // volume r²·n²/k tracks ~r²·n^1.5 as the corpus grows
        val cells = Ivf.indexMulti(emb, Ivf.trainSharedAdaptive(s, d), r = 2)
        val cand = Ivf.knnCandidates(cells)
        val approx = Ivf.knnTopK(cand, 3)
          .select(col("src").as("q_id"), col("dst").as("n_id"))
        val truth = Similarity.bruteForceTopK(emb, emb, 3)
          .select(col("q_id"), col("n_id"))
        val recall = Gate.recallFold(
          truth, approx, Seq("q_id", "n_id"), 0.5, countDistinct(col("q_id")), "n_nodes")
        Gate.withCounts(recall, "__n_cand" -> cand, "__n_docs" -> emb)
          .select(
            col("n_nodes"),
            col("recall_ge_floor"),
            Gate.ceiling(col("__n_cand"), 0.6, col("__n_docs"), col("__n_docs"))
              .as("candidates_subquadratic"))
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, true AS recall_ge_floor, " +
          "true AS candidates_subquadratic FROM embeddings")
    ),
    Q(
      "q_sim_lsh",
      // Scale path: sign-LSH banding (8 bands × 4 bits, fixed-seed
      // hyperplanes) → candidates → exact re-score. The candidate set is
      // hash-specific, so the gated output is the recall invariant vs the
      // in-plan exact top-3 (floor 0.5, matching SimilaritySpec) — an LSH
      // regression flips the boolean and fails the driver gate.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Gate.recallGate(
          Similarity.bruteForceTopK(q, emb, 3),
          Similarity.lshTopK(q, emb, 3),
          floor = 0.5)
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor " +
          "FROM embeddings WHERE vec_id < 10")
    ),
    Q(
      "q_sim_ivf",
      // IVF scale path: deterministic k-means coarse quantizer at the
      // corpus-adaptive k = ⌈√(n/8)⌉ (= 16 at fixture scale, so the
      // measured floor is unchanged by construction — round-18 verdict
      // #1: a pinned k made the per-query serve cost a constant
      // nprobe/k = 1/4 of the corpus at ANY size), corpus-adaptive
      // nprobe (base 4 at the gate tiers, ∝√k past them —
      // Ivf.adaptiveNprobe, round-19 verdict #2) + exact re-score.
      // k-means float averaging is partition-order sensitive, so the
      // gated output is the recall invariant vs exact top-3 (floor
      // 0.4, matching SimilaritySpec).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val centroids = Ivf.trainSharedAdaptive(s, d)
        val indexed = Ivf.index(emb, centroids)
        Gate.recallGate(
          Similarity.bruteForceTopK(q, emb, 3),
          Ivf.topK(q, indexed, centroids, k = 3,
            nprobe = Ivf.adaptiveNprobe(4, centroids.size)),
          floor = 0.4)
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor " +
          "FROM embeddings WHERE vec_id < 10")
    ),
    Q(
      "q_sim_graph_routed",
      // Graph-routed ANN serving — the OTHER major ANN paradigm next to
      // the IVF family (HNSW/NSW/NSG shape, Malkov & Yashunin 2018):
      // route a query through a precomputed neighborhood graph instead
      // of probing quantizer cells. Index artifact = the out-degree-8
      // exact kNN graph UNIONED with 4 deterministic long-range edges
      // per node — the navigability ingredient NSW discovered: a bare
      // kNN graph on weak-gradient data strands greedy descent in local
      // neighborhoods (measured here: recall 0.10 at sf0.1 without the
      // long links, 0.43 with; the MoG spec shows the clustered regime
      // where routing actually shines). Built once per corpus
      // fingerprint through the stored-artifact registry (graph builds
      // are offline by design). The REGISTERED build is the
      // SUB-QUADRATIC IVF-blocked kNN (round-16 verdict #1 closed):
      // the q_knn_graph_ivf candidate machinery feeds the per-src
      // top-8, recall-equal to the exact O(n²) build (MoG: 0.972 both
      // ways at 0.22·n² candidates; SimilaritySpec carries the A/B) —
      // the exact build survives only as spec-side evidence
      // (navGraphExact). Serving = the family's HIERARCHICAL default
      // (round-17 verdict #2 closed): each query's beam seeds at its
      // top-8 stored waypoints, then 3 hops of expand-neighbors →
      // exact-score → keep the top-12 beam, answering with the top-3
      // of everything visited — half the fixed-entry walk's hops at
      // equal-or-better recall (MoG: 1.000 vs 0.972, −34% serving;
      // the 8-fixed-seeds/6-hop baseline lives in SimilaritySpec). Scored-candidate volume is bounded BY CONSTRUCTION:
      // ≤ seeds + hops·beam·maxdeg = 440 per query (the hierarchical
      // serving default's 3-hop walk — round 18), INDEPENDENT of
      // corpus size (the sub-linear-at-scale statement: the fixture is
      // small enough that 440 is no saving, a 100 TB corpus is where a
      // corpus-free bound is the whole game) — pinned in-plan as the
      // candidates_bounded boolean. Greedy descent is float-tie and
      // entry-point sensitive, so the gate is the ANN family's
      // invariant shape: n_queries (real differential), recall vs the
      // in-plan exact top-3 at the flat-fixture floor 0.4 (the
      // q_sim_ivf convention; measured 0.70 at sf0.01, 0.43 at sf0.1 —
      // near-uniform random 16-d vectors are greedy routing's worst
      // case, and the MoG-clustered SimilaritySpec row measures the
      // realistic regime), and the construction ceiling.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val graph = navGraphShared(s, d)
        // round-17 verdict #2: serving DEFAULT = hierarchical entry
        // (waypoint seeds, 3 hops) — same oracle shape, the bound
        // tightens 872 → 440/query; the fixed-entry 6-hop walk is the
        // SimilaritySpec baseline row
        val (routed, visited) = hierRoutedOver(s, d, emb, q, graph)
        Gate.withCounts(
          Gate.recallGate(Similarity.bruteForceTopK(q, emb, 3), routed, floor = 0.4),
          "__n_scored" -> visited)
          .select(
            col("n_queries"),
            col("recall_ge_floor"),
            // seeds + hops·beam·maxdeg = 8 + 3·12·12 — the walk's
            // corpus-size-INDEPENDENT candidate bound (a dedup or
            // expansion regression blows it immediately)
            (col("__n_scored") <= col("n_queries") * lit(ServeBound))
              .as("candidates_bounded"))
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor, " +
          "true AS candidates_bounded FROM embeddings WHERE vec_id < 10")
    ),
    Q(
      "q_sim_graph_incremental",
      // Graph-ANN MAINTENANCE — the NSW insert half, completing the
      // graph family the way q_sim_ivf_incremental completes IVF: new
      // vectors (every tenth) enter the FROZEN base graph by routing
      // themselves through it (the NSW insertion algorithm: a node's
      // out-edges are its own beam-search results) and linking
      // BIDIRECTIONALLY to their routed top-8 — per-delta work is one
      // bounded walk (≤ 872 scored — insertion enters COLD by design,
      // fixed entry, 6 hops; the serving rows' hierarchical default
      // does not apply to a vector not yet in the layer), no rebuild,
      // no corpus scan beyond
      // the stored artifact + the delta batch. The gate then serves the
      // standard 10 queries over the GROWN graph and requires (a) the
      // full-corpus recall floor still holds — new content is
      // REACHABLE through the inserted links or recall on queries whose
      // true neighbors are delta nodes collapses — and (b) the insert
      // edge accounting is exact: 8 out-edges per delta node plus their
      // reverses (n_delta × 16 rows, the real differential DuckDB
      // recomputes from the corpus split). Floors follow the
      // flat-fixture convention (0.4 — greedy routing's worst-case
      // geometry; the MoG SimilaritySpec rows carry the realistic
      // regime).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val (base, delta, baseGraph) = graphIncrementalParts(s, d)
        // NSW insert: each delta vector's out-edges = the top-8 of its
        // own walk's visited set over the frozen base graph (shared
        // chain with the ingest twin — GraphInsertStreamSpec pins the
        // micro-batched form bit-equal to this one)
        val insEdges = nswInsertEdges(base, delta, baseGraph)
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
        val grown = baseGraph
          .unionByName(insEdges)
          .unionByName(insEdges.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .localCheckpoint(true)
        val (routed, _) = graphRoutedOver(emb, emb.filter(col("vec_id") < 10), grown)
        val recall = Gate.recallGate(
          Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 3), routed,
          floor = 0.4)
        Gate.withCounts(recall, "n_base" -> base, "n_delta" -> delta, "__n_ins" -> insEdges)
          .select(
            col("n_base"), col("n_delta"), col("n_queries"), col("recall_ge_floor"),
            // every delta node links to exactly its routed top-8 (the
            // base corpus is far larger than 8, so the walk always
            // finds a full list) — the exact insert accounting
            (col("__n_ins") === col("n_delta") * 8).as("insert_edges_exact"))
      },
      Some(
        "SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 <> 0) AS BIGINT) AS n_base, " +
          "CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 = 0) AS BIGINT) AS n_delta, " +
          "CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries, " +
          "true AS recall_ge_floor, true AS insert_edges_exact")
    ),
    Q(
      "q_sim_graph_tombstone",
      // Graph-ANN DELETION — the third lifecycle half (build → insert →
      // delete), with the semantics every production navigable-graph
      // index actually runs (FAISS/hnswlib mark-deleted): removed
      // vectors are TOMBSTONED, not unlinked. They stay ROUTING
      // WAYPOINTS — the walk may pass through them — and are filtered
      // from ANSWERS only, because deletion must never rewrite the
      // stored artifact: tombstoning is O(deletes) metadata against an
      // immutable graph, unlinking rewrites the edge relation on every
      // delete batch. SimilaritySpec measures the recall price of
      // keeping the structure unchanged (waypoint 0.972 vs full-unlink
      // 1.000 on the MoG fixture at 1/7 deleted — ≤3 points for a
      // delete path that costs nothing at serving scale).
      // Serving = the standard beam walk over the UNCHANGED stored
      // graph artifact (no rebuild on delete — the point), answers =
      // top-3 of the visited set minus tombstones; truth = exact top-3
      // over the LIVE corpus only. Gates: n_queries + n_live (real
      // differentials DuckDB recomputes from the corpus split), the
      // flat-fixture recall floor 0.4, and the construction bound —
      // tombstones add no candidates, so the serving default's
      // ≤ 440/query ceiling is unchanged.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val deadPred = col("vec_id") % 7 === 3
        val graph = navGraphShared(s, d)
        val q = emb.filter(col("vec_id") < 10)
        // family serving default (hierarchical entry, 3 hops): dead
        // waypoints may still SEED the walk — that IS the tombstone
        // contract (dead nodes stay routing structure, answers filter)
        val (_, visited) = hierRoutedOver(s, d, emb, q, graph)
        val servedLive = Similarity.topByScore(visited.filter(!(col("n_id") % 7 === 3)), "cos", 3)
        val live = emb.filter(!deadPred)
        Gate.withCounts(
          Gate.recallGate(Similarity.bruteForceTopK(q, live, 3), servedLive, floor = 0.4),
          "n_live" -> live, "__n_scored" -> visited)
          .select(
            col("n_queries"), col("n_live"), col("recall_ge_floor"),
            (col("__n_scored") <= col("n_queries") * lit(ServeBound))
              .as("candidates_bounded"))
      },
      Some(
        "SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries, " +
          "CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 <> 3) AS BIGINT) AS n_live, " +
          "true AS recall_ge_floor, true AS candidates_bounded")
    ),
    Q(
      "q_sim_graph_hier",
      // HIERARCHICAL entry for the graph walk (round-16 verdict #6 —
      // the HNSW layer idea, Malkov & Yashunin 2018): a coarse TOP
      // LAYER of ≤ 16 IVF-cell medoid waypoints (stored artifact,
      // broadcast at serve) seeds each query's beam at its top-8
      // waypoints by exact cosine, so the bottom-layer walk starts
      // NEAR the query and needs HALF the hops — 3 instead of the
      // fixed-entry 6. That halves the driver-scheduled hop jobs
      // (the per-rep floor of the flat-curve family) AND tightens the
      // corpus-size-independent candidate ceiling to
      // seeds + hops·beam·maxdeg = 8 + 3·12·12 = 440 per query (vs
      // 872). Measured on MoG (SimilaritySpec): hier@3 recall 1.000 vs
      // fixed@6 0.972 — fewer hops, better recall, because fixed seeds
      // spend hops crossing the corpus that waypoint seeds don't need.
      // Gate shape follows the family: n_queries differential, recall
      // floor vs in-plan exact top-3 at the flat-fixture 0.4
      // convention, and the (tighter) construction ceiling.
      // Round 18: the hierarchical walk became the family's serving
      // DEFAULT (q_sim_graph_routed serves through it), so this row's
      // distinct job is the ENTRY LAYER's structural contract — the
      // gates a regressed layer build trips before the walk's recall
      // ever moves: the layer stays broadcast-sized (≤ ⌈√n⌉ medoids —
      // DuckDB recomputes that bound from the corpus count), every
      // waypoint IS a corpus vector (a medoid that isn't a member
      // cannot be walked from), and each query seeds 7–8 waypoints
      // (8 exactly unless the layer is at its 8-cell floor and the
      // query is itself a medoid). The walk + recall floor + 440 bound
      // stay as the end-to-end half, single-sourced with the serving
      // default through hierRoutedOver.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val graph = navGraphShared(s, d)
        val wp = waypointsShared(s, d)
        val seeds = hierarchicalSeeds(wp, q)
        val (routed, visited) = hierRoutedOver(s, d, emb, q, graph)
        Gate.withCounts(
          Gate.recallGate(Similarity.bruteForceTopK(q, emb, 3), routed, floor = 0.4),
          "__n_scored" -> visited,
          "__n_wp" -> wp,
          "__n_wp_orphan" ->
            wp.join(emb.select(col("vec_id").as("n_id")), Seq("n_id"), "left_anti"),
          "__n_seeds" -> seeds,
          "__n_corpus" -> emb)
          .select(
            col("n_queries"),
            col("recall_ge_floor"),
            (col("__n_scored") <= col("n_queries") * lit(ServeBound))
              .as("candidates_bounded"),
            (col("__n_wp").cast("double") <= ceil(sqrt(col("__n_corpus").cast("double"))))
              .as("waypoints_bounded"),
            (col("__n_wp_orphan") === 0L).as("waypoints_are_members"),
            (col("__n_seeds") <= col("n_queries") * 8 &&
              col("__n_seeds") >= col("n_queries") * 7).as("seeds_bounded"))
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor, " +
          "true AS candidates_bounded, true AS waypoints_bounded, " +
          "true AS waypoints_are_members, true AS seeds_bounded " +
          "FROM embeddings WHERE vec_id < 10")
    ),
    Q(
      "q_graph_compaction",
      // Graph-ANN COMPACTION — the maintenance trigger completing the
      // delete path (round-16 verdict #7): tombstoning is O(deletes)
      // metadata against an immutable artifact, but at sustained delete
      // rates the graph decays (dead waypoints eat beam slots — the
      // measured 0.972-vs-1.000 recall price at 1/7 deleted grows with
      // the fraction). Policy: when tombstones cross the compaction
      // threshold, re-derive the graph from LIVE vectors via the
      // IVF-blocked default build into a NEW artifact slot (offline
      // rebuild, the hnswlib shape; the tombstoned original stays
      // untouched for readers mid-swap). The trigger decision is a
      // bounded two-long aggregate. Gates: n_live / n_dead / n_queries
      // (real differentials), BOTH SIDES of the threshold recomputed
      // in-plan as integer-exact booleans — the planted 1/7 fraction
      // FIRES the 1/8 threshold (8·n_dead ≥ n) and does NOT fire the
      // 1/4 threshold (4·n_dead < n), both DuckDB-recomputed — plus
      // the family's recall floor over the rebuilt graph (truth = live
      // corpus) and the construction ceiling.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val deadPred = col("vec_id") % 7 === 3
        val st = emb.agg(
          count(lit(1)).as("n"),
          sum(when(deadPred, 1L).otherwise(0L)).as("nd")).head()
        val fired = st.getLong(1) * 8 >= st.getLong(0)
        val live = emb.filter(!deadPred)
        val q = emb.filter(col("vec_id") < 10)
        // fired at the planted fraction → serve the rebuilt live-only
        // graph THROUGH ITS REBUILT WAYPOINT LAYER (a compaction that
        // rebuilt the bottom layer but kept dead medoids seeding would
        // be half a compaction); the un-fired branch (tombstone
        // serving) is what q_sim_graph_tombstone registers. Both
        // branches ride the family's hierarchical serving default.
        val (corpus, graph, wp) =
          if (fired)
            (live, compactedNavGraphShared(s, d), Some(compactedWaypointsShared(s, d)))
          else (emb, navGraphShared(s, d), None)
        // hierarchical seeds, but at the CONSERVATIVE 6-hop depth: a
        // just-rebuilt graph is exactly when serving must not thin its
        // envelope (measured at sf0.1: the rebuilt live-only graph on
        // the worst-case flat geometry sits AT the 0.40 recall floor
        // at depth 6 under every entry policy — 0.333 at depth 3
        // regardless of seed count/beam; the depth, not the entry, is
        // what that geometry pays for). Bound = 8 + 6·12·12 = 872.
        val (_, visited) = hierRoutedOver(s, d, corpus, q, graph, wp, hops = 6)
        val served = Similarity.topByScore(visited.filter(!(col("n_id") % 7 === 3)), "cos", 3)
        val withLive = Gate.withCounts(
          Gate.recallGate(Similarity.bruteForceTopK(q, live, 3), served, floor = 0.4),
          "n_live" -> live)
        Gate.withCounts(
          withLive.crossJoin(broadcast(
            emb.agg(sum(when(deadPred, 1L).otherwise(0L)).as("n_dead")))),
          "__n_scored" -> visited)
          .select(
            col("n_queries"), col("n_live"), col("n_dead"),
            (col("n_dead") * 8 >= col("n_live") + col("n_dead")).as("fired_at_eighth"),
            (col("n_dead") * 4 >= col("n_live") + col("n_dead")).as("fired_at_quarter"),
            col("recall_ge_floor"),
            (col("__n_scored") <= col("n_queries") * lit(8L + 6L * 12L * 12L))
              .as("candidates_bounded"))
      },
      Some(
        "SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries, " +
          "CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 <> 3) AS BIGINT) AS n_live, " +
          "CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 = 3) AS BIGINT) AS n_dead, " +
          "(SELECT 8 * COUNT(*) FILTER (WHERE vec_id % 7 = 3) >= COUNT(*) FROM embeddings) AS fired_at_eighth, " +
          "(SELECT 4 * COUNT(*) FILTER (WHERE vec_id % 7 = 3) >= COUNT(*) FROM embeddings) AS fired_at_quarter, " +
          "true AS recall_ge_floor, true AS candidates_bounded")
    ),
    Q(
      "q_dedup_embed",
      // Embedding-cosine near-dup detection on the REAL scale block key:
      // IVF coarse-quantizer cells (corpus-adaptive k = ⌈√n⌉
      // deterministic k-means — candidate volume ~r²·n^1.5,
      // multi-probe r=2 so Voronoi-boundary pairs still collide), exact
      // cosine >= 0.3 within a shared cell — per-cell O(cell²) pair work,
      // never all-pairs. The cell assignment is float/partition-order
      // specific, so the gated output is the recall invariant over the
      // ALL-PAIRS exact truth set (which DuckDB recomputes independently —
      // n_true_pairs is a real differential), with the sub-quadratic
      // candidate ceiling blocking an all-pairs "fix". The truth side is
      // gate-scale-only (it IS the oracle); the served plan is the
      // cell-blocked side.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val a = e.select(col("vec_id").as("a_id"), col("v").as("av"))
        val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"))
        val truth = a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            Similarity.cosine(col("av"), col("bv")).as("cos"))
          .filter(col("cos") >= 0.3)
          .select(col("a_id"), col("b_id"))
        // corpus-adaptive blocking k (round-17 verdict #1)
        val cells = Ivf.indexMulti(emb, Ivf.trainSharedAdaptive(s, d), r = 2)
        val found = cells.select(col("bucket"), col("n_id").as("a_id"), col("cv").as("av"))
          .join(
            cells.select(col("bucket"), col("n_id").as("b_id"), col("cv").as("bv")),
            Seq("bucket"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            Similarity.cosine(col("av"), col("bv")).as("cos"))
          .filter(col("cos") >= 0.3)
          .select(col("a_id"), col("b_id"))
          .distinct()
        DedupQueries.pairRecallGate(truth, found, emb, floor = 0.5)
      },
      Some(
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, true AS recall_ge_floor, " +
          "true AS candidates_subquadratic " +
          "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
          "WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3")
    ),
    Q(
      "q_sim_ivf_incremental",
      // Incremental IVF maintenance (pairs with q_dedup_incremental's
      // delta-only LSH): a delta batch (every tenth vector) is assigned
      // to the STORED coarse quantizer — centroids trained on the base
      // corpus only, the production shape where the inverted index is a
      // table and per-batch work is ∝ |delta| — and the gate enforces
      // that delta-only assignment EXACTLY equals a full recompute under
      // the same fixed centroids, per (vec_id, bucket), so any
      // batch-dependent leak into the assignment path (normalization
      // drift, stats-dependent tie-breaks) reads red. The retrain
      // trigger rides the q_embed_drift machinery: fixed-point global
      // centroid cosine between delta and base is emitted as a REAL
      // differential (DuckDB recomputes the identical double via the
      // davg fixed-point recipe) and retrain_needed = drift_cos < 0.9 is
      // a computed comparison on both engines, not a hardcoded boolean.
      // SimilaritySpec drives the trigger path with a shifted delta.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 0)
        val delta = emb.filter(col("vec_id") % 10 === 0)
        val centroids = Ivf.train(s, base, k = 16)
        val full = Ivf.index(emb, centroids)
          .filter(col("n_id") % 10 === 0)
          .select(col("n_id"), col("bucket"))
        val incr = Ivf.index(delta, centroids)
          .select(col("n_id").as("i_id"), col("bucket").as("i_bucket"))
        val matches = full
          .join(incr, col("n_id") === col("i_id"), "full_outer")
          .agg(
            count(lit(1)).as("n_joined"),
            coalesce(
              sum((col("bucket") === col("i_bucket")).cast("long")), lit(0L)).as("n_same"))
        Gate.withCounts(base.agg(count(lit(1)).as("n_base")), "n_delta" -> delta)
          .crossJoin(broadcast(matches))
          .crossJoin(broadcast(Ivf.globalDriftCos(emb, col("vec_id") % 10 === 0)))
          .select(
            col("n_base"),
            col("n_delta"),
            (col("n_joined") === col("n_delta") && col("n_same") === col("n_delta"))
              .as("delta_assign_matches_full"),
            col("drift_cos"),
            (col("drift_cos") < 0.9).as("retrain_needed"))
      },
      Some(
        "WITH b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base FROM embeddings WHERE vec_id % 10 <> 0), " +
          "dl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_delta FROM embeddings WHERE vec_id % 10 = 0), " +
          "e AS (SELECT vec_id % 10 = 0 AS is_delta, gs - 1 AS pos, CAST(v AS DOUBLE) AS x " +
          "FROM (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS gs FROM embeddings)), " +
          "cent AS (SELECT is_delta, pos, " + Agg.davgSql("x") + " AS m FROM e GROUP BY 1, 2), " +
          "arrs AS (SELECT is_delta, list(m ORDER BY pos) AS c FROM cent GROUP BY 1), " +
          "dc AS (SELECT list_dot_product(o.c, n.c) / " +
          "(sqrt(list_dot_product(o.c, o.c)) * sqrt(list_dot_product(n.c, n.c))) AS drift_cos " +
          "FROM (SELECT c FROM arrs WHERE NOT is_delta) o, (SELECT c FROM arrs WHERE is_delta) n) " +
          "SELECT n_base, n_delta, true AS delta_assign_matches_full, drift_cos, " +
          "drift_cos < 0.9 AS retrain_needed FROM b, dl, dc")
    ),
    Q(
      "q_centroid_udaf",
      // Typed Aggregator (§2.9 UDAF surface): per-label centroid vector.
      // Float-sum order varies with partitioning, so the gated output is
      // the EQUIVALENCE invariant: the UDAF's centroid must match the
      // declarative expression form (posexplode → per-dim avg) to 1e-9
      // relative on every (label, dim) cell. n_labels/n_dims are real
      // differentials vs the oracle; exact values on a tiny fixture are
      // pinned in SimilaritySpec.
      (s, d) => {
        import s.implicits._
        val emb = Tables(s, d, "embeddings")
        val viaUdaf = emb
          .groupBy(col("label"))
          .agg(udaf(CentroidAgg).apply(col("embedding")).as("centroid"))
          .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "cu")))
        val viaExpr = emb
          .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
          .groupBy(col("label"), col("pos"))
          .agg(avg(col("v")).as("ce"))
        viaUdaf
          .join(viaExpr, Seq("label", "pos"))
          .agg(
            countDistinct(col("label")).as("n_labels"),
            (max(col("pos")) + 1).cast("long").as("n_dims"),
            coalesce(
              bool_and(abs(col("cu") - col("ce")) <= greatest(abs(col("ce")), lit(1.0)) * 1e-9),
              lit(false)).as("udaf_matches_expr"))
      },
      Some(
        "SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels, " +
          "CAST(MAX(len(embedding)) AS BIGINT) AS n_dims, " +
          "true AS udaf_matches_expr FROM embeddings")
    ),
    Q(
      "q_embed_agg",
      // Per-(label, dimension) aggregate over the embedding column — the
      // distributed centroid building block (sum; the divide-by-count
      // happens in the UDAF variant).
      (s, d) =>
        Tables(s, d, "embeddings")
          .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
          .groupBy(col("label"), col("pos").cast("long").as("pos"))
          .agg(Agg.dsum(col("v")).as("sum_v"))
          .orderBy("label", "pos"),
      Some(
        "SELECT label, CAST(gs - 1 AS BIGINT) AS pos, " + Agg.dsumSql("CAST(v AS DOUBLE)") + " AS sum_v " +
          "FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS gs FROM embeddings) " +
          "GROUP BY label, pos ORDER BY label, pos")
    ),
    Q(
      "q_sim_truncate",
      // Matryoshka-style truncated retrieval: search on only the FIRST 16
      // of 64 dimensions — the memory/4 fast pass a tiered ANN stack runs
      // before full-dimension re-scoring. Same exact-cosine plan as
      // q_sim_bruteforce, sliced, and oracled the same way (the DuckDB
      // differential IS the correctness check). Note: on matryoshka-
      // TRAINED embeddings the truncated top-k approximates the full
      // top-k; the synthetic fixture has no such nesting, so no overlap
      // property is asserted — only exactness of the truncated search.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
          .withColumn("embedding", slice(col("embedding").cast("array<double>"), 1, 16))
        Similarity
          .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 3)
          .orderBy("q_id", "rank")
      },
      Some(
        "WITH q AS (SELECT vec_id AS q_id, (CAST(embedding AS DOUBLE[]))[1:16] AS qv FROM embeddings WHERE vec_id < 10), " +
          "c AS (SELECT vec_id AS n_id, (CAST(embedding AS DOUBLE[]))[1:16] AS cv FROM embeddings), " +
          "s AS (SELECT q_id, n_id, list_dot_product(qv, cv) / " +
          "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos " +
          "FROM q CROSS JOIN c WHERE q_id <> n_id), " +
          "r AS (SELECT q_id, n_id, cos, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank FROM s) " +
          "SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 3 ORDER BY q_id, rank")
    ),
    Q(
      "q_late_interaction",
      // Late-interaction retrieval (the ColBERT/maxsim shape, Khattab &
      // Zaharia 2020): query and document are BAGS of token vectors and
      // the score is Σ_{q tok} max_{d tok} cos — matching each query
      // token to its best document token instead of pooling everything
      // into one vector. The fixture has one embedding per doc, so the
      // 64-dim vector is sliced into 4×16-dim PSEUDO-token vectors (a
      // documented stand-in: the operator's shape — explode, per-token
      // max, pinned-order sum — is exactly what real multi-vector data
      // needs). Cross-engine exact: quantized-integer dots through the
      // single sqrt chain, per-token maxes are order-independent, and
      // the 4-term sum is written as m0+m1+m2+m3 in BOTH engines — a
      // fixed expression order, not a float groupBy fold (the shared
      // SearchQueries.maxsim scorer; every pseudo-token is present, so
      // its coalesce-to-0 never fires here). Scale shape:
      // gate-scale scores all pairs (it IS the oracle); production
      // generates candidates from any first-stage list and late-interacts
      // only the shortlist — per-pair work is tokens², list-bounded.
      (s, d) => {
        def toks(df: org.apache.spark.sql.DataFrame, idCol: String, tokCol: String) =
          df.select(
            col("vec_id").as(idCol),
            posexplode(expr(
              "transform(sequence(0, 3), i -> slice(transform(CAST(embedding AS array<double>), x -> round(x * 1000000)), i * 16 + 1, 16))"))
              .as(Seq(tokCol, "tv")))
            .withColumn("tn2", Similarity.dot(col("tv"), col("tv")))
        val emb = Tables(s, d, "embeddings")
        val q = toks(emb.filter(col("vec_id") < 10), "q_id", "qi")
          .select(col("q_id"), col("qi"), col("tv").as("qv"), col("tn2").as("qn2"))
        val c = toks(emb, "n_id", "di")
          .select(col("n_id"), col("di"), col("tv").as("cv"), col("tn2").as("cn2"))
        Similarity.topByScore(SearchQueries.maxsim(q.join(c, col("q_id") =!= col("n_id"))), "li_score", 5)
          .select(col("q_id"), col("rank"), col("n_id"), col("li_score"))
          .orderBy("q_id", "rank")
      },
      Some(
        "WITH t AS (SELECT vec_id, unnest(generate_series(0, 3)) AS ti FROM embeddings), " +
          "tv AS (SELECT t.vec_id, t.ti, " +
          "(list_transform(CAST(e.embedding AS DOUBLE[]), x -> round(x * 1000000)))[t.ti * 16 + 1 : t.ti * 16 + 16] AS v " +
          "FROM t JOIN embeddings e ON e.vec_id = t.vec_id), " +
          "tn AS (SELECT vec_id, ti, v, list_dot_product(v, v) AS n2 FROM tv), " +
          "sims AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.ti AS qi, " +
          "list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)) AS sim " +
          "FROM tn q JOIN tn c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10), " +
          "ms AS (SELECT q_id, n_id, qi, MAX(sim) AS ms FROM sims GROUP BY q_id, n_id, qi), " +
          "scored AS (SELECT q_id, n_id, " +
          "MAX(CASE WHEN qi = 0 THEN ms END) + MAX(CASE WHEN qi = 1 THEN ms END) + " +
          "MAX(CASE WHEN qi = 2 THEN ms END) + MAX(CASE WHEN qi = 3 THEN ms END) AS li_score " +
          "FROM ms GROUP BY q_id, n_id), " +
          "r AS (SELECT q_id, n_id, li_score, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY li_score DESC, n_id) AS INT) AS rank FROM scored) " +
          "SELECT q_id, rank, n_id, li_score FROM r WHERE rank <= 5 ORDER BY q_id, rank")
    ),
    Q(
      "q_ivf_split",
      // IVF hot-cell SPLIT — the rebalance closing the index-maintenance
      // lifecycle (train → serve → ingest → drift trigger → REBALANCE):
      // with an occupancy-derived cap (¾ of the observed max list), the
      // heaviest cells split in place by a 2-means over ONLY their own
      // members ([[Ivf.splitHotCells]], the FAISS list-split shape).
      // Cell geometry is float/seed sensitive, so the gate is the
      // invariant set every correct split must satisfy, computed from
      // the before/after index tables: membership conserved, ONLY hot
      // cells' members moved, hot members land in exactly their cell's
      // two children, and the max occupancy did not grow. n_vecs is the
      // oracle differential. At 100 TB the moved rows are exactly the
      // hot lists — a rebalance that does not touch the corpus.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val centroids = Ivf.trainShared(s, d, k = 8)
        val before = Ivf.index(emb, centroids)
        val occ = before.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        val maxBefore = occ.agg(max(col("n"))).head().getLong(0)
        val cap = math.max(1L, maxBefore * 3 / 4)
        val (_, after, hot) = Ivf.splitHotCells(s, emb, centroids, cap)
        val joined = before.select(col("n_id"), col("bucket").as("b_old"))
          .join(after.select(col("n_id"), col("bucket").as("b_new")), Seq("n_id"))
        import s.implicits._
        val childSlots = hot.zipWithIndex
          .map { case (b, i) => (b, centroids.length + i) }.toDF("b_old", "c1")
        val nVecs = emb.count()
        val conserved = joined.count() == nVecs && after.count() == nVecs
        val movedBad =
          if (hot.isEmpty) 0L
          else joined.filter(col("b_new") =!= col("b_old") && !col("b_old").isin(hot: _*)).count()
        val hotBad =
          if (hot.isEmpty) 0L
          else joined.filter(col("b_old").isin(hot: _*))
            .join(broadcast(childSlots), Seq("b_old"))
            .filter(col("b_new") =!= col("b_old") && col("b_new") =!= col("c1"))
            .count()
        val maxAfter = after.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).head().getLong(0)
        Seq((nVecs, hot.nonEmpty, conserved, movedBad == 0L, hotBad == 0L, maxAfter <= maxBefore))
          .toDF("n_vecs", "hot_found", "conserved", "only_hot_moved", "children_ok", "max_not_worse")
      },
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, true AS hot_found, true AS conserved, " +
          "true AS only_hot_moved, true AS children_ok, true AS max_not_worse FROM embeddings")
    ),
    Q(
      "q_hard_negatives",
      // Hard-negative mining — the contrastive-training feed: for each
      // anchor, the top-3 most similar vectors whose LABEL differs (the
      // negatives that actually move a contrastive loss, vs q_neg_sample's
      // uniform negatives). Cross-engine EXACT via the quantized-dot +
      // single-sqrt cosine chain (the q_mmr_rerank recipe); ties to the
      // lowest candidate id. Scale shape: the exact scan here is the
      // gate-scale oracle side — production swaps the candidate source
      // for the IVF top-K (mine from a k'>k neighborhood, filter by
      // label, keep k), which the q_knn_graph_ivf machinery already
      // serves; the label filter is a per-row predicate either way.
      (s, d) =>
        hardNegChain(Tables(s, d, "embeddings"), col("vec_id") < 20, None)
          .orderBy("q_id", "rank"),
      Some(
        "WITH n AS (SELECT vec_id, label, " +
          "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000)) AS v FROM embeddings), " +
          "nn AS (SELECT vec_id, label, v, list_dot_product(v, v) AS n2 FROM n), " +
          "s AS (SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id AS n_id, c.label AS neg_label, " +
          "list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)) AS cos " +
          "FROM nn q CROSS JOIN nn c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id AND q.label <> c.label), " +
          "r AS (SELECT q_id, n_id, q_label, neg_label, cos, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank FROM s) " +
          "SELECT q_id, rank, n_id, q_label, neg_label, cos FROM r WHERE rank <= 3 ORDER BY q_id, rank")
    ),
    Q(
      "q_hard_negatives_ivf",
      // SERVED hard-negative mining (the IVF swap-in q_hard_negatives'
      // scaladoc promises): candidates from probeCells ⋈ index (corpus-
      // adaptive k — 16 at fixture scale — nprobe=6), then the
      // IDENTICAL label-filtered top-3 chain
      // (hardNegChain is shared code, pool-parameterized). Unlike MMR,
      // selection is a plain per-anchor top-k — no greedy interaction —
      // so the MINED SET degrades monotonically with pool recall and is
      // gated directly: mined_recall vs the exact top-3 (floor 0.5,
      // measured 0.75 at BOTH SFs at nprobe=6; the two-point behind the
      // constant: nprobe=4 pools hold only 0.57/0.63) plus the
      // nprobe/k-PROPORTIONAL candidate ceiling (Ivf.poolCeilingFrac —
      // 0.5625·a×c at the sf0.1 tier's k=16, shrinking with k at
      // scale, capped vacuous at sf0.01's k=8 where nprobe=6 probes
      // 3/4 of a 500-vector corpus by design)
      // and a full-mining check (3 negatives
      // per anchor — the pool is label-diverse enough at fixture scale).
      // Scale: mining cost per anchor is nprobe·cell scored candidates,
      // never corpus; the label predicate stays a per-row filter.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val centroids = Ivf.trainSharedAdaptive(s, d)
        val np = Ivf.adaptiveNprobe(6, centroids.size) // = 6 at both gate tiers
        val frac = Ivf.poolCeilingFrac(centroids.size, np)
        val pairs = Ivf.probeCells(emb.filter(col("vec_id") < 20), centroids, np)
          .join(Ivf.index(emb, centroids), Seq("bucket"))
          .filter(col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"))
        val served = hardNegChain(emb, col("vec_id") < 20, Some(pairs))
        val exact = hardNegChain(emb, col("vec_id") < 20, None)
        val recall = Gate.recallGate(exact, served.select(col("q_id"), col("n_id")), 0.5)
          .withColumnRenamed("n_queries", "n_anchors")
          .withColumnRenamed("recall_ge_floor", "mined_recall_ge_floor")
        Gate.withCounts(recall, "n_corpus" -> emb, "n_pairs" -> pairs, "n_mined" -> served)
          .select(
            col("n_anchors"),
            col("mined_recall_ge_floor"),
            Gate.ceiling(col("n_pairs"), frac, col("n_anchors"), col("n_corpus"))
              .as("cand_sub_quadratic"),
            (col("n_mined") === col("n_anchors") * 3).as("full_mining"))
      },
      Some(
        "SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_anchors, " +
          "true AS mined_recall_ge_floor, true AS cand_sub_quadratic, " +
          "true AS full_mining FROM embeddings WHERE vec_id < 20")
    ),
    Q(
      "q_rank_eval",
      // Retrieval-quality evaluation as a first-class op: nDCG@10, MRR,
      // and hit count for the truncated-dimension fast pass
      // (q_sim_truncate's 16-of-64 ranking) judged against the exact
      // full-dimension ranking — the eval harness every retrieval change
      // must clear before shipping. Cross-engine EXACT end to end: both
      // rankings use the quantized-integer dot + single sqrt chain (the
      // q_mmr_rerank recipe), graded relevance is 11 − exact_rank, and
      // the position discounts are INTEGER LITERAL weights
      // W(r) = round(1e6/log2(r+1)) / Wm(r) = round(1e6/r) computed once
      // at plan build and embedded in both engines — so DCG/MRR sums are
      // exact Longs and nDCG is one deterministic double division by the
      // constant ideal DCG. MRR falls out of the weight table's
      // monotonicity: max over hits of Wm(rank) IS round(1e6/first_hit).
      // Scale shape: two rank computations (each the corpus-bounded
      // candidate chain — production swaps in any served ranking) plus
      // one 10-row-per-query join and a per-query agg; the metric stage
      // is rank-list-sized, never corpus-sized.
      (s, d) => rankEval(Tables(s, d, "embeddings"), col("vec_id") < 10).orderBy("q_id"),
      Some {
        val wDcg = (1 to 10).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))
        val wMrr = (1 to 10).map(r => math.round(1e6 / r.toDouble))
        val idcg = (1 to 10).map(r => (11 - r) * wDcg(r - 1)).sum
        val wtab = (1 to 10)
          .map(r => s"(${r}, ${wDcg(r - 1)}, ${wMrr(r - 1)})").mkString(", ")
        "WITH n AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000)) AS v FROM embeddings), " +
          "nn AS (SELECT vec_id, v, v[1:16] AS vt, list_dot_product(v, v) AS n2, " +
          "list_dot_product(v[1:16], v[1:16]) AS n2t FROM n), " +
          "scored AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
          "list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)) AS cos_full, " +
          "list_dot_product(q.vt, c.vt) / (sqrt(q.n2t) * sqrt(c.n2t)) AS cos_trunc " +
          "FROM nn q CROSS JOIN nn c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id), " +
          "truth AS (SELECT q_id, n_id, CAST(11 - frnk AS BIGINT) AS rel FROM " +
          "(SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_full DESC, n_id) AS frnk FROM scored) WHERE frnk <= 10), " +
          "sysr AS (SELECT q_id, n_id, srnk FROM " +
          "(SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_trunc DESC, n_id) AS srnk FROM scored) WHERE srnk <= 10), " +
          s"wtab(r, wd, wm) AS (VALUES $wtab), " +
          "j AS (SELECT s.q_id, COALESCE(t.rel, 0) AS rel0, w.wd, w.wm FROM sysr s " +
          "LEFT JOIN truth t ON t.q_id = s.q_id AND t.n_id = s.n_id " +
          "JOIN wtab w ON w.r = s.srnk) " +
          "SELECT q_id, CAST(SUM(CASE WHEN rel0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits, " +
          "CAST(SUM(rel0 * wd) AS BIGINT) AS dcg_fp, " +
          "CAST(COALESCE(MAX(CASE WHEN rel0 > 0 THEN wm END), 0) AS BIGINT) AS mrr_fp, " +
          s"CAST(SUM(rel0 * wd) AS DOUBLE) / ${idcg}.0 AS ndcg " +
          "FROM j GROUP BY q_id ORDER BY q_id"
      }
    ),
    Q(
      "q_mmr_rerank",
      // Maximal-marginal-relevance diversified re-ranking (Carbonell &
      // Goldstein 1998) — the serving-side stage between retrieval and
      // the consumer: from each query's top-20 cosine candidates, greedily
      // select 5 maximizing λ·rel − (1−λ)·max-sim-to-selected with λ=1/2
      // (scored ×2 so mmr2 = rel − maxsim needs no fraction). EXACT
      // cross-engine: embeddings quantize to integer fixed point
      // (round(x·1e6) — products stay < 2^48, dot sums exact in doubles
      // regardless of fold order), and every cosine is the single
      // dot/(sqrt·sqrt) chain of the q_sparse_cosine gate, so both
      // engines compare identical doubles; ties break on n_id. Scale
      // shape: candidate generation is pluggable (brute force here for
      // exactness — production swaps in the IVF top-K, same contract);
      // the MMR stage itself touches only K=20 rows and K² sims PER
      // QUERY, each greedy round one bounded join + per-query argmax —
      // work is queries·K², never corpus-sized. cand/sims are
      // localCheckpoint'd so the 4 unrolled rounds don't replay the scan.
      (s, d) =>
        mmrSelect(Tables(s, d, "embeddings"), col("vec_id") < 5)
          .orderBy("q_id", "sel_rank"),
      Some {
        val base =
          "n AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000)) AS v FROM embeddings), " +
            "nn AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM n), " +
            "rels AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
            "list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)) AS rel " +
            "FROM nn q CROSS JOIN nn c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id), " +
            "cand AS (SELECT q_id, n_id, rel FROM (SELECT q_id, n_id, rel, " +
            "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS crnk FROM rels) WHERE crnk <= 20), " +
            "sims AS (SELECT a.q_id AS q_id, a.n_id AS a_id, b.n_id AS b_id, " +
            "list_dot_product(na.v, nb.v) / (sqrt(na.n2) * sqrt(nb.n2)) AS sim " +
            "FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id " +
            "JOIN nn na ON na.vec_id = a.n_id JOIN nn nb ON nb.vec_id = b.n_id), " +
            "s1 AS (SELECT q_id, CAST(1 AS BIGINT) AS sel_rank, n_id, rel AS mmr2 FROM " +
            "(SELECT q_id, n_id, rel, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rn FROM cand) WHERE rn = 1), " +
            "sel1 AS (SELECT q_id, n_id FROM s1)"
        val rounds = (2 to 5).map { t =>
          s"m$t AS (SELECT c.q_id AS q_id, c.n_id AS n_id, MAX(c.rel) AS rel, MAX(s.sim) AS maxsim " +
            s"FROM cand c LEFT JOIN sel${t - 1} d ON d.q_id = c.q_id AND d.n_id = c.n_id " +
            s"JOIN sims s ON s.q_id = c.q_id AND s.a_id = c.n_id " +
            s"JOIN sel${t - 1} x ON x.q_id = s.q_id AND x.n_id = s.b_id " +
            s"WHERE d.n_id IS NULL GROUP BY c.q_id, c.n_id), " +
            s"s$t AS (SELECT q_id, CAST($t AS BIGINT) AS sel_rank, n_id, mmr2 FROM " +
            s"(SELECT q_id, n_id, rel - maxsim AS mmr2, " +
            s"ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel - maxsim DESC, n_id) AS rn FROM m$t) WHERE rn = 1), " +
            s"sel$t AS (SELECT q_id, n_id FROM sel${t - 1} UNION ALL SELECT q_id, n_id FROM s$t)"
        }.mkString(", ")
        val out = (1 to 5)
          .map(t => s"SELECT q_id, sel_rank, n_id, mmr2 FROM s$t")
          .mkString(" UNION ALL ")
        s"WITH $base, $rounds SELECT q_id, sel_rank, n_id, mmr2 FROM ($out) ORDER BY q_id, sel_rank"
      }
    ),
    Q(
      "q_mmr_rerank_ivf",
      // The SERVED MMR composition (round-13 open thread): candidates
      // come from the stored IVF coarse quantizer (probeCells ⋈ index on
      // bucket, corpus-adaptive k — 16 at fixture scale — / nprobe=6)
      // instead of the exact corpus scan;
      // scoring, top-20 truncation, and the greedy λ=1/2 selection are
      // the IDENTICAL q_mmr_rerank chain (mmrGreedy is shared code).
      // Gate design note: the SELECTED-set overlap vs exact MMR is
      // deliberately NOT gated — measured 0.20–0.56 across nprobe 4–8 at
      // both SFs, because greedy diversification amplifies any pool
      // difference (one missing candidate redirects every later round).
      // The honest contract is the one production tunes: POOL quality.
      // The registered row carries
      //   - n_queries: real oracle differential (recallGate's count);
      //   - pool_recall_ge_floor: the probed pool must contain ≥ 50% of
      //     the exact top-20 per-query candidates (measured 0.65
      //     sf0.001 / 0.62 sf0.01 at nprobe=6; 0.45/0.48 at nprobe=4 —
      //     the two-point sensitivity behind this constant);
      //   - cand_sub_quadratic: pool ≤ poolCeilingFrac(k, 6)·queries×
      //     corpus (0.5625 at the sf0.1 tier's k=16 — balanced cells
      //     give nprobe/k = 0.375, measured 0.38 — capped vacuous at
      //     sf0.01's k=8) — flips if candidate
      //     generation regresses toward all pairs, and the bound
      //     TIGHTENS with k at scale instead of staying a constant;
      //   - full_selection: the served greedy fills all 5 slots/query.
      // Scale: this is the 100 TB form — MMR's K² stage was already
      // corpus-free; now candidate generation is too (probe work ∝
      // nprobe·cell, not corpus).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val coarse = Ivf.trainSharedAdaptive(s, d)
        val np = Ivf.adaptiveNprobe(6, coarse.size) // = 6 at both gate tiers
        val frac = Ivf.poolCeilingFrac(coarse.size, np)
        val (ivfSel, pairs) = mmrServedIvf(
          s, emb, col("vec_id") < 5, k = coarse.size, nprobe = np,
          coarse = Some(coarse))
        val exactSel = mmrSelect(emb, col("vec_id") < 5)
        val exact20 = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 20)
        Gate.withCounts(
          Gate.recallGate(exact20, pairs.select(col("q_id"), col("n_id")), 0.5),
          "n_corpus" -> emb, "n_pairs" -> pairs, "n_exact" -> exactSel, "n_ivf" -> ivfSel)
          .select(
            col("n_queries"),
            col("recall_ge_floor").as("pool_recall_ge_floor"),
            Gate.ceiling(col("n_pairs"), frac, col("n_queries"), col("n_corpus"))
              .as("cand_sub_quadratic"),
            (col("n_ivf") === col("n_exact")).as("full_selection"))
      },
      Some(
        "SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries, " +
          "true AS pool_recall_ge_floor, true AS cand_sub_quadratic, " +
          "true AS full_selection FROM embeddings WHERE vec_id < 5")
    )
  )
}
