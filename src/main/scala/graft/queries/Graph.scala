package graft.queries

import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{Agg, ArtifactStore, Ckpt, Tables}
import graft.ext.Gate
import graft.core.Ckpt.TruncateOps

/** Graph analytics beyond near-dup connected components
  * (`graft.ext.Dedup.connectedComponents`): deterministic fixed-iteration
  * PageRank over the supplier→part shipment graph derived from lineitem.
  *
  * Iterative dataflow shape: each round is one join (edges × ranks, keyed
  * on src) plus one hash-agg (contributions keyed on dst) — the classic
  * Pregel-as-joins plan. Rounds are FIXED (3), so the whole computation is
  * one linear Catalyst plan with no driver-side convergence loop; ranks
  * never leave the cluster. Cross-engine determinism: the per-target
  * contribution sum is the only float reduction, and it goes through the
  * fixed-point dsum recipe each round, so both engines see identical
  * doubles every iteration (simplified PageRank: dangling-node mass is
  * not redistributed — identically in both engines).
  */
object Graph {

  private val Damping = 0.85
  private val Iters = 3

  /** Unroll depth the q_kcore oracle carries — the registered loop must
    * converge within it (asserted as the gated boolean; a deeper peel
    * would value-mismatch the surviving relation regardless). GraphSpec
    * measures the fixture's ACTUAL peel depth and asserts headroom ≥ 1
    * against this (round-19 verdict #5): a data-tier change fails in
    * the suite with this constant named, not first at verify time.
    */
  private[graft] val KcoreUnroll = 8

  /** Per-phase peel unroll the q_coreness oracle carries (measured
    * fixture phase depth ≤ 9 at sf0.01/sf0.1; GraphSpec asserts
    * headroom), the oracle's k-breadth (fixture degeneracy 8 + 1,
    * headroom asserted likewise), and the outer-phase runaway cap.
    */
  private[graft] val CorenessUnroll = 12
  private[graft] val CorenessOracleKMax = 9
  private[graft] val CorenessMaxK = 32

  val queries: Seq[Q] = Seq(
    Q(
      "q_triangle_count",
      // Triangle counting over the part co-purchase graph (parts that
      // appear in the same order — the basket projection every
      // market-basket / co-occurrence analysis starts from). The Spark
      // plan uses DEGREE ORIENTATION: each undirected edge is directed
      // from its lower-(degree, id) endpoint to the higher one, so every
      // triangle has exactly one "apex" and is counted once, and — the
      // scale property — the out-degree of any node in the oriented DAG
      // is O(sqrt(m)), which bounds the fan-out of the wedge join. The
      // naive a<b<c 3-way self-join (what the DuckDB oracle runs) is
      // correct but lets a single hub node generate deg² wedge
      // candidates; orientation is what makes this survive a power-law
      // graph at 100 TB. Basket fan-out itself is bounded (few lines per
      // order), so the edge projection is one co-partitioned self-join.
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        // basket-aggregate pair expansion (see coPairs) replaces the
        // distinct + self-join + distinct chain — same (a < b) pair set,
        // two exchanges fewer (round 21, guide §2.4)
        val e = coPairs(li).select(col("src").as("a"), col("dst").as("b"))
        val deg = e.select(col("a").as("id"))
          .union(e.select(col("b").as("id")))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("deg"))
        val o = e
          .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
          .select(
            when(
              col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
              struct(col("a").as("s"), col("b").as("t")))
              .otherwise(struct(col("b").as("s"), col("a").as("t")))
              .as("e"))
          .select(col("e.s").as("src"), col("e.t").as("dst"))
        val tri = closedTriangles(o, edgeCentric = true)
        // wedges straight from the degree table — deg(deg-1) is even, so
        // integer halving is exact in both engines
        val nodes = deg.agg(
          count(lit(1)).as("n_nodes"),
          expr("sum(deg * (deg - 1)) div 2").as("n_wedges"))
        Gate.withCounts(nodes, "n_edges" -> e)
          .crossJoin(broadcast(tri))
          .select(
            col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
            when(col("n_wedges") === 0, lit(0.0))
              .otherwise(
                (col("n_triangles") * lit(3)).cast("double") / col("n_wedges").cast("double"))
              .as("global_cc"))
      },
      Some(
        "WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
          "e AS (SELECT DISTINCT x.pk AS a, y.pk AS b FROM li x JOIN li y " +
          "ON x.ok = y.ok AND x.pk < y.pk), " +
          "deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
          "(SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id), " +
          "tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM e e1 " +
          "JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
          "ed AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e), " +
          "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, " +
          "CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges FROM deg) " +
          "SELECT n_nodes, n_edges, n_wedges, n_triangles, " +
          "CASE WHEN n_wedges = 0 THEN 0.0 ELSE " +
          "CAST(n_triangles * 3 AS DOUBLE) / CAST(n_wedges AS DOUBLE) END AS global_cc " +
          "FROM nd CROSS JOIN ed CROSS JOIN tri")
    ),
    Q(
      "q_pagerank",
      (s, d) => {
        // Materialize the edge list once: an iterative plan re-evaluates
        // its whole lineage per round, so deriving edges from lineitem
        // inline costs ~4 extra fact scans per iteration. Round 21: the
        // persist-the-graph step now rides the shared lineage-truncation
        // seam (graft.core.Ckpt — localCheckpoint locally, reliable
        // checkpoint dir on a cluster) instead of a parquet write +
        // read-back per relation: same materialize-once effect, no disk
        // round trip.
        val li = graft.core.Ckpt.truncate(
          Tables(s, d, "lineitem")
            .select(
              concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
              concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
            .distinct())
        // nodes and out-degrees are loop-invariant — materialize them too,
        // or every iteration re-runs the 2-scan distinct
        val nodes = graft.core.Ckpt.truncate(
          li.select(col("src").as("id"))
            .union(li.select(col("dst").as("id")))
            .distinct())
        val outdeg = graft.core.Ckpt.truncate(
          li.groupBy(col("src")).agg(count(lit(1)).as("deg")))
        // one driver scalar (node count) — a control decision, not data
        val n = nodes.count().toDouble
        var ranks = nodes.withColumn("r", lit(1.0 / n))
        for (_ <- 1 to Iters) {
          val contrib = li
            .join(ranks, li("src") === ranks("id"))
            .join(outdeg, "src")
            .select(col("dst").as("id"), (col("r") / col("deg").cast("double")).as("c"))
            .groupBy(col("id"))
            .agg(Agg.dsum(col("c")).as("csum"))
          val next = nodes
            .join(contrib, Seq("id"), "left")
            .select(
              col("id"),
              // 0.15 spelled directly: (1.0 - 0.85) is 0.15000000000000002
              // in IEEE doubles but exactly 0.15 in DuckDB's decimal
              // literal arithmetic — the one-ulp difference would leak
              // into every rank
              (lit(0.15 / n) + lit(Damping) * coalesce(col("csum"), lit(0.0))).as("r"))
          // checkpoint the (tiny) rank vector each round: a lazily-chained
          // loop re-executes every earlier iteration inside the next one
          // (O(iters²) total work) — materializing loop state is the
          // iterative-dataflow half of making this linear in iters
          ranks = graft.core.Ckpt.truncate(next)
        }
        ranks.orderBy(col("r").desc, col("id")).limit(20)
      },
      Some {
        def iter(prev: String, out: String) =
          s"c$out AS (SELECT dst AS id, " + Agg.dsumSql("r / CAST(deg AS DOUBLE)") +
            s" AS csum FROM e JOIN r$prev ON e.src = r$prev.id JOIN od USING (src) GROUP BY dst), " +
            s"r$out AS (SELECT nodes.id, 0.15 / n + 0.85 * COALESCE(csum, 0.0) AS r " +
            s"FROM nodes CROSS JOIN nn LEFT JOIN c$out ON nodes.id = c$out.id), "
        "WITH e AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src, " +
          "'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem), " +
          "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
          "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes), " +
          "od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src), " +
          "r0 AS (SELECT id, 1.0 / n AS r FROM nodes CROSS JOIN nn), " +
          iter("0", "1") + iter("1", "2") +
          iter("2", "3").stripSuffix(", ") + " " +
          "SELECT id, r FROM r3 ORDER BY r DESC, id LIMIT 20"
      }
    ),
    Q(
      "q_bfs_hops",
      // Single-source BFS hop distances over the part co-purchase graph
      // — the iterative FRONTIER dataflow (delta iteration) that
      // completes the graph family next to the fixed-round PageRank and
      // the wedge-join triangles: label propagation, reachability,
      // influence radius, and the dedup-component closure all reduce to
      // this shape. Scale property: each round joins ONLY the previous
      // frontier (the delta) against the edge list — never the full
      // visited set — so round cost tracks the frontier wave, not the
      // graph; each round's state is eagerly checkpointed (the PageRank
      // loop-invariant lesson: a lazily-chained round re-executes every
      // earlier one). Source = MIN part id (deterministic), hops
      // bounded at 4 (a fixed linear plan, no driver convergence loop).
      // Output is the full (pk, dist) reachability relation — integer
      // hop distances, so the differential is exact; DuckDB re-derives
      // it with a recursive CTE bounded at the same depth.
      (s, d) => {
        // no .distinct() on the basket relation: coPurchaseEdges dedups
        // inside its basket aggregate (round 21), and min(pk) is
        // duplicate-blind
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = coPurchaseEdges(li, partitionBySrc = true)
        val src = li.agg(min(col("pk"))).head().getLong(0)
        bfsFrom(s, edges, src, hops = 4).orderBy("pk")
      },
      Some(
        "WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
          "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
          "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
          "bfs(pk, dist) AS (" +
          "SELECT src, 0 FROM (SELECT MIN(pk) AS src FROM li) " +
          "UNION " +
          "SELECT e.dst, b.dist + 1 FROM bfs b JOIN e ON e.src = b.pk WHERE b.dist < 4) " +
          "SELECT pk, CAST(MIN(dist) AS INT) AS dist FROM bfs GROUP BY pk ORDER BY pk")
    ),
    Q(
      "q_label_prop",
      // Synchronous min-label propagation, 3 fixed rounds — the
      // community-seeding iteration (label propagation / the Pregel
      // "hash-min" connected-components kernel) as the third iterative
      // dataflow shape next to BFS (frontier) and PageRank (weighted
      // contributions): every node's next label is the min of its own
      // and all neighbors'. Deterministic integers end to end, so the
      // gate is the FULL (pk, label) relation after round 3 — a
      // partial-convergence snapshot (3 rounds ≡ labels within 3 hops),
      // which is also what makes it oracle-able: DuckDB unrolls the
      // same three joins. Per-round state is eagerly checkpointed; at
      // scale each round is one shuffle keyed on the edge join.
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        labelProp(coPurchaseEdges(li, partitionBySrc = true), rounds = 3).orderBy("pk")
      },
      Some {
        def round(prev: String, out: String) =
          s"l$out AS (SELECT pk, MIN(label) AS label FROM (" +
            s"SELECT pk, label FROM l$prev UNION ALL " +
            s"SELECT e.dst AS pk, l$prev.label FROM e JOIN l$prev ON e.src = l$prev.pk" +
            ") GROUP BY pk), "
        "WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
          "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
          "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
          "l0 AS (SELECT DISTINCT src AS pk, src AS label FROM e), " +
          round("0", "1") + round("1", "2") +
          round("2", "3").stripSuffix(", ") + " " +
          "SELECT pk, label FROM l3 ORDER BY pk"
      }
    ),
    Q(
      "q_sssp_weighted",
      // Bounded Bellman-Ford — weighted single-source shortest paths,
      // 4 relaxation rounds, completing the iterative trio's WEIGHTED
      // member: unlike BFS's unit hops, each edge carries a
      // deterministic integer weight (1 + (src+dst) % 5 — synthetic but
      // engine-identical arithmetic). The registered form is the
      // DELTA-OPTIMIZED relaxation (SPFA shape): each round joins ONLY
      // the nodes whose cost IMPROVED last round against the edge list
      // — equivalent to the textbook full relaxation (an unchanged
      // node's contributions were already folded the round it last
      // improved), and the same wave-tracking cost profile the Stress
      // graph tier measures for BFS. After R rounds the cost is exactly
      // min over paths of ≤ R edges — integer math, so the full
      // (pk, cost) relation gates exactly against DuckDB's
      // depth-bounded recursive enumeration (which also pins the
      // delta ≡ full equivalence: the oracle enumerates ALL bounded
      // walks).
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        // w is a narrow per-row expression over the already-checkpointed
        // edge relation — no second checkpoint (round 21: the re-
        // materialization cost one extra job for zero recompute saved)
        val edges = coPurchaseEdges(li, partitionBySrc = true)
          .withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(5L)))
        val src = li.agg(min(col("pk"))).head().getLong(0)
        ssspFrom(s, edges, src, rounds = 4).orderBy("pk")
      },
      Some(
        "WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
          "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
          "e AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM " +
          "(SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)), " +
          "walk(pk, cost, hops) AS (" +
          "SELECT src, CAST(0 AS BIGINT), 0 FROM (SELECT MIN(pk) AS src FROM li) " +
          "UNION " +
          "SELECT e.dst, b.cost + e.w, b.hops + 1 FROM walk b JOIN e ON e.src = b.pk WHERE b.hops < 4) " +
          "SELECT pk, CAST(MIN(cost) AS BIGINT) AS cost FROM walk GROUP BY pk ORDER BY pk")
    ),
    Q(
      "q_cc_converged",
      // RUN-TO-FIXPOINT connected components (round-17 verdict #4) —
      // the termination-correct shape a 100 TB graph job actually runs:
      // the trio above proves fixed-round semantics; this row proves the
      // CONVERGENCE LOOP (iterate min-label propagation until the
      // improved-delta is EMPTY, bounded by a runaway cap the fixture
      // never hits). The loop's per-round work is the delta form's —
      // only last round's improved labels join the edge list, so late
      // rounds (the long tail a fixed-round job must over-provision
      // for) cost ~nothing; the per-round driver decision is one
      // bounded count on a checkpointed delta. Graph = the co-purchase
      // graph induced on pk < 500 (multiple non-trivial components —
      // a giant component would make the fixpoint trivial at depth 2),
      // nodes = every part in the induced basket relation, INCLUDING
      // isolated ones (their component is themselves — the off-by-one
      // a src-only label init silently drops). Integer min labels are
      // engine-exact, so the FULL (pk, label) relation gates against
      // DuckDB's UNBOUNDED recursive CTE: the monotone walk
      // (propagate lbl across an edge only while lbl < dst) reaches
      // every node from its component minimum — the component min is
      // below every other member, so no step of its spanning walk is
      // pruned — and MIN(lbl) per node is exactly the component id.
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .filter(col("pk") < 500)
        val nodes = li.select(col("pk")).distinct()
        val (labels, _, _, done) = ccConverged(nodes, coPurchaseEdges(li, partitionBySrc = true))
        labels
          .withColumn("converged", lit(done))
          .orderBy("pk")
      },
      Some(
        "WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
          "FROM lineitem WHERE l_partkey < 500), " +
          "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x " +
          "JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
          "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
          "walk(pk, lbl) AS (" +
          "SELECT pk, pk FROM (SELECT DISTINCT pk FROM li) " +
          "UNION " +
          "SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.pk WHERE w.lbl < e.dst) " +
          "SELECT pk, CAST(MIN(lbl) AS BIGINT) AS label, true AS converged " +
          "FROM walk GROUP BY pk ORDER BY pk")
    ),
    Q(
      "q_cc_incremental",
      // INCREMENTAL connected components — the maintenance half of
      // q_cc_converged, the way tombstone/insert complete the NSW
      // family: a delta edge batch arrives (here: the odd orders'
      // baskets, on a pk domain disjoint in shape from q_cc_converged's
      // — every fourth part, so the induced graph exists at EVERY
      // fixture scale including sf0.001's 200-part domain) and the
      // stored component labels are REPAIRED, not recomputed — warm
      // start from the stored labels (new nodes self-labeled) with the
      // improvement wave SEEDED at exactly the changed neighborhoods
      // (delta-edge endpoints + new nodes). Correctness is structural:
      // every stored label is a member of its component, so the merged
      // component's minimum still labels itself at init and min-label
      // propagation converges to the same fixpoint a cold run reaches —
      // which the gate enforces BOTH ways: matches_cold compares the
      // repaired relation against an in-plan cold recompute
      // (gate-scale-only truth), and the full (pk, label) relation
      // gates against DuckDB's unbounded CTE on the merged graph. At
      // 100 TB this is the difference between a per-batch global CC
      // job and touching only components the batch's wave reaches:
      // warm_wave_le_cold pins that the warm run's total improvement
      // volume never exceeds the cold run's.
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .filter(col("pk") % 4 === 1)
        val liBase = li.filter(col("ok") % 2 === 0)
        val liDelta = li.filter(col("ok") % 2 === 1)
        val nodesAll = li.select(col("pk")).distinct()
        val nodesBase = liBase.select(col("pk")).distinct()
        val eAll = coPurchaseEdges(li, partitionBySrc = true)
        val eBase = coPurchaseEdges(liBase, partitionBySrc = true)
        val eDelta = coPurchaseEdges(liDelta)
        // the "stored artifact": labels of the base graph
        val (labels0, _, _, _) = ccConverged(nodesBase, eBase)
        val newNodes = nodesAll.join(nodesBase, Seq("pk"), "left_anti")
        val init = labels0.unionByName(newNodes.select(col("pk"), col("pk").as("label")))
        val seed = eDelta.select(col("src").as("pk")).unionByName(newNodes).distinct()
        val (labelsInc, _, wavesInc, doneInc) =
          ccConvergedFrom(init, eAll, seed = Some(seed))
        // in-plan cold truth (gate-scale-only — it IS the contract)
        val (labelsCold, _, wavesCold, _) = ccConverged(nodesAll, eAll)
        val mismatches = labelsInc
          .join(
            labelsCold.select(col("pk"), col("label").as("__cold")),
            Seq("pk"), "full_outer")
          .filter(col("label").isNull || col("__cold").isNull ||
            col("label") =!= col("__cold"))
          .count()
        labelsInc
          .withColumn("converged", lit(doneInc))
          .withColumn("matches_cold", lit(mismatches == 0L))
          .withColumn("warm_wave_le_cold", lit(wavesInc.sum <= wavesCold.sum))
          .orderBy("pk")
      },
      Some(
        "WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
          "FROM lineitem WHERE l_partkey % 4 = 1), " +
          "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x " +
          "JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
          "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
          "walk(pk, lbl) AS (" +
          "SELECT pk, pk FROM (SELECT DISTINCT pk FROM li) " +
          "UNION " +
          "SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.pk WHERE w.lbl < e.dst) " +
          "SELECT pk, CAST(MIN(lbl) AS BIGINT) AS label, true AS converged, " +
          "true AS matches_cold, true AS warm_wave_le_cold " +
          "FROM walk GROUP BY pk ORDER BY pk")
    ),
    Q(
      "q_cc_star",
      // Star-contraction connected components ([[ccStar]] — Kiveris et
      // al.'s alternating large-star/small-star): the LOG-ROUND CC
      // that q_cc_converged's min-label propagation is not — hash-min
      // needs diameter-many rounds, star contraction O(log n) on ANY
      // diameter (GraphSpec measures the gap on a planted chain:
      // 6 rounds where hash-min needs 63 at diameter 63 and would trip
      // its runaway cap past it). Same component-minimum labeling, so
      // the full (pk, label) relation rides the shared unbounded-CTE
      // oracle contract on its own induced domain (pk % 4 = 2), plus
      // the logarithmic round bound as a boolean. The star ≡ hash-min
      // A/B (two independent algorithms agreeing on every label) lives
      // in GraphSpec — on the planted chain AND this exact co-purchase
      // domain — NOT in this plan: in-plan it roughly doubled the
      // row's benched time, so the graph-tier series tracked gate
      // cost, not kernel cost (round-19 verdict minor #2; same class
      // as the deliberately-unbenched q_cc_incremental).
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .filter(col("pk") % 4 === 2)
        val nodes = li.select(col("pk")).distinct()
        // feed ccStar the RAW one-directional pair expansion (round 21
        // fed the distinct pair set; round 22 drops that distinct too):
        // ccStar's canon() maps to (u = max, v = min) AND dedups, so
        // both the symmetric-union checkpoint coPurchaseEdges builds and
        // a pre-dedup of the raw pairs were pure waste for this kernel —
        // one exchange fewer, identical canonical edge set.
        val (labels, rounds, doneStar) = ccStar(nodes, coPairsRaw(li))
        val n = nodes.count()
        val logBound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))) + 4
        labels
          // converged folded in: a cap-capped run is not "logarithmic",
          // it's unfinished (the flag, not the round count, is truth)
          .withColumn("rounds_logarithmic", lit(doneStar && rounds <= logBound))
          .orderBy("pk")
      },
      Some(
        "WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
          "FROM lineitem WHERE l_partkey % 4 = 2), " +
          "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x " +
          "JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
          "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
          "walk(pk, lbl) AS (" +
          "SELECT pk, pk FROM (SELECT DISTINCT pk FROM li) " +
          "UNION " +
          "SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.pk WHERE w.lbl < e.dst) " +
          "SELECT pk, CAST(MIN(lbl) AS BIGINT) AS label, " +
          "true AS rounds_logarithmic " +
          "FROM walk GROUP BY pk ORDER BY pk")
    ),
    Q(
      "q_kcore",
      // k-CORE decomposition by iterative peeling (Seidman 1983; the
      // graph-quality curation primitive — spam/link-farm filtering
      // keeps the k-core, influence analyses bucket by coreness): drop
      // every node with fewer than k neighbors, recompute degrees over
      // the SURVIVORS, repeat until stable — the unique maximal
      // subgraph of minimum degree ≥ k. Deterministic set arithmetic,
      // so the FULL surviving relation (pk, deg_in_core) is a value
      // differential: the oracle unrolls the peel as fixed nested CTE
      // rounds (the q_label_prop unrolling trick — peeling is
      // idempotent at the fixpoint, so unrolling PAST convergence
      // changes nothing), and the registered loop asserts it CONVERGED
      // within the unroll depth via kCore's explicit flag — NOT via
      // `rounds <= KcoreUnroll`, which is vacuously true when the loop
      // is capped AT the unroll depth: a peel deeper than the unroll
      // would stop at the same intermediate survivor set the oracle's
      // 8 rounds compute, and a non-k-core relation would pass every
      // gate silently (round-18 ADVICE; GraphSpec plants exactly that
      // deep-peel graph and pins the flag false). Scale shape: each
      // round is one self-join degree count over current survivors +
      // a filter — O(E) a round, rounds bounded by the degeneracy
      // peel depth; per-round driver state is one long.
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .filter(col("pk") % 4 === 0)
        val edges = coPurchaseEdges(li)
        val (core, _, done) = kCore(edges, k = 3, maxRounds = KcoreUnroll)
        core
          .withColumn("converged_in_unroll", lit(done))
          .orderBy("pk")
      },
      Some {
        // unrolled peel: k0 = all endpoints; each round keeps nodes
        // with >= 3 surviving neighbors; 8 rounds (the Spark loop
        // asserts convergence within that depth; extra rounds no-op)
        val k = 3
        val base =
          "li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem " +
            "WHERE l_partkey % 4 = 0), " +
            "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x " +
            "JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
            "e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
            "k0 AS MATERIALIZED (SELECT DISTINCT src AS pk FROM e)"
        // AS MATERIALIZED (DuckDB-only syntax — oracle text never runs
        // in Spark): each round references the previous one TWICE, and
        // DuckDB inlines plain CTEs, which would expand the peel into
        // 2^8 copies of the base subtree (measured: minutes at sf0.1
        // vs sub-second materialized)
        val rounds = (1 to KcoreUnroll).map { r =>
          s"k$r AS MATERIALIZED (SELECT e.src AS pk FROM e " +
            s"JOIN k${r - 1} a ON a.pk = e.src JOIN k${r - 1} b ON b.pk = e.dst " +
            s"GROUP BY e.src HAVING COUNT(*) >= $k)"
        }.mkString(", ")
        s"WITH $base, $rounds, " +
          "f AS (SELECT e.src AS pk, CAST(COUNT(*) AS BIGINT) AS deg_in_core FROM e " +
          s"JOIN k$KcoreUnroll a ON a.pk = e.src JOIN k$KcoreUnroll b ON b.pk = e.dst GROUP BY e.src) " +
          "SELECT pk, deg_in_core, true AS converged_in_unroll FROM f ORDER BY pk"
      }
    ),
    Q(
      "q_coreness",
      // CORENESS decomposition (round-18 verdict #6) — q_kcore answers
      // membership at ONE k; the curation-grade signal is each node's
      // CORE NUMBER (Seidman 1983 degeneracy ordering: bucket docs/
      // domains by how deeply they sit in the link graph — spam farms
      // and boilerplate hubs live in the deep cores, the long tail in
      // the shallow ones). Computed as nested peels: the k-cores are
      // nested, so phase k peels at threshold k STARTING FROM phase
      // (k−1)'s survivors (the production shape — each phase touches
      // only the shrinking core, never the full graph again), and
      // core_number(v) = the number of phases v survives. Domain
      // pk % 10 = 3: measured degeneracy 8 with per-phase peel depth
      // ≤ 9 at both gate tiers — the 12-round phase unroll the oracle
      // carries has headroom, and the loop's converged flags (not
      // round counts — the q_kcore ADVICE lesson) gate that every
      // phase found its fixpoint within it. Deterministic set
      // arithmetic end to end, so the FULL (pk, core_number) relation
      // is the differential; a fixture whose degeneracy outgrows the
      // oracle's k-breadth (9) mismatches loudly rather than passing.
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .filter(col("pk") % 10 === 3)
        val (labels, _, ok) = coreness(coPurchaseEdges(li))
        labels
          .withColumn("phases_converged", lit(ok))
          .orderBy("pk")
      },
      Some {
        val kMax = CorenessOracleKMax // oracle k-breadth: fixture degeneracy + 1
        val unroll = CorenessUnroll   // per-phase peel unroll: measured depth ≤ 9
        val base =
          "li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem " +
            "WHERE l_partkey % 10 = 3), " +
            "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x " +
            "JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
            "e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
            "s1_0 AS MATERIALIZED (SELECT DISTINCT src AS pk FROM e)"
        // nested phases: s{k}_r = survivors with >= k neighbors among
        // s{k}_{r-1}; phase k+1 starts from s{k}_{unroll} (idempotent
        // past each phase's fixpoint, so over-unrolling is a no-op —
        // the q_kcore MATERIALIZED lesson applies 9x here)
        val phases = (1 to kMax).flatMap { k =>
          val start = if (k == 1) "s1_0" else s"s${k - 1}_$unroll"
          (1 to unroll).map { r =>
            val prev = if (r == 1) start else s"s${k}_${r - 1}"
            s"s${k}_$r AS MATERIALIZED (SELECT e.src AS pk FROM e " +
              s"JOIN $prev a ON a.pk = e.src JOIN $prev b ON b.pk = e.dst " +
              s"GROUP BY e.src HAVING COUNT(*) >= $k)"
          }
        }.mkString(", ")
        val membership = (1 to kMax)
          .map(k => s"SELECT pk FROM s${k}_$unroll")
          .mkString(" UNION ALL ")
        s"WITH $base, $phases, f AS ($membership) " +
          "SELECT pk, CAST(COUNT(*) AS BIGINT) AS core_number, " +
          "true AS phases_converged FROM f GROUP BY pk ORDER BY pk"
      }
    ),
    Q(
      "q_cc_repair_served",
      // WARM-ONLY incremental-CC serving (round-18 verdict #5):
      // q_cc_incremental proves repair ≡ cold by running the cold
      // recompute IN-PLAN as its gate, so no registered row showed the
      // warm path's actual cost shape. Here the base labeling is a
      // STORED ARTIFACT (built once per corpus fingerprint through the
      // ArtifactStore.sharedDf registry — the CcStream snapshot shape), and the
      // registered plan runs ONLY the warm wave: stored labels + delta
      // batch → ccConvergedFrom seeded at the changed neighborhoods.
      // No cold ccConverged anywhere in the serve path (GraphSpec pins
      // the second invocation build-free via the ArtifactStore build
      // counter). Gates: the full (pk, label) relation vs the unbounded
      // recursive-CTE oracle on the MERGED graph (the real truth — same
      // contract as the cold rows), converged from the kernel's
      // explicit flag, and a wave-volume ceiling: total improvements ≤
      // (nodes of seed-touched components) × rounds — the warm wave
      // can only ever improve nodes in components the delta reaches,
      // so a repair that floods the whole graph trips the boolean.
      // Domain = q_cc_incremental's (pk % 4 = 1; base even orders,
      // delta odd) so the two rows' oracles cross-check each other.
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .filter(col("pk") % 4 === 1)
        val nodesAll = li.select(col("pk")).distinct()
        val eAll = coPurchaseEdges(li, partitionBySrc = true)
        val eDelta = coPurchaseEdges(li.filter(col("ok") % 2 === 1))
        val labels0 = storedBaseLabels(s, d)
        val newNodes = nodesAll
          .join(labels0.select(col("pk")), Seq("pk"), "left_anti")
        val init = labels0.unionByName(newNodes.select(col("pk"), col("pk").as("label")))
        val seed = eDelta.select(col("src").as("pk")).unionByName(newNodes).distinct()
        val (labels, rounds, waves, done) =
          ccConvergedFrom(init, eAll, seed = Some(seed))
        // affected = nodes of components containing a seed node (read
        // off the REPAIRED labels — two bounded aggregates, no cold run)
        val seedLabels = labels
          .join(seed, Seq("pk"), "left_semi")
          .select(col("label")).distinct()
        val affected = labels.join(seedLabels, Seq("label"), "left_semi").count()
        labels
          .withColumn("converged", lit(done))
          .withColumn(
            "wave_le_affected",
            lit(waves.sum <= affected * math.max(1L, rounds.toLong)))
          .orderBy("pk")
      },
      Some(
        "WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
          "FROM lineitem WHERE l_partkey % 4 = 1), " +
          "e0 AS (SELECT DISTINCT x.pk AS src, y.pk AS dst FROM li x " +
          "JOIN li y ON x.ok = y.ok AND x.pk < y.pk), " +
          "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0), " +
          "walk(pk, lbl) AS (" +
          "SELECT pk, pk FROM (SELECT DISTINCT pk FROM li) " +
          "UNION " +
          "SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.pk WHERE w.lbl < e.dst) " +
          "SELECT pk, CAST(MIN(lbl) AS BIGINT) AS label, true AS converged, " +
          "true AS wave_le_affected " +
          "FROM walk GROUP BY pk ORDER BY pk")
    )
  )

  // (KcoreUnroll / CorenessUnroll / CorenessOracleKMax / CorenessMaxK
  // moved ABOVE the `queries` val: the oracle-SQL blocks reference them
  // EAGERLY at Seq construction — declared after, Scala's in-order
  // object init would have them read 0 there.)

  /** Coreness (core number) by nested peeling: phase k runs [[kCore]]
    * at threshold k over the PREVIOUS phase's surviving subgraph (the
    * k-cores are nested, so this equals peeling the full graph at k —
    * and each phase's work shrinks with the core instead of rescanning
    * the graph). core_number(v) = phases survived. Returns (labels over
    * the edge relation's endpoints, highest non-empty phase, converged
    * — EVERY phase's peel found its fixpoint within [[CorenessUnroll]]
    * AND the outer loop emptied the core before [[CorenessMaxK]]).
    * Driver state per phase: one survivor count; each phase's member
    * set is truncated and the sets are unioned once at the end.
    */
  private[graft] def coreness(
      edges: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Int, Boolean) = {
    val whole = Ckpt.Round.of(edges.select(col("src"), col("dst")), lit(true))
    var cur = whole.df
    val memberSets = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    var k = 0
    var peelsDone = true
    val phases = Ckpt.fixpoint(whole, CorenessMaxK) { prev =>
      // the step only runs after a non-empty phase: restrict the graph to
      // that phase's members before peeling at the next threshold
      if (k > 0) {
        memberSets += prev
        cur = cur
          .join(prev.select(col("pk").as("src")), Seq("src"))
          .join(prev.select(col("pk").as("dst")), Seq("dst"))
          .select(col("src"), col("dst"))
          .truncateLineage()
      }
      k += 1
      val (core, _, done) = kCore(cur, k, CorenessUnroll)
      peelsDone &&= done
      (core.select(col("pk")), lit(true))
    }((_, next) => next.count == 0L)
    // on a CorenessMaxK cap exit the last phase still had survivors
    if (!phases.converged) memberSets += phases.state
    val labels = memberSets
      .reduceOption(_ unionByName _)
      .getOrElse(edges.sparkSession.range(0).select(col("id").as("pk")))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("core_number"))
    (labels, memberSets.size, peelsDone && phases.converged)
  }

  /** The stored base-graph CC labeling behind q_cc_repair_served: built
    * once per corpus fingerprint (cold fixpoint, converged-gated) and
    * persisted through the DataFrame artifact registry — the snapshot a
    * CcStream-style maintainer would have written; every later serve
    * loads parquet, never re-runs the cold CC (GraphSpec pins the
    * build counter).
    */
  private[graft] def storedBaseLabels(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    ArtifactStore.sharedDf(s, ArtifactStore.corpusKey(d, "lineitem", "cc-labels|dom=pk%4=1|base=ok%2=0")) {
      val liBase = Tables(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .filter(col("pk") % 4 === 1 && col("l_orderkey") % 2 === 0)
      val (l, _, _, done) = ccConverged(
        liBase.select(col("pk")).distinct(), coPurchaseEdges(liBase, partitionBySrc = true))
      if (!done)
        throw new IllegalStateException("base CC labeling hit the round cap")
      l
    }

  /** Iterative k-core peeling over a symmetric (src, dst) edge list:
    * keep nodes whose degree AMONG SURVIVORS is ≥ k, to fixpoint.
    * Returns (survivors with their in-core degree, rounds run,
    * converged — the loop exited on a NO-CHANGE round, not on the
    * `maxRounds` cap). A peel deeper than the cap stops at an
    * intermediate survivor set that is NOT a k-core, so callers gate on
    * the flag. Callers pass an already-truncated edge relation; the loop
    * only references it and the per-round survivor sets, so lineage
    * cannot nest.
    */
  private[graft] def kCore(
      edges: org.apache.spark.sql.DataFrame,
      k: Int,
      maxRounds: Int): (org.apache.spark.sql.DataFrame, Int, Boolean) = {
    val e = edges.select(col("src"), col("dst"))
    def inCore(keep: org.apache.spark.sql.DataFrame) = e
      .join(keep.select(col("pk").as("src")), Seq("src"))
      .join(keep.select(col("pk").as("dst")), Seq("dst"))
      .groupBy(col("src"))
    val peel = Ckpt.fixpoint(
      Ckpt.Round.of(e.select(col("src").as("pk")).distinct(), lit(true)), maxRounds) { keep =>
      (inCore(keep).agg(count(lit(1)).as("deg")).filter(col("deg") >= k).select(col("src").as("pk")),
        lit(true))
    }((prev, next) => next.count == prev.count)
    val core = inCore(peel.state)
      .agg(count(lit(1)).as("deg_in_core"))
      .select(col("src").as("pk"), col("deg_in_core"))
    (core, peel.rounds, peel.converged)
  }

  /** Runaway cap for [[ccConverged]] — far above any fixture diameter;
    * the registered row gates `converged` = the loop exited on an EMPTY
    * delta, not on this cap.
    */
  private[graft] val CcMaxRounds = 64

  /** Min-label propagation TO FIXPOINT: delta rounds until no label
    * improves (or `maxRounds` as the runaway backstop). Returns
    * (labels, rounds run, per-round improved counts — the wave profile
    * the Stress graph tier charts: late-round deltas shrink toward
    * empty, which is exactly the work a fixed-round job wastes,
    * converged — the loop SAW the empty wave rather than hitting the
    * cap). Per-round driver state is ONE long (the improved count);
    * labels never leave the cluster.
    */
  private[graft] def ccConverged(
      nodes: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      maxRounds: Int = CcMaxRounds)
      : (org.apache.spark.sql.DataFrame, Int, Seq[Long], Boolean) =
    ccConvergedFrom(nodes.select(col("pk"), col("pk").as("label")), edges, maxRounds)

  /** [[ccConverged]] from an ARBITRARY initial labeling — the warm-start
    * entry the incremental form uses. Correctness requirement on `init`:
    * every label value must itself be a node of the component it labels
    * (self-labels and previously-converged component minima both
    * qualify) — then min-label propagation still converges to each
    * merged component's minimum node id, because that minimum m labels
    * ITSELF in init (any smaller stored label would name a smaller
    * member) and every smaller foreign label would contradict m's
    * minimality.
    *
    * Warm starts pass `seed` = the nodes whose neighborhoods actually
    * changed (delta-edge endpoints + new nodes): the improvement wave
    * can only START at a changed neighborhood, so round 1 propagates
    * the seed's labels only, not the corpus's.
    *
    * The state is (pk, label, __chg): a round propagates the changed
    * labels along the edges, and ONE left join computes both the new
    * label min(old, candidate) and its change flag, checkpointed once;
    * the next delta is a narrow filter of that checkpoint. The cold
    * start carries no flag: every label is the delta, and round 1 reads
    * the same relation on both join sides, so AQE reuses its exchange.
    */
  private[graft] def ccConvergedFrom(
      init: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      maxRounds: Int = CcMaxRounds,
      seed: Option[org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame, Int, Seq[Long], Boolean) = {
    val labels0 = init.select(col("pk"), col("label"))
    val state0 = seed match {
      case Some(sd) =>
        Ckpt.Round.of(
          labels0
            .join(sd.select(col("pk")).distinct().withColumn("__chg", lit(true)), Seq("pk"), "left")
            .select(col("pk"), col("label"), coalesce(col("__chg"), lit(false)).as("__chg")),
          col("__chg"))
      case None => Ckpt.Round.of(labels0, lit(true))
    }
    val run = Ckpt.fixpoint(state0, maxRounds) { state =>
      val labels = state.select(col("pk"), col("label"))
      val delta =
        if (state.columns.contains("__chg")) state.filter(col("__chg")).select(col("pk"), col("label"))
        else labels
      val fromNbr = edges
        .join(delta, col("src") === col("pk"))
        .select(col("dst").as("pk"), col("label"))
        .groupBy(col("pk")).agg(min(col("label")).as("__new"))
      val merged = labels
        .join(fromNbr, Seq("pk"), "left")
        .select(
          col("pk"),
          when(col("__new") < col("label"), col("__new")).otherwise(col("label")).as("label"),
          (col("__new") < col("label")).as("__chg"))
      (merged, col("__chg"))
    }((_, next) => next.count == 0L)
    (run.state.select(col("pk"), col("label")), run.rounds, run.counts, run.converged)
  }

  /** Star-contraction connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond" — the
    * alternating large-star/small-star algorithm): converges in
    * O(log n) ROUNDS on ANY graph, where min-label propagation
    * ([[ccConverged]]) needs DIAMETER-many rounds — the difference
    * between 4 rounds and 4 million on a 100 TB chain-shaped graph
    * (web crawls, citation chains, temporally-linked sessions).
    *
    *   - large-star: every node u emits (v, m(u)) for each STRICTLY
    *     LARGER neighbor v, where m(u) = min(Γ(u) ∪ {u}) — big nodes
    *     re-hang onto their neighborhood's minimum (keeps every
    *     component connected, provably halves long tails);
    *   - small-star: every node u emits (v, m(u)) for each ≤-neighbor
    *     v plus itself, m(u) = min of its DOWN-neighborhood ∪ {u} —
    *     local stars flatten onto their centers.
    *
    * Both operations preserve the component partition and only ever
    * point nodes DOWNWARD, so the edge multiset strictly shrinks
    * toward the fixpoint: a forest of stars, each centered at its
    * component MINIMUM — the same labeling [[ccConverged]] reaches
    * (q_cc_star gates the equality in-plan, plus the shared oracle
    * contract). Per round: two groupBy-min aggregations and two
    * equi-joins on node ids — no corpus-sized state beyond the edge
    * list itself, and the list shrinks as stars collapse.
    *
    * Returns (labels over `nodes` — isolated nodes label themselves,
    * rounds run, converged — the fixpoint was DETECTED, not the cap
    * hit; a run that stabilizes exactly on the last permitted round
    * reads rounds == maxRounds AND converged = true, so callers must
    * gate on the flag, never on the round count). An empty edge set is
    * converged after 0 rounds.
    */
  private[graft] def ccStar(
      nodes: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      maxRounds: Int = CcMaxRounds)
      : (org.apache.spark.sql.DataFrame, Int, Boolean) = {
    // canonical down-directed form (u > v), self-loops dropped
    def canon(e: org.apache.spark.sql.DataFrame) =
      e.filter(col("src") =!= col("dst"))
        .select(
          greatest(col("src"), col("dst")).as("u"),
          least(col("src"), col("dst")).as("v"))
        .distinct()
    def largeStar(e: org.apache.spark.sql.DataFrame) = {
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      val m = sym.groupBy(col("a"))
        .agg(least(min(col("b")), first(col("a"))).as("m"))
      sym.filter(col("b") > col("a"))
        .join(m, Seq("a"))
        .select(col("b").as("src"), col("m").as("dst"))
    }
    def smallStar(e: org.apache.spark.sql.DataFrame) = {
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(m, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .unionByName(m.select(col("u").as("src"), col("m").as("dst")))
    }
    val init = Ckpt.Round.of(canon(edges), lit(true))
    val run =
      if (init.count == 0L) Ckpt.Fixpoint(init.df, 0, Nil, converged = true)
      else
        // largeStar's output is already down-directed (m ≤ a < b) and
        // smallStar is a set function of its input, so one canon per
        // round dedupes the result
        Ckpt.fixpoint(init, maxRounds) { cur =>
          val ls = largeStar(cur).select(col("src").as("u"), col("dst").as("v"))
          (canon(smallStar(ls)), lit(true))
        } { (prev, next) =>
          // the canonical edge set is unchanged: counts equal first (early
          // rounds shrink the set, so this alone decides them), then, both
          // sides being DISTINCT edge lists, an empty symmetric difference
          next.count == prev.count &&
          next.df.select(col("u"), col("v"), lit(1).as("__n"))
            .join(prev.df.select(col("u"), col("v"), lit(1).as("__c")), Seq("u", "v"), "full_outer")
            .filter(col("__n").isNull || col("__c").isNull)
            .isEmpty
        }
    val labels = nodes
      .join(run.state.select(col("u").as("pk"), col("v").as("label")), Seq("pk"), "left")
      .select(col("pk"), coalesce(col("label"), col("pk")).as("label"))
    (labels, run.rounds, run.converged)
  }

  /** One-directional distinct co-purchase pairs (src < dst) from an
    * (ok, pk) basket relation — input need NOT be distinct
    * (collect_set dedups per basket). Round-21 optimization (guide
    * §2.4, remove shuffles outright): the old shape was
    * distinct(ok,pk) → self-join on ok → distinct(src,dst) — four
    * exchange legs plus a join whose (ok,pk)-hashed inputs both had to
    * re-shuffle on ok. This shape is groupBy(ok).collect_set (ONE
    * exchange, dedup folded into the aggregate map-side) → in-row pair
    * expansion over the sorted basket array (src < dst by position —
    * pure per-row HOF work, basket fan-out is bounded by lines/order)
    * → distinct(src,dst) (ONE exchange). Callers drop their
    * `.distinct()` on the basket relation. Measured min-of-3 at sf0.1:
    * q_label_prop 5.48 → 4.26 s before the round-fusion change.
    */
  private[graft] def coPairs(
      li: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    coPairsRaw(li).distinct()

  /** Session conf key bounding the per-basket part count [[coPairsRaw]]
    * will expand in-row (default 1024 ≈ 0.5M pairs / ~8 MB of structs in
    * ONE aggregation row — far above this data model's ≤7 lines/order,
    * far below a single-row OOM). The basket aggregate concentrates a
    * basket's O(b²) pair expansion into one row where the old self-join
    * spread it across tasks, so a heavy-hitter key (a malformed default
    * id, a null-like sentinel) must FAIL LOUDLY at the bound instead of
    * silently OOMing an executor at 100 TB (round-21 verdict #2 /
    * ADVICE). Raise the conf only with executor memory sized for b².
    */
  private[graft] val MaxBasketKey = "graft.copairs.maxBasket"

  /** The basket array under the [[MaxBasketKey]] guard (default 1024,
    * read from `li`'s session): over-bound baskets raise instead of
    * expanding O(b²) pairs in one row.
    */
  private def guardedBasket(li: org.apache.spark.sql.DataFrame): String = {
    val maxBasket = li.sparkSession.conf.get(MaxBasketKey, "1024").toInt
    s"CASE WHEN size(ps) > $maxBasket THEN " +
      s"raise_error(concat('$MaxBasketKey exceeded: ', CAST(size(ps) AS STRING), " +
      s"' parts in basket ', CAST(ok AS STRING), ' (bound $maxBasket)')) " +
      "ELSE ps END"
  }

  /** [[coPairs]] WITHOUT the final (src, dst) dedup — for callers that
    * fold the dedup into their own downstream exchange
    * ([[coPurchaseEdges]] partitionBySrc). Null order keys are dropped
    * (matching the old equi-self-join's null semantics — groupBy would
    * otherwise cross-pair every null-keyed part into one giant basket;
    * round-21 ADVICE), and baskets over [[MaxBasketKey]] raise rather
    * than expand (see the key's scaladoc).
    */
  private[graft] def coPairsRaw(
      li: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    li.filter(col("ok").isNotNull)
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(expr(
        s"flatten(transform(${guardedBasket(li)}, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps) - i - 1), " +
          "y -> named_struct('src', x, 'dst', y))))")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Undirected co-purchase edges (both directions) from an (ok, pk)
    * basket relation (distinct or not — see [[coPairs]]) — the shared
    * substrate of the iterative trio (q_bfs_hops / q_label_prop /
    * q_sssp_weighted) and the Stress graph tier. Eagerly materialized.
    *
    * `partitionBySrc = true` (the min-label kernels: ccConverged /
    * labelProp / BFS / SSSP — every round joins the edges on src) bakes
    * hash(src) into the checkpointed LogicalRDD, so each round's
    * edges-side join exchange disappears — one build-time shuffle buys
    * rounds-many join legs (guide §2.4's "share one exchange"). Under
    * AQE this needs two things: the repartition names its partition
    * count (the session's `spark.sql.shuffle.partitions`), because AQE
    * coalesces a count-less one (to 1 partition at sf0.01) and a
    * coalesced read is not a hash partitioning; and
    * [[graft.core.Ckpt.truncate]] restates `HashPartitioning(src, n)`
    * on the checkpoint, which Spark's own checkpoint drops under AQE.
    * ccStar/kCore callers leave it false: star contraction immediately
    * re-canonicalizes to (u, v) and the peel joins broadcast its tiny
    * survivor sets, so there the extra exchange is pure cost (measured
    * +0.3-0.4 s on q_cc_star/q_kcore when applied unconditionally).
    */
  private[graft] def coPurchaseEdges(
      li: org.apache.spark.sql.DataFrame,
      partitionBySrc: Boolean = false): org.apache.spark.sql.DataFrame =
    if (partitionBySrc) {
      // Round 22 (guide §2.4, share one exchange): BOTH edge directions
      // come out of one in-row expansion over the basket array (x ≠ y
      // ordered pairs — the old shape ran the basket-aggregate subtree
      // TWICE through a union, one leg per direction), and the
      // (src, dst) dedup is folded ONTO the hash(src) repartition
      // instead of paying its own exchange — hash(src) satisfies the
      // dedup aggregate's ClusteredDistribution(src, dst) (identical
      // pairs share a src), so the raw two-directional expansion goes
      // through ONE exchange and dedups in place: 3 build exchanges +
      // 2 aggregate passes → 2 exchanges + 1 pass. Same edge set (the
      // basket array is distinct, so ordered x ≠ y pairs ≡ the
      // symmetric closure of the x < y pairs).
      li.filter(col("ok").isNotNull)
        .groupBy(col("ok"))
        .agg(sort_array(collect_set(col("pk"))).as("ps"))
        .select(explode(expr(
          s"flatten(transform(${guardedBasket(li)}, x -> " +
            "transform(filter(ps, y -> y != x), " +
            "y -> named_struct('src', x, 'dst', y))))")).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(li.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("src"))
        .dropDuplicates("src", "dst")
        .truncateLineage()
    } else {
      val e0 = coPairs(li)
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        .truncateLineage()
    }

  /** Frontier BFS: `hops` rounds, each joining ONLY the previous
    * frontier against `edges`; per-round state eagerly checkpointed.
    */
  private[graft] def bfsFrom(
      s: org.apache.spark.sql.SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      src: Long,
      hops: Int): org.apache.spark.sql.DataFrame = {
    var dist = s.range(1)
      .select(lit(src).as("pk"), lit(0).cast("int").as("dist"))
      .truncateLineage()
    for (h <- 1 to hops) {
      val next = dist.filter(col("dist") === h - 1)
        .join(edges, col("pk") === col("src"))
        .select(col("dst").as("pk"), lit(h).cast("int").as("dist"))
      dist = dist.unionByName(next)
        .groupBy(col("pk")).agg(min(col("dist")).as("dist"))
        .truncateLineage()
    }
    dist
  }

  /** Synchronous min-label propagation for `rounds` rounds (the Pregel
    * hash-min kernel); labels init to node ids. This is [[ccConverged]]
    * capped at `rounds`: its delta form propagates only labels that
    * changed last round, which is round-for-round equivalent to the full
    * propagation (the q_label_prop oracle's unrolled joins pin it), and
    * a round after an empty delta would change nothing.
    */
  private[graft] def labelProp(
      edges: org.apache.spark.sql.DataFrame, rounds: Int): org.apache.spark.sql.DataFrame =
    ccConverged(edges.select(col("src").as("pk")).distinct(), edges, maxRounds = rounds)._1

  /** Delta-optimized bounded Bellman-Ford (SPFA shape) over a weighted
    * edge relation (src, dst, w): each round relaxes only last round's
    * improved nodes; after R rounds the cost is exactly min over
    * ≤R-edge paths.
    */
  private[graft] def ssspFrom(
      s: org.apache.spark.sql.SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      src: Long,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    var dist = s.range(1)
      .select(lit(src).as("pk"), lit(0L).as("cost"))
      .truncateLineage()
    var delta = dist
    for (_ <- 1 to rounds) {
      val relaxed = delta
        .join(edges, col("pk") === col("src"))
        .select(col("dst").as("pk"), (col("cost") + col("w")).as("cost"))
        .groupBy(col("pk")).agg(min(col("cost")).as("cost"))
      val improved = relaxed
        .join(dist.select(col("pk"), col("cost").as("__old")), Seq("pk"), "left")
        .filter(col("__old").isNull || col("cost") < col("__old"))
        .select(col("pk"), col("cost"))
        .truncateLineage()
      dist = dist.unionByName(improved)
        .groupBy(col("pk")).agg(min(col("cost")).as("cost"))
        .truncateLineage()
      delta = improved
    }
    dist
  }

  /** The textbook FULL-relation propagation (every node re-propagates
    * every round) — kept as the Stress graph tier's honest
    * O(E)-per-round baseline against which the delta forms' wave
    * tracking is measured; not registered.
    */
  private[graft] def labelPropFull(
      edges: org.apache.spark.sql.DataFrame, rounds: Int): org.apache.spark.sql.DataFrame = {
    var labels = edges.select(col("src").as("pk")).distinct()
      .select(col("pk"), col("pk").as("label"))
      .truncateLineage()
    for (_ <- 1 to rounds) {
      val fromNbr = edges
        .join(labels, col("src") === col("pk"))
        .select(col("dst").as("pk"), col("label"))
      labels = labels.unionByName(fromNbr)
        .groupBy(col("pk")).agg(min(col("label")).as("label"))
        .truncateLineage()
    }
    labels
  }

  /** Count closed triangles over a degree-ORIENTED edge list (src, dst).
    * Orientation guarantees each triangle a<b<c appears as exactly the
    * three edges a→b, a→c, b→c and is counted once.
    *
    * Edge-centric form (what q_triangle_count runs): per-node sorted
    * out-neighbor arrays, then per EDGE (u→v) count |N⁺(u) ∩ N⁺(v)| —
    * triangle uvw closes at its base edge only. This replaces the wedge
    * join's materialize-every-wedge intermediate (Σ outdeg² rows through TWO shuffles — 16M
    * at sf0.1 on a ~20k-node/800k-edge graph) with edges + two bounded
    * adjacency joins; array sizes are O(√m) by orientation, so the
    * per-edge intersect is the same work the closing join did, minus the
    * shuffles. Measured 2.0× on the fixture graph (graft.AB min-of-2:
    * 3.11 s vs 6.32 s at sf0.1, PLANS.md) — and the gap grows with wedge
    * volume, which is the quantity power-law graphs explode.
    *
    * Wedge-join form (`edgeCentric = false`): e1⋈e2 wedges semi-closed
    * against e3 — the independent reference GraphSpec checks the
    * edge-centric form against, on hand graphs and random corpora.
    */
  private[queries] def closedTriangles(
      o: org.apache.spark.sql.DataFrame, edgeCentric: Boolean): org.apache.spark.sql.DataFrame =
    if (edgeCentric) {
      val adj = o.groupBy(col("src")).agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      o.join(adj.select(col("src"), col("nbrs").as("nu")), "src")
        // dst may have no out-edges → left join + empty array
        .join(
          adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"), "left")
        .select(
          size(array_intersect(col("nu"), coalesce(col("nv"), array()))).cast("long").as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    } else
      o.as("e1")
        .join(o.as("e2"), col("e1.dst") === col("e2.src"))
        .join(
          o.as("e3"),
          col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
        .agg(count(lit(1)).as("n_triangles"))
}
