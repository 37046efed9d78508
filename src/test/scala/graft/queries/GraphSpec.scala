package graft.queries

import org.apache.spark.sql.functions._

import graft.{Registry, SparkSpec}

/** Pinned-geometry checks for the graph family. The registered queries are
  * oracle-checked against DuckDB on the fixture; these specs pin the math
  * on graphs small enough to count by hand, via the same degree-oriented
  * wedge-join shape q_triangle_count runs (re-derived here so a regression
  * in either formulation surfaces as a disagreement).
  */
class GraphSpec extends SparkSpec {

  /** Degree-oriented triangle count over an explicit undirected edge list. */
  private def triangles(edges: Seq[(Long, Long)]): Long = {
    import spark.implicits._
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("a", "b")
    val deg = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
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
    // both formulations must agree — the edge-centric default and the
    // wedge-join fallback cross-check each other on every hand graph
    val byEdge = Graph.closedTriangles(o, edgeCentric = true)
      .head().getAs[Long]("n_triangles")
    val byWedge = Graph.closedTriangles(o, edgeCentric = false)
      .head().getAs[Long]("n_triangles")
    assert(byEdge == byWedge, s"edge-centric $byEdge != wedge-join $byWedge")
    byEdge
  }

  /** Both directions of each pair, truncated like a kernel's input. */
  private def undirected(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    val e0 = pairs.toDF("src", "dst")
    e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
  }

  /** Round-cap boundary of a stop rule: uncapped, `run` converges in some
    * R rounds; capped at exactly R it must still report convergence, and
    * capped at R - 1 it must not.
    */
  private def convergesOnLastRound(kernel: String)(run: Int => (Int, Boolean)): Unit = {
    val (r, done) = run(64)
    assert(done && r >= 1, s"$kernel did not converge uncapped")
    assert(run(r) == ((r, true)), s"$kernel capped at its own $r rounds must report convergence")
    assert(run(r - 1) == ((r - 1, false)), s"$kernel capped at ${r - 1} rounds must report a cap exit")
  }

  test("triangle count: K4 has 4, a path has 0, two shared-edge triangles count twice") {
    // K4: every 3-subset of 4 nodes closes = C(4,3) = 4 triangles
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(triangles(k4) == 4L)
    // path 0-1-2-3: wedges exist, none close
    assert(triangles(Seq((0L, 1L), (1L, 2L), (2L, 3L))) == 0L)
    // bowtie sharing edge (1,2): {0,1,2} and {1,2,3}
    assert(triangles(Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))) == 2L)
    // duplicate + reversed input edges must not inflate the count
    assert(triangles(Seq((0L, 1L), (1L, 0L), (0L, 2L), (1L, 2L), (2L, 1L))) == 1L)
  }

  test("incremental CC: one delta edge repairs only the merged components, untouched ones never re-propagate") {
    // planted graph: three chains A = {0-1-2}, B = {10-11-12}, and a
    // far component C = {100-101-102-103}. Stored labels = cold CC on
    // that base. Delta batch = ONE edge (2, 10) merging A and B.
    // Contract: (a) the repaired labels equal a cold recompute on the
    // merged graph; (b) the warm wave only ever improves nodes of the
    // merged component — C's labels never re-enter the delta (its
    // total improvement volume excludes them), which is the entire
    // point of seeding at the changed neighborhoods.
    val base = undirected(Seq((0L, 1L), (1L, 2L), (10L, 11L), (11L, 12L),
      (100L, 101L), (101L, 102L), (102L, 103L)))
    val nodes = base.select(col("src").as("pk")).distinct()
    val (labels0, _, _, _) = Graph.ccConverged(nodes, base)
    val delta = undirected(Seq((2L, 10L)))
    val merged = base.unionByName(delta).distinct().localCheckpoint(true)
    val (warm, warmRounds, warmWaves, warmDone) = Graph.ccConvergedFrom(
      labels0, merged, seed = Some(delta.select(col("src").as("pk"))))
    val (cold, _, coldWaves, _) = Graph.ccConverged(nodes, merged)
    val warmMap = warm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val coldMap = cold.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warmMap == coldMap, "warm repair diverged from the cold recompute")
    assert(Seq(10L, 11L, 12L).forall(warmMap(_) == 0L), "B did not merge into A's component")
    assert(Seq(100L, 101L, 102L, 103L).forall(warmMap(_) == 100L))
    // the warm wave improves exactly B's three nodes (labels 10/11/12 → 0),
    // never C's — cold re-derives every non-minimal node at least once
    assert(warmWaves.sum == 3L,
      s"warm wave should improve exactly B's 3 nodes, improved ${warmWaves.sum}")
    assert(warmWaves.sum < coldWaves.sum)
    assert(warmDone && warmRounds < Graph.CcMaxRounds)
  }

  test("star-contraction CC: log rounds on the chain where hash-min pays the diameter") {
    // THE case star contraction exists for: a path graph of diameter
    // d forces min-label propagation to d rounds (the component min
    // crawls one hop per round), while alternating large-star/
    // small-star collapses it in O(log n). Both must produce the
    // identical component-minimum labeling; the round counts are the
    // measured claim.
    import spark.implicits._
    val n = 64L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val e0 = chain.toDF("src", "dst")
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    val nodes = spark.range(n).select(col("id").as("pk"))
    val (starLabels, starRounds, starDone) = Graph.ccStar(nodes, edges, maxRounds = 64)
    val sm = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sm == (0L until n).map(_ -> 0L).toMap, "chain is one component rooted at 0")
    info(s"chain n=$n: star-contraction converged in $starRounds rounds")
    assert(starDone, "ccStar must report detected convergence, not a cap exit")
    assert(starRounds <= 16, s"star contraction lost its log bound: $starRounds rounds")
    // hash-min's diameter cost is proven by NON-convergence under a cap
    // well past star's rounds — running all 63 rounds would only burn
    // per-round fixed costs to learn the same fact
    val hmCap = 16
    val (_, hmRounds, hmWaves, _) = Graph.ccConverged(nodes, edges, maxRounds = hmCap)
    assert(hmRounds == hmCap && hmWaves.last > 0L,
      s"hash-min converged within $hmRounds rounds on a diameter-63 chain — " +
        "the label wave should still be crawling")
    // two components + an isolated node: labels stay per-component minima
    val e2 = (Seq((0L, 1L), (1L, 2L), (10L, 11L))).toDF("src", "dst")
    val edges2 = e2.unionByName(e2.select(col("dst").as("src"), col("src").as("dst")))
    val nodes2 = Seq(0L, 1L, 2L, 10L, 11L, 99L).toDF("pk")
    val (l2, _, _) = Graph.ccStar(nodes2, edges2)
    val m2 = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
    convergesOnLastRound("ccStar") { cap =>
      val (_, rounds, done) = Graph.ccStar(nodes2, edges2, maxRounds = cap)
      (rounds, done)
    }
    convergesOnLastRound("ccConverged") { cap =>
      val (_, rounds, _, done) = Graph.ccConverged(nodes2, edges2, maxRounds = cap)
      (rounds, done)
    }
  }

  test("oracle headroom: fixture degeneracy/peel depth leave >= 1 round against the pinned unroll constants") {
    // round-19 verdict #5: kMax/unroll in the q_coreness and q_kcore
    // oracles are fixture-calibrated — a deeper fixture fails LOUDLY at
    // verify time, which is correct but late. This measures the gate
    // fixture's actual depths with UNCAPPED peels (maxRounds = 64, far
    // past any constant) and asserts headroom >= 1, so a data-tier
    // change fails here first, with the constant to bump named.
    // Gate scale = sf0.01, the tier the driver's correctness gate runs
    // (sf0.1 re-measured green at r19: degeneracy 8, phase depth <= 9).
    val d = sf("sf0.01")
    // q_kcore domain: pk % 4 = 0, threshold k = 3
    val liK = graft.core.Tables(spark, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .filter(col("pk") % 4 === 0)
      .distinct()
    val (_, kcoreRounds, kcoreDone) =
      Graph.kCore(Graph.coPurchaseEdges(liK).localCheckpoint(true), 3, maxRounds = 64)
    assert(kcoreDone)
    info(s"q_kcore domain: peel depth $kcoreRounds (unroll ${Graph.KcoreUnroll})")
    assert(kcoreRounds + 1 <= Graph.KcoreUnroll,
      s"fixture peel depth $kcoreRounds leaves no headroom — bump Graph.KcoreUnroll " +
        s"(currently ${Graph.KcoreUnroll}) and the q_kcore oracle with it")
    // q_coreness domain: pk % 10 = 3 — nested peels, uncapped
    val liC = graft.core.Tables(spark, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .filter(col("pk") % 10 === 3)
      .distinct()
    var cur = Graph.coPurchaseEdges(liC).localCheckpoint(true)
    var k = 0
    var survivors = -1L
    var maxDepth = 0
    while (survivors != 0L && k < 64) {
      k += 1
      val (core, rounds, done) = Graph.kCore(cur, k, maxRounds = 64)
      assert(done, s"phase $k failed to converge within 64 peel rounds")
      maxDepth = math.max(maxDepth, rounds)
      val members = core.select(col("pk")).localCheckpoint(true)
      survivors = members.count()
      if (survivors > 0L) {
        cur = cur
          .join(members.select(col("pk").as("src")), Seq("src"))
          .join(members.select(col("pk").as("dst")), Seq("dst"))
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
      }
    }
    val degeneracy = k - 1
    info(s"q_coreness domain: degeneracy $degeneracy (oracle kMax ${Graph.CorenessOracleKMax}), " +
      s"max per-phase depth $maxDepth (unroll ${Graph.CorenessUnroll})")
    assert(degeneracy + 1 <= Graph.CorenessOracleKMax,
      s"fixture degeneracy $degeneracy leaves no headroom — bump Graph.CorenessOracleKMax " +
        s"(currently ${Graph.CorenessOracleKMax})")
    assert(maxDepth + 1 <= Graph.CorenessUnroll,
      s"fixture phase depth $maxDepth leaves no headroom — bump Graph.CorenessUnroll " +
        s"(currently ${Graph.CorenessUnroll})")
    assert(degeneracy + 1 <= Graph.CorenessMaxK,
      s"degeneracy $degeneracy approaches the CorenessMaxK runaway cap (${Graph.CorenessMaxK})")
  }

  test("ccStar ≡ ccConverged on the q_cc_star co-purchase domain (the gate moved out of the benched plan)") {
    // round-19 verdict minor #2: the star ≡ hash-min equality used to
    // run INSIDE q_cc_star's registered plan, so its bench number was
    // ~2x kernel cost. The registered row now runs the star kernel
    // alone (its labels are still fully oracle-differentialed against
    // the unbounded CTE); the two-independent-algorithms cross-check
    // lives here, on the SAME induced domain (pk % 4 = 2) at gate scale.
    val li = graft.core.Tables(spark, sf(), "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .filter(col("pk") % 4 === 2)
      .distinct()
    val nodes = li.select(col("pk")).distinct()
    val edges = Graph.coPurchaseEdges(li).localCheckpoint(true)
    val (starLabels, _, starDone) = Graph.ccStar(nodes, edges)
    val (hmLabels, _, _, hmDone) = Graph.ccConverged(nodes, edges)
    assert(starDone && hmDone)
    val sm = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hm = hmLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sm.nonEmpty)
    assert(sm == hm, "star-contraction labels diverged from the hash-min fixpoint")
  }

  test("reliable-checkpoint seam: ccStar labels are bit-equal under graft.checkpoint.dir") {
    // round-18 verdict #2: all iterative kernels truncated lineage with
    // localCheckpoint (executor-local, unrecoverable after executor
    // loss). With graft.checkpoint.dir set, graft.core.Ckpt routes the
    // SAME call sites through reliable checkpoint() — this pins the two
    // paths label-equal (and round-equal) on the diameter-63 chain, the
    // most checkpoint-intensive planted case (every star round truncates).
    import spark.implicits._
    val n = 64L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val e0 = chain.toDF("src", "dst")
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    val nodes = spark.range(n).select(col("id").as("pk"))
    val (localLabels, localRounds, localDone) = Graph.ccStar(nodes, edges)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-seam").toString
    spark.conf.set(graft.core.Ckpt.DirKey, ckptDir)
    val (relLabels, relRounds, relDone) =
      try Graph.ccStar(nodes, edges)
      finally spark.conf.unset(graft.core.Ckpt.DirKey)
    assert(relDone && localDone)
    assert(relRounds == localRounds,
      s"reliable path took $relRounds rounds vs local $localRounds")
    val lm = localLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rm = relLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rm == lm, "reliable-checkpoint labels diverged from the local path")
    // the reliable path actually wrote checkpoint state to the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable path left no checkpoint files — the seam did not engage")
  }

  test("q_cc_repair_served: repaired labels equal a cold recompute, and the serve path builds nothing") {
    // the registered row's contract is WARM-ONLY serving: base labels
    // come from the stored artifact, the plan runs just the repair wave.
    // Spec-side we (a) compare against a cold CC on the merged graph —
    // the truth q_cc_incremental pays for in-plan and this row must NOT,
    // and (b) pin that a second invocation (JVM memo cleared, disk slot
    // present) serves without an ArtifactStore build.
    val store = java.nio.file.Files.createTempDirectory("graft-cc-serve").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      val q = Registry.byName("q_cc_repair_served")
      val first = q.run(spark, sf()).collect()
      assert(first.nonEmpty)
      assert(first.forall(_.getAs[Boolean]("converged")))
      assert(first.forall(_.getAs[Boolean]("wave_le_affected")))
      // cold truth on the merged graph
      val li = graft.core.Tables(spark, sf(), "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .filter(col("pk") % 4 === 1)
        .distinct()
      val (cold, _, _, _) = Graph.ccConverged(
        li.select(col("pk")).distinct(), Graph.coPurchaseEdges(li))
      val coldMap = cold.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val warmMap = first.map(r => r.getAs[Long]("pk") -> r.getAs[Long]("label")).toMap
      assert(warmMap == coldMap, "warm-served repair diverged from the cold fixpoint")
      // serve path: clear the JVM memo so the disk slot is the only
      // warm state — the rerun must LOAD, not rebuild
      graft.core.ArtifactStore.clearShared()
      val buildsBefore = graft.core.ArtifactStore.builds.get()
      val second = q.run(spark, sf()).collect()
      assert(second.map(r => r.getAs[Long]("pk") -> r.getAs[Long]("label")).toMap == coldMap)
      assert(graft.core.ArtifactStore.builds.get() == buildsBefore,
        "second q_cc_repair_served run re-built the stored base labels")
    } finally {
      spark.conf.unset("graft.artifacts.dir")
      graft.core.ArtifactStore.clearShared()
    }
  }

  test("kCore: planted 2-core survives, and a capped peel reports converged = false") {
    // chain 0-1-…-9 (peels completely at k=2, two endpoints per round,
    // 6 rounds to the empty fixpoint) + triangle {100,101,102} (every
    // node keeps degree 2 — THE 2-core). The capped run is the exact
    // round-18 ADVICE scenario: at maxRounds=4 the survivor set still
    // holds chain nodes 4 and 5 with in-core degree 1 — a relation that
    // is NOT a k-core — and only the explicit flag exposes it.
    val edges = undirected((0L until 9L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L)))
    val (core, rounds, done) = Graph.kCore(edges, k = 2, maxRounds = 8)
    assert(done, "full peel must report convergence")
    assert(rounds <= 8)
    val m = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(100L -> 2L, 101L -> 2L, 102L -> 2L),
      s"2-core must be exactly the triangle, got $m")
    val (capped, cappedRounds, cappedDone) = Graph.kCore(edges, k = 2, maxRounds = 4)
    assert(!cappedDone, "capped peel must NOT report convergence")
    assert(cappedRounds == 4)
    val cm = capped.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cm.contains(4L) && cm(4L) < 2L,
      "the capped survivor set should still hold a sub-k node — the relation the flag guards against")
    convergesOnLastRound("kCore") { cap =>
      val (_, r, d) = Graph.kCore(edges, k = 2, maxRounds = cap)
      (r, d)
    }
  }

  test("kernel job counts: ccConverged, kCore and ccStar on the planted graphs") {
    // Each round is ONE checkpoint action with its count observed inside
    // it; ccStar adds its symmetric-difference probe on a count-equal
    // round. The pin is on SQL executions (one per action), which are
    // exact: the Spark job total also counts every AQE shuffle/broadcast
    // stage, and AQE materializes independent stages concurrently, so the
    // total varies run to run (kCore 32-35, ccStar 22-24 jobs over 8
    // runs of a 4-core session).
    // A per-round count job added later raises the execution count.
    import spark.implicits._
    val twoComp = undirected(Seq((0L, 1L), (1L, 2L), (10L, 11L)))
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 99L).toDF("pk").localCheckpoint(true)
    val peel = undirected((0L until 9L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L)))
    def actions(jobs: Seq[java.util.Properties]) =
      jobs.map(p => Option(p.getProperty("spark.sql.execution.id"))).distinct.size
    val ((_, ccRounds, _, _), ccJobs) = jobsOf(Graph.ccConverged(nodes, twoComp))
    val ((_, kRounds, _), kJobs) = jobsOf(Graph.kCore(peel, k = 2, maxRounds = 64))
    val ((_, starRounds, _), starJobs) = jobsOf(Graph.ccStar(nodes, twoComp))
    info(s"jobs: ccConverged ${ccJobs.size}, kCore ${kJobs.size}, ccStar ${starJobs.size}")
    val measured = Seq(
      ("ccConverged", ccRounds, actions(ccJobs)),
      ("kCore", kRounds, actions(kJobs)),
      ("ccStar", starRounds, actions(starJobs)))
    assert(measured == Seq(("ccConverged", 3, 4), ("kCore", 6, 7), ("ccStar", 2, 5)))
  }

  test("Ckpt.truncateCounted: the observed in-job count equals a post-hoc count on both truncation paths") {
    // round 22: the kernels' per-round driver counts ride the checkpoint
    // job as observe() metrics — this pins the fused count against the
    // ground truth on the localCheckpoint path AND the reliable
    // graft.checkpoint.dir path (whose eager action is a different code
    // path through Dataset.checkpoint).
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, i % 7 == 0)).toDF("id", "flag")
      .repartition(4)
    val (cp, n) = graft.core.Ckpt.truncateCounted(df, col("flag"))
    assert(n == (0L until 1000L).count(_ % 7 == 0))
    assert(cp.count() == 1000L)
    val (_, all) = graft.core.Ckpt.truncateCounted(df, lit(true))
    assert(all == 1000L)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-obs-seam").toString
    spark.conf.set(graft.core.Ckpt.DirKey, ckptDir)
    try {
      val (cpR, nR) = graft.core.Ckpt.truncateCounted(df, col("flag"))
      assert(nR == n)
      assert(cpR.count() == 1000L)
    } finally spark.conf.unset(graft.core.Ckpt.DirKey)
  }

  test("coPairs: null order keys are dropped and an over-bound basket fails loudly") {
    import spark.implicits._
    // null-ok rows must not form a basket (the old self-join's null
    // semantics — round-21 ADVICE); same pairs from the non-null baskets
    val li = Seq(
      (Option(1L), 10L), (Option(1L), 11L), (Option(1L), 12L),
      (Option.empty[Long], 20L), (Option.empty[Long], 21L))
      .toDF("ok", "pk")
    val pairs = Graph.coPairs(li).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L), (10L, 12L), (11L, 12L)))
    // a basket wider than graft.copairs.maxBasket raises instead of
    // expanding O(b²) pairs inside one aggregation row (round-21
    // verdict #2: the heavy-hitter-key guard for the 100 TB story)
    spark.conf.set(Graph.MaxBasketKey, "8")
    try {
      val wide = (0L until 9L).map(p => (1L, p)).toDF("ok", "pk")
      val e = intercept[Exception] {
        Graph.coPairs(wide).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("maxBasket")), s"unexpected error: $e")
      // at the bound itself the expansion still runs
      val atBound = (0L until 8L).map(p => (1L, p)).toDF("ok", "pk")
      assert(Graph.coPairs(atBound).count() == 8L * 7 / 2)
    } finally spark.conf.unset(Graph.MaxBasketKey)
  }

  test("q_triangle_count invariants on the fixture: closure bound and handshake parity") {
    val row = Registry.byName("q_triangle_count").run(spark, sf()).head()
    val nodes = row.getAs[Long]("n_nodes")
    val edges = row.getAs[Long]("n_edges")
    val wedges = row.getAs[Long]("n_wedges")
    val tris = row.getAs[Long]("n_triangles")
    val cc = row.getAs[Double]("global_cc")
    assert(nodes > 0 && edges > 0)
    // each triangle closes 3 wedges; closure ratio is a probability
    assert(3 * tris <= wedges)
    assert(cc >= 0.0 && cc <= 1.0)
    assert(cc == (if (wedges == 0) 0.0 else 3.0 * tris / wedges))
  }
}
