package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Seeded randomized sweep for the connected-components kernels (the
  * repo's hand-rolled property convention — the scalacheck bridge isn't
  * in the offline cache): on random graphs of varied density, BOTH
  * registered kernels — star contraction ([[Graph.ccStar]], the
  * log-round default) and min-label propagation to fixpoint
  * ([[Graph.ccConverged]], the wave-tracked form the incremental repair
  * builds on) — must reproduce a plain JVM union-find's components
  * exactly, labeled by component minimum. Random graphs sweep the
  * shapes the fixture co-purchase graph (one dense blob) and the
  * planted spec graphs (chains, stars) can't: mixed-size components,
  * isolated nodes, dense cores with whiskers. The single-source kernels
  * on the same min-propagation kernel ([[Graph.bfsFrom]],
  * [[Graph.ssspFrom]]) must reproduce a JVM bounded Bellman-Ford.
  */
class GraphPropertySpec extends SparkSpec {

  /** Reference: array union-find with path compression, labels =
    * component minimum node id.
    */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  /** Reference: synchronous Bellman-Ford bounded at `rounds` rounds over
    * directed weighted edges: after round r every reached node holds the
    * minimum cost over walks of at most r edges.
    */
  private def boundedBellmanFord(
      src: Long, edges: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] =
    (1 to rounds).foldLeft(Map(src -> 0L)) { (prev, _) =>
      edges.foldLeft(prev) { case (next, (a, b, w)) =>
        prev.get(a).filter(c => next.get(b).forall(c + w < _))
          .fold(next)(c => next.updated(b, c + w))
      }
    }

  test("star contraction and hash-min fixpoint both equal union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(424242)
    for (trial <- 0 until 12) {
      val n = 20 + rnd.nextInt(60)
      // density sweep: from near-forest (whisker-heavy, long diameters)
      // to dense (single blob) — m from ~n/2 to ~3n
      val m = (n / 2) + rnd.nextInt(3 * n)
      val pairs = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (a, b)
      }.filter { case (a, b) => a != b }
      val expected = unionFind(n, pairs)
      val e0 = pairs.toDF("src", "dst")
      val edges = e0
        .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
      val nodes = spark.range(n.toLong).select(col("id").as("pk"))
      val (starLabels, starRounds, starDone) = Graph.ccStar(nodes, edges)
      val star = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == expected,
        s"trial $trial (n=$n, m=${pairs.size}): star contraction != union-find")
      assert(starDone && starRounds < Graph.CcMaxRounds, s"trial $trial: star hit the runaway cap")
      val (hmLabels, hmRounds, _, hmDone) = Graph.ccConverged(nodes, edges)
      val hm = hmLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hm == expected,
        s"trial $trial (n=$n, m=${pairs.size}): hash-min fixpoint != union-find")
      assert(hmDone && hmRounds < Graph.CcMaxRounds, s"trial $trial: hash-min hit the runaway cap")
    }
  }

  test("warm-start repair equals union-find after a random delta batch, for any base/delta split") {
    import spark.implicits._
    val rnd = new scala.util.Random(90210)
    for (trial <- 0 until 8) {
      val n = 30 + rnd.nextInt(40)
      val all = Seq.fill(2 * n) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val (basePairs, deltaPairs) = all.partition(_ => rnd.nextBoolean())
      if (deltaPairs.nonEmpty) {
        def und(p: Seq[(Long, Long)]) = {
          val e0 = p.toDF("src", "dst")
          e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
            .localCheckpoint(true)
        }
        val nodes = spark.range(n.toLong).select(col("id").as("pk"))
        val (labels0, _, _, _) = Graph.ccConverged(nodes, und(basePairs))
        val seed = und(deltaPairs).select(col("src").as("pk")).distinct()
        val (warm, _, _, _) = Graph.ccConvergedFrom(
          labels0, und(all), seed = Some(seed))
        val got = warm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == unionFind(n, all),
          s"trial $trial: warm repair != union-find on the merged graph")
      }
    }
  }

  test("BFS and bounded SSSP equal a JVM bounded Bellman-Ford on random weighted graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31337)
    for (trial <- 0 until 4) {
      val n = 20 + rnd.nextInt(40)
      val pairs = Seq.fill(n / 2 + rnd.nextInt(2 * n)) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b } :+ ((1000L, 1001L)) // a component no source reaches
      val weighted = pairs.map { case (a, b) => (a, b, 1L + rnd.nextInt(9)) }
      val sym = weighted ++ weighted.map { case (a, b, w) => (b, a, w) }
      val edges = sym.toDF("src", "dst", "w").localCheckpoint(true)
      // odd trials start at a node with no edge
      val src = if (trial % 2 == 0) pairs.head._1 else n.toLong
      for (rounds <- Seq(1, 2, 64)) {
        val ctx = s"trial $trial (n=$n, src=$src, rounds=$rounds)"
        val (bfs, _, _, bfsDone) = Graph.bfsFrom(edges, src, rounds)
        val hops = bfs.collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
        assert(hops == boundedBellmanFord(src, sym.map { case (a, b, _) => (a, b, 1L) }, rounds),
          s"$ctx: BFS != bounded Bellman-Ford at unit weights")
        val (sssp, _, _, ssspDone) = Graph.ssspFrom(edges, src, rounds)
        val costs = sssp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(costs == boundedBellmanFord(src, sym, rounds), s"$ctx: SSSP != bounded Bellman-Ford")
        assert(!costs.contains(1000L))
        if (rounds == 64) assert(bfsDone && ssspDone, s"$ctx: hit the round cap")
      }
    }
  }
}
