package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Brute-force cosine correctness on hand-checkable vectors, and LSH
  * recall against brute force on the real embeddings table.
  */
class SimilaritySpec extends SparkSpec {

  test("bruteForceTopK ranks by cosine correctly on known vectors") {
    import spark.implicits._
    // 0 is the query; 1 is identical direction, 2 orthogonal, 3 opposite.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity
      .bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs, 3)
      .orderBy("rank")
      .collect()
    assert(top.map(_.getAs[Long]("n_id")).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(top(0).getAs[Double]("cos") - 1.0) < 1e-12)
    assert(math.abs(top(1).getAs[Double]("cos")) < 1e-12)
    assert(math.abs(top(2).getAs[Double]("cos") + 1.0) < 1e-12)
  }

  test("native graft_dot expression is bit-identical to the HOF fold, incl. null/mismatch") {
    import spark.implicits._
    val vecs = graft.core.Tables(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val paired = vecs.crossJoin(vecs.limit(3).select(col("v").as("w")))
    val diffs = paired
      .select(Similarity.dot(col("v"), col("w")).as("a"), Similarity.dotHof(col("v"), col("w")).as("b"))
      .filter(col("a") =!= col("b")) // bit-exact: any IEEE divergence shows
      .count()
    assert(diffs == 0)
    // null element and length mismatch both yield null in both versions
    val edge = Seq(
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](1.0), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
      .select(
        Similarity.dot(col("a"), col("b")).as("n1"),
        Similarity.dotHof(col("a"), col("b")).as("n2"))
      .collect()
    assert(edge.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("graft_dot accepts raw float arrays (no caller cast) and widens exactly") {
    import spark.implicits._
    val r = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b")
      .select(call_function("graft_dot", col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    assert(r == 11.0)
  }

  test("LSH top-k recall >= 0.5 vs brute force on embeddings (sf0.001)") {
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, 3))
    val approx = pairs(Similarity.lshTopK(queries, emb, 3))
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall (${approx.size} approx vs ${exact.size} exact)")
  }

  test("IVF top-k recall >= 0.4 vs brute force on embeddings (sf0.001)") {
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val centroids = Ivf.train(spark, emb, k = 16)
    assert(centroids.size == 16 && centroids.forall(_.size == 64))
    val indexed = Ivf.index(emb, centroids)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, 3))
    val approx = pairs(Ivf.topK(queries, indexed, centroids, k = 3, nprobe = 4))
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall (${approx.size} approx vs ${exact.size} exact)")
  }

  test("IVF nprobe two-point: recall/candidate trade measured (evidence for nprobe=4)") {
    // the nprobe counterpart of the champion-C sensitivity table: the
    // serving constant is evidence, not assertion. Candidate volume per
    // query is the probed cells' occupancy (~nprobe/k of the corpus on a
    // balanced index); recall must not decrease with more probes
    // (probed-cell sets nest), and the registered nprobe=4 floor holds.
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val centroids = Ivf.train(spark, emb, k = 16)
    val indexed = Ivf.index(emb, centroids)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, 3))
    val byProbe = Seq(2, 4).map { np =>
      val recall = exact.count(pairs(Ivf.topK(queries, indexed, centroids, k = 3, nprobe = np)).contains)
        .toDouble / exact.size
      val cand = Ivf.probeCells(queries, centroids, nprobe = np)
        .join(indexed, Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .count()
      info(f"nprobe=$np: recall $recall%.3f, $cand scored candidates")
      np -> ((recall, cand))
    }.toMap
    assert(byProbe(2)._1 <= byProbe(4)._1, "recall must be monotone in nprobe (cell sets nest)")
    assert(byProbe(2)._2 < byProbe(4)._2, "candidate volume must grow with nprobe")
    assert(byProbe(4)._1 >= 0.4, "registered nprobe=4 floor")
  }

  test("adaptiveNprobe: gate tiers unchanged by construction, grows ~sqrt(k), fraction shrinks") {
    // round-19 verdict #2: serving picks nprobe = f(k) instead of a
    // pinned constant. The floor at the site's base makes BOTH gate
    // tiers bit-identical to the pre-policy constants (adaptiveK = 8 at
    // sf0.01, 16 at sf0.1), and at the measured 24x Stress tier (k=78)
    // the policy lands at 17 — the hand-tuned re-measure was 16
    // (recall 0.833 at scan fraction 0.14).
    for (base <- Seq(4, 6, 8); k <- Seq(8, 16)) {
      assert(Ivf.adaptiveNprobe(base, k) == base,
        s"gate tier k=$k must keep base=$base")
    }
    assert(Ivf.adaptiveNprobe(8, 78) == 17)
    assert(Ivf.adaptiveNprobe(4, 78) == 8)
    // monotone non-decreasing in k, and the scanned fraction nprobe/k
    // still SHRINKS as the corpus (and so k) grows
    val ks = Seq(8, 16, 32, 78, 256, 1024)
    val nps = ks.map(Ivf.adaptiveNprobe(8, _))
    assert(nps == nps.sorted, s"nprobe must be monotone in k: $nps")
    val fracs = ks.zip(nps).map { case (k, np) => np.toDouble / k }
    assert(fracs.sliding(2).forall(p => p(1) <= p(0) + 1e-12),
      s"scanned fraction must not grow with k: $fracs")
    assert(fracs.last < fracs.head / 5,
      "the whole point: the fraction shrinks strongly at scale")
  }

  test("CentroidAgg computes exact per-group means") {
    import spark.implicits._
    import org.apache.spark.sql.functions.udaf
    val df = Seq(
      (1, Seq(1.0f, 2.0f)),
      (1, Seq(3.0f, 6.0f)),
      (2, Seq(10.0f, 0.0f))).toDF("label", "embedding")
    val rows = df.groupBy($"label")
      .agg(udaf(CentroidAgg).apply($"embedding").as("centroid"))
      .orderBy("label")
      .collect()
    assert(rows(0).getSeq[Double](1) == Seq(2.0, 4.0))
    assert(rows(1).getSeq[Double](1) == Seq(10.0, 0.0))
  }

  test("signature is deterministic across invocations") {
    import spark.implicits._
    val planes = Similarity.hyperplanes(16, 4)
    val df = Seq((1L, Array(0.5f, -0.25f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    def sig() = df.select(
      Similarity.signature(col("embedding").cast("array<double>"), planes).as("s"))
      .collect().head.getLong(0)
    assert(sig() == sig())
    assert(Similarity.hyperplanes(16, 4) == planes, "fixed seed → same planes")
  }

  test("recall gate flips to false when the approx result degrades") {
    import spark.implicits._
    // a deliberately-broken ANN result must FAIL the driver gate, not
    // just a spec — this is the regression-sensitivity proof for the
    // invariant-query pattern
    val exact = Seq((1L, 1, 2L), (1L, 2, 3L), (2L, 1, 4L), (2L, 2, 5L))
      .toDF("q_id", "rank", "n_id")
    val degraded = Seq((1L, 1, 9L), (1L, 2, 8L), (2L, 1, 7L), (2L, 2, 6L))
      .toDF("q_id", "rank", "n_id")
    val good = Gate.recallGate(exact, exact, 0.5).collect().head
    assert(good.getAs[Long]("n_queries") == 2L && good.getAs[Boolean]("recall_ge_floor"))
    val bad = Gate.recallGate(exact, degraded, 0.5).collect().head
    assert(!bad.getAs[Boolean]("recall_ge_floor"), "gate failed to flip on zero recall")

    // count attaches: one row even over an empty relation, columns in
    // argument order after the base's
    val counted = Gate.withCounts(
      Seq(7L).toDF("base"), "n_empty" -> exact.filter(lit(false)), "n_exact" -> exact)
    assert(counted.columns.toSeq == Seq("base", "n_empty", "n_exact"))
    assert(counted.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((7L, 0L, 4L)))

    // the candidate ceiling multiplies in doubles: 4e9·4e9 > Long.MaxValue
    // would wrap negative (and fail every ceiling) as a long product
    val big = spark.range(1).select(
      Gate.ceiling(lit(1L), 0.5, lit(4000000000L), lit(4000000000L)).as("under"),
      Gate.ceiling(lit(Long.MaxValue), 1.0, lit(4000000000L), lit(1L)).as("over"))
      .collect().head
    assert(big.getBoolean(0) && !big.getBoolean(1))

    // the PQ gates' former inline fold and their Gate form agree on a
    // planted input, with the exact side both unprojected (q_pq_adc_ivf)
    // and projected (q_pq_adc_ivf_res), at recall 1, exactly the floor,
    // and below it
    def inline(exact: DataFrame, approx: DataFrame) =
      exact
        .select(col("q_id"), col("n_id"))
        .join(
          approx.select(col("q_id"), col("vec_id").as("n_id")).withColumn("__hit", lit(true)),
          Seq("q_id", "n_id"), "left")
        .agg(
          countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("__n_truth"),
          coalesce(sum(col("__hit").cast("long")), lit(0L)).as("__n_hit"))
        .select(
          col("n_queries"),
          (col("__n_hit").cast("double") >= col("__n_truth").cast("double") * 0.5)
            .as("recall_ge_floor"))
    def gated(exact: DataFrame, approx: DataFrame) =
      Gate.recallGate(exact, approx.select(col("q_id"), col("vec_id").as("n_id")), floor = 0.5)
    val exactL2 = Seq((1L, 2L, 0.1, 1), (1L, 3L, 0.2, 2), (2L, 4L, 0.1, 1), (2L, 5L, 0.3, 2))
      .toDF("q_id", "n_id", "d2", "rank")
    val planted = Seq(
      Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L)),
      Seq((1L, 2L), (1L, 9L), (2L, 4L), (2L, 8L)),
      Seq((1L, 2L), (1L, 9L), (2L, 7L), (2L, 8L)))
    val seen = for (hits <- planted; ex <- Seq(exactL2, exactL2.select("q_id", "n_id"))) yield {
      val approx = hits.toDF("q_id", "vec_id")
      val a = inline(ex, approx).collect().head
      val b = gated(ex, approx).collect().head
      assert((a.getLong(0), a.getBoolean(1)) == (b.getLong(0), b.getBoolean(1)))
      b.getBoolean(1)
    }
    assert(seen == Seq(true, true, true, true, false, false))
  }

  test("incremental IVF: delta assignment equals full recompute under fixed centroids") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") % 10 =!= 0)
    val delta = vecs.filter(col("vec_id") % 10 === 0)
    val centroids = Ivf.train(spark, base, k = 4)
    val full = Ivf.index(vecs, centroids)
      .filter(col("n_id") % 10 === 0)
      .collect().map(r => r.getAs[Long]("n_id") -> r.getAs[Int]("bucket")).toMap
    val incr = Ivf.index(delta, centroids)
      .collect().map(r => r.getAs[Long]("n_id") -> r.getAs[Int]("bucket")).toMap
    assert(incr == full, "delta-only assignment diverged from the fixed-centroid recompute")
    assert(incr.size == 6)
  }

  test("drift gate: iid delta is quiet, a shifted delta trips the retrain signal") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // base and delta share a common mean component → high cosine
    def vec(shift: Float) = Array.fill(8)(1.0f + shift + rnd.nextFloat() * 0.2f)
    val quiet = ((0L until 40L).map(i => (i, vec(0f))) ++
      (100L until 110L).map(i => (i, vec(0f)))).toDF("vec_id", "embedding")
    val quietCos = Ivf.globalDriftCos(quiet, col("vec_id") >= 100L)
      .collect().head.getAs[Double]("drift_cos")
    assert(quietCos > 0.9, s"iid delta read as drifted: $quietCos")
    // delta drawn from an opposite-sign regime → low/negative cosine
    val shifted = ((0L until 40L).map(i => (i, vec(0f))) ++
      (100L until 110L).map(i => (i, vec(-2.2f)))).toDF("vec_id", "embedding")
    val shiftedCos = Ivf.globalDriftCos(shifted, col("vec_id") >= 100L)
      .collect().head.getAs[Double]("drift_cos")
    assert(shiftedCos < 0.9, s"shifted delta not flagged: $shiftedCos")
  }

  test("late interaction on the fixture: 5 ranked hits per query, scores bounded and ordered") {
    val rows = graft.Registry.byName("q_late_interaction").run(spark, sf()).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10)
    byQ.foreach { case (q, sel) =>
      assert(sel.length == 5)
      val s = sel.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("li_score"))
      assert(s.forall(v => v >= -4.0 - 1e-9 && v <= 4.0 + 1e-9), s"query $q out of range: ${s.toSeq}")
      s.sliding(2).foreach { case Array(a, b) => assert(b <= a, s"query $q not ranked: ${s.toSeq}") }
    }
  }

  test("hot-cell split separates two far-apart clumps lumped into one cell") {
    import spark.implicits._
    // one coarse cell (k=1) holding two tight, far-apart clumps with
    // per-point jitter (distinct seeds): the split's 2-means must place
    // the clumps in different children, whatever the seed draw
    def vec(base: Float, i: Int) = Array(base, i * 0.001f, 0f, 0f)
    val emb = ((0L until 20L).map(i => (i, vec(100f, i.toInt))) ++
      (100L until 120L).map(i => (i, vec(-100f, i.toInt)))).toDF("vec_id", "embedding")
    val coarse = Ivf.train(spark, emb, k = 1)
    val (cents, after, hot) = Ivf.splitHotCells(spark, emb, coarse, cap = 10L)
    assert(hot == Seq(0), s"the single cell must be hot, got $hot")
    assert(cents.length == 2)
    val assigned = after.select(col("n_id"), col("bucket")).collect()
      .map(r => r.getAs[Long]("n_id") -> r.getAs[Int]("bucket")).toMap
    val aBuckets = (0L until 20L).map(assigned).toSet
    val bBuckets = (100L until 120L).map(assigned).toSet
    assert(aBuckets.size == 1 && bBuckets.size == 1, s"a clump split: $aBuckets / $bBuckets")
    assert(aBuckets != bBuckets, "the two clumps must land in different children")
  }

  test("ivf split gate on the fixture: every invariant true and occupancy strictly improves") {
    val row = graft.Registry.byName("q_ivf_split").run(spark, sf()).collect().head
    Seq("hot_found", "conserved", "only_hot_moved", "children_ok", "max_not_worse")
      .foreach(f => assert(row.getAs[Boolean](f), s"$f is false"))
  }

  test("hard negatives: 3 per anchor, labels always differ, ranked by similarity") {
    val rows = graft.Registry.byName("q_hard_negatives").run(spark, sf()).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 20)
    byQ.foreach { case (q, sel) =>
      assert(sel.length == 3, s"anchor $q mined ${sel.length} negatives")
      sel.foreach { r =>
        assert(r.getAs[Int]("q_label") != r.getAs[Int]("neg_label"),
          s"anchor $q mined a same-label 'negative'")
      }
      // ranks dense, cosines weakly decreasing with rank
      val sorted = sel.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs(0) >= cs(1) && cs(1) >= cs(2))
    }
  }

  test("rank eval: a ranking the truncation preserves scores a perfect nDCG/MRR") {
    import spark.implicits._
    // vectors differ ONLY in the first 16 dims (the rest are a shared
    // constant tail), so the truncated ranking must equal the full one:
    // nDCG = 1, MRR = 1e6, all 10 truth docs hit
    val rows = (0L until 12L).map { i =>
      val head = Array.tabulate(16)(j => if (j == (i % 16).toInt) 1.0f else 0.1f * ((i + j) % 3))
      (i, head ++ Array.fill(48)(0.25f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = SimilarityQueries.rankEval(emb, col("vec_id") === 0L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("hits") == 10L, s"hits=${r.getAs[Long]("hits")}")
    assert(r.getAs[Long]("mrr_fp") == 1000000L)
    assert(r.getAs[Double]("ndcg") == 1.0, s"ndcg=${r.getAs[Double]("ndcg")}")
  }

  test("rank eval on the fixture: metrics in range and internally consistent") {
    val rows = graft.Registry.byName("q_rank_eval").run(spark, sf()).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val ndcg = r.getAs[Double]("ndcg")
      assert(ndcg >= 0.0 && ndcg <= 1.0)
      val hits = r.getAs[Long]("hits")
      assert(hits >= 0L && hits <= 10L)
      val mrr = r.getAs[Long]("mrr_fp")
      assert(mrr == 0L || (mrr >= 100000L && mrr <= 1000000L))
      // no hits ⇔ zero dcg ⇔ zero mrr
      assert((hits == 0L) == (r.getAs[Long]("dcg_fp") == 0L))
      assert((hits == 0L) == (mrr == 0L))
    }
  }

  test("MMR on a planted corpus picks the diverse candidate over the redundant one") {
    import spark.implicits._
    // query 0; candidates: 1 ≈ 2 (near-duplicates, both highly relevant),
    // 3 moderately relevant but diverse. Pure relevance ranks 1, 2, 3;
    // MMR must demote the near-duplicate: 1, then 3, then 2.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.995f, 0.1f, 0f, 0f)),
      (2L, Array(0.99f, 0.141f, 0f, 0f)),
      (3L, Array(0.8f, -0.6f, 0f, 0f))).toDF("vec_id", "embedding")
    val sel = SimilarityQueries.mmrSelect(emb, col("vec_id") === 0L)
      .orderBy("sel_rank").collect()
    assert(sel.map(_.getAs[Long]("n_id")).toSeq == Seq(1L, 3L, 2L),
      s"got ${sel.map(_.getAs[Long]("n_id")).toSeq}")
    assert(sel.map(_.getAs[Long]("sel_rank")).toSeq == Seq(1L, 2L, 3L))
  }

  test("MMR on the fixture: 5 distinct picks per query, scores weakly decrease past rank 1") {
    val rows = graft.Registry.byName("q_mmr_rerank").run(spark, sf()).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 5)
    byQ.foreach { case (q, sel) =>
      assert(sel.length == 5, s"query $q selected ${sel.length}")
      assert(sel.map(_.getAs[Long]("n_id")).distinct.length == 5, s"query $q repeated a pick")
      // rank 1 is pure relevance (can sit below a diversity-bonused rank
      // 2 when sims go negative); from rank 2 on the greedy max cannot
      // increase because penalties only grow and candidates only shrink
      val m = sel.sortBy(_.getAs[Long]("sel_rank")).map(_.getAs[Double]("mmr2"))
      m.drop(1).sliding(2).foreach { case Array(a, b) =>
        assert(b <= a, s"query $q mmr2 increased: ${m.toSeq}")
      }
    }
  }

  test("served IVF hard-negative mining: recall, ceiling, and full mining all hold") {
    val rows = graft.Registry.byName("q_hard_negatives_ivf").run(spark, sf()).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_anchors") == 20L)
    assert(r.getAs[Boolean]("mined_recall_ge_floor"),
      "served mining lost the exact top-3 recall floor (0.5 at nprobe=6; measured 0.75)")
    assert(r.getAs[Boolean]("cand_sub_quadratic"),
      "probed candidate volume exceeded 0.6 · anchors × corpus")
    assert(r.getAs[Boolean]("full_mining"), "an anchor mined fewer than 3 negatives")
  }

  test("served IVF MMR: pool recall, candidate ceiling, and full selection all hold") {
    val rows = graft.Registry.byName("q_mmr_rerank_ivf").run(spark, sf()).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_queries") == 5L)
    assert(r.getAs[Boolean]("pool_recall_ge_floor"),
      "IVF pool lost the exact top-20 recall floor (0.5 at nprobe=6)")
    assert(r.getAs[Boolean]("cand_sub_quadratic"),
      "probed candidate volume exceeded 0.6 · queries × corpus")
    assert(r.getAs[Boolean]("full_selection"),
      "served greedy did not fill all 5 slots per query")
  }

  test("broadcast-join argmin assignment is bit-identical to the literal-kernel assignment") {
    // the documented large-k path (past the literal-codebook clamp):
    // same sequential distance fold, min(struct(d2, cid)) ties to the
    // lowest cid = the kernel's first-wins scan. Exact equality on the
    // real corpus, plus both minimum distances.
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val cs = Ivf.trainShared(spark, sf(), k = 16)
    val viaKernel = emb
      .select(col("vec_id"), Ivf.assignExpr(col("embedding").cast("array<double>"), cs).as("b"),
        Ivf.minDist2(col("embedding").cast("array<double>"), cs).as("d2"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val viaJoin = Ivf.assignViaJoin(emb, Ivf.centroidsTable(spark, cs))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("bucket"), r.getAs[Double]("d2")))).toMap
    assert(viaJoin == viaKernel, "join-path assignment diverged from the kernel path")
  }

  test("join-path indexMulti/probeCells/indexWithDist are bit-identical to the literal paths") {
    // Round-17 verdict #1: the corpus-adaptive blocked builds must keep
    // working past the literal-codebook size, so indexMulti/probeCells/
    // indexWithDist auto-route through the broadcast pair relation at
    // k > literalMaxK. This row pins the two paths bit-equal at an
    // overlapping k on the real corpus — same (d2, cid-asc) tie order,
    // same winning bucket, same carried vectors — so the switchover is
    // a plan change, never a result change.
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val cs = Ivf.trainShared(spark, sf(), k = 16)
    def multiSet(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket", "n_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(
      multiSet(Ivf.indexMultiJoin(emb, cs, 2)) == multiSet(Ivf.indexMultiLiteral(emb, cs, 2)),
      "join-path indexMulti diverged from the literal path")
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "bucket", "qn").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val q = emb.filter(col("vec_id") < 10)
    assert(
      probeSet(Ivf.probeCellsJoin(q, cs, 4)) == probeSet(Ivf.probeCellsLiteral(q, cs, 4)),
      "join-path probeCells diverged from the literal path")
    def distMap(df: org.apache.spark.sql.DataFrame) =
      df.select("n_id", "bucket", "d2").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(
      distMap(Ivf.indexWithDistJoin(emb, cs)) == distMap(Ivf.indexWithDistLiteral(emb, cs)),
      "join-path indexWithDist diverged from the literal path")
  }

  test("join-path Lloyd training matches the kernel-path training at an overlapping k") {
    // trainK routes to trainJoin past literalMaxK; at an overlapping k
    // the per-round assignments are bit-identical (previous row), so
    // the trained centroids agree to float-fold noise (avg() order is
    // plan-dependent — tolerance, not bit-equality, is the contract).
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val viaKernel = Ivf.train(spark, emb, k = 12, iters = 2)
    val viaJoin = Ivf.trainJoin(spark, emb, k = 12, iters = 2)
    assert(viaKernel.size == viaJoin.size)
    viaKernel.zip(viaJoin).zipWithIndex.foreach { case ((a, b), i) =>
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) <= math.max(math.abs(x), 1.0) * 1e-9,
          f"centroid $i diverged across Lloyd paths: $x vs $y")
      }
    }
  }

  test("MoG nprobe-recall curve: IVF, hard-negative, and MMR serving on clustered embeddings") {
    // FIXTURES.md A7 extension (round-14 verdict #6): the served
    // coarse-IVF family measured on the REALISTIC clustered regime —
    // hash-random mixture-of-Gaussians clusters, nothing aligned to the
    // quantizer — at three nprobe points. The curve is the evidence the
    // registered nprobe constants rest on; the asserts pin monotonicity
    // (probed-cell sets nest) and the measured floors (constants in
    // PLANS.md round-15).
    val emb = MoGFixture.singles(spark, seed = 11L, n = 600, clusters = 12, dim = 16)
      .withColumn("label", col("cluster")) // hard negatives mine across labels
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 12) // one query per cluster
    val centroids = Ivf.train(spark, emb, k = 16)
    val indexed = Ivf.index(emb, centroids)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pool(np: Int) =
      Ivf.probeCells(queries, centroids, nprobe = np)
        .join(indexed, Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"))

    // (1) raw IVF serving: recall@10 vs brute force
    val exactTop = pairSet(Similarity.bruteForceTopK(queries, emb, 10))
    val ivfRec = Seq(1, 2, 4).map { np =>
      val r = exactTop.count(
        pairSet(Ivf.topK(queries, indexed, centroids, k = 10, nprobe = np)).contains)
        .toDouble / exactTop.size
      info(f"IVF recall@10 nprobe=$np: $r%.3f")
      np -> r
    }.toMap
    assert(ivfRec(1) <= ivfRec(2) && ivfRec(2) <= ivfRec(4),
      "IVF recall must be monotone in nprobe (probed-cell sets nest)")
    assert(ivfRec(4) >= 0.9, "IVF nprobe=4 floor on clustered data")

    // (2) hard-negative serving: mined top-3-per-anchor overlap with the
    // full-scan mining (selection is a plain top-k, so overlap degrades
    // monotonically with pool recall)
    val exactMined = pairSet(SimilarityQueries.hardNegChain(emb, col("vec_id") < 12, None))
    val hnRec = Seq(1, 2, 4).map { np =>
      val mined = pairSet(SimilarityQueries.hardNegChain(emb, col("vec_id") < 12, Some(pool(np))))
      val r = exactMined.count(mined.contains).toDouble / exactMined.size
      info(f"hard-negative overlap nprobe=$np: $r%.3f")
      np -> r
    }.toMap
    assert(hnRec(1) <= hnRec(4), "hard-negative overlap must not shrink with more probes")
    assert(hnRec(4) >= 0.8, "hard-negative nprobe=4 floor on clustered data")

    // (3) MMR serving: the 5 greedy picks per query vs the exact-pool
    // picks (greedy interacts, so no per-point monotonicity claim — the
    // curve is reported, the production point is floored)
    val exactMmr = pairSet(SimilarityQueries.mmrSelect(emb, col("vec_id") < 12))
    val mmrRec = Seq(1, 2, 4).map { np =>
      val served = pairSet(
        SimilarityQueries.mmrServedIvf(
          spark, emb, col("vec_id") < 12, k = 16, nprobe = np, coarse = Some(centroids))._1)
      val r = exactMmr.count(served.contains).toDouble / exactMmr.size
      info(f"MMR pick overlap nprobe=$np: $r%.3f")
      np -> r
    }.toMap
    assert(mmrRec(4) >= 0.8, "MMR nprobe=4 floor on clustered data")
  }

  test("MoG graph-routed ANN: beam walk recall on clustered embeddings (the realistic regime)") {
    // q_sim_graph_routed gates at the flat fixture's 0.4 floor because
    // near-uniform random 16-d vectors are greedy routing's worst case
    // (no similarity gradient to descend). This measures the SAME walk
    // (SimilarityQueries.graphRoutedTopK over navGraph — shared code,
    // not a reimplementation) on the mixture-of-Gaussians fixture where
    // real embeddings live: cluster structure gives the descent its
    // gradient, and the measured recall is the evidence the registered
    // operator rests on. Constants in PLANS.md (round 16).
    val emb = MoGFixture.singles(spark, seed = 11L, n = 600, clusters = 12, dim = 16)
      .localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 12), emb, 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (routed, visited) = SimilarityQueries.graphRoutedTopK(
      emb, col("vec_id") < 12, SimilarityQueries.navGraph(emb))
    val got = routed.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    val scored = visited.count()
    info(f"graph-routed recall@3 on MoG: $recall%.3f ($scored scored over 12 queries)")
    assert(recall >= 0.85, f"clustered-regime recall $recall%.3f under the 0.85 floor")
    assert(scored <= 12L * (8L + 6L * 12L * 12L), "walk exceeded its construction bound")
  }

  test("MoG graph insert: grown graph serves new content at clustered-regime recall") {
    // The NSW-insert gate (q_sim_graph_incremental) on the realistic
    // geometry: build the navigable graph on 90% of the MoG corpus,
    // insert the remaining 10% by routing them (their walk top-8 become
    // bidirectional links), then route the 12 standard queries over the
    // GROWN graph against the FULL corpus truth — if inserted nodes were
    // unreachable, every query whose true neighbors landed in the delta
    // would miss.
    val emb = MoGFixture.singles(spark, seed = 11L, n = 600, clusters = 12, dim = 16)
      .localCheckpoint(true)
    val base = emb.filter(col("vec_id") % 10 =!= 5)
    val delta = emb.filter(col("vec_id") % 10 === 5)
    val baseGraph = SimilarityQueries.navGraph(base)
    val (_, visitedIns) = SimilarityQueries.graphRoutedOver(base, delta, baseGraph)
    val wIns = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    val ins = visitedIns.withColumn("rk", row_number().over(wIns)).filter(col("rk") <= 8)
      .select(col("q_id").as("src"), col("n_id").as("dst")).localCheckpoint(true)
    val grown = baseGraph.unionByName(ins)
      .unionByName(ins.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 12), emb, 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (routed, _) = SimilarityQueries.graphRoutedOver(emb, emb.filter(col("vec_id") < 12), grown)
    val got = routed.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    val deltaTruth = exact.count(_._2 % 10 == 5)
    val deltaHits = exact.filter(_._2 % 10 == 5).count(got.contains)
    info(f"grown-graph recall@3 on MoG: $recall%.3f ($deltaHits/$deltaTruth delta-node truths found)")
    assert(recall >= 0.85, f"grown-graph recall $recall%.3f under the 0.85 floor")
    assert(deltaTruth == 0 || deltaHits.toDouble / deltaTruth >= 0.5,
      "inserted nodes unreachable: delta-node truths missed")
  }

  test("MoG build A/B: the REGISTERED IVF-blocked build holds recall parity with the exact O(n²) build") {
    // Round-16 verdict #1 closed: navGraph's DEFAULT kNN side is now
    // the IVF-blocked candidate generation (navKnnEdges — the
    // q_knn_graph_ivf machinery), sub-quadratic by the candidate
    // ceiling asserted here. The exact all-pairs build survives only as
    // navGraphExact, and this row is the A/B evidence the switch rests
    // on: same long links, same beam walk, recall within 0.10 of the
    // exact build AND above the clustered floor, at < 0.6·n² build
    // candidates (measured 0.22·n², PLANS.md round 16).
    val emb = MoGFixture.singles(spark, seed = 11L, n = 600, clusters = 12, dim = 16)
      .localCheckpoint(true)
    val cells = Ivf.indexMulti(emb, Ivf.train(spark, emb, k = 16), r = 2)
    val cand = Ivf.knnCandidates(cells).localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 12), emb, 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def walkRecall(graph: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val (routed, visited) = SimilarityQueries.graphRoutedTopK(emb, col("vec_id") < 12, graph)
      val got = routed.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact.count(got.contains).toDouble / exact.size, visited.count())
    }
    val (recIvf, scored) = walkRecall(SimilarityQueries.navGraph(emb))
    val (recExact, _) = walkRecall(SimilarityQueries.navGraphExact(emb))
    val nCand = cand.count()
    info(f"build A/B — IVF-blocked (registered): $recIvf%.3f, exact O(n²): $recExact%.3f, " +
      f"build candidates: $nCand (n²=360000), walk scored: $scored")
    assert(recIvf >= 0.85, f"registered IVF-built-graph recall $recIvf%.3f under the clustered floor")
    assert(recIvf >= recExact - 0.10,
      f"IVF-blocked build lost recall parity: $recIvf%.3f vs exact $recExact%.3f")
    assert(nCand < (0.6 * 600 * 600).toLong, "IVF-blocked build lost its sub-quadratic ceiling")
    assert(scored <= 12L * (8L + 6L * 12L * 12L), "walk exceeded its construction bound")
  }

  test("MoG hierarchical entry: waypoint-seeded walk matches fixed-entry recall at HALF the hops") {
    // Round-16 verdict #6: HNSW's layer hierarchy exists to cut the hop
    // count at large n — the 13 driver-scheduled hop jobs dominate the
    // per-rep floor today. The coarse top layer here is the IVF-cell
    // medoid set (≤ k waypoints, broadcast): each query's beam starts at
    // its top-8 waypoints by exact cosine instead of 8 FIXED nodes, so
    // the walk spends hops refining, not crossing the corpus. Claim
    // measured: at hops=3 (half the registered 6) the hierarchical
    // entry reaches at least the fixed entry's hops=6 recall; at equal
    // hops it is no worse.
    val emb = MoGFixture.singles(spark, seed = 11L, n = 600, clusters = 12, dim = 16)
      .localCheckpoint(true)
    val graph = SimilarityQueries.navGraph(emb)
    val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 12), emb, 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(routed: org.apache.spark.sql.DataFrame): Double = {
      val got = routed.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val queries = emb.filter(col("vec_id") < 12)
    val waypoints = SimilarityQueries
      .cellMedoids(emb, Ivf.train(spark, emb, k = 16)).localCheckpoint(true)
    val seeds = SimilarityQueries.hierarchicalSeeds(waypoints, queries).localCheckpoint(true)
    val recFixed6 = recallOf(SimilarityQueries.graphRoutedTopK(emb, col("vec_id") < 12, graph)._1)
    val recHier3 = recallOf(
      SimilarityQueries.graphRoutedOver(emb, queries, graph, hops = 3, seeds = Some(seeds))._1)
    val recHier6 = recallOf(
      SimilarityQueries.graphRoutedOver(emb, queries, graph, hops = 6, seeds = Some(seeds))._1)
    info(f"hierarchical entry — fixed@6: $recFixed6%.3f, hier@3: $recHier3%.3f, hier@6: $recHier6%.3f")
    assert(recHier3 >= recFixed6 - 1e-9,
      f"half-hop hierarchical walk lost recall: $recHier3%.3f vs fixed@6 $recFixed6%.3f")
    assert(recHier6 >= recFixed6 - 1e-9,
      f"equal-hop hierarchical walk went backwards: $recHier6%.3f vs $recFixed6%.3f")
  }

  test("MoG graph delete: tombstoned waypoints vs hard unlinking, side by side") {
    // The q_sim_graph_tombstone policy choice measured on the clustered
    // regime: deletion keeps dead nodes as ROUTING WAYPOINTS (walk the
    // unchanged graph, filter answers — the FAISS/hnswlib mark-deleted
    // shape) instead of unlinking them (drop every edge touching a dead
    // node and walk the rewritten subgraph). What tombstoning buys is
    // MAINTENANCE cost — O(deletes) metadata against an immutable
    // stored artifact vs rewriting the edge relation every delete
    // batch; what it pays is beam slots spent on dead nodes. Measured
    // here: waypoint 0.972 vs unlinked 1.000 recall@3 at 1/7 deleted —
    // the recall price of never touching the artifact is ≤3 points on
    // clustered data, and this row is the tripwire if it ever grows
    // past noise. Constants in PLANS.md (round 16).
    val emb = MoGFixture.singles(spark, seed = 11L, n = 600, clusters = 12, dim = 16)
      .localCheckpoint(true)
    val live = emb.filter(!(col("vec_id") % 7 === 3)).localCheckpoint(true)
    val graph = SimilarityQueries.navGraph(emb)
    val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 12), live, 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wBeam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    // policy A (registered): unchanged graph, tombstones filtered from answers
    val (_, visitedA) = SimilarityQueries.graphRoutedTopK(emb, col("vec_id") < 12, graph)
    val gotA = visitedA.filter(!(col("n_id") % 7 === 3))
      .withColumn("rank", row_number().over(wBeam)).filter(col("rank") <= 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // policy B (naive): every edge touching a dead node removed, walk the subgraph
    val unlinked = graph
      .filter(!(col("src") % 7 === 3) && !(col("dst") % 7 === 3)).localCheckpoint(true)
    val (routedB, _) = SimilarityQueries.graphRoutedOver(
      live, emb.filter(col("vec_id") < 12), unlinked)
    val gotB = routedB.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallA = exact.count(gotA.contains).toDouble / exact.size
    val recallB = exact.count(gotB.contains).toDouble / exact.size
    info(f"delete policies on MoG — waypoint recall@3: $recallA%.3f, unlinked: $recallB%.3f")
    assert(recallA >= 0.85, f"waypoint-delete recall $recallA%.3f under the clustered floor")
    assert(recallA >= recallB - 0.05,
      "tombstone-as-waypoint routing lost to hard unlinking beyond noise")
  }

  test("MoG compaction: the rebuilt live-only graph restores the waypoint-delete recall price") {
    // Round-16 verdict #7: at sustained delete rates the tombstoned
    // graph decays (dead waypoints eat beam slots). q_graph_compaction's
    // policy — rebuild from live vectors via the IVF-blocked default
    // build once the tombstone fraction crosses the threshold — must
    // actually RESTORE recall, or compaction is churn. Trigger
    // semantics are integer-exact and pinned both sides: the planted
    // 1/7 fraction fires the 1/8 threshold, not the 1/4 one.
    val emb = MoGFixture.singles(spark, seed = 11L, n = 600, clusters = 12, dim = 16)
      .localCheckpoint(true)
    val live = emb.filter(!(col("vec_id") % 7 === 3)).localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 12), live, 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wBeam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    // decayed serving: tombstones as waypoints over the FULL graph
    val (_, visitedT) = SimilarityQueries.graphRoutedTopK(
      emb, col("vec_id") < 12, SimilarityQueries.navGraph(emb))
    val gotT = visitedT.filter(!(col("n_id") % 7 === 3))
      .withColumn("rank", row_number().over(wBeam)).filter(col("rank") <= 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // compacted serving: the rebuilt live-only graph (q_graph_compaction's fired branch)
    val (routedC, _) = SimilarityQueries.graphRoutedOver(
      live, emb.filter(col("vec_id") < 12), SimilarityQueries.navGraph(live))
    val gotC = routedC.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallT = exact.count(gotT.contains).toDouble / exact.size
    val recallC = exact.count(gotC.contains).toDouble / exact.size
    info(f"compaction on MoG — tombstoned: $recallT%.3f, rebuilt live-only: $recallC%.3f")
    assert(recallC >= recallT - 1e-9,
      f"compaction did not restore recall: rebuilt $recallC%.3f vs tombstoned $recallT%.3f")
    assert(recallC >= 0.9, f"rebuilt-graph recall $recallC%.3f under the restoration floor")
    // trigger arithmetic, both sides of the threshold (integer-exact,
    // the same booleans the registered gate and its oracle recompute)
    val n = 700L; val nd = 100L // a planted 1/7 corpus
    assert(nd * 8 >= n && !(nd * 4 >= n), "threshold booleans lost their 1/8-fires-1/4-doesn't shape")
  }

  test("MoG hybrid-RRF curve: fused top-10 overlap vs exact-dense fusion at three nprobe points") {
    // Round-15 verdict #7: the hybrid fusion had recall gates only on the
    // real-embeddings fixture; this measures the REGISTERED fusion stage
    // (SearchQueries.rrfFuse — the q_hybrid_search_ivf composition) on
    // the clustered mixture-of-Gaussians regime. The sparse list is the
    // SHARED leg (identical in exact and served fusions, exactly as in
    // the registered query, where both read the same BM25 board), built
    // here as a deterministic md5 ranking so the curve isolates the one
    // thing nprobe degrades: the dense candidate engine. Constants in
    // PLANS.md (round-16).
    val emb = MoGFixture.singles(spark, seed = 11L, n = 600, clusters = 12, dim = 16)
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 12)
    val centroids = Ivf.train(spark, emb, k = 16)
    val indexed = Ivf.index(emb, centroids)
    // shared sparse leg: per-query top-20 by md5(q||doc) — deterministic,
    // engine-independent, uncorrelated with the embedding geometry
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(md5(concat_ws("|",
        col("query_id").cast("string"), col("doc_id").cast("string"))), col("doc_id"))
    val sparse = queries.select(col("vec_id").cast("int").as("query_id"))
      .crossJoin(emb.select(col("vec_id").as("doc_id")))
      .filter(col("query_id") =!= col("doc_id"))
      .withColumn("srnk", row_number().over(sw))
      .filter(col("srnk") <= 20)
      .localCheckpoint(true)
    def denseOf(df: org.apache.spark.sql.DataFrame) = df.select(
      col("q_id").cast("int").as("query_id"), col("n_id").as("doc_id"), col("rank").as("drnk"))
    def fusedPairs(dense: org.apache.spark.sql.DataFrame) =
      SearchQueries.rrfFuse(sparse, denseOf(dense))
        .select("query_id", "doc_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    val exactFused = fusedPairs(Similarity.bruteForceTopK(queries, emb, 20))
    val curve = Seq(1, 2, 4).map { np =>
      val served = fusedPairs(Ivf.topK(queries, indexed, centroids, k = 20, nprobe = np))
      val r = exactFused.count(served.contains).toDouble / exactFused.size
      info(f"hybrid fused top-10 overlap nprobe=$np: $r%.3f")
      np -> r
    }.toMap
    // the sparse leg is shared, so fusion overlap dominates raw dense
    // recall; RRF tie-splits can wiggle single points, so monotonicity is
    // asserted end-to-end rather than per step
    assert(curve(1) <= curve(4) + 1e-9, "fused overlap degraded with MORE probes")
    assert(curve(4) >= 0.9, "hybrid fusion nprobe=4 floor on clustered data")
  }
}
