package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Scale probes for the iterative-graph and similarity families. Each
  * tier replicates fixture tables `mult`× into multi-file parquet under
  * `java.io.tmpdir` and times one family on the base and the grown
  * corpus, so per-unit cost can be compared across the two sizes.
  *
  * Usage: runMain graft.Stress <sfDir> <mult> graph|simfamily|powerlaw
  *  - `graph`: BFS, label propagation, SSSP, CC to fixpoint and CC repair
  *    on `mult` disjoint co-purchase graphs, plus a 200k-node chain.
  *  - `simfamily`: minhash pairs, the IVF-blocked kNN graph and IVF
  *    serving, and triangle counting on replicated corpora.
  *  - `powerlaw`: ccStar and hash-min CC on a Zipf-degree graph, with
  *    task-level skew per stage.
  *
  * The measurements of the retired tiers (flagship, gindex, retrieval,
  * li, streaming, trainer, prefix, media, sketch, full) are recorded in
  * PLANS.md. The export → clean → load pipeline is timed by
  * `perfbench/run.py`; the two-process artifact restart contract is
  * `RestartContractSpec`.
  *
  * Emits one JSON line per run.
  */
object Stress {

  /** Replicate with disjoint key ranges per replica; repartition so the
    * written parquet has many files → multi-task scans.
    */
  private def replicate(
      spark: SparkSession, df: DataFrame, keyCol: String, mult: Int): DataFrame =
    spark.range(mult).withColumnRenamed("id", "rep")
      .crossJoin(df)
      .withColumn(keyCol, col(keyCol) + col("rep") * 100000000L)
      .drop("rep")

  private def rate(n: Long, s: Double): Double = n / s / 1e6

  /** A tier's replicated-corpus dir, per user (the artifact-root
    * convention): a fixed shared path would let concurrent runs by
    * different users on one box clobber each other's corpus mid-measure.
    */
  private def outDir(tier: String): String = {
    val user = sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9._-]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft-stress-$tier-$user"
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, mult, tier) = args match {
      case Array(d, m, t @ ("graph" | "simfamily" | "powerlaw")) if m.toIntOption.exists(_ > 0) =>
        (d, m.toInt, t)
      case _ =>
        System.err.println("usage: graft.Stress <sfDir> <mult> graph|simfamily|powerlaw")
        sys.exit(2)
    }
    val spark: SparkSession = Sessions.build("graft-stress")
    tier match {
      case "graph" => runGraph(spark, sfDir, mult)
      case "simfamily" => runSimFamily(spark, sfDir, mult)
      case _ => runPowerLaw(spark, mult)
    }
    spark.stop()
  }

  /** Iterative-graph scale tier (round 17): the frontier claim made
    * numbers. Replicating lineitem with shifted order/part keys creates
    * `mult` DISJOINT copies of the co-purchase graph — edges grow ×mult
    * while a single-source BFS wave still explores exactly ONE copy. So
    * the A/B isolates the two cost regimes of iterative dataflow:
    * frontier BFS (per-round work = frontier ⋈ edges — broadcast-able
    * frontier, edge scan dominated) should grow far SLOWER than ×mult,
    * while label propagation, whose first round puts every node of every
    * copy on the wave, tracks the corpus. Emits one JSON line with both
    * curves and the edge counts.
    */
  private def runGraph(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = outDir("graph")
    val li0 = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    replicate(spark, li0, "l_orderkey", mult)
      .withColumn(
        "l_partkey",
        col("l_partkey") + expr("l_orderkey div 100000000") * 10000000L)
      .repartition(32).write.mode("overwrite").parquet(s"$out/li")
    def basket(df: org.apache.spark.sql.DataFrame) =
      df.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val b1 = basket(li0)
    val bm = basket(spark.read.parquet(s"$out/li"))
    // partitioned by src, as the registered rows build them
    val e1 = queries.Graph.coPurchaseEdges(b1, partitionBySrc = true)
    val em = queries.Graph.coPurchaseEdges(bm, partitionBySrc = true)
    val (ne1, nem) = (e1.count(), em.count())
    val src = b1.agg(min(col("pk"))).head().getLong(0)
    def bfs(edges: org.apache.spark.sql.DataFrame): (Double, Long) = {
      var n = 0L
      val t = Timing.timeOf { n = queries.Graph.bfsFrom(edges, src, hops = 4)._1.count() }
      (t, n)
    }
    def lpDelta(edges: org.apache.spark.sql.DataFrame): (Double, Long) = {
      var n = 0L
      val t = Timing.timeOf { n = queries.Graph.labelProp(edges, rounds = 3).count() }
      (t, n)
    }
    def sssp(edges: org.apache.spark.sql.DataFrame): (Double, Long) = {
      // a narrow expression over the checkpointed edges, as q_sssp_weighted
      // builds it: a re-checkpoint would drop their hash(src) partitioning
      val we = edges.withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(5L)))
      var n = 0L
      val t = Timing.timeOf { n = queries.Graph.ssspFrom(we, src, rounds = 4)._1.count() }
      (t, n)
    }
    // convergence-depth measurement (round-17 verdict #4's stress half):
    // run min-label propagation TO FIXPOINT and chart the wave — the
    // per-round improved counts shrink toward zero, so the delta form's
    // late rounds cost ~nothing while a fixed-round full propagation
    // burns O(E) on every one of them. Emitted: rounds to fixpoint,
    // the full wave profile, and the tail fraction (improved rows in
    // the second half of the rounds / total) — near-zero tail is the
    // claim made measurable.
    def ccFix(edges: org.apache.spark.sql.DataFrame, nodes: org.apache.spark.sql.DataFrame)
        : (Double, Int, Seq[Long]) = {
      var r = 0
      var w: Seq[Long] = Nil
      val t = Timing.timeOf {
        val (labels, rounds, waves, _) = queries.Graph.ccConverged(nodes, edges)
        labels.write.format("noop").mode("overwrite").save()
        r = rounds; w = waves
      }
      (t, r, w)
    }
    bfs(e1); lpDelta(e1); sssp(e1) // warm the shapes
    val (tb1, nb1) = bfs(e1); val (tbm, nbm) = bfs(em)
    val (td1, nl1) = lpDelta(e1); val (tdm, nlm) = lpDelta(em)
    val (ts1, ns1) = sssp(e1); val (tsm, nsm) = sssp(em)
    val n1 = b1.select(col("pk")).distinct()
    val nm = bm.select(col("pk")).distinct()
    val (tc1, rc1, wc1) = ccFix(e1, n1)
    val (tcm, rcm, wcm) = ccFix(em, nm)
    // warm-repair cost tracks the DELTA, not the graph (round-18
    // verdict #5's stress half): a FIXED 50-edge delta over stored
    // labels — the q_cc_repair_served serving shape — repaired on the
    // 1x and mult-x graphs; with seeding at the changed neighborhoods
    // the wall time should stay near-flat while the graph grows xmult
    // (the cold fixpoint above is the contrast that grows with it).
    def ccRepair(edges: org.apache.spark.sql.DataFrame, nodes: org.apache.spark.sql.DataFrame)
        : Double = {
      val (labels0, _, _, _) = queries.Graph.ccConverged(nodes, edges)
      val ids = nodes.orderBy(col("pk")).limit(100).collect().map(_.getLong(0))
      val pairs = ids.grouped(2).collect { case Array(a, b) => (a, b) }.toSeq
      import spark.implicits._
      val d0 = pairs.toDF("src", "dst")
      val delta = d0.unionByName(d0.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
      val merged = edges.unionByName(delta).localCheckpoint(true)
      val seed = delta.select(col("src").as("pk")).distinct()
      Timing.timeOf {
        val (l, _, _, done) =
          queries.Graph.ccConvergedFrom(labels0, merged, seed = Some(seed))
        require(done)
        l.write.format("noop").mode("overwrite").save()
      }
    }
    ccRepair(e1, n1) // warm the shape
    val tr1 = ccRepair(e1, n1)
    val trm = ccRepair(em, nm)
    // the HIGH-DIAMETER leg (the geometry hash-min structurally cannot
    // run): a 200k-node chain — min-label propagation would need
    // 199,999 rounds; star contraction (queries.Graph.ccStar) takes
    // O(log n). Emits rounds + wall time; the co-purchase legs above
    // are diameter-4, so this is where the log-round algorithm earns
    // its registration.
    val chainN = 200000L
    val ch0 = spark.range(chainN - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val chainEdges = ch0
      .unionByName(ch0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(32).localCheckpoint(true)
    val chainNodes = spark.range(chainN).select(col("id").as("pk"))
    var rStar = 0
    val tStar = Timing.timeOf {
      val (l, rr, _) = queries.Graph.ccStar(chainNodes, chainEdges)
      l.write.format("noop").mode("overwrite").save()
      rStar = rr
    }
    def tailFrac(w: Seq[Long]): Double =
      if (w.isEmpty || w.sum == 0) 0.0 else w.drop(w.size / 2).sum.toDouble / w.sum
    val num = (v: Double) => Timing.fmt3(v)
    def jarr(vs: Seq[Long]): String = vs.mkString("[", ",", "]")
    println(
      s"""{"tier":"graph","mult":$mult,"edges_1x":$ne1,"edges_mx":$nem,""" +
        s""""bfs_sec_1x":${num(tb1)},"bfs_sec_mx":${num(tbm)},"bfs_reached_1x":$nb1,"bfs_reached_mx":$nbm,""" +
        s""""bfs_growth":${num(tbm / tb1)},""" +
        s""""lp_nodes_1x":$nl1,"lp_nodes_mx":$nlm,""" +
        s""""lp_delta_sec_1x":${num(td1)},"lp_delta_sec_mx":${num(tdm)},""" +
        s""""lp_delta_growth":${num(tdm / td1)},""" +
        s""""sssp_sec_1x":${num(ts1)},"sssp_sec_mx":${num(tsm)},""" +
        s""""sssp_reached_1x":$ns1,"sssp_reached_mx":$nsm,""" +
        s""""sssp_growth":${num(tsm / ts1)},""" +
        s""""cc_sec_1x":${num(tc1)},"cc_sec_mx":${num(tcm)},""" +
        s""""cc_rounds_1x":$rc1,"cc_rounds_mx":$rcm,""" +
        s""""cc_wave_1x":${jarr(wc1)},"cc_wave_mx":${jarr(wcm)},""" +
        s""""cc_tail_frac_1x":${num(tailFrac(wc1))},"cc_tail_frac_mx":${num(tailFrac(wcm))},""" +
        s""""cc_growth":${num(tcm / tc1)},""" +
        s""""ccrepair_delta_edges":50,"ccrepair_sec_1x":${num(tr1)},""" +
        s""""ccrepair_sec_mx":${num(trm)},"ccrepair_growth":${num(trm / tr1)},""" +
        s""""chain_n":$chainN,"chain_star_rounds":$rStar,"chain_star_sec":${num(tStar)},""" +
        s""""chain_hashmin_rounds_needed":${chainN - 1}}""")
  }

  /** Power-law / skew tier (round-19 verdict #6): the CC family's gates
    * run on co-purchase graphs (near-uniform degree) and a planted
    * chain; a 100 TB web graph is power-law, and as contraction
    * proceeds the join keys become component MINIMA — hub keys. This
    * tier builds a synthetic Zipf-degree graph with planted giant
    * components and measures, for ccStar and hash-min ccConverged:
    * wall time, rounds, per-round improvement waves (hash-min), the
    * final component-size concentration, and TASK-level skew — max/avg
    * task duration and shuffle-read bytes per stage, collected by a
    * SparkListener over exactly the kernel run — the direct evidence
    * for whether hub keys translate into straggler tasks. The
    * kernel-shaped hot join (edges ⋈ labels, keyed by a column whose
    * value distribution IS the giant component) is then re-run as a
    * probe and its final ADAPTIVE plan scanned in-band for
    * SortMergeJoin/skew markers — whether AQE's skew split engaged or
    * the join resolved to broadcast (where per-key skew is moot).
    *
    * Construction (deterministic, no RNG): G disjoint replicas of an
    * n-node graph where node `off` (1 ≤ off < n) attaches to
    * parent = min(off−1, ⌊H^u⌋−1), u = xxhash64-uniform in [0,1) —
    * the inverse-CDF of Zipf(s=1) over H hubs, so hub r's degree ∝ 1/r
    * (hub 0 collects ~n/ln H edges; measured max/avg degree skew lands
    * in-band) and every replica is ONE planted giant component by
    * induction (every parent < its node).
    */
  private def runPowerLaw(spark: SparkSession, mult: Int): Unit = {
    val num = (v: Double) => Timing.fmt3(v)
    val G = 4L
    val nPer = math.max(10000L, mult.toLong * 100000L / G)
    val H = 1024
    val base = spark.range(G * nPer)
      .select(
        (col("id") / nPer).cast("long").as("g"),
        (col("id") % nPer).as("off"),
        ((abs(xxhash64(col("id"))) % 1048576L).cast("double") / 1048576.0).as("u"))
      .filter(col("off") >= 1)
      .select(
        (col("g") * nPer + col("off")).as("src"),
        (col("g") * nPer +
          least(
            col("off") - 1,
            greatest(lit(0L), floor(pow(lit(H.toDouble), col("u"))).cast("long") - 1L)))
          .as("dst"))
    val eSym = base
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(32)
      .localCheckpoint(true)
    val nodes = spark.range(G * nPer).select(col("id").as("pk")).localCheckpoint(true)
    val nNodes = G * nPer
    val nEdges = eSym.count()
    val degRow = eSym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("mx"), avg(col("d")).as("av")).collect()(0)
    val degSkew = degRow.getAs[Long]("mx").toDouble / degRow.getAs[Double]("av")

    final class SkewListener extends org.apache.spark.scheduler.SparkListener {
      val byStage = scala.collection.mutable.HashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized {
          val m = te.taskMetrics
          if (m != null && te.taskInfo != null)
            byStage.getOrElseUpdate(te.stageId, scala.collection.mutable.ArrayBuffer.empty) +=
              ((te.taskInfo.duration, m.shuffleReadMetrics.totalBytesRead))
        }
      /** (worst max/avg task-duration ratio, worst max/avg shuffle-read
        * ratio, stages counted): stages with at least min(8, the
        * session's default parallelism) tasks, since sessions run one
        * shuffle partition per core and a fixed 8 would skip nearly
        * every stage on a smaller box; the shuffle ratio only over
        * stages reading ≥ 1 MB total (below that the "skew" is
        * constant-overhead noise).
        */
      def worst(): (Double, Double, Int) = synchronized {
        val minTasks = math.min(8, spark.sparkContext.defaultParallelism)
        val st = byStage.values.filter(_.length >= minTasks).toSeq
        def ratio(xs: Seq[Long]): Double = {
          val av = xs.sum.toDouble / xs.length
          if (av <= 0) 1.0 else xs.max / av
        }
        val dur = st.map(s => ratio(s.map(_._1).toSeq))
        val shf = st.filter(_.map(_._2).sum >= (1L << 20)).map(s => ratio(s.map(_._2).toSeq))
        (if (dur.isEmpty) 1.0 else dur.max, if (shf.isEmpty) 1.0 else shf.max, st.length)
      }
    }
    def measured[T](body: => T): (T, Double, Double, Int, Double) = {
      val l = new SkewListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
      val (d, s, n) = l.worst()
      (r, d, s, n, sec)
    }

    val ((starLabels, starRounds, starDone), starDurSkew, starShfSkew, starStages, starSec) =
      measured(queries.Graph.ccStar(nodes, eSym))
    val compRow = starLabels.groupBy(col("label")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("ncomp"), max(col("c")).as("mx")).collect()(0)
    val ((hmRes), hmDurSkew, hmShfSkew, hmStages, hmSec) =
      measured(queries.Graph.ccConverged(nodes, eSym))
    val (hmLabels, hmRounds, hmWaves, hmDone) = hmRes
    val mismatches = starLabels
      .join(hmLabels.withColumnRenamed("label", "l2"), Seq("pk"))
      .filter(col("label") =!= col("l2")).count()

    // AQE adjudication on the kernel-shaped hot join: every src key of a
    // replica aggregates into ONE hub label — the skewed shape the
    // kernels shuffle. The probe's executed (adaptive) plan says whether
    // the join went SortMergeJoin (skew split visible as skew=true) or
    // broadcast (per-key skew moot for the join; the groupBy's partial
    // aggregation absorbs the hot key map-side).
    val probe = eSym
      .join(starLabels.withColumnRenamed("pk", "src"), Seq("src"))
      .groupBy(col("label")).agg(count(lit(1)).as("c"))
    // Execute and inspect through the SAME QueryExecution (round-20
    // ADVICE): DataFrameWriter.save() runs a separate QueryExecution, so
    // the probe's own AdaptiveSparkPlanExec was never executed
    // (isFinalPlan=false) and the inspected string reflected the STATIC
    // initial plan — skew-split could never report true. collect() is
    // bounded: the groupBy leaves one row per component label. The
    // adaptive plan hides executed subtrees behind
    // AdaptiveSparkPlanExec.executedPlan / QueryStageExec.plan — walk
    // both (the scanOutputRows recipe) before stringifying.
    probe.collect()
    val planStr = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => q +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      allNodes(probe.queryExecution.executedPlan).map(_.toString).mkString("\n")
    }
    val jarr = (xs: Seq[Long]) => xs.mkString("[", ",", "]")
    println(
      s"""{"tier":"powerlaw","mult":$mult,"nodes":$nNodes,"edges":$nEdges,""" +
        s""""replicas":$G,"hubs":$H,"deg_skew_max_over_avg":${num(degSkew)},""" +
        s""""star_sec":${num(starSec)},"star_rounds":$starRounds,"star_converged":$starDone,""" +
        s""""star_task_dur_skew":${num(starDurSkew)},"star_shuffle_skew":${num(starShfSkew)},""" +
        s""""star_stages_measured":$starStages,""" +
        s""""components":${compRow.getAs[Long]("ncomp")},"max_component":${compRow.getAs[Long]("mx")},""" +
        s""""hashmin_sec":${num(hmSec)},"hashmin_rounds":$hmRounds,"hashmin_converged":$hmDone,""" +
        s""""hashmin_task_dur_skew":${num(hmDurSkew)},"hashmin_shuffle_skew":${num(hmShfSkew)},""" +
        s""""hashmin_stages_measured":$hmStages,"hashmin_waves":${jarr(hmWaves)},""" +
        s""""labels_mismatch":$mismatches,""" +
        s""""probe_join_sortmerge":${planStr.contains("SortMergeJoin")},""" +
        s""""probe_join_skew_split":${planStr.contains("skew=true")},""" +
        s""""probe_join_broadcast":${planStr.contains("BroadcastHashJoin")}}""")
  }

  /** Dedup/similarity-family scale tier (round-8 verdict #5): the NEW
    * family members' extrapolation evidence. Three shapes, each on a
    * corpus grown so the OPERATOR's work actually multiplies:
    *
    *  - `q_dedup_minhash_pairs` serving path on mult× documents with
    *    per-replica word-suffixed texts — distinct gram/bucket spaces,
    *    so the corpus is genuinely bigger, not one quadratic LSH bucket
    *    (that worst case is recorded in PLANS.md, "Measured
    *    duplicated-corpus worst case"). Per-doc
    *    throughput should hold ≈ flat: signatures are per-row, bucket
    *    sizes stay bounded.
    *  - IVF-blocked kNN graph on multE× embeddings with per-replica
    *    direction perturbation, k = cellCount(n) (√n-scaled, clamped 64),
    *    r = 2; train/index build OUTSIDE the timing (a stored table in
    *    production). The honest per-unit metric is per-CANDIDATE
    *    throughput — candidate volume is r²·n²/k ≈ r²·n^1.5 by design,
    *    so per-ROW cost grows ~√n; flat cost per scored candidate is the
    *    claim that survives scale.
    *  - Triangle counting on mult× lineitem with BOTH part and order key
    *    spaces shifted per replica — disjoint graph copies, so triangles
    *    scale linearly and flat per-edge throughput is the pass signal
    *    for the degree-oriented edge-centric plan.
    */
  private def runSimFamily(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = outDir("simfam")
    val num = (v: Double) => Timing.fmt3(v)

    // ---- minhash serving path on a genuinely larger corpus ----
    // Per-replica Caesar rotation of the alphabet: replica texts share
    // ZERO shingles across replicas (a word-suffix variant was measured
    // leaving interior grams intact — cross-replica est-Jaccard above
    // threshold, 38.7M quadratic pairs at mult=16), while within-replica
    // pair structure replicates the base corpus exactly. So found pairs
    // scale linearly with mult and the timing measures the SERVING cost
    // of a genuinely bigger corpus, not pathological output volume.
    // Rotation arity caps the tier at mult <= 26.
    require(mult <= 26, s"simfamily docs leg needs distinct rotations: mult $mult > 26")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    (0 until mult)
      .map { rep =>
        val rot = alpha.drop(rep) + alpha.take(rep)
        docs.select(
          (col("doc_id") + lit(rep.toLong) * 10000000L).as("doc_id"),
          translate(col("text"), alpha, rot).as("text"))
      }
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val nDocs = Tables(spark, out, "documents").count()
    def mh(): Double = Timing.timeOf {
      ext.Dedup.minhashPairs(
        Tables(spark, out, "documents"), "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    mh()
    val mhSec = Seq(mh(), mh()).min
    val mhPairs = ext.Dedup.minhashPairs(
      Tables(spark, out, "documents"), "doc_id", "text").count()

    // ---- IVF-blocked kNN graph at the REGISTERED adaptive-k policy ----
    // k = cellCountScaled(n) on both the base corpus and the replica-
    // grown one (round-17 verdict #1 'done' evidence): the emitted
    // growth exponent log(cand_big/cand_base)/log(n_big/n_base) must
    // read ~1.5, not 2 — the n^1.5 claim as a measurement, with the
    // pinned-k n² alternative visible as what the exponent would be if
    // k stopped scaling. multE up to 24 pushes k past literalMaxK
    // (48k vectors → k=78), so the broadcast-join assignment path runs
    // inside the measured build, not only in spec.
    val multE = math.min(mult, 24)
    val emb = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    spark.range(multE).withColumnRenamed("id", "rep")
      .crossJoin(emb)
      .select(
        (col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x + 0.1 * sin(rep * (i + 1)) AS FLOAT))")
          .as("embedding"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val embBig = Tables(spark, out, "embeddings")
    val nBase = emb.count()
    val kBase = ext.Ivf.cellCountScaled(nBase)
    val cellsBase = ext.Ivf
      .indexMulti(emb, ext.Ivf.trainK(spark, emb, k = kBase), r = 2)
      .localCheckpoint(true)
    val nCandBase = ext.Ivf.knnCandidates(cellsBase).count()
    val nVecs = embBig.count()
    val k = ext.Ivf.cellCountScaled(nVecs)
    val cells = ext.Ivf
      .indexMulti(embBig, ext.Ivf.trainK(spark, embBig, k = k), r = 2)
      .localCheckpoint(true)
    def knn(): Double = Timing.timeOf {
      ext.Ivf.knnTopK(ext.Ivf.knnCandidates(cells), 3)
        .write.format("noop").mode("overwrite").save()
    }
    knn()
    val knnSec = Seq(knn(), knn()).min
    val nCand = ext.Ivf.knnCandidates(cells).count()
    val candExp =
      math.log(nCand.toDouble / nCandBase) / math.log(nVecs.toDouble / nBase)

    // ---- nprobe-SERVING at the adaptive k (round-18 verdict #1's
    // measurement half): with k = cellCountScaled(n) and a CONSTANT
    // nprobe, the per-query scanned FRACTION pool/(q·n) must SHRINK as
    // the corpus grows — nprobe=8 of kBase=16 cells is ~0.5 of the
    // base corpus, ~8/78 ≈ 0.10 at 24× — while a pinned k would hold
    // it constant (the linear-scan asymptotic class the serving rows
    // escaped this round). Recall@3 vs in-plan brute force rides
    // alongside so the shrink is never mistaken for free. Queries =
    // the 16 rep-0 vectors, identical ids on both corpora.
    def servingLeg(corpus: org.apache.spark.sql.DataFrame, k: Int, nprobe: Int)
        : (Double, Double, Double) = {
      val cents = ext.Ivf.trainK(spark, corpus, k)
      val q = corpus.filter(col("vec_id") < 16)
      val nq = q.count()
      val n = corpus.count()
      val indexed = ext.Ivf.index(corpus, cents)
      val pool = ext.Ivf.probeCells(q, cents, nprobe)
        .join(indexed.select(col("n_id"), col("bucket")), Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .count()
      val exact = ext.Similarity.bruteForceTopK(q, corpus, 3)
        .select(col("q_id"), col("n_id")).localCheckpoint(true)
      def serve(): Double = Timing.timeOf {
        ext.Ivf.topK(q, indexed, cents, k = 3, nprobe = nprobe)
          .write.format("noop").mode("overwrite").save()
      }
      serve()
      val serveSec = Seq(serve(), serve()).min
      val hits = exact.join(
        ext.Ivf.topK(q, indexed, cents, k = 3, nprobe = nprobe)
          .select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi").count()
      (pool.toDouble / (nq * n), hits.toDouble / exact.count(), serveSec)
    }
    val (sfrB, srecB, ssecB) = servingLeg(emb, kBase, nprobe = 8)
    val (sfrM, srecM, ssecM) = servingLeg(embBig, k, nprobe = 8)
    // the AUTO-TUNED point (round-19 verdict #2): serving everywhere now
    // picks nprobe = Ivf.adaptiveNprobe(base, k) — base at the gate
    // tiers by construction, ∝√k past them — so the pinned-nprobe
    // recall decay above (the two legs preceding this) is the
    // counterfactual, and THIS leg is what a deployment actually runs
    // with zero manual knob edits. Contract measured every round:
    // recall ≥ the base tier's at a scanned fraction that still
    // SHRINKS vs base (nprobe/k ∝ 1/√k).
    val npAuto = ext.Ivf.adaptiveNprobe(8, k)
    val (sfrMA, srecMA, ssecMA) = servingLeg(embBig, k, nprobe = npAuto)
    val autoRecallHolds = srecMA >= srecB - 1e-9
    val autoFracShrinks = sfrMA < sfrB / 2.0

    // ---- triangle counting on disjoint replicated basket graphs ----
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    spark.range(mult).withColumnRenamed("id", "rep")
      .crossJoin(li)
      .select(
        (col("l_orderkey") + col("rep") * 100000000L).as("l_orderkey"),
        (col("l_partkey") + col("rep") * 100000000L).as("l_partkey"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val nLi = Tables(spark, out, "lineitem").count()
    def tri(): Double = Timing.timeOf {
      Registry.byName("q_triangle_count").run(spark, out)
        .write.format("noop").mode("overwrite").save()
    }
    tri()
    val triSec = Seq(tri(), tri()).min
    val liProj = Tables(spark, out, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val nEdges = liProj.as("x")
      .join(liProj.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk"), col("y.pk")).distinct().count()

    println(
      s"""{"tier":"simfamily","mult":$mult,"files":32,""" +
        s""""docs":$nDocs,"minhash_pairs_sec":${num(mhSec)},"minhash_pairs_found":$mhPairs,""" +
        s""""minhash_mrows_s":${num(rate(nDocs, mhSec))},""" +
        s""""vecs":$nVecs,"ivf_k":$k,"vecs_base":$nBase,"ivf_k_base":$kBase,""" +
        s""""knn_sec":${num(knnSec)},"knn_candidates":$nCand,"knn_cand_base":$nCandBase,""" +
        s""""knn_cand_growth_exponent":${num(candExp)},""" +
        s""""serve_nprobe":8,"serve_frac_base":${num(sfrB)},"serve_recall_base":${num(srecB)},""" +
        s""""serve_sec_base":${num(ssecB)},"serve_frac_big":${num(sfrM)},""" +
        s""""serve_recall_big":${num(srecM)},"serve_sec_big":${num(ssecM)},""" +
        s""""serve_nprobe_auto":$npAuto,"serve_frac_big_auto":${num(sfrMA)},""" +
        s""""serve_recall_big_auto":${num(srecMA)},"serve_sec_big_auto":${num(ssecMA)},""" +
        s""""serve_auto_recall_holds":$autoRecallHolds,"serve_auto_frac_shrinks":$autoFracShrinks,""" +
        s""""knn_mrows_s":${num(rate(nVecs, knnSec))},"knn_mcand_s":${num(rate(nCand, knnSec))},""" +
        s""""lineitem_rows":$nLi,"tri_sec":${num(triSec)},"tri_edges":$nEdges,""" +
        s""""tri_mrows_s":${num(rate(nLi, triSec))},"tri_medges_s":${num(rate(nEdges, triSec))}}""")
  }
}
