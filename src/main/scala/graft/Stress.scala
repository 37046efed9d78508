package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-behavior probe: the bench testdata is single-row-group parquet
  * (1-task scans), which hides the engine's real parallel throughput.
  * This main replicates lineitem/orders `mult`× with shifted keys into
  * multi-file parquet under /tmp, then times the flagship aggregate and
  * the fact-fact join shape on BOTH layouts — measuring what actually
  * matters at 100 TB: per-row cost once scans split properly.
  *
  * Usage: runMain graft.Stress [sfDir] [mult] [tier]
  *  - tier omitted/"full": the round-6/7 suite (16× lineitem/orders,
  *    duplicated-corpus minhash + truth-gate worst cases, top-k operator
  *    A/B, z-order skipping probe).
  *  - tier "flagship": the sf1-scale extrapolation run (round-7 verdict
  *    #8) — lineitem replicated to ~100M rows (mult≈167), 32 files, and
  *    ONLY the three flagship shapes timed (pricing hash-agg, fact-fact
  *    join, hot-key top-k custom vs window), each as Mrows/s. These are
  *    the numbers PLANS.md's 100 TB claims extrapolate from: if Mrows/s
  *    holds within 2× from 9.6M to 100M rows, per-row cost is flat and
  *    the remaining scale risk is shuffle fan-in, not the operators.
  *  - tiers "gindex", "simfamily", "retrieval", "li", "streaming",
  *    "trainer", "prefix", "media", "sketch", "restart", "graph",
  *    "powerlaw": one scale probe each, documented on its `run*` method.
  *
  * The export → clean → load pipeline is timed by `perfbench/run.py`
  * (workloads `etl_many_small`, `etl_large`), not here.
  *
  * Emits one JSON line: rows, seconds and Mrows/s per (layout, query).
  */
object Stress {

  private def time(f: => Unit): Double = Timing.timeOf(f)

  // ---- shared probe bodies (one definition per shape, every tier) ----

  private def pricingProbe(spark: SparkSession, dir: String): Double = time {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        core.Agg.dsum(col("l_quantity")).as("sum_qty"),
        core.Agg.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc"),
        count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
  }

  private def factJoinProbe(spark: SparkSession, dir: String): Double = time {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), core.Agg.dsum(col("l_quantity")).as("sum_qty"))
      .write.format("noop").mode("overwrite").save()
  }

  private def topkChild(spark: SparkSession, dir: String, keyName: String) =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col(keyName), col("l_orderkey"), col("l_extendedprice"))

  private def topkWindowProbe(spark: SparkSession, dir: String, keyName: String): Double = time {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyName))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"))
    // measure the WINDOW form even now that the rewrite defaults on
    val flag = graft.plans.TopKRewrite.Flag
    val prev = spark.conf.getOption(flag)
    spark.conf.set(flag, "false")
    try
      topkChild(spark, dir, keyName)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") <= 3)
        .write.format("noop").mode("overwrite").save()
    finally prev match {
      case Some(v) => spark.conf.set(flag, v)
      case None => spark.conf.unset(flag)
    }
  }

  private def topkCustomProbe(spark: SparkSession, dir: String, keyName: String): Double = time {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val child = topkChild(spark, dir, keyName).queryExecution.analyzed
    val key = child.output.find(_.name == keyName).get
    val price = child.output.find(_.name == "l_extendedprice").get
    val ok = child.output.find(_.name == "l_orderkey").get
    org.apache.spark.sql.GraftShim
      .ofRows(spark, graft.plans.TopKPerKey(
        Seq(key), Seq(SortOrder(price, Descending), SortOrder(ok, Ascending)),
        3, graft.plans.TopKPerKey.rankAttribute(), child))
      .write.format("noop").mode("overwrite").save()
  }

  // ---- global-index A/B: the q_global_index two-pass plan vs the naive
  // one-partition window row_number over the same total order ----

  private def gindexTwoPassProbe(spark: SparkSession, dir: String): Double = time {
    import org.apache.spark.sql.expressions.Window
    val p = spark.sparkContext.defaultParallelism
    val sorted = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .repartitionByRange(p, col("l_extendedprice"), col("l_orderkey"))
      .sortWithinPartitions(col("l_extendedprice"), col("l_orderkey"))
      .select(
        col("l_orderkey"),
        spark_partition_id().as("pid"),
        monotonically_increasing_id().as("mid"))
    val offsets = sorted.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn(
        "off",
        coalesce(
          sum(col("cnt")).over(
            Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("pid"), col("off"))
    sorted.join(broadcast(offsets), "pid")
      .select(
        col("l_orderkey"),
        (col("off") + (col("mid") - col("pid").cast("long") * lit(8589934592L))).as("gidx"))
      .write.format("noop").mode("overwrite").save()
  }

  private def gindexWindowProbe(spark: SparkSession, dir: String): Double = time {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("l_extendedprice"), col("l_orderkey"))
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .withColumn("gidx", row_number().over(w).cast("long") - 1L)
      .select(col("l_orderkey"), col("gidx"))
      .write.format("noop").mode("overwrite").save()
  }

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

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val tier = args.lift(2).getOrElse("full")
    val mult = args.lift(1).map(_.toInt).getOrElse(if (tier == "flagship") 167 else 16)
    val spark: SparkSession = Sessions.build("graft-stress")
    if (tier == "flagship") runFlagship(spark, sfDir, mult)
    else if (tier == "gindex") runGindex(spark, sfDir, mult)
    else if (tier == "simfamily") runSimFamily(spark, sfDir, mult)
    else if (tier == "retrieval") runRetrieval(spark, sfDir, mult)
    else if (tier == "li") runLateInteraction(spark, sfDir, mult)
    else if (tier == "streaming") runStreaming(spark, sfDir, mult)
    else if (tier == "trainer") runTrainer(spark, sfDir, mult)
    else if (tier == "prefix") runPrefix(spark, sfDir, mult)
    else if (tier == "media") runMedia(spark, sfDir, mult)
    else if (tier == "sketch") runSketch(spark, sfDir, mult)
    else if (tier == "restart") runRestart(spark, sfDir)
    else if (tier == "graph") runGraph(spark, sfDir, mult)
    else if (tier == "powerlaw") runPowerLaw(spark, mult)
    else runFull(spark, sfDir, mult)
    spark.stop()
  }

  /** Iterative-graph scale tier (round 17): the frontier claim made
    * numbers. Replicating lineitem with shifted order/part keys creates
    * `mult` DISJOINT copies of the co-purchase graph — edges grow ×mult
    * while a single-source BFS wave still explores exactly ONE copy. So
    * the A/B isolates the two cost regimes of iterative dataflow:
    * frontier BFS (per-round work = frontier ⋈ edges — broadcast-able
    * frontier, edge scan dominated) should grow far SLOWER than ×mult,
    * while synchronous label propagation (per-round work = ALL labels ⋈
    * edges) is the honest O(E)-per-round baseline that tracks the
    * corpus. Emits one JSON line with both curves and the edge counts.
    */
  private def runGraph(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    // per-user output dir (the artifact-root convention): a fixed
    // shared path would let concurrent runs by different users on one
    // box clobber each other's replicated corpus mid-measure
    val user = sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9._-]", "_")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-graph-$user"
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
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
    val e1 = queries.Graph.coPurchaseEdges(b1)
    val em = queries.Graph.coPurchaseEdges(bm)
    val (ne1, nem) = (e1.count(), em.count())
    val src = b1.agg(min(col("pk"))).head().getLong(0)
    def bfs(edges: org.apache.spark.sql.DataFrame): (Double, Long) = {
      var n = 0L
      val t = time { n = queries.Graph.bfsFrom(spark, edges, src, hops = 4).count() }
      (t, n)
    }
    def lpFull(edges: org.apache.spark.sql.DataFrame): (Double, Long) = {
      var n = 0L
      val t = time { n = queries.Graph.labelPropFull(edges, rounds = 3).count() }
      (t, n)
    }
    def lpDelta(edges: org.apache.spark.sql.DataFrame): (Double, Long) = {
      var n = 0L
      val t = time { n = queries.Graph.labelProp(edges, rounds = 3).count() }
      (t, n)
    }
    def sssp(edges: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val we = edges.withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(5L)))
        .localCheckpoint(true)
      var n = 0L
      val t = time { n = queries.Graph.ssspFrom(spark, we, src, rounds = 4).count() }
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
      val t = time {
        val (labels, rounds, waves, _) = queries.Graph.ccConverged(nodes, edges)
        labels.write.format("noop").mode("overwrite").save()
        r = rounds; w = waves
      }
      (t, r, w)
    }
    bfs(e1); lpFull(e1); lpDelta(e1); sssp(e1) // warm the shapes
    val (tb1, nb1) = bfs(e1); val (tbm, nbm) = bfs(em)
    val (tl1, nl1) = lpFull(e1); val (tlm, nlm) = lpFull(em)
    val (td1, _) = lpDelta(e1); val (tdm, _) = lpDelta(em)
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
      time {
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
    val tStar = time {
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
        s""""lp_full_sec_1x":${num(tl1)},"lp_full_sec_mx":${num(tlm)},"lp_nodes_1x":$nl1,"lp_nodes_mx":$nlm,""" +
        s""""lp_full_growth":${num(tlm / tl1)},""" +
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
        * ratio, stages counted): stages with ≥ 8 tasks; the shuffle
        * ratio only over stages reading ≥ 1 MB total (below that the
        * "skew" is constant-overhead noise).
        */
      def worst(): (Double, Double, Int) = synchronized {
        val st = byStage.values.filter(_.length >= 8).toSeq
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

  /** Restart-contract gate in CI shape (round-16 verdict #8): the
    * cross-JVM train-once/serve-many evidence was manual QTime runs —
    * this tier makes it a command. Phase 1 (this JVM): serve every
    * artifact-backed registry ([[ArtifactDrive.serveAll]]) against a
    * FRESH store — all builds happen here. Phase 2: fork a REAL second
    * JVM ([[RestartProbe]] — same classpath, same store root via env)
    * that serves the same set and reports its own build count. Contract:
    * the second process performs ZERO builds. Emits one JSON line; the
    * round-close checklist runs `runMain graft.Stress <sfDir> 1 restart`
    * and requires `"restart_contract_pass":true`.
    */
  private def runRestart(spark: SparkSession, sfDir: String): Unit = {
    val store = java.nio.file.Files.createTempDirectory("graft-restart-store").toString
    spark.conf.set("graft.artifacts.dir", store)
    val num = (v: Double) => Timing.fmt3(v)
    val b0 = core.ArtifactStore.builds.get()
    val warmSec = time(ArtifactDrive.serveAll(spark, sfDir))
    val warmBuilds = core.ArtifactStore.builds.get() - b0
    // fork the probe with THIS JVM's classpath (run / fork := true, so
    // java.class.path is the real application classpath) and the same
    // JDK17 module opens Spark needs outside spark-submit (the
    // org.apache.spark.launcher.JavaModuleOptions list build.sbt uses)
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx8g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.RestartProbe", sfDir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("GRAFT_ARTIFACTS_DIR", store)
    pb.redirectErrorStream(true)
    val t0 = System.nanoTime()
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    val rc = p.waitFor()
    val coldSec = (System.nanoTime() - t0) / 1e9
    val coldBuilds = out.collectFirst {
      case l if l.startsWith("RESTART_PROBE_BUILDS=") =>
        l.stripPrefix("RESTART_PROBE_BUILDS=").trim.toLong
    }
    // lifecycle telemetry (round-17 verdict #8): run the retention
    // sweep against the store both phases just served and surface
    // swept/kept counts in the round-close JSON — every slot here was
    // used seconds ago, so ANY swept slot is a lifecycle regression
    // (an over-eager cutoff or a lost last-used signal), visible in
    // the checklist rather than only in ArtifactRegistrySpec
    val swept = core.ArtifactStore.retentionSweep(spark)
    val kept = Option(new java.io.File(store).listFiles())
      .map(_.count(_.isDirectory)).getOrElse(0)
    val pass = rc == 0 && coldBuilds.contains(0L) && swept.isEmpty
    if (!pass) out.takeRight(30).foreach(l => System.err.println(s"[restart-probe] $l"))
    println(
      s"""{"metric":"restart_contract","warm_builds":$warmBuilds,""" +
        s""""warm_sec":${num(warmSec)},"cold_builds":${coldBuilds.map(_.toString).getOrElse("null")},""" +
        s""""cold_proc_sec":${num(coldSec)},"probe_rc":$rc,""" +
        s""""swept_slots":${swept.size},"kept_slots":$kept,""" +
        s""""restart_contract_pass":$pass,"store":"$store","sf":"$sfDir"}""")
  }

  /** Streaming-twin scale tier: throughput of the transformWithState
    * ingest paths on replicated corpora — the skeptic's question for the
    * stream≡batch family is whether the RocksDB state store keeps up,
    * and this measures it. Two shapes at opposite ends of the state
    * spectrum:
    *
    *  - [[streaming.PricingStream]] over mult× lineitem: 6 hot keys,
    *    state 9 scalars each — the pure fold-throughput bound (shuffle
    *    lands on 6 of 32 partitions by design; the per-row cost is the
    *    metric, the skew is the flagship aggregate's own key space).
    *  - [[streaming.ClusterStream]] over multE× embeddings: K=64 cells,
    *    state dims+1 longs each, narrow-map assignment before the fold.
    *
    * Both run one AvailableNow pass over a 4-file input (4 micro-batches
    * — checkpoint + state-commit overhead included ×4), reported as
    * Mrows/s against the batch q_agg_pricing / batch cell-agg rate on
    * the same replicated data for an honest streaming-tax ratio.
    */
  private def runStreaming(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-streaming"
    // checkpoints remember source files by path: a stale ck dir from a
    // previous tier run against re-written inputs fails the listing —
    // start from a clean root every run
    def rmrf(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
    rmrf(java.nio.file.Paths.get(out))
    val num = (v: Double) => Timing.fmt3(v)
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // ---- PricingStream over replicated lineitem ----
    val cols = Seq(
      "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").select(cols.map(col): _*)
    spark.range(mult).crossJoin(li).drop("id")
      .repartition(4).write.mode("overwrite").parquet(s"$out/li-in")
    val nLi = spark.read.parquet(s"$out/li-in").count()
    def pricingPass(tag: String): Double = time {
      val stream = spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$out/li-in")
      val q = streaming.PricingStream.view(spark, stream)
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$out/li-out-$tag")
        .option("checkpointLocation", s"$out/li-ck-$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    pricingPass("warm")
    val pSec = Seq(pricingPass("a"), pricingPass("b")).min
    val pBatch = time {
      Registry.byName("q_agg_pricing").run(spark, out0(spark, s"$out/li-in", "lineitem"))
        .write.format("noop").mode("overwrite").save()
    }

    // ---- ClusterStream over replicated embeddings ----
    val multE = math.min(mult, 16)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    spark.range(multE).withColumnRenamed("id", "rep")
      .crossJoin(emb)
      .select(
        (col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x + 0.1 * sin(rep * (i + 1)) AS FLOAT))")
          .as("embedding"))
      .repartition(4).write.mode("overwrite").parquet(s"$out/emb-in")
    val embBig = spark.read.parquet(s"$out/emb-in")
    val nVecs = embBig.count()
    val cents = ext.Ivf.train(spark, embBig, k = 64)
    def clusterPass(tag: String): Double = time {
      val stream = spark.readStream.schema(embBig.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$out/emb-in")
      val q = streaming.ClusterStream.cells(spark, stream, cents)
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$out/emb-out-$tag")
        .option("checkpointLocation", s"$out/emb-ck-$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    clusterPass("warm")
    val cSec = Seq(clusterPass("a"), clusterPass("b")).min
    val cBatch = time {
      streaming.ClusterStream.arrivals(spark, embBig, cents)
        .select(col("bucket"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("bucket"), col("pos"))
        .agg(expr("sum(x) div count(1)").as("m"), count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }

    // ---- DedupStream over a rotated-replica corpus (the simfamily
    // recipe: zero cross-replica shingles, so the corpus and its band
    // index genuinely grow) — the LARGE-state shape: n·bands member
    // entries live in RocksDB, vs Pricing's 6 keys and Cluster's K cells
    val multD = math.min(mult, 8)
    require(multD <= 26, "rotation arity caps the dedup leg at 26")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    (0 until multD)
      .map { rep =>
        val rot = alpha.drop(rep) + alpha.take(rep)
        docs.select(
          (col("doc_id") + lit(rep.toLong) * 10000000L).as("doc_id"),
          translate(col("text"), alpha, rot).as("text"))
      }
      .reduce(_ unionByName _)
      .repartition(4).write.mode("overwrite").parquet(s"$out/docs-in")
    val docsBig = spark.read.parquet(s"$out/docs-in")
    val nDocs = docsBig.count()
    def dedupPass(tag: String): Double = time {
      val stream = spark.readStream.schema(docsBig.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$out/docs-in")
      val q = streaming.DedupStream.pairs(spark, stream)
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$out/docs-out-$tag")
        .option("checkpointLocation", s"$out/docs-ck-$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    dedupPass("warm")
    val dSec = Seq(dedupPass("a"), dedupPass("b")).min
    val dBatch = time {
      ext.Dedup.minhashPairs(docsBig, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }

    // ---- CdcStream.agedView over a replicated merge feed — the
    // per-key-state shape (state = the upsert view itself) WITH the
    // tombstone-aging path exercised: 4 feed files + 2 heartbeat files,
    // so the last two micro-batches advance the seq low-watermark and
    // fire every tombstone's timer. n_aged counts the state rows the
    // aging actually released.
    val multK = math.min(mult, 16)
    val feed0 = streaming.CdcStream.fixtureFeed(spark, sfDir)
    (0 until multK)
      .map(rep => feed0.select(
        (col("k") + lit(rep.toLong * 100000000L)).as("k"),
        col("seq"), col("op"), col("val"), col("new_status")))
      .reduce(_ unionByName _)
      .repartition(4).write.mode("overwrite").parquet(s"$out/cdc-in")
    streaming.CdcStream.heartbeats(spark, Seq(100L))
      .repartition(1).write.mode("append").parquet(s"$out/cdc-in")
    streaming.CdcStream.heartbeats(spark, Seq(101L))
      .repartition(1).write.mode("append").parquet(s"$out/cdc-in")
    val cdcBig = spark.read.parquet(s"$out/cdc-in")
    val nChg = cdcBig.filter(col("op") =!= "H").count()
    def cdcPass(tag: String): Double = time {
      val stream = spark.readStream.schema(cdcBig.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$out/cdc-in")
      val q = streaming.CdcStream.agedView(spark, stream, watermarkDelay = "5 seconds")
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$out/cdc-out-$tag")
        .option("checkpointLocation", s"$out/cdc-ck-$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    cdcPass("warm")
    val kSec = Seq(cdcPass("a"), cdcPass("b")).min
    val nAged = spark.read.parquet(s"$out/cdc-out-a").filter(col("aged")).count()
    val nKeys = cdcBig.filter(col("op") =!= "H").select("k").distinct().count()
    // batch equivalent: latest-wins MERGE over the same feed (the
    // q_merge_apply plan shape — one window + one filter)
    val kBatch = time {
      cdcBig.filter(col("op") =!= "H")
        .withColumn("rn",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("k")).orderBy(col("seq").desc)))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .write.format("noop").mode("overwrite").save()
    }

    println(
      s"""{"tier":"streaming","mult":$mult,"files":4,""" +
        s""""lineitem_rows":$nLi,"pricing_stream_sec":${num(pSec)},""" +
        s""""pricing_stream_mrows_s":${num(rate(nLi, pSec))},""" +
        s""""pricing_batch_sec":${num(pBatch)},"pricing_batch_mrows_s":${num(rate(nLi, pBatch))},""" +
        s""""vecs":$nVecs,"cluster_stream_sec":${num(cSec)},""" +
        s""""cluster_stream_mrows_s":${num(rate(nVecs, cSec))},""" +
        s""""cluster_batch_sec":${num(cBatch)},"cluster_batch_mrows_s":${num(rate(nVecs, cBatch))},""" +
        s""""docs":$nDocs,"dedup_stream_sec":${num(dSec)},""" +
        s""""dedup_stream_kdocs_s":${num(nDocs / dSec / 1e3)},""" +
        s""""dedup_batch_sec":${num(dBatch)},"dedup_batch_kdocs_s":${num(nDocs / dBatch / 1e3)},""" +
        s""""cdc_changes":$nChg,"cdc_keys":$nKeys,"cdc_aged":$nAged,""" +
        s""""cdc_stream_sec":${num(kSec)},"cdc_stream_mrows_s":${num(rate(nChg, kSec))},""" +
        s""""cdc_batch_sec":${num(kBatch)},"cdc_batch_mrows_s":${num(rate(nChg, kBatch))}}""")
  }

  /** Point q_agg_pricing at a bare parquet dir by making it look like a
    * testdata layout (the probe dirs hold ONE table each).
    */
  private def out0(spark: SparkSession, path: String, table: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-stress-streaming-layout"
    val target = java.nio.file.Paths.get(s"$dir/$table.parquet")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    if (java.nio.file.Files.isSymbolicLink(target)) java.nio.file.Files.delete(target)
    java.nio.file.Files.createSymbolicLink(target, java.nio.file.Paths.get(path))
    dir
  }

  /** Retrieval-family scale tier (round-10 verdict #5 / round-11 #2): the
    * search family's extrapolation evidence — inverted-index build, BM25
    * ranked retrieval, and champion-list sparse cosine on an id-shifted
    * replicated corpus with IDENTICAL texts. That replication is the
    * honest worst case for this family: the vocabulary stays the
    * fixture's 31 words, so every term is a stopword and per-term
    * postings grow mult× (the skew axis the (term, doc_id div B) segment
    * note targets), BM25's query-term postings grow mult× (its work is
    * ∝ postings plus the corpus-stats scan), and the champion-list cap
    * C=64 BINDS on every term (per-term signature df » C) — candidate
    * volume stays ≤ C·M·n by construction, LINEAR in the corpus, which
    * is exactly the claim to measure. Pass signal: per-token (index,
    * bm25) and per-doc (sparse) throughput flat-or-better vs the sfDir
    * base; the sparse leg uses min(mult, 8) to keep the evidence run
    * bounded (its linearity claim is per-doc, so fewer replicas lose no
    * information).
    */
  /** Trainer scale tier: both in-engine trainers timed end-to-end on
    * replicated corpora (disjoint-id replicas; identical feature/vector
    * distributions). Replication leaves the GD weight path IDENTICAL —
    * gradients and n scale by the same mult, so grad/(n·EtaC) is
    * invariant — which makes the per-unit comparison pure throughput:
    * the trainers are fixed-round scan-shaped (q_gd_train: 6 aggregate
    * scans with 7 scalars to the driver each; q_kmeans_fused: one scan
    * per Lloyd round), so per-unit rates should be flat-or-better at
    * mult× as fixed costs amortize. Unit = Mrow·rounds/s (rows × scans
    * per run / seconds).
    */
  private def runTrainer(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-trainer"
    val num = (v: Double) => Timing.fmt3(v)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    replicate(spark, docs, "doc_id", mult)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    replicate(spark, emb, "vec_id", mult)
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val nDocsBase = docs.count(); val nDocsBig = nDocsBase * mult
    val nVecsBase = emb.count(); val nVecsBig = nVecsBase * mult
    def probe(name: String, dir: String): Double = time {
      Registry.byName(name).run(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    def minOf2(name: String, dir: String): Double = {
      probe(name, dir)
      Seq(probe(name, dir), probe(name, dir)).min
    }
    val gdBase = minOf2("q_gd_train", sfDir)
    val gdBig = minOf2("q_gd_train", out)
    val kmBase = minOf2("q_kmeans_fused", sfDir)
    val kmBig = minOf2("q_kmeans_fused", out)
    val GdScans = 6.0; val KmScans = 4.0
    println(
      s"""{"tier":"trainer","mult":$mult,"files":32,""" +
        s""""docs_base":$nDocsBase,"docs_big":$nDocsBig,"vecs_base":$nVecsBase,"vecs_big":$nVecsBig,""" +
        s""""gd_base_sec":${num(gdBase)},"gd_big_sec":${num(gdBig)},""" +
        s""""gd_base_mrowrounds_s":${num(rate(nDocsBase, gdBase) * GdScans)},""" +
        s""""gd_big_mrowrounds_s":${num(rate(nDocsBig, gdBig) * GdScans)},""" +
        s""""kmeans_base_sec":${num(kmBase)},"kmeans_big_sec":${num(kmBig)},""" +
        s""""kmeans_base_mrowrounds_s":${num(rate(nVecsBase, kmBase) * KmScans)},""" +
        s""""kmeans_big_mrowrounds_s":${num(rate(nVecsBig, kmBig) * KmScans)}}""")
  }

  private def runRetrieval(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-retrieval"
    val num = (v: Double) => Timing.fmt3(v)
    // source carried through: the DSIR leg's target slice must replicate
    // with the corpus
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    spark.range(mult).withColumnRenamed("id", "rep")
      .crossJoin(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * 10000000L)
      .drop("rep")
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val multSparse = math.min(mult, 8)
    val outS = s"${System.getProperty("java.io.tmpdir")}/graft-stress-retrieval-sparse"
    spark.range(multSparse).withColumnRenamed("id", "rep")
      .crossJoin(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * 10000000L)
      .drop("rep")
      .repartition(32).write.mode("overwrite").parquet(s"$outS/documents.parquet")

    def toks(dir: String): Long =
      spark.read.parquet(s"$dir/documents.parquet")
        .select(sum(size(split(col("text"), " ")).cast("long")))
        .collect().head.getLong(0)
    val nDocsBase = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val nDocsBig = spark.read.parquet(s"$out/documents.parquet").count()
    val nDocsSparse = spark.read.parquet(s"$outS/documents.parquet").count()
    val nTokBase = toks(sfDir)
    val nTokBig = toks(out)

    def probe(name: String, dir: String): Double = time {
      Registry.byName(name).run(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    def minOf2(name: String, dir: String): Double = {
      probe(name, dir)
      Seq(probe(name, dir), probe(name, dir)).min
    }
    val idxBase = minOf2("q_inverted_index", sfDir)
    val idxBig = minOf2("q_inverted_index", out)
    val bmBase = minOf2("q_bm25", sfDir)
    val bmBig = minOf2("q_bm25", out)
    // served BM25 (round 15): the first, untimed, run per dir builds the
    // postings artifact; the timed min-of-2 is pure serving — work ∝
    // the query terms' postings, so the big-leg rate shows how the
    // zero-scan plan tracks postings growth, not corpus scans
    val bmsBase = minOf2("q_bm25_served", sfDir)
    val bmsBig = minOf2("q_bm25_served", out)
    val scBase = minOf2("q_sparse_cosine", sfDir)
    val scBig = minOf2("q_sparse_cosine", outS)
    // DSIR leg (round 15): one bucket-model build + one scoring scan per
    // run — per-token throughput should hold flat-or-better at mult×
    val dsBase = minOf2("q_dsir_weights", sfDir)
    val dsBig = minOf2("q_dsir_weights", out)

    // champion-cap two-point (round-11 verdict #7): same registered plan
    // at C=16 — the runtime face of the recall/candidate-volume trade
    // (SearchSpec measures the recall face on the binding-cap fixture).
    // SERVE-ONLY, like the registered C=64 legs above (whose first,
    // untimed, probe warms the registry): the C=16 index is built once
    // outside the timed region, so the two points compare serving cost
    // at the two caps, not build+serve vs serve.
    val ix16 = ext.SearchQueries.sparseIndexShared(spark, sfDir, c = 16)
    def champ16(): Double = time {
      ext.SearchQueries.championServe(ix16)
        .write.format("noop").mode("overwrite").save()
    }
    champ16()
    val c16Base = Seq(champ16(), champ16()).min

    println(
      s"""{"tier":"retrieval","mult":$mult,"mult_sparse":$multSparse,"files":32,""" +
        s""""docs_base":$nDocsBase,"docs_big":$nDocsBig,"docs_sparse":$nDocsSparse,""" +
        s""""toks_base":$nTokBase,"toks_big":$nTokBig,""" +
        s""""index_base_sec":${num(idxBase)},"index_big_sec":${num(idxBig)},""" +
        s""""index_base_mtok_s":${num(rate(nTokBase, idxBase))},"index_big_mtok_s":${num(rate(nTokBig, idxBig))},""" +
        s""""bm25_base_sec":${num(bmBase)},"bm25_big_sec":${num(bmBig)},""" +
        s""""bm25_base_mtok_s":${num(rate(nTokBase, bmBase))},"bm25_big_mtok_s":${num(rate(nTokBig, bmBig))},""" +
        s""""bm25_served_base_sec":${num(bmsBase)},"bm25_served_big_sec":${num(bmsBig)},""" +
        s""""sparse_base_sec":${num(scBase)},"sparse_big_sec":${num(scBig)},""" +
        s""""sparse_base_kdocs_s":${num(nDocsBase / scBase / 1e3)},"sparse_big_kdocs_s":${num(nDocsSparse / scBig / 1e3)},""" +
        s""""sparse_c16_base_sec":${num(c16Base)},""" +
        s""""dsir_base_sec":${num(dsBase)},"dsir_big_sec":${num(dsBig)},""" +
        s""""dsir_base_mtok_s":${num(rate(nTokBase, dsBase))},"dsir_big_mtok_s":${num(rate(nTokBig, dsBig))}}""")
  }

  /** Late-interaction-family scale tier (round 13): extrapolation
    * evidence for the four maxsim serving forms on an id-shifted
    * replicated corpus with IDENTICAL texts — the family's honest worst
    * case, because the served form's lexical pool and the pruned form's
    * escape set both grow with every replica (the 31-word vocab makes
    * every query token a stopword), while the query side stays fixed at
    * 3×4 tokens. Expectations: all four forms are corpus-LINEAR per doc
    * (full scan = queries × docs token sims; served = pool-bounded;
    * pruned = summary scan + seed/escape exact stage; compressed = codes
    * scan + shortlist), so per-doc throughput should hold flat-or-better
    * at mult× as fixed costs amortize.
    */
  private def runLateInteraction(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-li"
    val num = (v: Double) => Timing.fmt3(v)
    val multL = math.min(mult, 16)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    spark.range(multL).withColumnRenamed("id", "rep")
      .crossJoin(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * 10000000L)
      .drop("rep")
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val nBase = docs.count()
    val nBig = spark.read.parquet(s"$out/documents.parquet").count()
    def probe(name: String, dir: String): Double = time {
      Registry.byName(name).run(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    def minOf2(name: String, dir: String): Double = {
      probe(name, dir)
      Seq(probe(name, dir), probe(name, dir)).min
    }
    val names = Seq(
      "mv" -> "q_late_interaction_mv",
      "served" -> "q_late_interaction_served",
      "pruned" -> "q_late_interaction_pruned",
      "pq" -> "q_late_interaction_pq")
    val parts = names.map { case (tag, q) =>
      val base = minOf2(q, sfDir)
      val big = minOf2(q, out)
      s""""${tag}_base_sec":${num(base)},"${tag}_big_sec":${num(big)},""" +
        s""""${tag}_base_kdocs_s":${num(nBase / base / 1e3)},""" +
        s""""${tag}_big_kdocs_s":${num(nBig / big / 1e3)}"""
    }
    println(
      s"""{"tier":"li","mult":$multL,"files":32,"docs_base":$nBase,"docs_big":$nBig,""" +
        parts.mkString(",") + "}")
  }

  /** Prefix-dedup dictionary scale tier (round-14, the round-13 verdict's
    * weak mark): the rankEncode dictionary stage timed SEPARATELY from
    * the candidate paths, on a Caesar-rotated replicated corpus whose
    * gram DICTIONARY grows ~linearly with mult (replica texts share zero
    * shingles — same recipe as the simfamily minhash leg). This is the
    * stage that used to run a global row_number() window over the
    * dictionary and broadcast it; distributed (range-partitioned
    * two-pass rank + shuffle equi-join), its per-posting throughput
    * should hold flat-or-better at mult× as fixed costs amortize. The
    * full pairs pipeline is timed alongside as the end-to-end check.
    */
  private def runPrefix(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-prefix"
    val num = (v: Double) => Timing.fmt3(v)
    require(mult <= 26, s"prefix tier needs distinct rotations: mult $mult > 26")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    (0 until mult)
      .map { rep =>
        val rot = alpha.drop(rep) + alpha.take(rep)
        docs.select(
          (col("doc_id") + lit(rep.toLong) * 10000000L).as("doc_id"),
          translate(col("text"), alpha, rot).as("text"))
      }
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    def grams(dir: String): (Long, Long) = {
      val e = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(ext.Dedup.shingles(5, "text")).as("g"))
      (e.count(), e.distinct().count())
    }
    val (postBase, dictBase) = grams(sfDir)
    val (postBig, dictBig) = grams(out)

    def dictStage(dir: String): Double = time {
      ext.Dedup.prefixEncodedSets(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        k = 5, tauNum = 3, tauDen = 5)
        .write.format("noop").mode("overwrite").save()
    }
    def pairs(dir: String): Double = time {
      ext.Dedup.prefixJaccardPairs(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        k = 5, tauNum = 3, tauDen = 5)
        .write.format("noop").mode("overwrite").save()
    }
    def minOf2(f: String => Double, dir: String): Double = {
      f(dir)
      Seq(f(dir), f(dir)).min
    }
    val dBase = minOf2(dictStage, sfDir)
    val dBig = minOf2(dictStage, out)
    val pBase = minOf2(pairs, sfDir)
    val pBig = minOf2(pairs, out)
    val nPairsBig = ext.Dedup.prefixJaccardPairs(
      spark.read.parquet(s"$out/documents.parquet"), "doc_id", "text",
      k = 5, tauNum = 3, tauDen = 5).count()

    println(
      s"""{"tier":"prefix","mult":$mult,"files":32,""" +
        s""""postings_base":$postBase,"postings_big":$postBig,""" +
        s""""dict_base":$dictBase,"dict_big":$dictBig,""" +
        s""""dict_stage_base_sec":${num(dBase)},"dict_stage_big_sec":${num(dBig)},""" +
        s""""dict_stage_base_mpost_s":${num(rate(postBase, dBase))},""" +
        s""""dict_stage_big_mpost_s":${num(rate(postBig, dBig))},""" +
        s""""pairs_base_sec":${num(pBase)},"pairs_big_sec":${num(pBig)},""" +
        s""""pairs_found_big":$nPairsBig}""")
  }

  /** Media-segmentation scale tier (round 15): the temporal-segmentation
    * chains (q_scene_cuts / q_audio_activity) with the frames/windows
    * PER ITEM multiplied — the axis the per-id lag window actually
    * feels (replicating items only widens the embarrassingly-parallel
    * decode). Each video's shot pattern and each audio's section
    * pattern repeat mult×, so at mult=16 the largest video carries 320
    * frames and the largest audio 960 windows through one window
    * partition. The decode kernel is per-row fixed work, so
    * kframes/s / kwindows/s should IMPROVE per-unit at mult× as job
    * fixed costs amortize; a flat-or-worse reading would mean the
    * window stage (not the codec) is the emerging bottleneck.
    */
  private def runMedia(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val num = (v: Double) => Timing.fmt3(v)
    def frames(m: Int): Long = ext.MediaSegQueries.frameHashes(spark, sfDir, m).count()
    def windows(m: Int): Long = ext.MediaSegQueries.windowPeaks(spark, sfDir, m).count()
    def scenes(m: Int): Double = time {
      ext.MediaSegQueries.sceneChain(ext.MediaSegQueries.frameHashes(spark, sfDir, m))
        .write.format("noop").mode("overwrite").save()
    }
    def activity(m: Int): Double = time {
      ext.MediaSegQueries.activityChain(ext.MediaSegQueries.windowPeaks(spark, sfDir, m))
        .write.format("noop").mode("overwrite").save()
    }
    def minOf2(f: Int => Double, m: Int): Double = { f(m); Seq(f(m), f(m)).min }
    val fBase = frames(1); val fBig = frames(mult)
    val wBase = windows(1); val wBig = windows(mult)
    val sBase = minOf2(scenes, 1); val sBig = minOf2(scenes, mult)
    val aBase = minOf2(activity, 1); val aBig = minOf2(activity, mult)
    println(
      s"""{"tier":"media","mult":$mult,""" +
        s""""frames_base":$fBase,"frames_big":$fBig,""" +
        s""""windows_base":$wBase,"windows_big":$wBig,""" +
        s""""scene_base_sec":${num(sBase)},"scene_big_sec":${num(sBig)},""" +
        s""""scene_base_kframes_s":${num(fBase / sBase / 1e3)},""" +
        s""""scene_big_kframes_s":${num(fBig / sBig / 1e3)},""" +
        s""""activity_base_sec":${num(aBase)},"activity_big_sec":${num(aBig)},""" +
        s""""activity_base_kwin_s":${num(wBase / aBase / 1e3)},""" +
        s""""activity_big_kwin_s":${num(wBig / aBig / 1e3)}}""")
  }

  /** Dedup/similarity-family scale tier (round-8 verdict #5): the NEW
    * family members' extrapolation evidence. Three shapes, each on a
    * corpus grown so the OPERATOR's work actually multiplies:
    *
    *  - `q_dedup_minhash_pairs` serving path on mult× documents with
    *    per-replica word-suffixed texts — distinct gram/bucket spaces,
    *    so the corpus is genuinely bigger, not one quadratic LSH bucket
    *    (that worst case is the full tier's dedup-first A/B). Per-doc
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
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-simfam"
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
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    (0 until mult)
      .map { rep =>
        val rot = alpha.drop(rep) + alpha.take(rep)
        docs.select(
          (col("doc_id") + lit(rep.toLong) * 10000000L).as("doc_id"),
          translate(col("text"), alpha, rot).as("text"))
      }
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val nDocs = spark.read.parquet(s"$out/documents.parquet").count()
    def mh(): Double = time {
      ext.Dedup.minhashPairs(
        spark.read.parquet(s"$out/documents.parquet"), "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    mh()
    val mhSec = Seq(mh(), mh()).min
    val mhPairs = ext.Dedup.minhashPairs(
      spark.read.parquet(s"$out/documents.parquet"), "doc_id", "text").count()

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
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    spark.range(multE).withColumnRenamed("id", "rep")
      .crossJoin(emb)
      .select(
        (col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x + 0.1 * sin(rep * (i + 1)) AS FLOAT))")
          .as("embedding"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val embBig = spark.read.parquet(s"$out/embeddings.parquet")
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
    def knn(): Double = time {
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
      def serve(): Double = time {
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
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    spark.range(mult).withColumnRenamed("id", "rep")
      .crossJoin(li)
      .select(
        (col("l_orderkey") + col("rep") * 100000000L).as("l_orderkey"),
        (col("l_partkey") + col("rep") * 100000000L).as("l_partkey"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val nLi = spark.read.parquet(s"$out/lineitem.parquet").count()
    def tri(): Double = time {
      Registry.byName("q_triangle_count").run(spark, out)
        .write.format("noop").mode("overwrite").save()
    }
    tri()
    val triSec = Seq(tri(), tri()).min
    val liProj = spark.read.parquet(s"$out/lineitem.parquet")
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

  /** Global-index tier: dense ordered ranking of replicated lineitem by
    * (l_extendedprice, l_orderkey) — the two-pass range-partition + offsets
    * plan (q_global_index's shape) vs the naive one-partition window
    * row_number. The window form's cost is a single reducer sorting the
    * corpus; the two-pass form keeps P-way parallelism end to end, so the
    * gap should WIDEN with rows — this measurement is the PLANS.md
    * extrapolation evidence.
    */
  private def runGindex(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-gindex"
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    replicate(spark, li, "l_orderkey", mult)
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val nRows = spark.read.parquet(s"$out/lineitem.parquet").count()
    gindexTwoPassProbe(spark, out)
    val two = Seq(gindexTwoPassProbe(spark, out), gindexTwoPassProbe(spark, out)).min
    gindexWindowProbe(spark, out)
    val win = Seq(gindexWindowProbe(spark, out), gindexWindowProbe(spark, out)).min
    val num = (v: Double) => Timing.fmt3(v)
    println(
      s"""{"tier":"gindex","rows":$nRows,"mult":$mult,"files":32,""" +
        s""""twopass_sec":${num(two)},"twopass_mrows_s":${num(rate(nRows, two))},""" +
        s""""window_sec":${num(win)},"window_mrows_s":${num(rate(nRows, win))}}""")
  }

  /** sf1-scale tier: ~100M-row 32-file lineitem, three flagship shapes. */
  private def runFlagship(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-flagship"
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    replicate(spark, li, "l_orderkey", mult)
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    replicate(spark, ord, "o_orderkey", mult)
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    val nRows = spark.read.parquet(s"$out/lineitem.parquet").count()
    val nOrd = spark.read.parquet(s"$out/orders.parquet").count()
    // warm each shape once, then min-of-2
    pricingProbe(spark, out); factJoinProbe(spark, out)
    val p = Seq(pricingProbe(spark, out), pricingProbe(spark, out)).min
    val j = Seq(factJoinProbe(spark, out), factJoinProbe(spark, out)).min
    topkCustomProbe(spark, out, "l_returnflag")
    val tkC = Seq(
      topkCustomProbe(spark, out, "l_returnflag"),
      topkCustomProbe(spark, out, "l_returnflag")).min
    topkWindowProbe(spark, out, "l_returnflag")
    val tkW = Seq(
      topkWindowProbe(spark, out, "l_returnflag"),
      topkWindowProbe(spark, out, "l_returnflag")).min
    val num = (v: Double) => Timing.fmt3(v)
    println(
      s"""{"tier":"flagship","rows":$nRows,"rows_orders":$nOrd,"mult":$mult,"files":32,""" +
        s""""pricing_sec":${num(p)},"pricing_mrows_s":${num(rate(nRows, p))},""" +
        s""""join_sec":${num(j)},"join_mrows_s":${num(rate(nRows, j))},""" +
        s""""topk_custom_hot_sec":${num(tkC)},"topk_custom_hot_mrows_s":${num(rate(nRows, tkC))},""" +
        s""""topk_window_hot_sec":${num(tkW)},"topk_window_hot_mrows_s":${num(rate(nRows, tkW))}}""")
  }

  /** Sketch tier (round 16): Count-Min throughput on a replicated token
    * stream vs the exact per-term GROUP BY it replaces. The sketch's
    * 100 TB pitch is FIXED STATE (d·w longs per group, merged like any
    * partial aggregate, no vocabulary materialization); this measures
    * whether its per-token cost is competitive where the exact agg is
    * still feasible, and the artifact sizes that stay constant while
    * the exact side's key space grows with the corpus.
    */
  private def runSketch(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress-sketch"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    spark.range(mult).crossJoin(docs).drop("id")
      .repartition(32).write.mode("overwrite").parquet(s"$out/docs")
    val rep = spark.read.parquet(s"$out/docs")
    val toks = rep.select(
      col("source"),
      explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))
    val nTok = toks.count()
    def cmsGlobal(): Double = time {
      toks.agg(expr("graft_cms(term)")).write.format("noop").mode("overwrite").save()
    }
    def cmsPerSource(): Double = time {
      toks.groupBy(col("source")).agg(expr("graft_cms(term)"))
        .write.format("noop").mode("overwrite").save()
    }
    def exactAgg(): Double = time {
      toks.groupBy(col("term")).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    cmsGlobal(); exactAgg() // warm both shapes
    val g = Seq(cmsGlobal(), cmsGlobal()).min
    val p = Seq(cmsPerSource(), cmsPerSource()).min
    val e = Seq(exactAgg(), exactAgg()).min

    // ---- WIDE-VOCABULARY phase (round-16 verdict #5): the corpus
    // vocabulary above is ~31 words, the regime where the exact GROUP BY
    // honestly wins — but the sketch's entire claim is HIGH cardinality:
    // fixed 32 KB state per group vs a vocabulary-sized shuffle. This
    // phase synthesizes a mult·1M-token stream over a 2^20-term
    // vocabulary (Zipf-ish: half the tokens in a 1k-term hot head, half
    // uniform over the full tail — the web-corpus shape) materialized to
    // parquet so both sides scan identical input, then times the same
    // two shapes. The crossover the JSON names: exact wins at toy
    // vocabulary, CMS wins once the key space stops fitting the
    // map-side hash — what a 100 TB per-shard term-telemetry job sees.
    val vWide = 1 << 20
    val nTokW = mult.toLong * (1L << 20)
    spark.range(nTokW).select(
      concat(
        lit("w"),
        when(pmod(col("id"), lit(2L)) === 0L, pmod(xxhash64(col("id")), lit(1000L)))
          .otherwise(pmod(xxhash64(col("id") + 7L), lit(vWide.toLong)))).as("term"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/wide")
    val wide = spark.read.parquet(s"$out/wide")
    val nDistinct = wide.select(countDistinct(col("term"))).head().getLong(0)
    def cmsWide(): Double = time {
      wide.agg(expr("graft_cms(term)")).write.format("noop").mode("overwrite").save()
    }
    def exactWide(): Double = time {
      wide.groupBy(col("term")).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    cmsWide(); exactWide() // warm
    val gw = Seq(cmsWide(), cmsWide()).min
    val ew = Seq(exactWide(), exactWide()).min
    // KMV vs exact COUNT(DISTINCT) on the same wide stream — the
    // distinct-count face of the same trade: 512 B of sketch state vs a
    // distinct shuffle of the full key space. Honest caveat measured
    // here: the KMV buffer is a TreeSet (object state, not primitive
    // counters like CMS), so its per-token cost is the price of the
    // set-operation capability — the claim is state size + mergeability
    // + intersection, not raw update speed.
    def kmvWide(): Double = time {
      wide.agg(expr("graft_kmv_est(graft_kmv(term))"))
        .write.format("noop").mode("overwrite").save()
    }
    def exactDistinctWide(): Double = time {
      wide.agg(countDistinct(col("term"))).write.format("noop").mode("overwrite").save()
    }
    kmvWide(); exactDistinctWide() // warm
    val kw = Seq(kmvWide(), kmvWide()).min
    val dw = Seq(exactDistinctWide(), exactDistinctWide()).min
    val KmvBytes = graft.functions.KmvSketch.K * 8

    val num = (v: Double) => Timing.fmt3(v)
    println(
      s"""{"tier":"sketch","mult":$mult,"tokens":$nTok,""" +
        s""""cms_global_sec":${num(g)},"cms_global_mtok_s":${num(rate(nTok, g))},""" +
        s""""cms_per_source_sec":${num(p)},"cms_per_source_mtok_s":${num(rate(nTok, p))},""" +
        s""""exact_groupby_sec":${num(e)},"exact_groupby_mtok_s":${num(rate(nTok, e))},""" +
        s""""wide_tokens":$nTokW,"wide_distinct":$nDistinct,"cms_state_bytes":${4 * 1024 * 8},""" +
        s""""cms_wide_sec":${num(gw)},"cms_wide_mtok_s":${num(rate(nTokW, gw))},""" +
        s""""exact_wide_sec":${num(ew)},"exact_wide_mtok_s":${num(rate(nTokW, ew))},""" +
        s""""cms_wide_speedup":${num(ew / gw)},""" +
        s""""kmv_wide_sec":${num(kw)},"kmv_state_bytes":${KmvBytes},""" +
        s""""exact_distinct_wide_sec":${num(dw)}}""")
  }

  private def runFull(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-stress"

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")

    replicate(spark, li, "l_orderkey", mult)
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    replicate(spark, ord, "o_orderkey", mult)
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    // Documents replicated with distinct ids but IDENTICAL texts — the
    // minhash worst case: every LSH band bucket holds mult× members, so
    // the band self-join's per-bucket work grows quadratically. Written
    // in BOTH layouts to separate the scan-parallelism effect (1 file =
    // 1-task explode unless pre-spread) from the join-skew effect.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val docsBig = spark.range(mult).withColumnRenamed("id", "rep")
      .crossJoin(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * 10000000L)
      .drop("rep")
    docsBig.repartition(32).write.mode("overwrite").parquet(s"$out/documents32.parquet")
    docsBig.coalesce(1).write.mode("overwrite").parquet(s"$out/documents1.parquet")

    def minhash(path: String): Double = time {
      ext.Dedup.minhashPairs(spark.read.parquet(path), "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // The production mitigation for replicated corpora: exact-dedup gate
    // (hash groupBy, keep min-id representative) BEFORE any near-dup
    // candidate/truth stage — collapses the quadratic per-bucket pair work
    // back to unique texts. ONE definition, shared by both dedup-first
    // probes, so the A/B always compares the same pipeline.
    def dedupFirst(path: String): DataFrame =
      spark.read.parquet(path)
        .groupBy(xxhash64(col("text")).as("th"))
        .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
        .drop("th")
    def minhashDedupFirst(path: String): Double = time {
      ext.Dedup.minhashPairs(dedupFirst(path), "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    val mhBasePath = s"$sfDir/documents.parquet"
    val mh1Path = s"$out/documents1.parquet"
    val mh32Path = s"$out/documents32.parquet"

    // Round-7 gate truth side under the same duplicated-corpus worst case:
    // identical texts share identical 30-char prefix blocks, so the
    // blocked exact-Jaccard pair stage is quadratic in the duplication
    // factor — and the remediation is identical to the LSH one (exact
    // dedup first).
    def truthGate(path: String): Double = time {
      ext.DedupQueries.truthPairsOf(spark.read.parquet(path).select("doc_id", "text"))
        .write.format("noop").mode("overwrite").save()
    }
    def truthGateDedupFirst(path: String): Double = time {
      ext.DedupQueries.truthPairsOf(dedupFirst(path))
        .write.format("noop").mode("overwrite").save()
    }

    // Z-order data-skipping probe: the SAME replicated lineitem written
    // (a) hash-spread (no clustering) and (b) range-partitioned + sorted
    // by graft_zorder(l_partkey, l_suppkey). A 2-dim box filter then
    // relies on parquet row-group min/max stats: the z-ordered layout
    // keeps BOTH columns' ranges narrow per row group, so the scan skips
    // most of the table; the unclustered layout overlaps the box in every
    // row group and reads everything. Measured by the scan's actual
    // numOutputRows (rows surviving row-group pruning + pushed filters).
    val liBig = spark.read.parquet(s"$out/lineitem.parquet")
    liBig.write.mode("overwrite").parquet(s"$out/lineitem_nocluster.parquet")
    liBig
      .withColumn("zval", expr("graft_zorder(l_partkey, l_suppkey)"))
      .repartitionByRange(32, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode("overwrite").parquet(s"$out/lineitem_zorder.parquet")

    def boxDf(dir: String) =
      spark.read.parquet(dir)
        .filter(col("l_partkey").between(1000, 2000) && col("l_suppkey").between(100, 200))
        .agg(count(lit(1)).as("n"), core.Agg.dsum(col("l_quantity")).as("sum_qty"))
    def scanOutputRows(df: DataFrame): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      // AQE hides executed subtrees: AdaptiveSparkPlanExec exposes the
      // final plan via executedPlan, and each QueryStageExec hides its
      // subtree behind .plan (not .children) — walk both explicitly
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => q +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      allNodes(df.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }
        .sum
    }
    def boxProbe(dir: String): (Double, Long, Long) = {
      val df = boxDf(dir)
      val result = df.collect().head.getLong(0)
      val scanned = scanOutputRows(df)
      val t = Seq(time(boxDf(dir).write.format("noop").mode("overwrite").save()),
        time(boxDf(dir).write.format("noop").mode("overwrite").save())).min
      (t, scanned, result)
    }

    val nBase = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val nBig = spark.read.parquet(s"$out/lineitem.parquet").count()
    val nDocsBig = spark.read.parquet(mh32Path).count()
    // warm both paths once, then measure min-of-2
    pricingProbe(spark, sfDir); pricingProbe(spark, out)
    factJoinProbe(spark, sfDir); factJoinProbe(spark, out)
    val pBase = Seq(pricingProbe(spark, sfDir), pricingProbe(spark, sfDir)).min
    val pBig = Seq(pricingProbe(spark, out), pricingProbe(spark, out)).min
    val jBase = Seq(factJoinProbe(spark, sfDir), factJoinProbe(spark, sfDir)).min
    val jBig = Seq(factJoinProbe(spark, out), factJoinProbe(spark, out)).min
    minhash(mhBasePath)
    val mhBase = Seq(minhash(mhBasePath), minhash(mhBasePath)).min
    val mh1 = Seq(minhash(mh1Path), minhash(mh1Path)).min
    val mh32 = Seq(minhash(mh32Path), minhash(mh32Path)).min
    val mhDedup = Seq(minhashDedupFirst(mh32Path), minhashDedupFirst(mh32Path)).min
    truthGate(mhBasePath)
    val tgBase = Seq(truthGate(mhBasePath), truthGate(mhBasePath)).min
    val tgBig = Seq(truthGate(mh32Path), truthGate(mh32Path)).min
    val tgDedup = Seq(truthGateDedupFirst(mh32Path), truthGateDedupFirst(mh32Path)).min
    // many small keys (~20k parts × ~480 rows) AND few hot keys
    // (3 returnflags × 3.2M rows — the sort-dominated worst case)
    topkWindowProbe(spark, out, "l_partkey"); topkCustomProbe(spark, out, "l_partkey")
    val tkWin = Seq(
      topkWindowProbe(spark, out, "l_partkey"), topkWindowProbe(spark, out, "l_partkey")).min
    val tkCustom = Seq(
      topkCustomProbe(spark, out, "l_partkey"), topkCustomProbe(spark, out, "l_partkey")).min
    topkWindowProbe(spark, out, "l_returnflag"); topkCustomProbe(spark, out, "l_returnflag")
    val tkWinHot = Seq(
      topkWindowProbe(spark, out, "l_returnflag"),
      topkWindowProbe(spark, out, "l_returnflag")).min
    val tkCustomHot = Seq(
      topkCustomProbe(spark, out, "l_returnflag"),
      topkCustomProbe(spark, out, "l_returnflag")).min
    val (zNoT, zNoScan, zNoRes) = boxProbe(s"$out/lineitem_nocluster.parquet")
    val (zT, zScan, zRes) = boxProbe(s"$out/lineitem_zorder.parquet")
    require(zNoRes == zRes, s"z-order layout changed the box-filter result: $zNoRes vs $zRes")
    val num = (v: Double) => Timing.fmt3(v)
    println(
      s"""{"rows_base":$nBase,"rows_big":$nBig,"mult":$mult,""" +
        s""""pricing_base_sec":${num(pBase)},"pricing_big_sec":${num(pBig)},""" +
        s""""pricing_base_mrows_s":${num(rate(nBase, pBase))},"pricing_big_mrows_s":${num(rate(nBig, pBig))},""" +
        s""""join_base_sec":${num(jBase)},"join_big_sec":${num(jBig)},""" +
        s""""join_base_mrows_s":${num(rate(nBase, jBase))},"join_big_mrows_s":${num(rate(nBig, jBig))},""" +
        s""""docs_big":$nDocsBig,"minhash_base_sec":${num(mhBase)},""" +
        s""""minhash_big_1file_sec":${num(mh1)},"minhash_big_32file_sec":${num(mh32)},""" +
        s""""minhash_big_dedupfirst_sec":${num(mhDedup)},""" +
        s""""truth_base_sec":${num(tgBase)},"truth_big_32file_sec":${num(tgBig)},""" +
        s""""truth_big_dedupfirst_sec":${num(tgDedup)},""" +
        s""""topk_window_sec":${num(tkWin)},"topk_custom_sec":${num(tkCustom)},""" +
        s""""topk_window_hot_sec":${num(tkWinHot)},"topk_custom_hot_sec":${num(tkCustomHot)},""" +
        s""""zorder_box_matches":$zRes,"zorder_scan_rows_nocluster":$zNoScan,""" +
        s""""zorder_scan_rows_zorder":$zScan,"zorder_box_sec_nocluster":${num(zNoT)},""" +
        s""""zorder_box_sec_zorder":${num(zT)}}""")
  }
}
