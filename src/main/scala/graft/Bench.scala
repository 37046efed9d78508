package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Verify.jstr

/** Benchmark main: times the registered queries on SPARK_GRAFT_SF_DIR and
  * emits ONE compact JSON line on stdout plus a detail file on disk
  * (BENCH_OFFICIAL.json by default, GRAFT_BENCH_DETAIL overrides; the
  * committed snapshot is refreshed with GRAFT_BENCH_DETAIL=BENCH_LOCAL.json).
  * Each query is forced end-to-end through the `noop` sink, which
  * materializes every column without collecting to the driver.
  *
  * Protocol `interleaved-passes-v9` (frozen: the tier sets, the build-cost
  * keys and the sampling scheme change only with a major version bump
  * shipped alongside a dual-protocol bridge run). Tiers run in this order,
  * each through `runTier`:
  *  - main: the 22 headline queries, `Samples` interleaved passes on the
  *    1-file fixture, then up to `MaxHotRetryPasses` extra passes while
  *    the box reads hot or drifted, then up to `MaxRescuePasses` rescue
  *    passes over the `RescueTop` slowest queries (early stop below a 5%
  *    gain, wall cap `RescueWallCapSec`);
  *  - split: the same queries over a `SplitFiles`-file copy of every
  *    table ("queries_split", "mrows_per_sec_split" = primary-input Mrows/s);
  *  - the cold index builds ("pq_train_sec", "pq_encode_sec",
  *    "pq_wide_sec", "sparse_index_sec"), timed with
  *    `graft.artifacts.persist=false` so they measure the build, not a load;
  *  - ext (`ExtTargets`) and graph (`GraphTargets`) on the 1-file layout.
  * Every per-query number is the MIN over that query's samples; totals are
  * sums of mins and compare only within one protocol string.
  *
  * Before every pass four noise probes run (probe1 single-thread CPU,
  * probe32 one thread per session core, probe_io fixture read, probe_mem
  * 128 MB touch). [[BenchGate]] marks each pass quiet or not: "box_hot" =
  * no quiet pass, "box_drift"/"drift_*" = some tier min came from a
  * non-quiet pass; split/ext/graph retry up to `MaxTierRetryPasses`
  * passes while drifted. "total_probe_norm" rescales each sample by
  * (best probe1 / probe32 of its pass) as a contention-corrected estimate.
  *
  * "queries" and "errors" may overlap: a query that times and later
  * errors keeps its valid min under "queries" and its failure under
  * "errors". A query that errored is skipped for the rest of its tier.
  */
object Bench {
  private val Samples = 3
  private val MaxHotRetryPasses = 2
  private val MaxTierRetryPasses = 2
  private val RescueTop = 5
  private val MaxRescuePasses = 2
  private val RescueWallCapSec = 720.0
  private val SplitPasses = 2
  private val SplitFiles = 32
  private val ExtPasses = 2
  private val GraphPasses = 2

  /** Retrieval and trainer headliners, timed serving-side: codebooks and
    * the sparse index come from the shared registries warmed by the
    * separately reported cold builds.
    */
  private val ExtTargets = Seq(
    "q_bm25", "q_sparse_cosine", "q_kmeans_fused", "q_gd_train",
    "q_late_interaction_mv", "q_late_interaction_served", "q_late_interaction_pq")

  /** The registered iterative rows whose cost is the loop itself
    * (q_cc_incremental pays an in-plan cold gate, so it is left out).
    */
  private val GraphTargets = Seq(
    "q_cc_converged", "q_cc_star", "q_kcore", "q_label_prop")

  /** Primary scanned table per headline — the denominator input for the
    * split tier's Mrows/s (the table whose rows the query must read end
    * to end; dims joined on the side don't count).
    */
  private val primaryTable: Map[String, String] = Map(
    "q_filter_conj" -> "lineitem", "q_join_star" -> "lineitem",
    "q_agg_pricing" -> "lineitem", "q_stats_moments" -> "lineitem",
    "q_sql_shipping" -> "lineitem",
    "q_window_lag" -> "orders", "q_topk" -> "orders", "q_sql_window" -> "orders",
    "q_session_window" -> "events", "q_asof_join" -> "events",
    "q_window_range" -> "events", "q_funnel" -> "events", "q_user_history" -> "events",
    "q_text_stats" -> "documents", "q_ngram_freq" -> "documents",
    "q_dedup_exact" -> "documents", "q_dedup_minhash_pairs" -> "documents",
    "q_line_dedup" -> "documents", "q_unigram_score" -> "documents",
    "q_sim_bruteforce" -> "embeddings", "q_quantize_embed" -> "embeddings",
    "q_topk_perkey" -> "customer")

  /** Per-query samples of one tier: (seconds, pass index into the probe
    * arrays). The pass tag feeds the probe-normalized numbers and the
    * drift verdicts.
    */
  private[graft] type Tier = mutable.LinkedHashMap[String, List[(Double, Int)]]

  /** Everything one run measured — the input of the pure [[render]]. */
  private[graft] final case class Run(
      sfDir: String,
      detailFile: String,
      main: Tier,
      split: Tier,
      ext: Tier,
      graph: Tier,
      splitRows: collection.Map[String, Long],
      errors: collection.Map[String, String],
      p1: Seq[Double],
      p32: Seq[Double],
      pIo: Seq[Double],
      pMem: Seq[Double],
      rescuePasses: Int,
      hotRetryPasses: Int,
      splitRetryPasses: Int,
      extRetryPasses: Int,
      graphRetryPasses: Int,
      pqTrainSec: Option[Double],
      pqEncodeSec: Option[Double],
      pqWideSec: Option[Double],
      sparseIndexSec: Option[Double])

  /** Fixed-work mixing loop (SplitMix64 finalizer flavour): ~100ms of
    * pure register arithmetic on a quiet core, no allocation, no memory
    * traffic — wall time inflates 1:1 with CPU oversubscription.
    */
  private def mixWork(iters: Long, seed: Long): Long = {
    var h = seed; var i = 0L
    while (i < iters) {
      h += 0x9E3779B97F4A7C15L
      var z = h
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      h ^= z ^ (z >>> 31)
      i += 1
    }
    h
  }
  private val ProbeIters = 40_000_000L

  /** Seconds for one single-threaded fixed-work unit. */
  private def probe1(): Double = {
    val t0 = System.nanoTime()
    val h = mixWork(ProbeIters, 42L)
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 0L) println() // keep the loop un-eliminable
    dt
  }

  /** Seconds for one thread per session core (`Sessions.cpus`) each
    * running the same fixed-work unit — the effective parallel capacity
    * the queries get: ≈ probe1 on a quiet box, ≫ probe1 on a contended
    * one. Keyed "probe32_*" for v9 continuity (32 cores on the reference
    * box); more threads than cores would read every pass as hot.
    */
  private def probe32(): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until Sessions.cpus.toInt).map { i =>
      new Thread(() => { if (mixWork(ProbeIters, i.toLong) == 0L) println() })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to read + fold every byte of the fixture's lineitem files
    * (the bench's actual scan input) — the I/O/page-cache-side noise
    * probe the CPU-bound pair above cannot see. Single-digit ms on a
    * healthy box (page cache).
    */
  private def probeIo(sfDir: String): Double = {
    val dir = new java.io.File(s"$sfDir/lineitem.parquet")
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val t0 = System.nanoTime()
    var h = 0L
    // stream over a fixed 8 MB buffer: bounded driver memory at any
    // fixture size, same stride-997 byte touch across buffer boundaries
    val buf = new Array[Byte](8 << 20)
    files.foreach { f =>
      val in = new java.io.FileInputStream(f)
      try {
        var off = 0L // file offset of the buffer start, keeps the global stride
        var read = in.read(buf)
        while (read > 0) {
          // first strided index ≥ off within this buffer
          var i = (((off + 996) / 997) * 997 - off).toInt
          while (i < read) { h = h * 31 + buf(i); i += 997 }
          off += read
          read = in.read(buf)
        }
      } finally in.close()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 42L) println() // un-eliminable
    dt
  }

  /** Seconds to allocate and touch 128 MB — the memory-subsystem noise
    * probe (shuffle/agg-heavy queries are bandwidth-bound; memory
    * pressure that never shows in the CPU probes shows here).
    */
  private def probeMem(): Double = {
    val t0 = System.nanoTime()
    val chunks = Array.ofDim[Array[Long]](16)
    var c = 0
    while (c < 16) {
      val a = new Array[Long](1 << 20) // 8 MB
      var i = 0
      while (i < a.length) { a(i) = i.toLong; i += 64 }
      chunks(c) = a; c += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (chunks(15)(0) == 42L) println() // un-eliminable
    dt
  }

  private def errMsg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(200)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build("graft-bench")
    val targets = Registry.headline match {
      case Nil => Registry.all
      case hs  => hs
    }
    // Warm the session outside the timings. Best-effort: a missing dir
    // must still produce the JSON error report.
    Timing.warm(spark, sfDir)
    // Warm the io probe's page cache too: a cold first read is 10×+ a
    // cached one on a quiet box and would read as contention.
    try probeIo(sfDir) catch { case _: Throwable => () }

    val samples, splitSamples, extSamples, graphSamples: Tier = mutable.LinkedHashMap.empty
    val errors = mutable.LinkedHashMap.empty[String, String]
    val p1, p32, pIo, pMem = mutable.ArrayBuffer.empty[Double]
    var curPass = -1
    def runProbes(): Unit = {
      p1 += probe1()
      p32 += probe32()
      pIo += probeIo(sfDir)
      pMem += probeMem()
      curPass = p1.length - 1
    }
    def quietNow: Seq[Boolean] =
      BenchGate.quietFlags(p1.toSeq, p32.toSeq, pIo.toSeq, pMem.toSeq)
    def drifted(t: Tier): Boolean = BenchGate.drift(minPasses(t), quietNow)
    // ONE timing body for every tier and the rescue passes, so the
    // protocol cannot drift between them.
    def timeOne(q: Q, dir: String, into: Tier, errKey: String): Unit =
      try {
        val secs = Timing.timeQuery(spark, q.name, dir)
        into(q.name) = into.getOrElse(q.name, Nil) :+ ((secs, curPass))
      } catch { case e: Throwable => errors(errKey) = errMsg(e) }
    /** `passes` probed passes of `qs`, then up to `maxRetry` more while
      * `retryWhile` holds; returns the retries run. A query is skipped
      * once `errors` holds its name or its tier key, keeping any valid
      * earlier samples (dropping them would read as a speedup).
      */
    def runTier(qs: Seq[Q], dir: String, into: Tier, key: Q => String, passes: Int,
        maxRetry: Int)(retryWhile: => Boolean): Int = {
      def pass(): Unit = {
        runProbes()
        qs.foreach { q =>
          if (!errors.contains(q.name) && !errors.contains(key(q))) timeOne(q, dir, into, key(q))
        }
      }
      (0 until passes).foreach(_ => pass())
      var retries = 0
      while (retries < maxRetry && retryWhile) { pass(); retries += 1 }
      retries
    }

    val hotRetryPasses = runTier(targets, sfDir, samples, _.name, Samples, MaxHotRetryPasses)(
      BenchGate.boxHot(quietNow) || drifted(samples))

    val runStart = System.nanoTime()
    var rescuePasses = 0
    var improved = true
    while (rescuePasses < MaxRescuePasses && improved &&
      (System.nanoTime() - runStart) / 1e9 < RescueWallCapSec) {
      val mins = minTimes(samples)
      val suspects = mins.toSeq.sortBy(-_._2).take(RescueTop).map(_._1)
        .filterNot(errors.contains)
      if (suspects.isEmpty) improved = false
      else {
        val before = suspects.map(mins).sum
        runProbes()
        suspects.foreach(name => timeOne(targets.find(_.name == name).get, sfDir, samples, name))
        val after = suspects.map(n => samples(n).map(_._1).min).sum
        improved = after < before * 0.95
        rescuePasses += 1
      }
    }

    val splitRows = mutable.LinkedHashMap.empty[String, Long]
    val splitSetup: Option[String] =
      try {
        val dir = graft.core.Tmp.dir("graft_bench_split")
        graft.core.Tables.all.foreach { t =>
          graft.core.Tables(spark, sfDir, t)
            .repartition(SplitFiles)
            .write.mode("overwrite").parquet(s"$dir/$t.parquet")
        }
        graft.core.Tables.all.foreach { t =>
          splitRows(t) = graft.core.Tables(spark, dir, t).count()
        }
        Some(dir)
      } catch { case e: Throwable => errors("__split_setup__") = errMsg(e); None }
    val splitRetryPasses = splitSetup.fold(0) { dir =>
      runTier(targets, dir, splitSamples, q => s"split:${q.name}", SplitPasses,
        MaxTierRetryPasses)(drifted(splitSamples))
    }

    // Cold index builds, each timed once; the ext passes then serve from
    // the shared registries. The disk tier is off so a warm box cannot
    // "build" by loading a persisted artifact; the operator's own setting
    // is restored exactly afterwards.
    val priorPersist = spark.conf.getOption("graft.artifacts.persist")
    val (pqTrainSec, pqEncodeSec, pqWideSec): (Option[Double], Option[Double], Option[Double]) =
      try {
        spark.conf.set("graft.artifacts.persist", "false")
        graft.core.ArtifactStore.clearShared()
        val t0 = System.nanoTime()
        graft.ext.SearchQueries.pqTokenBooks(spark, sfDir)
        val t1 = System.nanoTime()
        graft.ext.SearchQueries.pqTokenCodes(spark, sfDir)
        val t2 = System.nanoTime()
        // the wide ADC layout is its own key so the encode series stays
        // continuous with its v9 history
        graft.ext.SearchQueries.pqTokenCodesWide(spark, sfDir)
        val t3 = System.nanoTime()
        (Some((t1 - t0) / 1e9), Some((t2 - t1) / 1e9), Some((t3 - t2) / 1e9))
      } catch { case e: Throwable => errors("__pq_train__") = errMsg(e); (None, None, None) }
    val sparseIndexSec: Option[Double] =
      try {
        val t0 = System.nanoTime()
        graft.ext.SearchQueries.sparseIndexShared(spark, sfDir)
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => errors("__sparse_index__") = errMsg(e); None }
      finally priorPersist match {
        case Some(v) => spark.conf.set("graft.artifacts.persist", v)
        case None => spark.conf.unset("graft.artifacts.persist")
      }

    val extRetryPasses = runTier(ExtTargets.flatMap(Registry.byName.get), sfDir, extSamples,
      q => s"ext:${q.name}", ExtPasses, MaxTierRetryPasses)(drifted(extSamples))
    val graphRetryPasses = runTier(GraphTargets.flatMap(Registry.byName.get), sfDir, graphSamples,
      q => s"graph:${q.name}", GraphPasses, MaxTierRetryPasses)(drifted(graphSamples))

    val detailFile = sys.env.getOrElse("GRAFT_BENCH_DETAIL", "BENCH_OFFICIAL.json")
    val (head, detail) = render(Run(
      sfDir, detailFile,
      samples, splitSamples, extSamples, graphSamples, splitRows, errors,
      p1.toSeq, p32.toSeq, pIo.toSeq, pMem.toSeq,
      rescuePasses, hotRetryPasses, splitRetryPasses, extRetryPasses, graphRetryPasses,
      pqTrainSec, pqEncodeSec, pqWideSec, sparseIndexSec))
    Files.writeString(Paths.get(detailFile), detail + "\n")
    println(head)
    spark.stop()
  }

  private def minTimes(t: Tier): mutable.LinkedHashMap[String, Double] =
    t.map { case (k, v) => k -> v.map(_._1).min }

  private def minPasses(t: Tier): Iterable[Int] = t.values.map(_.minBy(_._1)._2)

  // Locale.ROOT (via Timing): comma-decimal locales would emit invalid JSON.
  private def num(v: Double): String = Timing.fmt3(v)

  /** A JSON object from already-rendered values, in iteration order. */
  private def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  /** The stdout line and the detail-file line of a run. The stdout line
    * carries the contract keys (metric/value/unit/queries/sf) plus scalar
    * adjudication summaries only, so a reader that keeps just the tail of
    * stdout still gets the whole line; the detail line is the stdout line
    * with the per-sample arrays, medians, probe arrays and split-tier maps
    * appended.
    */
  private[graft] def render(r: Run): (String, String) = {
    def mn(xs: Seq[Double]): Double = if (xs.nonEmpty) xs.min else 0.0
    def mx(xs: Seq[Double]): Double = if (xs.nonEmpty) xs.max else 0.0
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // scaling each sample by bestP1 / probe32-of-its-pass divides uniform
    // oversubscription back out (≈ no-op on a quiet box)
    val bestP1 = if (r.p1.nonEmpty) r.p1.min else 1.0
    def normOne(v: List[(Double, Int)]): Double =
      v.map { case (t, pi) =>
        val p = if (pi >= 0 && pi < r.p32.length) r.p32(pi) else bestP1
        t * (bestP1 / math.max(p, 1e-9))
      }.min
    def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
    def arr(vs: Seq[Double]): String = vs.map(num).mkString("[", ",", "]")
    def all(t: Tier): String = obj(t.map { case (k, v) => k -> arr(v.map(_._1)) })
    def norms(t: Tier): String = nums(t.map { case (k, v) => k -> normOne(v) })
    def normTotal(t: Tier): Double = t.values.map(normOne).sum
    def opt(v: Option[Double]): String = v.map(num).getOrElse("null")

    val (times, splitTimes) = (minTimes(r.main), minTimes(r.split))
    val (extTimes, graphTimes) = (minTimes(r.ext), minTimes(r.graph))
    val timesMedian = r.main.map { case (k, v) => k -> median(v.map(_._1)) }
    val splitMrows = splitTimes.flatMap { case (k, t) =>
      primaryTable.get(k).flatMap(r.splitRows.get).map(rows => k -> rows / 1e6 / t)
    }
    // final adjudication over EVERY pass of the run
    val quiet = BenchGate.quietFlags(r.p1, r.p32, r.pIo, r.pMem)
    def drift(t: Tier): String = BenchGate.drift(minPasses(t), quiet).toString

    val head = Seq(
      "metric" -> jstr("total"), "value" -> num(times.values.sum), "unit" -> jstr("sec"),
      "samples" -> Samples.toString, "rescue_passes" -> r.rescuePasses.toString,
      "protocol" -> jstr("interleaved-passes-v9"),
      "box_hot" -> BenchGate.boxHot(quiet).toString, "box_drift" -> drift(r.main),
      "drift_ext" -> drift(r.ext), "drift_graph" -> drift(r.graph),
      "drift_split" -> drift(r.split), "hot_retry_passes" -> r.hotRetryPasses.toString,
      "ext_retry_passes" -> r.extRetryPasses.toString,
      "graph_retry_passes" -> r.graphRetryPasses.toString,
      "split_retry_passes" -> r.splitRetryPasses.toString,
      "probe_ceiling" -> num(BenchGate.cpuCeiling(bestP1)),
      "io_ceiling" -> num(if (r.pIo.nonEmpty) BenchGate.ioCeiling(r.pIo.min) else 0.0),
      "mem_ceiling" -> num(if (r.pMem.nonEmpty) BenchGate.memCeiling(r.pMem.min) else 0.0),
      "probe1_min" -> num(mn(r.p1)),
      "probe32_min" -> num(mn(r.p32)), "probe32_max" -> num(mx(r.p32)),
      "probe_io_min" -> num(mn(r.pIo)), "probe_io_max" -> num(mx(r.pIo)),
      "probe_mem_min" -> num(mn(r.pMem)), "probe_mem_max" -> num(mx(r.pMem)),
      "queries" -> nums(times), "total_median" -> num(timesMedian.values.sum),
      "total_probe_norm" -> num(normTotal(r.main)),
      "queries_ext" -> nums(extTimes), "total_ext" -> num(extTimes.values.sum),
      "ext_passes" -> ExtPasses.toString,
      "queries_graph" -> nums(graphTimes), "total_graph" -> num(graphTimes.values.sum),
      "graph_passes" -> GraphPasses.toString,
      "pq_train_sec" -> opt(r.pqTrainSec), "pq_encode_sec" -> opt(r.pqEncodeSec),
      "pq_wide_sec" -> opt(r.pqWideSec), "sparse_index_sec" -> opt(r.sparseIndexSec),
      "split_files" -> SplitFiles.toString, "split_passes" -> SplitPasses.toString,
      "total_split" -> num(splitTimes.values.sum),
      "total_split_probe_norm" -> num(normTotal(r.split)),
      "detail_file" -> jstr(r.detailFile),
      "errors" -> obj(r.errors.map { case (k, v) => k -> jstr(v) }), "sf" -> jstr(r.sfDir))
    val detail = head ++ Seq(
      "note" -> jstr("queries/errors keysets may overlap (timed-then-errored); " +
        "totals comparable only within one protocol string"),
      "probe1_sec" -> arr(r.p1), "probe32_sec" -> arr(r.p32),
      "pass_quiet" -> quiet.mkString("[", ",", "]"),
      "probe_io_sec" -> arr(r.pIo), "probe_mem_sec" -> arr(r.pMem),
      "queries_median" -> nums(timesMedian), "mrows_per_sec_split" -> nums(splitMrows),
      "queries_probe_norm" -> norms(r.main), "queries_ext_probe_norm" -> norms(r.ext),
      "queries_graph_probe_norm" -> norms(r.graph),
      "queries_split_probe_norm" -> norms(r.split),
      "queries_all" -> all(r.main), "queries_split" -> nums(splitTimes),
      "queries_split_all" -> all(r.split),
      "queries_ext_all" -> all(r.ext), "queries_graph_all" -> all(r.graph))
    (obj(head), obj(detail))
  }
}
