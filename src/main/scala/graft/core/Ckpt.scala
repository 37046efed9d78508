package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{count, lit, when}

/** Lineage-truncation seam and round driver for the iterative kernels.
  * Every loop round of the graph/CC/dedup family must truncate
  * lineage — otherwise the logical plan nests one level per iteration
  * and analysis/codegen costs explode — but HOW to truncate is a
  * deployment decision, not an algorithm one:
  *
  *   - `localCheckpoint(eager = true)` (the default, and the only mode
  *     the local[32] bench/CI tiers use): blocks live in executor
  *     storage — zero distributed-filesystem traffic, but an executor
  *     loss after truncation is unrecoverable because the lineage that
  *     could rebuild the blocks was just cut. Fine in a single-JVM
  *     local session where "executor loss" means the whole process
  *     died anyway.
  *   - reliable `checkpoint()` (when `graft.checkpoint.dir` is set):
  *     blocks persist to the configured fault-tolerant directory (HDFS/
  *     object store on a real cluster), so a 19-round star contraction
  *     over a web-scale graph survives executor preemption mid-run —
  *     hours of rounds are not lost to one lost container. Costs one
  *     write+read of the truncated relation per round; the Stress
  *     graph tier measures the overhead (PLANS.md round 19).
  *
  * The seam is one conf key so the SAME kernel code serves both: unset
  * (default) keeps today's local behavior bit-for-bit; a cluster job
  * sets `graft.checkpoint.dir` (e.g. `hdfs:///jobs/x/ckpt`) and every
  * kernel round becomes re-playable. GraphSpec pins the two paths
  * label-equal on the planted chain.
  *
  * WHICH CHECKPOINT: state carried across kernel rounds (labels,
  * frontiers, survivor sets) goes through [[Ckpt.truncate]]. A relation
  * materialised inside ONE query, because that query reads it several
  * times, keeps a raw `localCheckpoint(true)`: it keeps its origin
  * stats, which the joins reading it ride for their broadcast decisions
  * (`truncate` drops them), it never nests round after round, and an
  * executor loss retries the whole query either way.
  */
object Ckpt {

  /** The session conf key naming the reliable checkpoint directory.
    *
    * RETENTION: every loop round writes a NEW
    * checkpoint directory and Spark never deletes superseded rounds on
    * its own — a ~100-phase coreness run would accumulate rounds ×
    * relation-size on the fault-tolerant store. Superseded rounds
    * cannot simply be deleted eagerly either: some kernels (coreness's
    * membership union, the warm-CC seed labels) legitimately hold
    * earlier checkpointed relations alive across later rounds. The
    * reference-safe reclaim is Spark's own ContextCleaner:
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` deletes a
    * checkpoint's files when its RDD is garbage-collected — i.e.
    * exactly when no kernel can still read it. [[graft.Sessions]]
    * sets it at context build; a cluster job bringing its own session
    * must set it alongside [[DirKey]] (it is a SparkConf read at
    * SparkContext creation, not a runtime SQL conf).
    */
  val DirKey = "graft.checkpoint.dir"

  // last directory pushed to SparkContext, as the (raw conf value,
  // qualified form setCheckpointDir produced) pair: the raw value
  // detects a DirKey change, the qualified form detects an EXTERNAL
  // sc.setCheckpointDir (getCheckpointDir returns the qualified path,
  // so the raw string alone can't be compared against it). Per-JVM,
  // like the shared SparkContext; writes and the paired checkpoint
  // happen under `lock` (below).
  @volatile private var lastRaw: String = null
  @volatile private var lastQualified: Option[String] = None
  private val lock = new Object

  /** Truncate `df`'s lineage: reliable `checkpoint()` under
    * [[DirKey]]'s directory when configured, `localCheckpoint(true)`
    * otherwise. Both are EAGER — callers count on the materialization
    * barrier (per-round driver decisions read counts off the result).
    *
    * The result keeps `df`'s hash partitioning: a relation built through
    * `repartition(n, col("k"))` comes back as a scan that reports
    * `HashPartitioning(k, n)`, so a later join or aggregate on `k` reads
    * it in place with no exchange. Spark's own checkpoint drops it under
    * AQE, because it reads the partitioning off the adaptive wrapper
    * (`UnknownPartitioning(0)`) instead of the final plan; both paths
    * here restate it from the final plan (`GraftShim.dropStats`). Only
    * an exact `HashPartitioning` is kept: an AQE-coalesced or skew-split
    * read, a range partitioning or a partition-count mismatch leaves the
    * scan at `UnknownPartitioning`, so no false claim is made.
    */
  def truncate(df: DataFrame): DataFrame = {
    val cp = df.sparkSession.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // set-and-checkpoint under one lock: two
        // sessions on the shared SparkContext with DIFFERENT DirKey
        // values could otherwise interleave between the dir check and
        // df.checkpoint(), landing a checkpoint in the other session's
        // directory. The lock serializes reliable checkpoints only —
        // the kernels are driver-sequential per session, and the
        // default localCheckpoint path below is untouched. An
        // externally cleared/changed sc.setCheckpointDir is re-detected
        // by comparing getCheckpointDir against the cached qualified
        // path the last setCheckpointDir produced (exact Option
        // equality — setCheckpointDir appends a UUID subdir, so the
        // raw string alone can't be compared against it).
        lock.synchronized {
          if (lastRaw != dir || sc.getCheckpointDir != lastQualified) {
            sc.setCheckpointDir(dir)
            lastRaw = dir
            lastQualified = sc.getCheckpointDir
          }
          df.checkpoint()
        }
      case None => df.localCheckpoint(true)
    }
    // drop the origin stats the checkpoint carries: self-join loop
    // rounds otherwise CUBE the sizeInBytes estimate per round across
    // checkpoint boundaries, and Catalyst's BigInt stats arithmetic
    // becomes the bottleneck (a measured 28-minute planning hang at
    // ~100 accumulated rounds — see GraftShim.dropStats); keep the
    // final plan's hash partitioning, which the checkpoint lost
    org.apache.spark.sql.GraftShim.dropStats(cp, df)
  }

  /** Eager truncation that ALSO returns aggregate metrics computed
    * DURING the materialization job (`observe`/CollectMetrics), so a
    * kernel's per-round driver decision (wave count, survivor count,
    * edge-set size) costs no second job over the fresh checkpoint. Both
    * truncation paths execute the observed plan exactly once, so the
    * returned row reflects exactly the materialized rows. `metrics` must
    * be aggregate expressions (observe's contract).
    */
  def truncateObserved(df: DataFrame, metrics: org.apache.spark.sql.Column*)
      : (DataFrame, org.apache.spark.sql.Row) = {
    val name = s"graft_ckpt_m${obsCounter.incrementAndGet()}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val cp = truncate(observed)
    // Detects only an executed plan that lost its CollectMetrics node
    // (an optimizer rule dropping it): observedMetrics reports the
    // accumulator's initial value for a plan that never ran, so a lazy
    // truncation path would read as zero here, not fail. Both paths in
    // `truncate` are eager, so that case cannot arise today.
    val row = org.apache.spark.sql.GraftShim.observedMetric(observed, name).getOrElse(
      throw new IllegalStateException(
        s"Ckpt.truncateObserved: metric $name missing after the checkpoint job " +
          "(the executed plan dropped its CollectMetrics node)"))
    (cp, row)
  }

  /** [[truncateObserved]] specialized to the commonest kernel decision:
    * rows satisfying `pred` (all rows when `pred` is `lit(true)`),
    * counted inside the checkpoint job.
    */
  def truncateCounted(df: DataFrame, pred: Column): (DataFrame, Long) = {
    val (cp, row) = truncateObserved(df, count(when(pred, lit(1))))
    (cp, row.getLong(0))
  }

  /** A truncated relation and the count observed while materializing it. */
  final case class Round(df: DataFrame, count: Long)

  object Round {
    /** Truncate `df` and count its rows satisfying `pred`, in one job. */
    def of(df: DataFrame, pred: Column): Round = {
      val (cp, n) = truncateCounted(df, pred)
      Round(cp, n)
    }
  }

  /** A [[fixpoint]] run: the last state, rounds run, each round's
    * observed count, and whether the stop rule fired (rather than the
    * round cap cutting the loop).
    */
  final case class Fixpoint(state: DataFrame, rounds: Int, counts: Seq[Long], converged: Boolean)

  /** The round loop every iterative kernel runs: `Graph.kCore`,
    * `Graph.coreness` (one peel per phase), `Graph.ccStar`, q_pagerank's
    * 3 rounds (a stop rule that never fires) and `Graph.ccConvergedFrom`,
    * the delta min-propagation kernel behind `ccConverged`, `labelProp`,
    * `bfsFrom`, `ssspFrom` and the CC repairs. Each round, `step` maps
    * the current state to the next relation, un-truncated, plus the
    * predicate whose matching rows the round counts; the driver
    * truncates and counts in ONE job ([[Round.of]]), so a round is one
    * checkpoint action by construction. `stop(prev, next)` decides the
    * fixpoint from the two states and their counts.
    *
    * `converged` is the stop rule's verdict, not `rounds < maxRounds`: a
    * run whose stop rule fires on exactly the last permitted round
    * converged, yet reads rounds == maxRounds.
    *
    * The observed counts are accumulator-backed, so on a cluster a
    * retried or speculative task can inflate them. Not handled here: an
    * exact recount on the deciding round belongs with a spec that
    * injects task failures under `local[N,F]`, the only way to test it.
    */
  def fixpoint(init: Round, maxRounds: Int)(step: DataFrame => (DataFrame, Column))(
      stop: (Round, Round) => Boolean): Fixpoint = {
    var cur = init
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (rel, pred) = step(cur.df)
      val next = Round.of(rel, pred)
      rounds += 1
      counts += next.count
      converged = stop(cur, next)
      cur = next
    }
    Fixpoint(cur.df, rounds, counts.toSeq, converged)
  }

  private val obsCounter = new java.util.concurrent.atomic.AtomicLong()

  /** `.truncateLineage()` as a drop-in for `.localCheckpoint(true)` at
    * the iterative-kernel call sites.
    */
  implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    def truncateLineage(): DataFrame = Ckpt.truncate(df)
  }
}
