package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, Expression, LessThan, LessThanOrEqual,
  Literal, RowNumber, SortOrder, WindowExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.IntegerType

/** Whole-operator custom plan (SURVEY §2.9 tier c): per-key top-k.
  *
  * The ubiquitous `row_number() OVER (PARTITION BY k ORDER BY o) <= K`
  * pattern plans as Window: a full shuffle of EVERY row keyed on k, then a
  * complete per-key SORT, then a filter that throws away all but K rows
  * per key. At 100 TB that wastes two ways: the shuffle carries the whole
  * table, and the sort pays n·log(n) per key for an answer that needs only
  * the K best.
  *
  * [[TopKPerKey]] declares the operator's real semantics, and
  * [[graft.plans.TopKPerKeyFinalExec]] executes it as bounded heaps:
  * a map-side partial pass retains at most K rows per key per input
  * partition (so the shuffle carries ≤ K·keys·mappers rows — for hot keys
  * orders of magnitude less than the data), and the reduce side merges
  * heaps and emits ranks. O(n·log K) comparisons, no full sort, fixed
  * per-key memory.
  *
  * Output = child.output :+ rankAttr (same shape as the Window form, same
  * exprId when rewritten from one), so the node is a drop-in replacement
  * and downstream references stay resolved.
  */
final case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan)
    extends UnaryNode {

  require(k > 0, s"top-k needs k > 0, got $k")

  override def output: Seq[Attribute] = child.output :+ rankAttr

  // rankAttr is produced here, not derived from the child — without this
  // CheckAnalysis reports it "missing from input"
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)

  override def maxRows: Option[Long] = child.maxRows

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKey {

  /** Fresh rank attribute for direct (non-rewrite) construction. */
  def rankAttribute(name: String = "rn"): Attribute =
    AttributeReference(name, IntegerType, nullable = false)()

  /** The one per-key top-k builder: the first `k` rows of each `keys`
    * group in `order`, ranked 1..k in the Int column `rankCol`. It emits
    * exactly `Filter(rankCol <= k, Window(rankCol := row_number() OVER
    * (PARTITION BY keys ORDER BY order)))` with an Int literal bound: the
    * shape [[TopKRewrite]] turns into this bounded-heap operator when its
    * cardinality guard admits the k·keys working set, and a Window plan
    * otherwise. `k = 1` is the keep-one-row-per-key form (latest wins,
    * lowest id survives). A filter chained straight after the result
    * merges into the same `Filter`, and the rewrite then declines.
    */
  def topK(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int, rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)
}

/** Logical rewrite (`graft.topk.rewrite`, DEFAULT ON since round 8):
  * `Filter(rn <= K, Window(rn := row_number() OVER (...)))` →
  * [[TopKPerKey]]. Fires on the exact single-window-expression shape with
  * a literal bound — anything else (other window functions alongside,
  * compound filter conditions, non-literal bounds) keeps the Window plan.
  * The rewritten node reuses the window alias' exprId, so downstream
  * projections of the rank column resolve unchanged. Same SQLConf gating
  * pattern as [[graft.engine.ApproxDistinctRewrite]].
  *
  * CARDINALITY GUARD: [[TopKPerKeyFinalExec]] holds k rows per distinct
  * key with no spill path, so default-on needs proof the working set is
  * bounded before the Window plan (external sort, spillable) is given up.
  * The rewrite fires only when one of these says k·keys is safe:
  *
  *  1. `child.stats.rowCount` ≤ `graft.topk.maxkeyrows` — held rows can
  *     never exceed input rows (fires when CBO/leaf-exact counts exist).
  *  2. `child.stats.sizeInBytes` ≤ `graft.topk.smallbytes` (default
  *     256 MiB) — inputs this small fit the reduce side outright; the
  *     zero-cost path every small/medium query takes.
  *  3. An HLL++ pre-pass (`graft.topk.guard.prepass`, default on):
  *     `approx_count_distinct(xxhash64(keys))` over the child estimates
  *     distinct keys; rewrite iff est·k ≤ `graft.topk.maxkeyrows`
  *     (default 8M — at 32+ reducers ≲250k held rows per reducer). The
  *     pre-pass scans ONLY the key columns (column pruning) with a
  *     mergeable fixed-size aggregate — at 100 TB that is materially
  *     cheaper than the full-row shuffle + per-key sort the Window plan
  *     pays. The estimate is memoized per (canonicalized plan, execution
  *     id), so optimizer fixed-point re-runs execute it once but every
  *     new action re-estimates — stale counts can't outlive an execution.
  *     The pre-pass job fires only while an action is in flight; explain
  *     and other plan-only paths decline the rewrite instead of scanning.
  *
  * Streaming children and pre-pass failures fall back to the Window plan
  * — the guard can only ever decline a rewrite, never break a query.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  val Flag = "graft.topk.rewrite"
  /** Global k·keys row budget for the in-memory final heaps. */
  val MaxKeyRowsFlag = "graft.topk.maxkeyrows"
  /** Inputs at or below this sizeInBytes rewrite without a pre-pass. */
  val SmallBytesFlag = "graft.topk.smallbytes"
  /** Enables the HLL++ distinct-key estimation pre-pass. */
  val PrepassFlag = "graft.topk.guard.prepass"

  /** Memoized pre-pass estimates keyed on (canonicalized aggregate plan,
    * execution id): optimizer fixed-point re-runs within ONE execution hit
    * the cache, but every new action re-estimates, so a table that grew
    * since the last run can never keep a stale low estimate and admit an
    * unspillable working set past the budget. Bounded, cleared wholesale
    * on overflow (entries are dead after their execution anyway).
    */
  private val estCache =
    new java.util.concurrent.ConcurrentHashMap[(LogicalPlan, String), java.lang.Long]()

  /** Re-entrancy latch: the pre-pass compiles a query of its own, and if
    * the CHILD itself contains a nested top-k shape the rule would recurse
    * into another pre-pass job mid-optimization. Inside a pre-pass the
    * rule is a no-op (the inner query keeps its Window form — it runs
    * once, for an estimate).
    */
  private val inPrepass = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (inPrepass.get || !SQLConf.get.getConfString(Flag, "true").toBoolean) plan
    else
      plan.transformUp {
        case f @ Filter(
              cond,
              Window(
                Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
                partSpec,
                orderSpec,
                child,
                _)) if orderSpec.nonEmpty =>
          val rn = alias.toAttribute
          val bound = cond match {
            case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType))
                if a.semanticEquals(rn) => Some(v)
            // v > MinValue guard: `rn < Int.MinValue` (always-false filter)
            // would wrap to Int.MaxValue and rewrite to keep-everything.
            case LessThan(a: Attribute, Literal(v: Int, IntegerType))
                if a.semanticEquals(rn) && v > Int.MinValue => Some(v - 1)
            case _ => None
          }
          bound.filter(_ > 0) match {
            case Some(k) if safeCardinality(child, partSpec, k) =>
              TopKPerKey(partSpec, orderSpec, k, rn, child)
            case _ => f
          }
      }

  private def safeCardinality(
      child: LogicalPlan, keys: Seq[Expression], k: Int): Boolean = {
    if (child.isStreaming) return false
    val c = SQLConf.get
    val budget = c.getConfString(MaxKeyRowsFlag, "8000000").toLong
    val small = c.getConfString(SmallBytesFlag, (256L << 20).toString).toLong
    val stats = child.stats
    if (stats.rowCount.exists(_ <= budget)) true
    else if (stats.sizeInBytes <= small) true
    else if (!c.getConfString(PrepassFlag, "true").toBoolean) false
    else estimateKeys(child, keys).exists(est => est <= budget / math.max(k, 1))
  }

  /** Distinct-key estimate via one HLL++ job over the child's key columns.
    * xxhash64 folds arbitrary key types/arity to one long first, so the
    * sketch input is always supported; collision loss is irrelevant at
    * estimation precision. Returns None (→ keep Window) on any failure.
    *
    * EXECUTION-GATED: the pre-pass is a real Spark job, so it only runs
    * when an action is in flight (`spark.sql.execution.id` set on the
    * thread — Dataset actions optimize inside `withNewExecutionId`).
    * Plan-only paths (`explain()`, direct `optimizedPlan` access) skip it
    * and keep the Window form — a scan during explain would be a job the
    * user never asked for. If a plan is explained FIRST and executed
    * later, the cached decision is the declined (Window) one: the safe,
    * spillable fallback, never a wrong answer.
    */
  private def estimateKeys(child: LogicalPlan, keys: Seq[Expression]): Option[Long] =
    try {
      val session = SparkSession.active
      val execId = session.sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)
      if (execId == null) return None
      val agg = Aggregate(
        Nil,
        Seq(Alias(
          HyperLogLogPlusPlus(new XxHash64(keys)).toAggregateExpression(), "n")()),
        child)
      val memoKey = (agg.canonicalized, execId)
      Option(estCache.get(memoKey)).map(_.longValue).orElse {
        inPrepass.set(true)
        val n =
          try GraftShim.ofRows(session, agg).head().getLong(0)
          finally inPrepass.set(false)
        if (estCache.size > 64) estCache.clear()
        estCache.put(memoKey, n)
        Some(n)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
