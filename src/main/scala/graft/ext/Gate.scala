package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one-row gate the approximate query families (ANN, dedup, PQ,
  * MMR) end in. Their served answers are float/partition-order or
  * hash-seed specific, so what the oracle checks is a row: a recall
  * fold against an in-plan exact truth, global counts of the relations
  * the checks bound, and boolean checks such as the candidate ceiling.
  * Every gated query builds that row from these pieces.
  */
object Gate {

  /** Attach one global `count(*)` per named relation to `base`, in
    * argument order: each count is a one-row aggregate broadcast into a
    * cross join, so an empty relation still attaches one row (count 0).
    */
  def withCounts(base: DataFrame, counts: (String, DataFrame)*): DataFrame =
    counts.foldLeft(base) { case (acc, (name, rel)) =>
      acc.crossJoin(broadcast(rel.agg(count(lit(1)).as(name))))
    }

  /** Recall clears `floor`: `hit ≥ truth·floor`, in doubles. */
  def recallOk(hit: Column, truth: Column, floor: Double): Column =
    hit.cast("double") >= truth.cast("double") * floor

  /** The candidate ceiling `n ≤ frac·a·b`, in doubles: a product of two
    * counts past `Long.MaxValue` must not wrap negative.
    */
  def ceiling(n: Column, frac: Double, a: Column, b: Column): Column =
    n.cast("double") <= lit(frac) * a.cast("double") * b.cast("double")

  /** Single pass over the (expensive) `truth` side: left-join the
    * candidate set on `joinCols` (candidates must be distinct on those
    * columns) and reduce totals + hits in ONE aggregate, so the truth
    * subtree is evaluated once. Output is (totalName, recall_ge_floor):
    * the total is the oracle-differential column, the boolean flips when
    * a regression drops recall below `floor`.
    */
  def recallFold(
      truth: DataFrame,
      found: DataFrame,
      joinCols: Seq[String],
      floor: Double,
      totalAgg: Column,
      totalName: String): DataFrame =
    truth
      .join(
        found.select(joinCols.map(col): _*).withColumn("__hit", lit(true)),
        joinCols, "left")
      .agg(
        totalAgg.as(totalName),
        count(lit(1)).as("__n_truth"),
        coalesce(sum(col("__hit").cast("long")), lit(0L)).as("__n_hit"))
      .select(
        col(totalName),
        recallOk(col("__n_hit"), col("__n_truth"), floor).as("recall_ge_floor"))

  /** Reduce an approximate top-k result to its driver-gateable invariant:
    * overall recall vs the exact top-k (computed in-plan) must clear
    * `floor`. Output is (n_queries, recall_ge_floor) — n_queries is a real
    * differential (the oracle derives it from the embeddings table). Both
    * inputs are (q_id, rank, n_id, …)-shaped.
    */
  def recallGate(exact: DataFrame, approx: DataFrame, floor: Double): DataFrame =
    recallFold(
      exact.select(col("q_id"), col("n_id")), approx,
      Seq("q_id", "n_id"), floor,
      countDistinct(col("q_id")), "n_queries")
}
