package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** Curation v3: exact-dedup-BEFORE-near-dup as an ENFORCED pipeline
  * invariant, not a doc note.
  *
  * Round 6 measured why the ordering matters (PLANS.md): identical
  * duplicated texts share identical shingle sets, so every LSH band
  * bucket they touch grows quadratically in the duplication factor
  * (minhash stage 27.5 s → 0.98 s at 16× duplication once exact dedup
  * runs first). v3 therefore materializes the ordering INSIDE the gated
  * plan: the LSH stage consumes [[exactSurvivors]], and the gate output
  * carries a contract boolean recomputed from the LSH stage's actual
  * input — max per-fingerprint multiplicity must be 1. Dropping or
  * reordering the dedup stage leaves duplicate fingerprints in the LSH
  * input, flips the boolean, and fails the driver's differential gate;
  * feeding the LSH stage a SUBSET instead fails the n_exact_survivors
  * differential (the oracle recomputes the corpus-wide distinct
  * fingerprint count independently). CurationSpec drives the mis-ordered
  * variant through [[v3Gate]] to pin the flip.
  */
object Curation {

  /** Normalized-content fingerprint (same normalization as q_curation:
    * lowercase, whitespace runs collapsed, md5).
    */
  def withFingerprint(docs: DataFrame): DataFrame =
    docs.withColumn(
      "fp", md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary")))

  /** Exact-dedup survivor set: lowest doc_id per fingerprint — one
    * fingerprint-keyed shuffle, the deterministic keep rule shared with
    * q_curation / q_dedup_rep.
    */
  def exactSurvivors(docs: DataFrame): DataFrame =
    TopKPerKey.topK(withFingerprint(docs), Seq(col("fp")), Seq(col("doc_id")), 1, "rn").drop("rn")

  /** Near-dup stage + invariant gate over a CLAIMED LSH-stage input
    * (which must carry doc_id, text, fp). The keep-one policy here is the
    * single-pass GREEDY rule — drop any doc that LSH-matches a
    * lower-id doc (kept = survivors − distinct b_ids) — not the
    * connected-components representative: on a loose est-Jaccard
    * threshold over a small-vocabulary corpus, components chain into
    * large-diameter clusters whose iterative label propagation has no
    * place inside a gate row (the component machinery is gated on its
    * own by q_dedup_components). Output is one row:
    *
    *  - `n_docs` — corpus size (differential);
    *  - `n_exact_survivors` — distinct fingerprints IN THE LSH INPUT,
    *    differentially checked against the oracle's corpus-wide distinct
    *    count, so an under-supplied input reads red;
    *  - `lsh_input_is_survivor_set` — max per-fingerprint multiplicity
    *    in the LSH input == 1: the enforced-ordering contract;
    *  - `near_dup_keep_rule_consistent` — the greedy survivor count
    *    (n_fp − distinct removed ids) cross-checked through an
    *    INDEPENDENT derivation: symmetrize the pair edges and count the
    *    docs that are local minima (every neighbor id larger). The greedy
    *    rule "drop any doc that matches a lower id" keeps exactly the
    *    local minima, so `n_pair_docs − n_removed == n_local_min` holds
    *    iff pair emission is consistently oriented (a_id < b_id, no
    *    reversed or self pairs) and the two counting paths agree — a
    *    mis-oriented or duplicated pair stream reads false, unlike the
    *    pre-round-9 bound that reduced to `0 ≤ n_removed ≤ n_pairs`.
    */
  def v3Gate(corpus: DataFrame, lshInput: DataFrame): DataFrame = {
    val dupCheck = lshInput
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("m"))
      .agg(max(col("m")).as("max_m"), count(lit(1)).as("n_fp"))
    val pairs = Dedup.minhashPairs(lshInput, "doc_id", "text", minJaccard = 0.3)
    val pairStats = pairs.agg(
      count(lit(1)).as("n_pairs"),
      countDistinct(col("b_id")).as("n_removed"))
    val graphStats = localMinimaStats(pairs)
    corpus
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(dupCheck))
      .crossJoin(broadcast(pairStats))
      .crossJoin(broadcast(graphStats))
      .select(
        col("n_docs"),
        col("n_fp").as("n_exact_survivors"),
        (col("max_m") === 1L).as("lsh_input_is_survivor_set"),
        (col("n_pair_docs") - col("n_removed") === col("n_local_min"))
          .as("near_dup_keep_rule_consistent"))
  }

  /** Independent survivor derivation for the consistency contract:
    * per-doc min neighbor over the SYMMETRIZED edge set (both pair
    * directions — orientation-blind on purpose), then count local minima
    * (docs whose every neighbor id is larger). One row:
    * (n_pair_docs, n_local_min). coalesce covers the no-pairs corpus
    * (sum over zero rows is null). CurationSpec falsifies the contract
    * with a mis-oriented chain: pairs (1,2),(3,2) count 2 greedy
    * removals' worth of distinct b_ids as 1 while the graph side still
    * sees 1 local minimum among 3 docs.
    */
  private[ext] def localMinimaStats(pairs: DataFrame): DataFrame =
    pairs.select(col("a_id").as("doc"), col("b_id").as("nbr"))
      .unionByName(pairs.select(col("b_id").as("doc"), col("a_id").as("nbr")))
      .groupBy(col("doc"))
      .agg(min(col("nbr")).as("min_nbr"))
      .agg(
        count(lit(1)).as("n_pair_docs"),
        coalesce(
          sum(when(col("min_nbr") > col("doc"), 1L).otherwise(0L)),
          lit(0L)).as("n_local_min"))
}
