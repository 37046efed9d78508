package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.ArtifactStore

/** Deduplication building blocks for the training-data pipeline: exact
  * (hash groupBy), MinHash+LSH (shingle → minhash signature → banded
  * bucket join), SimHash (custom codegen expression), and exact n-gram
  * Jaccard on blocked candidates.
  *
  * Scale design: every step is a narrow per-row expression or a shuffle
  * keyed on a bounded-cardinality bucket key. No all-pairs comparison ever
  * happens — candidate generation is LSH banding (probability of a pair
  * colliding ≈ 1-(1-j^r)^b), and only candidates get the exact/estimated
  * similarity pass. That's the property that survives 100 TB: work is
  * O(docs × signature) + O(colliding pairs), not O(docs²).
  */
object Dedup {

  /** Distinct k-char shingle array of `text` (codegen'd higher-order fns). */
  def shingles(k: Int, textCol: String = "text"): Column =
    expr(
      s"array_distinct(transform(sequence(1, greatest(1, length($textCol) - ${k - 1})), " +
        s"i -> substring($textCol, i, $k)))")

  /** n-hash MinHash signatures for `df(idCol, textCol)`. Default path: the
    * custom codegen expression `graft_minhash` ([[graft.functions.MinHash]])
    * — every accumulator advanced in one traversal of the shingle array,
    * per row, with NO explode, NO aggregate, and NO exchange. Fallback
    * (`graft.minhash.expr=false`): the previous explode → 32-accumulator
    * min hash-aggregate plan. Both produce BIT-IDENTICAL signatures
    * (`min over s of xxhash64(s, i)` — pinned by DedupSpec), so every
    * downstream band hash and recall gate is path-independent. A naive
    * per-row HOF formulation is NOT equivalent in cost: Catalyst inlines
    * the shared shingle projection once per hash — measured 20× slower;
    * the custom expression is what makes the per-row form win.
    *
    * NULL text is dropped BEFORE either path: a null doc has no shingle
    * set, and the two paths used to diverge on it (the expr path emitted
    * a null sig while the agg path's groupBy kept a degenerate one) —
    * worse, null sigs band to identical hashes (xxhash64 skips null
    * children), so every null-text doc would pile into ONE quadratic LSH
    * bucket. Dropping them keeps the paths row-identical (DedupSpec pins
    * the null-text case) and the bucket law intact.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, shingleK: Int, nHashes: Int): DataFrame = {
    // Hash-repartition the THIN (id, text) rows by id BEFORE the expensive
    // shingle+hash work: a document corpus often arrives in few/large
    // splits (here: single-row-group parquet → 1-task scan), which would
    // run the whole pipeline on one core. Spreading 5k-row inputs is
    // ~free and unlocks full-cluster parallelism for the heavy part.
    // Explicit partition count keeps AQE from coalescing the tiny
    // pre-compute exchange back to one partition.
    val spread = df.filter(col(textCol).isNotNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
    if (df.sparkSession.conf.get("graft.minhash.expr", "true").toBoolean)
      spread.select(
        col(idCol).as("id"),
        call_function("graft_minhash", shingles(shingleK, textCol), lit(nHashes)).as("sig"))
    else {
      val exploded = spread
        .select(col(idCol).as("id"), explode(shingles(shingleK, textCol)).as("s"))
      exploded
        .groupBy(col("id"))
        .agg(
          min(expr("xxhash64(s, 0)")).as("m0"),
          (1 until nHashes).map(i => min(expr(s"xxhash64(s, $i)")).as(s"m$i")): _*)
        .select(col("id"), array((0 until nHashes).map(i => col(s"m$i")): _*).as("sig"))
    }
  }

  /** LSH band hashes: split the signature into `bands` rows of
    * `rowsPerBand`, hash each band. Two docs collide in a band iff that
    * whole band of minhashes is equal.
    */
  def bandHashes(bands: Int, rowsPerBand: Int, sigCol: String = "sig"): Column =
    array((0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => s"$sigCol[${b * rowsPerBand + r}]").mkString(", ")
      expr(s"xxhash64($slice, $b)")
    }: _*)

  /** Estimated Jaccard from two aligned minhash signatures. */
  def estJaccard(a: Column, b: Column, nHashes: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m)).cast("double") / nHashes.toDouble

  /** MinHash-LSH candidate pairs over `df(idCol, textCol)`: returns
    * (a_id, b_id, est_jaccard) for pairs colliding in ≥1 band, filtered to
    * `minJaccard`. nHashes = bands × rowsPerBand.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.4): DataFrame = {
    val nHashes = bands * rowsPerBand
    // NOTE: recompute-per-side is the measured winner for the sig subtree.
    // persist() was 3x slower (InMemoryTableScan breaks whole-stage
    // codegen around the banded self-join); snapshotting sigs to a temp
    // parquet and re-reading also lost the interleaved A/B (2.50s vs
    // 1.89s min-of-4 at sf0.1 — write barrier + two file scans cost more
    // than recomputing the now-parallel explode). At cluster scale the
    // band join becomes a shuffle join and exchange reuse removes the
    // duplication anyway.
    val sigs = minhashSignatures(df, idCol, textCol, shingleK, nHashes)
    val banded = sigs
      .select(col("id"), col("sig"), posexplode(bandHashes(bands, rowsPerBand)).as(Seq("band_idx", "band_hash")))
    val a = banded.select(col("id").as("a_id"), col("sig").as("a_sig"), col("band_idx"), col("band_hash"))
    val b = banded.select(col("id").as("b_id"), col("sig").as("b_sig"), col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), estJaccard(col("a_sig"), col("b_sig"), nHashes).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** The MinHash-LSH dedup serving artifact — what the signature/band
    * relation becomes once near-dup detection serves from STORAGE:
    * signatures are content functions ("computed once per doc, ever" —
    * the q_dedup_incremental contract), so a production corpus stores
    * the banded rows (id, sig, band_idx, band_hash) and every dedup
    * run — full-corpus pair sweep or delta probe — reads the artifact,
    * never the corpus text. nDocs rides along as the bounded scalar the
    * sub-quadratic candidate contract is phrased against; nHashes is
    * PART of the artifact (est-Jaccard normalizes by it), so a serving
    * call cannot mis-normalize against an index built with different
    * band geometry.
    */
  private[graft] case class MinhashIndex(banded: DataFrame, nDocs: Long, nHashes: Int)

  /** The [[MinhashIndex]] of `d`'s documents through the stored-artifact
    * registry ([[graft.core.ArtifactStore.shared]]), keyed on every
    * signature parameter: serving queries never recompute signatures,
    * and a cold JVM loads the persisted band rows without touching the
    * corpus.
    */
  private[graft] def minhashIndexShared(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      shingleK: Int = 5,
      bands: Int = 8,
      rowsPerBand: Int = 4): MinhashIndex =
    ArtifactStore.shared(
      s, ArtifactStore.corpusKey(d, "documents", s"minhash|k=$shingleK|b=$bands|r=$rowsPerBand")) { w =>
      val docs = graft.core.Tables(s, d, "documents")
      w.df(
        "banded",
        minhashSignatures(docs, "doc_id", "text", shingleK, bands * rowsPerBand)
          .select(
            col("id"), col("sig"),
            posexplode(bandHashes(bands, rowsPerBand)).as(Seq("band_idx", "band_hash"))))
      w.meta("nDocs" -> docs.count().toString)
    } { slot =>
      MinhashIndex(slot.df("banded"), slot.meta("nDocs").toLong, bands * rowsPerBand)
    }

  /** The bare LSH pair sweep over a STORED band index: bucket self-join
    * + estimated-Jaccard filter, identical semantics to [[minhashPairs]]
    * (same deterministic hash family reads from the artifact, so the
    * outputs are set-EQUAL, not approximately equal — DedupSpec gates
    * the equality across the registry boundary). The serving plan
    * touches zero corpus files (PlanAuditSpec asserts it).
    */
  private[graft] def minhashPairsServed(
      index: MinhashIndex, minJaccard: Double): DataFrame = {
    val a = index.banded.select(
      col("id").as("a_id"), col("sig").as("a_sig"), col("band_idx"), col("band_hash"))
    val b = index.banded.select(
      col("id").as("b_id"), col("sig").as("b_sig"), col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        estJaccard(col("a_sig"), col("b_sig"), index.nHashes).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** Incremental LSH probe: candidate pairs INVOLVING the delta subset,
    * found by banding only the delta side and probing the FULL band index
    * (which at production scale is a stored table — signatures are content
    * functions, computed once per doc ever). Returns the same (a_id, b_id)
    * set as [[minhashPairs]] restricted to delta-involving pairs — exactly,
    * not approximately, since both run the same deterministic hash family;
    * q_dedup_incremental driver-gates that equality and DedupSpec sweeps it
    * on random corpora.
    */
  def incrementalMinhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isDelta: Column,
      shingleK: Int = 5,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.4): DataFrame = {
    val nHashes = bands * rowsPerBand
    val flagged = df.select(col(idCol), col(textCol), isDelta.as("__delta"))
    val sigs = minhashSignatures(flagged, idCol, textCol, shingleK, nHashes)
      .join(flagged.select(col(idCol).as("id"), col("__delta")), Seq("id"))
    val banded = sigs.select(
      col("id"), col("sig"), col("__delta"),
      posexplode(bandHashes(bands, rowsPerBand)).as(Seq("band_idx", "band_hash")))
    val probe = banded
      .filter(col("__delta"))
      .select(col("id").as("a_id"), col("sig").as("a_sig"), col("band_idx"), col("band_hash"))
    val index = banded.select(
      col("id").as("b_id"), col("sig").as("b_sig"), col("band_idx"), col("band_hash"))
    probeBandedPairs(probe, index, nHashes, minJaccard)
  }

  /** Incremental LSH probe AGAINST THE STORED ARTIFACT — the literal
    * production shape of [[incrementalMinhashPairs]]'s contract ("the
    * existing side is a stored table"): both the delta probe and the
    * full index side read the fingerprint-keyed [[MinhashIndex]], so
    * the incremental sweep's plan opens zero corpus files. Output is
    * the same delta-involving (a_id, b_id) set — q_dedup_incremental's
    * in-query equality gate against the from-scratch recompute now
    * crosses the registry boundary, turning a stale artifact into a
    * flipped boolean rather than silent drift.
    */
  private[graft] def incrementalMinhashPairsServed(
      index: MinhashIndex,
      isDelta: Column,
      minJaccard: Double): DataFrame = {
    val probe = index.banded
      .filter(isDelta)
      .select(col("id").as("a_id"), col("sig").as("a_sig"), col("band_idx"), col("band_hash"))
    val full = index.banded.select(
      col("id").as("b_id"), col("sig").as("b_sig"), col("band_idx"), col("band_hash"))
    probeBandedPairs(probe, full, index.nHashes, minJaccard)
  }

  private def probeBandedPairs(
      probe: DataFrame, index: DataFrame, nHashes: Int, minJaccard: Double): DataFrame =
    probe
      .join(index, Seq("band_idx", "band_hash"))
      .filter(col("a_id") =!= col("b_id"))
      .select(
        least(col("a_id"), col("b_id")).as("p_a"),
        greatest(col("a_id"), col("b_id")).as("p_b"),
        estJaccard(col("a_sig"), col("b_sig"), nHashes).as("est"))
      .filter(col("est") >= minJaccard)
      .select(col("p_a").as("a_id"), col("p_b").as("b_id"))
      .distinct()

  /** Connected components — the cluster step after near-dup pair
    * detection (keep one doc per component). Delegates to the
    * STAR-CONTRACTION kernel ([[graft.queries.Graph.ccStar]], Kiveris
    * et al.'s alternating large-star/small-star) — O(log n) rounds on
    * ANY component shape, where min-label propagation needs
    * DIAMETER-many rounds. That matters for dedup specifically:
    * transitive near-dup CHAINS (A~B~C~…, each link above threshold,
    * ends unrelated) are the textbook long-diameter component, and a
    * 100 TB corpus will contain one longer than any fixed cap. The
    * labeling is deterministic — comp = min node id of the component;
    * DedupSpec pins it label-equal to [[graft.queries.Graph.ccConverged]].
    *
    * @param nodes (id) one row per node
    * @param edges (a, b) undirected pairs
    * @return (id, comp) where comp = min node id of the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val (labels, _, converged) = graft.queries.Graph.ccStar(
      nodes.select(col("id").as("pk")),
      edges.select(col("a").as("src"), col("b").as("dst")),
      maxRounds = maxIters)
    // gate on the kernel's explicit flag, not `rounds >= maxIters`: a
    // run whose fixpoint lands exactly on the last permitted round is
    // converged yet reports rounds == maxIters
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters star-contraction rounds — " +
          "with the log-round kernel this indicates a bug, not a long component")
    labels.select(col("pk").as("id"), col("label").as("comp"))
  }

  /** Blocked exact k-gram Jaccard candidate pairs — the shared shape for
    * every exact near-dup stage: gram sets materialize once per ROW (an
    * inline [[ngramJaccardExpr]] would rebuild both arrays per candidate
    * pair), the thin rows hash-spread before the O(len²) array_distinct
    * (single-row-group inputs would otherwise run it one-task), and
    * candidates join only on the caller's block columns — O(bucket²),
    * never O(docs²). Returns (a_id, b_id, jac >= minJac). The jac
    * arithmetic (int sizes, one double division) is bit-identical to the
    * inline expression form, so existing DuckDB oracles are unaffected.
    */
  def blockedJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minJac: Double,
      blockCols: Seq[(String, Column)]): DataFrame = {
    val spread = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
    val names = blockCols.map(_._1)
    val withG = spread.select(
      (col(idCol).as("id") +: blockCols.map { case (n, c) => c.as(n) }) :+
        shingles(k, textCol).as("grams"): _*)
    val a = withG.select(
      (col("id").as("a_id") +: names.map(col)) :+ col("grams").as("a_g"): _*)
    val b = withG.select(
      (col("id").as("b_id") +: names.map(col)) :+ col("grams").as("b_g"): _*)
    a.join(b, names)
      .filter(col("a_id") < col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        (size(array_intersect(col("a_g"), col("b_g"))).cast("double") /
          size(array_union(col("a_g"), col("b_g")))).as("jac"))
      .filter(col("jac") >= minJac)
  }

  /** Exact k-gram Jaccard as a SQL expression over text columns a/b. */
  def ngramJaccardExpr(k: Int, a: String, b: String): Column = {
    def grams(c: String) =
      s"array_distinct(transform(sequence(1, greatest(1, length($c) - ${k - 1})), i -> substring($c, i, $k)))"
    expr(
      s"CAST(size(array_intersect(${grams(a)}, ${grams(b)})) AS DOUBLE) / " +
        s"size(array_union(${grams(a)}, ${grams(b)}))")
  }

  /** Intermediate frames of a prefix-filter join, exposed so the guard
    * gate (q_dedup_prefix_guard) can count candidates/pool/postings
    * in-plan without re-deriving the pipeline.
    */
  private[ext] final case class PrefixParts(
      sets: DataFrame,     // id, toks, sz, plen, pooled
      scalars: DataFrame,  // one row: n_docs, cap, rmax
      postings: DataFrame, // the df-capped postings that reach the gram join
      cand: DataFrame,     // deduplicated candidate (a_id, b_id)
      pairs: DataFrame)    // verified output

  /** Shared rarest-first integer-rank encoding for the prefix-filter
    * family, WITH the round-9 document-frequency cap: grams with
    * df > cap are FREQUENT and never posted to the gram join; a doc
    * whose prefix contains one is POOLED (the prefix filter provably
    * cannot be selective for it) and handled by the exact size-bucketed
    * fallback instead. cap defaults to max(64, 2% of docs) and is
    * overridable via `graft.prefix.dfcap` (DedupSpec forces each path
    * pure with it). Because rid order is (df asc, gram asc),
    * "df ≤ cap" ⟺ "rid ≤ rmax" where rmax = count of rare grams — so
    * both the posting filter and the pooled flag are O(1) integer
    * comparisons (`toks` is sorted, the prefix max rid is
    * element_at(toks, plen)).
    *
    * Returns (sets, scalars): sets = (id, toks, sz, plen, pooled) with
    * plen = sz − ⌈τ·sz⌉ + 1 in exact integer arithmetic; scalars = one
    * broadcastable row (n_docs, cap, rmax).
    */
  private[ext] def rankEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      tauNum: Int,
      tauDen: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val spread = docs.repartition(spark.sparkContext.defaultParallelism, col(idCol))
    val g = spread.select(col(idCol).as("id"), shingles(k, textCol).as("grams"))
    // rarest-first global order. The dictionary is O(distinct shingles)
    // — billions on a real corpus vocabulary — so rid assignment is the
    // scale-safe two-pass range-partitioned rank (core/Ranks.globalIndex:
    // range shuffle + per-partition counts, the only global window is
    // over one offsets row per partition), NEVER a row_number() over a
    // single-partition window. rid is 1-based to preserve the
    // "df ≤ cap ⟺ rid ≤ rmax" contract below; it is a LONG for the same
    // reason the ranking is distributed.
    val dict = graft.core.Ranks
      .globalIndex(
        g.select(explode(col("grams")).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("df")),
        Seq(col("df"), col("gram")),
        spark.sparkContext.defaultParallelism)
      .withColumn("rid", col("gidx") + lit(1L))
      .drop("gidx")
    val capCol = spark.conf.getOption("graft.prefix.dfcap") match {
      case Some(v) => lit(v.toLong)
      case None => greatest(lit(64L), ceil(col("n_docs") * lit(0.02)).cast("long"))
    }
    val scalars = broadcast(
      Gate.withCounts(dict, "n_docs" -> g)
        .withColumn("cap", capCol)
        .agg(
          max(col("n_docs")).as("n_docs"),
          max(col("cap")).as("cap"),
          coalesce(sum((col("df") <= col("cap")).cast("long")), lit(0L)).as("rmax")))
    // gram → rid mapping: a plain shuffle equi-join, NOT an unconditional
    // broadcast — the dictionary is corpus-vocabulary-sized. When it IS
    // small (fixtures, narrow vocabularies), AQE's runtime size check
    // converts this to a broadcast join for free; a hardcoded broadcast()
    // would ship billions of grams to every executor at 100 TB.
    val sets = g.select(col("id"), explode(col("grams")).as("gram"))
      .join(dict.select(col("gram"), col("rid")), "gram")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("rid"))).as("toks"))
      .withColumn("sz", size(col("toks")))
      .withColumn(
        "plen", (col("sz") - expr(s"(sz * $tauNum + $tauDen - 1) div $tauDen") + 1).cast("int"))
      .crossJoin(scalars.select(col("rmax")))
      .withColumn("pooled", element_at(col("toks"), col("plen")).cast("long") > col("rmax"))
      .drop("rmax")
    (sets, scalars)
  }

  /** Log-scale size bucket for the pooled fallback join: base τ⁻¹ =
    * tauDen/tauNum, so two sizes passing the length filter
    * (ratio ≤ 1/τ) sit in the same or adjacent buckets. Probes also
    * cover one bucket BELOW the computed floor — floor∘log on doubles
    * can misround exactly at bucket boundaries, and the extra bucket
    * costs a size-filtered no-op while a miss would break completeness.
    */
  private def bucketOf(c: Column, tauNum: Int, tauDen: Int): Column =
    floor(log(c.cast("double")) / math.log(tauDen.toDouble / tauNum)).cast("int")

  /** Prefix-filtered exact k-gram Jaccard self-join — the AllPairs /
    * PPJoin family (Bayardo/Ma/Srikant, WWW'07; Xiao/Wang/Lin/Yu,
    * WWW'08). Unlike [[blockedJaccardPairs]]' heuristic blocking, this is
    * COMPLETE: under any global gram order, two sets with Jaccard >= τ
    * must share a gram inside each other's first (sz − ⌈τ·sz⌉ + 1) grams,
    * so blocking on that prefix alone cannot miss a qualifying pair. The
    * order used is rarest-first (df asc, gram asc): the prefix holds each
    * doc's MOST selective grams. τ is a RATIONAL tauNum/tauDen so every
    * threshold is exact integer arithmetic; an IEEE ceil(sz·τ) landing
    * one ulp low would silently break the completeness guarantee.
    *
    * ROUND-9 CANDIDATE-VOLUME GUARD (the round-8 verdict's #2): the
    * unguarded form's candidate volume Σ dfPrefix(g)² is data-dependent
    * and degraded toward all-pairs on gram-frequent corpora (measured
    * 122M candidates / ~30 s at sf0.1 on the 31-word-vocab fixture).
    * Now a TWO-PATH hybrid with a df cap (see [[rankEncode]]):
    *
    *  - CHEAP path: the PPJoin gram join posts ONLY rare grams
    *    (df ≤ cap), so its volume is bounded by cap · postings — a
    *    LINEAR-in-corpus design ceiling, enforced by
    *    q_dedup_prefix_guard. Pool-pool pairs are excluded (the pool
    *    path owns them).
    *  - POOL path: docs whose prefix contains a frequent gram (for whom
    *    prefix filtering provably cannot prune) meet in an EXACT
    *    size-bucketed self-join — each unordered pair generated at most
    *    once (the larger-size side probes, ties broken by id), length
    *    filter applied as the bucket equi-key.
    *
    * COMPLETENESS of the union: a qualifying pair shares a prefix gram
    * g. If either side is un-pooled, its prefix is all-rare, so g is
    * rare and both sides post it (pooled docs still post their rare
    * prefix grams) → cheap path finds it. If both are pooled → pool
    * path finds it by exhaustion within the length filter. Verification
    * is shared: bare (a,b) pairs dedup, re-join to the sorted rank
    * arrays, and run the early-exit codegen intersect
    * (`graft_inter_ge`, threshold ⌈τ/(1+τ)·(sza+szb)⌉ − 1 so the final
    * emitted-jac comparison stays the bit-identical double the DuckDB
    * oracle computes). On a natural heavy-tailed vocabulary the pool is
    * boilerplate-heavy docs only; on the adversarial fixture it is the
    * whole corpus — quadratic-but-fast by construction (thin pair
    * stream, broadcastable array side, codegen verify), and the guard
    * gate reports n_pooled as a real differential either way.
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      tauNum: Int,
      tauDen: Int): DataFrame =
    prefixJaccardParts(docs, idCol, textCol, k, tauNum, tauDen).pairs

  private[ext] def prefixJaccardParts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      tauNum: Int,
      tauDen: Int): PrefixParts = {
    val (sets, scalars) = rankEncode(docs, idCol, textCol, k, tauNum, tauDen)
    // ---- cheap path: df-capped PPJoin over rare prefix grams ----
    val pref = sets
      .select(col("id"), col("sz"), col("pooled"), posexplode(expr("slice(toks, 1, plen)")))
      .crossJoin(scalars.select(col("rmax")))
      .filter(col("col").cast("long") <= col("rmax"))
      .select(col("id"), col("sz"), col("pooled"), col("pos"), col("col").as("ptok"))
    // required absolute overlap for J >= τ: ⌈τ/(1+τ) · (sza+szb)⌉
    val tReq = expr(
      s"($tauNum * (sza + szb) + ($tauNum + $tauDen) - 1) div ($tauNum + $tauDen)")
    val cheap = pref
      .select(col("id").as("a_id"), col("sz").as("sza"), col("pooled").as("ap"), col("pos").as("pa"), col("ptok"))
      .join(
        pref.select(col("id").as("b_id"), col("sz").as("szb"), col("pooled").as("bp"), col("pos").as("pb"), col("ptok")),
        "ptok")
      .filter(col("a_id") < col("b_id"))
      // pool-pool pairs are the pool path's job — dropping them here cuts
      // the gram join's output without touching completeness
      .filter(!(col("ap") && col("bp")))
      // length filter: τ·max(sza,szb) ≤ min(sza,szb), else J < τ outright
      .filter(
        col("sza") * tauNum <= col("szb") * tauDen &&
          col("szb") * tauNum <= col("sza") * tauDen)
      // positional filter: achievable overlap ≤ (overlap possible before
      // the matched rank: ≤ min(pa, pb), since each side has exactly
      // pa/pb elements below it) + (elements from the match on:
      // ≤ min(sza−pa, szb−pb), 0-based pos, match included). Dropping
      // the first term would over-prune: the earliest PREFIX-prefix
      // collision can still have prior shared grams that sit beyond the
      // other side's prefix.
      .filter(
        least(col("pa"), col("pb")) +
          least(col("sza") - col("pa"), col("szb") - col("pb")) >= tReq)
      .select(col("a_id"), col("b_id"))
    // ---- pool path: exact size-bucketed self-join of pooled docs ----
    val pool = sets.filter(col("pooled")).select(col("id"), col("sz"))
    val posts = pool.select(
      bucketOf(col("sz"), tauNum, tauDen).as("bkt"), col("id").as("b_id"), col("sz").as("szb"))
    val probes = pool.select(
      col("id").as("a_id"), col("sz").as("sza"),
      explode(sequence(
        bucketOf(expr(s"(sz * $tauNum + $tauDen - 1) div $tauDen"), tauNum, tauDen) - 1,
        bucketOf(col("sz"), tauNum, tauDen))).as("bkt"))
    val poolCand = probes
      .join(posts, "bkt")
      .filter(col("szb") * tauDen >= col("sza") * tauNum)
      // generate each unordered pair once: the larger-size side probes,
      // equal sizes break the tie by id
      .filter(col("szb") < col("sza") || (col("szb") === col("sza") && col("b_id") < col("a_id")))
      .select(
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
    // the two branches are DISJOINT (cheap excludes pool-pool pairs; the
    // pool path emits only them) and pool pairs are unique by
    // construction — so only the gram join's multi-collision output pays
    // a dedup shuffle, never the pool stream
    val cand = cheap.distinct().unionByName(poolCand)
    // ---- shared verify: early-exit sorted-intersect, bit-identical jac ----
    val ta = sets.select(col("id").as("a_id"), col("toks").as("ta"), col("sz").as("sza"))
    val tb = sets.select(col("id").as("b_id"), col("toks").as("tb"), col("sz").as("szb"))
    val pairs = cand
      .join(ta, "a_id")
      .join(tb, "b_id")
      // t − 1, not t: the emitted filter below is the double comparison
      // the oracle runs, and a boundary pair one ulp around τ must reach
      // it with its EXACT intersection size, not an early-exit -1
      .withColumn(
        "inter",
        call_function("graft_inter_ge", col("ta"), col("tb"), (tReq - lit(1)).cast("int")))
      .filter(col("inter") >= 0)
      .select(
        col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double")).as("jac"))
      .filter(col("jac") >= lit(tauNum.toDouble / tauDen))
    PrefixParts(sets, scalars, pref, cand, pairs)
  }

  /** Prefix-filtered exact k-gram CONTAINMENT join — the asymmetric sibling
    * of [[prefixJaccardPairs]]. C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)|,
    * the "a is mostly inside b" relation web-scrape dedup needs where
    * Jaccard is blind: a quoted article inside a longer page, boilerplate
    * wrapped around a syndicated body, a doc re-published with an appendix.
    * Jaccard penalizes the size gap (J = |∩|/|∪| shrinks as b grows);
    * containment is size-invariant on the b side, so the pair
    * (snippet, superset-page) that J ≥ τ misses is exactly what C ≥ τ
    * finds. Directional: both (a→b) and (b→a) are tested, each on its own
    * threshold ⌈τ·|a|⌉.
    *
    * Completeness: a needs |∩| ≥ ⌈τ·sza⌉ grams of ITS OWN set inside b, so
    * if b contains none of a's first (sza − ⌈τ·sza⌉ + 1) grams (rarest-first
    * order), at most ⌈τ·sza⌉ − 1 can match — the PROBE side blocks on its
    * prefix only, while the index side lists its grams (a superset page
    * has no short prefix that's guaranteed to hit). The unguarded
    * Σ_g dfPrefix(g)·df(g) candidate volume is now df-capped with a
    * pooled exact fallback — see [[containmentParts]] for the two-path
    * hybrid and its completeness argument. Length filter: szb ≥ ⌈τ·sza⌉
    * (no upper bound — asymmetry is the point). Positional: shared grams
    * below the matched rank ≤ min(pa, pb); at-or-above
    * ≤ min(sza−pa, szb−pb).
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      tauNum: Int,
      tauDen: Int): DataFrame =
    containmentParts(docs, idCol, textCol, k, tauNum, tauDen).pairs

  /** Same ROUND-9 two-path hybrid as [[prefixJaccardParts]], with the
    * containment asymmetry mirrored in both paths:
    *
    *  - CHEAP path: only UN-POOLED probes block on their (all-rare)
    *    prefix; the index side posts every doc's RARE grams only (the
    *    witness gram comes from the probe's prefix, so it is rare by
    *    construction — frequent index postings could only ever match
    *    pooled probes, which the pool path owns).
    *  - POOL path: pooled probes meet ALL docs with szb ≥ ⌈τ·sza⌉
    *    through the size-bucket join (probe buckets run to the corpus
    *    max — the superset side is unbounded above, that asymmetry is
    *    the operator's point).
    *
    * Completeness: un-pooled probe a → witness g ∈ prefix(a) is rare →
    * posted by both sides → cheap path. Pooled probe a → every eligible
    * b (szb ≥ ⌈τ·sza⌉) is a pool-path candidate by exhaustion. The
    * τ-comparison stays exact-integer (graft_inter_ge's threshold IS
    * ⌈τ·sza⌉); the emitted ratio is one double division, identical on
    * both engines.
    */
  private[ext] def containmentParts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      tauNum: Int,
      tauDen: Int): PrefixParts = {
    val (sets, scalars) = rankEncode(docs, idCol, textCol, k, tauNum, tauDen)
    // required overlap: ⌈τ·sza⌉, integer-exact
    val tReq = expr(s"(sza * $tauNum + $tauDen - 1) div $tauDen")
    // ---- cheap path: un-pooled probes × rare-gram index postings ----
    val probe = sets
      .filter(!col("pooled"))
      .select(col("id"), col("sz"), posexplode(expr("slice(toks, 1, plen)")))
      .select(col("id").as("a_id"), col("sz").as("sza"), col("pos").as("pa"), col("col").as("ptok"))
    val index = sets
      .select(col("id"), col("sz"), posexplode(col("toks")))
      .crossJoin(scalars.select(col("rmax")))
      .filter(col("col").cast("long") <= col("rmax"))
      .select(col("id").as("b_id"), col("sz").as("szb"), col("pos").as("pb"), col("col").as("ptok"))
    val cheap = probe
      .join(index, "ptok")
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("szb") >= tReq)
      .filter(
        least(col("pa"), col("pb")) +
          least(col("sza") - col("pa"), col("szb") - col("pb")) >= tReq)
      .select(col("a_id"), col("b_id"))
    // ---- pool path: pooled probes × all size-eligible docs ----
    val posts = sets.select(
      bucketOf(col("sz"), tauNum, tauDen).as("bkt"), col("id").as("b_id"), col("sz").as("szb"))
    val maxB = broadcast(posts.agg(max(col("bkt")).as("maxb")))
    val probesPool = sets
      .filter(col("pooled"))
      .select(col("id").as("a_id"), col("sz").as("sza"))
      .crossJoin(maxB)
      .select(
        col("a_id"), col("sza"),
        explode(sequence(
          bucketOf(expr(s"(sza * $tauNum + $tauDen - 1) div $tauDen"), tauNum, tauDen) - 1,
          col("maxb"))).as("bkt"))
    val poolCand = probesPool
      .join(posts, "bkt")
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("szb") * tauDen >= col("sza") * tauNum)
      .select(col("a_id"), col("b_id"))
    // disjoint by probe pooling (cheap probes are un-pooled, pool probes
    // pooled); pool pairs are unique by construction (b posted once, a
    // probes each bucket once) — dedup only the gram join's output
    val cand = cheap.distinct().unionByName(poolCand)
    // ---- shared verify: exact-integer threshold via the codegen intersect ----
    val ta = sets.select(col("id").as("a_id"), col("toks").as("ta"), col("sz").as("sza"))
    val tb = sets.select(col("id").as("b_id"), col("toks").as("tb"))
    val pairs = cand
      .join(ta, "a_id")
      .join(tb, "b_id")
      .withColumn(
        "inter",
        call_function("graft_inter_ge", col("ta"), col("tb"), tReq.cast("int")))
      .filter(col("inter") >= 0)
      .select(
        col("a_id"), col("b_id"),
        (col("inter").cast("double") / col("sza").cast("double")).as("containment"))
    PrefixParts(sets, scalars, index, cand, pairs)
  }
}
