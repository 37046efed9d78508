package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Q
import graft.core.{ArtifactStore, Tables}
import graft.plans.TopKPerKey

/** Postings-based text retrieval — the search half of the training-data
  * toolkit. The engine already covers DENSE retrieval (the ANN family:
  * brute force / sign-LSH / IVF / PQ-ADC over `embeddings`) and per-doc
  * TF-IDF keyword extraction (`q_tfidf`); this family adds the inverted
  * index and everything classical retrieval builds on it: index
  * construction, positional phrase search, BM25 ranked retrieval, and a
  * sparse-vector cosine similarity join (the keyword counterpart of
  * `q_dedup_embed`).
  *
  * Scale notes common to the family: the inverted index is the canonical
  * one-shuffle MapReduce (explode → (term, doc) → term); every retrieval
  * query is then keyed on TERMS, so work is proportional to the posting
  * lists of the query terms, never the corpus. All scoring is exact
  * integer fixed-point (same discipline as `q_tfidf`) so the cross-engine
  * hash can't drift on float rounding or log() last-bit differences.
  */
object SearchQueries {

  /** (doc_id, pos, term) token stream: ONE explode of the corpus, the
    * substrate every query in the family keys off. posexplode gives the
    * 0-based word position — the positional payload of the index.
    * (Round 21 measured NOT to spread here: a pre-explode thin-row
    * repartition cost one extra AQE stage per query and lost to the
    * single-task explode at bench scale — q_bm25 1.80 → 2.97 s with the
    * spread, reverted.)
    */
  private def tokens(docs: org.apache.spark.sql.DataFrame) =
    docs.select(
      col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))

  /** Shared DuckDB token stream (generate_subscripts is 1-based). */
  private def tokensSqlFrom(corpus: String) =
    "SELECT doc_id, unnest(string_split(text, ' ')) AS term, " +
      s"CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos FROM $corpus"

  private val tokensSql = tokensSqlFrom("documents")

  /** Per-(term, doc) postings rows: tf plus the serialized "doc:p1,p2"
    * entry — the unit both the full index build and the incremental
    * segment merge aggregate from.
    */
  private def perDocPostings(docs: org.apache.spark.sql.DataFrame) =
    tokens(docs)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("parr"))
      .select(
        col("term"), col("doc_id"), col("tf"),
        concat(
          col("doc_id").cast("string"), lit(":"),
          expr("array_join(transform(parr, x -> cast(x as string)), ',')")).as("entry"))

  /** Term-level index segment: df, total_tf, doc-ordered entry array —
    * the mergeable state (df and total_tf add; entry arrays of disjoint
    * doc ranges concatenate).
    */
  private def segment(perDoc: org.apache.spark.sql.DataFrame) =
    perDoc
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        sort_array(collect_list(struct(col("doc_id"), col("entry")))).as("earr"))

  /** Bounded per-term digest row of a segment relation. */
  private def digest(seg: org.apache.spark.sql.DataFrame) =
    seg.select(
      col("term"), col("df"), col("total_tf"),
      md5(expr("array_join(transform(earr, x -> x.entry), '|')")).as("postings_md5"))

  /** Positional phrase-occurrence counts for `terms` in order:
    * (doc_id, n_occ) — the k-way postings intersection. Every term's
    * positions are normalized to the phrase START (pos − offset) and
    * intersected on (doc_id, start); the join chain is driven from the
    * MIN-DF term (dfs are |terms| values collected to the driver — the
    * Ivf.train driver-state bound), so the first, most selective leg
    * prunes candidates before the frequent terms join. Work ∝ the query
    * terms' postings, never the corpus; duplicate terms in a phrase get
    * one leg per occurrence slot and intersect naturally.
    */
  private def phraseOcc(docs: org.apache.spark.sql.DataFrame, terms: Seq[String]) = {
    val toks = tokens(docs)
    val dfs = toks
      .filter(col("term").isin(terms.distinct: _*))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val ordered = terms.zipWithIndex
      .sortBy { case (t, o) => (dfs.getOrElse(t, 0L), o) }
    val legs = ordered.map { case (t, o) =>
      toks.filter(col("term") === t).select(col("doc_id"), (col("pos") - o).as("start"))
    }
    legs
      .reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
  }

  /** DuckDB twin of [[phraseOcc]] (fixed join order — intersection is
    * order-independent), generated from the same term Seq. Defines
    * occ(doc_id, n_occ); requires a `toks` CTE in scope.
    */
  private def phraseOccSql(terms: Seq[String]): String = {
    requirePlainTerms(terms)
    val legs = terms.zipWithIndex.map { case (t, i) =>
      s"(SELECT doc_id, pos - $i AS start FROM toks WHERE term = '$t') p$i"
    }
    "occ AS (SELECT p0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ FROM " +
      legs.head + legs.tail.map(l => s" JOIN $l USING (doc_id, start)").mkString +
      " GROUP BY p0.doc_id)"
  }

  /** The scan-baseline + agreement wrapper shared by the phrase queries:
    * every doc with its intersection count, the padded-substring scan
    * hit, and the invariant binding the two methods.
    */
  private def phraseQuery(docs: org.apache.spark.sql.DataFrame, terms: Seq[String]) = {
    val padded = s" ${terms.mkString(" ")} "
    docs.select(col("doc_id"), col("text"))
      .join(phraseOcc(docs, terms), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"),
        concat(lit(" "), col("text"), lit(" ")).contains(padded).as("scan_hit"))
      .withColumn("agree", (col("n_occ") > 0) === col("scan_hit"))
      .orderBy("doc_id")
  }

  /** Phrase terms are interpolated into SQL string literals and a LIKE
    * pattern with no escaping; a term containing a quote or a LIKE
    * wildcard would produce a broken or semantically wrong oracle
    * (ADVICE r11). Constrain rather than escape — the token fixture is
    * lowercase-alphanumeric, and a loud failure beats a silent
    * mis-match.
    */
  private def requirePlainTerms(terms: Seq[String]): Unit =
    require(
      terms.forall(_.matches("[a-z0-9]+")),
      s"phrase terms must be [a-z0-9]+ (quote/wildcard-free for the SQL oracle): $terms")

  /** The registered champion-list cap. C trades recall for candidate
    * volume (≤ C·M·n); the two-point sensitivity evidence (C=16 vs 64:
    * recall in SearchSpec, runtime on the replicated corpus in PLANS.md
    * "Measured: retrieval family at replication scale") backs the choice.
    */
  private[graft] val ChampionC = 64

  /** The sparse retrieval index — the STORED ARTIFACT of the champion
    * family (what an IR system writes at ingest): the thin top-5 TF-IDF
    * signature relation, the per-doc (sorted terms, weights, norm)
    * array signatures the sorted-dot kernel scores against, the
    * per-term champion lists, and the FROZEN CORPUS STATISTICS
    * (per-term document frequencies + corpus size) that let a new
    * document's signature be computed under the same weighting the
    * index was built with — the piece the streaming ingest twin
    * ([[graft.streaming.SparseStream]]) scores arrivals against. All
    * relations are eagerly materialized (localCheckpoint), so a query
    * served from the index pays zero signature/champion build cost —
    * the same train-once/serve-many lifecycle as the PQ
    * codebooks and codes ([[ArtifactStore.shared]]).
    */
  private[graft] case class SparseIndex(
      sig: org.apache.spark.sql.DataFrame,
      sigArr: org.apache.spark.sql.DataFrame,
      champArr: org.apache.spark.sql.DataFrame,
      dfRel: org.apache.spark.sql.DataFrame,
      nDocs: Long)

  /** The [[SparseIndex]] of `d`'s documents through the stored-artifact
    * registry ([[ArtifactStore.shared]]): serving queries
    * (the registered q_sparse_cosine, every bench/Verify re-pass) never
    * rebuild signatures or champion lists, and a cold JVM loads them
    * without re-scanning the corpus; derived corpora keep calling
    * [[sparseIndexBuild]].
    */
  private[graft] def sparseIndexShared(
      s: org.apache.spark.sql.SparkSession, d: String): SparseIndex =
    // "sparse2": the round-22 slot layout (tid-keyed signatures +
    // pre-rooted norms) — a stale "sparse" slot from an earlier build
    // must not be served into the new serving chain
    ArtifactStore.shared(s, ArtifactStore.corpusKey(d, "documents", s"sparse2|sig=5|C=$ChampionC")) { w =>
      val ix = sparseIndexBuild(Tables(s, d, "documents"), ChampionC)
      w.df("sig", ix.sig)
      w.df("sigarr", ix.sigArr)
      w.df("champarr", ix.champArr)
      w.df("df", ix.dfRel)
      w.meta("nDocs" -> ix.nDocs.toString)
    } { slot =>
      SparseIndex(
        slot.df("sig"), slot.df("sigarr"), slot.df("champarr"), slot.df("df"),
        slot.meta("nDocs").toLong)
    }

  /** The BM25 serving artifact — what the inverted-index family's
    * postings become once ranked retrieval serves from STORAGE: the
    * (term, doc_id, tf) postings, the per-term document frequencies,
    * the per-doc lengths, and the two corpus scalars the length
    * normalization needs. With these materialized, a query's scoring
    * plan touches ZERO corpus files — work ∝ the query terms' postings,
    * the inverted-index serving bound (PlanAuditSpec asserts the
    * zero-scan property on q_bm25_served).
    */
  private[graft] case class Bm25Index(
      postings: org.apache.spark.sql.DataFrame,
      dfRel: org.apache.spark.sql.DataFrame,
      docLens: org.apache.spark.sql.DataFrame,
      nDocs: Long,
      totalTok: Long)

  /** The [[Bm25Index]] of `d`'s documents through the stored-artifact
    * registry ([[ArtifactStore.shared]]).
    */
  private[graft] def bm25IndexShared(
      s: org.apache.spark.sql.SparkSession, d: String): Bm25Index =
    ArtifactStore.shared(s, ArtifactStore.corpusKey(d, "documents", "bm25-postings")) { w =>
      val docs = Tables(s, d, "documents")
      val postings = tokens(docs)
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      w.df("postings", postings)
      w.df("df", postings.groupBy(col("term")).agg(count(lit(1)).as("df")))
      val docLens = docs
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
        .localCheckpoint(true)
      w.df("doclens", docLens)
      val stats = docLens.agg(count(lit(1)), sum(col("dl"))).collect().head
      w.meta("nDocs" -> stats.getLong(0).toString, "totalTok" -> stats.getLong(1).toString)
    } { slot =>
      Bm25Index(
        slot.df("postings"), slot.df("df"), slot.df("doclens"),
        slot.meta("nDocs").toLong, slot.meta("totalTok").toLong)
    }

  /** Champion-list sparse TF-IDF cosine top-3 with cap `c` — the
    * q_sparse_cosine semantics, parametrized so the C-sensitivity
    * evidence runs the REGISTERED plan, not a reimplementation (the
    * registered query itself serves from [[sparseIndexShared]], which
    * caches exactly [[sparseIndexBuild]]'s output). See the
    * q_sparse_cosine comment for the full design discussion.
    */
  private[graft] def championCosine(docs: org.apache.spark.sql.DataFrame, c: Int) =
    championServe(sparseIndexBuild(docs, c))

  /** Index build: signatures + champion lists + frozen stats from the
    * raw corpus. nDocs is collected to the driver (one scalar — bounded
    * state) so the weighting formula is replayable on documents that
    * arrive AFTER the build (the streaming ingest path).
    */
  /** Per-doc top-5 TF-IDF signature rows (doc_id, term, w) under GIVEN
    * frozen statistics — the ONE weighting recipe behind both the index
    * build (stats freshly computed) and the streaming ingest scorer
    * (stats frozen in the index), so the two cannot drift.
    * df via groupBy + equi-join, not count-over-window: the window form
    * shuffles AND SORTS the 5n tf rows per term partition for a count
    * that needs no order; the join form is one hash-agg + one shuffle
    * join on the same key (AQE broadcasts the vocab-sized df relation
    * when it fits). Same integers out — measured 2.05 → 1.37 s for the
    * signature materialization at sf0.1 (PLANS.md, round 15).
    * Terms outside the frozen vocabulary drop at the inner join — the
    * documented stale-index semantics between refreshes (impossible
    * for the index's own corpus, where the vocab is by construction
    * complete).
    */
  private[graft] def sigThinOf(
      docs: org.apache.spark.sql.DataFrame,
      dfRel: org.apache.spark.sql.DataFrame,
      nDocs: Long): org.apache.spark.sql.DataFrame =
    sigThinFromTf(
      tokens(docs)
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")),
      dfRel, nDocs)

  /** [[sigThinOf]] from an ALREADY-AGGREGATED (doc_id, term, tf)
    * relation — the index build derives the tf relation once and feeds
    * both the df statistics and the signatures from it (round 22: the
    * old shape ran the tokenize+explode+count corpus pass twice per
    * build, once for dfRel and once inside sigThinOf). Output carries
    * the term's dense dictionary id (`tid`, from dfRel) alongside the
    * term — the integer key the scoring kernel merges on.
    */
  private[graft] def sigThinFromTf(
      tf: org.apache.spark.sql.DataFrame,
      dfRel: org.apache.spark.sql.DataFrame,
      nDocs: Long): org.apache.spark.sql.DataFrame = {
    val weighted = tf
      .join(dfRel, Seq("term"))
      .select(
        col("doc_id"), col("term"), col("tid"),
        expr(s"tf * ((${nDocs}L * 1000000) div df)").as("w"))
    TopKPerKey.topK(weighted, Seq(col("doc_id")), Seq(col("w").desc, col("term")), 5, "rnk")
      .select(col("doc_id"), col("term"), col("tid"), col("w"))
  }

  /** The (sorted terms, aligned weights, norm) array form of a thin
    * signature relation — the unit [[championServeAgainst]] scores with
    * the sorted-dot kernel. Shared by the index build and the streaming
    * ingest scorer.
    */
  private[graft] def sigArrOf(sigThin: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // Round 22 (guide §4/codegen): the key arrays are the dense term
    // IDS, not the term strings — the sorted-dot merge compares longs
    // instead of UTF8 byte strings over the 1.6M candidate pairs. The
    // integer dot is order-free, so sorting by tid instead of term
    // changes nothing about the result under the term↔tid bijection.
    // The norm is stored PRE-ROOTED (nrm = sqrt(cast(n2 as double)),
    // the exact double the serve chain used to compute per pair), so
    // scoring multiplies two stored doubles instead of running two
    // sqrts per pair — bit-identical cosine.
    sigThin
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("tid"), col("w")))).as("sw"),
        sum(col("w") * col("w")).as("n2"))
      .select(
        col("doc_id"),
        expr("transform(sw, x -> x.tid)").as("ts"),
        expr("transform(sw, x -> x.w)").as("ws"),
        sqrt(col("n2").cast("double")).as("nrm"))

  private[graft] def sparseIndexBuild(docs: org.apache.spark.sql.DataFrame, c: Int): SparseIndex = {
    val nDocs = docs.count()
    // Round 22: the (doc_id, term, tf) aggregate is derived ONCE and
    // checkpointed — it feeds both the df statistics and the signature
    // build (the old shape ran the tokenize+explode+count corpus pass
    // twice). dfRel additionally assigns each term a dense 1-based
    // dictionary id in term order: the id is what the serving kernel's
    // sorted-dot merges on (long compares; see sigArrOf). Terms are
    // unique after the groupBy, so the range-partitioned rank
    // (Ranks.globalIndex) gives the ids a single-partition
    // row_number() window would, without funnelling the vocabulary
    // through one task.
    val tf = tokens(docs)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfRel = graft.core.Ranks
      .globalIndex(
        tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
        Seq(col("term")),
        docs.sparkSession.sparkContext.defaultParallelism)
      .withColumn("tid", col("gidx") + lit(1L))
      .drop("gidx")
      .localCheckpoint(true)
    // 3 consumers hang off the signature relation (champion window,
    // probe side, and the array-signature build), each behind the
    // corpus explode + two windows — localCheckpoint materializes the
    // 5n thin rows once (the PageRank loop-invariant lesson; measured
    // 11.5 s → 4.9 s at sf0.1)
    val sig = sigThinFromTf(tf, dfRel, nDocs).localCheckpoint(true)
    val champ = TopKPerKey.topK(sig, Seq(col("tid")), Seq(col("w").desc, col("doc_id")), c, "crnk")
      .select(col("doc_id").as("b_id"), col("tid"))
    // The champion index is collapsed to ONE array row per term (≤ c
    // elements), so the serving probe join emits 5 rows per doc — each
    // carrying that term's champion list — and pair-level dedup
    // happens INSIDE the per-doc row (see championServe). Vocab-sized:
    // AQE broadcasts it at gate scale, shards shuffle it at 100 TB.
    val champArr = champ
      .groupBy(col("tid")).agg(collect_list(col("b_id")).as("bs"))
      .localCheckpoint(true)
    // Per-doc signature as (sorted terms, aligned weights) parallel
    // arrays + its norm — ONE row per doc, so the candidate relation
    // joins it on a single key per side and the dot product is the
    // graft_sorted_dot codegen merge. The relational alternative
    // (cand ⋈ sig on a_id → ⋈ sig on (b_id, term) → hash-agg SUM)
    // fans every candidate pair out to |sig| rows and shuffles them
    // twice, then needs two more joins for the norms; measured 3.8 s
    // of the 5.3 s query at sf0.1 (round-15 stage probe). The array
    // build is a per-doc agg over the checkpointed sig (HOF transform
    // over 5-element arrays, once per DOC not per pair), and the
    // doc-keyed relation is corpus-row-sized, so AQE broadcasts it at
    // gate scale and shards join it shuffle-wise at 100 TB — either
    // way the candidate pairs never fan out.
    val sigArr = sigArrOf(sig).localCheckpoint(true)
    SparseIndex(sig, sigArr, champArr, dfRel, nDocs)
  }

  /** Serving composition over a (possibly registry-cached)
    * [[SparseIndex]]: candidate generation → sorted-dot kernel scoring
    * → per-probe top-3. The corpus self-join form — probe side = the
    * index's own signatures.
    */
  private[graft] def championServe(ix: SparseIndex): org.apache.spark.sql.DataFrame =
    championServeAgainst(ix.sig, ix.sigArr, ix)

  /** The general serve: score PROBE documents (their thin signature
    * rows + array signatures, possibly computed outside the index —
    * the streaming ingest path) against a frozen [[SparseIndex]]'s
    * champion lists and array signatures.
    */
  private[graft] def championServeAgainst(
      probeSig: org.apache.spark.sql.DataFrame,
      probeSigArr: org.apache.spark.sql.DataFrame,
      ix: SparseIndex): org.apache.spark.sql.DataFrame = {
    // Candidate pairs: a shares ≥1 signature term with champion b.
    // The probe join emits 5 rows per doc (each carrying that term's
    // champion list) and the pair-level dedup happens INSIDE the
    // per-doc row (flatten → array_distinct over ≤ 5c bounded
    // elements) instead of a corpus-candidate-volume distinct
    // (measured: the exploded join + distinct shuffled 1.6M thin rows
    // twice at sf0.1; this shape shuffles 5n rows once).
    val cand = probeSig.select(col("doc_id").as("a_id"), col("tid"))
      .join(ix.champArr, Seq("tid"))
      .groupBy(col("a_id"))
      .agg(flatten(collect_list(col("bs"))).as("bs"))
      .select(col("a_id"), explode(array_distinct(col("bs"))).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // per-pair kernel (round 22): the sorted-dot merge compares dense
    // term IDS (longs) instead of UTF8 term strings, and the norms are
    // the stored pre-rooted doubles — same dot (integer, order-free
    // under the term↔tid bijection), same cosine bits (nrm IS the
    // sqrt(cast(n2 as double)) the old chain computed per pair).
    val pairs = cand
      .join(
        probeSigArr.select(
          col("doc_id").as("a_id"), col("ts").as("tsa"), col("ws").as("wsa"), col("nrm").as("na")),
        Seq("a_id"))
      .join(
        ix.sigArr.select(
          col("doc_id").as("b_id"), col("ts").as("tsb"), col("ws").as("wsb"), col("nrm").as("nb")),
        Seq("b_id"))
      .select(
        col("a_id"), col("b_id"),
        (expr("graft_sorted_dot(tsa, wsa, tsb, wsb)").cast("double") /
          (col("na") * col("nb"))).as("cos"))
    TopKPerKey.topK(pairs, Seq(col("a_id")), Seq(col("cos").desc, col("b_id")), 3, "rnk")
      .orderBy("a_id", "rnk")
  }

  private def phraseSql(terms: Seq[String]): String = {
    requirePlainTerms(terms)
    val padded = s" ${terms.mkString(" ")} "
    s"WITH toks AS ($tokensSql), ${phraseOccSql(terms)} " +
      s"SELECT d.doc_id, COALESCE(o.n_occ, 0) AS n_occ, " +
      s"(' ' || d.text || ' ' LIKE '%$padded%') AS scan_hit, " +
      s"(COALESCE(o.n_occ, 0) > 0) = (' ' || d.text || ' ' LIKE '%$padded%') AS agree " +
      "FROM documents d LEFT JOIN occ o ON d.doc_id = o.doc_id ORDER BY d.doc_id"
  }

  /** The fixed 3-query keyword workload shared by q_bm25 and the hybrid
    * queries (query ids double as dense query vector ids). ONE Seq backs
    * both the Spark DataFrame and the oracle's VALUES clause, so the two
    * engines cannot silently desync (round-10 advice).
    */
  private[graft] val queryTermPairs: Seq[(Int, String)] =
    Seq((1, "value"), (1, "table"), (2, "spark"), (2, "batch"), (3, "customer"), (3, "query"))

  /** The workload's query ids, derived from [[queryTermPairs]] — the ONE
    * id set behind every `vec_id IN (...)` on both engines (query ids
    * double as dense query vector ids), so adding a query to the
    * workload cannot desync a hardcoded list (ADVICE r11).
    */
  private val queryIds: Seq[Int] = queryTermPairs.map { case (q, _) => q }.distinct.sorted

  private val queryIdsInSql: String = queryIds.mkString("(", ", ", ")")

  private def queryTerms(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    queryTermPairs.toDF("query_id", "term")
  }

  private val queryTermsValuesSql: String =
    queryTermPairs.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** Exact-integer BM25 scores (query_id, doc_id, score_fp) — the scoring
    * chain shared by q_bm25 (top-5 ranked output) and q_hybrid_search
    * (top-20 list feeding reciprocal-rank fusion). See q_bm25's comment
    * for the fixed-point discipline; the plan filters the token stream to
    * the 6 query terms BEFORE any join, so work ∝ query postings.
    */
  private def bm25Scores(s: org.apache.spark.sql.SparkSession, docs: org.apache.spark.sql.DataFrame) = {
    val corpus = docs.agg(
      count(lit(1)).as("n"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_tok"))
    val dl = docs.select(
      col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    // (round 21: a contains()-substring pre-filter before the explode —
    // sound because token equality ⊆ substring presence — was measured
    // and REVERTED: the fixture's small vocabulary makes it ~0-selective,
    // so it cost 6 substring scans per doc and a second distinct corpus
    // scan for nothing — q_bm25 1.80 → 2.18 s. Worth re-trying only on
    // corpora where the query terms are actually rare.)
    val tf = tokens(docs)
      .join(broadcast(queryTerms(s)), Seq("term"))
      .groupBy(col("query_id"), col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("query_id"), col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    bm25Chain(
      tf
        .join(df, Seq("query_id", "term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(corpus)))
  }

  /** The exact-integer BM25 fixed-point chain over a prepared relation
    * carrying (query_id, term, doc_id, tf, df, dl, n, total_tok) — the
    * ONE scoring arithmetic behind both [[bm25Scores]] (statistics
    * computed in-plan from the corpus) and the served form
    * (statistics frozen in the [[Bm25Index]] artifact), so the two
    * cannot drift.
    */
  private def bm25Chain(prepared: org.apache.spark.sql.DataFrame) =
    prepared
      .withColumn("dl_ratio_fp", expr("dl * n * 1000 div total_tok"))
      .withColumn("norm_fp", expr("250 + (750 * dl_ratio_fp) div 1000"))
      .withColumn("denom_fp", expr("tf * 1000 + (12 * norm_fp) div 10"))
      .withColumn("tfw_fp", expr("(tf * 2200 * 1000000) div denom_fp"))
      .withColumn("idf_fp", expr("((2 * n - 2 * df + 1) * 1000000) div (2 * df + 1)"))
      .withColumn("s_fp", expr("(idf_fp * tfw_fp) div 1000000"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s_fp")).as("score_fp"))

  /** Sparse BM25 top-`k` list per query: (query_id, doc_id, srnk). */
  private def sparseTop(s: org.apache.spark.sql.SparkSession, docs: org.apache.spark.sql.DataFrame, k: Int) = {
    TopKPerKey.topK(
      bm25Scores(s, docs), Seq(col("query_id")), Seq(col("score_fp").desc, col("doc_id")), k, "srnk")
      .select(col("query_id"), col("doc_id"), col("srnk"))
  }

  /** Reciprocal-rank fusion of a sparse (query_id, doc_id, srnk) and a
    * dense (query_id, doc_id, drnk) list: integer-exact rrf_fp, top-10
    * per query. Shared by the exact and IVF-served hybrid queries — the
    * fusion stage is identical; only the dense list's candidate engine
    * differs.
    */
  // package-private: SimilaritySpec's MoG hybrid curve drives the SAME
  // registered fusion stage, not a reimplementation
  private[graft] def rrfFuse(sparse: org.apache.spark.sql.DataFrame, dense: org.apache.spark.sql.DataFrame) = {
    val fused = sparse
      .join(dense, Seq("query_id", "doc_id"), "full")
      .select(
        col("query_id"), col("doc_id"),
        (coalesce(expr("1000000 div (60 + srnk)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + drnk)"), lit(0L))).as("rrf_fp"),
        coalesce(col("srnk"), lit(0)).as("sparse_rank"),
        coalesce(col("drnk"), lit(0)).as("dense_rank"))
    TopKPerKey.topK(fused, Seq(col("query_id")), Seq(col("rrf_fp").desc, col("doc_id")), 10, "rnk")
  }

  /** The SERVED IVF hybrid composition (round-10 verdict #2): the dense
    * list comes from the stored coarse quantizer ([[Ivf.topK]], corpus-
    * adaptive k — 16 cells at fixture scale — nprobe=4, the q_sim_ivf
    * serving recipe) instead of the
    * brute-force scan, then the identical RRF fusion. Returns the fused
    * top-10 plus the scored dense candidate relation (probes ⋈ index on
    * bucket) so the registered gate — and PlanAuditSpec — can bound the
    * candidate volume. Exposed package-private for the plan audit: the
    * served plan must never contain a corpus-wide cross join on the
    * dense side.
    */
  private[graft] def hybridServedIvf(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val emb = Tables(s, d, "embeddings")
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
    val centroids = Ivf.trainSharedAdaptive(s, d)
    val indexed = Ivf.index(emb, centroids)
    val np = Ivf.adaptiveNprobe(4, centroids.size) // = 4 at both gate tiers
    val cand = Ivf.probeCells(q, centroids, np)
      .join(indexed, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
    val dense = Ivf.topK(q, indexed, centroids, k = 20, nprobe = np)
      .select(
        col("q_id").cast("int").as("query_id"),
        col("n_id").as("doc_id"),
        col("rank").as("drnk"))
    // sparse side from the stored postings artifact (round 15): the
    // served hybrid now reads stored artifacts on BOTH engines — IVF
    // quantizer + index on the dense side, Bm25Index postings on the
    // sparse side — the same integers as sparseTop (shared bm25Chain),
    // so the fused board and its oracle are unchanged.
    (rrfFuse(sparseTopServed(s, d, 20), dense), cand)
  }

  /** [[bm25Scores]] served from the stored [[Bm25Index]] artifact —
    * same (query_id, doc_id, score_fp) integers via the shared
    * [[bm25Chain]], zero corpus scans in the plan.
    */
  private def bm25ServedScores(s: org.apache.spark.sql.SparkSession, d: String) = {
    val ix = bm25IndexShared(s, d)
    bm25Chain(
      ix.postings
        .join(broadcast(queryTerms(s)), Seq("term"))
        .join(ix.dfRel, Seq("term"))
        .join(ix.docLens, Seq("doc_id"))
        .withColumn("n", lit(ix.nDocs))
        .withColumn("total_tok", lit(ix.totalTok)))
  }

  /** [[sparseTop]] on the served scoring path. */
  private def sparseTopServed(s: org.apache.spark.sql.SparkSession, d: String, k: Int) = {
    TopKPerKey.topK(
      bm25ServedScores(s, d), Seq(col("query_id")), Seq(col("score_fp").desc, col("doc_id")), k, "srnk")
      .select(col("query_id"), col("doc_id"), col("srnk"))
  }

  /** DuckDB CTE chain mirroring [[bm25Scores]]: defines toks, q, corpus,
    * dl, tf, dfreq, parts, scored(query_id, doc_id, score_fp).
    */
  private def bm25ScoredSqlFrom(corpusRel: String): String =
    s"toks AS (${tokensSqlFrom(corpusRel)}), " +
      s"q(query_id, term) AS (VALUES $queryTermsValuesSql), " +
      "corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
      s"CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tok FROM $corpusRel), " +
      s"dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM $corpusRel), " +
      "tf AS (SELECT query_id, term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf " +
      "FROM toks JOIN q USING (term) GROUP BY query_id, term, doc_id), " +
      "dfreq AS (SELECT query_id, term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df " +
      "FROM tf GROUP BY query_id, term), " +
      "parts AS (SELECT tf.query_id, tf.doc_id, " +
      "((((2 * n - 2 * df + 1) * 1000000) // (2 * df + 1)) * " +
      "((tf * 2200 * 1000000) // (tf * 1000 + (12 * (250 + (750 * (dl * n * 1000 // total_tok)) // 1000)) // 10))) // 1000000 AS s_fp " +
      "FROM tf JOIN dfreq USING (query_id, term) JOIN dl USING (doc_id) CROSS JOIN corpus), " +
      "scored AS (SELECT query_id, doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp " +
      "FROM parts GROUP BY query_id, doc_id)"

  private val bm25ScoredSql = bm25ScoredSqlFrom("documents")

  /** ONE oracle string for q_bm25 AND q_bm25_served — the served form
    * must hash to the same board as the build+score form, which makes
    * the shared oracle itself the build-vs-serve differential.
    */
  private val bm25Top5Sql: String =
    s"WITH $bm25ScoredSql, " +
      "r AS (SELECT query_id, doc_id, score_fp, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS INT) AS rnk FROM scored) " +
      "SELECT query_id, doc_id, score_fp, rnk FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"

  /** (doc_id, pos, term, tv, tn2) token-vector relation for the
    * late-interaction family (first 8 tokens per doc): one 16-dim vector
    * PER TOKEN, derived deterministically from the token's characters —
    * char-polynomial hash h = fold(31·h + code) mod 2^20 (seed 7),
    * expanded to dims by exact integer arithmetic (v_0 = h mod 997 + 1,
    * so the norm is provably nonzero; v_j = (h·(2j+3) + 7919·j) mod 1999
    * − 999). Every fold stays far under 2^53, so DuckDB computes the
    * IDENTICAL embedding ([[lateTokenSql]]) and the family is a full
    * cross-engine differential — unlike the xxhash-based dedup gates.
    */
  private[graft] def tokenVecs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      // term <> '': an empty token (consecutive spaces) would make
      // Spark's sequence(1, 0) auto-DESCEND to [1, 0] (h ≠ 7) while
      // DuckDB's range(1, 1) is empty (h = 7) — the one input where the
      // cross-engine embedding recipe silently diverges. Filter it in
      // BOTH engines ([[lateTokenSql]] carries the matching predicate).
      .filter(col("pos") < 8 && col("term") =!= "")
      .withColumn("h", expr(
        "aggregate(transform(sequence(1, length(term)), i -> CAST(ascii(substring(term, i, 1)) AS BIGINT)), " +
          "CAST(7 AS BIGINT), (h, c) -> (h * 31 + c) % 1048576)"))
      .withColumn("tv", expr(
        "transform(sequence(0, 15), j -> CAST(CASE WHEN j = 0 THEN h % 997 + 1 " +
          "ELSE (h * (2 * CAST(j AS BIGINT) + 3) + 7919 * CAST(j AS BIGINT)) % 1999 - 999 END AS DOUBLE))"))
      .withColumn("tn2", Similarity.dot(col("tv"), col("tv")))

  /** The token-vector PQ codebooks for the compressed late-interaction
    * path, a stored artifact ([[Pq.shared]], keyed on the documents
    * table's content fingerprint + every hyperparameter): the ColBERTv2
    * production lifecycle, where codebooks
    * are a stored artifact trained out-of-band and serving queries only
    * score against them. First call in a JVM trains (deterministic — same
    * init picks, tie-breaks, empty-bucket rule); every later call (other
    * registered queries, bench re-passes) serves the cached books.
    * Public so the bench can time the training step SEPARATELY from the
    * serving cost it dominates (round-14 verdict #2).
    */
  def pqTokenBooks(s: SparkSession, d: String): Seq[Seq[Seq[Double]]] =
    Pq.shared(s, ArtifactStore.corpusKey(d, "documents", "tokens|m=4|k=16|iters=6")) {
      val vecs = tokenVecs(Tables(s, d, "documents"))
      Pq.train(
        s, vecs.select(col("h").as("vec_id"), col("tv").as("embedding")).distinct(),
        m = 4, k = 16, iters = 6)
    }

  /** The STORED CODES table for the compressed late-interaction path —
    * the other half of the index-build artifact ([[pqTokenBooks]] is the
    * codebooks): (vec_id = doc_id·16 + pos, m, code), materialized once
    * per corpus via [[ArtifactStore.sharedDf]]. This is the ColBERTv2
    * layout fact that round 15's stage probe made unavoidable: per-corpus-token PQ
    * assignment was 10.6 s of the 14.4 s query — 70% of "serving" was
    * re-building the index every run. Production writes the codes at
    * ingest; serving scans them.
    */
  def pqTokenCodes(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    ArtifactStore.sharedDf(s, ArtifactStore.corpusKey(d, "documents", "tokens-codes|m=4|k=16|iters=6")) {
      val vecs = tokenVecs(Tables(s, d, "documents"))
      Pq.encode(
        vecs.select((col("doc_id") * 16 + col("pos")).as("vec_id"), col("tv").as("embedding")),
        pqTokenBooks(s, d))
        .select(col("vec_id"), col("m"), col("code"))
        .localCheckpoint(true)
    }

  /** The WIDE stored-codes artifact for ADC serving — one row per doc
    * token: (vec_id, c0..c3, rn2), where rn2 = ‖reconstruction‖² =
    * Σ_j ‖book_j[c_j]‖² is computed at ENCODE time and stored (the
    * ColBERTv2/FAISS layout fact: serving never touches floats, so the
    * norm the cosine needs must ride with the codes). Derived from the
    * long codes artifact + the codebooks via one pivot — registered in
    * its own [[ArtifactStore.sharedDf]] slot, so a cold JVM loads it from
    * disk and a serving query's only corpus-wide scan is this relation.
    */
  def pqTokenCodesWide(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    ArtifactStore.sharedDf(s, ArtifactStore.corpusKey(d, "documents", "tokens-codes-wide|m=4|k=16|iters=6")) {
      val books = pqTokenBooks(s, d)
      // per-(subspace, entry) squared norms as a literal lookup table
      val n2Lit = array(books.map(cb =>
        array(cb.map(c => lit(c.map(x => x * x).sum)): _*)): _*)
      pqTokenCodes(s, d)
        .groupBy(col("vec_id"))
        .pivot("m", Seq(0, 1, 2, 3))
        .agg(first(col("code")))
        .select(
          col("vec_id"),
          col("0").cast("int").as("c0"), col("1").cast("int").as("c1"),
          col("2").cast("int").as("c2"), col("3").cast("int").as("c3"))
        .withColumn(
          "rn2",
          element_at(element_at(n2Lit, 1), col("c0") + 1) +
            element_at(element_at(n2Lit, 2), col("c1") + 1) +
            element_at(element_at(n2Lit, 3), col("c2") + 1) +
            element_at(element_at(n2Lit, 4), col("c3") + 1))
        .localCheckpoint(true)
    }

  // ---- the late-interaction (ColBERT maxsim) stages, each written once;
  // every query of the family and latePruned compose them ----

  /** The query tokens of the family over a [[tokenVecs]] relation: the
    * first 4 token positions of docs 0-2.
    */
  private def queryTokens(vecs: DataFrame): DataFrame =
    vecs.filter(col("doc_id") < 3 && col("pos") < 4)

  /** [[queryTokens]] as the scorer's query leg (q_id, qi, qv, qn2). */
  private def queryVecs(vecs: DataFrame): DataFrame =
    queryTokens(vecs).select(col("doc_id").as("q_id"), col("pos").as("qi"),
      col("tv").as("qv"), col("tn2").as("qn2"))

  /** The scorer's document leg (n_id, cv, cn2): every token of every doc. */
  private def docVecs(vecs: DataFrame): DataFrame =
    vecs.select(col("doc_id").as("n_id"), col("tv").as("cv"), col("tn2").as("cn2"))

  /** The served candidates: every (q_id, n_id ≠ q_id) whose doc shares at
    * least one term with the query's [[queryTokens]].
    */
  private def termCandidates(vecs: DataFrame): DataFrame =
    queryTokens(vecs).select(col("doc_id").as("q_id"), col("term")).distinct()
      .join(vecs.select(col("doc_id").as("n_id"), col("term")), Seq("term"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()

  /** The per-token max sum Σ_{j=0..3} max(x | qi = j), an aggregate over
    * the per-token rows of one (q_id, n_id) group. max over the raw rows
    * IS the per-position max, so one aggregation suffices. The sum is
    * pinned as m0+m1+m2+m3, so the double result is bit-equal to the
    * DuckDB oracle's. An absent position (a query doc with fewer than 4
    * tokens) adds 0: a null would null the whole sum.
    */
  private[ext] def perTokenMaxSum(x: Column): Column =
    coalesce(max(when(col("qi") === 0, x)), lit(0.0)) +
      coalesce(max(when(col("qi") === 1, x)), lit(0.0)) +
      coalesce(max(when(col("qi") === 2, x)), lit(0.0)) +
      coalesce(max(when(col("qi") === 3, x)), lit(0.0))

  /** ColBERT maxsim over a token-pair relation (q_id, n_id, qi, qv, qn2,
    * cv, cn2), one row per (query token, doc token): each pair's cosine,
    * then [[perTokenMaxSum]] per (q_id, n_id). Returns (q_id, n_id,
    * li_score); the caller's join decides which pairs are scored.
    */
  private[ext] def maxsim(tokenPairs: DataFrame): DataFrame =
    tokenPairs
      .select(
        col("q_id"), col("n_id"), col("qi"),
        (Similarity.dot(col("qv"), col("cv")) /
          (sqrt(col("qn2")) * sqrt(col("cn2")))).as("sim"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(perTokenMaxSum(col("sim")).as("li_score"))

  /** Exact maxsim scores (q_id, n_id, li_score) of a (q_id, n_id)
    * candidate relation over the [[tokenVecs]] corpus.
    */
  private[ext] def maxsimOver(vecs: DataFrame, pairs: DataFrame): DataFrame =
    maxsimOverQ(queryVecs(vecs), vecs, pairs)

  /** [[maxsimOver]] with an explicit query leg (q_id, qi, qv, qn2), for
    * callers that already hold the ≤12 query-token rows
    * (q_late_interaction_pq collects them for its ADC tables): feeding
    * them back as a literal relation saves one corpus scan per scoring
    * stage.
    */
  private[ext] def maxsimOverQ(q: DataFrame, vecs: DataFrame, pairs: DataFrame): DataFrame =
    maxsim(pairs.join(q, Seq("q_id")).join(docVecs(vecs), Seq("n_id")))

  /** DuckDB mirror of [[maxsimOver]]: emits `<p>sims`/`<p>ms`/`<p>scored`
    * CTEs scoring the (q_id, n_id) relation `candRel`; expects `tn`.
    */
  private def maxsimSqlFrom(candRel: String, p: String): String =
    s"${p}sims AS (SELECT $candRel.q_id, $candRel.n_id, q.pos AS qi, " +
      "list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)) AS sim " +
      s"FROM $candRel JOIN tn q ON q.doc_id = $candRel.q_id AND q.pos < 4 " +
      s"JOIN tn c ON c.doc_id = $candRel.n_id), " +
      s"${p}ms AS (SELECT q_id, n_id, qi, MAX(sim) AS ms FROM ${p}sims GROUP BY q_id, n_id, qi), " +
      s"${p}scored AS (SELECT q_id, n_id, " +
      "COALESCE(MAX(CASE WHEN qi = 0 THEN ms END), 0) + COALESCE(MAX(CASE WHEN qi = 1 THEN ms END), 0) + " +
      "COALESCE(MAX(CASE WHEN qi = 2 THEN ms END), 0) + COALESCE(MAX(CASE WHEN qi = 3 THEN ms END), 0) AS li_score " +
      s"FROM ${p}ms GROUP BY q_id, n_id)"

  /** The safe-pruned late-interaction pipeline over a (doc_id, pos,
    * term, tv, tn2) token-vector relation — factored out of
    * q_late_interaction_pruned so SearchSpec can drive it over a
    * PLANTED clustered corpus (where the cone bounds actually bite)
    * as well as the registered fixture form. See the query comment
    * for the bound math and the isotropy finding.
    */
  private[ext] def latePruned(
      vecsIn: org.apache.spark.sql.DataFrame,
      seedWidth: Int = 32): org.apache.spark.sql.DataFrame = {
      // the token-vector relation feeds the cell table, doc-cell map,
      // query legs, and both exact-scoring stages — materialize it once
      // (round 21; the same multiply-consumed-relation rule the bound
      // pipeline below already applies). A within-query materialization,
      // so a raw localCheckpoint, not Ckpt.truncate: the checkpoint rule
      // in graft.core.Ckpt's scaladoc.
      val vecs = vecsIn.localCheckpoint(true)
      val cellOf = expr(
        "CAST(element_at(tv, 2) > 0 AS INT) + 2 * CAST(element_at(tv, 3) > 0 AS INT) + " +
          "4 * CAST(element_at(tv, 4) > 0 AS INT) + 8 * CAST(element_at(tv, 5) > 0 AS INT) + " +
          "16 * CAST(element_at(tv, 6) > 0 AS INT)")
      val terms = vecs.select(col("term"), col("tv"), col("tn2")).distinct()
        .withColumn("cell", cellOf)
      val cent = terms
        .select(col("cell"), posexplode(col("tv")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("x").cast("long")) / count(lit(1))).as("m"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))), e => e("m")).as("cent"))
      val cellRad = terms.join(cent, Seq("cell"))
        .select(col("cell"),
          (Similarity.dot(col("cent"), col("tv")) /
            (sqrt(Similarity.dot(col("cent"), col("cent"))) * sqrt(col("tn2")))).as("cm"))
        .groupBy(col("cell")).agg(min(col("cm")).as("b"))
      val docCells = vecs.withColumn("cell", cellOf)
        .select(col("doc_id").as("n_id"), col("cell")).distinct()
      val qa = queryVecs(vecs).crossJoin(broadcast(cent.join(cellRad, Seq("cell"))))
        .select(col("q_id"), col("qi"), col("cell"), col("b"),
          (Similarity.dot(col("qv"), col("cent")) /
            (sqrt(col("qn2")) * sqrt(Similarity.dot(col("cent"), col("cent"))))).as("a"))
      val qcb = qa.select(col("q_id"), col("qi"), col("cell"),
        when(col("a") >= col("b"), lit(1.0))
          .otherwise(col("a") * col("b") +
            sqrt(greatest(lit(1.0) - col("a") * col("a"), lit(0.0))) *
              sqrt(greatest(lit(1.0) - col("b") * col("b"), lit(0.0)))).as("ub"))
      // ubs feeds seed AND escapes, seedScores feeds tau AND the final
      // union, finalScores feeds the count AND the window: checkpoint
      // each multiply-consumed relation once (the PageRank loop-invariant
      // lesson) or the whole bound pipeline re-executes per consumer —
      // measured 8 copies of the cell-cross subtree in the un-cut plan,
      // enforced down to 1 by PlanAuditSpec.
      // A doc's bound sums the per-token max over its cells with the
      // scorer's own [[perTokenMaxSum]]: its coalesce-to-0 keeps a query
      // doc with fewer than 4 tokens from nulling EVERY ub, which would
      // make the escape filter match nothing and silently degrade the
      // "provably exact" top-5 to seed-only.
      val ubs = qcb.join(docCells, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .groupBy(col("q_id"), col("n_id"))
        .agg(perTokenMaxSum(col("ub")).as("ub"))
        .localCheckpoint(true)
      val seed = Similarity.topByScore(ubs, "ub", seedWidth, "rk").select(col("q_id"), col("n_id"))
      val seedScores = maxsimOver(vecs, seed).localCheckpoint(true)
      val tau = seedScores
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("li_score").desc, col("n_id"))))
        .filter(col("rk") === 5)
        .select(col("q_id"), col("li_score").as("tau"))
      val escapes = ubs
        .join(seed, Seq("q_id", "n_id"), "left_anti")
        .join(tau, Seq("q_id"))
        .filter(col("ub") >= col("tau") - lit(1e-9))
        .select(col("q_id"), col("n_id"))
      val finalScores = seedScores.unionByName(maxsimOver(vecs, escapes)).localCheckpoint(true)
      val nScored = finalScores.groupBy(col("q_id")).agg(count(lit(1)).as("n_scored"))
      Similarity.topByScore(finalScores, "li_score", 5)
        .join(nScored, Seq("q_id"))
        .select(col("q_id"), col("rank"), col("n_id"), col("li_score"), col("n_scored"))
        .orderBy("q_id", "rank")
  }

  /** DuckDB CTE chain (th → tvec → tn) mirroring [[tokenVecs]]; expects a
    * `toks` CTE with (doc_id, term, pos).
    */
  private val lateTokenSql =
    "th AS (SELECT doc_id, pos, term, " +
      "list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      "list_transform(range(1, CAST(len(term) AS BIGINT) + 1), " +
      "i -> CAST(ascii(substring(term, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(h, c) -> (h * 31 + c) % 1048576) AS h FROM toks WHERE pos < 8 AND term <> ''), " +
      "tvec AS (SELECT doc_id, pos, term, list_transform(range(0, 16), " +
      "j -> CAST(CASE WHEN j = 0 THEN h % 997 + 1 " +
      "ELSE (h * (2 * j + 3) + 7919 * j) % 1999 - 999 END AS DOUBLE)) AS v FROM th), " +
      "tn AS (SELECT doc_id, pos, term, v, list_dot_product(v, v) AS n2 FROM tvec)"

  val queries: Seq[Q] = Seq(
    Q(
      "q_inverted_index",
      // Inverted-index construction: term → (df, total_tf, positional
      // postings digest). Postings are per-doc ascending position lists,
      // doc-id-ordered within the term — the exact serialized form a
      // search shard consumes. The full list is verified by md5 of the
      // canonical string (doc:p1,p2|doc:p1…) rather than shipped as a
      // giant row: frequent terms on this 31-word vocab have postings
      // spanning most of the corpus, and a bounded digest row is what
      // keeps the OUTPUT size O(vocab) while still differentially
      // checking every position against the oracle. Plan: one explode →
      // (term, doc) agg → term agg, two hash exchanges, both keyed on
      // high-cardinality columns. At 100 TB the term key is the skew
      // axis (stopwords): the production layout shards postings by
      // (term, doc_id div B) segment — same plan with a composite key —
      // and df/total_tf merge associatively across segments.
      (s, d) =>
        digest(segment(perDocPostings(Tables(s, d, "documents"))))
          .orderBy("term"),
      Some(
        s"WITH toks AS ($tokensSql), " +
          "pd AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf, " +
          "string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS plist FROM toks GROUP BY term, doc_id) " +
          "SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf, " +
          "md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || plist, '|' ORDER BY doc_id)) AS postings_md5 " +
          "FROM pd GROUP BY term ORDER BY term")
    ),
    Q(
      "q_phrase_search",
      // Positional phrase query ("value table") answered TWO independent
      // ways in the same plan: (a) postings intersection — positions of
      // t1 equi-joined to positions of t2 on (doc, pos+1), the way an
      // index serves phrases without touching documents; (b) a direct
      // padded-substring scan. The oracle recomputes both in DuckDB, so
      // the cross-engine hash checks each method, and the in-row `agree`
      // column is the invariant binding them (a positional miss or a
      // false hit flips it). Scale: method (a) reads ONLY the two terms'
      // postings (work ∝ df, not corpus) and its join key (doc, pos) is
      // near-unique — the plan a 100 TB phrase query wants; the scan
      // method is the O(corpus) baseline it replaces.
      (s, d) => phraseQuery(Tables(s, d, "documents"), Seq("value", "table")),
      Some(phraseSql(Seq("value", "table")))
    ),
    Q(
      "q_phrase_search3",
      // The k-term generalization of q_phrase_search (round-10 verdict
      // #4): a 3-term phrase answered by the k-way positional
      // intersection — every term's postings normalized to the phrase
      // start and equi-joined, the chain driven from the min-df term —
      // against the O(corpus) padded-substring scan, bound by the same
      // in-row `agree` invariant and the same dual-method DuckDB
      // re-derivation. One phraseQuery/phraseSql pair generates both
      // engines' plans from the same term Seq for ANY k.
      (s, d) => phraseQuery(Tables(s, d, "documents"), Seq("window", "fast", "query")),
      Some(phraseSql(Seq("window", "fast", "query")))
    ),
    Q(
      "q_index_incremental",
      // Incremental inverted-index maintenance — the third leg of the
      // incremental trilogy (LSH: q_dedup_incremental, IVF:
      // q_sim_ivf_incremental, postings: here). The corpus is split into
      // a base segment (9/10 of docs) and a delta batch (every tenth
      // doc); each builds its term-level segment INDEPENDENTLY (the
      // production shape: the stored index never re-reads base tokens),
      // then the segments merge associatively — df and total_tf add,
      // doc-disjoint entry arrays concatenate and re-order. The emitted
      // index IS the merged one, and the oracle recomputes a from-scratch
      // rebuild: the row hash equality is the merge≡rebuild gate, with
      // the in-plan differential vs an in-plan full rebuild as the
      // matches_rebuild column (a full-outer join so a term dropped or
      // invented by the merge reads false, not absent). Scale: per-term
      // merge work is ∝ the term's delta postings once base entry arrays
      // are stored sorted (concat + merge instead of the fixture-scale
      // re-sort); the (term, doc_id div B) composite segment key from
      // q_inverted_index's scale note shards the stopword axis the same
      // way for both build and merge.
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val base = segment(perDocPostings(docs.filter(col("doc_id") % 10 =!= 0)))
        val delta = segment(perDocPostings(docs.filter(col("doc_id") % 10 === 0)))
        val merged = digest(
          base.unionByName(delta)
            .groupBy(col("term"))
            .agg(
              sum(col("df")).as("df"),
              sum(col("total_tf")).as("total_tf"),
              array_sort(flatten(collect_list(col("earr")))).as("earr")))
        val full = digest(segment(perDocPostings(docs)))
          .select(
            col("term"), col("df").as("f_df"), col("total_tf").as("f_tf"),
            col("postings_md5").as("f_md5"))
        merged
          .join(full, Seq("term"), "full")
          .select(
            col("term"), col("df"), col("total_tf"), col("postings_md5"),
            coalesce(
              col("df") === col("f_df") && col("total_tf") === col("f_tf") &&
                col("postings_md5") === col("f_md5"),
              lit(false)).as("matches_rebuild"))
          .orderBy("term")
      },
      Some(
        s"WITH toks AS ($tokensSql), " +
          "pd AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf, " +
          "string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS plist FROM toks GROUP BY term, doc_id) " +
          "SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf, " +
          "md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || plist, '|' ORDER BY doc_id)) AS postings_md5, " +
          "true AS matches_rebuild " +
          "FROM pd GROUP BY term ORDER BY term")
    ),
    Q(
      "q_bm25",
      // BM25 ranked retrieval for a fixed 3-query workload, top-5 docs
      // per query. The scoring chain is EXACT INTEGER fixed-point
      // (milli/micro units, explicit div) so both engines compute
      // bit-identical BIGINT scores: idf uses the raw Robertson ratio
      // (N-df+.5)/(df+.5) WITHOUT the log wrapper (ln() differs in the
      // last bit across runtimes; the ratio is monotone in the same
      // direction so ranking semantics survive — divergence documented),
      // and the tf saturation k1=1.2, b=0.75 is carried as integers
      // (2200, 250/750 milli). Per-term partial scores are summed by an
      // integer groupBy — order-independent, unlike float sums. Plan:
      // the tf relation is filtered to the 6 query terms BEFORE any
      // join (work ∝ query postings), doc lengths join broadcast from a
      // 1-row corpus aggregate, and the per-query top-5 is the
      // row_number()<=k shape TopKRewrite lifts into the bounded-heap
      // TopKPerKey operator — k·queries rows cross the final exchange.
      (s, d) => {
        val scored = bm25Scores(s, Tables(s, d, "documents"))
        TopKPerKey.topK(scored, Seq(col("query_id")), Seq(col("score_fp").desc, col("doc_id")), 5, "rnk")
          .orderBy("query_id", "rnk")
      },
      Some(bm25Top5Sql)
    ),
    Q(
      "q_bm25_served",
      // q_bm25's SERVING lifecycle: identical output, but the scoring
      // plan reads the STORED [[Bm25Index]] artifact (postings, df,
      // doc lengths, corpus scalars — what q_inverted_index builds,
      // held in the fingerprint-keyed registry) instead of the corpus:
      // PlanAuditSpec asserts the plan contains ZERO parquet scans.
      // The fixed-point arithmetic is [[bm25Chain]], shared verbatim
      // with q_bm25, and the ORACLE STRING is the same val — the two
      // queries must hash to the same board, which is itself the
      // build-vs-serve differential (a stale or mis-keyed artifact
      // breaks the hash). Work ∝ the query terms' postings — the
      // inverted-index serving bound; at 100 TB the postings artifact
      // is term-sharded storage and this plan never touches documents.
      (s, d) => {
        TopKPerKey.topK(
          bm25ServedScores(s, d), Seq(col("query_id")), Seq(col("score_fp").desc, col("doc_id")), 5, "rnk")
          .orderBy("query_id", "rnk")
      },
      Some(bm25Top5Sql)
    ),
    Q(
      "q_hybrid_search",
      // Hybrid retrieval: reciprocal-rank fusion (Cormack/Clarke/Büttcher
      // 2009) of a SPARSE list (the exact-integer BM25 chain above,
      // top-20 per query) and a DENSE list (exact brute-force cosine
      // top-20 over `embeddings`, the q_sim_bruteforce machinery — the
      // fixture's doc_id and vec_id share one id space, so query_id n's
      // dense query is vector n). RRF only consumes RANKS, never raw
      // scores, which is exactly why it's the production fusion choice —
      // no cross-modality score calibration — and why it is fully
      // cross-engine exact here: rrf_fp = Σ_lists 1e6 div (60 + rank) is
      // pure integer arithmetic (the float cosines only ever ORDER the
      // dense list, and ordering is bit-stable: sequential-fold doubles
      // tie-broken by id). Plan shape: both lists end in the
      // row_number()<=k TopKRewrite shape, the fusion is a tiny full
      // outer join on (query_id, doc_id) — 2·k·queries rows — and the
      // final top-10 is again bounded-heap. At 100 TB the two list
      // engines scale independently (postings shuffle / IVF cells); the
      // fusion stage stays k-bounded regardless of corpus size.
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val emb = Tables(s, d, "embeddings")
        val dense = Similarity
          .bruteForceTopK(emb.filter(col("vec_id").isin(queryIds: _*)), emb, 20)
          .select(
            col("q_id").cast("int").as("query_id"),
            col("n_id").as("doc_id"),
            col("rank").as("drnk"))
        rrfFuse(sparseTop(s, docs, 20), dense).orderBy("query_id", "rnk")
      },
      Some(
        s"WITH $bm25ScoredSql, " +
          "sparse AS (SELECT query_id, doc_id, srnk FROM " +
          "(SELECT query_id, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS INT) AS srnk FROM scored) " +
          "WHERE srnk <= 20), " +
          s"dq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id IN $queryIdsInSql), " +
          "dc AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
          "ds AS (SELECT q_id, n_id, list_dot_product(qv, cv) / " +
          "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos " +
          "FROM dq CROSS JOIN dc WHERE q_id <> n_id), " +
          "dense AS (SELECT CAST(q_id AS INTEGER) AS query_id, n_id AS doc_id, drnk FROM " +
          "(SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS drnk FROM ds) " +
          "WHERE drnk <= 20), " +
          "fused AS (SELECT COALESCE(s.query_id, den.query_id) AS query_id, " +
          "COALESCE(s.doc_id, den.doc_id) AS doc_id, " +
          "CAST(COALESCE(1000000 // (60 + s.srnk), 0) + COALESCE(1000000 // (60 + den.drnk), 0) AS BIGINT) AS rrf_fp, " +
          "COALESCE(s.srnk, 0) AS sparse_rank, COALESCE(den.drnk, 0) AS dense_rank " +
          "FROM sparse s FULL JOIN dense den ON s.query_id = den.query_id AND s.doc_id = den.doc_id), " +
          "fr AS (SELECT query_id, doc_id, rrf_fp, sparse_rank, dense_rank, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_fp DESC, doc_id) AS INT) AS rnk FROM fused) " +
          "SELECT query_id, doc_id, rrf_fp, sparse_rank, dense_rank, rnk FROM fr WHERE rnk <= 10 ORDER BY query_id, rnk")
    ),
    Q(
      "q_hybrid_search_ivf",
      // The hybrid pipeline on its PRODUCTION dense engine: IVF-served
      // candidates (stored coarse quantizer, nprobe-bounded probes —
      // q_hybrid_search's scale note, executed) fused by the identical
      // RRF stage. Cell assignment is float/partition-order specific, so
      // the gated output is the recall of the fused top-10 vs the
      // exact-dense fusion computed in-plan (floor 0.5 — the sparse list
      // is shared, so fusion overlap sits well above the raw dense
      // recall) PLUS the nprobe/k-PROPORTIONAL candidate ceiling
      // (Ivf.poolCeilingFrac — 0.375·n_docs·n_queries at the fixture's
      // k=16, tightening with k at scale), while the brute-force dense
      // scan is n_docs·n_queries by definition
      // (balanced cells give nprobe/k = 1/4 of the corpus per query ≈ 0.25). The exact
      // fusion side is gate-scale-only (it IS the oracle); the served
      // composition is hybridServedIvf, plan-audited to contain no
      // corpus-wide cross join on the dense side (PlanAuditSpec).
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val docs = Tables(s, d, "documents")
        val (fusedIvf, cand) = hybridServedIvf(s, d)
        val denseExact = Similarity
          .bruteForceTopK(emb.filter(col("vec_id").isin(queryIds: _*)), emb, 20)
          .select(
            col("q_id").cast("int").as("query_id"),
            col("n_id").as("doc_id"),
            col("rank").as("drnk"))
        val fusedExact = rrfFuse(sparseTop(s, docs, 20), denseExact)
        val recall = Gate.recallFold(
          fusedExact.select(col("query_id"), col("doc_id")),
          fusedIvf.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"), 0.5,
          countDistinct(col("query_id")), "n_queries")
        val k = Ivf.adaptiveK(s, d)
        Gate.withCounts(recall, "__n_cand" -> cand, "__n_docs" -> emb)
          .select(
            col("n_queries"),
            col("recall_ge_floor"),
            Gate.ceiling(
              col("__n_cand"), Ivf.poolCeilingFrac(k, Ivf.adaptiveNprobe(4, k)),
              col("n_queries"), col("__n_docs"))
              .as("candidates_subquadratic"))
      },
      // The oracle re-derives ONLY n_queries (from the same queryIds set
      // both engines share); the two booleans are DELIBERATELY not
      // re-derived — IVF cell assignment is float/partition-order
      // specific, so recall and the candidate ceiling are Spark-side
      // gates by the stated gate-scale-only convention (the exact-fusion
      // truth they compare against is computed in-plan).
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor, " +
          s"true AS candidates_subquadratic FROM embeddings WHERE vec_id IN $queryIdsInSql")
    ),
    Q(
      "q_hybrid_search_graph",
      // The hybrid pipeline on its SECOND dense engine: the dense list
      // comes from the graph-routed beam walk (q_sim_graph_routed's
      // stored navigable graph — no quantizer, no cells) and fuses
      // through the IDENTICAL rrfFuse stage with the stored-postings
      // sparse side. The two ANN paradigms trade differently at scale —
      // IVF's candidate volume is (nprobe/k)·corpus per query, the
      // walk's is a CONSTANT 440 per query regardless of corpus size —
      // and hybrid retrieval must compose with either, which is what
      // this query pins: rank-only fusion is agnostic to the candidate
      // engine. Walk output is float/entry-point specific, so the gated
      // output is the q_hybrid_search_ivf convention — fused-top-10
      // overlap vs the exact-dense fusion computed in-plan (floor 0.5;
      // the sparse list is shared, so fusion overlap sits well above
      // raw walk recall) plus the graph family's corpus-size-free
      // candidate bound in place of IVF's subquadratic ceiling.
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val docs = Tables(s, d, "documents")
        val isQuery = col("vec_id").isin(queryIds: _*)
        val graph = SimilarityQueries.navGraphShared(s, d)
        // the graph family's hierarchical serving default (round-18):
        // waypoint seeds, 3 hops, 440-candidate bound
        val (_, visited) =
          SimilarityQueries.hierRoutedOver(s, d, emb, emb.filter(isQuery), graph)
        val denseWalk = Similarity.topByScore(visited, "cos", 20, "drnk")
          .select(
            col("q_id").cast("int").as("query_id"),
            col("n_id").as("doc_id"),
            col("drnk"))
        val fusedWalk = rrfFuse(sparseTopServed(s, d, 20), denseWalk)
        val denseExact = Similarity
          .bruteForceTopK(emb.filter(isQuery), emb, 20)
          .select(
            col("q_id").cast("int").as("query_id"),
            col("n_id").as("doc_id"),
            col("rank").as("drnk"))
        val fusedExact = rrfFuse(sparseTop(s, docs, 20), denseExact)
        val recall = Gate.recallFold(
          fusedExact.select(col("query_id"), col("doc_id")),
          fusedWalk.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"), 0.5,
          countDistinct(col("query_id")), "n_queries")
        Gate.withCounts(recall, "__n_scored" -> visited)
          .select(
            col("n_queries"),
            col("recall_ge_floor"),
            (col("__n_scored") <= col("n_queries") * lit(SimilarityQueries.ServeBound))
              .as("candidates_bounded"))
      },
      // Same oracle convention as q_hybrid_search_ivf: n_queries is the
      // real differential; the walk-dependent booleans are Spark-side
      // gates against the in-plan exact-fusion truth.
      Some(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ge_floor, " +
          s"true AS candidates_bounded FROM embeddings WHERE vec_id IN $queryIdsInSql")
    ),
    Q(
      "q_sparse_cosine",
      // Sparse TF-IDF cosine kNN via CHAMPION LISTS — the sparse
      // counterpart of the dense ANN family (q_dedup_embed finds
      // embedding near-dups; this finds keyword-similar docs with no
      // embeddings at all). Each doc is reduced to its top-5 TF-IDF
      // SIGNATURE terms (exact-integer weights, the q_tfidf recipe).
      // A naive term-keyed signature self-join has candidate volume
      // Σ_t sigdf(t)² — data-dependent and quadratic on term-frequent
      // corpora (measured 46 s at sf0.1 on the 31-word-vocab fixture:
      // the same blowup the round-8 verdict flagged on the prefix-gram
      // family). The guard here is the classical IR accelerator for
      // top-k sparse retrieval (champion lists / top-doc lists —
      // Manning/Raghavan/Schütze, IIR §7.1.3): each term indexes only
      // its top-C=64 docs by weight, probes post their full signature.
      // Candidate volume is Σ_t sigdf(t)·min(sigdf(t), C) ≤ C·M·n —
      // LINEAR in the corpus BY CONSTRUCTION, independent of term
      // frequencies (no pooled fallback needed, unlike the thresholded
      // prefix family: top-k has no τ to prune with, so the bound has
      // to come from the index side). The trade is approximation: a
      // true neighbor can hide below C champions of every shared term;
      // the contract (champion candidates → EXACT cosine over full
      // signatures → top-3) is mirrored verbatim in the oracle, so the
      // hash checks every emitted value, and SearchSpec measures recall
      // vs the exact all-pairs top-3 (the adversarial-vocab worst
      // case). Dot products are integer sums (order-independent); the
      // only floats are one sqrt·mul·div chain per pair — each
      // IEEE-exact in both engines, so even the DOUBLE column
      // hash-matches. Both top-k stages (champions per term, neighbors
      // per doc) are the row_number()<=k shape TopKRewrite lifts into
      // the bounded-heap TopKPerKey operator. Lifecycle: the
      // signature/champion index is the STORED ARTIFACT (an IR system
      // writes it at ingest) served from [[sparseIndexShared]] — the
      // same train-once/serve-many registry discipline as the PQ
      // codebooks/codes; the oracle still recomputes the whole chain
      // from the raw corpus, so the differential covers build AND
      // serve every run.
      (s, d) => championServe(sparseIndexShared(s, d)),
      Some(
        s"WITH toks AS ($tokensSql), " +
          "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term), " +
          "dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
          "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents), " +
          "wts AS (SELECT doc_id, term, tf * ((n * 1000000) // df) AS w, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf * ((n * 1000000) // df) DESC, term) AS INT) AS rnk " +
          "FROM tf JOIN dfreq USING (term) CROSS JOIN nn), " +
          "sig AS (SELECT doc_id, term, w FROM wts WHERE rnk <= 5), " +
          "champ AS (SELECT doc_id AS b_id, term FROM " +
          "(SELECT doc_id, term, ROW_NUMBER() OVER (PARTITION BY term ORDER BY w DESC, doc_id) AS crnk FROM sig) " +
          s"WHERE crnk <= $ChampionC), " +
          "cand AS (SELECT DISTINCT s.doc_id AS a_id, c.b_id FROM sig s JOIN champ c " +
          "ON s.term = c.term AND s.doc_id <> c.b_id), " +
          "norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM sig GROUP BY doc_id), " +
          "pairs AS (SELECT cand.a_id, cand.b_id, CAST(SUM(a.w * b.w) AS BIGINT) AS dot " +
          "FROM cand JOIN sig a ON cand.a_id = a.doc_id JOIN sig b ON cand.b_id = b.doc_id AND a.term = b.term " +
          "GROUP BY cand.a_id, cand.b_id), " +
          "cosined AS (SELECT a_id, b_id, " +
          "CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos " +
          "FROM pairs JOIN norms na ON pairs.a_id = na.doc_id JOIN norms nb ON pairs.b_id = nb.doc_id), " +
          "r AS (SELECT a_id, b_id, cos, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS INT) AS rnk FROM cosined) " +
          "SELECT a_id, b_id, cos, rnk FROM r WHERE rnk <= 3 ORDER BY a_id, rnk")
    ),
    Q(
      "q_rag_chunk_search",
      // Chunk-level retrieval — the RAG serving composition: the corpus
      // is re-unitized into overlapping context windows
      // ([[CorpusQueries.chunkCorpus]], the q_chunk_overlap derivation
      // with synthetic chunk ids base·2^20 + idx), the EXACT-integer
      // BM25 chain runs over chunks instead of documents (the q_bm25
      // machinery verbatim — [[bm25Scores]] is corpus-parametric), and
      // the per-query top-5 chunks come back with (doc, chunk)
      // attribution. Retrieval quality is why RAG indexes chunks: a hit
      // localizes WHERE in the document the match lives, and long
      // documents can't drown the length normalization. Plan shape: the
      // chunk explode is a pure generator fused into the scan, then the
      // q_bm25 plan unchanged (token stream filtered to query terms
      // before any join, broadcast corpus stats, TopKPerKey top-5);
      // chunking multiplies the token stream by ~(1 + W/S − 1 overlap)
      // ≈ 1.33, never the corpus row count.
      (s, d) => {
        val chunks = CorpusQueries.chunkCorpus(Tables(s, d, "documents"))
        TopKPerKey.topK(
          bm25Scores(s, chunks), Seq(col("query_id")), Seq(col("score_fp").desc, col("doc_id")), 5, "rnk")
          .select(
            col("query_id"),
            expr(s"doc_id div ${CorpusQueries.ChunkIdStride}").as("doc_id"),
            (col("doc_id") % CorpusQueries.ChunkIdStride).as("chunk_idx"),
            col("score_fp"), col("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some(
        s"WITH chunkdocs AS (${CorpusQueries.chunkCorpusSql}), " +
          bm25ScoredSqlFrom("chunkdocs") + ", " +
          "r AS (SELECT query_id, doc_id, score_fp, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS INT) AS rnk FROM scored) " +
          s"SELECT query_id, doc_id // ${CorpusQueries.ChunkIdStride} AS doc_id, " +
          s"doc_id % ${CorpusQueries.ChunkIdStride} AS chunk_idx, " +
          "score_fp, rnk FROM r WHERE rnk <= 5 ORDER BY query_id, rnk")
    ),
    Q(
      "q_late_interaction_mv",
      // Late interaction over a REAL multi-vector corpus (closing the
      // q_late_interaction open thread, which runs on pseudo-token
      // slices of one embedding): every document token gets its own
      // 16-dim vector, derived deterministically from the token's
      // CHARACTERS by a char-polynomial hash (h = fold(31·h + code) mod
      // 2^20, seed 7) expanded to dims by exact integer arithmetic
      // (v_0 = h mod 997 + 1 — norm provably nonzero; v_j = (h·(2j+3) +
      // 7919·j) mod 1999 − 999). Both engines COMPUTE the embedding —
      // char codes via ascii(substring), folds under 2^53 — so unlike
      // the xxhash-based dedup family this is a full cross-engine
      // differential, not an invariant gate. Query bags = first 4
      // token vectors of docs 0-2; doc bags = first 8; score =
      // ColBERT maxsim (Σ_{q tok} max_{d tok} cos), per-token maxes
      // order-independent, the 4-term sum pinned as m0+..+m3 with
      // COALESCE 0 in both engines. Scale shape: gate-scale scores all
      // q×doc pairs (it IS the oracle); production late-interacts only
      // a first-stage shortlist — per-pair work is |q tok|·|d tok|
      // dots, list-bounded, and the token-vector derivation is a pure
      // per-row projection any shard computes locally.
      (s, d) => {
        val vecs = tokenVecs(Tables(s, d, "documents"))
        Similarity.topByScore(maxsim(queryVecs(vecs).join(docVecs(vecs), col("q_id") =!= col("n_id"))), "li_score", 5)
          .select(col("q_id"), col("rank"), col("n_id"), col("li_score"))
          .orderBy("q_id", "rank")
      },
      Some(
        s"WITH toks AS ($tokensSql), $lateTokenSql, " +
          "sims AS (SELECT q.doc_id AS q_id, c.doc_id AS n_id, q.pos AS qi, " +
          "list_dot_product(q.v, c.v) / (sqrt(q.n2) * sqrt(c.n2)) AS sim " +
          "FROM tn q JOIN tn c ON q.doc_id <> c.doc_id WHERE q.doc_id < 3 AND q.pos < 4), " +
          "ms AS (SELECT q_id, n_id, qi, MAX(sim) AS ms FROM sims GROUP BY q_id, n_id, qi), " +
          "scored AS (SELECT q_id, n_id, " +
          "COALESCE(MAX(CASE WHEN qi = 0 THEN ms END), 0) + COALESCE(MAX(CASE WHEN qi = 1 THEN ms END), 0) + " +
          "COALESCE(MAX(CASE WHEN qi = 2 THEN ms END), 0) + COALESCE(MAX(CASE WHEN qi = 3 THEN ms END), 0) AS li_score " +
          "FROM ms GROUP BY q_id, n_id), " +
          "r AS (SELECT q_id, n_id, li_score, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY li_score DESC, n_id) AS INT) AS rank FROM scored) " +
          "SELECT q_id, rank, n_id, li_score FROM r WHERE rank <= 5 ORDER BY q_id, rank")
    ),
    Q(
      "q_late_interaction_served",
      // The SERVED late-interaction composition (the ColBERT serving
      // shape): candidates come from the INVERTED INDEX — docs sharing at
      // least one of the query's 4 tokens (work ∝ Σ df(term), the same
      // stopword-sharded serving bound as the index family) — and only
      // that shortlist is maxsim-scored, so the tokens² stage never sees
      // the corpus. Both stages are deterministic (term equality + the
      // char-polynomial token vectors), so unlike the invariant-gated ANN
      // family this SERVED path is a FULL cross-engine differential:
      // DuckDB recomputes candidate generation and scoring identically.
      // The contract vs the full scan (q_late_interaction_mv) is measured
      // in SearchSpec — a vector-only match (no shared token) can differ;
      // that is the honest trade of lexical candidate generation, the
      // same one BM25-fed rerankers ship with. Output adds n_cand (the
      // per-query scored-candidate count) so the df-bounded pool size is
      // itself differentially checked.
      (s, d) => {
        val vecs = tokenVecs(Tables(s, d, "documents"))
        val cand = termCandidates(vecs)
        val nCand = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
        Similarity.topByScore(maxsimOver(vecs, cand), "li_score", 5)
          .join(nCand, Seq("q_id"))
          .select(col("q_id"), col("rank"), col("n_id"), col("li_score"), col("n_cand"))
          .orderBy("q_id", "rank")
      },
      Some(
        s"WITH toks AS ($tokensSql), $lateTokenSql, " +
          "qt AS (SELECT DISTINCT doc_id AS q_id, term FROM tn WHERE doc_id < 3 AND pos < 4), " +
          "cand AS (SELECT DISTINCT qt.q_id, tn.doc_id AS n_id FROM qt " +
          "JOIN tn ON tn.term = qt.term WHERE tn.doc_id <> qt.q_id), " +
          "nc AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand GROUP BY q_id), " +
          maxsimSqlFrom("cand", "") + ", " +
          "r AS (SELECT q_id, n_id, li_score, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY li_score DESC, n_id) AS INT) AS rank FROM scored) " +
          "SELECT r.q_id, rank, n_id, li_score, n_cand FROM r JOIN nc ON nc.q_id = r.q_id " +
          "WHERE rank <= 5 ORDER BY r.q_id, rank")
    ),
    Q(
      "q_late_interaction_pruned",
      // SAFE-PRUNED late interaction (the PLAID/ColBERTv2 stage-1 shape,
      // Santhanam et al. 2022, made PROVABLY exact): token vectors are
      // partitioned into 32 cells by the SIGN BITS of dims 2-6 — a
      // deterministic integer rule, which is what lets BOTH engines
      // recompute the whole pruning pipeline bit-identically (a k-means
      // cell map would be float/seed-local). Per cell: an exact-integer
      // centroid (per-dim mean) and the radius as b = min member cosine
      // to it. For a query token with a = cos(q, centroid), the angular
      // triangle inequality gives the SAFE per-cell bound
      //   cos(q, d_tok) ≤ 1                     if a ≥ b (q inside cone)
      //   cos(q, d_tok) ≤ a·b + √(1−a²)·√(1−b²) otherwise
      // (= cos(θ_qc − r_c); no acos anywhere — the bound is pure
      // dot/sqrt arithmetic, so it is cross-engine deterministic). A
      // doc's maxsim upper bound sums the per-token max over ITS cells
      // only (the per-doc cell-presence summary — the PLAID layout).
      // Two-phase serve: SEED = the top-32 docs per query by upper
      // bound, exact-scored; τ = the seed's 5th-best EXACT score; every
      // other doc with ub < τ − 1e-9 is pruned WITHOUT touching its
      // token vectors — provably below the final 5th place, because its
      // true score ≤ ub < τ ≤ the final 5th score. The few escapes
      // (ub ≥ τ) are exact-scored too, so the output top-5 is EXACTLY
      // the full scan's (SearchSpec asserts it), with n_scored — seed +
      // escapes, identical in both engines — as the differential
      // evidence of how much of the corpus the exact stage actually
      // read. At 100 TB the stored side is the per-doc cell bitmap +
      // per-cell (centroid, radius): pruning reads summaries, not
      // embeddings, and the exact stage reads ~seed-width docs.
      //
      // Measured finding (the residual-PQ story repeated): on THIS
      // corpus the bound prunes only ~1-4% (n_scored 478-499 of 499),
      // because char-hash token vectors are ISOTROPIC — true score p50
      // ≈ 2.2 vs τ ≈ 3.5, so a tight bound would prune ~95%, but with
      // no cluster structure the widest cell cones (b down to 0.39)
      // push every doc's ub to ~3.9. PLAID's win assumes token
      // embeddings CLUSTER, which real ones do; SearchSpec plants a
      // clustered token corpus and shows the same machinery pruning
      // hard there. The fixture-scale contract asserted here is
      // EXACTNESS + cross-engine determinism of the whole pipeline,
      // with n_scored as the honest (weak) prune evidence.
      (s, d) => latePruned(tokenVecs(Tables(s, d, "documents"))),
      Some(
        s"WITH toks AS ($tokensSql), $lateTokenSql, " +
          "trm AS (SELECT DISTINCT term, v, n2 FROM tn), " +
          "tc AS (SELECT term, v, n2, CAST(v[2] > 0 AS INT) + 2 * CAST(v[3] > 0 AS INT) + " +
          "4 * CAST(v[4] > 0 AS INT) + 8 * CAST(v[5] > 0 AS INT) + " +
          "16 * CAST(v[6] > 0 AS INT) AS cell FROM trm), " +
          "centd AS (SELECT cell, gs - 1 AS dim, SUM(CAST(x AS BIGINT)) / COUNT(*) AS m FROM " +
          "(SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS gs FROM tc) GROUP BY cell, dim), " +
          "cent AS (SELECT cell, list(m ORDER BY dim) AS cent FROM centd GROUP BY cell), " +
          "crad AS (SELECT tc.cell, MIN(list_dot_product(cent.cent, tc.v) / " +
          "(sqrt(list_dot_product(cent.cent, cent.cent)) * sqrt(tc.n2))) AS b " +
          "FROM tc JOIN cent ON cent.cell = tc.cell GROUP BY tc.cell), " +
          "dc AS (SELECT DISTINCT doc_id AS n_id, CAST(v[2] > 0 AS INT) + 2 * CAST(v[3] > 0 AS INT) + " +
          "4 * CAST(v[4] > 0 AS INT) + 8 * CAST(v[5] > 0 AS INT) + " +
          "16 * CAST(v[6] > 0 AS INT) AS cell FROM tn), " +
          "qa AS (SELECT q.doc_id AS q_id, q.pos AS qi, cent.cell, crad.b, " +
          "list_dot_product(q.v, cent.cent) / (sqrt(q.n2) * sqrt(list_dot_product(cent.cent, cent.cent))) AS a " +
          "FROM tn q CROSS JOIN cent JOIN crad ON crad.cell = cent.cell " +
          "WHERE q.doc_id < 3 AND q.pos < 4), " +
          "qcb AS (SELECT q_id, qi, cell, CASE WHEN a >= b THEN 1.0 ELSE " +
          "a * b + sqrt(GREATEST(1 - a * a, 0)) * sqrt(GREATEST(1 - b * b, 0)) END AS ub FROM qa), " +
          "ubs AS (SELECT q_id, n_id, " +
          "COALESCE(MAX(CASE WHEN qi = 0 THEN mu END), 0) + COALESCE(MAX(CASE WHEN qi = 1 THEN mu END), 0) + " +
          "COALESCE(MAX(CASE WHEN qi = 2 THEN mu END), 0) + COALESCE(MAX(CASE WHEN qi = 3 THEN mu END), 0) AS ub FROM " +
          "(SELECT q_id, n_id, qi, MAX(ub) AS mu FROM qcb JOIN dc USING (cell) " +
          "WHERE q_id <> n_id GROUP BY q_id, n_id, qi) GROUP BY q_id, n_id), " +
          "seed AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, " +
          "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ub DESC, n_id) AS rk FROM ubs) WHERE rk <= 32), " +
          maxsimSqlFrom("seed", "p") + ", " +
          "tau AS (SELECT q_id, li_score AS tau FROM (SELECT q_id, n_id, li_score, " +
          "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY li_score DESC, n_id) AS rk FROM pscored) WHERE rk = 5), " +
          "esc AS (SELECT ubs.q_id, ubs.n_id FROM ubs " +
          "LEFT JOIN seed ON seed.q_id = ubs.q_id AND seed.n_id = ubs.n_id " +
          "JOIN tau ON tau.q_id = ubs.q_id " +
          "WHERE seed.n_id IS NULL AND ubs.ub >= tau.tau - 1e-9), " +
          maxsimSqlFrom("esc", "e") + ", " +
          "fin AS (SELECT * FROM pscored UNION ALL SELECT * FROM escored), " +
          "ns AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_scored FROM fin GROUP BY q_id), " +
          "r AS (SELECT q_id, n_id, li_score, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY li_score DESC, n_id) AS INT) AS rank FROM fin) " +
          "SELECT r.q_id, rank, n_id, li_score, n_scored FROM r JOIN ns ON ns.q_id = r.q_id " +
          "WHERE rank <= 5 ORDER BY r.q_id, rank")
    ),
    Q(
      "q_late_interaction_pq",
      // COMPRESSED multi-vector serving (the ColBERTv2 shape, Santhanam
      // et al. 2022: quantized token vectors + exact re-rank — the third
      // leg after served and safe-pruned): doc token vectors are
      // PQ-encoded (m=4 sub-codebooks of 16 entries over the 16 dims —
      // 4 small codes per token instead of 16 doubles), codebooks
      // trained on the DISTINCT term vectors (h is the stable train id);
      // the compressed maxsim stage scores full-precision QUERY tokens
      // against [[Pq.decode]]-reconstructed doc tokens, shortlists the
      // top-10, and the exact re-rank (the shared maxsimOver chain)
      // produces the top-5. Codebooks are float/partition-order
      // sensitive, so the gate is invariant-shaped like the ANN family:
      //   - n_queries: real differential (recallGate's count);
      //   - n_code_rows: REAL differential — the stored code count must
      //     be exactly 4 × token instances (the compression accounting,
      //     oracle-recomputed from the token relation);
      //   - recall_ge_floor: compressed-stage top-10 → exact re-rank
      //     top-5 recalls ≥ 0.8 of the exact full-scan top-5 (the gate
      //     holds at both SFs; SearchSpec pins the full gate row).
      // Scale: stored side is codes (4 bytes/token at k=16 vs 128 —
      // 32×); the compressed stage is the only corpus-wide scan and
      // reads codes; exact re-rank touches 10 docs/query.
      (s, d) => {
        // DELIBERATELY NOT checkpointed (root-caused in round 22, twice
        // measured): the remaining corpus-wide consumers are the two
        // exact maxsim c-legs, which are INDEPENDENT single-task
        // subtrees of the one final job — Spark runs them concurrently,
        // so the duplicated derivation costs ~max(leg, leg) wall-clock,
        // while an eager checkpoint serializes the same derivation into
        // a blocking barrier BEFORE the job (QTime min 1.83 → 2.13 s
        // with the checkpoint, stage probe full-query 2.47 → 2.94 s;
        // the r21 attempt lost the same way at 7 consumers). On a
        // multi-row-group layout the trade flips — revisit if the
        // fixture ever splits.
        val vecs = tokenVecs(Tables(s, d, "documents"))
        val books = pqTokenBooks(s, d)
        // the stored-codes artifacts (train-once/encode-once registry —
        // serving scans codes, it never re-encodes or decodes the
        // corpus): the LONG form feeds the code-count differential, the
        // WIDE form (codes + stored reconstruction norms) is what the
        // ADC stage scans.
        val enc = pqTokenCodes(s, d)
        val wide = pqTokenCodesWide(s, d)
        // ADC (round 16): each query token precomputes, per subspace,
        // its dot product with every codebook entry — 4×16 doubles per
        // query token, built DRIVER-side from the ≤12 collected query
        // vectors (bounded state, centroid-class) — and a doc token's
        // compressed dot is then 4 table lookups + 3 adds off its
        // stored codes. Replaces the decode-reconstruct-checkpoint +
        // 16-dim dot scan (0.7 s + full-width arithmetic per pair at
        // sf0.1) with lookups against the wide artifact; the original
        // floats are never touched at serving time, exactly the
        // FAISS/ColBERTv2 contract.
        val qRows = queryVecs(vecs).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq, r.getDouble(3)))
        val sub = 4
        val qTabs = qRows.toSeq.map { case (qid, qi, qv, qn2) =>
          val tabs = books.zipWithIndex.map { case (cb, j) =>
            cb.map(entry =>
              entry.indices.map(i => entry(i) * qv(j * sub + i)).sum)
          }
          (qid, qi, qn2, tabs(0), tabs(1), tabs(2), tabs(3))
        }
        import s.implicits._
        val qDf = qTabs.toDF("q_id", "qi", "qn2", "tab0", "tab1", "tab2", "tab3")
        def lk(tab: String, c: String) = element_at(col(tab), col(c) + 1)
        val adc = broadcast(qDf)
          .join(wide.withColumn("n_id", expr("vec_id div 16")), col("q_id") =!= col("n_id"))
          .select(
            col("q_id"), col("n_id"), col("qi"),
            ((lk("tab0", "c0") + lk("tab1", "c1") + lk("tab2", "c2") + lk("tab3", "c3")) /
              (sqrt(col("qn2")) * sqrt(col("rn2")))).as("sim"))
          .groupBy(col("q_id"), col("n_id"))
          .agg(perTokenMaxSum(col("sim")).as("li_c"))
        val shortlist = Similarity.topByScore(adc, "li_c", 10, "rk").select(col("q_id"), col("n_id"))
        // Scan dedup (round 22, guide §5): the query-token relation was
        // ALREADY collected (qRows, for the ADC tables) — feed it back
        // as a literal to both exact maxsim stages instead of two more
        // pushed-down corpus scans; and the doc-id domain is read off
        // the stored WIDE artifact (one row per token instance with
        // vec_id = doc_id·16 + pos, so `vec_id div 16` recovers exactly
        // tokenVecs' doc set — the n_code_rows differential pins the
        // correspondence) instead of two corpus scans. 7 corpus
        // derivations drop to 3 (qRows collect + the two exact-stage
        // c-legs); every derived relation is value-identical.
        val qLit = qRows.toSeq
          .toDF("q_id", "qi", "qv", "qn2")
          .select(col("q_id"), col("qi"), col("qv").cast("array<double>").as("qv"), col("qn2"))
        val reranked = Similarity.topByScore(maxsimOverQ(qLit, vecs, shortlist), "li_score", 5)
        val docs = wide.select(expr("vec_id div 16").as("n_id")).distinct()
        val qids = docs.filter(col("n_id") < 3).select(col("n_id").as("q_id"))
        val exactTop5 = Similarity.topByScore(
          maxsimOverQ(qLit, vecs, qids.crossJoin(docs).filter(col("q_id") =!= col("n_id"))), "li_score", 5)
        val recall = Gate.recallGate(
          exactTop5.select(col("q_id"), col("n_id")),
          reranked.select(col("q_id"), col("n_id")), 0.8)
        Gate.withCounts(recall, "n_code_rows" -> enc)
          .select(col("n_queries"), col("n_code_rows"), col("recall_ge_floor"))
      },
      Some(
        s"WITH toks AS ($tokensSql) " +
          "SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_queries, " +
          "(SELECT CAST(COUNT(*) * 4 AS BIGINT) FROM toks WHERE pos < 8 AND term <> '') AS n_code_rows, " +
          "true AS recall_ge_floor FROM toks WHERE doc_id < 3")
    ),
    Q(
      "q_rank_eval_li",
      // The rank-eval harness applied to the late-interaction family:
      // nDCG@5 / MRR / hits of the SERVED ranking
      // (q_late_interaction_served) judged against the full-scan truth
      // (q_late_interaction_mv), with q_rank_eval's integer-literal
      // discount recipe (wd = round(1e6/log2(r+1)), wm = round(1e6/r),
      // graded rel = 6 − truth rank) so DCG/MRR sums are exact Longs and
      // nDCG is one division by the constant ideal. BOTH rankings are
      // deterministic end to end (term-equality candidates + the
      // char-poly maxsim chain), so unlike q_rank_eval's invariant-free
      // shape this is a FULL cross-engine differential over the metric
      // values themselves — the ship-gate a served-retrieval change must
      // clear, now wired to the flagship new family. Scale: both
      // rankings are the gate-scale chains; the metric stage is
      // rank-list-sized (5 rows per query), never corpus-sized.
      (s, d) => {
        val wDcg = (1 to 5).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))
        val wMrr = (1 to 5).map(r => math.round(1e6 / r.toDouble))
        val idcg = (1 to 5).map(r => (6 - r) * wDcg(r - 1)).sum
        val vecs = tokenVecs(Tables(s, d, "documents")).localCheckpoint(true)
        val docs = vecs.select(col("doc_id").as("n_id")).distinct()
        val qids = vecs.filter(col("doc_id") < 3).select(col("doc_id").as("q_id")).distinct()
        val truth = Similarity.topByScore(
          maxsimOver(vecs, qids.crossJoin(docs).filter(col("q_id") =!= col("n_id"))), "li_score", 5, "frnk")
          .select(col("q_id"), col("n_id"), (lit(6) - col("frnk")).cast("long").as("rel"))
        val sys = Similarity.topByScore(maxsimOver(vecs, termCandidates(vecs)), "li_score", 5, "srnk")
        val wdArr = array(wDcg.map(lit): _*)
        val wmArr = array(wMrr.map(lit): _*)
        sys
          .join(truth, Seq("q_id", "n_id"), "left")
          .select(
            col("q_id"),
            coalesce(col("rel"), lit(0L)).as("rel0"),
            element_at(wdArr, col("srnk")).as("wd"),
            element_at(wmArr, col("srnk")).as("wm"))
          .groupBy(col("q_id"))
          .agg(
            sum((col("rel0") > 0).cast("long")).as("hits"),
            sum(col("rel0") * col("wd")).as("dcg_fp"),
            coalesce(max(when(col("rel0") > 0, col("wm"))), lit(0L)).as("mrr_fp"))
          .select(
            col("q_id"), col("hits"), col("dcg_fp"), col("mrr_fp"),
            (col("dcg_fp").cast("double") / lit(idcg.toDouble)).as("ndcg"))
          .orderBy("q_id")
      },
      Some {
        val wDcg = (1 to 5).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))
        val wMrr = (1 to 5).map(r => math.round(1e6 / r.toDouble))
        val idcg = (1 to 5).map(r => (6 - r) * wDcg(r - 1)).sum
        val wtab = (1 to 5).map(r => s"(${r}, ${wDcg(r - 1)}, ${wMrr(r - 1)})").mkString(", ")
        s"WITH toks AS ($tokensSql), $lateTokenSql, " +
          "allp AS (SELECT q.doc_id AS q_id, c.doc_id AS n_id FROM " +
          "(SELECT DISTINCT doc_id FROM tn WHERE doc_id < 3) q " +
          "CROSS JOIN (SELECT DISTINCT doc_id FROM tn) c WHERE q.doc_id <> c.doc_id), " +
          maxsimSqlFrom("allp", "f") + ", " +
          "truth AS (SELECT q_id, n_id, CAST(6 - frnk AS BIGINT) AS rel FROM " +
          "(SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY li_score DESC, n_id) AS frnk FROM fscored) WHERE frnk <= 5), " +
          "qt AS (SELECT DISTINCT doc_id AS q_id, term FROM tn WHERE doc_id < 3 AND pos < 4), " +
          "cand AS (SELECT DISTINCT qt.q_id, tn.doc_id AS n_id FROM qt " +
          "JOIN tn ON tn.term = qt.term WHERE tn.doc_id <> qt.q_id), " +
          maxsimSqlFrom("cand", "s") + ", " +
          "sys AS (SELECT q_id, n_id, srnk FROM " +
          "(SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY li_score DESC, n_id) AS srnk FROM sscored) WHERE srnk <= 5), " +
          s"wtab(r, wd, wm) AS (VALUES $wtab), " +
          "j AS (SELECT s.q_id, COALESCE(t.rel, 0) AS rel0, w.wd, w.wm FROM sys s " +
          "LEFT JOIN truth t ON t.q_id = s.q_id AND t.n_id = s.n_id " +
          "JOIN wtab w ON w.r = s.srnk) " +
          "SELECT q_id, CAST(SUM(CASE WHEN rel0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits, " +
          "CAST(SUM(rel0 * wd) AS BIGINT) AS dcg_fp, " +
          "CAST(COALESCE(MAX(CASE WHEN rel0 > 0 THEN wm END), 0) AS BIGINT) AS mrr_fp, " +
          s"CAST(SUM(rel0 * wd) AS DOUBLE) / ${idcg}.0 AS ndcg " +
          "FROM j GROUP BY q_id ORDER BY q_id"
      }
    )
  )
}
