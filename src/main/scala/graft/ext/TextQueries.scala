package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{Agg, Tables}
import graft.plans.TopKPerKey

/** Text-analysis operators over `documents` — the training-data-pipeline
  * extension family (north star §X): token counting (whitespace + regex
  * tokenizer), quality scoring (stopword/alpha ratios), n-gram language ID
  * heuristic, and content fingerprinting. All pure codegen'd expressions —
  * linear scans that parallelize trivially at 100 TB.
  */
object TextQueries {

  /** Whitespace token count as a column expression (shared with oracle). */
  private val nTokens = size(split(col("text"), " ")).cast("long")

  val queries: Seq[Q] = Seq(
    Q(
      "q_text_stats",
      (s, d) =>
        Tables(s, d, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            Agg.davg(nTokens.cast("double")).as("avg_tokens"),
            sum(col("n_chars")).as("total_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("lang"),
      Some(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          Agg.davgSql("CAST(len(string_split(text, ' ')) AS DOUBLE)") + " AS avg_tokens, " +
          "CAST(SUM(n_chars) AS BIGINT) AS total_chars, CAST(MAX(n_chars) AS BIGINT) AS max_chars " +
          "FROM documents GROUP BY lang ORDER BY lang"),
      headline = true
    ),
    Q(
      "q_token_count",
      // BPE-ish regex tokenizer: letter runs, digit runs, single other
      // non-space chars — summed per source.
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            col("source"),
            expr("size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0))")
              .cast("long")
              .as("n_tok"))
          .groupBy(col("source"))
          .agg(sum(col("n_tok")).as("total_tokens"), count(lit(1)).as("n_docs"))
          .orderBy("source"),
      Some(
        "SELECT source, CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_tokens, " +
          "CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source ORDER BY source")
    ),
    Q(
      "q_quality_score",
      // Per-doc quality signals: token count, stopword ratio, alphanumeric
      // ratio — single deterministic divisions, bit-identical both engines.
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            nTokens.as("n_tok"),
            (expr("size(filter(split(text, ' '), w -> w IN ('the', 'a', 'of', 'and')))").cast("double") /
              nTokens.cast("double")).as("stop_ratio"),
            (length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("double") /
              length(col("text")).cast("double")).as("alpha_ratio"))
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
          "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of', 'and'))) AS DOUBLE) / " +
          "CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio, " +
          "CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) / " +
          "CAST(length(text) AS DOUBLE) AS alpha_ratio " +
          "FROM documents ORDER BY doc_id")
    ),
    Q(
      "q_lang_id",
      // Stopword-hit language-ID heuristic (deterministic scoring; the
      // synthetic corpus is one wordlist, so the heuristic — not label
      // recovery — is the verified artifact).
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            expr("size(filter(split(text, ' '), w -> w IN ('the', 'a', 'of')))").cast("long").as("en_hits"),
            expr("size(filter(split(text, ' '), w -> w IN ('le', 'la', 'et')))").cast("long").as("fr_hits"))
          .withColumn(
            "pred_lang",
            when(col("fr_hits") > col("en_hits"), "fr")
              .when(col("en_hits") > 0, "en")
              .otherwise("und"))
          .orderBy("doc_id"),
      Some(
        "WITH h AS (SELECT doc_id, " +
          "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of'))) AS BIGINT) AS en_hits, " +
          "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('le', 'la', 'et'))) AS BIGINT) AS fr_hits " +
          "FROM documents) " +
          "SELECT doc_id, en_hits, fr_hits, CASE WHEN fr_hits > en_hits THEN 'fr' " +
          "WHEN en_hits > 0 THEN 'en' ELSE 'und' END AS pred_lang FROM h ORDER BY doc_id")
    ),
    Q(
      "q_fingerprint",
      // Content fingerprint: md5 of the normalized (lowercased,
      // space-collapsed) text — the exact-dedup key at scale.
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary")).as("fp"))
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp " +
          "FROM documents ORDER BY doc_id")
    ),
    Q(
      "q_ngram_freq",
      // Corpus-wide top-20 word bigrams (vocabulary statistics): adjacent
      // token pairs via zip_with over two shifted slices (empty-safe for
      // <2-token docs), explode, count, deterministic (cnt DESC, bigram)
      // tie-break. At scale: narrow explode + one count shuffle with
      // map-side combine; top-k is TakeOrderedAndProject, no global sort.
      (s, d) => {
        val toks = split(col("text"), " ")
        val bigrams = zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit(" "), b))
        Tables(s, d, "documents")
          .select(explode(bigrams).as("bigram"))
          .groupBy(col("bigram"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("bigram"))
          .limit(20)
      },
      Some(
        "WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents), " +
          "b AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1), " +
          "i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks) " +
          "SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM b " +
          "GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20"),
      headline = true
    ),
    Q(
      "q_token_df",
      // Document frequency: distinct tokens per doc → docs-per-token,
      // with the N/df ratio (exact-integer division in double space — the
      // log-free IDF core; ln() last-bit behavior differs across engines
      // so the oracle-checked output stops at the deterministic ratio).
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val df = docs
          .select(explode(array_distinct(split(col("text"), " "))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("df"))
        Gate.withCounts(df, "n" -> docs)
          .select(
            col("token"), col("df"), col("n"),
            (col("n").cast("double") / col("df").cast("double")).as("inv_df"))
          .orderBy(col("df").desc, col("token"))
          .limit(30)
      },
      Some(
        "WITH tok AS (SELECT unnest(list_distinct(string_split(text, ' '))) AS token FROM documents), " +
          "d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY token), " +
          "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents) " +
          "SELECT token, df, n, CAST(n AS DOUBLE) / CAST(df AS DOUBLE) AS inv_df " +
          "FROM d CROSS JOIN n ORDER BY df DESC, token LIMIT 30")
    ),
    Q(
      "q_curation",
      // End-to-end corpus curation, composed from this family's verified
      // pieces: quality gate (token count + alphanumeric ratio) → exact
      // dedup (keep lowest doc_id per normalized-content fingerprint) →
      // stable ~50% train split (md5 of the key, reproducible on any
      // cluster) → per-(lang, source) survivor stats. Single pass +
      // one fingerprint shuffle + one group shuffle at any scale.
      (s, d) => {
        val alphaRatio =
          length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("double") /
            length(col("text")).cast("double")
        val fp = md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary"))
        TopKPerKey.topK(
          Tables(s, d, "documents").filter(nTokens >= 20 && alphaRatio >= 0.5),
          Seq(fp), Seq(col("doc_id")), 1, "rn")
          .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < lit("80"))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
          .orderBy("lang", "source")
      },
      Some(
        "WITH scored AS (SELECT doc_id, lang, source, text, n_chars, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
          "CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) / " +
          "CAST(length(text) AS DOUBLE) AS alpha_ratio FROM documents), " +
          "ded AS (SELECT *, ROW_NUMBER() OVER (" +
          "PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) ORDER BY doc_id) AS rn " +
          "FROM scored WHERE n_tok >= 20 AND alpha_ratio >= 0.5) " +
          "SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM ded " +
          "WHERE rn = 1 AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80' " +
          "GROUP BY lang, source ORDER BY lang, source")
    ),
    Q(
      "q_curation_v2",
      // Round-6 curation composition, chaining the newer verified pieces
      // (q_curation chains the round-3 ones): Gopher duplicate-word gate
      // (per-row array algebra) → LINE-level dedup survival (5-token
      // segments, global keep-first — the q_line_dedup machinery, docs
      // must retain >= 40% first-occurrence segments) → per-source
      // rollup with temperature-scaled mixture weights over the
      // SURVIVORS (sqrt share, fixed-point normalizer). Three stages,
      // three shuffle keys (segment, doc, source) — each bounded or
      // near-uniform, so the composition inherits every piece's scale
      // argument.
      (s, d) => {
        val toks = split(col("text"), " ")
        val dupFrac =
          lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double")
        val gated = Tables(s, d, "documents")
          .filter(size(toks) >= 10 && dupFrac <= 0.9)
          .select(col("doc_id"), col("source"), size(toks).cast("long").as("n_tok"))
        val segs = expr(
          "transform(sequence(0, greatest(CAST(ceil(size(split(text, ' ')) / 5.0) AS INT), 1) - 1), " +
            "i -> array_join(slice(split(text, ' '), i * 5 + 1, 5), ' '))")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("seg")).orderBy(col("doc_id"), col("seg_idx"))
        val keptFrac = Tables(s, d, "documents")
          .select(col("doc_id"), posexplode(segs).as(Seq("seg_idx", "seg")))
          .withColumn("kept", (row_number().over(w) === 1).cast("long"))
          .groupBy(col("doc_id"))
          .agg((sum(col("kept")).cast("double") / count(lit(1)).cast("double")).as("kept_frac"))
        val survivors = gated
          .join(keptFrac, Seq("doc_id"))
          .filter(col("kept_frac") >= 0.4)
        val perSource = survivors.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
          .withColumn("w_raw", sqrt(col("n_docs").cast("double")))
        val norm = perSource.agg(Agg.dsum(col("w_raw")).as("w_total"))
        perSource
          .crossJoin(broadcast(norm))
          .select(
            col("source"), col("n_docs"), col("n_tokens"),
            (col("w_raw") / col("w_total")).as("weight"))
          .orderBy("source")
      },
      Some(
        "WITH gated AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok " +
          "FROM documents WHERE len(string_split(text, ' ')) >= 10 AND " +
          "1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / " +
          "CAST(len(string_split(text, ' ')) AS DOUBLE) <= 0.9), " +
          "segs AS (SELECT doc_id, i AS seg_idx, " +
          "array_to_string(string_split(text, ' ')[(5*i+1):(5*i+5)], ' ') AS seg " +
          "FROM documents, unnest(generate_series(0, " +
          "greatest(CAST(ceil(len(string_split(text, ' ')) / 5.0) AS INT), 1) - 1)) AS t(i)), " +
          "kf AS (SELECT doc_id, CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "CAST(COUNT(*) AS DOUBLE) AS kept_frac FROM (SELECT doc_id, " +
          "ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM segs) GROUP BY doc_id), " +
          "surv AS (SELECT gated.* FROM gated JOIN kf USING (doc_id) WHERE kept_frac >= 0.4), " +
          "ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens, " +
          "sqrt(CAST(COUNT(*) AS DOUBLE)) AS w_raw FROM surv GROUP BY source), " +
          "t AS (SELECT " + Agg.dsumSql("w_raw") + " AS w_total FROM ps) " +
          "SELECT source, n_docs, n_tokens, w_raw / w_total AS weight " +
          "FROM ps CROSS JOIN t ORDER BY source")
    ),
    Q(
      "q_bpe_train",
      // Distributed BPE vocabulary induction (ext/Bpe): the merge loop is
      // not SQL-expressible, so the driver gate runs the trainer on the
      // PUBLISHED reference corpus — the classic Sennrich et al. 2016
      // fixture (low×5 lower×2 newest×6 widest×3) — whose 6 merges and
      // frequency-weighted symbol total are hand-derivable and oracled as
      // literal VALUES. Ties break (count desc, pair lexicographic):
      // round 1 (e,s)/(s,t) tie at 9 → "e s"; round 5 (e,w)/(n,e)/
      // (w,est) tie at 6 → "e w". Corpus-scale training is exercised by
      // q_bpe_encode (same trainer, sf corpus).
      (s, d) => {
        import s.implicits._
        val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
          Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
        Bpe.train(s, Seq(text).toDF("text"), "text", merges = 6)
          .orderBy("merge_rank")
      },
      Some(
        "SELECT CAST(merge_rank AS INTEGER) AS merge_rank, \"left\", \"right\", " +
          "CAST(n AS BIGINT) AS n FROM (VALUES " +
          "(1, 'e', 's', 9), (2, 'es', 't', 9), (3, 'l', 'o', 7), (4, 'lo', 'w', 7), " +
          "(5, 'e', 'w', 6), (6, 'ew', 'est', 6), (7, '<total_symbols>', '', 35)" +
          ") t(merge_rank, \"left\", \"right\", n) ORDER BY merge_rank")
    ),
    Q(
      "q_bpe_encode",
      // Tokenizer serving path at corpus scale: train 6 merges on the sf
      // corpus, then encode it (ext/Bpe.encode — fold once per distinct
      // word, join occurrences back to the encoded vocab). The merge list
      // depends on the trainer's loop, so the gated output is the
      // conservation invariant: doc and word totals are exact
      // differentials vs the oracle, the corpus token total must equal
      // the trainer's <total_symbols> audit (trainer and encoder agree),
      // and every word yields >= 1 token.
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val trained = Bpe.train(s, docs, "text", merges = 6).collect()
        val merges = trained
          .filter(_.getAs[String]("left") != "<total_symbols>")
          .sortBy(_.getAs[Int]("merge_rank"))
          .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
          .toSeq
        val totalSyms = trained
          .find(_.getAs[String]("left") == "<total_symbols>")
          .map(_.getAs[Long]("n"))
          .getOrElse(-1L)
        Bpe.encode(docs, "text", merges)
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("total_words"),
            (sum(col("n_tokens")) === lit(totalSyms)).as("tokens_eq_train_audit"),
            bool_and(col("n_tokens") >= col("n_words")).as("tokens_ge_words"))
      },
      Some(
        "WITH w AS (SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS nw " +
          "FROM documents) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nw) AS BIGINT) AS total_words, " +
          "true AS tokens_eq_train_audit, true AS tokens_ge_words FROM w WHERE nw > 0")
    ),
    Q(
      "q_bpe_roundtrip",
      // Tokenizer LOSSLESSNESS — the content-integrity contract every
      // subword tokenizer must keep: concatenating a word's post-merge
      // symbols must reproduce the word exactly (decode ∘ encode = id).
      // True by construction only while mergeExpr strictly concatenates
      // ADJACENT symbols; a slice/offset bug breaks it, and this is the
      // gate that turns that bug into a nonzero n_fail instead of silent
      // corpus corruption. n_vocab is a real cross-engine differential
      // (distinct non-empty words); the fold runs once per distinct word,
      // the same vocabulary dedup the trainer and encoder use.
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val merges = Bpe.train(s, docs, "text", merges = 6).collect()
          .filter(_.getAs[String]("left") != "<total_symbols>")
          .sortBy(_.getAs[Int]("merge_rank"))
          .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
          .toSeq
        val vocab = docs
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .distinct()
          .withColumn(
            "syms",
            merges.foldLeft(split(col("word"), "")) {
              case (syms, (a, b)) => Bpe.mergeExpr(syms, a, b)
            })
        vocab.agg(
          count(lit(1)).as("n_vocab"),
          sum((concat_ws("", col("syms")) =!= col("word")).cast("long")).as("n_fail"))
      },
      Some(
        "SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS n_vocab, CAST(0 AS BIGINT) AS n_fail " +
          "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''")
    ),
    Q(
      "q_tfidf",
      // Per-document TF-IDF keyword extraction (top-3 terms per doc).
      // q_top_terms ranks LEXICOGRAPHICALLY (tf desc, then df asc) —
      // a rare term can never beat a more frequent common one; this
      // computes the actual multiplicative tf×idf score, where rarity
      // and frequency trade off, which is the ranking retrieval systems
      // use. IDF is FIXED-POINT: (N * 1e6) div df is exact integer
      // arithmetic in both engines, so score = tf * idf_fp is a BIGINT
      // and the cross-engine hash can't drift the way ln()-based IDF
      // would (last-bit log differences; see q_token_df's note). Plan
      // shape for 100 TB: the corpus is scanned + exploded ONCE — df is
      // a window count over the tf rows (one row per doc×token ⇒ count
      // per token = document frequency), NOT a groupBy+join, which would
      // re-run the explode on the df branch (q_top_terms's lesson). The
      // pipeline is thin (doc, token, count) rows through doc→token→doc
      // exchanges, N broadcasts as one row, and the per-doc top-3 is the
      // row_number()<=k pattern TopKRewrite turns into the bounded-heap
      // TopKPerKey operator (verified in the physical plan).
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val scored = Gate
          .withCounts(
            tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token")))),
            "n" -> docs)
          .select(
            col("doc_id"), col("token"),
            (col("tf") * expr("(n * 1000000) div df")).as("score_fp"))
        TopKPerKey.topK(scored, Seq(col("doc_id")), Seq(col("score_fp").desc, col("token")), 3, "rnk")
          .select(col("doc_id"), col("token"), col("score_fp"), col("rnk"))
          .orderBy(col("doc_id"), col("rnk"))
      },
      Some(
        "WITH tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM " +
          "(SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) " +
          "GROUP BY doc_id, token), " +
          "df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token), " +
          "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents), " +
          "r AS (SELECT doc_id, token, tf * ((n * 1000000) // df) AS score_fp, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf * ((n * 1000000) // df) DESC, token) AS INT) AS rnk " +
          "FROM tf JOIN df USING (token) CROSS JOIN n) " +
          "SELECT doc_id, token, score_fp, rnk FROM r WHERE rnk <= 3 " +
          "ORDER BY doc_id, rnk")
    )
  )
}
