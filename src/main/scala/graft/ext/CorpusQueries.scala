package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.core.Tables
import graft.plans.TopKPerKey

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * between raw ingest and tokenization — round-4 widening:
  *
  *   - PII redaction (regex scrub + audit counts)
  *   - overlapping text chunking (context-window sharding)
  *   - per-document top-terms (tf-idf-shaped ranking in exact integers)
  *   - greedy context-window packing, hash-bucketed for parallelism
  *   - SCD-1 merge/upsert (the warehouse MERGE the reference's
  *     WRITE_TRUNCATE loads sidestep)
  *
  * Scale shape of each: narrow per-row expressions, or one shuffle keyed
  * on doc/bucket/order key; no global sorts, no driver-side data.
  */
object CorpusQueries {

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+[0-9][0-9-]+"

  /** Context-window chunking constants — single-sourced for
    * q_chunk_overlap AND the chunk-level retrieval corpus
    * ([[SearchQueries]] q_rag_chunk_search).
    */
  val ChunkTokens = 40
  val ChunkStride = 30

  /** Chunk-id stride for [[chunkCorpus]]'s synthetic ids: 2^20 chunk
    * slots per document. At stride [[ChunkStride]] that is room for docs
    * up to ~31M tokens before two docs' chunk ids could collide — and
    * ChunkSpec asserts the actual corpus max chunk count against it, so
    * a corpus that DOES breach the bound fails loudly instead of
    * silently cross-attributing chunks.
    */
  val ChunkIdStride = 1L << 20

  /** The chunk corpus as a (doc_id, text) relation retrieval can index
    * directly: synthetic doc_id = base_doc·[[ChunkIdStride]] + chunk_idx,
    * text = the chunk's tokens re-joined. Same derivation as
    * q_chunk_overlap.
    */
  def chunkCorpus(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .select(
        col("doc_id"), col("toks"),
        posexplode(expr(s"sequence(0L, n - 1L, ${ChunkStride}L)")).as(Seq("chunk_idx", "st")))
      .select(
        (col("doc_id") * ChunkIdStride + col("chunk_idx")).as("doc_id"),
        array_join(slice(col("toks"), col("st").cast("int") + 1, lit(ChunkTokens)), " ")
          .as("text"))

  /** DuckDB derivation of [[chunkCorpus]] (a CTE body over `documents`). */
  val chunkCorpusSql: String =
    s"SELECT doc_id * $ChunkIdStride + (st // $ChunkStride) AS doc_id, " +
      s"array_to_string(toks[st + 1 : st + $ChunkTokens], ' ') AS text FROM " +
      "(SELECT doc_id, toks, unnest(range(0, n, " + ChunkStride + ")) AS st FROM " +
      "(SELECT doc_id, string_split(text, ' ') AS toks, " +
      "len(string_split(text, ' ')) AS n FROM documents))"

  val queries: Seq[Q] = Seq(
    Q(
      "q_redact_pii",
      // Regex PII scrub with audit counts. The corpus text is synthetic
      // word salad, so a deterministic email+phone tail is appended per
      // row FIRST — the redactor then has real matches to find, and the
      // oracle rebuilds the same string. Patterns stay in the common
      // Java-regex/RE2 subset (no backrefs/lookaround) so both engines
      // match identically; md5 of the redacted text proves byte equality
      // without shipping the text. Pure per-row codegen — linear at any
      // scale.
      (s, d) => {
        val synth = concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        Tables(s, d, "documents")
          .select(col("doc_id"), synth.as("synth"))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("synth"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
            size(regexp_extract_all(col("synth"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("synth"), EmailRe, "<EMAIL>"),
              PhoneRe, "<PHONE>").cast("binary")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some(
        "WITH s AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@mail.example.org or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS synth FROM documents) " +
          "SELECT doc_id, " +
          "CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
          "CAST(len(regexp_extract_all(synth, '\\+[0-9][0-9-]+')) AS BIGINT) AS n_phones, " +
          "md5(regexp_replace(regexp_replace(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
          "'\\+[0-9][0-9-]+', '<PHONE>', 'g')) AS redacted_md5 " +
          "FROM s ORDER BY doc_id")
    ),
    Q(
      "q_chunk_text",
      // Overlapping character chunking (size 200, stride 150) — the
      // context-window sharding step before tokenization. One generator
      // explode per doc, chunk content carried as md5 so the gate checks
      // bytes without megabyte rows. Embarrassingly parallel; chunk count
      // per doc is bounded by doc length, so no skew beyond text length.
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            posexplode(expr(
              "transform(sequence(1, greatest(1, CAST(length(text) AS INT)), 150), " +
                "s -> md5(CAST(substring(text, s, 200) AS BINARY)))")))
          .select(
            col("doc_id"),
            col("pos").cast("long").as("chunk_idx"),
            col("col").as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx"),
      Some(
        "SELECT doc_id, (s - 1) // 150 AS chunk_idx, md5(substring(text, s, 200)) AS chunk_md5 " +
          "FROM documents, unnest(generate_series(1, greatest(1, length(text)), 150)) AS t(s) " +
          "ORDER BY doc_id, chunk_idx")
    ),
    Q(
      "q_top_terms",
      // Per-document top-3 terms, tf-idf-shaped without floats: rank by
      // term frequency desc, corpus document-frequency asc (rarer wins
      // ties), token asc — all exact integers, so the ranking is
      // bit-identical in any engine. Plan: one explode, two hash aggs
      // (doc-level tf, corpus-level df), a join keyed on token, and a
      // per-doc window — every stage partitions on bounded keys.
      (s, d) => {
        val tok = Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
        // df as a WINDOW count over tf (one row per doc×token ⇒ count
        // per token = distinct docs), not a groupBy+self-join: the
        // corpus is scanned+exploded ONCE and the plan is one linear
        // pipeline of exchanges (doc,token → token → doc) — a join
        // formulation re-runs the explode on the df branch because the
        // pruned aggregate no longer canonicalizes with tf's exchange.
        TopKPerKey.topK(
          tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token")))),
          Seq(col("doc_id")), Seq(col("tf").desc, col("df").asc, col("token").asc), 3, "rnk")
          .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("token"), col("tf"), col("df"))
          .orderBy("doc_id", "rnk")
      },
      Some(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
          "tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2), " +
          "df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok WHERE token <> '' GROUP BY 1), " +
          "rk AS (SELECT tf.doc_id, tf.token, tf.tf, df.df, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.token) AS BIGINT) AS rnk " +
          "FROM tf JOIN df USING (token)) " +
          "SELECT doc_id, rnk, token, tf, df FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk")
    ),
    Q(
      "q_pack_sequences",
      // Greedy context-window packing (4096-token windows) made parallel:
      // docs hash into 32 independent buckets, a per-bucket running token
      // sum assigns each doc to pack floor(cum_before/4096) — the
      // sequential greedy scan runs per bucket, not globally, so packing
      // scales out while staying deterministic (md5 order inside the
      // bucket). The exact-GLOBAL greedy pack is q_pack_global (the
      // two-level running-sum scan); the per-bucket form is the right
      // default when packs don't need one global order.
      (s, d) => {
        val dd = Tables(s, d, "documents").select(
          col("doc_id"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 32).as("bucket"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          md5(col("doc_id").cast("string")).as("ord"))
        val w = Window.partitionBy(col("bucket")).orderBy(col("ord"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dd.withColumn("cum", sum(col("n_tok")).over(w))
          .groupBy(col("bucket"), expr("(cum - n_tok) DIV 4096").as("pack_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
          .orderBy("bucket", "pack_id")
      },
      Some(
        "WITH d AS (SELECT doc_id, CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 32 AS bucket, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, md5(CAST(doc_id AS VARCHAR)) AS ord FROM documents), " +
          "c AS (SELECT bucket, doc_id, n_tok, SUM(n_tok) OVER (PARTITION BY bucket ORDER BY ord " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d) " +
          // CAST: cum is SUM(BIGINT) → HUGEINT in DuckDB; // keeps HUGEINT
          "SELECT bucket, CAST((cum - n_tok) // 4096 AS BIGINT) AS pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(SUM(n_tok) AS BIGINT) AS total_tokens FROM c GROUP BY 1, 2 ORDER BY 1, 2")
    ),
    Q(
      "q_pack_global",
      // Exact-GLOBAL greedy context-window packing — q_pack_sequences'
      // one-global-order variant, for pipelines where pack ids must be
      // a function of the total corpus order (resumable sharded
      // tokenization, deterministic epoch layouts). The naive form is a
      // corpus-wide running sum in ONE window partition — the NTILE
      // trap all over again. Ranks.globalRunningSum is the scale
      // rewrite: range-partitioned two-pass global index, per-BLOCK
      // exclusive prefix windows (blockSize rows each), and a bounded
      // block-offset pass — every window partitioned, the corpus
      // shuffled once (the same pattern that killed the q_window_rank /
      // q_fold_split single-partition windows, applied to SUM instead
      // of rank). DuckDB re-derives the identical packing with a plain
      // one-window running sum, so the two-level decomposition is
      // value-level differentially gated, not just plan-shaped.
      (s, d) => {
        val dd = Tables(s, d, "documents").select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          md5(col("doc_id").cast("string")).as("ord"))
        graft.core.Ranks
          .globalRunningSum(dd, Seq(col("ord"), col("doc_id")), col("n_tok"), p = 32)
          .groupBy(expr("cum_before DIV 4096").as("pack_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
          .orderBy("pack_id")
      },
      Some(
        "WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
          "md5(CAST(doc_id AS VARCHAR)) AS ord FROM documents), " +
          "c AS (SELECT n_tok, SUM(n_tok) OVER (ORDER BY ord, doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb FROM d) " +
          "SELECT CAST(COALESCE(cb, 0) // 4096 AS BIGINT) AS pack_id, " +
          "CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens " +
          "FROM c GROUP BY 1 ORDER BY 1")
    ),
    Q(
      "q_bucket_pack",
      // Length-bucketed batching — the padding-efficiency step a training
      // dataloader runs: batching arbitrary-length docs together pads
      // every row to the batch max, so grouping docs into power-of-two
      // length buckets first (16/32/.../512 token caps) bounds waste to
      // <2× instead of max/min. Deterministic and scale-safe: bucket caps
      // are a CASE ladder (no IEEE log2), docs shard 32 ways inside each
      // bucket so the rank window is per (cap, shard) — parallel like
      // q_pack_sequences, not a per-bucket single reducer — and batches
      // are 16 docs by md5 order. Output per cap: docs, batches, real
      // tokens, padded tokens (Σ batch_size·cap — partial tail batches
      // pad only their actual rows), efficiency = real/padded as the one
      // double division of exact integers. Docs beyond the top cap would
      // be chunked first (q_chunk_text); the fixture has none.
      (s, d) => {
        val dd = Tables(s, d, "documents").select(
          col("doc_id"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 32).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          md5(col("doc_id").cast("string")).as("ord"))
          .withColumn(
            "cap",
            expr(
              "CAST(CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32 " +
                "WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128 " +
                "WHEN n_tok <= 256 THEN 256 ELSE 512 END AS BIGINT)"))
        val w = Window.partitionBy(col("cap"), col("shard")).orderBy(col("ord"), col("doc_id"))
        dd.withColumn("rn", row_number().over(w).cast("long"))
          .groupBy(col("cap"), col("shard"), expr("(rn - 1) DIV 16").as("batch_id"))
          .agg(count(lit(1)).as("bsz"), sum(col("n_tok")).as("btok"))
          .groupBy(col("cap"))
          .agg(
            sum(col("bsz")).as("n_docs"),
            count(lit(1)).as("n_batches"),
            sum(col("btok")).as("sum_tokens"),
            sum(col("bsz") * col("cap")).as("pad_tokens"))
          .select(
            col("cap"), col("n_docs"), col("n_batches"), col("sum_tokens"), col("pad_tokens"),
            (col("sum_tokens").cast("double") / col("pad_tokens").cast("double"))
              .as("efficiency"))
          .orderBy("cap")
      },
      Some(
        "WITH d AS (SELECT doc_id, CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 32 AS shard, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, md5(CAST(doc_id AS VARCHAR)) AS ord FROM documents), " +
          "c AS (SELECT *, CAST(CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32 " +
          "WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128 " +
          "WHEN n_tok <= 256 THEN 256 ELSE 512 END AS BIGINT) AS cap FROM d), " +
          "r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cap, shard ORDER BY ord, doc_id) AS BIGINT) AS rn FROM c), " +
          "b AS (SELECT cap, shard, (rn - 1) // 16 AS batch_id, CAST(COUNT(*) AS BIGINT) AS bsz, " +
          "CAST(SUM(n_tok) AS BIGINT) AS btok FROM r GROUP BY 1, 2, 3) " +
          "SELECT cap, CAST(SUM(bsz) AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_batches, " +
          "CAST(SUM(btok) AS BIGINT) AS sum_tokens, CAST(SUM(bsz * cap) AS BIGINT) AS pad_tokens, " +
          "CAST(SUM(btok) AS DOUBLE) / CAST(SUM(bsz * cap) AS DOUBLE) AS efficiency " +
          "FROM b GROUP BY cap ORDER BY cap")
    ),
    Q(
      "q_merge_upsert",
      // SCD-1 MERGE (upsert) without a MERGE statement: source rows win
      // over target rows on key collision via a row_number over
      // (key, source-first) — update + insert + keep in ONE shuffle keyed
      // on the merge key. This is the scale-safe MERGE plan (Delta/Iceberg
      // do the same join-shaped thing); +10 price delta and status 'U'
      // mark updated rows observably.
      (s, d) => {
        val o = Tables(s, d, "orders")
        val target = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val source = o.filter(col("o_orderkey") % 3 === 0)
          .select(
            col("o_orderkey"),
            lit("U").as("o_orderstatus"),
            (col("o_totalprice") + 10).as("o_totalprice"))
        TopKPerKey.topK(
          source.withColumn("is_src", lit(1)).unionByName(target.withColumn("is_src", lit(0))),
          Seq(col("o_orderkey")), Seq(col("is_src").desc), 1, "rn")
          .select(
            col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("is_src").cast("long").as("from_source"))
          .orderBy("o_orderkey")
      },
      Some(
        "WITH target AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0), " +
          "src AS (SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 10 AS o_totalprice FROM orders WHERE o_orderkey % 3 = 0), " +
          "u AS (SELECT *, 1 AS is_src FROM src UNION ALL SELECT *, 0 AS is_src FROM target), " +
          "m AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY is_src DESC) AS rn FROM u) " +
          "SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(is_src AS BIGINT) AS from_source " +
          "FROM m WHERE rn = 1 ORDER BY o_orderkey")
    ),
    Q(
      "q_decontaminate",
      // Benchmark decontamination: flag training docs whose word 5-grams
      // overlap a held-out eval set (the standard pre-training hygiene
      // pass). Eval membership is a stable md5 split (~6% of docs); the
      // eval side's distinct grams form a small index that BROADCASTs, so
      // the train side — the 100 TB side — is one narrow explode + a
      // broadcast semi-shaped join + one per-doc count. No shuffle ever
      // carries the corpus; only (doc_id, hit) pairs reach the agg.
      // Short docs (<5 tokens) contribute zero grams by construction
      // (typed empty array, NOT a truncated gram — Spark's sequence(1,0)
      // descends rather than yielding empty, so the guard is explicit).
      (s, d) => {
        val grams = expr(
          "case when size(split(text, ' ')) < 5 then cast(array() as array<string>) " +
            "else array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), " +
            "i -> array_join(slice(split(text, ' '), i, 5), ' '))) end")
        val g = Tables(s, d, "documents").select(
          col("doc_id"),
          (substring(md5(col("doc_id").cast("string")), 1, 2) < "10").as("is_eval"),
          grams.as("grams"))
        val evalGrams = g.filter(col("is_eval"))
          .select(explode(col("grams")).as("gram")).distinct()
        val train = g.filter(!col("is_eval"))
          .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
            explode(col("grams")).as("gram"))
        train.join(broadcast(evalGrams), Seq("gram"))
          .groupBy(col("doc_id"), col("n_grams"))
          .agg(count(lit(1)).as("hits"))
          .select(col("doc_id"), col("hits"), col("n_grams"),
            (col("hits").cast("double") / col("n_grams").cast("double")).as("contamination"))
          .orderBy(col("hits").desc, col("doc_id"))
      },
      Some(
        "WITH g AS (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '10' AS is_eval, " +
          "CASE WHEN len(string_split(text, ' ')) < 5 THEN CAST([] AS VARCHAR[]) " +
          "ELSE list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 4), " +
          "i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) END AS grams FROM documents), " +
          "e AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_eval), " +
          "t AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, unnest(grams) AS gram FROM g WHERE NOT is_eval) " +
          "SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS hits, n_grams, " +
          "CAST(COUNT(*) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS contamination " +
          "FROM t JOIN e USING (gram) GROUP BY t.doc_id, n_grams " +
          "ORDER BY hits DESC, doc_id")
    ),
    Q(
      "q_bloom_decontaminate",
      // Decontamination at the scale where even the eval-side gram index
      // is too big to broadcast as rows: build a FIXED-SIZE bloom filter
      // over the eval grams (graft_bloom_agg — Spark's runtime-filter
      // aggregate exposed as a session function), ship the ~1 MB of bits
      // to every task, and bloom-prefilter the train side's grams so only
      // candidate pairs reach the exact verification join. Driver-gated
      // as an invariant row in the house style: the exact side (same
      // broadcast semi-join as q_decontaminate) is the DuckDB-checked
      // differential, `no_false_negatives` must hold by bloom
      // construction (every exact hit is a bloom hit), and
      // `prefilter_bounded` caps the false-positive overhead at 5% of
      // the train gram volume — a degenerate always-true filter fails
      // the gate. The one driver read is the serialized filter itself
      // (fixed-size sketch, like the HLL/count-min probes).
      (s, d) => {
        val grams = expr(
          "case when size(split(text, ' ')) < 5 then cast(array() as array<string>) " +
            "else array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), " +
            "i -> array_join(slice(split(text, ' '), i, 5), ' '))) end")
        val g = Tables(s, d, "documents").select(
          col("doc_id"),
          (substring(md5(col("doc_id").cast("string")), 1, 2) < "10").as("is_eval"),
          grams.as("grams"))
        val evalGrams = g.filter(col("is_eval"))
          .select(explode(col("grams")).as("gram")).distinct()
        val bfBytes = evalGrams
          .agg(expr("graft_bloom_agg(xxhash64(gram), 100000L, 1000000L)").as("bf"))
          .head().getAs[Array[Byte]]("bf")
        val train = g.filter(!col("is_eval"))
          .select(col("doc_id"), explode(col("grams")).as("gram"))
        val candidates = train
          .filter(call_function("graft_might_contain", lit(bfBytes), xxhash64(col("gram"))))
        // exact verification runs over the (small) candidate set only;
        // the unfiltered exact join below exists to PIN the candidate
        // set from the other side — it is the oracle differential, and
        // at 100 TB it is exactly the join the bloom path avoids
        val exactPairs = train.join(broadcast(evalGrams), Seq("gram"))
        val verified = candidates.join(broadcast(evalGrams), Seq("gram"))
        val nExactDocs = exactPairs.select(col("doc_id")).distinct()
          .agg(count(lit(1)).as("n_contaminated_docs"))
        Gate
          .withCounts(
            nExactDocs,
            "n_exact_pairs" -> exactPairs,
            "n_verified_pairs" -> verified,
            "n_candidates" -> candidates,
            "n_train_grams" -> train)
          .select(
            col("n_contaminated_docs"),
            col("n_exact_pairs"),
            (col("n_verified_pairs") === col("n_exact_pairs")).as("no_false_negatives"),
            (col("n_candidates") <= col("n_exact_pairs") +
              (col("n_train_grams").cast("double") * lit(0.05)).cast("long"))
              .as("prefilter_bounded"))
      },
      Some(
        "WITH g AS (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '10' AS is_eval, " +
          "CASE WHEN len(string_split(text, ' ')) < 5 THEN CAST([] AS VARCHAR[]) " +
          "ELSE list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 4), " +
          "i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) END AS grams FROM documents), " +
          "e AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_eval), " +
          "t AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_eval), " +
          "p AS (SELECT t.doc_id FROM t JOIN e USING (gram)) " +
          "SELECT (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM p) AS n_contaminated_docs, " +
          "(SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_exact_pairs, " +
          "true AS no_false_negatives, true AS prefilter_bounded")
    ),
    Q(
      "q_neg_sample",
      // Deterministic negative sampling for contrastive training: each
      // anchor doc gets k=2 "random" negatives — uniform over the corpus,
      // reproducible across reruns, and free of the global-sort trap. The
      // corpus is arranged on the md5 RING (graft.core.Ranks dense index
      // over the hashed order — content-keyed, so position is
      // pseudo-random w.r.t. any real attribute), and negatives are the
      // docs at fixed ring strides (+1, +7 mod N): a stride in a hashed
      // ring IS a uniform draw, but needs only an equi self-join on the
      // dense index — no per-row RNG to seed-sync across engines, no
      // lag/lead window over a global sort. Emits the negative's source
      // so a downstream filter can drop same-source collisions if the
      // objective wants cross-source negatives.
      (s, d) => {
        val idx = graft.core.Ranks
          .globalIndex(
            Tables(s, d, "documents")
              .select(col("doc_id"), col("source"), md5(col("text").cast("binary")).as("key")),
            Seq(col("key"), col("doc_id")),
            s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("source"), col("gidx"))
        val anchors =
          Gate.withCounts(idx.select(col("doc_id").as("anchor_id"), col("gidx")), "n" -> idx)
        Seq((1, 1L), (2, 7L))
          .map { case (rank, off) =>
            anchors
              .join(
                idx.select(
                  col("doc_id").as("neg_id"), col("source").as("neg_source"),
                  col("gidx").as("neg_gidx")),
                (col("gidx") + lit(off)) % col("n") === col("neg_gidx"))
              .select(
                col("anchor_id"), lit(rank).as("neg_rank"),
                col("neg_id"), col("neg_source"))
          }
          .reduce(_ unionByName _)
          .orderBy("anchor_id", "neg_rank")
      },
      Some(
        "WITH r AS (SELECT doc_id, source, " +
          "ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) - 1 AS gidx FROM documents), " +
          "n AS (SELECT COUNT(*) AS n FROM documents), " +
          "o AS (SELECT 1 AS neg_rank, 1 AS off UNION ALL SELECT 2, 7) " +
          "SELECT a.doc_id AS anchor_id, CAST(o.neg_rank AS INT) AS neg_rank, " +
          "b.doc_id AS neg_id, b.source AS neg_source " +
          "FROM r a CROSS JOIN n CROSS JOIN o " +
          "JOIN r b ON b.gidx = (a.gidx + o.off) % n.n " +
          "ORDER BY anchor_id, neg_rank")
    ),
    Q(
      "q_shuffle_shards",
      // Deterministic global shuffle into training shards: shard = md5
      // bucket of the key, within-shard order = an INDEPENDENT salted md5
      // (so shard assignment and order are uncorrelated), position =
      // row_number inside the shard. This is the reproducible
      // shuffle-before-training op: embarrassingly parallel across
      // shards, identical on any cluster size or engine — rand() could
      // never pass this oracle. At 100 TB the same plan writes each
      // shard's partition directly (partitionBy(shard) + sortWithinPartitions).
      (s, d) => {
        val shard = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 8).as("shard")
        val ord = md5(concat(lit("shuffle:"), col("doc_id").cast("string"))).as("ord")
        Tables(s, d, "documents")
          .select(col("doc_id"), shard, ord)
          .withColumn(
            "pos",
            row_number().over(
              Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))).cast("long"))
          .select(col("shard"), col("pos"), col("doc_id"))
          .orderBy("shard", "pos")
      },
      Some(
        "WITH s AS (SELECT doc_id, CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 8 AS shard, " +
          "md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS ord FROM documents) " +
          "SELECT shard, CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos, doc_id " +
          "FROM s ORDER BY shard, pos")
    ),
    Q(
      "q_budget_alloc",
      // Exact budget apportionment — "give me exactly B documents,
      // proportional to source mass": largest-remainder (Hamilton)
      // allocation in pure integer arithmetic, so the result is
      // deterministic and sums to B exactly (floor shares + the
      // top-remainder sources get the leftovers, remainder desc / source
      // asc tiebreak). The training-mixture counterpart of temperature
      // sampling when the budget must be EXACT. Scale shape: one
      // hash-agg builds the per-source masses; everything after runs
      // over the bounded source dictionary.
      (s, d) => {
        val B = 1000L
        val counts = Tables(s, d, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("n_rows"))
        val tot = counts.agg(sum(col("n_rows")).as("total"))
        val base = counts.crossJoin(broadcast(tot))
          .withColumn("fl", expr(s"(n_rows * $B) div total"))
          .withColumn("rem", col("n_rows") * B - col("fl") * col("total"))
        val leftover = base.agg((lit(B) - sum(col("fl"))).as("leftover"))
        // one row per SOURCE (bounded dictionary); pmod(fl,1) ≡ 0
        // declares the bounded single partition without WindowExec's
        // no-partition warning (foldable keys get optimized away)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("fl"), lit(1L)))
          .orderBy(col("rem").desc, col("source"))
        base
          .withColumn("rk", row_number().over(w))
          .crossJoin(broadcast(leftover))
          .select(
            col("source"), col("n_rows"),
            (col("fl") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
              .as("alloc_docs"))
          .orderBy("source")
      },
      Some(
        "WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source), " +
          "t AS (SELECT SUM(n_rows) AS total FROM c), " +
          "b AS (SELECT source, n_rows, (n_rows * 1000) // total AS fl, " +
          "n_rows * 1000 - ((n_rows * 1000) // total) * total AS rem FROM c, t), " +
          "l AS (SELECT 1000 - SUM(fl) AS leftover FROM b), " +
          "r AS (SELECT b.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM b) " +
          "SELECT source, n_rows, CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_docs " +
          "FROM r, l ORDER BY source")
    ),
    Q(
      "q_sample_exact",
      // Exact-count stratified sample — the composition of
      // q_budget_alloc's Hamilton apportionment with a deterministic
      // md5-ordered take: each source contributes EXACTLY its allocated
      // share of a 1000-doc budget (rate-based sampling like
      // q_stratified hits the rate only in expectation; training
      // mixtures that must sum to a token/doc budget need the exact
      // form). Deterministic: md5(doc_id) is the shuffle key in both
      // engines, doc_id breaks ties. Scale shape: one hash-agg for the
      // allocation (bounded dictionary) + one per-source ranking window
      // (a hash shuffle on source, no global sort).
      (s, d) => {
        val B = 1000L
        val docs = Tables(s, d, "documents")
        val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_rows"))
        val tot = counts.agg(sum(col("n_rows")).as("total"))
        val base = counts.crossJoin(broadcast(tot))
          .withColumn("fl", expr(s"(n_rows * $B) div total"))
          .withColumn("rem", col("n_rows") * B - col("fl") * col("total"))
        val leftover = base.agg((lit(B) - sum(col("fl"))).as("leftover"))
        // the apportionment frame is one row per SOURCE (bounded
        // dictionary, not the corpus); pmod(fl,1) ≡ 0 declares the
        // bounded single partition without WindowExec's no-partition
        // warning (a foldable key would be optimized away)
        val wAlloc = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("fl"), lit(1L)))
          .orderBy(col("rem").desc, col("source"))
        val alloc = base
          .withColumn("rk", row_number().over(wAlloc))
          .crossJoin(broadcast(leftover))
          .select(
            col("source"),
            (col("fl") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
              .as("alloc_docs"))
        val wPick = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        docs.select(col("doc_id"), col("source"))
          .withColumn("pick", row_number().over(wPick).cast("long"))
          .join(broadcast(alloc), Seq("source"))
          .filter(col("pick") <= col("alloc_docs"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
          .orderBy("source")
      },
      Some(
        "WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source), " +
          "t AS (SELECT SUM(n_rows) AS total FROM c), " +
          "b AS (SELECT source, n_rows, (n_rows * 1000) // total AS fl, " +
          "n_rows * 1000 - ((n_rows * 1000) // total) * total AS rem FROM c, t), " +
          "l AS (SELECT 1000 - SUM(fl) AS leftover FROM b), " +
          "a AS (SELECT source, fl + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source) <= leftover " +
          "THEN 1 ELSE 0 END AS alloc_docs FROM b, l), " +
          "p AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source " +
          "ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS pick FROM documents) " +
          "SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_sampled, CAST(MIN(doc_id) AS BIGINT) AS first_doc " +
          "FROM p JOIN a ON p.source = a.source WHERE pick <= alloc_docs " +
          "GROUP BY p.source ORDER BY p.source")
    ),
    Q(
      "q_dict_encode",
      // Categorical dictionary encoding — the feature-prep primitive:
      // dense integer codes assigned by descending frequency (value-asc
      // tiebreak, so the dictionary is deterministic). Scale shape: one
      // hash-agg over the data builds the dictionary; the unpartitioned
      // ranking window runs over the DICTIONARY (bounded cardinality),
      // never the rows — encoding the corpus is then one broadcast-join
      // probe per row. Output is the mapping plus per-code mass, which is
      // also the spec a serving side needs to decode.
      (s, d) => {
        val counts = Tables(s, d, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_rows"))
        // pmod(n_rows,1) ≡ 0: declared bounded single partition (the
        // dictionary), no WindowExec no-partition warning
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("n_rows"), lit(1L)))
          .orderBy(col("n_rows").desc, col("source"), col("lang"))
        counts
          .withColumn("code", (row_number().over(w) - 1).cast("int"))
          .select(col("source"), col("lang"), col("code"), col("n_rows"))
          .orderBy("source", "lang")
      },
      Some(
        "SELECT source, lang, CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, source, lang) - 1 AS INT) AS code, " +
          "n_rows FROM (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_rows " +
          "FROM documents GROUP BY source, lang) ORDER BY source, lang")
    ),
    Q(
      "q_weighted_sample",
      // Weighted sampling via deterministic PRIORITY SAMPLING (Duffield/
      // Lund/Thorup): each row gets priority w/u for a uniform u, and the
      // sample is the top-k priorities — rows are included with
      // probability ~proportional to weight, in ONE pass, with no
      // sequential state. Here u is an md5-derived integer (reproducible
      // runs, same recipe as q_mix_sample) and the priority is computed
      // in exact integer arithmetic — (w * 1e6) div (h+1) — so the
      // ranking is bit-identical across engines; a float w/u would be
      // IEEE-division-safe but the integer form also survives engines
      // with different rounding modes. Weight = n_chars (the "prefer
      // longer documents" curation heuristic). Scale: priorities are
      // per-row algebra on the scan, top-k is TakeOrdered (per-partition
      // heaps, only k rows reach the driver-side merge) — the whole op
      // is one narrow pass over 100 TB with no shuffle.
      (s, d) => {
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            col("n_chars"),
            expr(
              "(n_chars * 1000000) div " +
                "(CAST(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) AS BIGINT) % 1000000 + 1)")
              .as("priority_fp"))
          .orderBy(col("priority_fp").desc, col("doc_id"))
          .limit(200)
      },
      Some(
        "SELECT doc_id, n_chars, (n_chars * 1000000) // " +
          "(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 + 1) AS priority_fp " +
          "FROM documents ORDER BY priority_fp DESC, doc_id LIMIT 200")
    ),
    Q(
      "q_weighted_sample_stratified",
      // Per-source weighted sample — q_weighted_sample's priorities, but
      // top-40 WITHIN each source (the per-domain quota shape curation
      // pipelines actually run: global top-k lets one high-weight source
      // crowd out the rest). The per-key top-k is the row_number()<=k
      // pattern TopKRewrite compiles to the bounded-heap TopKPerKey
      // operator — composing two of the engine's pieces: deterministic
      // integer priorities and the custom whole-operator plan. Only
      // k·sources rows cross the final exchange at any scale.
      (s, d) => {
        val pri = Tables(s, d, "documents")
          .select(
            col("source"), col("doc_id"), col("n_chars"),
            expr(
              "(n_chars * 1000000) div " +
                "(CAST(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) AS BIGINT) % 1000000 + 1)")
              .as("priority_fp"))
        TopKPerKey.topK(pri, Seq(col("source")), Seq(col("priority_fp").desc, col("doc_id")), 40, "rnk")
          .select(col("source"), col("rnk"), col("doc_id"), col("priority_fp"))
          .orderBy("source", "rnk")
      },
      Some(
        "SELECT source, rnk, doc_id, priority_fp FROM (" +
          "SELECT source, doc_id, (n_chars * 1000000) // " +
          "(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 + 1) AS priority_fp, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY (n_chars * 1000000) // " +
          "(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 + 1) DESC, doc_id) AS INT) AS rnk " +
          "FROM documents) WHERE rnk <= 40 ORDER BY source, rnk")
    ),
    Q(
      "q_chunk_overlap",
      // Sliding-window document chunking (context-window prep): every doc
      // explodes into token windows of width 40 with stride 30 — the
      // overlapping-chunk shape RAG indexing and long-doc training both
      // feed on. Starts are sequence(0, n-1, 30), so every token lands in
      // ≥1 chunk and trailing chunks shorten rather than spill; chunk_idx
      // = start/stride is dense per doc. Scale shape: a pure narrow map +
      // generator — fan-out n/30 per doc, ZERO exchanges before the
      // gate's output sort (production writes hash-partitioned without
      // it); chunk text re-joins from the token slice, so no second scan
      // of the corpus.
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")).cast("long"))
        docs
          .select(
            col("doc_id"), col("toks"), col("n"),
            posexplode(expr("sequence(0L, n - 1L, 30L)")).as(Seq("chunk_idx", "start")))
          .select(
            col("doc_id"),
            col("chunk_idx").cast("long").as("chunk_idx"),
            col("start").as("start_tok"),
            least(lit(40L), col("n") - col("start")).as("n_tok"),
            array_join(slice(col("toks"), col("start").cast("int") + 1, lit(40)), " ")
              .as("chunk_text"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
          "len(string_split(text, ' ')) AS n FROM documents), " +
          "c AS (SELECT doc_id, toks, n, unnest(range(0, n, 30)) AS st FROM t) " +
          "SELECT doc_id, CAST(st // 30 AS BIGINT) AS chunk_idx, CAST(st AS BIGINT) AS start_tok, " +
          "CAST(LEAST(40, n - st) AS BIGINT) AS n_tok, " +
          "array_to_string(toks[st + 1 : st + 40], ' ') AS chunk_text " +
          "FROM c ORDER BY doc_id, chunk_idx")
    )
  )
}
