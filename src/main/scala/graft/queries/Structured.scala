package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Q
import graft.core.Tables
import graft.plans.TopKPerKey

/** Nested types, deterministic sampling, and exact statistical moments —
  * round-3 widening of the relational surface (SURVEY §2.2/§2.4/§2.7).
  *
  * Struct/map queries exercise Spark's nested-type functions (struct
  * build/extract, array-of-struct access, map build/lookup/keys) but emit
  * FLAT scalar columns, so the DuckDB oracle can state the equivalent
  * result relationally without dialect-specific nested syntax — the gate
  * compares values, not plans.
  *
  * The moments query extends the `graft.core.Agg` fixed-point recipe to
  * second-order statistics: every sum (Σx, Σx², Σxy …) is an exact integer
  * in both engines, cast to double ONCE, and the closed-form variance /
  * correlation formulas are written with identical structure on both sides
  * so each IEEE operation matches bit-for-bit. At scale each query is a
  * single partial+final hash aggregate (map-side combine on all sums).
  */
object Structured {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  val queries: Seq[Q] = Seq(
    Q(
      "q_struct_ops",
      // Struct build → field extraction → array-of-struct element access.
      (s, d) =>
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            struct(col("o_custkey").as("cust"), col("o_totalprice").as("total")).as("od"),
            array(
              struct(col("o_orderpriority").as("tag"), lit(1L).as("rank")),
              struct(col("o_orderstatus").as("tag"), lit(2L).as("rank"))).as("tags"))
          .select(
            col("o_orderkey"),
            col("od").getField("cust").as("cust"),
            col("od").getField("total").as("total"),
            element_at(col("tags"), 1).getField("tag").as("tag1"),
            element_at(col("tags"), 2).getField("tag").as("tag2"),
            size(col("tags")).cast("long").as("n_tags"),
            when(col("od").getField("total") > 150000, lit("big"))
              .otherwise(lit("small")).as("size_class"))
          .orderBy("o_orderkey"),
      Some(
        "SELECT o_orderkey, o_custkey AS cust, o_totalprice AS total, " +
          "o_orderpriority AS tag1, o_orderstatus AS tag2, CAST(2 AS BIGINT) AS n_tags, " +
          "CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS size_class " +
          "FROM orders ORDER BY o_orderkey")
    ),
    Q(
      "q_map_ops",
      // Map build (insertion-ordered keys) → typed lookup → key listing.
      (s, d) =>
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            map(
              lit("qty"), col("l_quantity"),
              lit("disc"), col("l_discount")).as("m"))
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            element_at(col("m"), "qty").as("qty"),
            element_at(col("m"), "disc").as("disc"),
            try_element_at(col("m"), lit("missing")).as("missing"),
            size(col("m")).cast("long").as("m_size"),
            array_join(map_keys(col("m")), ",").as("m_keys"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some(
        "SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_discount AS disc, " +
          "CAST(NULL AS DOUBLE) AS missing, CAST(2 AS BIGINT) AS m_size, " +
          "'qty,disc' AS m_keys FROM lineitem ORDER BY l_orderkey, l_linenumber")
    ),
    Q(
      "q_histogram",
      // Integer-binned value histogram (the profile/debug query every
      // pipeline runs): floor division is exact in both engines, so bins
      // and counts hash-match without any float recipe. One count shuffle
      // with map-side combine at any scale.
      (s, d) =>
        t(s, d, "orders")
          .select(floor(col("o_totalprice") / 20000).cast("long").as("bin"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"))
          .orderBy("bin"),
      Some(
        "SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bin, " +
          "CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY bin ORDER BY bin")
    ),
    Q(
      "q_json_extract",
      // JSON build → parse round-trip per engine: each engine renders its
      // OWN json from the same row and extracts typed fields back; the
      // compared output is the extracted values, so engine-specific JSON
      // whitespace never enters the hash.
      (s, d) =>
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            to_json(struct(
              col("o_custkey").as("cust"),
              col("o_orderstatus").as("status"),
              struct(col("o_orderpriority").as("pr")).as("meta"))).as("j"))
          .select(
            col("o_orderkey"),
            get_json_object(col("j"), "$.cust").cast("long").as("cust"),
            get_json_object(col("j"), "$.status").as("status"),
            get_json_object(col("j"), "$.meta.pr").as("pr"))
          .orderBy("o_orderkey"),
      Some(
        "WITH j AS (SELECT o_orderkey, to_json(struct_pack(cust := o_custkey, " +
          "status := o_orderstatus, meta := struct_pack(pr := o_orderpriority))) AS j FROM orders) " +
          "SELECT o_orderkey, CAST(json_extract_string(j, '$.cust') AS BIGINT) AS cust, " +
          "json_extract_string(j, '$.status') AS status, " +
          "json_extract_string(j, '$.meta.pr') AS pr FROM j ORDER BY o_orderkey")
    ),
    Q(
      "q_sample_hash",
      // Deterministic ~8% sample: md5 of the key is identical in every
      // engine and on every cluster size — unlike rand()/TABLESAMPLE, the
      // sample is reproducible and embarrassingly parallel (pure per-row
      // filter, no shuffle; predicate evaluates post-scan with column
      // pruning intact). The standard trick for carving stable train/eval
      // splits out of a 100 TB corpus.
      (s, d) =>
        t(s, d, "orders")
          .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < lit("14"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey"),
      Some(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
          "WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '14' " +
          "ORDER BY o_orderkey")
    ),
    Q(
      "q_fold_split",
      // Deterministic k-fold assignment (cross-validation / sharded
      // training splits) with EXACT-equal folds, identical on any
      // engine/cluster. The oracle spells it as global NTILE; the engine
      // plan is the two-pass range-partitioned rank
      // (core/Ranks.globalNtile) — the md5 sort key range-repartitions
      // across the cluster, gidx comes from per-partition sequences + a
      // P-row offsets scan, and the tile is a pure expression of
      // (gidx, N). Exact NTILE semantics without the single-partition
      // window sort the naive plan pays (PlanAuditSpec pins the absence).
      // The hash-range cousin q_fold_split_hash stays the zero-shuffle
      // form when ~equal folds suffice.
      (s, d) => {
        val keyed = t(s, d, "orders")
          .select(
            col("o_totalprice"),
            md5(col("o_orderkey").cast("string")).as("__fkey"))
        graft.core.Ranks
          .globalNtile(keyed, Seq(col("__fkey")), 5, s.sparkContext.defaultParallelism)
          .withColumn("fold", col("__ntile").cast("long"))
          .groupBy(col("fold"))
          .agg(
            count(lit(1)).as("n"),
            graft.core.Agg.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("fold")
      },
      Some(
        "WITH f AS (SELECT o_totalprice, CAST(NTILE(5) OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR))) AS BIGINT) AS fold FROM orders) " +
          "SELECT fold, CAST(COUNT(*) AS BIGINT) AS n, " +
          graft.core.Agg.dsumSql("o_totalprice") + " AS sum_price " +
          "FROM f GROUP BY fold ORDER BY fold")
    ),
    Q(
      "q_fold_split_hash",
      // The SCALE-SAFE k-fold: fold = (md5-prefix of the key) mod k — a
      // pure per-row expression, embarrassingly parallel, no global sort
      // or window anywhere (contrast q_fold_split's NTILE, which pays a
      // single-partition sort for exactly-equal folds). Folds are only
      // ~equal (65536 mod 5 skew ≈ 0.002%) — the tradeoff a 100 TB
      // pipeline should take. Cross-engine bridge: Spark `conv(hex,16,10)`
      // and DuckDB `CAST('0x'||hex AS BIGINT)` parse the same md5 prefix
      // to the same integer.
      (s, d) =>
        t(s, d, "orders")
          .withColumn(
            "fold",
            conv(substring(md5(col("o_orderkey").cast("string")), 1, 4), 16, 10)
              .cast("long") % 5)
          .groupBy(col("fold"))
          .agg(
            count(lit(1)).as("n"),
            graft.core.Agg.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("fold"),
      Some(
        "WITH f AS (SELECT o_totalprice, " +
          "CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT) % 5 AS fold FROM orders) " +
          "SELECT fold, CAST(COUNT(*) AS BIGINT) AS n, " +
          graft.core.Agg.dsumSql("o_totalprice") + " AS sum_price " +
          "FROM f GROUP BY fold ORDER BY fold")
    ),
    Q(
      "q_stats_moments", {
        (s, d) =>
          // Exact integer second-order sums (decimal in Spark, HUGEINT in
          // DuckDB), one cast to double, then identical closed-form
          // formulas — bit-deterministic stddev/variance/corr/covariance.
          // Per-row arithmetic stays in LONG space (the double→decimal
          // cast is a per-row string allocation and a decimal×decimal
          // multiply is a per-row BigDecimal — see Agg docs); only the
          // accumulators are decimal. Safe per row at ANY corpus size:
          // the fixed-point values are data-domain-bounded (qty ≤ 50 →
          // 5e5, price ≤ ~1.1e5 → 1.1e9), so the largest product y·y ≤
          // 1.3e18 < 2^63 — the bound is per-row and scale-invariant.
          val lx = round(col("l_quantity") * 10000).cast("long")
          val ly = round(col("l_extendedprice") * 10000).cast("long")
          def acc(v: Column) = call_function("graft_sum128", v)
          val agged = t(s, d, "lineitem")
            .groupBy(col("l_returnflag"))
            .agg(
              count(lit(1)).as("n"),
              acc(lx).as("sx"), acc(ly).as("sy"),
              acc(lx * lx).as("sxx"), acc(lx * ly).as("sxy"), acc(ly * ly).as("syy"))
          val n = col("n").cast("double")
          val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
          val sxx = col("sxx").cast("double"); val sxy = col("sxy").cast("double")
          val syy = col("syy").cast("double")
          agged.select(
            col("l_returnflag"),
            col("n"),
            (sx / n / lit(10000.0)).as("mean_qty"),
            ((sxx - sx * sx / n) / (n - lit(1.0)) / lit(1.0e8)).as("var_qty"),
            sqrt((sxx - sx * sx / n) / (n - lit(1.0)) / lit(1.0e8)).as("stddev_qty"),
            ((n * sxy - sx * sy) /
              (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("corr_qp"),
            ((sxy - sx * sy / n) / (n - lit(1.0)) / lit(1.0e8)).as("covar_qp"))
            .orderBy("l_returnflag")
      },
      Some(
        "WITH m AS (SELECT l_returnflag, COUNT(*) AS n, " +
          "SUM(CAST(ROUND(l_quantity * 10000) AS HUGEINT)) AS sx, " +
          "SUM(CAST(ROUND(l_extendedprice * 10000) AS HUGEINT)) AS sy, " +
          "SUM(CAST(ROUND(l_quantity * 10000) AS HUGEINT) * CAST(ROUND(l_quantity * 10000) AS HUGEINT)) AS sxx, " +
          "SUM(CAST(ROUND(l_quantity * 10000) AS HUGEINT) * CAST(ROUND(l_extendedprice * 10000) AS HUGEINT)) AS sxy, " +
          "SUM(CAST(ROUND(l_extendedprice * 10000) AS HUGEINT) * CAST(ROUND(l_extendedprice * 10000) AS HUGEINT)) AS syy " +
          "FROM lineitem GROUP BY l_returnflag) " +
          "SELECT l_returnflag, n, " +
          "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS mean_qty, " +
          "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e8 AS var_qty, " +
          "sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e8) AS stddev_qty, " +
          "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
          "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
          "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qp, " +
          "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e8 AS covar_qp " +
          "FROM m ORDER BY l_returnflag"),
      headline = true
    ),
    Q(
      "q_variant",
      // Spark 4 VARIANT ingestion of semi-structured payloads: parse_json
      // into the binary variant encoding once, then typed variant_get
      // path extraction — the columnar-shredding-friendly way to carry
      // heterogeneous JSON through a 100 TB pipeline (parse once, extract
      // many, no per-query string re-parse). A missing path yields NULL,
      // not an error, in both engines.
      (s, d) =>
        Events.events(s, d)
          .select(col("event_id"), parse_json(col("props")).as("v"))
          .select(
            col("event_id"),
            expr("variant_get(v, '$.k', 'bigint')").as("k"),
            expr("variant_get(v, '$.missing', 'string')").as("missing"))
          .orderBy("event_id"),
      Some(
        "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k, " +
          "props->>'$.missing' AS missing FROM events ORDER BY event_id")
    ),
    Q(
      "q_stratified",
      // EXACT-count stratified sampling: exactly 50 customers per market
      // segment, chosen by rank over a deterministic md5 order — the
      // third sampling primitive alongside rate-based (q_mix_sample) and
      // threshold-based (q_sample_hash). Guaranteed quota per stratum,
      // reproducible anywhere; one shuffle keyed on the (bounded) stratum
      // column. Use when the downstream consumer needs fixed class sizes
      // (eval sets, per-language calibration samples).
      (s, d) => {
        TopKPerKey.topK(
          t(s, d, "customer"), Seq(col("c_mktsegment")),
          Seq(md5(concat(lit("strat:"), col("c_custkey").cast("string"))), col("c_custkey")), 50, "rn")
          .select(col("c_mktsegment"), col("rn").cast("long").as("rn"), col("c_custkey"))
          .orderBy("c_mktsegment", "rn")
      },
      Some(
        "WITH r AS (SELECT c_mktsegment, c_custkey, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment " +
          "ORDER BY md5('strat:' || CAST(c_custkey AS VARCHAR)), c_custkey) AS BIGINT) AS rn FROM customer) " +
          "SELECT c_mktsegment, rn, c_custkey FROM r WHERE rn <= 50 ORDER BY c_mktsegment, rn")
    ),
    Q(
      "q_skyline",
      // 2D skyline (Pareto frontier, minimize both): an order is on the
      // frontier iff no lex-earlier row in (price asc, date asc, key asc)
      // order has date <= its date — an exclusive-frame running min, not
      // the naive O(n²) dominance self-join. Strict dominance;
      // lexicographic-first survives among ties. Two-level composition so
      // the full table NEVER passes through one window task (round 16 —
      // previously a global single-partition window): (1) rows hash into
      // P buckets and each bucket runs the running-min rule over ITS rows
      // in global lex order — a row its own bucket eliminates is globally
      // dominated (the eliminator is lex-earlier globally too); (2) the
      // surviving pre-frontier re-runs the exact rule globally, which is
      // sufficient because any eliminator is itself dominated only by
      // lex-earlier rows with dates at least as small, so some survivor
      // re-eliminates everything it eliminated (dominance is transitive).
      // Pass 2's frame is the per-bucket pre-frontier union — staircase-
      // small on any real distribution (pmod(b,1) ≡ 0 declares it one
      // bounded partition without the WindowExec no-partition warning).
      (s, d) => {
        val lex = Seq(col("o_totalprice").asc, col("o_orderdate").asc, col("o_orderkey").asc)
        val pre = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__b")).orderBy(lex: _*)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val fin = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("__b"), lit(1))).orderBy(lex: _*)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
          .withColumn(
            "__b", pmod(hash(col("o_orderkey")), lit(s.sparkContext.defaultParallelism)))
          .withColumn("__pmin", min(col("o_orderdate")).over(pre))
          .filter(col("__pmin").isNull || col("o_orderdate") < col("__pmin"))
          .withColumn("prev_min_date", min(col("o_orderdate")).over(fin))
          .filter(col("prev_min_date").isNull || col("o_orderdate") < col("prev_min_date"))
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
          .orderBy("o_totalprice")
      },
      Some(
        "WITH r AS (SELECT o_orderkey, o_totalprice, o_orderdate, " +
          "min(o_orderdate) OVER (ORDER BY o_totalprice, o_orderdate, o_orderkey " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min_date FROM orders) " +
          "SELECT o_orderkey, o_totalprice, o_orderdate FROM r " +
          "WHERE prev_min_date IS NULL OR o_orderdate < prev_min_date ORDER BY o_totalprice")
    ),
    Q(
      "q_global_index",
      // Dense 0-based global ordered index WITHOUT a global single-partition
      // sort — the scale-safe form of `row_number() OVER (ORDER BY ...)`,
      // which Spark plans as one-partition WindowExec (the q_fold_split
      // caveat, generalized). The three-step ranking (range repartition →
      // in-partition sequence → P-row offset cumsum, one reused exchange)
      // lives in graft.core.Ranks — see its scaladoc; PlanAuditSpec
      // executes this query and asserts the reused range exchange. At 9.6M
      // rows it ran 10.9× faster than the window form (PLANS.md,
      // q_global_index). Total order is (md5(text), doc_id): unique, so the rank is
      // well-defined and the DuckDB global-window oracle must agree
      // exactly.
      (s, d) =>
        graft.core.Ranks
          .globalIndex(
            t(s, d, "documents").select(col("doc_id"), md5(col("text").cast("binary")).as("key")),
            Seq(col("key"), col("doc_id")),
            s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("gidx"))
          .orderBy("doc_id"),
      Some(
        "SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) - 1 AS BIGINT) AS gidx " +
          "FROM documents ORDER BY doc_id")
    ),
    Q(
      "q_quantile_bins",
      // Equal-frequency feature discretization (decile binning) — the
      // quantile-bucketing step feature pipelines run before training.
      // The scale-safe shape: boundaries are computed ONCE as a 1-row
      // aggregate, BROADCAST, and every row assigns its bin with a pure
      // expression (count of boundaries ≤ value) — no per-row window, no
      // global sort, no second shuffle of the corpus. Exact interpolated
      // percentile here (type-7, bit-equal to DuckDB's quantile_cont per
      // q_percentile); at 100 TB swap the boundary aggregate for the
      // mergeable approx_percentile sketch (gated by q_approx_percentile)
      // — the per-row assignment side is unchanged. Bin populations are
      // ~N/10 by construction; boundary comparisons are double compares
      // of identical doubles, so bins match exactly cross-engine.
      (s, d) => {
        val bnds = t(s, d, "orders").agg(
          expr(
            "percentile(o_totalprice, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
            .as("bnds"))
        t(s, d, "orders")
          .crossJoin(broadcast(bnds))
          .withColumn(
            "bin",
            expr(
              "CAST(aggregate(bnds, 0, (acc, b) -> acc + IF(o_totalprice >= b, 1, 0)) AS BIGINT)"))
          .groupBy(col("bin"))
          .agg(
            count(lit(1)).as("n"),
            min(col("o_totalprice")).as("lo"),
            max(col("o_totalprice")).as("hi"))
          .orderBy("bin")
      },
      Some(
        "WITH b AS (SELECT quantile_cont(o_totalprice, " +
          "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds FROM orders) " +
          "SELECT CAST(list_sum(list_transform(bnds, " +
          "t -> CASE WHEN o_totalprice >= t THEN 1 ELSE 0 END)) AS BIGINT) AS bin, " +
          "CAST(COUNT(*) AS BIGINT) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi " +
          "FROM orders CROSS JOIN b GROUP BY 1 ORDER BY 1")
    ),
    Q(
      "q_profile",
      // Column-profile report — the data-quality summary a pipeline emits
      // per ingest batch: row count, null count, exact distinct count,
      // min/max per column. One scan UNPIVOTs the profiled columns into
      // (col_name, value) pairs, so a single hash aggregate keyed on
      // col_name serves every column — adding a column to the profile
      // adds a stack branch, not a scan. Only exact aggregates (counts,
      // ndv, min/max — no float sums), so the report is deterministic by
      // construction. The oracle computes each column's row independently
      // — same result, different plan, which is the point of a
      // differential. Scale: expand ×C rows through one shuffle; for
      // wide tables at 100 TB, profile column groups per pass or swap
      // ndv to the HLL sketch (q_approx_distinct's path).
      (s, d) =>
        t(s, d, "lineitem")
          .select(
            expr(
              "stack(4, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice, " +
                "'l_discount', l_discount, 'l_tax', l_tax) AS (col_name, value)"))
          .groupBy(col("col_name"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col("value")).as("ndv"),
            min(col("value")).as("vmin"),
            max(col("value")).as("vmax"))
          .orderBy("col_name"),
      Some(
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(c =>
            s"SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
              s"CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null, " +
              s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv, " +
              s"min($c) AS vmin, max($c) AS vmax FROM lineitem")
          .mkString("", " UNION ALL ", " ORDER BY col_name"))
    )
  )
}
