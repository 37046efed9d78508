package graft.queries

import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{Agg, Tables}
import graft.plans.TopKPerKey

/** Incremental-maintenance operators: the two primitives a warehouse uses
  * to avoid full recomputation when new data lands.
  *
  *   - snapshot diff (CDC extraction): full-outer join of old vs new
  *     snapshot on the key → insert / update / delete row classes;
  *   - incremental aggregate refresh: merge yesterday's partial aggregate
  *     state with today's delta batch — associative partials (count, sum)
  *     re-aggregate without touching the base data;
  *   - SCD-2 history build: turn a change log into validity intervals
  *     (valid_from / valid_to / is_current) via lead() — the type-2
  *     dimension the reference's WRITE_TRUNCATE loads throw away.
  *
  * Scale shape: both are one shuffle keyed on the merge key; the diff
  * never materializes either snapshot on the driver, and the refresh
  * reads only the delta plus the (much smaller) aggregate state.
  */
object Incremental {

  val queries: Seq[Q] = Seq(
    Q(
      "q_snapshot_diff",
      // CDC diff between two deterministic snapshots of orders: the "old"
      // snapshot drops keys % 7 == 0 and carries original prices; the
      // "new" snapshot drops keys % 5 == 0 and bumps prices on keys
      // % 3 == 0. Full-outer join on the key classifies every row as
      // insert (old absent), delete (new absent), update (both present,
      // value changed) or unchanged — the extraction step feeding any
      // downstream CDC consumer. One shuffle on the key; change counts
      // roll up per class.
      (s, d) => {
        val o = Tables(s, d, "orders")
        val oldSnap = o.filter(col("o_orderkey") % 7 =!= 0)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("old_price"))
        val newSnap = o.filter(col("o_orderkey") % 5 =!= 0)
          .select(
            col("o_orderkey").as("k"),
            when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")).as("new_price"))
        oldSnap
          .join(newSnap, Seq("k"), "full_outer")
          .select(
            col("k"),
            when(col("old_price").isNull, "insert")
              .when(col("new_price").isNull, "delete")
              .when(col("old_price") =!= col("new_price"), "update")
              .otherwise("unchanged").as("change"))
          .groupBy(col("change"))
          .agg(count(lit(1)).as("n"))
          .orderBy("change")
      },
      Some(
        "WITH oldsnap AS (SELECT o_orderkey AS k, o_totalprice AS old_price FROM orders WHERE o_orderkey % 7 <> 0), " +
          "newsnap AS (SELECT o_orderkey AS k, CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0 " +
          "ELSE o_totalprice END AS new_price FROM orders WHERE o_orderkey % 5 <> 0), " +
          "d AS (SELECT COALESCE(o.k, n.k) AS k, CASE WHEN o.k IS NULL THEN 'insert' " +
          "WHEN n.k IS NULL THEN 'delete' WHEN o.old_price <> n.new_price THEN 'update' " +
          "ELSE 'unchanged' END AS change FROM oldsnap o FULL OUTER JOIN newsnap n ON o.k = n.k) " +
          "SELECT change, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY change ORDER BY change")
    ),
    Q(
      "q_incremental_agg",
      // Incremental aggregate refresh: the base partition (orders before
      // 1999) is pre-aggregated into per-status partial state (n, qsum);
      // the delta batch (1999 onward) aggregates alone and MERGES with
      // the state — counts add, fixed-point sums add. The oracle computes
      // the same totals from scratch over the full table, proving the
      // merge path is lossless. At 100 TB the base state is a few rows
      // per group; only the delta is ever re-scanned.
      (s, d) => {
        val o = Tables(s, d, "orders")
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("o_orderstatus"))
            .agg(
              count(lit(1)).as("n"),
              // keep the partial in exact integer space (the dsum recipe's
              // step 2) so merging partials stays order-independent
              call_function("graft_sum128", round(col("o_totalprice") * 10000).cast("long")).as("fx"))
        val base = partial(o.filter(year(col("o_orderdate")) < 1999))
        val delta = partial(o.filter(year(col("o_orderdate")) >= 1999))
        base.unionByName(delta)
          .groupBy(col("o_orderstatus"))
          .agg(sum(col("n")).as("n_orders"), sum(col("fx")).as("fx"))
          .select(
            col("o_orderstatus"),
            col("n_orders"),
            (col("fx").cast("double") / 10000).as("total_price"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders, " +
          Agg.dsumSql("o_totalprice") + " AS total_price " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "q_schema_evolution",
      // Schema-evolution read: an old batch (2 columns) and a new batch
      // (3 columns — o_orderpriority added) land in the same dataset dir;
      // mergeSchema unions the footers so old rows surface the new column
      // as NULL. The oracle derives the same union from the base table —
      // proving the evolved read loses nothing and invents nothing. Note
      // for 100 TB: schema merge reads every file footer, so production
      // tables should pin the merged schema in a catalog; the READ
      // semantics verified here are what that catalog must reproduce.
      (s, d) => {
        val tmp = graft.core.Tmp.dir("graft_evo")
        val o = Tables(s, d, "orders")
        o.filter(year(col("o_orderdate")) < 1998)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$tmp/batch=1")
        o.filter(year(col("o_orderdate")) >= 1998)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$tmp/batch=2")
        s.read.option("mergeSchema", "true").parquet(tmp)
          .groupBy(col("batch"))
          .agg(
            count(lit(1)).as("n"),
            count(col("o_orderpriority")).as("n_with_priority"),
            countDistinct(col("o_orderpriority")).as("n_priorities"))
          .select(
            col("batch").cast("long").as("batch"),
            col("n"), col("n_with_priority"), col("n_priorities"))
          .orderBy("batch")
      },
      Some(
        "WITH evo AS (SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority, 1 AS batch " +
          "FROM orders WHERE year(o_orderdate) < 1998 " +
          "UNION ALL SELECT o_orderkey, o_totalprice, o_orderpriority, 2 AS batch " +
          "FROM orders WHERE year(o_orderdate) >= 1998) " +
          "SELECT CAST(batch AS BIGINT) AS batch, CAST(COUNT(*) AS BIGINT) AS n, " +
          "CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority, " +
          "CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities " +
          "FROM evo GROUP BY batch ORDER BY batch")
    ),
    Q(
      "q_scd2",
      // SCD-2 (type-2 dimension) history build from a change log: orders
      // is read as "customer priority changed on this date"; last write
      // per (customer, day) wins (row_number over o_orderkey desc), then
      // lead(valid_from) over the customer's date order closes each
      // interval — NULL valid_to marks the current version. Two windows,
      // both partitioned on the dimension key, so the plan is one shuffle
      // on custkey; no interval self-join. This is the history table the
      // reference's WRITE_TRUNCATE reload cannot express.
      (s, d) => scd2History(s, d).orderBy("custkey", "version"),
      Some(
        "WITH perday AS (SELECT o_custkey AS custkey, o_orderdate AS valid_from, o_orderpriority AS priority, " +
          "ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders), " +
          "s AS (SELECT custkey, valid_from, priority FROM perday WHERE rn = 1), " +
          "v AS (SELECT custkey, valid_from, priority, " +
          "lead(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from) AS valid_to, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY valid_from) AS BIGINT) AS version FROM s) " +
          "SELECT custkey, version, priority, valid_from, valid_to, valid_to IS NULL AS is_current " +
          "FROM v ORDER BY custkey, version")
    ),
    Q(
      "q_scd2_lookup",
      // Point-in-time (temporal) dimension lookup — the OTHER half of
      // SCD-2: enrich each shipment with the customer's priority AS OF
      // its ship date. Facts join the history on the equi key PLUS the
      // validity interval (valid_from <= ship < valid_to, NULL-open
      // current version), so Spark plans a hash join on custkey with the
      // range as a post-join filter — no interval self-join, no nested
      // loop. Half-open intervals partition each customer's timeline, so
      // AT MOST ONE version matches per fact (no fan-out; and since a
      // shipment postdates its order, which postdates the customer's
      // first change, exactly one). Dim side is customer-cardinality —
      // broadcast at any realistic scale; the fact table never shuffles.
      // Output is the per-as-of-priority shipment rollup, so the gate
      // checks every fact row's version resolution.
      (s, d) => {
        val hist = scd2History(s, d)
          .select(col("custkey"), col("priority"), col("valid_from"), col("valid_to"))
        val facts = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
          .join(
            Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
        facts
          .join(
            broadcast(hist),
            col("o_custkey") === col("custkey") &&
              col("valid_from") <= col("l_shipdate") &&
              (col("valid_to").isNull || col("l_shipdate") < col("valid_to")),
            "left")
          .groupBy(coalesce(col("priority"), lit("NONE")).as("priority_asof"))
          .agg(count(lit(1)).as("n_ship"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy("priority_asof")
      },
      Some(
        "WITH perday AS (SELECT o_custkey AS custkey, o_orderdate AS valid_from, o_orderpriority AS priority, " +
          "ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders), " +
          "s AS (SELECT custkey, valid_from, priority FROM perday WHERE rn = 1), " +
          "v AS (SELECT custkey, valid_from, priority, " +
          "lead(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from) AS valid_to FROM s), " +
          "f AS (SELECT o_custkey AS custkey, l_shipdate, l_quantity FROM lineitem " +
          "JOIN orders ON l_orderkey = o_orderkey) " +
          "SELECT COALESCE(v.priority, 'NONE') AS priority_asof, " +
          "CAST(COUNT(*) AS BIGINT) AS n_ship, SUM(l_quantity) AS sum_qty " +
          "FROM f LEFT JOIN v ON f.custkey = v.custkey " +
          "AND v.valid_from <= f.l_shipdate AND (v.valid_to IS NULL OR f.l_shipdate < v.valid_to) " +
          "GROUP BY 1 ORDER BY 1")
    ),
    Q(
      "q_merge_apply",
      // CDC change-log APPLY (MERGE upsert/delete with last-write-wins) —
      // the other half of q_snapshot_diff: that query EXTRACTS changes;
      // this one replays a keyed change log (op ∈ U/D/I, monotone seq —
      // the binlog shape the reference's source database emits) onto a
      // target snapshot. Per-key conflict resolution keeps only the
      // highest-seq entry (row_number desc), then one full-outer join
      // applies it: D drops the row (no-op on absent keys), U/I upsert
      // the value. The log is built deterministically from orders with
      // overlapping predicates so every interaction class occurs: U then
      // U (latest wins), U then D (net delete), D then I (re-insert),
      // I-only on keys absent from the target. Scale shape: the latest-
      // wins window and the merge join key on the same column, so AQE
      // plans ONE shuffle of each side and nothing touches the driver —
      // this replaces the reference's WRITE_TRUNCATE full reload with
      // work proportional to the delta, not the table.
      (s, d) => {
        val target = mergeTarget(s, d)
        val latest = TopKPerKey.topK(mergeLog(s, d), Seq(col("k")), Seq(col("seq").desc), 1, "rn").drop("rn")
        target
          .join(latest, Seq("k"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(
            col("k"),
            coalesce(col("status"), col("new_status")).as("status"),
            when(col("op").isNull, col("price")).otherwise(col("val")).as("price"))
          .orderBy("k")
      },
      Some(
        "WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price " +
          "FROM orders WHERE o_orderkey % 7 <> 0), " +
          "chg AS (SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, o_totalprice + 1.0 AS val, " +
          "CAST(NULL AS VARCHAR) AS new_status FROM orders WHERE o_orderkey % 3 = 0 " +
          "UNION ALL SELECT o_orderkey, 2, 'U', o_totalprice + 2.0, NULL FROM orders WHERE o_orderkey % 9 = 0 " +
          "UNION ALL SELECT o_orderkey, 3, 'D', NULL, NULL FROM orders WHERE o_orderkey % 5 = 0 " +
          "UNION ALL SELECT o_orderkey, 4, 'I', o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 7 = 0), " +
          "latest AS (SELECT k, op, val, new_status FROM (SELECT k, seq, op, val, new_status, " +
          "ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM chg) WHERE rn = 1) " +
          "SELECT COALESCE(t.k, l.k) AS k, COALESCE(t.status, l.new_status) AS status, " +
          "CASE WHEN l.op IS NULL THEN t.price ELSE l.val END AS price " +
          "FROM t FULL OUTER JOIN latest l ON t.k = l.k " +
          "WHERE l.op IS NULL OR l.op <> 'D' ORDER BY k")
    ),
    Q(
      "q_erasure_cascade",
      // Right-to-be-forgotten cascade: a tombstone set of customers
      // (deterministic predicate stands in for the deletion-request feed)
      // propagates through the foreign-key chain customer → orders →
      // lineitem via semi-joins, and the query emits the per-table purge
      // audit a compliance run must log. Scale shape: the tombstone set
      // and the purged-orderkey set are tiny relative to the facts, so
      // both semi-joins broadcast; each fact is scanned once and nothing
      // but counts leaves the executors. The same semi-join frontier,
      // flipped to anti-joins, IS the purged rewrite — auditing and
      // deleting share one plan shape.
      (s, d) => {
        val victims = Tables(s, d, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey"))
        val orders = Tables(s, d, "orders")
        val purgedOrders = orders
          .join(victims, orders("o_custkey") === victims("c_custkey"), "left_semi")
          .select(col("o_orderkey"))
        val lineitem = Tables(s, d, "lineitem")
        val purgedItems = lineitem
          .join(purgedOrders, lineitem("l_orderkey") === purgedOrders("o_orderkey"), "left_semi")
        def audit(name: String, total: org.apache.spark.sql.DataFrame,
            purged: org.apache.spark.sql.DataFrame) =
          total.agg(count(lit(1)).as("rows_before"))
            .crossJoin(purged.agg(count(lit(1)).as("rows_purged")))
            .select(
              lit(name).as("table_name"), col("rows_before"), col("rows_purged"),
              (col("rows_before") - col("rows_purged")).as("rows_after"))
        audit("customer", Tables(s, d, "customer"), victims)
          .unionAll(audit("lineitem", lineitem, purgedItems))
          .unionAll(audit("orders", orders, purgedOrders))
          .orderBy("table_name")
      },
      Some(
        "WITH victims AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0), " +
          "po AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM victims)), " +
          "a AS (" +
          "SELECT 'customer' AS table_name, (SELECT COUNT(*) FROM customer) AS rows_before, " +
          "(SELECT COUNT(*) FROM victims) AS rows_purged " +
          "UNION ALL SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem), " +
          "(SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM po)) " +
          "UNION ALL SELECT 'orders', (SELECT COUNT(*) FROM orders), " +
          "(SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM victims))) " +
          "SELECT table_name, rows_before, rows_purged, rows_before - rows_purged AS rows_after " +
          "FROM a ORDER BY table_name")
    )
  )

  /** q_merge_apply's target snapshot (orders minus the % 7 keys), shared
    * with the streaming CDC-apply twin ([[graft.streaming.CdcStream]]).
    */
  def mergeTarget(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables(s, d, "orders")
      .select(
        col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
      .filter(col("k") % 7 =!= 0)

  /** q_merge_apply's deterministic change log — (k, seq, op, val,
    * new_status) with overlapping predicates so every interaction class
    * occurs (see the query comment). Single-sourced here so the batch
    * MERGE and the streaming twin replay the IDENTICAL feed.
    */
  def mergeLog(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"))
    o.filter(col("k") % 3 === 0)
      .select(col("k"), lit(1L).as("seq"), lit("U").as("op"),
        (col("price") + 1.0).as("val"), lit(null).cast("string").as("new_status"))
      .unionByName(o.filter(col("k") % 9 === 0)
        .select(col("k"), lit(2L).as("seq"), lit("U").as("op"),
          (col("price") + 2.0).as("val"), lit(null).cast("string").as("new_status")))
      .unionByName(o.filter(col("k") % 5 === 0)
        .select(col("k"), lit(3L).as("seq"), lit("D").as("op"),
          lit(null).cast("double").as("val"), lit(null).cast("string").as("new_status")))
      .unionByName(o.filter(col("k") % 7 === 0)
        .select(col("k"), lit(4L).as("seq"), lit("I").as("op"),
          col("price").as("val"), col("status").as("new_status")))
  }

  /** The SCD-2 validity-interval history (q_scd2's build), shared with the
    * point-in-time lookup join: last write per (customer, day) wins, then
    * lead(valid_from) closes each interval; NULL valid_to = current.
    */
  private def scd2History(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val perDay = TopKPerKey.topK(
      Tables(s, d, "orders"), Seq(col("o_custkey"), col("o_orderdate")), Seq(col("o_orderkey").desc), 1, "rn")
      .select(
        col("o_custkey").as("custkey"),
        col("o_orderdate").as("valid_from"),
        col("o_orderpriority").as("priority"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("custkey")).orderBy(col("valid_from"))
    perDay
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(
        col("custkey"), col("version"), col("priority"),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }
}
