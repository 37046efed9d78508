package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.core.{Agg, Tables}

/** Time/window operators over the `events` table — SURVEY.md §2.5
  * (sessionization), §2.3 (as-of join), §2.8 (tumbling/sliding windows,
  * retention). Batch forms of the same expressions Structured Streaming
  * uses — for `session_window` that equivalence is GATED, not claimed:
  * [[graft.streaming.SessionStream]] runs the identical aggregate under
  * `readStream` + watermark and SessionStreamSpec asserts bit-equal
  * rows against q_session_window over a flush-sentinel replay.
  */
object Events {

  /** The `events` table with `ts` as a session-zone `TimestampType`.
    * events.parquet stores `ts` as TIMESTAMP(MICROS, isAdjustedToUTC =
    * false), which Spark reads as `TimestampNTZType`; the cast matches
    * DuckDB's `TIMESTAMP` on the oracle side.
    */
  def events(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events").withColumn("ts", col("ts").cast("timestamp"))

  /** Window constants shared by the batch queries and their streaming
    * twins ([[graft.streaming.SessionStream]]) — one source of truth so
    * the two Spark sides cannot desync; the oracle SQL mirrors them
    * (INTERVAL 30 MINUTE / date_trunc('hour')) and the cross-engine hash
    * catches any drift there.
    */
  val SessionGap = "30 minutes"
  val TumblingWidth = "1 hour"
  val SlideStep = "30 minutes"

  private val dsumVal: Column = Agg.dsum(col("value"))

  val queries: Seq[Q] = Seq(
    Q(
      "q_tumbling_window",
      // 1-hour tumbling windows — the Structured Streaming aggregation
      // shape, batch mode. Window start ≡ date_trunc('hour').
      (s, d) =>
        events(s, d)
          .groupBy(window(col("ts"), TumblingWidth), col("event_type"))
          .agg(count(lit(1)).as("cnt"), dsumVal.as("sum_value"))
          .select(col("window.start").cast("timestamp_ntz").as("hour_start"), col("event_type"), col("cnt"), col("sum_value"))
          .orderBy("hour_start", "event_type"),
      Some(
        "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type, " +
          "CAST(COUNT(*) AS BIGINT) AS cnt, " + Agg.dsumSql("value") + " AS sum_value " +
          "FROM events GROUP BY 1, 2 ORDER BY 1, 2")
    ),
    Q(
      "q_sliding_window",
      // 1-hour windows sliding every 30 min: each event lands in exactly 2
      // windows, starts aligned to 30-min epoch boundaries.
      (s, d) =>
        events(s, d)
          .groupBy(window(col("ts"), TumblingWidth, SlideStep))
          .agg(count(lit(1)).as("cnt"), dsumVal.as("sum_value"))
          .select(col("window.start").cast("timestamp_ntz").as("win_start"), col("cnt"), col("sum_value"))
          .orderBy("win_start"),
      Some(
        "WITH w AS (" +
          "SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS win_start, value FROM events " +
          "UNION ALL " +
          "SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000) AS win_start, value FROM events" +
          ") SELECT win_start, CAST(COUNT(*) AS BIGINT) AS cnt, " +
          Agg.dsumSql("value") + " AS sum_value FROM w GROUP BY win_start ORDER BY win_start")
    ),
    Q(
      "q_session_window",
      // 30-min-gap sessionization per user (session_window — batch form of
      // the streaming stateful session op). Session start = min event ts;
      // a gap of exactly 30:00 starts a new session in both engines.
      (s, d) =>
        events(s, d)
          .groupBy(session_window(col("ts"), SessionGap), col("user_id"))
          .agg(count(lit(1)).as("n_events"), dsumVal.as("total_value"))
          .select(
            col("user_id"),
            col("session_window.start").cast("timestamp_ntz").as("session_start"),
            col("n_events"),
            col("total_value"))
          .orderBy("user_id", "session_start"),
      Some(
        "WITH g AS (SELECT user_id, ts, value, " +
          "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL " +
          "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE " +
          "THEN 1 ELSE 0 END AS brk FROM events), " +
          "sess AS (SELECT user_id, ts, value, " +
          "SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
          "SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start, " +
          "CAST(COUNT(*) AS BIGINT) AS n_events, " + Agg.dsumSql("value") + " AS total_value " +
          "FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"),
      headline = true
    ),
    Q(
      "q_asof_join",
      // As-of join: for every purchase, the latest view (<= purchase ts) by
      // the same user. Spark-first plan: union both sides + running
      // last(_, ignoreNulls) window — ONE shuffle on user_id, no range
      // cross-product (SURVEY §2.3 as-of row). Oracle uses DuckDB's native
      // ASOF LEFT JOIN.
      (s, d) => {
        val e = events(s, d)
        val trades = e
          .filter(col("event_type") === "purchase")
          .select(
            col("user_id"), col("ts"), lit(1).as("is_trade"), col("event_id"),
            lit(null).cast("struct<q_ts:timestamp,q_value:double>").as("q"))
        // Dedupe views to one row per (user_id, ts) — the value of the
        // max-event_id row AMONG NON-NULL VALUES wins (null only if all
        // are null) — via an ordered-struct max. This exactly mirrors
        // DuckDB's arg_max (which skips null arguments); a plain max_by
        // would return the newer row's NULL where arg_max returns the
        // older non-null, diverging if values are ever null.
        val quotes = e
          .filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts"))
          .agg(
            max(struct(col("value").isNotNull.as("nn"), col("event_id").as("eid"), col("value").as("v")))
              .getField("v").as("q_value"))
          .select(
            col("user_id"), col("ts"), lit(0).as("is_trade"), lit(null).cast("long").as("event_id"),
            struct(col("ts").as("q_ts"), col("q_value")).as("q"))
        val w = Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts"), col("is_trade"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // (q_ts, q_value) travel as ONE nullable struct through the running
        // last(): both output fields always come from the SAME view row —
        // separate last() calls would skip a null q_value back to an older
        // view while q_ts stayed newer (inconsistent pair vs ASOF).
        trades
          .unionByName(quotes)
          .select(
            col("user_id"), col("ts"), col("is_trade"), col("event_id"),
            last(col("q"), ignoreNulls = true).over(w).as("vq"))
          .filter(col("is_trade") === 1)
          .select(
            col("event_id"), col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
            col("vq").getField("q_ts").cast("timestamp_ntz").as("view_ts"),
            col("vq").getField("q_value").as("view_value"))
          .orderBy("event_id")
      },
      Some(
        "SELECT t.event_id, t.user_id, CAST(t.ts AS TIMESTAMP) AS ts, " +
          "CAST(q.ts AS TIMESTAMP) AS view_ts, q.value AS view_value " +
          "FROM (SELECT * FROM events WHERE event_type = 'purchase') t " +
          "ASOF LEFT JOIN (SELECT user_id, ts, arg_max(value, event_id) AS value " +
          "FROM events WHERE event_type = 'view' GROUP BY user_id, ts) q " +
          "ON t.user_id = q.user_id AND t.ts >= q.ts ORDER BY t.event_id"),
      headline = true
    ),
    Q(
      "q_asof_tolerance",
      // As-of join with a match tolerance (pandas merge_asof(tolerance=)
      // semantics): a view older than 7 days before the purchase does not
      // count — BOTH matched fields null out together, layered on the
      // exact q_asof_join plan (one filter expression, no new shuffle).
      (s, d) => {
        val base = graft.Registry.byName("q_asof_join").run(s, d)
        val within = col("view_ts") >= col("ts") - expr("INTERVAL 7 DAYS")
        base.select(
          col("event_id"), col("user_id"), col("ts"),
          when(within, col("view_ts")).as("view_ts"),
          when(within, col("view_value")).as("view_value"))
          .orderBy("event_id")
      },
      Some(
        "SELECT t.event_id, t.user_id, CAST(t.ts AS TIMESTAMP) AS ts, " +
          "CASE WHEN q.ts >= t.ts - INTERVAL 7 DAYS THEN CAST(q.ts AS TIMESTAMP) END AS view_ts, " +
          "CASE WHEN q.ts >= t.ts - INTERVAL 7 DAYS THEN q.value END AS view_value " +
          "FROM (SELECT * FROM events WHERE event_type = 'purchase') t " +
          "ASOF LEFT JOIN (SELECT user_id, ts, arg_max(value, event_id) AS value " +
          "FROM events WHERE event_type = 'view' GROUP BY user_id, ts) q " +
          "ON t.user_id = q.user_id AND t.ts >= q.ts ORDER BY t.event_id")
    ),
    Q(
      "q_interval_join",
      // Pure interval-overlap join — NO equi key: every purchase inside
      // ANY error event's 10-minute incident window (global incident
      // impact; users unrelated, so nothing equi-joins). Spark plans a
      // bare range predicate between two relations as a nested-loop
      // join — O(n·m) comparisons, the join shape that does NOT survive
      // scale. The engine's shape is BUCKET DECOMPOSITION: with bucket
      // width = the interval length, an interval covers at most 2
      // buckets and a point exactly 1, so emitting each interval to its
      // ≤2 covering buckets turns the plan into an EQUI-join on a dense
      // integer bucket key + a residual filter — hash-partitioned,
      // skew-free, and duplicate-free by construction (a point can only
      // match an interval in the point's own bucket). PlanAuditSpec
      // asserts no nested-loop join survives in the physical plan; the
      // DuckDB oracle checks from the other side via its native
      // range-join (IEJoin) over the raw predicate.
      (s, d) => {
        val e = events(s, d)
        val err = e.filter(col("event_type") === "error").select(
          col("event_id").as("err_id"),
          col("ts").as("t0"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("t1"))
        val pur = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pur_id"), col("ts").as("pt"))
        val bw = 600000000L // bucket width in µs — exactly the window length
        val errB = err.select(
          col("err_id"), col("t0"), col("t1"),
          explode(expr(s"sequence(unix_micros(t0) div $bw, unix_micros(t1) div $bw)")).as("bkt"))
        val purB = pur.withColumn("bkt", expr(s"unix_micros(pt) div $bw"))
        errB.join(purB, "bkt")
          .filter(col("pt") >= col("t0") && col("pt") < col("t1"))
          .select(
            col("err_id"), col("pur_id"),
            col("pt").cast("timestamp_ntz").as("purchase_ts"))
          .orderBy("err_id", "pur_id")
      },
      Some(
        "SELECT e.event_id AS err_id, p.event_id AS pur_id, p.ts AS purchase_ts " +
          "FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS t0, " +
          "CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS t1 " +
          "FROM events WHERE event_type = 'error') e " +
          "JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events " +
          "WHERE event_type = 'purchase') p " +
          "ON p.ts >= e.t0 AND p.ts < e.t1 ORDER BY err_id, pur_id")
    ),
    Q(
      "q_interval_overlap",
      // Interval × interval overlap join (both sides are windows, still
      // no equi key) — q_interval_join generalized. Bucket decomposition
      // again, but with intervals on BOTH sides a pair can now collide
      // in up to two buckets, so the plan uses the LATER-START rule
      // instead of a distinct: two half-open intervals overlap iff the
      // later start lies inside both, so the bucket containing
      // max(a.start, b.start) is listed by both sides and is unique —
      // emitting a pair only from that bucket makes the join
      // duplicate-free with no dedup shuffle at all. Overlap length is
      // exact integer µs (cross-engine safe).
      (s, d) => {
        val e = events(s, d)
        def win(tpe: String, id: String, p: String) =
          e.filter(col("event_type") === tpe).select(
            col("event_id").as(id),
            col("ts").as(s"${p}_s"),
            (col("ts") + expr("INTERVAL 10 MINUTES")).as(s"${p}_e"))
        val bw = 600000000L
        // covering buckets of a half-open [s, e): last bucket holds e−1µs,
        // so a bucket-aligned end does not spill into the next bucket
        def buckets(p: String) = explode(expr(
          s"sequence(unix_micros(${p}_s) div $bw, " +
            s"unix_micros(${p}_e - INTERVAL 1 MICROSECOND) div $bw)")).as("bkt")
        val a = win("error", "err_id", "err").select(col("*"), buckets("err"))
        val b = win("click", "clk_id", "clk").select(col("*"), buckets("clk"))
        a.join(b, "bkt")
          .filter(col("err_s") < col("clk_e") && col("clk_s") < col("err_e"))
          .filter(col("bkt") === expr(s"unix_micros(greatest(err_s, clk_s)) div $bw"))
          .select(
            col("err_id"), col("clk_id"),
            greatest(col("err_s"), col("clk_s")).cast("timestamp_ntz").as("ov_start"),
            (expr("unix_micros(least(err_e, clk_e))") -
              expr("unix_micros(greatest(err_s, clk_s))")).as("ov_micros"))
          .orderBy("err_id", "clk_id")
      },
      Some(
        "WITH a AS (SELECT event_id AS err_id, CAST(ts AS TIMESTAMP) AS s, " +
          "CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS e FROM events WHERE event_type = 'error'), " +
          "b AS (SELECT event_id AS clk_id, CAST(ts AS TIMESTAMP) AS s, " +
          "CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS e FROM events WHERE event_type = 'click') " +
          "SELECT err_id, clk_id, greatest(a.s, b.s) AS ov_start, " +
          "epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)) AS ov_micros " +
          "FROM a JOIN b ON a.s < b.e AND b.s < a.e ORDER BY err_id, clk_id")
    ),
    Q(
      "q_retention",
      // Retention cutoff (main.tf:72-79 lifecycle semantics): keep only the
      // trailing 7 days relative to the dataset's max ts; daily rollup.
      (s, d) => {
        val e = events(s, d)
        val mx = e.agg(max(col("ts")).as("mx"))
        e.crossJoin(broadcast(mx))
          .filter(col("ts") >= col("mx") - expr("INTERVAL 7 DAYS"))
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("cnt"), dsumVal.as("sum_value"))
          .orderBy("day")
      },
      Some(
        "SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt, " +
          Agg.dsumSql("value") + " AS sum_value FROM events " +
          "WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY " +
          "GROUP BY 1 ORDER BY 1")
    ),
    Q(
      "q_window_range",
      // Time-based RANGE frame: per event, count + deterministic sum of
      // the trailing hour's events for the same user — the sliding
      // aggregate shape that needs no self-join/explode. Frame bound on
      // epoch SECONDS (truncating cast in both engines) so frame
      // membership is integer-exact; count/sum are tie-insensitive.
      (s, d) => {
        import org.apache.spark.sql.types.DoubleType
        val sec = col("ts").cast("long")
        val w = Window.partitionBy(col("user_id")).orderBy(sec).rangeBetween(-3600, 0)
        // graft_sum128 works per frame too (declarative aggregate under
        // WindowExec's AggregateProcessor) — same exact integers as the
        // decimal-buffer sum, without its per-row Decimal allocation
        val fx = round(col("value") * 10000).cast("long")
        events(s, d)
          .select(
            col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_1h"),
            (call_function("graft_sum128", fx).over(w).cast(DoubleType) / 10000).as("sum_1h"))
          .orderBy("event_id")
      },
      Some(
        "SELECT event_id, user_id, CAST(COUNT(*) OVER w AS BIGINT) AS n_1h, " +
          "CAST(SUM(CAST(ROUND(value * 10000) AS HUGEINT)) OVER w AS DOUBLE) / 10000 AS sum_1h " +
          "FROM events WINDOW w AS (PARTITION BY user_id " +
          // floor(), not a bare BIGINT cast: DuckDB double→int casts ROUND
          // half-away while Spark's timestamp→long cast truncates — rows
          // with fractional seconds ≥ .5 would land one frame off.
          "ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) " +
          "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) ORDER BY event_id"),
      headline = true
    ),
    Q(
      "q_funnel",
      // Ordered 3-stage funnel (view → click after view → purchase after
      // that click) with per-stage user counts and conversion rate. Three
      // chained window mins over the SAME user partition — Catalyst plans
      // one Exchange(user_id) with stacked Window operators, so funnel
      // depth does not add shuffles. Timestamps compare at µs on both
      // engines (events() truncates ns → µs; oracle casts TIMESTAMP_NS →
      // TIMESTAMP).
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
        val staged = events(s, d)
          .select(col("user_id"), col("ts"), col("event_type"))
          .withColumn("first_view", min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn(
            "first_click",
            min(when(col("event_type") === "click" && col("ts") >= col("first_view"), col("ts"))).over(w))
          .withColumn(
            "first_purchase",
            min(when(col("event_type") === "purchase" && col("ts") >= col("first_click"), col("ts"))).over(w))
        staged
          .select(col("user_id"), col("first_view"), col("first_click"), col("first_purchase"))
          .distinct()
          .agg(
            count(lit(1)).as("n_users"),
            count(col("first_view")).as("viewed"),
            count(col("first_click")).as("clicked_after_view"),
            count(col("first_purchase")).as("purchased_after_click"),
            (count(col("first_purchase")).cast("double") / count(col("first_view")).cast("double"))
              .as("conversion"))
      },
      Some(
        "WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events), " +
          "x AS (SELECT user_id, ts, event_type, " +
          "MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS first_view FROM e), " +
          "y AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= first_view THEN ts END) " +
          "OVER (PARTITION BY user_id) AS first_click FROM x), " +
          "z AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= first_click THEN ts END) " +
          "OVER (PARTITION BY user_id) AS first_purchase FROM y), " +
          "u AS (SELECT DISTINCT user_id, first_view, first_click, first_purchase FROM z) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS n_users, CAST(COUNT(first_view) AS BIGINT) AS viewed, " +
          "CAST(COUNT(first_click) AS BIGINT) AS clicked_after_view, " +
          "CAST(COUNT(first_purchase) AS BIGINT) AS purchased_after_click, " +
          "CAST(COUNT(first_purchase) AS DOUBLE) / CAST(COUNT(first_view) AS DOUBLE) AS conversion FROM u"),
      headline = true
    ),
    Q(
      "q_gap_fill",
      // Time-series gap filling + forward fill: build each user's daily
      // date spine with sequence() (no calendar table, no cross join to a
      // global range — each user's spine spans only their own activity),
      // left-join the daily rollup, and carry the last known value across
      // missing days with last(ignoreNulls) over an ordered window. The
      // standard feature-engineering densification step. One shuffle on
      // user_id, reused by the spine explode, join, and window.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, d).filter(col("user_id") < 10)
        val daily = ev
          .groupBy(col("user_id"), col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("n_events"), dsumVal.as("day_value"))
        val spine = daily
          .groupBy(col("user_id"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(
            col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine
          .join(daily, Seq("user_id", "day"), "left")
          .select(
            col("user_id"),
            col("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"),
            col("day_value").isNull.as("is_gap"))
          .orderBy("user_id", "day")
      },
      Some(
        "WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events WHERE user_id < 10), " +
          "daily AS (SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_events, " +
          Agg.dsumSql("value") + " AS day_value FROM e GROUP BY 1, 2), " +
          "bounds AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1), " +
          "spine AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), " +
          "CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds), " +
          "j AS (SELECT s.user_id, s.day, COALESCE(d.n_events, 0) AS n_events, d.day_value " +
          "FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day) " +
          "SELECT user_id, day, n_events, " +
          "last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value, " +
          "day_value IS NULL AS is_gap FROM j ORDER BY user_id, day")
    )
  )
}
