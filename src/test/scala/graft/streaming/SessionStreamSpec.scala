package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Registry, SparkSpec}

/** The built-in-operator twin gate: streaming session_window + watermark
  * over a time-ordered replay of the fixture events must emit exactly
  * the batch q_session_window rows (bit-equal doubles), with a flush
  * sentinel closing the final sessions.
  */
class SessionStreamSpec extends SparkSpec {

  // parquet round-trips render timestamp_ntz as LocalDateTime ("T"-sep,
  // no trailing seconds) while batch collect renders Timestamp — compare
  // on a canonical minute-precision form (all fixture times are :00 s)
  private def norm(x: Any): String =
    String.valueOf(x).replace('T', ' ').take(16)

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(
      key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming sessions equal q_session_window bit-for-bit under a flush sentinel") {
    import spark.implicits._
    withRocksDb {
      val dir = sf()
      val root = Files.createTempDirectory("session-stream").toString
      val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
      // session-zone timestamps, as the batch query reads them; thin to
      // the aggregate's columns
      val ev = graft.queries.Events.events(spark, dir)
        .select(col("user_id"), col("ts"), col("value"))
      val (tMin, tMax) = ev.agg(min(col("ts")), max(col("ts")))
        .as[(Timestamp, Timestamp)].collect().head
      val span = tMax.getTime - tMin.getTime
      val t1 = new Timestamp(tMin.getTime + span / 3)
      val t2 = new Timestamp(tMin.getTime + 2 * span / 3)

      def runPass(): Unit = {
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in)
        val q = SessionStream.sessions(spark, stream, watermarkDelay = "1 second")
          .writeStream.format("parquet").outputMode("append")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        StreamDrain.boundedAwait(q)
      }
      // time-ordered replay: three disjoint time ranges, one run each so
      // the watermark only ever advances between batches (no late drops)
      ev.filter(col("ts") < lit(t1)).repartition(1).write.mode("append").parquet(in)
      runPass()
      ev.filter(col("ts") >= lit(t1) && col("ts") < lit(t2)).repartition(1)
        .write.mode("append").parquet(in)
      runPass()
      ev.filter(col("ts") >= lit(t2)).repartition(1).write.mode("append").parquet(in)
      runPass()
      // flush sentinel: reserved user −1, 2 h past the horizon — its
      // arrival pushes the watermark over every real session's close
      Seq((-1L, new Timestamp(tMax.getTime + 2 * 3600 * 1000L), 0.0))
        .toDF("user_id", "ts", "value").repartition(1).write.mode("append").parquet(in)
      runPass()

      val got = spark.read.parquet(out)
        .filter(col("user_id") =!= -1L)
        .collect()
        .map(r => (
          r.getAs[Long]("user_id"), String.valueOf(r.getAs[Any]("session_start")),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
        .sortBy(t => (t._1, t._2)).toSeq
      val want = Registry.byName("q_session_window").run(spark, dir).collect()
        .map(r => (
          r.getAs[Long]("user_id"), String.valueOf(r.getAs[Any]("session_start")),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(want.nonEmpty)
      assert(got.size == want.size, s"session counts diverge: ${got.size} vs ${want.size}")
      assert(got == want, {
        val diff = got.zip(want).filter { case (a, b) => a != b }.take(5)
        s"sessions diverge (first diffs): $diff"
      })
    }
  }

  test("late data beyond the watermark diverges from batch by EXACTLY the late rows (tumbling)") {
    import spark.implicits._
    withRocksDb {
      // Synthetic replay with a controlled late row — the honest gate for
      // the documented streaming trade (round-12 verdict #3): a row whose
      // WINDOW already closed (window end <= watermark) is dropped; a late
      // row into a still-open window is folded. The divergence from batch
      // is asserted as a computed set difference, not a tolerance.
      def t(hhmm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
      val onTime = Seq(
        ("a", t("09:10"), 1.5), // window 09:00 — closes when the watermark passes 10:00
        ("a", t("09:40"), 2.5), // window 09:00
        ("a", t("10:30"), 4.0)) // window 10:00 — still open after batch 1
      val lateDropped = ("a", t("09:20"), 8.0) // closed window 09:00 -> DROPPED
      val lateFolded = ("a", t("10:05"), 16.0) // ts < watermark but window 10:00 open -> FOLDED
      val sentinel = ("__sentinel", t("23:00"), 0.0)

      val root = Files.createTempDirectory("tumbling-late").toString
      val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
      val schema = onTime.toDF("event_type", "ts", "value").schema
      def runPass(): Unit = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(in)
        val q = SessionStream.tumbling(spark, stream, watermarkDelay = "1 second")
          .writeStream.format("parquet").outputMode("append")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        StreamDrain.boundedAwait(q)
      }
      // batch 1: watermark advances to 10:29:59 — window 09:00 closes
      onTime.toDF("event_type", "ts", "value").repartition(1).write.mode("append").parquet(in)
      runPass()
      // batch 2: one row into the closed window, one into the open window
      Seq(lateDropped, lateFolded).toDF("event_type", "ts", "value")
        .repartition(1).write.mode("append").parquet(in)
      runPass()
      // batch 3: sentinel closes window 10:00
      Seq(sentinel).toDF("event_type", "ts", "value")
        .repartition(1).write.mode("append").parquet(in)
      runPass()

      def batchAgg(rows: Seq[(String, Timestamp, Double)]): Set[(String, String, Long, Double)] =
        rows.toDF("event_type", "ts", "value")
          .groupBy(window(col("ts"), graft.queries.Events.TumblingWidth), col("event_type"))
          .agg(count(lit(1)).as("cnt"), graft.core.Agg.dsum(col("value")).as("sum_value"))
          .select(
            col("window.start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("cnt"), col("sum_value"))
          .collect()
          .map(r => (norm(r.getAs[Any]("hour_start")), r.getAs[String]("event_type"),
            r.getAs[Long]("cnt"), r.getAs[Double]("sum_value"))).toSet

      val got = spark.read.parquet(out)
        .filter(col("event_type") =!= "__sentinel")
        .collect()
        .map(r => (norm(r.getAs[Any]("hour_start")), r.getAs[String]("event_type"),
          r.getAs[Long]("cnt"), r.getAs[Double]("sum_value"))).toSet

      // 1. the stream equals batch over (all events MINUS the dropped row)
      //    — bit-equal doubles, late-but-open row INCLUDED
      assert(got == batchAgg(onTime :+ lateFolded),
        s"stream != batch-minus-dropped: $got")
      // 2. vs batch over ALL events the divergence is EXACTLY the dropped
      //    row's window: one row on each side, differing by its (1, 8.0)
      val all = batchAgg((onTime :+ lateDropped) :+ lateFolded)
      val onlyBatch = all -- got
      val onlyStream = got -- all
      assert(onlyBatch.size == 1 && onlyStream.size == 1, s"divergence not a single window: $onlyBatch / $onlyStream")
      val b = onlyBatch.head; val s = onlyStream.head
      assert(b._1 == s._1 && b._1 == "2024-01-01 09:00", s"divergence in the wrong window: $b / $s")
      assert(b._3 == s._3 + 1 && b._4 == s._4 + 8.0,
        s"divergence is not exactly the dropped row's contribution: $b vs $s")
    }
  }

  test("late data beyond the watermark diverges from batch by EXACTLY the late rows (sessions)") {
    import spark.implicits._
    withRocksDb {
      // Session flavor of the late-data gate: a late row whose session
      // window already closed is dropped; a late row that MERGES into a
      // still-open session is folded (and can move the session start).
      def t(hhmm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
      val onTime = Seq(
        (1L, t("09:00"), 1.5), // session A
        (1L, t("09:10"), 2.5), // session A — closes 09:40
        (1L, t("11:00"), 4.0)) // session B — open after batch 1
      val lateDropped = (1L, t("09:15"), 8.0) // window [09:15, 09:45) closed -> DROPPED
      val lateMerged = (1L, t("10:50"), 16.0) // merges into open session B -> FOLDED
      val sentinel = (-1L, t("23:00"), 0.0)

      val root = Files.createTempDirectory("session-late").toString
      val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
      val schema = onTime.toDF("user_id", "ts", "value").schema
      def runPass(): Unit = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(in)
        val q = SessionStream.sessions(spark, stream, watermarkDelay = "1 second")
          .writeStream.format("parquet").outputMode("append")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        StreamDrain.boundedAwait(q)
      }
      onTime.toDF("user_id", "ts", "value").repartition(1).write.mode("append").parquet(in)
      runPass()
      Seq(lateDropped, lateMerged).toDF("user_id", "ts", "value")
        .repartition(1).write.mode("append").parquet(in)
      runPass()
      Seq(sentinel).toDF("user_id", "ts", "value")
        .repartition(1).write.mode("append").parquet(in)
      runPass()

      def batchAgg(rows: Seq[(Long, Timestamp, Double)]): Set[(Long, String, Long, Double)] =
        rows.toDF("user_id", "ts", "value")
          .groupBy(session_window(col("ts"), graft.queries.Events.SessionGap), col("user_id"))
          .agg(count(lit(1)).as("n_events"), graft.core.Agg.dsum(col("value")).as("total_value"))
          .select(
            col("user_id"),
            col("session_window.start").cast("timestamp_ntz").as("session_start"),
            col("n_events"), col("total_value"))
          .collect()
          .map(r => (r.getAs[Long]("user_id"), norm(r.getAs[Any]("session_start")),
            r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet

      val got = spark.read.parquet(out)
        .filter(col("user_id") =!= -1L)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), norm(r.getAs[Any]("session_start")),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet

      // 1. stream == batch over all-minus-dropped (merged late row folded,
      //    session start moved to 10:50 — the merge semantics are batch's)
      assert(got == batchAgg(onTime :+ lateMerged), s"stream != batch-minus-dropped: $got")
      assert(got.exists(r => r._2 == "2024-01-01 10:50" && r._3 == 2L && r._4 == 20.0),
        s"late-merged session missing or wrong: $got")
      // 2. vs batch over ALL events: exactly session A diverges, by
      //    exactly the dropped row's (1 event, 8.0)
      val all = batchAgg((onTime :+ lateDropped) :+ lateMerged)
      val onlyBatch = all -- got
      val onlyStream = got -- all
      assert(onlyBatch.size == 1 && onlyStream.size == 1, s"divergence not a single session: $onlyBatch / $onlyStream")
      val b = onlyBatch.head; val s = onlyStream.head
      assert(b._2 == s._2 && b._2 == "2024-01-01 09:00", s"divergence in the wrong session: $b / $s")
      assert(b._3 == s._3 + 1 && b._4 == s._4 + 8.0,
        s"divergence is not exactly the dropped row's contribution: $b vs $s")
    }
  }

  test("streaming tumbling windows equal q_tumbling_window bit-for-bit") {
    import spark.implicits._
    withRocksDb {
      val dir = sf()
      val root = Files.createTempDirectory("tumbling-stream").toString
      val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
      val ev = graft.queries.Events.events(spark, dir)
        .select(col("event_type"), col("ts"), col("value"))
      val (tMin, tMax) = ev.agg(min(col("ts")), max(col("ts")))
        .as[(Timestamp, Timestamp)].collect().head
      val tMid = new Timestamp(tMin.getTime + (tMax.getTime - tMin.getTime) / 2)

      def runPass(): Unit = {
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in)
        val q = SessionStream.tumbling(spark, stream, watermarkDelay = "1 second")
          .writeStream.format("parquet").outputMode("append")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        StreamDrain.boundedAwait(q)
      }
      ev.filter(col("ts") < lit(tMid)).repartition(1).write.mode("append").parquet(in)
      runPass()
      ev.filter(col("ts") >= lit(tMid)).repartition(1).write.mode("append").parquet(in)
      runPass()
      Seq(("__sentinel", new Timestamp(tMax.getTime + 2 * 3600 * 1000L), 0.0))
        .toDF("event_type", "ts", "value").repartition(1).write.mode("append").parquet(in)
      runPass()

      val got = spark.read.parquet(out)
        .filter(col("event_type") =!= "__sentinel")
        .collect()
        .map(r => (
          String.valueOf(r.getAs[Any]("hour_start")), r.getAs[String]("event_type"),
          r.getAs[Long]("cnt"), r.getAs[Double]("sum_value")))
        .sortBy(t => (t._1, t._2)).toSeq
      val want = Registry.byName("q_tumbling_window").run(spark, dir).collect()
        .map(r => (
          String.valueOf(r.getAs[Any]("hour_start")), r.getAs[String]("event_type"),
          r.getAs[Long]("cnt"), r.getAs[Double]("sum_value")))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(want.nonEmpty)
      assert(got == want, {
        val diff = (got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)
        s"tumbling windows diverge: ${diff.take(5)}"
      })
    }
  }

  test("streaming sliding windows equal q_sliding_window bit-for-bit") {
    import spark.implicits._
    withRocksDb {
      val dir = sf()
      val root = Files.createTempDirectory("sliding-stream").toString
      val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
      val ev = graft.queries.Events.events(spark, dir)
        .select(col("ts"), col("value"))
      val (tMin, tMax) = ev.agg(min(col("ts")), max(col("ts")))
        .as[(Timestamp, Timestamp)].collect().head
      val tMid = new Timestamp(tMin.getTime + (tMax.getTime - tMin.getTime) / 2)

      def runPass(): Unit = {
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in)
        val q = SessionStream.sliding(spark, stream, watermarkDelay = "1 second")
          .writeStream.format("parquet").outputMode("append")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        StreamDrain.boundedAwait(q)
      }
      ev.filter(col("ts") < lit(tMid)).repartition(1).write.mode("append").parquet(in)
      runPass()
      ev.filter(col("ts") >= lit(tMid)).repartition(1).write.mode("append").parquet(in)
      runPass()
      // sentinel rows never survive to the comparison: their two windows
      // sit past the real horizon and stay open (withheld) forever
      Seq((new Timestamp(tMax.getTime + 2 * 3600 * 1000L), 0.0))
        .toDF("ts", "value").repartition(1).write.mode("append").parquet(in)
      runPass()

      val got = spark.read.parquet(out)
        .collect()
        .map(r => (
          String.valueOf(r.getAs[Any]("win_start")),
          r.getAs[Long]("cnt"), r.getAs[Double]("sum_value")))
        .sortBy(_._1).toSeq
      val want = Registry.byName("q_sliding_window").run(spark, dir).collect()
        .map(r => (
          String.valueOf(r.getAs[Any]("win_start")),
          r.getAs[Long]("cnt"), r.getAs[Double]("sum_value")))
        .sortBy(_._1).toSeq
      assert(want.nonEmpty)
      assert(got == want, {
        val diff = (got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)
        s"sliding windows diverge: ${diff.take(5)}"
      })
    }
  }
}
