package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.SparkSpec

/** Streaming stage-chaining parity (SURVEY §2.8): file-arrival clean →
  * load with Trigger.AvailableNow, checkpointed incremental processing,
  * idempotent overwrite loads, and the batch run guard.
  */
class FileChainSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("name", StringType, nullable = true)))

  test("clean stage repairs arriving files; checkpoint skips already-seen files") {
    val root = Files.createTempDirectory("chain").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(s"$in/a.csv"), "\"1\",\"N,\"x\"\n\"2\",\"alice\",\"N")
    FileChain.cleanStage(spark, in, out, ck)
    def cleanLines() =
      spark.read.text(out).collect().map(_.getString(0)).toSet
    assert(cleanLines() == Set("\"1\",,\"x\"", "\"2\",\"alice\","))
    // second file arrives; re-run processes ONLY the new file
    Files.writeString(Paths.get(s"$in/b.csv"), "\"3\",\"N,\"y\"")
    FileChain.cleanStage(spark, in, out, ck)
    assert(cleanLines() == Set("\"1\",,\"x\"", "\"2\",\"alice\",", "\"3\",,\"y\""))
    // re-run with nothing new: no duplicates (exactly-once via checkpoint)
    FileChain.cleanStage(spark, in, out, ck)
    assert(spark.read.text(out).count() == 3)
  }

  test("load stage: streamed CSVs → truncate-overwrite warehouse parquet") {
    val root = Files.createTempDirectory("load").toString
    val in = s"$root/clean"; val tgt = s"$root/warehouse/t"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(s"$in/t1.csv"), "\"1\",\"alice\"\n\"2\",\"bob\"")
    FileChain.loadStage(spark, in, schema, tgt, ck)
    assert(spark.read.parquet(tgt).count() == 2)
    // late file: next AvailableNow run loads only the new data (overwrite
    // semantics per batch — WRITE_TRUNCATE parity)
    Files.writeString(Paths.get(s"$in/t2.csv"), "\"3\",\"carol\"")
    FileChain.loadStage(spark, in, schema, tgt, ck)
    val names = spark.read.parquet(tgt).collect().map(_.getString(1)).toSet
    assert(names == Set("carol"))
  }

  test("EP3 chain: dirty arrival -> clean stream -> load stream -> warehouse") {
    val root = Files.createTempDirectory("ep3").toString
    val dirty = s"$root/staging"; val clean = s"$root/clean"; val tgt = s"$root/wh/users"
    Files.createDirectories(Paths.get(dirty))
    // dirty wire format: trailing "N null markers
    Files.writeString(Paths.get(s"$dirty/users.csv"),
      "\"1\",\"alice\"\n\"2\",\"N\n\"3\",\"carol\"")
    Files.writeString(Paths.get(s"$dirty/users2.csv"), "\"4\",\"N")
    FileChain.cleanStage(spark, dirty, clean, s"$root/ck1")
    FileChain.loadStage(spark, clean, schema, tgt, s"$root/ck2")
    val rows = spark.read.parquet(tgt).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows(1).isNullAt(1) && rows(3).isNullAt(1)) // "N repaired to NULL
    assert(rows(0).getString(1) == "alice" && rows(2).getString(1) == "carol")
  }

  test("a warm clean -> load chain run starts no operating-system process") {
    // checkpoint and sink metadata go through Hadoop's FileContext, whose
    // stock file: system forks chmod per create and readlink per rename
    def run(): Long = {
      val root = Files.createTempDirectory("chain-procs").toString
      val dirty = s"$root/staging"; val clean = s"$root/clean"; val tgt = s"$root/wh/users"
      Files.createDirectories(Paths.get(dirty))
      Files.writeString(Paths.get(s"$dirty/users.csv"), "\"1\",\"alice\"\n\"2\",\"N")
      FileChain.cleanStage(spark, dirty, clean, s"$root/ck1")
      FileChain.loadStage(spark, clean, schema, tgt, s"$root/ck2")
      spark.read.parquet(tgt).count()
    }
    // the first run loads the classes a chain run touches
    assert(run() == 2L)
    val (rows, commands) = processStarts(run())
    assert(rows == 2L)
    assert(commands.isEmpty, s"${commands.size} process starts: ${commands.distinct.take(5)}")
  }

  test("streaming windowed agg with watermark finalizes windows and drops late data") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("wm").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    val evSchema = StructType(Seq(
      StructField("ts", StringType, nullable = true),
      StructField("v", LongType, nullable = true)))
    def run(): Unit = {
      val q = spark.readStream
        .schema(evSchema)
        .csv(in)
        .select(col("ts").cast("timestamp").as("ts"), col("v"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(sum(col("v")).as("total"))
        .select(col("window.start").as("win"), col("total"))
        .writeStream
        .outputMode("append") // append emits only watermark-finalized windows
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      StreamDrain.boundedAwait(q)
    }
    // batch 1: events in hour-0 plus one at 01:10 → watermark 01:00 →
    // hour-0 window finalized on the NEXT run
    Files.writeString(Paths.get(s"$in/b1.csv"),
      "2024-01-01 00:05:00,1\n2024-01-01 00:20:00,2\n2024-01-01 01:10:00,10")
    run()
    // batch 2: a LATE hour-0 event (00:30, behind the 01:00 watermark —
    // must be dropped) plus one at 02:30 advancing the watermark past
    // hour-1
    Files.writeString(Paths.get(s"$in/b2.csv"),
      "2024-01-01 00:30:00,100\n2024-01-01 02:30:00,20")
    run()
    run() // flush: finalize hour-1 under the advanced watermark
    val got = spark.read.parquet(out)
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(got("2024-01-01 00:00:00.0") == 3L, s"late 00:30 event must be dropped: $got")
    assert(got("2024-01-01 01:00:00.0") == 10L, got.toString)
  }

  test("streaming exact dedup with state TTL (dropDuplicatesWithinWatermark)") {
    // The streaming counterpart of q_dedup_exact: duplicate keys arriving
    // within the watermark delay are dropped, but — unlike unbounded
    // dropDuplicates — state is EVICTED once the watermark passes, so the
    // state store stays bounded at 100 TB/day ingest and a key re-appearing
    // much later is treated as new. Three AvailableNow runs over one
    // checkpoint pin both halves: the dedup within the TTL and the
    // re-emission after eviction.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("ddwm").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    val evSchema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("ts", StringType, nullable = true)))
    def run(): Unit = {
      val q = spark.readStream
        .schema(evSchema)
        .csv(in)
        .select(col("id"), col("ts").cast("timestamp").as("ts"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("id")
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      StreamDrain.boundedAwait(q)
    }
    // run 1: id=1 duplicated in-batch; watermark ends below any expiry
    Files.writeString(Paths.get(s"$in/b1.csv"),
      "1,2024-01-01 00:00:00\n1,2024-01-01 00:02:00\n9,2024-01-01 00:05:00")
    run()
    // run 2: id=1 again while its state is live → dropped; id=8 at 01:00
    // advances the watermark to 00:50, evicting id=1 and id=9 state
    Files.writeString(Paths.get(s"$in/b2.csv"),
      "1,2024-01-01 00:04:00\n8,2024-01-01 01:00:00")
    run()
    // run 3: id=1 re-appears AFTER eviction (and above the watermark) →
    // emitted as a new event, not deduped against forgotten state
    Files.writeString(Paths.get(s"$in/b3.csv"), "1,2024-01-01 00:55:00")
    run()
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSet
    assert(got == Set(
      (1L, "2024-01-01 00:00:00.0"),
      (9L, "2024-01-01 00:05:00.0"),
      (8L, "2024-01-01 01:00:00.0"),
      (1L, "2024-01-01 00:55:00.0")), got.toString)
  }

  test("streaming sessionization: session_window + watermark over a file stream") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("ssw").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    val evSchema = StructType(Seq(
      StructField("ts", StringType), StructField("user", LongType), StructField("v", LongType)))
    def run(): Unit = {
      val q = spark.readStream.schema(evSchema).csv(in)
        .select(col("ts").cast("timestamp").as("ts"), col("user"), col("v"))
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
        .select(col("session_window.start").as("start"), col("user"), col("n"), col("total"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      StreamDrain.boundedAwait(q)
    }
    // user 1: two events 10 min apart (one session), then a gap > 30 min
    // (second session); a final late-clock event pushes the watermark so
    // earlier sessions finalize.
    Files.writeString(Paths.get(s"$in/b1.csv"),
      "2024-01-01 00:00:00,1,1\n2024-01-01 00:10:00,1,2\n2024-01-01 01:00:00,1,5")
    run()
    Files.writeString(Paths.get(s"$in/b2.csv"), "2024-01-01 03:00:00,1,9")
    run(); run()
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getLong(3))).toSet
    assert(rows.contains(("2024-01-01 00:00:00.0", 2L, 3L)), s"merged first session: $rows")
    assert(rows.contains(("2024-01-01 01:00:00.0", 1L, 5L)), s"gap split second session: $rows")
  }

  test("streaming dedup stage: duplicate keys dropped across runs, state bounded by watermark") {
    val root = Files.createTempDirectory("sdedup").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    val dedupSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("ts", TimestampType, nullable = true)))
    Files.writeString(Paths.get(s"$in/f1.csv"),
      "1,2024-01-01T00:00:00\n1,2024-01-01T00:00:01\n2,2024-01-01T00:00:02")
    FileChain.dedupStage(spark, in, dedupSchema, Seq("k"), "ts", "10 minutes", out, ck)
    assert(spark.read.parquet(out).select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // second run: a replay of key 1 within the horizon is dropped (state
    // restored from checkpoint); a new key passes
    Files.writeString(Paths.get(s"$in/f2.csv"),
      "1,2024-01-01T00:00:03\n3,2024-01-01T00:00:04")
    FileChain.dedupStage(spark, in, dedupSchema, Seq("k"), "ts", "10 minutes", out, ck)
    assert(spark.read.parquet(out).select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("run guard: batch_no beyond max aborts (reference main.py:32-38)") {
    RunGuard.check(RunGuard.BatchMsg(Seq("a"), batchNo = 5, maxBatches = 5)) // ok
    intercept[IllegalStateException] {
      RunGuard.check(RunGuard.BatchMsg(Seq("a"), batchNo = 6, maxBatches = 5))
    }
  }

  test("time-budget split publishes continuation with incremented batch_no") {
    val msg = RunGuard.BatchMsg(Seq("t1", "t2", "t3"), 1, 8)
    val (done, cont) = RunGuard.splitForBudget(
      List("t1", "t2", "t3"), budgetMs = 100, (_: String) => 60L, msg)
    assert(done == List("t1"))
    assert(cont.exists(c => c.batchNo == 2 && c.tables == Seq("t2", "t3")))
    val (all, none) = RunGuard.splitForBudget(List("t1"), 1000, (_: String) => 1L, msg)
    assert(all == List("t1") && none.isEmpty)
  }

  test("payload format: comma-joined, consumed LIFO") {
    val msg = RunGuard.BatchMsg(Seq("users", "user__field_a"), 1, 8)
    assert(msg.payload == "users,user__field_a")
    assert(msg.payload.split(",").toList.reverse.head == "user__field_a")
  }

  test("validate stage routes bad rows to quarantine with a reason, good rows onward") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("dlq").toString
    val in = s"$root/in"; val out = s"$root/ok"; val dlq = s"$root/quarantine"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(s"$in/a.csv"), "\"1\",\"alice\"\n\"\",\"noid\"\n\"3\",\"\"")
    val valid = col("id").isNotNull && col("name").isNotNull && length(col("name")) > 0
    val reason = when(col("id").isNull, "null_id").otherwise("empty_name")
    FileChain.validateStage(spark, in, schema, valid, reason, out, dlq, s"$root/ck")
    val ok = spark.read.parquet(out).collect()
    assert(ok.map(_.getString(1)).toSet == Set("alice"))
    val bad = spark.read.parquet(dlq).collect()
    assert(bad.length == 2)
    val reasons = bad.map(r => Option(r.getAs[String]("name")).getOrElse("") -> r.getAs[String]("reject_reason")).toMap
    assert(reasons("noid") == "null_id")
    assert(reasons("") == "empty_name")
    // a second identical run must not duplicate either side (checkpointed
    // source + per-batch overwrite dirs)
    FileChain.validateStage(spark, in, schema, valid, reason, out, dlq, s"$root/ck")
    assert(spark.read.parquet(out).count() == 1)
    assert(spark.read.parquet(dlq).count() == 2)
  }

  test("crash recovery: a run killed mid-batch resumes to exactly the single-run state") {
    import org.apache.spark.sql.functions._
    // Kill the run BETWEEN validateStage's two writes: the good-rows write
    // lands, then the quarantine write crashes (its target path is
    // pre-created as a plain FILE, so the parquet mkdir throws). The
    // checkpoint never commits the batch, so the resumed run must REPLAY
    // it — the batch-id-keyed overwrite makes the replay idempotent and
    // the final state identical to a never-crashed run.
    val root = Files.createTempDirectory("crash").toString
    val in = s"$root/in"; val out = s"$root/out"; val dlq = s"$root/dlq"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(s"$in/r.csv"),
      "\"1\",\"alice\"\n\"2\",\"\"\n\"3\",\"bob\"\n\"4\",\"\"")
    val valid = col("name").isNotNull && col("name") =!= ""
    val reason = lit("empty_name")
    Files.writeString(Paths.get(dlq), "not a directory") // the crash plant
    intercept[Exception] {
      FileChain.validateStage(spark, in, schema, valid, reason, out, dlq, s"$root/ck")
    }
    // mid-batch wreckage: good rows already written, batch uncommitted
    assert(spark.read.parquet(out).count() == 2)
    // operator fixes the fault and resumes with the SAME checkpoint
    Files.delete(Paths.get(dlq))
    FileChain.validateStage(spark, in, schema, valid, reason, out, dlq, s"$root/ck")
    // exactly-once: the replayed batch overwrote its own partial output
    val okNames = spark.read.parquet(out).collect().map(_.getString(1)).sorted.toSeq
    assert(okNames == Seq("alice", "bob"), s"good side after recovery: $okNames")
    assert(spark.read.parquet(dlq).count() == 2)
    // and equals a never-crashed single run on the same input
    val out2 = s"$root/out2"; val dlq2 = s"$root/dlq2"
    FileChain.validateStage(spark, in, schema, valid, reason, out2, dlq2, s"$root/ck_fresh")
    assert(spark.read.parquet(out2).collect().map(_.getString(1)).sorted.toSeq == okNames)
    assert(spark.read.parquet(dlq2).count() == 2)
    // a further resume with nothing new changes nothing
    FileChain.validateStage(spark, in, schema, valid, reason, out, dlq, s"$root/ck")
    assert(spark.read.parquet(out).count() == 2 && spark.read.parquet(dlq).count() == 2)
  }
}
