package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.SchemaColumn

/** Golden end-to-end pipeline tests (SURVEY §5.2 families 2 and 5): dirty
  * CSV + .schema in → BQ JSON + cleaned CSV + loaded table out; overwrite
  * idempotency; saveAsTable truncate semantics; retention sweep.
  */
class PipelineSpec extends SparkSpec {

  private def freshLayout(date: String = "2024-01-01"): Pipeline.Layout =
    Pipeline.Layout(java.nio.file.Files.createTempDirectory("pipe").toString, date)

  private def usersDf = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq(
      (1L, Some("alice"), Some(12.5), Some("2020-01-01 10:00:00")),
      (2L, None, None, None),
      (3L, Some("carol"), Some(3.25), Some("2020-02-02 00:00:00")))
      .toDF("id", "name", "amount", "created_at")
      .withColumn("created_at", col("created_at").cast("timestamp_ntz"))
  }

  private val usersTypes = Seq(
    SchemaColumn("id", "bigint"),
    SchemaColumn("name", "varchar(25)"),
    SchemaColumn("amount", "double"),
    SchemaColumn("created_at", "datetime"))

  /** Stages 1-3 for the users rows: the clean CSV and JSON schema a load reads. */
  private def stageClean(layout: Pipeline.Layout, table: String): Unit = {
    Pipeline.exportStage(spark, usersDf, usersTypes, layout, table)
    Pipeline.cleanSchemaStage(spark, layout, table)
    Pipeline.cleanDataStage(spark, layout, table)
  }

  test("schema stage emits reference-shaped BQ JSON (golden)") {
    val layout = freshLayout()
    SchemaFile.write(spark, layout.schemaFile("users"), usersTypes)
    val json = Pipeline.cleanSchemaStage(spark, layout, "users")
    assert(json ==
      """[{"name": "id", "type": "INTEGER", "mode": "NULLABLE"}, """ +
        """{"name": "name", "type": "STRING", "mode": "NULLABLE"}, """ +
        """{"name": "amount", "type": "FLOAT", "mode": "NULLABLE"}, """ +
        """{"name": "created_at", "type": "DATETIME", "mode": "NULLABLE"}]""")
  }

  test("full pipeline loads the table losslessly (incl. NULL row)") {
    val layout = freshLayout()
    val out = Pipeline.runTable(spark, usersDf, usersTypes, layout, "users").orderBy("id")
    assert(out.schema == StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("amount", DoubleType, nullable = true),
      StructField("created_at", TimestampNTZType, nullable = true))))
    val rows = out.collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("name") == "alice")
    assert(rows(1) == Row(2L, null, null, null))
    assert(rows(2).getAs[Double]("amount") == 3.25)
  }

  test("pipeline is idempotent: run twice → identical table") {
    val layout = freshLayout()
    Pipeline.runTable(spark, usersDf, usersTypes, layout, "users")
    val first = spark.read.parquet(layout.warehouse("users")).orderBy("id").collect().toSeq
    Pipeline.runTable(spark, usersDf, usersTypes, layout, "users")
    val second = spark.read.parquet(layout.warehouse("users")).orderBy("id").collect().toSeq
    assert(first == second)
  }

  test("catalog sink: WRITE_TRUNCATE semantics via saveAsTable overwrite") {
    val layout = freshLayout()
    stageClean(layout, "users_tbl")
    val n1 = CatalogWarehouseSink.load(spark, layout, "users_tbl")
    val n2 = CatalogWarehouseSink.load(spark, layout, "users_tbl") // truncate, not append
    assert(n1 == 3 && n2 == 3)
    assert(spark.table("users_tbl").count() == 3)
    spark.sql("DROP TABLE users_tbl")
  }

  test("loadStage with the default sink is one Spark job; the relation keeps the declared schema") {
    val layout = freshLayout()
    stageClean(layout, "users")
    val (out, jobs) = jobsOf(Pipeline.loadStage(spark, layout, "users"))
    val n = jobs.size
    assert(n == 1, s"loadStage ran $n Spark jobs")
    assert(out.schema == Pipeline.readClean(spark, layout, "users").schema)
  }

  test("zero-row source: runTable reports 0 loaded and leaves an empty table with the declared schema") {
    val layout = freshLayout()
    var loaded = -1L
    val recording = new WarehouseSink {
      def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long = {
        loaded = ParquetWarehouseSink.load(spark, layout, table)
        loaded
      }
      def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame =
        ParquetWarehouseSink.read(spark, layout, table)
    }
    val out = Pipeline.runTable(spark, usersDf.limit(0), usersTypes, layout, "users_empty", sink = recording)
    assert(loaded == 0L)
    assert(out.schema == Pipeline.readClean(spark, layout, "users_empty").schema)
    assert(out.count() == 0L)
    // readable without the declared schema too: the empty write left a footer
    val bare = spark.read.parquet(layout.warehouse("users_empty"))
    assert(bare.schema == out.schema && bare.count() == 0L)
  }

  test("the sink's observed row count equals a direct count of the clean CSV lines (incl. NULL row)") {
    val layout = freshLayout()
    stageClean(layout, "users")
    val lines = spark.read.text(layout.cleanCsv("users")).count()
    assert(lines == 3L)
    assert(ParquetWarehouseSink.load(spark, layout, "users") == lines)
  }

  test("retention sweep deletes only dated dirs older than cutoff") {
    val root = java.nio.file.Files.createTempDirectory("ret").toString
    for (date <- Seq("2024-01-01", "2024-02-20", "2024-03-01")) {
      val l = Pipeline.Layout(root, date)
      SchemaFile.writeText(spark, s"${l.cleanCsv("t")}/part-0", "x")
    }
    val deleted = Pipeline.retentionSweep(spark, root, java.time.LocalDate.parse("2024-03-10"), days = 32)
    // cutoff = 2024-02-07: only 2024-01-01 is older
    assert(deleted.size == 1 && deleted.head.endsWith("2024-01-01"))
    val remaining = new java.io.File(s"$root/clean/csv").list().toSet
    assert(remaining == Set("2024-02-20", "2024-03-01"))
  }

  test("dated partitions: dynamic overwrite per date + partition pruning") {
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("whpart").toString + "/users"
    def loadDate(date: String): Unit = {
      val l = Pipeline.Layout(java.nio.file.Files.createTempDirectory("pd").toString, date)
      stageClean(l, "users")
      Pipeline.loadPartitioned(spark, l, "users", wh)
    }
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val confBefore = spark.conf.getOption(mode)
    loadDate("2024-01-01")
    val (_, jobs) = jobsOf(loadDate("2024-01-02"))
    loadDate("2024-01-02") // idempotent re-run of ONE date
    // dynamic mode is a per-write option: the shared session conf, which
    // concurrent loads on other threads read, is never touched — not even
    // while the write runs (jobs carry the session's explicitly set confs)
    assert(spark.conf.getOption(mode) == confBefore)
    val jobModes = jobs.map(p => Option(p.getProperty(mode)))
    assert(jobModes.nonEmpty && !jobModes.exists(_.exists(_.equalsIgnoreCase("dynamic"))), jobModes)
    val all = spark.read.parquet(wh)
    assert(all.count() == 6) // 3 rows x 2 dates, re-run did not duplicate
    // partition pruning reaches the scan
    val pruned = all.filter(col("export_date") === "2024-01-01")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pruned.count() == 3)
    assert(scan.contains("PartitionFilters") && scan.contains("export_date"), scan.take(400))
  }

  // ---- BigQuery load-job twin (round-14 verdict #5) ----

  private val loadSchema =
    """[{"name": "id", "type": "INTEGER", "mode": "NULLABLE"}, """ +
      """{"name": "name", "type": "STRING", "mode": "NULLABLE"}, """ +
      """{"name": "amount", "type": "FLOAT", "mode": "NULLABLE"}]"""

  /** Scrub a managed table AND its warehouse location before/after a
    * test: the warehouse dir outlives the JVM while the in-memory
    * catalog does not, so a leftover location from a previous run makes
    * saveAsTable's CREATE path fail with LOCATION_ALREADY_EXISTS (and
    * DROP TABLE IF EXISTS alone cannot remove a location the fresh
    * catalog has never heard of).
    */
  private def withLoadTable(name: String)(body: String => Unit): Unit = {
    def scrub(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(del)
        f.delete()
        ()
      }
      del(new java.io.File(wh, name))
    }
    scrub()
    try body(name)
    finally scrub()
  }

  private def writeCsv(lines: Seq[String]): String = {
    val f = java.nio.file.Files.createTempDirectory("bqload").resolve("data.csv")
    java.nio.file.Files.writeString(f, lines.mkString("\n") + "\n")
    f.toString
  }

  test("load job: headerless CSV under the explicit schema; WRITE_TRUNCATE replaces contents") {
    withLoadTable("bq_load_t1") { t =>
    val r1 = BqLoad.load(spark, writeCsv(Seq("1,alice,12.5", "2,,3.25", "3,7,1.0")), t,
      BqLoad.LoadJobConfig(loadSchema))
    assert(r1 == BqLoad.LoadJobResult(outputRows = 3, badRecords = 0))
    val rows = spark.table(t).orderBy("id").collect()
    assert(rows(1).isNullAt(1), "empty field must load as NULL")
    // explicit schema, never inference: '7' under a declared STRING
    // column stays the string "7"
    assert(rows(2).getString(1) == "7")
    // truncate disposition: a second load REPLACES, never appends
    val r2 = BqLoad.load(spark, writeCsv(Seq("9,zoe,0.5")), t, BqLoad.LoadJobConfig(loadSchema))
    assert(r2.outputRows == 1 && spark.table(t).count() == 1)
    }
  }

  test("load job: a valid truncate load counts output_rows on its write (4 Spark jobs)") {
    // the validation count, then the write; a post-write count made it 6
    withLoadTable("bq_load_jobs") { t =>
      val csv = writeCsv(Seq("1,alice,12.5", "2,,3.25", "3,7,1.0"))
      val (r, jobs) = jobsOf(BqLoad.load(spark, csv, t, BqLoad.LoadJobConfig(loadSchema)))
      assert(r == BqLoad.LoadJobResult(outputRows = 3, badRecords = 0))
      val n = jobs.size
      assert(n == 4, s"BqLoad.load ran $n Spark jobs")
    }
  }

  test("load job atomicity: a bad record fails the job and leaves the table untouched") {
    withLoadTable("bq_load_t2") { t =>
    BqLoad.load(spark, writeCsv(Seq("1,alice,12.5")), t, BqLoad.LoadJobConfig(loadSchema))
    // type mismatch under the declared schema = bad record, and
    // max_bad_records defaults to 0 — the whole job fails...
    intercept[BqLoad.LoadJobFailed] {
      BqLoad.load(spark, writeCsv(Seq("2,bob,1.0", "abc,carol,2.0")), t,
        BqLoad.LoadJobConfig(loadSchema))
    }
    // ...as does a wrong column count...
    intercept[BqLoad.LoadJobFailed] {
      BqLoad.load(spark, writeCsv(Seq("2,bob,1.0,EXTRA,COLS")), t,
        BqLoad.LoadJobConfig(loadSchema))
    }
    // ...and the failed jobs are ATOMIC: the destination is untouched.
    assert(spark.table(t).collect().toSeq == Seq(Row(1L, "alice", 12.5)))
    }
  }

  test("warehouse sink seam: the golden rows load identically through all three sinks") {
    // Round-15 verdict #5: the destination must be pluggable — the same
    // stage logic drives the parquet stand-in, the catalog table, and
    // the full BqLoad load-job contract; a real BigQuery connector write
    // is the fourth implementation this seam exists for.
    withLoadTable("users_seam") { t =>
      val viaParquet = Pipeline
        .runTable(spark, usersDf, usersTypes, freshLayout(), t)
        .orderBy("id").collect().toSeq
      val viaCatalog = Pipeline
        .runTable(spark, usersDf, usersTypes, freshLayout(), t, sink = CatalogWarehouseSink)
        .orderBy("id").collect().toSeq
      assert(viaCatalog == viaParquet, "catalog sink diverged from the parquet stand-in")
      val viaBqLoad = Pipeline
        .runTable(spark, usersDf, usersTypes, freshLayout(), t, sink = BqLoadWarehouseSink())
        .orderBy("id").collect().toSeq
      assert(viaBqLoad == viaParquet, "BqLoad sink diverged from the parquet stand-in")
    }
  }

  test("warehouse sink seam: the BqLoad sink keeps the load-job contract (atomic failure)") {
    withLoadTable("users_seam_atomic") { t =>
      val layout = freshLayout()
      Pipeline.runTable(spark, usersDf, usersTypes, layout, t, sink = BqLoadWarehouseSink())
      // corrupt the clean CSV (drop a wrong-column-count part file into
      // the dir — a NEW file, because Spark's FileStatusCache pins the
      // old parts' lengths) and re-load: the sink must REJECT and leave
      // the previous table intact — the parquet stand-in has no such
      // validation, which is exactly why the destination is a seam, not
      // a hard-coded write
      val csvDir = new java.io.File(layout.cleanCsv(t))
      java.nio.file.Files.writeString(
        new java.io.File(csvDir, "part-99999-broken.csv").toPath, "1,broken,row,EXTRA,COLS\n")
      intercept[BqLoad.LoadJobFailed] {
        Pipeline.loadStage(spark, layout, t, sink = BqLoadWarehouseSink())
      }
      assert(spark.table(t).count() == 3, "failed load touched the destination")
    }
  }

  test("load job WriteAppend reports only THIS job's rows as output_rows") {
    // BQ's load job output_rows counts rows loaded by the job; a
    // destination count after an append would include pre-existing rows
    // (round-15 advice).
    withLoadTable("bq_load_append") { t =>
      val cfg = BqLoad.LoadJobConfig(loadSchema, writeDisposition = BqLoad.WriteAppend)
      val r1 = BqLoad.load(spark, writeCsv(Seq("1,alice,12.5", "2,bob,1.0")), t, cfg)
      assert(r1.outputRows == 2)
      val r2 = BqLoad.load(spark, writeCsv(Seq("9,zoe,0.5")), t, cfg)
      assert(r2.outputRows == 1, s"append job reported ${r2.outputRows} (destination count?)")
      assert(spark.table(t).count() == 3)
    }
  }

  test("load job max_bad_records tolerates exactly that many bad rows, dropping them") {
    withLoadTable("bq_load_t3") { t =>
    val csv = writeCsv(Seq("1,alice,12.5", "oops,bob,1.0", "3,carol,2.0"))
    val r = BqLoad.load(spark, csv, t,
      BqLoad.LoadJobConfig(loadSchema, maxBadRecords = 1L))
    assert(r == BqLoad.LoadJobResult(outputRows = 2, badRecords = 1))
    assert(spark.table(t).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    intercept[BqLoad.LoadJobFailed] {
      BqLoad.load(spark, csv, t, BqLoad.LoadJobConfig(loadSchema, maxBadRecords = 0L))
    }
    }
  }

  test("load job skip_leading_rows=0: a stray header line is DATA and fails the job; 1 skips it") {
    withLoadTable("bq_load_t4") { t =>
    val csv = writeCsv(Seq("id,name,amount", "1,alice,12.5", "2,bob,3.25"))
    // the reference's contract (main.py:28): files are headerless, so a
    // header line hits the INTEGER column and the job REJECTS — it is
    // never silently skipped
    intercept[BqLoad.LoadJobFailed] {
      BqLoad.load(spark, csv, t, BqLoad.LoadJobConfig(loadSchema, skipLeadingRows = 0))
    }
    val r = BqLoad.load(spark, csv, t, BqLoad.LoadJobConfig(loadSchema, skipLeadingRows = 1))
    assert(r == BqLoad.LoadJobResult(outputRows = 2, badRecords = 0))
    }
  }

  test("load job WRITE_EMPTY loads only into an absent or empty destination") {
    withLoadTable("bq_load_t5") { t =>
    val cfg = BqLoad.LoadJobConfig(loadSchema, writeDisposition = BqLoad.WriteEmpty)
    val r = BqLoad.load(spark, writeCsv(Seq("1,alice,12.5")), t, cfg)
    assert(r.outputRows == 1)
    intercept[BqLoad.LoadJobFailed] {
      BqLoad.load(spark, writeCsv(Seq("9,zoe,0.5")), t, cfg)
    }
    assert(spark.table(t).collect().toSeq == Seq(Row(1L, "alice", 12.5)))
    }
  }

  test("writeHeaderless emits the cleaner's post-clean CSV format") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hdrless").toString + "/out"
    graft.sources.DirtyCsv.writeHeaderless(
      Seq((1L, Some("a"), Some(1.5)), (2L, None, None)).toDF("id", "name", "amount"), dir)
    val lines = spark.read.text(dir).collect().map(_.getString(0)).sorted.toSeq
    // quoted fields, NULL as empty (post-clean format, not the "N wire form)
    assert(lines == Seq("\"1\",\"a\",\"1.5\"", "\"2\",,"))
  }

  test("retry backoff: reference schedule shape + bounded attempts") {
    val sched = graft.streaming.Retry.backoffSchedule(8)
    assert(sched.size == 8)
    for ((s, i) <- sched.zipWithIndex) {
      assert(s >= math.pow(2, i) && s < math.pow(2, i) + 1.0, s"attempt $i: $s")
    }
    assert(graft.streaming.Retry.backoffSchedule(8) == sched) // deterministic
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer.empty[Double]
    val r = graft.streaming.Retry.withBackoff(maxAttempts = 5, sleeper = d => slept += d) { () =>
      calls += 1
      if (calls < 3) sys.error("not ready") else "done"
    }
    assert(r == Right("done") && calls == 3 && slept.size == 2)
    val fail = graft.streaming.Retry.withBackoff(maxAttempts = 2, sleeper = _ => ()) { () =>
      sys.error("always")
    }
    assert(fail.isLeft)
  }

  test("SchemaFile round-trips quoted names and preserves order") {
    val layout = freshLayout()
    val cols = Seq(
      SchemaColumn("big id", "bigint"),
      SchemaColumn("amount/total", "decimal(10,2)"),
      SchemaColumn("comma,name", "varchar(5)"))
    SchemaFile.write(spark, layout.schemaFile("x"), cols)
    assert(SchemaFile.read(spark, layout.schemaFile("x")) == cols)
  }

  test("SchemaFile.parseLine handles quotes, commas, escaped quotes") {
    assert(SchemaFile.parseLine("\"a\",\"int\"") == Seq("a", "int"))
    assert(SchemaFile.parseLine("\"a,b\",\"t\"") == Seq("a,b", "t"))
    assert(SchemaFile.parseLine("\"say \"\"hi\"\"\",\"t\"") == Seq("say \"hi\"", "t"))
    assert(SchemaFile.parseLine("plain,unquoted") == Seq("plain", "unquoted"))
  }
}
