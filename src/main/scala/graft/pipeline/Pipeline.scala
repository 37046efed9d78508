package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{SchemaColumn, SchemaDoc}
import graft.sources.DirtyCsv

/** The reference's 4-stage ETL re-expressed as one Spark-native pipeline
  * (SURVEY.md §3 EP1):
  *
  *   1. export  — table + declared MySQL column types → dirty wire-format
  *      CSV (`"N` nulls) + `.schema` file, under `staging/{date}/`
  *      (reference: app/cloud-sql-exporter/main.py:53-70)
  *   2. clean (schema) — `.schema` → sanitized BigQuery JSON schema
  *      (app/csv-cleaner/main.py:30-45)
  *   3. clean (data) — distributed `"N`-repair line transform
  *      (app/csv-cleaner/main.py:21-27)
  *   4. load — clean CSV + JSON schema → truncate-overwrite table
  *      (app/bq-importer/main.py:19-39, WRITE_TRUNCATE)
  *
  * Unlike the reference there is no process boundary between stages: each
  * stage is a DataFrame transform or a small metadata write, and the
  * schema-before-data ordering hazard (SURVEY §3) is serialized explicitly.
  * All data-path stages are distributed; only `.schema`/JSON metadata
  * (bytes per table, not rows) touches the driver.
  */
object Pipeline {

  object Layout {
    /** Run-date partition key from the wall clock — `date.today()` parity
      * (app/cloud-sql-exporter/main.py:9,58,68).
      */
    def today(root: String): Layout = Layout(root, java.time.LocalDate.now().toString)
  }

  final case class Layout(root: String, date: String) {
    def dirtyCsv(table: String): String = s"$root/staging/exports/$date/$table.csv"
    def schemaFile(table: String): String = s"$root/staging/schemas/$date/$table.schema"
    def cleanCsv(table: String): String = s"$root/clean/csv/$date/$table.csv"
    def schemaJson(table: String): String = s"$root/clean/schemas/$date/$table.json"
    def warehouse(table: String): String = s"$root/warehouse/$table"
  }

  /** Stage 1 — export: emit the Cloud SQL wire format (every field quoted,
    * NULL as the broken unterminated `"N` marker) plus the `.schema` file.
    */
  def exportStage(
      spark: SparkSession,
      df: DataFrame,
      mysqlTypes: Seq[SchemaColumn],
      layout: Layout,
      table: String): Unit = {
    SchemaFile.write(spark, layout.schemaFile(table), mysqlTypes)
    DirtyCsv.writeDirty(df, layout.dirtyCsv(table))
  }

  /** Stage 2 — schema clean: `.schema` CSV → BigQuery JSON schema doc.
    * `compat = true` reproduces the reference's type-map quirks bug-for-bug.
    */
  def cleanSchemaStage(spark: SparkSession, layout: Layout, table: String, compat: Boolean = true): String = {
    val cols = SchemaFile.read(spark, layout.schemaFile(table))
    val json = SchemaDoc.renderJson(SchemaDoc.fromColumns(cols, compat))
    SchemaFile.writeText(spark, layout.schemaJson(table), json)
    json
  }

  /** Stage 3 — data clean: distributed `"N` repair, dirty → clean CSV. */
  def cleanDataStage(spark: SparkSession, layout: Layout, table: String): Unit =
    DirtyCsv.repairToCleanCsv(spark, layout.dirtyCsv(table), layout.cleanCsv(table))

  /** The explicit load schema of `table`: the stage-2 JSON doc at
    * `layout.schemaJson(table)`, read and parsed driver-side (no Spark
    * job) — what both the clean CSV and the loaded warehouse are read under.
    */
  def declaredSchema(spark: SparkSession, layout: Layout, table: String): StructType =
    SchemaDoc.toStructType(SchemaDoc.parseJson(SchemaFile.readText(spark, layout.schemaJson(table))))

  /** Read a cleaned CSV under the explicit JSON schema (headerless,
    * `skip_leading_rows=0` parity — app/bq-importer/main.py:26-28).
    */
  def readClean(spark: SparkSession, layout: Layout, table: String): DataFrame =
    spark.read
      .schema(declaredSchema(spark, layout, table))
      .options(DirtyCsv.CleanCsvOptions)
      .csv(layout.cleanCsv(table))

  /** Stage 4 — load through the pluggable [[WarehouseSink]] seam
    * (round-15 verdict #5): default destination is the local parquet
    * stand-in; a catalog table, the full BqLoad load-job contract, or a
    * real BigQuery connector write are drop-ins — the stage logic never
    * changes with the destination. With the parquet stand-in this is ONE
    * Spark job: the write, with its row count observed on the write
    * itself; the returned relation is read back under the declared
    * schema, so getting it runs no job.
    */
  def loadStage(
      spark: SparkSession,
      layout: Layout,
      table: String,
      sink: WarehouseSink = ParquetWarehouseSink): DataFrame = {
    sink.load(spark, layout, table)
    sink.read(spark, layout, table)
  }

  /** Full per-table pipeline: export → clean schema → clean data → load,
    * returning the rows the load wrote (`output_rows` parity,
    * app/bq-importer/main.py:41-43), as the sink observed them on the
    * write — no scan of the destination. Schema stage runs strictly
    * before data load (SURVEY §3 ordering hazard).
    */
  def runTableRows(
      spark: SparkSession,
      df: DataFrame,
      mysqlTypes: Seq[SchemaColumn],
      layout: Layout,
      table: String,
      compat: Boolean = true,
      sink: WarehouseSink = ParquetWarehouseSink): Long = {
    exportStage(spark, df, mysqlTypes, layout, table)
    cleanSchemaStage(spark, layout, table, compat)
    cleanDataStage(spark, layout, table)
    sink.load(spark, layout, table)
  }

  /** [[runTableRows]], then the loaded relation (getting it runs no job). */
  def runTable(
      spark: SparkSession,
      df: DataFrame,
      mysqlTypes: Seq[SchemaColumn],
      layout: Layout,
      table: String,
      compat: Boolean = true,
      sink: WarehouseSink = ParquetWarehouseSink): DataFrame = {
    runTableRows(spark, df, mysqlTypes, layout, table, compat, sink)
    sink.read(spark, layout, table)
  }

  /** Dated-partition warehouse load (SURVEY §1.1 "dated partition
    * namespace"): append each run under `export_date=<date>` with DYNAMIC
    * partition overwrite — re-running a date replaces only that date's
    * partition (per-partition WRITE_TRUNCATE), other dates untouched.
    * Readers filtering on export_date get static partition pruning. The
    * mode is a per-write option, never the session conf: tables load
    * from several threads on one session, and a static overwrite racing
    * in would delete every other date.
    */
  def loadPartitioned(spark: SparkSession, layout: Layout, table: String, warehousePath: String): Unit =
    readClean(spark, layout, table)
      .withColumn("export_date", lit(layout.date))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("export_date")
      .parquet(warehousePath)

  /** Retention sweep (main.tf:72-79 — 32-day lifecycle delete): list dated
    * partition dirs under staging/clean and drop those older than the
    * cutoff. Returns deleted dir paths.
    */
  def retentionSweep(spark: SparkSession, root: String, today: java.time.LocalDate, days: Int = 32): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val cutoff = today.minusDays(days.toLong)
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(s"$root/staging/exports", s"$root/staging/schemas", s"$root/clean/csv", s"$root/clean/schemas")
      .flatMap { base =>
        val p = new Path(base)
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) Seq.empty
        else
          fs.listStatus(p).toSeq
            .filter(_.isDirectory)
            .filter { st =>
              scala.util.Try(java.time.LocalDate.parse(st.getPath.getName))
                .toOption.exists(_.isBefore(cutoff))
            }
            .map { st => fs.delete(st.getPath, true); st.getPath.toString }
      }
  }
}
