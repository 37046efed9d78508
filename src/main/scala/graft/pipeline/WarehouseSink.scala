package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The stage-4 seam (round-15 verdict #5 / "what's missing #1"): the
  * reference's importer is a WAREHOUSE LOAD — clean CSV + explicit JSON
  * schema in, truncate-loaded destination table out, with the loaded row
  * count reported (app/bq-importer/main.py:19-43). This repo's sandbox
  * has no BigQuery to write to, so the pipeline used to hard-code its
  * parquet stand-in inside `Pipeline.loadStage`; the interface makes the
  * destination pluggable: a real BigQuery-connector sink (a
  * `df.write.format("bigquery")` wrapper, or a load-job API call against
  * the staged CSV) drops in by implementing these two methods, without
  * touching any stage logic.
  *
  * Contract, matching the reference load job:
  *   - [[load]] consumes `layout.cleanCsv(table)` under the EXPLICIT
  *     schema at `layout.schemaJson(table)` (never inference — the
  *     schema-before-data ordering hazard of SURVEY §3 stays the
  *     caller's responsibility), truncate-replaces the destination, and
  *     returns the rows loaded BY THIS JOB (`output_rows` parity,
  *     main.py:41-43) — counted on the write itself, never by a second
  *     scan of the destination;
  *   - [[read]] returns the destination relation for downstream stages
  *     and verification, under the same explicit schema where the
  *     destination is a path, so obtaining it runs no Spark job.
  */
trait WarehouseSink {
  def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long
  def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame
}

object WarehouseSink {
  /** Run `write` on `df` and return the rows it wrote, observed on the
    * write job itself (no second scan, no extra Spark job).
    * `Observation.get` returns only once the write has succeeded; a
    * failed write throws before any count is read.
    */
  private[pipeline] def observedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }
}

/** The local parquet stand-in — the default destination this sandbox can
  * actually exercise. Path-addressed (`layout.warehouse(table)`),
  * truncate-overwrite per run.
  */
object ParquetWarehouseSink extends WarehouseSink {
  override def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long =
    WarehouseSink.observedWrite(Pipeline.readClean(spark, layout, table))(
      _.write.mode(SaveMode.Overwrite).parquet(layout.warehouse(table)))
  override def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame =
    spark.read.schema(Pipeline.declaredSchema(spark, layout, table)).parquet(layout.warehouse(table))
}

/** Catalog-table destination (`WRITE_TRUNCATE` ≡
  * `mode(Overwrite).saveAsTable`) — the managed-table flavor of the
  * stand-in.
  */
object CatalogWarehouseSink extends WarehouseSink {
  override def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long =
    WarehouseSink.observedWrite(Pipeline.readClean(spark, layout, table))(
      _.write.mode(SaveMode.Overwrite).saveAsTable(table))
  override def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame =
    spark.table(table)
}

/** The full load-job-contract destination: routes through [[BqLoad]], so
  * the write enforces explicit-schema parsing, `max_bad_records`,
  * atomic failure, and the disposition — the closest local twin of the
  * importer's actual call. A production BigQuery sink would subclass
  * this shape with the connector write.
  */
final case class BqLoadWarehouseSink(
    disposition: BqLoad.WriteDisposition = BqLoad.WriteTruncate,
    maxBadRecords: Long = 0L) extends WarehouseSink {
  override def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long = {
    val schemaJson = SchemaFile.readText(spark, layout.schemaJson(table))
    BqLoad.load(
      spark,
      layout.cleanCsv(table),
      table,
      BqLoad.LoadJobConfig(
        schemaJson,
        skipLeadingRows = 0,
        writeDisposition = disposition,
        maxBadRecords = maxBadRecords)).outputRows
  }
  override def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame =
    spark.table(table)
}
