package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import graft.core.SchemaDoc
import graft.sources.DirtyCsv

/** Local twin of the BigQuery CSV LOAD JOB the reference's importer runs
  * (app/bq-importer/main.py:19-41) — the load-contract semantics that the
  * plain `saveAsTable` stand-in ([[CatalogWarehouseSink]]) does not
  * assert. A BQ load job is not "write whatever parses":
  *
  *   - the schema is EXPLICIT and never inferred (`job_config.schema`
  *     from the bucket's JSON doc, main.py:26-27) — a value that fails
  *     to parse under the declared type is a BAD RECORD, not a null;
  *   - `skip_leading_rows = 0` (main.py:28): the file is headerless and
  *     line 1 is DATA — a stray header line fails typed parsing instead
  *     of being silently skipped;
  *   - `max_bad_records` defaults to 0: ONE bad record (type mismatch,
  *     wrong column count) fails the whole job;
  *   - a FAILED job is ATOMIC — the destination table is untouched;
  *   - `write_disposition` picks truncate / append / only-if-empty
  *     (the reference pins WRITE_TRUNCATE, main.py:29).
  *
  * The twin enforces all five locally: parse under the explicit schema in
  * PERMISSIVE mode with a corrupt-record column, count bad records
  * BEFORE any write (so failure cannot touch the destination), then
  * apply the disposition via `saveAsTable`, counting the loaded rows on
  * that write. Scale shape: the validation pass and the write are both
  * distributed scans of the CSV; only the bad-record COUNT (and a
  * bounded sample for the error message) reaches the driver.
  */
object BqLoad {

  sealed trait WriteDisposition
  /** Replace the table's contents (the reference's setting). */
  case object WriteTruncate extends WriteDisposition
  /** Append to the table, creating it if absent. */
  case object WriteAppend extends WriteDisposition
  /** Load only if the destination is absent or empty, else fail. */
  case object WriteEmpty extends WriteDisposition

  /** Mirror of `bigquery.LoadJobConfig` for the CSV path, defaults set to
    * BigQuery's: `skipLeadingRows` may be 0 (reference contract) or 1
    * (header-skip; BQ applies it per file, as does Spark's header
    * option); `maxBadRecords = 0` means any unparseable row fails the
    * job.
    */
  final case class LoadJobConfig(
      schemaJson: String,
      skipLeadingRows: Int = 0,
      writeDisposition: WriteDisposition = WriteTruncate,
      maxBadRecords: Long = 0L)

  final case class LoadJobResult(outputRows: Long, badRecords: Long)

  /** The job-failure signal — carries the reason and a sample bad line,
    * like a load job's `errors` collection.
    */
  final class LoadJobFailed(msg: String) extends RuntimeException(msg)

  private val CorruptCol = "_graft_corrupt_record"

  /** Run the load job: validate the whole file under the declared schema,
    * THEN write under the disposition. Throws [[LoadJobFailed]] (leaving
    * the destination untouched) on bad records beyond `maxBadRecords` or
    * a violated WriteEmpty precondition.
    */
  def load(
      spark: SparkSession,
      csvPath: String,
      table: String,
      config: LoadJobConfig): LoadJobResult = {
    require(
      config.skipLeadingRows == 0 || config.skipLeadingRows == 1,
      s"skip_leading_rows=${config.skipLeadingRows}: only 0 (headerless — the reference's " +
        "setting) and 1 (per-file header skip) have local twins")
    val declared = SchemaDoc.toStructType(SchemaDoc.parseJson(config.schemaJson))
    // PERMISSIVE + corrupt-record column: a row that fails the declared
    // types (or arrives with the wrong column count) lands with the raw
    // line in CorruptCol instead of throwing mid-scan — so the job can
    // COUNT failures against max_bad_records before deciding anything.
    val parsed = spark.read
      .schema(declared.add(StructField(CorruptCol, StringType, nullable = true)))
      .options(DirtyCsv.CleanCsvOptions)
      .option("header", config.skipLeadingRows == 1)
      .option("enforceSchema", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(csvPath)
      // cache before touching CorruptCol: Spark disallows / mis-prunes
      // queries that reference ONLY the corrupt column of a raw CSV scan
      .cache()
    try {
      val bad = parsed.filter(col(CorruptCol).isNotNull)
      val badCount = bad.count()
      if (badCount > config.maxBadRecords) {
        val sample = bad.select(col(CorruptCol)).head(1).headOption.map(_.getString(0)).getOrElse("")
        throw new LoadJobFailed(
          s"CSV load failed: $badCount bad record(s) exceed max_bad_records=" +
            s"${config.maxBadRecords}; first: ${sample.take(200)}")
      }
      val good = parsed.filter(col(CorruptCol).isNull).drop(CorruptCol)
      val mode = config.writeDisposition match {
        case WriteEmpty if spark.catalog.tableExists(table) && !spark.table(table).isEmpty =>
          throw new LoadJobFailed(s"WRITE_EMPTY: destination table $table is not empty")
        case WriteEmpty | WriteTruncate => SaveMode.Overwrite
        case WriteAppend => SaveMode.Append
      }
      // output_rows = rows loaded BY THIS JOB (main.py:41-43), observed
      // on the write — for WriteAppend a destination count would report
      // pre-existing rows too, diverging from the contract (round-15
      // advice)
      val loaded = WarehouseSink.observedWrite(good)(_.write.mode(mode).saveAsTable(table))
      LoadJobResult(outputRows = loaded, badRecords = badCount)
    } finally {
      parsed.unpersist()
      ()
    }
  }
}
