package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sources.DirtyCsv

/** File-arrival stage chaining — the Structured Streaming re-expression of
  * the reference's GCS `object.finalize` triggers (SURVEY.md §2.8, §3 EP3):
  * each stage is a checkpointed file-source stream over the previous
  * stage's output directory, run with `Trigger.AvailableNow` (the
  * scheduled-batch pattern: process everything new, then stop).
  *
  * Exactly-once replaces at-least-once: the checkpoint's file log tracks
  * processed inputs (re-running a stage re-reads nothing), and the load
  * stage's per-batch truncate-overwrite is idempotent — same guarantees
  * the reference gets from 409-conflict checks + WRITE_TRUNCATE
  * (app/cloud-sql-exporter/main.py:87-92, app/bq-importer/main.py:29).
  */
object FileChain {

  /** Cleaner stage as a stream: dirty CSV files arriving in `inDir` →
    * repaired lines appended under `outDir`. Returns processed-files count
    * this run.
    */
  def cleanStage(spark: SparkSession, inDir: String, outDir: String, checkpoint: String): Unit = {
    val q = spark.readStream
      .format("text")
      .load(inDir)
      .select(DirtyCsv.repairColumnExpr(col("value")).as("value"))
      .writeStream
      .format("text")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Importer stage as a stream: cleaned CSVs arriving in `inDir` →
    * truncate-overwrite of the warehouse parquet at `targetPath` per
    * micro-batch (foreachBatch gives the per-table overwrite semantics a
    * plain file sink cannot).
    */
  def loadStage(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      targetPath: String,
      checkpoint: String): Unit = {
    val q = spark.readStream
      .schema(schema)
      .options(DirtyCsv.CleanCsvOptions)
      .csv(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) batch.write.mode(SaveMode.Overwrite).parquet(targetPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming exact-dedup stage: drop rows whose key was already seen,
    * with state BOUNDED by the watermark horizon — the ingest-time
    * counterpart of q_dedup_exact. `dropDuplicatesWithinWatermark` keeps
    * per-key state only until the watermark passes the key's event time,
    * so state size is O(keys per horizon), not O(all keys ever) — the
    * property that keeps a 100 TB/day ingest dedup from growing without
    * bound. Dedup state survives restarts via the checkpoint.
    */
  def dedupStage(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      keyCols: Seq[String],
      eventTimeCol: String,
      watermarkDelay: String,
      outDir: String,
      checkpoint: String): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("header", "false")
      .csv(inDir)
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Validation stage with dead-letter routing: rows passing `validRow`
    * continue to `outDir`, failures land in `quarantineDir` with the
    * rejection reason attached — the bad-row path the reference pipeline
    * lacks (a malformed CSV line would fail its whole BigQuery load job;
    * here it costs one quarantined row, and the quarantine dir is itself
    * a replayable file source once the bug upstream is fixed). Each side
    * writes mode=Overwrite into a batch-id-keyed directory, so a replayed
    * micro-batch (crash between the two writes) overwrites its own output
    * instead of duplicating it — idempotent routing without a
    * transactional sink.
    */
  def validateStage(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      validRow: org.apache.spark.sql.Column,
      reason: org.apache.spark.sql.Column,
      outDir: String,
      quarantineDir: String,
      checkpoint: String): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("header", "false")
      .csv(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val flagged = batch.withColumn("__ok", validRow).persist()
        try {
          flagged.filter(col("__ok")).drop("__ok")
            .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
          val bad = flagged.filter(!col("__ok")).drop("__ok")
          if (!bad.isEmpty)
            bad.withColumn("reject_reason", reason)
              .write.mode(SaveMode.Overwrite).parquet(s"$quarantineDir/batch=$batchId")
        } finally { flagged.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

/** Continuation-batch run guard — the reference's runaway-loop protection
  * (app/cloud-sql-exporter/main.py:32-38): `batch_no` must not exceed
  * `max_batches`, else the run aborts.
  */
object RunGuard {

  final case class BatchMsg(tables: Seq[String], batchNo: Int, maxBatches: Int) {
    /** Payload format parity: comma-joined names, LIFO consumption
      * (app/cloud-sql-query-runner/main.py:59-64, exporter main.py:47-49).
      */
    def payload: String = tables.mkString(",")
  }

  def check(msg: BatchMsg): Unit =
    if (msg.batchNo > msg.maxBatches)
      throw new IllegalStateException(
        s"Exceeded max batches: ${msg.batchNo} > ${msg.maxBatches} — aborting run")

  /** Time-budgeted work split (main.py:75-86): process while under budget,
    * return the continuation message for the remainder (LIFO order).
    */
  def splitForBudget[A](
      work: List[A],
      budgetMs: Long,
      elapsedMsPerItem: A => Long,
      msg: BatchMsg): (List[A], Option[BatchMsg]) = {
    var spent = 0L
    val (done, rest) = work.partition { a =>
      spent += elapsedMsPerItem(a)
      spent <= budgetMs
    }
    val cont =
      if (rest.isEmpty) None
      else Some(msg.copy(tables = rest.map(_.toString), batchNo = msg.batchNo + 1))
    (done, cont)
  }
}
