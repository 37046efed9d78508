package graft.pipeline

import graft.Sessions
import graft.sources.JdbcCatalog
import graft.streaming.{MessageQueue, RunGuard}
import graft.streaming.RunGuard.BatchMsg

/** Runnable EP1 entrypoint — what an external scheduler (the reference's
  * Cloud Scheduler cron, main.tf:46-56) invokes per run:
  * discovery → publish table list → guarded consume → per-table
  * export/clean/load → row-count report.
  *
  * Usage: runMain graft.pipeline.PipelineMain [workRoot] [jdbcUrl]
  * (defaults: temp dir + a seeded embedded Derby demo database)
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-pipeline-run").toString)
    val spark = Sessions.build("graft-pipeline")
    try {
      if (tick(root, args.lift(1), spark).isEmpty)
        println("[pipeline] another run holds the lock — exiting (conflict)")
    } finally spark.stop()
  }

  /** One scheduler tick — exactly what the external cron invokes
    * (reference main.tf:46-56), minus session lifecycle so a spec can
    * drive ticks end-to-end (CronKickoffSpec). Returns the (table, rows
    * loaded) of every table it ran, in load order. Single-flight: a tick
    * scheduled while one is in flight yields cleanly (None), like the
    * reference's 409-means-already-running path (main.py:87-92) — it
    * must NOT interleave loads with the holder.
    */
  def tick(
      root: String,
      urlArg: Option[String],
      spark: org.apache.spark.sql.SparkSession): Option[Seq[(String, Long)]] =
    RunLock.singleFlight(root) {
      run(root, urlArg, spark)
    }

  private def run(
      root: String,
      urlArg: Option[String],
      spark: org.apache.spark.sql.SparkSession): Seq[(String, Long)] = {
    val url = urlArg.getOrElse(JdbcCatalog.seedDemoDb(s"$root/derbydb"))

    // stage 1 — discovery (query_runner parity) + publish
    val tables = JdbcCatalog
      .discoverTables(spark, url, "user__field%", Seq("users"))
      .collect().map(_.getString(0)).sorted.toSeq
    val topic = s"$root/topic"
    MessageQueue.publish(topic, BatchMsg(tables, batchNo = 1, maxBatches = 8))
    println(s"[pipeline] discovered: ${tables.mkString(",")}")

    // stages 2-4 — guarded consume, per-table pipeline (LIFO). Peek first,
    // ack only after every load succeeds: a crash mid-run leaves the
    // messages on the topic so a re-run reprocesses them (at-least-once;
    // the truncate-overwrite loads make the replay idempotent). Ack-before-
    // process would silently lose the batch on failure.
    val layout = Pipeline.Layout.today(root)
    val peeked = MessageQueue.peekAll(topic)
    val loaded = peeked.flatMap { case (_, msg) =>
      RunGuard.check(msg)
      msg.tables.map { table =>
        val df = JdbcCatalog.fullTableScan(spark, url, table)
        val cols = JdbcCatalog.introspectColumns(url, table)
        val rows = Pipeline.runTableRows(spark, df, cols, layout, table)
        println(s"[pipeline] loaded $table: $rows rows") // main.py:41-43 parity
        table -> rows
      }
    }
    // ack EXACTLY the processed files — a message published mid-run stays
    // on the topic for the next invocation
    MessageQueue.ack(topic, peeked.map(_._1))
    Pipeline.retentionSweep(spark, root, java.time.LocalDate.now())
    // the stored-artifact twin of the same lifecycle (round 17): age out
    // sketch/index/graph slots a corpus regeneration stranded — every
    // serve touches _OK, so live artifacts never expire
    val swept = graft.core.ArtifactStore.retentionSweep(spark)
    if (swept.nonEmpty) println(s"[pipeline] artifact sweep removed ${swept.size} stale slots")
    loaded
  }
}
