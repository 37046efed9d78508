package graft.pipeline

import graft.SparkSpec
import graft.streaming.MessageQueue
import graft.streaming.RunGuard.BatchMsg

/** Automated scheduler-tick coverage (reference main.tf:46-56): the cron
  * entry is [[PipelineMain.tick]] — discovery → publish → single-flight
  * guarded consume → per-table load → ack. These specs drive ticks
  * end-to-end: a normal tick loads the demo tables and drains the topic,
  * a tick fired while another run holds the lock yields (the 409 path),
  * a runaway continuation batch aborts the run WITHOUT acking (so the
  * poison message survives for inspection), and after the poison is
  * cleared the next tick recovers — closing the one §2.8 row that was
  * previously exercised only by hand.
  */
class CronKickoffSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("cron-tick").toString

  test("a scheduler tick runs the pipeline end-to-end and drains the topic") {
    val root = freshRoot()
    val ran = PipelineMain.tick(root, None, spark)
    assert(ran.isDefined, "first tick must win the lock and run")
    // the demo db's discovered tables landed in the warehouse
    val users = spark.read.parquet(s"$root/warehouse/users")
    assert(users.count() > 0)
    // each reported count is the rows the load wrote, read off the
    // write itself: it equals the warehouse table's row count
    val loaded = ran.get
    assert(loaded.map(_._1).contains("users"))
    loaded.foreach { case (table, rows) =>
      assert(rows == spark.read.parquet(s"$root/warehouse/$table").count(),
        s"tick reported $rows rows loaded for $table")
    }
    // peek-then-ack drained the batch it processed
    assert(MessageQueue.peekAll(s"$root/topic").isEmpty, "topic not drained")
    // and the lock was released: a second tick runs (idempotent overwrite)
    assert(PipelineMain.tick(root, None, spark).isDefined)
  }

  test("a scheduler tick sweeps stale artifact slots and spares live ones") {
    // Round-17: the stored-artifact retention sweep runs inside the
    // same scheduled flow as the staging-dir sweep (the reference's one
    // lifecycle, main.tf:72-79). Planted: one slot last used 40 days
    // ago, one fresh — the tick must remove exactly the stale one.
    val root = freshRoot()
    val store = java.nio.file.Files.createTempDirectory("cron-artifacts").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      import graft.core.ArtifactStore
      def put(key: String): Unit =
        ArtifactStore.loadOrBuild(spark, key) { w => w.text("p", key) } { s => s.text("p") }
      put("cron-stale"); put("cron-live")
      val staleDir = new java.io.File(store).listFiles().filter(_.isDirectory)
        .find(d => new String(java.nio.file.Files.readAllBytes(
          new java.io.File(d, "key.txt").toPath)) == "cron-stale").get
      val past = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
      assert(new java.io.File(staleDir, "_OK").setLastModified(past))
      assert(PipelineMain.tick(root, None, spark).isDefined)
      val left = new java.io.File(store).listFiles().filter(_.isDirectory).map(d =>
        new String(java.nio.file.Files.readAllBytes(
          new java.io.File(d, "key.txt").toPath))).toSet
      assert(left == Set("cron-live"),
        s"tick swept the wrong slots — remaining: $left")
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("a tick fired while another run holds the lock yields cleanly") {
    val root = freshRoot()
    val held = RunLock.tryAcquire(root)
    assert(held.isDefined)
    try {
      assert(PipelineMain.tick(root, None, spark).isEmpty,
        "second tick must yield while the lock is held")
      // yielding must not leave pipeline output behind
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/warehouse")))
    } finally held.get.close()
    // holder gone → the next scheduled tick proceeds
    assert(PipelineMain.tick(root, None, spark).isDefined)
  }

  test("runaway continuation batch aborts the tick, keeps the poison message, then recovers") {
    val root = freshRoot()
    val topic = s"$root/topic"
    // a continuation message past its budget, already on the topic when
    // the scheduler fires (LIFO: consumed ahead of the tick's own batch)
    MessageQueue.publish(topic, BatchMsg(Seq("users"), batchNo = 9, maxBatches = 8))
    val ex = intercept[IllegalStateException] {
      PipelineMain.tick(root, None, spark)
    }
    assert(ex.getMessage.contains("Exceeded max batches"))
    // nothing was acked on the failure path — at-least-once keeps BOTH the
    // poison message and the tick's own published batch
    val left = MessageQueue.peekAll(topic)
    assert(left.exists(_._2.batchNo == 9), "poison message was lost")
    assert(left.exists(_._2.batchNo == 1), "tick's own batch was lost")
    // the failure path released the lock; clearing the poison lets the
    // next tick complete
    MessageQueue.ack(topic, left.filter(_._2.batchNo == 9).map(_._1))
    assert(PipelineMain.tick(root, None, spark).isDefined)
    assert(spark.read.parquet(s"$root/warehouse/users").count() > 0)
  }
}
