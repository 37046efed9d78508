package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Run queries concurrently (Spark's scheduler interleaves jobs across
    // the local cores) — wall time is dominated by per-query fixed costs
    // at sf0.01, not data volume.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // A failed query must leave NO output: if outDir is reused, a stale
    // parquet from a previous run would otherwise pass the compare.
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
      f.delete(); ()
    }
    // Each query runs under its own job group so a single hung query can
    // be CANCELLED at the deadline instead of stalling the whole dump —
    // one pathological plan must cost one missing row in the gate, not
    // the round's entire correctness signal. `cancelled` closes the gap
    // for futures still QUEUED at their deadline: cancelJobGroup can't
    // reach a query that hasn't called setJobGroup yet, so without the
    // check such a query would start after its timeout, re-create the
    // output the main thread just deleted, and race spark.stop().
    val cancelled = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val futures = SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> scala.concurrent.Future {
        if (!cancelled.contains(name)) {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          deleteRec(new java.io.File(s"$outDir/$name"))
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            deleteRec(new java.io.File(s"$outDir/$name"))
          } finally spark.sparkContext.clearJobGroup()
          // Close the start-vs-cancel race: a future that passed the
          // `cancelled` check just before the main thread's deadline fired
          // has no job group registered yet, so cancelJobGroup missed it
          // and it re-created the output the main thread deleted. The main
          // thread adds to `cancelled` BEFORE deleting, so re-checking
          // after the write guarantees one of the two deletes sees it.
          if (cancelled.contains(name))
            deleteRec(new java.io.File(s"$outDir/$name"))
        }
      }
    }
    val deadline = System.nanoTime() + 30L * 60 * 1000000000L // 30 min overall
    futures.foreach { case (name, f) =>
      val remainingNs = math.max(1L, deadline - System.nanoTime())
      try scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.fromNanos(remainingNs))
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"[verify] $name timed out — cancelling its jobs")
          cancelled.add(name)
          spark.sparkContext.cancelJobGroup(name)
          deleteRec(new java.io.File(s"$outDir/$name"))
      }
    }
    // shutdownNow (not shutdown): drop any still-queued future so a
    // timed-out-but-unstarted query can never run during the JSON dump.
    pool.shutdownNow()
    val terminated = pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    if (!terminated)
      System.err.println("[verify] worker pool did not terminate within 30s — " +
        "a straggler may still be running; re-deleting cancelled outputs")
    // Whether or not the pool drained, sweep every cancelled query's output
    // one last time: a straggler that finished its write between the main
    // thread's delete and here must not leave a stale parquet for the
    // compare. (Its own post-write re-check covers the reverse order.)
    cancelled.forEach(name => deleteRec(new java.io.File(s"$outDir/$name")))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** A JSON string literal: quote, backslash and newline escaped, every
    * other control char (< 0x20) as \u00XX, so a tab or CR in an oracle
    * string cannot make the reader's json.load fail. Shared by the
    * oracle_sql.json writers and the Bench JSON lines.
    */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
