package graft

import org.apache.spark.sql.SparkSession

/** Shared measurement harness: one definition of "run a registered
  * query end-to-end" (noop sink — materializes every column without
  * collecting) for Bench's tiers and QTime's plain and `--ab` modes, so
  * none of them can measure differently, the compile and job counters
  * QTime and the specs read, plus locale-safe number formatting.
  */
object Timing {

  /** Warm the session (JVM/codegen/FileSourceStrategy) outside timings. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    try graft.core.Tables(spark, sfDir, "region").count()
    catch { case _: Throwable => () }

  /** One end-to-end run of a registered query; returns seconds. */
  def timeQuery(spark: SparkSession, name: String, sfDir: String): Double = {
    val q = Registry.byName(name)
    val t0 = System.nanoTime()
    q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Classes compiled through Janino in this JVM so far: Spark's codegen
    * cache misses, driver and task threads alike.
    */
  def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` in a fresh job group; returns its result and the
    * properties of every Spark job it started (session SQL confs are
    * propagated into them, so they show the conf each job ran under).
    * Under AQE a body that runs actions starts a varying number of jobs
    * on identical input, so such a count is read as min-of-N, like a
    * timing.
    */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[java.util.Properties]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach(props.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val out =
      try {
        sc.setJobGroup(group, "job count")
        try body
        finally sc.clearJobGroup()
      } finally {
        org.apache.spark.sql.GraftShim.drainListenerBus(spark)
        sc.removeSparkListener(listener)
      }
    (out, props.toArray(Array.empty[java.util.Properties]).toSeq)
  }

  def fmt(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)

  /** 3-decimal locale-safe formatting for machine-read JSON lines. */
  def fmt3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Seconds taken by an arbitrary action (for non-registry workloads). */
  def timeOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
