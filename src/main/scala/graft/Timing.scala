package graft

import org.apache.spark.sql.SparkSession

/** Shared measurement harness: one definition of "run a registered
  * query end-to-end" (noop sink — materializes every column without
  * collecting) for QTime's plain and `--ab` modes, so the two can never
  * measure differently, plus locale-safe number formatting.
  */
object Timing {

  /** Warm the session (JVM/codegen/FileSourceStrategy) outside timings. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    try spark.read.parquet(s"$sfDir/region.parquet").count()
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

  def fmt(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)

  /** 3-decimal locale-safe formatting for machine-read JSON lines. */
  def fmt3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Seconds taken by an arbitrary action (for non-registry workloads). */
  def timeOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
