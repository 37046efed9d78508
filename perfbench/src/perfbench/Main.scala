package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** One pass of a workload: wall seconds, per-item service seconds, rows
  * processed, failure messages, and (traced) the per-layer figures.
  */
final case class Pass(wall: Double, items: Seq[(String, Double)], rows: Long, failures: Seq[String],
                      layers: Map[String, Double] = Map.empty)

/** A workload: staging, warm-up, passes, and the output checks. */
trait Workload {
  /** The timed region is at least this many passes, so `wall_s` is a
    * median (see README).
    */
  def minPasses: Int
  def stage(): Unit
  /** Pass `i`; traced when `spans` is given. */
  def pass(i: Int, spans: Option[Spans]): Pass
  def warm(i: Int): Pass = pass(i, None)
  /** Bytes written per row processed, read after the timed passes. */
  def bytesPerRow(shuffleBytes: Long, rows: Long): Double
  def check(): Seq[String]
  def close(): Unit = ()
}

/** Benchmark entry point, run by `perfbench/run.py` in a fresh JVM.
  *
  * Args: workload seed seconds trace(0|1) workDir inputDir launchEpochMs
  * resultFile spansFile expectedFile
  */
object Main {

  // sizes: see perfbench/README.md
  val manySmallCopies = 2
  /** Seconds after launch past which no further pass starts (run.py stops the JVM at 170 s). */
  val lastStartS = 110
  val nullRate = 0.05

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, input, launchS, resultFile, spansFile, expectedFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val steal0 = stealSeconds()
    val cores = graft.Sessions.cpus.toInt
    val spark = graft.Sessions.build("perfbench")
    spark.conf.set("graft.artifacts.dir", s"$work/artifacts")
    val sc = spark.sparkContext
    val layers = new Layers
    sc.addSparkListener(layers)
    val sessionS = (System.currentTimeMillis() - launchS.toLong) / 1000.0
    val spans = new Spans(sc, s"$workload-$seed-$launchS")
    val wl: Workload = workload match {
      case "etl_many_small" =>
        new EtlWorkload(spark, layers, seed, work, cores, input,
          Seq("region", "nation", "customer", "supplier", "part", "orders"), manySmallCopies)
      case "etl_large" =>
        new EtlWorkload(spark, layers, seed, work, cores, input, Seq("lineitem", "orders"), 1)
      case "warehouse_queries" =>
        new QueryWorkload(spark, layers, seed, input, cores, expectedFile)
    }
    try {
      val t0 = System.nanoTime()
      wl.stage()
      val stageS = (System.nanoTime() - t0) / 1e9
      // closed loops: passes until `secs` have gone by, at least `min`;
      // past `lastStartS` after launch no further pass starts, so a run on
      // a heavily loaded box still ends in time
      def loop[T](secs: Double, min: Int)(pass: Int => T): Seq[T] = {
        val start = System.nanoTime()
        val out = scala.collection.mutable.ArrayBuffer.empty[T]
        def late = System.currentTimeMillis() - launchS.toLong > lastStartS * 1000
        while (out.isEmpty || ((out.size < min || (System.nanoTime() - start) / 1e9 < secs) && !late))
          out += pass(out.size)
        out.toSeq
      }
      val warm = Seq(wl.warm(-1000))
      val warmS = (System.nanoTime() - t0) / 1e9 - stageS
      val setupS = sessionS + stageS + warmS

      layers.take(sc)
      // a traced run reports only the per-layer figures of its traced passes
      val timed = if (trace) Nil else loop(seconds, wl.minPasses)(wl.pass(_, None))
      val totals = layers.take(sc).values.foldLeft(Counts.zero)(_ + _)
      // each traced pass sits between two untraced ones, and the overhead
      // compares it with their mean, which cancels the JVM's ongoing warm-up
      val brackets = if (trace) loop(seconds, 1) { i =>
        (wl.pass(1000 + 3 * i, None), wl.pass(1001 + 3 * i, Some(spans)), wl.pass(1002 + 3 * i, None))
      } else Nil
      val all = warm ++ timed ++ brackets.flatMap { case (u, t, v) => Seq(u, t, v) }
      val failures = all.flatMap(_.failures) ++ wl.check() ++
        brackets.collect { case (u, t, _) if u.rows != t.rows => s"traced pass loaded ${t.rows} rows, untraced ${u.rows}" }
      failures.foreach(f => System.err.println(s"[perfbench] MISMATCH $f"))

      val wallS = median(timed.map(_.wall))
      val rowsTimed = timed.map(_.rows).sum
      val perItem = timed.flatMap(_.items).groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq
      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wallS, "s"),
          ("rows_per_s", rowsTimed / timed.map(_.wall).sum, "1/s"),
          ("item_p50_s", median(timed.flatMap(_.items).map(_._2)), "s"),
          ("item_geomean_s", math.exp(perItem.map(math.log).sum / perItem.size), "s"),
          ("bytes_written_per_row", wl.bytesPerRow(totals.shuffleBytes, rowsTimed), "bytes"))
        else Layer.all.map { case (name, unit) =>
          (name, median(brackets.map(_._2.layers.getOrElse(name, 0.0))), unit)
        } :+ (("trace.overhead_share", median(brackets.map { case (u, t, v) => 2 * t.wall / (u.wall + v.wall) }) - 1, "ratio"))
      val attempted = all.map(_.items.size).sum
      val result = Json.obj(Seq(
        "correct" -> (if (failures.isEmpty) "true" else "false"),
        "attempted" -> attempted.toString,
        "failed" -> all.map(_.failures.size).sum.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
      val config = Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString, "cores" -> cores.toString,
        "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "warmup_passes" -> warm.size.toString, "timed_passes" -> timed.size.toString,
        "timed_items" -> timed.map(_.items.size).sum.toString,
        "traced_passes" -> brackets.size.toString, "session_s" -> Json.num(sessionS),
        "staging_s" -> Json.num(stageS), "warmup_s" -> Json.num(warmS),
        "warmup_walls_s" -> warm.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
        "timed_walls_s" -> timed.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
        "steal_s" -> Json.num(stealSeconds() - steal0)))
      if (trace) spans.write(spansFile)
      java.nio.file.Files.write(java.nio.file.Paths.get(resultFile), s"$config\n$result\n".getBytes("UTF-8"))
    } finally {
      wl.close()
      spark.stop()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Seconds the hypervisor ran other guests on this box's CPUs (Linux /proc/stat). */
  def stealSeconds(): Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().split("\\s+")(8).toDouble / 100.0 finally f.close()
  }.getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
}

/** The per-layer metric names of a traced run, with units. */
object Layer {
  val all: Seq[(String, String)] =
    Etl.stages.flatMap(s => Seq(
      s"pipeline.$s.busy_s" -> "s", s"pipeline.$s.jobs" -> "count", s"pipeline.$s.tasks" -> "count",
      s"pipeline.$s.task_s" -> "s", s"pipeline.$s.bytes_written" -> "bytes", s"pipeline.$s.files_written" -> "count")) ++
      Seq("pipeline.table.queue_wait_s" -> "s") ++
      Warehouse.queries.map(_._1).flatMap(q => Seq(
        s"query.$q.s" -> "s", s"query.$q.jobs" -> "count", s"query.$q.tasks" -> "count",
        s"query.$q.task_s" -> "s", s"query.$q.shuffle_bytes" -> "bytes")) ++
      Seq("spark.core_busy_share" -> "ratio", "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes")

  /** Spark-wide figures of one traced pass. */
  def spark(counts: Iterable[Counts], wall: Double, cores: Int, gcS: Double): Map[String, Double] = {
    val t = counts.foldLeft(Counts.zero)(_ + _)
    Map("spark.core_busy_share" -> t.taskS / (wall * cores), "spark.gc_s" -> gcS,
      "spark.shuffle_write_bytes" -> t.shuffleBytes.toDouble, "spark.spill_bytes" -> t.spillBytes.toDouble)
  }
}
