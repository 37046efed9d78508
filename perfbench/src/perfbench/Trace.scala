package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task counters summed per job group. */
final case class Counts(jobs: Long, tasks: Long, taskS: Double, shuffleBytes: Long, spillBytes: Long) {
  def +(o: Counts): Counts =
    Counts(jobs + o.jobs, tasks + o.tasks, taskS + o.taskS, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
}

object Counts { val zero: Counts = Counts(0, 0, 0.0, 0, 0) }

/** A SparkListener that sums jobs, tasks, executor run time, shuffle
  * write and spill per job group (`""` for jobs outside any group). The
  * untraced runs use only the grand total.
  */
final class Layers extends SparkListener {
  private final class Acc {
    val jobs, tasks, runMs, shuffle, spill = new LongAdder
  }
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    acc(g).jobs.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrDefault(e.stageId, ""))
      a.tasks.increment()
      a.runMs.add(m.executorRunTime)
      a.shuffle.add(m.shuffleWriteMetrics.bytesWritten)
      a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Counters per group since the last call, after draining the bus. */
  def take(sc: SparkContext): Map[String, Counts] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val out = groups.asScala.map { case (g, a) =>
      g -> Counts(a.jobs.sum(), a.tasks.sum(), a.runMs.sum() / 1000.0, a.shuffle.sum(), a.spill.sum())
    }.toMap
    groups.clear()
    stageGroup.clear()
    out
  }
}

/** Spans written as JSON lines: name, start, end (epoch seconds), parent
  * and run id. A span also names the job group of the Spark jobs its body
  * starts, so the [[Layers]] counters attribute to it.
  */
final class Spans(sc: SparkContext, runId: String) {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  private def now(): Double = t0Ms / 1000.0 + (System.nanoTime() - t0Ns) / 1e9

  /** Run `f` as span `name` under `parent`; returns its result and seconds. */
  def apply[T](name: String, parent: Option[String], group: Boolean = true)(f: => T): (T, Double) = {
    if (group) sc.setJobGroup(name, name)
    val start = now()
    try {
      val r = f
      val end = now()
      lines.add(s"""{"run":${Json.str(runId)},"name":${Json.str(name)},"parent":${parent.map(Json.str).getOrElse("null")},""" +
        s""""start":${Json.num(start)},"end":${Json.num(end)}}""")
      (r, end - start)
    } finally if (group) sc.clearJobGroup()
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.asScala.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
