package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run sequentially in the forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.build("graft-test", cores = "4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` in a fresh job group; returns its result and the
    * properties of every Spark job it started (session SQL confs are
    * propagated into them, so they show the conf each job ran under).
    */
  def jobsOf[T](body: => T): (T, Seq[java.util.Properties]) = {
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

  /** `body`'s result and the commands of the operating-system processes
    * started while it ran (JFR `jdk.ProcessStart`).
    */
  def processStarts[T](body: => T): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val dump = java.nio.file.Files.createTempFile("process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = body
      rec.stop()
      rec.dump(dump)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toList
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")))
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }
}
