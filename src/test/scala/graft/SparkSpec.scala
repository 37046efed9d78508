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

  /** [[Timing.jobsOf]] on the shared session. */
  def jobsOf[T](body: => T): (T, Seq[java.util.Properties]) = Timing.jobsOf(spark)(body)

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
