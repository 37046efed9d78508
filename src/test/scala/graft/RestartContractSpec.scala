package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** The train-once/serve-many restart contract across real processes:
  * two forked JVMs run [[RestartProbe]] against one fresh artifact
  * store. The first builds everything [[ArtifactDrive.serveAll]] serves;
  * the second is a restarted driver on the same store and must load
  * every slot and build nothing. Both phases fork: a warm phase inside
  * this JVM could find artifacts in registries that earlier suites left
  * in memory, skip the slot write, and make the cold phase build.
  */
class RestartContractSpec extends SparkSpec {

  private val ChildTimeoutMin = 10L

  /** This JVM's `--add-opens` arguments (the module opens build.sbt
    * gives every forked JVM), in either of the JVM's two spellings.
    */
  private def addOpens: Seq[String] = {
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    in.indices.flatMap { i =>
      if (in(i) == "--add-opens") in.slice(i, i + 2)
      else if (in(i).startsWith("--add-opens=")) Seq(in(i))
      else Nil
    }
  }

  /** Runs [[RestartProbe]] in a fresh JVM on `store`: (exit code, the
    * reported build count, the child's output lines). A child that
    * outlives the timeout is killed and reports exit code -1.
    */
  private def probe(store: String): (Int, Option[Long], Seq[String]) = {
    val log = File.createTempFile("graft-restart-probe", ".log")
    try {
      val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ addOpens ++ Seq(
        "-Xmx2g", "-cp", System.getProperty("java.class.path"), "graft.RestartProbe", sf())
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
      pb.environment().put("GRAFT_ARTIFACTS_DIR", store)
      val p = pb.start()
      val rc =
        if (p.waitFor(ChildTimeoutMin, TimeUnit.MINUTES)) p.exitValue()
        else { p.destroyForcibly().waitFor(); -1 }
      val out = Files.readAllLines(log.toPath).asScala.toSeq
      val builds = out.collectFirst {
        case l if l.startsWith("RESTART_PROBE_BUILDS=") =>
          l.stripPrefix("RESTART_PROBE_BUILDS=").trim.toLong
      }
      (rc, builds, out)
    } finally log.delete()
  }

  private def tail(phase: String, out: Seq[String]): String =
    out.takeRight(30).mkString(s"\n--- $phase probe, last 30 lines ---\n", "\n", "")

  test("a restarted driver serves every stored artifact with zero builds") {
    val store = Files.createTempDirectory("graft-restart-store")
    try {
      val (rc1, warm, out1) = probe(store.toString)
      assert(rc1 == 0 && warm.exists(_ > 0),
        s"warm phase: exit $rc1, builds $warm (expected > 0)" + tail("warm", out1))
      val (rc2, cold, out2) = probe(store.toString)
      assert(rc2 == 0 && cold.contains(0L),
        s"cold phase: exit $rc2, builds $cold (expected 0)" + tail("cold", out2))
      // every slot was served seconds ago: a swept slot means a lost
      // last-used signal or an over-eager cutoff
      spark.conf.set("graft.artifacts.dir", store.toString)
      val swept =
        try core.ArtifactStore.retentionSweep(spark)
        finally spark.conf.unset("graft.artifacts.dir")
      assert(swept.isEmpty, s"retention sweep removed freshly served slots: $swept")
    } finally
      Files.walk(store).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }
}
