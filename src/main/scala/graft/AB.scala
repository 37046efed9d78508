package graft

/** In-JVM A/B of a boolean session conf over named queries: interleaves
  * A/B runs (shared [[Timing]] harness) so JIT/GC drift hits both arms
  * equally. Usage: runMain graft.AB <sfDir> <confKey> <reps> <name...>
  *
  * The scan-spread, minhash-spread, interval-bucketize and
  * triangles-edge-centric keys are gone: each query always runs the form
  * that was their default, and the A/B numbers that chose those defaults
  * are in PLANS.md.
  */
object AB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val key = args(1); val reps = args(2).toInt
    val names = args.drop(3)
    val spark = Sessions.build("graft-ab")
    Timing.warm(spark, sfDir)
    names.foreach { n =>
      def time(v: String): Double = {
        spark.conf.set(key, v)
        Timing.timeQuery(spark, n, sfDir)
      }
      time("true"); time("false") // warm both arms
      val a = scala.collection.mutable.ArrayBuffer.empty[Double]
      val b = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to reps).foreach { _ => a += time("true"); b += time("false") }
      def line(v: String, ts: Seq[Double]): String =
        s"AB ${n.padTo(24, ' ')} $key=$v ${ts.map(Timing.fmt).mkString(" ")}  min=${Timing.fmt(ts.min)}"
      println(line("true ", a.toSeq))
      println(line("false", b.toSeq))
    }
    spark.stop()
  }
}
