package graft

/** Ad-hoc single-query timer: runs named registered queries end-to-end
  * through the shared [[Timing]] harness N times each and prints per-run
  * seconds — for comparing plan variants without editing the headline
  * set. Every distinct name runs once untimed before the first timed
  * rep, so the first names in the list do not pay the JVM's JIT and
  * codegen warm-up inside their timed reps (a smaller position effect
  * remains: compare runs over the same name list).
  * With `--ab <confKey>` it A/Bs a boolean session conf instead:
  * both arms are warmed, then each rep runs `key=true` and `key=false`
  * back to back, so JIT/GC drift hits both arms equally, and one line
  * per arm is printed. Every line ends with `compiles=`, the number of
  * classes each rep compiled through Janino (a rep that reuses Spark's
  * codegen cache reads 0), and `jobs=`, the Spark jobs each rep started
  * ([[Timing.jobsOf]]; under AQE it varies run to run, so read its min).
  *
  * Usage: runMain graft.QTime <sfDir> <reps> [--ab <confKey>] <name...>
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val (abKey, names) = args.drop(2) match {
      case Array("--ab", key, rest @ _*) => (Some(key), rest)
      case rest => (None, rest.toSeq)
    }
    val spark = Sessions.build("graft-qtime")
    Timing.warm(spark, sfDir)
    def line(tag: String, reps: Seq[(Double, Long, Int)]): String = {
      val ts = reps.map(_._1)
      s"$tag ${ts.map(Timing.fmt).mkString(" ")}  min=${Timing.fmt(ts.min)}" +
        s" compiles=${reps.map(_._2).mkString(",")} jobs=${reps.map(_._3).mkString(",")}"
    }
    if (abKey.isEmpty) names.distinct.foreach(Timing.timeQuery(spark, _, sfDir))
    names.foreach { n =>
      def time(): (Double, Long, Int) = {
        val c0 = Timing.compiles
        val (s, jobs) = Timing.jobsOf(spark)(Timing.timeQuery(spark, n, sfDir))
        (s, Timing.compiles - c0, jobs.size)
      }
      abKey match {
        case None =>
          println(line(s"QTIME ${n.padTo(24, ' ')}", (1 to reps).map(_ => time())))
        case Some(key) =>
          def arm(v: String): (Double, Long, Int) = { spark.conf.set(key, v); time() }
          arm("true"); arm("false") // warm both arms
          val ab = (1 to reps).map(_ => (arm("true"), arm("false")))
          println(line(s"AB ${n.padTo(24, ' ')} $key=true ", ab.map(_._1)))
          println(line(s"AB ${n.padTo(24, ' ')} $key=false", ab.map(_._2)))
      }
    }
    spark.stop()
  }
}
