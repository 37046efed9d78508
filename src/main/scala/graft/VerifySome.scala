package graft

import java.nio.file.{Files, Paths}

/** Dev-loop slice of [[Verify]]: dump ONLY the named queries (plus their
  * oracle SQL) so tools/localverify.py can check a new operator without
  * re-running the full registry. Usage:
  * runMain graft.VerifySome <sfDir> <outDir> <name...>
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = Sessions.build("graft-verify-some")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val q = Registry.byName(name)
      q.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val oracle = names.flatMap(n => Registry.byName(n).oracle.map(n -> _))
      .map { case (n, sql) => s"${Verify.jstr(n)}:${Verify.jstr(sql)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle)
    spark.stop()
  }
}
