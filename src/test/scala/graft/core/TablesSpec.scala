package graft.core

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.lit

import graft.{Registry, SparkSpec}
import graft.engine.QueryRunner

/** [[Tables]] reads every fixture table under its memoized schema: the
  * relation is the one a bare `spark.read.parquet` gives, a warm read
  * starts no Spark job, and a rebuilt or missing table is inferred again.
  */
class TablesSpec extends SparkSpec {

  private def columns(df: DataFrame) =
    df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))

  private def jobCount[T](body: => T): Int = jobsOf(body)._2.size

  test("every table reads with the schema and plan output parquet inference gives") {
    Tables.all.foreach { t =>
      val bare = spark.read.parquet(s"${sf()}/$t.parquet")
      val df = Tables(spark, sf(), t)
      assert(df.schema == bare.schema, t)
      assert(columns(df) == columns(bare), t)
    }
  }

  test("a cold read infers in a Spark job; a warm one starts none") {
    val dir = Tmp.dir("tables-warm")
    Tables(spark, sf(), "region").write.parquet(s"$dir/region.parquet")
    val cold = jobCount(Tables(spark, dir, "region"))
    assert(cold >= 1)
    val warm = jobCount(Tables(spark, dir, "region"))
    assert(warm == 0)
  }

  test("a table rewritten under the same path is inferred again") {
    val dir = Tmp.dir("tables-rewrite")
    val path = s"$dir/region.parquet"
    Tables(spark, sf(), "region").write.parquet(path)
    val before = Tables(spark, dir, "region").schema
    Tables(spark, sf(), "region").withColumn("r_extra", lit(1L))
      .write.mode("overwrite").parquet(path)
    val after = Tables(spark, dir, "region")
    assert(after.schema.fieldNames.toSeq == before.fieldNames.toSeq :+ "r_extra")
    assert(after.schema == spark.read.parquet(path).schema)
  }

  test("a session with other parquet inference confs infers again") {
    // events.ts carries no UTC adjustment: inferTimestampNTZ decides
    // whether inference makes it TIMESTAMP_NTZ or TIMESTAMP, so a memo
    // blind to the conf would answer from the other setting's entry
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val was = spark.conf.get(key)
    try {
      Seq("true", "false", "true").foreach { v =>
        spark.conf.set(key, v)
        val bare = spark.read.parquet(s"${sf()}/events.parquet").schema
        assert(Tables(spark, sf(), "events").schema == bare, s"$key=$v")
      }
    } finally spark.conf.set(key, was)
  }

  test("a missing table throws AnalysisException and caches nothing") {
    val dir = Tmp.dir("tables-missing")
    // the repeat infers again and fails the same way: no entry was left
    intercept[AnalysisException](Tables(spark, dir, "nation"))
    intercept[AnalysisException](Tables(spark, dir, "nation"))
    Tables(spark, sf(), "nation").write.parquet(s"$dir/nation.parquet")
    val df = Tables(spark, dir, "nation")
    assert(df.schema == spark.read.parquet(s"$dir/nation.parquet").schema)
    assert(df.count() == Tables(spark, sf(), "nation").count())
  }

  test("on a warm memo, building q_sql_window and q_join_star starts no Spark job") {
    // no action runs, so AQE's run-to-run job count cannot enter; a bare
    // `spark.read.parquet` per table read starts 10 and 5 footer jobs here
    QueryRunner.registerViews(spark, sf())
    val sql = Registry.byName("q_sql_window").oracle.get
    assert(jobCount(QueryRunner.run(spark, sf(), sql)) == 0)
    assert(jobCount(Registry.byName("q_join_star").run(spark, sf())) == 0)
  }
}
