package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Settings of [[Sessions.build]] that show only in behaviour. */
class SessionsSpec extends SparkSpec {

  /** Registered relational queries (no `Ckpt`-looped kernel, whose plans
    * AQE may re-shape between runs) whose generated classes number well
    * over Spark's default codegen cache of 100.
    */
  private val mix = Seq(
    "q_filter_conj", "q_join_star", "q_agg_pricing", "q_stats_moments", "q_sql_shipping",
    "q_window_lag", "q_topk", "q_sql_window", "q_session_window", "q_asof_join",
    "q_window_range", "q_funnel", "q_user_history", "q_topk_perkey")

  /** Empties Spark's JVM-wide codegen cache (a private member), so that the
    * first pass compiles the mix's whole working set whatever earlier specs
    * left in it.
    */
  private def clearCodegenCache(): Unit = {
    val accessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val cache = accessor.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** Classes compiled by one pass of the mix. */
  private def pass(): Long = {
    val c0 = Timing.compiles
    mix.foreach(Timing.timeQuery(spark, _, sf()))
    Timing.compiles - c0
  }

  test("the codegen cache holds a repeated query mix: its second pass compiles nothing") {
    // the session first: Spark sizes the cache when it first generates code
    // in the JVM, from the conf of the session active then
    Timing.warm(spark, sf())
    clearCodegenCache()
    val first = pass()
    assert(first > 100, s"the mix compiled $first classes, too few to overflow Spark's default cache")
    val second = pass()
    assert(second == 0, s"the second pass recompiled $second of $first classes")
  }
}
