package graft.plans

import org.apache.spark.sql.{GraftShim, Row}
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The custom per-key top-k operator (logical node + rewrite rule +
  * strategy + bounded-heap physical operators) must be a drop-in
  * replacement for the row_number window pattern: identical rows AND
  * ranks on real data, a partial → exchange → final plan shape, and the
  * opt-in rewrite firing only on the exact pattern.
  */
class TopKSpec extends SparkSpec {

  private def windowForm(k: Int) = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    graft.core.Tables(spark, sf(), "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  private def collectSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map { r =>
      (r.getAs[Number]("c_custkey").longValue, r.getAs[Number]("c_nationkey").longValue,
        r.getAs[Double]("c_acctbal"), r.getAs[Number]("rn").intValue)
    }.toSet

  private def directForm(k: Int) = {
    val child = graft.core.Tables(spark, sf(), "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .queryExecution.analyzed
    val key = child.output.find(_.name == "c_nationkey").get
    val bal = child.output.find(_.name == "c_acctbal").get
    val cust = child.output.find(_.name == "c_custkey").get
    val order = Seq(
      SortOrder(bal, org.apache.spark.sql.catalyst.expressions.Descending),
      SortOrder(cust, org.apache.spark.sql.catalyst.expressions.Ascending))
    GraftShim.ofRows(
      spark,
      TopKPerKey(Seq(key), order, k, TopKPerKey.rankAttribute(), child))
  }

  private def builderForm(k: Int) =
    TopKPerKey.topK(
      graft.core.Tables(spark, sf(), "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")),
      Seq(col("c_nationkey")), Seq(col("c_acctbal").desc, col("c_custkey")), k, "rn")

  test("direct TopKPerKey node matches the window row_number form, ranks included") {
    for (k <- Seq(1, 3)) {
      // the reference rows come from the Window plan itself, rewrite off
      val expected =
        try {
          spark.conf.set(TopKRewrite.Flag, "false")
          collectSet(windowForm(k))
        } finally spark.conf.unset(TopKRewrite.Flag)
      val built = builderForm(k)
      val p = built.queryExecution.executedPlan.toString
      assert(p.contains("TopKPerKeyFinal"), s"k=$k: the builder's shape was not rewritten:\n$p")
      for ((form, got) <- Seq("direct" -> collectSet(directForm(k)), "builder" -> collectSet(built)))
        assert(got == expected, s"$form k=$k diff: ${(got diff expected) ++ (expected diff got)}")
      assert(expected.nonEmpty)
    }
  }

  test("physical plan is partial -> exchange on keys -> final, no Window, no sort") {
    val p = directForm(3).queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyPartial"), s"no map-side partial:\n$p")
    assert(p.contains("TopKPerKeyFinal"), s"no final:\n$p")
    assert(p.contains("hashpartitioning(c_nationkey"), s"no key exchange:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Sort "), s"full sort survived:\n$p")
    // partial must sit BELOW the exchange (map side)
    val partialIdx = p.indexOf("TopKPerKeyPartial")
    val exchangeIdx = p.indexOf("Exchange")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      "partial is not below the exchange")
  }

  test("rewrite is ON by default, answers match the window form, and false disables it") {
    val flag = TopKRewrite.Flag
    // default (no flag set): guard's small-input path admits the fixture
    val rewritten = windowForm(2)
    val p = rewritten.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyFinal"), s"default-on rewrite did not fire:\n$p")
    assert(!p.contains("Window ["))
    try {
      // identical answer to the explicitly un-rewritten plan
      spark.conf.set(flag, "false")
      val plain = windowForm(2)
      assert(!plain.queryExecution.executedPlan.toString.contains("TopKPerKey"),
        "rewrite fired with the flag off")
      assert(collectSet(rewritten) == collectSet(plain))
    } finally spark.conf.unset(flag)
  }

  test("rewrite fires on the delegated-SQL subquery shape too") {
    graft.engine.QueryRunner.registerViews(spark, sf())
    val df = spark.sql(
      "SELECT * FROM (SELECT o_custkey, o_orderkey, " +
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) t WHERE rn <= 2")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyFinal") && !p.contains("Window ["),
      s"rewrite did not fire on SQL text:\n$p")
  }

  test("rewrite leaves non-matching shapes alone (compound filter, rank function)") {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc)
    // compound condition → not the exact pattern
    val compound = graft.core.Tables(spark, sf(), "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 && col("c_acctbal") > 0)
    assert(!compound.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    // rank() (ties share ranks — different semantics) → untouched
    val rk = graft.core.Tables(spark, sf(), "customer")
      .withColumn("rn", rank().over(w))
      .filter(col("rn") <= 2)
    assert(!rk.queryExecution.executedPlan.toString.contains("TopKPerKey"))
  }

  test("rn < Int.MinValue does not wrap into a keep-everything rewrite") {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val df = graft.core.Tables(spark, sf(), "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") < Int.MinValue) // always false; v-1 would overflow to MaxValue
    assert(!df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "overflowed bound rewrote to a keep-everything top-k")
    assert(df.count() == 0L)
  }

  test("cardinality guard: high-cardinality keys fall back to WindowExec, hot keys rewrite") {
    // Disable the small-input shortcut so the HLL++ pre-pass decides, and
    // shrink the k·keys budget below the distinct-c_custkey count.
    try {
      spark.conf.set(TopKRewrite.SmallBytesFlag, "0")
      spark.conf.set(TopKRewrite.MaxKeyRowsFlag, "100")
      val wHigh = Window.partitionBy(col("c_custkey")) // unique per row
        .orderBy(col("c_acctbal").desc, col("c_nationkey"))
      val high = graft.core.Tables(spark, sf(), "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .withColumn("rn", row_number().over(wHigh))
        .filter(col("rn") <= 2)
      // The pre-pass only fires while an action is in flight, so execute
      // FIRST (collect() optimizes this dataset's own QueryExecution
      // inside the action, caching the decision), then inspect the plan.
      high.collect()
      val pHigh = high.queryExecution.executedPlan.toString
      assert(pHigh.contains("Window [") && !pHigh.contains("TopKPerKey"),
        s"high-cardinality keys were not declined:\n$pHigh")
      // 25 nation keys × k=3 = 75 ≤ 100 → pre-pass admits the rewrite
      val hot = windowForm(3)
      hot.collect()
      val pHot = hot.queryExecution.executedPlan.toString
      assert(pHot.contains("TopKPerKeyFinal") && !pHot.contains("Window ["),
        s"hot keys were not rewritten under the pre-pass:\n$pHot")
    } finally {
      spark.conf.unset(TopKRewrite.SmallBytesFlag)
      spark.conf.unset(TopKRewrite.MaxKeyRowsFlag)
    }
  }

  test("cardinality guard: plan-only access (explain) never runs the pre-pass job") {
    // With the small-input shortcut off, only the HLL++ pre-pass could
    // admit the rewrite (25 nation keys × 3 ≪ default budget). Accessing
    // the plan WITHOUT an action must decline — Window form is the proof
    // the estimation job did not fire on a plan-only path.
    try {
      spark.conf.set(TopKRewrite.SmallBytesFlag, "0")
      val p = windowForm(3).queryExecution.executedPlan.toString
      assert(p.contains("Window [") && !p.contains("TopKPerKey"),
        s"plan-only path ran the pre-pass (rewrite admitted without an action):\n$p")
    } finally spark.conf.unset(TopKRewrite.SmallBytesFlag)
  }

  test("cardinality guard: prepass disabled + no safe estimate keeps the Window plan") {
    try {
      spark.conf.set(TopKRewrite.SmallBytesFlag, "0")
      spark.conf.set(TopKRewrite.PrepassFlag, "false")
      val p = windowForm(3).queryExecution.executedPlan.toString
      assert(p.contains("Window [") && !p.contains("TopKPerKey"),
        s"rewrite fired with no admissible cardinality evidence:\n$p")
    } finally {
      spark.conf.unset(TopKRewrite.SmallBytesFlag)
      spark.conf.unset(TopKRewrite.PrepassFlag)
    }
  }

  test("k larger than every group returns all rows ranked; ties break by the total order") {
    val all = collectSet(directForm(1000000))
    val n = graft.core.Tables(spark, sf(), "customer").count()
    assert(all.size == n, s"expected all $n rows, got ${all.size}")
    // ranks within each key are exactly 1..groupSize
    all.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._4).toSeq.sorted == (1 to rows.size))
    }
  }

  test("group-by-key row counts cap at k") {
    val byKey = directForm(2).collect().groupBy(_.getAs[Number]("c_nationkey").longValue)
    assert(byKey.nonEmpty)
    byKey.values.foreach(rows => assert(rows.length <= 2))
  }

  test("partial flush-on-overflow (maxkeys) preserves exact results") {
    // Force constant flushing: a 2-key state cap against 25 nation keys
    // means every partial epoch emits and restarts — the final must still
    // produce exactly the window form's answer (flushing only loosens the
    // partial's dedup, never correctness).
    val flag = TopKPerKeyPartialExec.MaxKeysFlag
    try {
      spark.conf.set(flag, "2")
      assert(collectSet(directForm(3)) == collectSet(windowForm(3)))
    } finally spark.conf.unset(flag)
  }

  test("randomized equivalence: custom operator == window form on seeded datasets") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3; k <- Seq(1, 3, 7)) {
      // skewed keys (zipf-ish via min of two uniforms), duplicate values
      // to exercise tie-breaking through the unique id column
      val rows = Seq.fill(2000)(
        (rnd.nextInt(rnd.nextInt(40) + 1).toLong, rnd.nextInt(25).toDouble, rnd.nextLong()))
      val df = rows.toDF("key", "v", "id").repartition(7)
      val w = Window.partitionBy(col("key")).orderBy(col("v").desc, col("id"))
      val expected = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
      val child = df.queryExecution.analyzed
      val key = child.output.find(_.name == "key").get
      val v = child.output.find(_.name == "v").get
      val id = child.output.find(_.name == "id").get
      val order = Seq(
        SortOrder(v, org.apache.spark.sql.catalyst.expressions.Descending),
        SortOrder(id, org.apache.spark.sql.catalyst.expressions.Ascending))
      val got = GraftShim
        .ofRows(spark, TopKPerKey(Seq(key), order, k, TopKPerKey.rankAttribute(), child))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
      assert(got == expected,
        s"trial $trial k=$k: ${(got diff expected).take(3)} vs ${(expected diff got).take(3)}")
    }
  }

  test("empty input yields empty output") {
    import spark.implicits._
    val child = Seq.empty[(Long, Double)].toDF("k", "v").queryExecution.analyzed
    val key = child.output.find(_.name == "k").get
    val v = child.output.find(_.name == "v").get
    val df = GraftShim.ofRows(
      spark,
      TopKPerKey(
        Seq(key),
        Seq(SortOrder(v, org.apache.spark.sql.catalyst.expressions.Ascending)),
        3, TopKPerKey.rankAttribute(), child))
    assert(df.collect().isEmpty)
  }
}
