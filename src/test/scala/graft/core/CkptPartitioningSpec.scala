package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Graph

/** [[Ckpt.truncate]] keeps the hash partitioning of the relation it
  * checkpoints, on both truncation paths, and claims nothing it cannot
  * prove: the kept `HashPartitioning` is checked row by row against
  * `spark_partition_id()`, and a relation whose final plan is not an
  * exact hash partitioning comes back as `UnknownPartitioning`.
  */
class CkptPartitioningSpec extends SparkSpec {

  /** `body` on the localCheckpoint path, then on the reliable path. */
  private def onBothPaths(body: String => Unit): Unit = {
    body("local")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-part").toString
    spark.conf.set(Ckpt.DirKey, dir)
    try body("reliable")
    finally spark.conf.unset(Ckpt.DirKey)
  }

  private def logicalRdd(cp: DataFrame): LogicalRDD = cp.queryExecution.analyzed match {
    case l: LogicalRDD => l
    case other => fail(s"truncate returned ${other.nodeName}, not a LogicalRDD")
  }

  private def keyed = spark.range(0, 2000).select((col("id") % 97).as("k"), col("id").as("v"))

  test("a hash-repartitioned relation keeps HashPartitioning(k, 4) over its own output") {
    onBothPaths { path =>
      val cp = Ckpt.truncate(keyed.repartition(4, col("k")))
      val l = logicalRdd(cp)
      assert(l.outputPartitioning == HashPartitioning(Seq(l.output.head), 4), path)
      // the claim, checked on every row: the scan's partition i holds
      // exactly the rows Spark's hash partitioner sends to i
      val rows = cp.select(
        spark_partition_id().as("p"), pmod(hash(col("k")), lit(4)).as("h"))
      assert(rows.count() == 2000L, path)
      assert(rows.filter(col("p") =!= col("h")).count() == 0L, path)
    }
  }

  test("a coalesced, grouped or range-partitioned relation keeps UnknownPartitioning") {
    onBothPaths { path =>
      // AQE coalesces a REPARTITION_BY_COL exchange and the aggregate's
      // shuffle to fewer partitions than the 4 shuffle partitions
      for ((what, df) <- Seq(
          "repartition(col)" -> keyed.repartition(col("k")),
          "groupBy" -> keyed.groupBy(col("k")).agg(sum(col("v")).as("s")))) {
        val l = logicalRdd(Ckpt.truncate(df))
        assert(l.rdd.getNumPartitions < 4, s"$path $what: AQE did not coalesce")
        assert(l.outputPartitioning.isInstanceOf[UnknownPartitioning], s"$path $what")
      }
      val range = logicalRdd(Ckpt.truncate(keyed.repartitionByRange(4, col("k"))))
      assert(range.outputPartitioning.isInstanceOf[UnknownPartitioning], s"$path range")
    }
  }

  /** Every node of an executed plan, through AQE wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other.children.flatMap(nodes)
  })

  test("a round join reads the src-partitioned co-purchase edges in place: no exchange above their scan") {
    val li = Tables(spark, sf(), "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val deltaRows = li.filter(col("pk") % 5 === 0).select(col("pk")).distinct()
    val expected = Graph.coPurchaseEdges(li)
      .join(deltaRows, col("src") === col("pk")).count()
    assert(expected > 0L)
    onBothPaths { path =>
      // a kernel round's delta is itself a truncated relation, with no
      // size estimate: the join plans as a shuffle join, and AQE turns it
      // into a broadcast of the delta only at run time
      val delta = Ckpt.truncate(deltaRows)
      val joined = Graph.coPurchaseEdges(li, partitionBySrc = true)
        .join(delta, col("src") === col("pk"))
      assert(joined.collect().length.toLong == expected, path)
      val plan = joined.queryExecution.executedPlan
      def edgesScan(p: SparkPlan) = p match {
        case s: RDDScanExec => s.output.exists(_.name == "src")
        case _ => false
      }
      assert(nodes(plan).exists(edgesScan), s"$path: no edges scan")
      val overEdges = nodes(plan).collect {
        case e: Exchange if nodes(e).exists(edgesScan) => e.nodeName
      }
      assert(overEdges.isEmpty, s"$path: $overEdges above the edges scan in\n$plan")
    }
  }
}
