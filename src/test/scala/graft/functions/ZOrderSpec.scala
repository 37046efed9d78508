package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The magic-mask Morton kernel vs known bit patterns and vs the HOF fold
  * formulation (which is what the DuckDB oracle mirrors).
  */
class ZOrderSpec extends SparkSpec {

  test("interleave16 places x bits even, y bits odd") {
    assert(ZOrder.interleave16(0xFFFFL, 0L) == 0x55555555L)
    assert(ZOrder.interleave16(0L, 0xFFFFL) == 0xAAAAAAAAL)
    assert(ZOrder.interleave16(1L, 1L) == 3L)
    assert(ZOrder.interleave16(0L, 0L) == 0L)
    assert(ZOrder.interleave16(0xFFFFL, 0xFFFFL) == 0xFFFFFFFFL)
    // only the low 16 bits participate
    assert(ZOrder.interleave16(0x10000L, 0L) == 0L)
  }

  test("interleave16 is invertible: de-interleaving recovers both inputs") {
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L; var i = 0
      while (i < 16) {
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
        i += 1
      }
      (x, y)
    }
    val rnd = new scala.util.Random(11)
    (1 to 2000).foreach { _ =>
      val x = rnd.nextLong().abs % 65536
      val y = rnd.nextLong().abs % 65536
      assert(deinterleave(ZOrder.interleave16(x, y)) == ((x, y)), s"not invertible at ($x, $y)")
    }
  }

  test("graft_zorder expression is bit-equal to the HOF fold under codegen") {
    import spark.implicits._
    val hof =
      "aggregate(transform(sequence(0, 15), i -> " +
        "shiftleft(shiftright(x, i) & 1, 2*i) + shiftleft(shiftright(y, i) & 1, 2*i+1)), " +
        "CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)((rnd.nextLong().abs % 65536, rnd.nextLong().abs % 65536))
    val df = rows.toDF("x", "y")
      .select(col("x"), col("y"), expr("graft_zorder(x, y)").as("z_native"), expr(hof).as("z_hof"))
    assert(df.filter(col("z_native") =!= col("z_hof")).count() == 0)
    // and both match the Scala kernel
    df.collect().foreach { r =>
      assert(r.getAs[Long]("z_native") == ZOrder.interleave16(r.getAs[Long]("x"), r.getAs[Long]("y")))
    }
  }

  test("a z-ordered layout returns the same box-filter result as an unclustered one") {
    val dir = java.nio.file.Files.createTempDirectory("zorder-box").toString
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    li.repartition(4).write.parquet(s"$dir/plain")
    li.withColumn("zval", expr("graft_zorder(l_partkey, l_suppkey)"))
      .repartitionByRange(4, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.parquet(s"$dir/zorder")
    def box(layout: String) =
      spark.read.parquet(s"$dir/$layout")
        .filter(col("l_partkey").between(50, 120) && col("l_suppkey").between(2, 6))
        .agg(count(lit(1)), graft.core.Agg.dsum(col("l_quantity")))
        .head()
    val plain = box("plain")
    assert(plain.getLong(0) > 0, "the box matches no fixture row")
    assert(box("zorder") == plain, "z-order clustering changed the box-filter result")
  }
}
