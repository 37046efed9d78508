package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded NULL injection into the fixture tables: the same seed nulls the
  * same fields on every run.
  */
final class Gen(seed: Long) {

  /** Null out `rate` of every field except the primary key `key`, each
    * column with its own placement (hashed from the whole row), salted by
    * `salt` (one salt per table copy).
    */
  def withNulls(df: DataFrame, key: String, salt: Int, rate: Double): DataFrame = {
    val cut = math.round(rate * 10000)
    val row = df.columns.toIndexedSeq.map(c => col(s"`$c`"))
    df.select(df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      if (f.name == key) col(f.name)
      else when(pmod(xxhash64((lit(seed) +: lit(1000 + salt * 64 + i) +: row): _*), lit(10000L)) < cut,
        lit(null).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
    }: _*)
  }
}

object Gen {
  /** The six base tables of the ETL workloads plus lineitem, with their
    * primary keys.
    */
  val keys: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey", "customer" -> "c_custkey",
    "supplier" -> "s_suppkey", "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey")
}
