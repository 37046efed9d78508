package graft.ext

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF (SURVEY §2.9): per-group centroid of an `array<float>`
  * embedding column. Buffer = (elementwise sums, count); merge is
  * elementwise add, so the aggregate is a standard partial+final tree with
  * map-side combine — the custom-aggregate pattern for sketches/vectors at
  * scale. Register with `functions.udaf(CentroidAgg)`.
  */
object CentroidAgg extends Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {

  override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)

  override def reduce(b: (Array[Double], Long), v: Seq[Float]): (Array[Double], Long) = {
    if (v == null) b
    else {
      val sums = if (b._1.isEmpty) new Array[Double](v.length) else b._1
      var i = 0
      while (i < v.length && i < sums.length) { sums(i) += v(i); i += 1 }
      (sums, b._2 + 1)
    }
  }

  override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    if (a._1.isEmpty) b
    else if (b._1.isEmpty) a
    else {
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
  }

  override def finish(r: (Array[Double], Long)): Seq[Double] =
    if (r._2 == 0) Seq.empty else r._1.map(_ / r._2).toSeq

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()

  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()

  // plan text prints the aggregator; the default `…$@<identity hash>`
  // would differ in every JVM
  override def toString: String = "CentroidAgg"
}
