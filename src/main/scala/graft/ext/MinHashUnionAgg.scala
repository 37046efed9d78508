package graft.ext

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF (SURVEY §2.9 "custom aggregates — minhash union"): merges
  * per-document MinHash signatures into the signature of the UNION of the
  * underlying shingle sets — elementwise min, since
  * min-hash(A ∪ B) = min(min-hash(A), min-hash(B)) per hash function.
  *
  * This is the sketch-merge pattern that matters at 100 TB: signatures are
  * tiny fixed-size arrays, merge is associative+commutative, so Spark runs
  * it as a partial+final tree with map-side combine — estimating corpus-
  * level similarity without touching raw text twice.
  */
object MinHashUnionAgg extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {

  override def zero: Array[Long] = Array.empty[Long]

  override def reduce(b: Array[Long], v: Seq[Long]): Array[Long] = {
    if (v == null) b
    else if (b.isEmpty) v.toArray
    else {
      var i = 0
      while (i < b.length && i < v.length) { if (v(i) < b(i)) b(i) = v(i); i += 1 }
      b
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.isEmpty) b else if (b.isEmpty) a else reduce(a, b.toSeq)

  override def finish(r: Array[Long]): Seq[Long] = r.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()

  // plan text prints the aggregator; the default `…$@<identity hash>`
  // would differ in every JVM
  override def toString: String = "MinHashUnionAgg"
}
