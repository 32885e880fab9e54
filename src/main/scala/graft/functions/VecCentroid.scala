package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregate (SURVEY §2 A6): element-wise centroid of a
  * vector column, as an `Aggregator[IN, BUF, OUT]` registered through
  * `functions.udaf`.
  *
  * Spark plans this as a partial+final hash aggregate: each partition
  * folds its vectors into one (sums, count) buffer (`reduce`), buffers
  * merge across partitions (`merge`) — the shuffle carries one
  * dim-width row per group per partition, never the vectors. The same
  * shape at 100 TB: cost is one scan + a tiny keyed shuffle.
  *
  * Note: double addition is order-sensitive, so exact equality across
  * engines/partitionings isn't guaranteed — the oracle-checked exact
  * variant (posexplode + decimal sum) exists alongside; this is the
  * idiomatic fast path. VecCentroidSpec bounds the drift.
  */
class VecCentroid extends Aggregator[Seq[Float], VecCentroid.Buf, Seq[Double]] {
  import VecCentroid.Buf

  override def zero: Buf = Buf(Array.emptyDoubleArray, 0L)

  // Ragged inputs (mixed vector widths) are summed over the max width
  // with missing trailing dims as 0 — never a crash, and uniform-width
  // input (the normal case) is unaffected.
  override def reduce(b: Buf, v: Seq[Float]): Buf = {
    if (v == null) return b
    val sums =
      if (b.sums.length >= v.length) b.sums
      else java.util.Arrays.copyOf(b.sums, v.length)
    var i = 0
    while (i < v.length) { sums(i) += v(i); i += 1 }
    Buf(sums, b.n + 1)
  }

  override def merge(a: Buf, c: Buf): Buf = {
    if (a.sums.isEmpty) return c
    if (c.sums.isEmpty) return a
    val (big, small) =
      if (a.sums.length >= c.sums.length) (a.sums, c.sums) else (c.sums, a.sums)
    val out = java.util.Arrays.copyOf(big, big.length)
    var i = 0
    while (i < small.length) { out(i) += small(i); i += 1 }
    Buf(out, a.n + c.n)
  }

  override def finish(b: Buf): Seq[Double] =
    if (b.n == 0L) Seq.empty else b.sums.map(_ / b.n).toSeq

  override def bufferEncoder: Encoder[Buf] = ExpressionEncoder[Buf]()
  override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
}

object VecCentroid {
  final case class Buf(sums: Array[Double], n: Long)

  /** Column-function form: `df.groupBy("label").agg(VecCentroid.udaf(col("embedding")))`. */
  lazy val udaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new VecCentroid, ExpressionEncoder[Seq[Float]]())
}
