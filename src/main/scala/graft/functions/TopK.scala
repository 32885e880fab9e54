package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded-state grouped top-k (SURVEY §2 W1 scale path).
  *
  * The window-rank form (`row_number().over(partitionBy(g).orderBy(o))
  * .filter(rn <= k)`) shuffles EVERY row to its group's partition and
  * sorts the whole partition before discarding all but k rows per
  * group. This Aggregator keeps a k-bounded sorted buffer instead, so
  * Spark plans it as a partial+final ObjectHashAggregate: each input
  * partition reduces to at most k entries per group BEFORE the
  * shuffle, and the exchange carries ≤ k·partitions rows per group
  * rather than the full table. At 100 TB with k=3 that's the
  * difference between shuffling the fact table and shuffling a
  * rounding error; state per group is O(k), never O(rows).
  *
  * Ordering is (value desc, tiebreak asc) — the common "top orders by
  * price, stable by key" shape; output is the buffer in rank order,
  * ready for `posexplode` back to one row per rank.
  *
  * Reference analogue: none (the reference keeps only latest state per
  * key, scrapper.py:188-224); this is engine completeness for the
  * north-star analytics surface.
  */
class TopK(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  require(k > 0, s"k must be positive, got $k")

  /** true if a ranks strictly before b: value desc, tiebreak asc.
    * Double.compare (not `>`) gives a TOTAL order with NaN ranked
    * largest — matching Spark's window-sort semantics; a plain `>`
    * is false for every NaN comparison and would both diverge from
    * the window-rank form and break the sorted-buffer invariant
    * merge() relies on. */
  private def before(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  override def zero: Seq[(Double, Long)] = Vector.empty

  override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] = {
    // fast reject: buffer full and the new element ranks after the current kth
    if (buf.length >= k && !before(in, buf.last)) buf
    else {
      val at = buf.indexWhere(e => before(in, e)) match {
        case -1 => buf.length
        case i  => i
      }
      (buf.take(at) :+ in) ++ buf.drop(at).take(k - at - 1)
    }
  }

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    // merge two sorted runs, cap at k
    val out = Vector.newBuilder[(Double, Long)]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && before(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder[Seq[(Double, Long)]]()
}

object TopK {
  /** Two-column form: `topK(3)(col("o_totalprice"), col("o_orderkey"))`. */
  def udaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopK(k), ExpressionEncoder[(Double, Long)]())

  /** Payload form: `topKPay(10)(sortVal, tiebreakId, payload)`. */
  def payUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKPay(k), ExpressionEncoder[(Double, Long, Double)]())
}

/** TopK with a carried payload column: ranks by (_1 desc, _2 asc) —
  * identical total order to [[TopK]], NaN largest — and keeps `_3`
  * attached to each kept entry. The point: a query that needs top-k
  * BY one score but must REPORT a second per-row value (e.g. the
  * full-dim top-10 annotated with each hit's truncated-dim
  * similarity) gets both from ONE partial+final ObjectHashAggregate
  * pass instead of a second scan + join-back. State stays O(k). */
class TopKPay(k: Int) extends Aggregator[(Double, Long, Double), Seq[(Double, Long, Double)], Seq[(Double, Long, Double)]] {
  require(k > 0, s"k must be positive, got $k")

  private def before(a: (Double, Long, Double), b: (Double, Long, Double)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  override def zero: Seq[(Double, Long, Double)] = Vector.empty

  override def reduce(buf: Seq[(Double, Long, Double)], in: (Double, Long, Double)): Seq[(Double, Long, Double)] = {
    if (buf.length >= k && !before(in, buf.last)) buf
    else {
      val at = buf.indexWhere(e => before(in, e)) match {
        case -1 => buf.length
        case i  => i
      }
      (buf.take(at) :+ in) ++ buf.drop(at).take(k - at - 1)
    }
  }

  override def merge(a: Seq[(Double, Long, Double)], b: Seq[(Double, Long, Double)]): Seq[(Double, Long, Double)] = {
    val out = Vector.newBuilder[(Double, Long, Double)]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && before(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(buf: Seq[(Double, Long, Double)]): Seq[(Double, Long, Double)] = buf

  override def bufferEncoder: Encoder[Seq[(Double, Long, Double)]] = ExpressionEncoder[Seq[(Double, Long, Double)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long, Double)]] = ExpressionEncoder[Seq[(Double, Long, Double)]]()
}
