package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** The reference model [[TopKAggregatorSpec]] checks the codegen-native
  * `topk_packed_agg` against (the a8 query ran on this class before it).
  *
  * Bounded top-K as a typed [[Aggregator]] — the aggregation-side
  * alternative to `row_number over (...) <= k`: each partial aggregate
  * keeps at most k (measure, id) pairs, so only k rows per group per
  * mapper cross the shuffle (the same property WindowGroupLimit gives
  * the window formulation), and the result can sit next to other
  * measures in one `groupBy.agg` pass instead of a second window stage.
  *
  * Ordering: measure descending, id ascending on ties — matching the
  * engine's deterministic top-K convention (SURVEY.md §7.5).
  */
case class TopKAggregator(k: Int)
    extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
  require(k > 0, "k must be positive")

  // Invariant: buffers stay sorted (measure desc, id asc) and ≤ k long,
  // so reduce is a bounded O(k) insertion and merge a linear merge — a
  // full re-sort per input row (O(k log k)/row) dominated wide groups.
  private def ranksBefore(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  override def zero: Seq[(Long, Long)] = Seq.empty

  override def reduce(buf: Seq[(Long, Long)], in: (Long, Long)): Seq[(Long, Long)] =
    if (buf.size >= k && !ranksBefore(in, buf.last)) buf
    else {
      val i = buf.indexWhere(x => ranksBefore(in, x))
      val ins = if (i < 0) buf :+ in else (buf.take(i) :+ in) ++ buf.drop(i)
      if (ins.size > k) ins.take(k) else ins
    }

  override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    var (xs, ys) = (a, b); var n = 0
    while (n < k && (xs.nonEmpty || ys.nonEmpty)) {
      if (ys.isEmpty || (xs.nonEmpty && ranksBefore(xs.head, ys.head))) {
        out += xs.head; xs = xs.tail
      } else { out += ys.head; ys = ys.tail }
      n += 1
    }
    out.result()
  }

  override def finish(buf: Seq[(Long, Long)]): Seq[(Long, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Long)]] = bufferEncoder
}
