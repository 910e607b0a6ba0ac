package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k by score as a one-pass typed aggregate: keep the k
  * (score, id) entries with the highest score, ties broken by lowest id.
  *
  * The window-rank formulation ([[graft.operators.Similarity]]'s
  * `rankWithin`) sorts every candidate row inside a shuffle; this
  * aggregator is the streaming-safe and map-side-combinable alternative:
  * partial top-k lists merge associatively, so Spark keeps O(k) state per
  * group, and — unlike a window — it is legal inside a Structured
  * Streaming aggregation, which is what [[graft.streaming.StreamingAnn]]
  * needs for continuous retrieval.
  *
  * Determinism: the kept set and its order are a pure function of the
  * input SET — the first k of the input sorted by (score desc, id asc) —
  * never of arrival or partition order. The buffer is a [[BoundedK]]
  * array in that order, so a row behind the k-th entry costs one compare.
  */
class TopKByScore(k: Int)
    extends Aggregator[(Double, Long), Array[(Double, Long)], Seq[(Long, Double)]] {

  /** (-score, id) under the total order on doubles — `sortBy(e => (-e._1, e._2))`'s. */
  private implicit val order: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)](e => (-e._1, e._2))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))

  override def zero: Array[(Double, Long)] = Array.empty

  override def reduce(buf: Array[(Double, Long)], in: (Double, Long)): Array[(Double, Long)] =
    BoundedK.insert(buf, in, k)

  override def merge(a: Array[(Double, Long)], b: Array[(Double, Long)]): Array[(Double, Long)] =
    BoundedK.merge(a, b, k)

  /** Highest score first; (neighbor id, score) pairs. */
  override def finish(buf: Array[(Double, Long)]): Seq[(Long, Double)] =
    buf.toSeq.map { case (s, id) => (id, s) }

  override def bufferEncoder: Encoder[Array[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
}
