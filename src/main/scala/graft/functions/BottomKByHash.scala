package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Deterministic uniform group sampling as a one-pass typed aggregate:
  * keep the k ids whose hash strings sort lowest ("bottom-k by hash").
  *
  * Because the hash is a pure function of the id, the sample is (a)
  * uniform (hash order is independent of data order), (b) deterministic
  * across runs/engines (an md5-ordered window in any engine produces the
  * same set — which is what makes it oracle-checkable), and (c) mergeable:
  * partial bottom-k lists combine associatively, so Spark runs it as a
  * map-side partial + merge aggregate — one pass over 100 TB, O(k) state
  * per group, versus the sort-the-whole-group window formulation. The
  * buffer is a [[BoundedK]] array in (hash, id) order, so a row behind
  * the k-th entry costs one compare.
  */
class BottomKByHash(k: Int)
    extends Aggregator[(String, Long), Array[(String, Long)], Seq[Long]] {

  private implicit val order: Ordering[(String, Long)] =
    Ordering.Tuple2(Ordering.String, Ordering.Long)

  override def zero: Array[(String, Long)] = Array.empty

  override def reduce(buf: Array[(String, Long)], in: (String, Long)): Array[(String, Long)] =
    BoundedK.insert(buf, in, k)

  override def merge(a: Array[(String, Long)], b: Array[(String, Long)]): Array[(String, Long)] =
    BoundedK.merge(a, b, k)

  override def finish(buf: Array[(String, Long)]): Seq[Long] = buf.toSeq.map(_._2)

  override def bufferEncoder: Encoder[Array[(String, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(String, Long)]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
