package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** KMV (k-minimum-values) distinct-count sketch as a one-pass mergeable
  * typed aggregate (Bar-Yossef et al., "Counting distinct elements in a
  * data stream"; the classic theta-sketch special case).
  *
  * State is the k smallest DISTINCT 60-bit hashes seen per group — O(k)
  * and associatively mergeable, so Spark runs map-side partials and
  * shuffles at most k longs per group regardless of corpus size. The
  * estimate is `(k-1) / u_(k)` with `u_(k)` the k-th smallest hash
  * normalized to [0,1); below k distinct hashes the count is exact.
  *
  * Unlike HLL (whose register layout is engine-internal, making q21's
  * sketch columns tolerance-gated), KMV over the replayable md5-fold hash
  * ([[Expressions.Sketch]]) is a pure function of the value set: any
  * engine that sorts the same 60-bit folds produces the SAME estimate
  * bit-for-bit, so the sketch output itself is oracle-hash-checkable.
  * The cast of a >2^53 hash to double rounds nearest-even identically on
  * both engines; 255·2^60 is exactly representable, so the division is
  * one IEEE op with identical operands.
  *
  * Buffer invariant: a primitive `Array[Long]` holding the k smallest
  * distinct hashes seen, in ASCENDING order, with no padding — its length
  * is the number of hashes kept (≤ k), so the last slot of a full buffer
  * is the k-th smallest, the admission threshold. Per row:
  *  - a full buffer rejects a hash ≥ its last slot in O(1) — after
  *    warm-up the overwhelming majority of rows (the admission
  *    probability of the i-th distinct value is k/i);
  *  - an admitted hash is placed by binary search (a duplicate stops
  *    there) and `System.arraycopy`: in place once the buffer is full,
  *    into a one-longer copy while it fills.
  * `merge` walks two buffers once, O(k), into a fresh array, so neither
  * input is changed and both stay usable.
  */
class KmvDistinct(k: Int) extends Aggregator[Long, Array[Long], Double] {
  require(k >= 1, s"KMV needs k >= 1, got $k")

  /** 2^60 as an exact double — hashes are 60-bit folds. */
  private val Norm = 1152921504606846976L.toDouble

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(buf: Array[Long], h: Long): Array[Long] = {
    val n = buf.length
    if (n == k && h >= buf(n - 1)) return buf // fast reject
    val at = java.util.Arrays.binarySearch(buf, h)
    if (at >= 0) return buf // already kept
    val ins = -at - 1
    if (n < k) {
      val out = new Array[Long](n + 1)
      System.arraycopy(buf, 0, out, 0, ins)
      System.arraycopy(buf, ins, out, ins + 1, n - ins)
      out(ins) = h
      out
    } else { // full: shift the tail right, dropping the old k-th smallest
      System.arraycopy(buf, ins, buf, ins + 1, n - 1 - ins)
      buf(ins) = h
      buf
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](math.min(k, a.length + b.length))
    var i = 0; var j = 0; var n = 0
    while (n < out.length && (i < a.length || j < b.length)) {
      val x =
        if (j == b.length || (i < a.length && a(i) < b(j))) { i += 1; a(i - 1) }
        else if (i == a.length || b(j) < a(i)) { j += 1; b(j - 1) }
        else { i += 1; j += 1; a(i - 1) } // in both: keep one
      out(n) = x; n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  override def finish(buf: Array[Long]): Double =
    if (buf.length < k) buf.length.toDouble
    else (k - 1).toDouble * Norm / buf(k - 1).toDouble

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Double] =
    org.apache.spark.sql.Encoders.scalaDouble
}

/** [[KmvDistinct]]'s state as the RESULT: the k smallest distinct hashes,
  * ascending — the buffer itself, which [[KmvDistinct]] already keeps in
  * that order. The raw sketch (not just its cardinality estimate) is what
  * set-OPERATION estimators need — two groups' sketches merge into the
  * union's sketch, and the fraction of merged values present in both
  * inputs estimates Jaccard (the theta-sketch intersection rule). Same
  * O(k) mergeable buffer; the output is a pure function of the value set,
  * so it is oracle-hash-checkable like the estimate. */
class KmvSketch(k: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
  private val inner = new KmvDistinct(k)
  override def zero: Array[Long] = inner.zero
  override def reduce(buf: Array[Long], h: Long): Array[Long] = inner.reduce(buf, h)
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = inner.merge(a, b)
  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
  override def bufferEncoder: Encoder[Array[Long]] = inner.bufferEncoder
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
