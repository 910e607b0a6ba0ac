package graft.functions

import scala.reflect.ClassTag

/** The sorted bounded-k buffer behind [[TopKByScore]] and [[BottomKByHash]]:
  * an array of at most k entries in `ord` order, best first. Entries equal
  * under `ord` are equal values, so the buffer is the first k of the sorted
  * input multiset — a pure function of the input, never of arrival or
  * partition order.
  *
  * A full buffer rejects in O(1) any entry that is not strictly ahead of its
  * last one: re-sorting with it and cutting at k would drop it (or an equal
  * entry) again. Admitted entries are placed by binary search and
  * `System.arraycopy`: in place once the buffer is full, into a one-longer
  * copy while it fills. [[merge]] is one O(k) pass into a fresh array. */
private[functions] object BoundedK {

  def insert[T: ClassTag](buf: Array[T], x: T, k: Int)(implicit ord: Ordering[T]): Array[T] = {
    val n = buf.length
    if (n == k && (k == 0 || !ord.lt(x, buf(n - 1)))) return buf
    var lo = 0; var hi = n // x goes before the first entry that sorts after it
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.lteq(buf(mid), x)) lo = mid + 1 else hi = mid
    }
    if (n < k) {
      val out = new Array[T](n + 1)
      System.arraycopy(buf, 0, out, 0, lo)
      System.arraycopy(buf, lo, out, lo + 1, n - lo)
      out(lo) = x
      out
    } else {
      System.arraycopy(buf, lo, buf, lo + 1, n - 1 - lo)
      buf(lo) = x
      buf
    }
  }

  def merge[T: ClassTag](a: Array[T], b: Array[T], k: Int)(implicit ord: Ordering[T]): Array[T] = {
    val out = new Array[T](math.min(k, a.length + b.length))
    var i = 0; var j = 0
    while (i + j < out.length) {
      if (j == b.length || (i < a.length && ord.lteq(a(i), b(j)))) { out(i + j) = a(i); i += 1 }
      else { out(i + j) = b(j); j += 1 }
    }
    out
  }
}
