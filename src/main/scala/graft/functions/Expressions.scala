package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused-loop kernels behind the native expressions — a top-level object so
  * Scala emits static forwarders that whole-stage-generated Java can call
  * directly (`graft.functions.SketchKernels.minhashSig(...)`): one static
  * call per row, no boxing, no `InternalRow` wrapping, no virtual `eval`
  * dispatch. `eval` (interpreted path) and `doGenCode` (codegen path) both
  * run exactly this code, so the two paths cannot drift.
  */
object SketchKernels {

  /** Cosine similarity; NaN signals zero-norm (mapped to SQL NULL by the
    * expression on both eval and codegen paths). */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN else dot / math.sqrt(na * nb)
  }

  /** Dot product over the first min(|a|,|b|) elements — the pair-scale
    * two-thirds of [[cosineSim]]'s fused loop. A pair join that scores
    * |bucket|² candidates recomputes each vector's own squared norm per
    * PAIR inside cosineSim; precomputing [[normSq]] once per vector and
    * composing `dot / sqrt(na * nb)` runs the identical IEEE operations
    * in the identical order (same ascending-i accumulation, same single
    * sqrt of the product), so the composed value is bit-identical while
    * the per-pair loop does a third of the flops. */
  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }

  /** Σ x² with [[cosineSim]]'s accumulation order (ascending i). */
  def normSq(a: ArrayData): Double = {
    val n = a.numElements()
    var na = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); na += x * x; i += 1 }
    na
  }

  def minhashSig(words: ArrayData, shingleSize: Int, numHashes: Int): ArrayData = {
    import Expressions.Sketch
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = words.numElements()
    val windows = math.max(1, n - shingleSize + 1)
    var i = 0
    while (i < windows) {
      val base = Sketch.fold28(Sketch.windowDigest(words, i, math.min(shingleSize, n - i)))
      var k = 0
      while (k < numHashes) {
        val hk = (Sketch.MinHashA(k) * base + Sketch.MinHashB(k)) % Sketch.MinHashP
        if (hk < mins(k)) mins(k) = hk
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def shingleHashes(words: ArrayData, shingleSize: Int): ArrayData = {
    import Expressions.Sketch
    val n = words.numElements()
    val windows = math.max(1, n - shingleSize + 1)
    val hs = new Array[Long](windows)
    var i = 0
    while (i < windows) {
      hs(i) = Sketch.fold60(Sketch.windowDigest(words, i, math.min(shingleSize, n - i)))
      i += 1
    }
    java.util.Arrays.sort(hs)
    var uniq = 0
    var j = 0
    while (j < windows) {
      if (j == 0 || hs(j) != hs(j - 1)) { hs(uniq) = hs(j); uniq += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, uniq))
  }

  def simhash60(tokens: ArrayData): Long = {
    import Expressions.Sketch
    val counts = new Array[Int](60)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = Sketch.fold60(Sketch.windowDigest(tokens, i, 1))
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** [[Expressions.Sketch.fold60]] of the md5 of the string's UTF-8 bytes —
    * the value of the SQL idiom `conv(substring(md5(s), 1, 15), 16, 10)`
    * cast to BIGINT, with no hex string, substring, base conversion or cast
    * per row. The digest runs on the string's own bytes when they sit in a
    * heap array, and writes into a per-thread buffer. */
  def md5Fold60(s: UTF8String): Long = {
    import Expressions.Sketch
    val d = Sketch.mdLocal.get(); d.reset()
    s.getBaseObject match {
      case a: Array[Byte] =>
        d.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes())
      case _ => d.update(s.getBytes)
    }
    val out = digestOut.get()
    d.digest(out, 0, 16)
    Sketch.fold60(out)
  }
  private val digestOut: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](16))

  private val GramSep = UTF8String.fromString(" ")

  /** Fraction of n-grams of `words` that duplicate an earlier occurrence —
    * one pass, one HashSet, exact string distinct (matches the oracle's
    * `len(g) - len(list_distinct(g))` on space-joined grams). The
    * HOF formulation builds the gram array several times per row (size,
    * distinct and the guard each re-evaluate the interpreted zip_with
    * chain — no codegen, no subexpression elimination). */
  def dupGramFraction(words: ArrayData, n: Int): Double = {
    val total = words.numElements() - n + 1
    if (total <= 0) return 0.0
    val seen = new java.util.HashSet[UTF8String](total * 2)
    var distinct = 0
    var i = 0
    while (i < total) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
      if (seen.add(UTF8String.concatWs(GramSep, parts: _*))) distinct += 1
      i += 1
    }
    (total - distinct).toDouble / total.toDouble
  }

  /** Fraction of the document's n-grams occupied by the single most
    * frequent one — the "top n-gram coverage" junk signal (a page that is
    * one phrase looping scores near 1). Same fused pass as
    * [[dupGramFraction]], with a count map instead of a set. */
  def topGramFraction(words: ArrayData, n: Int): Double = {
    val total = words.numElements() - n + 1
    if (total <= 0) return 0.0
    val counts = new java.util.HashMap[UTF8String, Int](total * 2)
    var best = 0
    var i = 0
    while (i < total) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
      val c = counts.merge(UTF8String.concatWs(GramSep, parts: _*), 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best.toDouble / total.toDouble
  }

  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      out(i) = s.substring(i, i + n)
      i += 1
    }
    new GenericArrayData(out)
  }

  def lshBucket(v: ArrayData, planes: Int, table: Int): Long = {
    val n = v.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        val h = i * 2654435761L + p * 40503L + table * 1099511628211L
        if ((h & 4L) == 0L) dot += v.getDouble(i) else dot -= v.getDouble(i)
        i += 1
      }
      if (dot >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

/** Native Catalyst expressions for the hot loops of the LLM-data-pipeline
  * operators (dedup / similarity). Preference order per the build rules:
  * built-ins first, then a native `Expression` (these), UDF last. Each
  * implements `doGenCode` as a direct static call into [[SketchKernels]],
  * so the dedup/ANN projections stay inside whole-stage codegen with no
  * per-row boxing (the earlier `CodegenFallback` versions paid an
  * `InternalRow` wrap + virtual `eval` per row — the first profile cost at
  * 100× scale).
  */
object Expressions {

  private val K = "graft.functions.SketchKernels"

  /** Hash scheme shared by the dedup sketches.
    *
    * Every sketch (MinHash signatures, shingle sets, SimHash) derives from
    * **md5 of the shingle/token string**, folded big-endian to 28 or 60
    * bits, with MinHash as an affine family `(A_k·x + B_k) mod (2^31-1)`
    * over the 28-bit fold. The point of this construction — versus an
    * opaque xxhash64 chain — is *differential testability*: md5, hex
    * folding and affine-mod arithmetic are exactly replayable in ANSI SQL
    * (DuckDB list functions), so the real LSH scale-path queries get true
    * value-level oracles instead of rows-only checks. Sketch quality is
    * equivalent (md5 mixes at least as well), and hashing stays a linear
    * map-side cost.
    */
  object Sketch {
    /** Modulus of the affine MinHash family: the Mersenne prime 2^31-1.
      * With 28-bit bases and A,B < P every product fits in 59 bits — no
      * overflow in either Spark Longs or SQL BIGINTs. */
    val MinHashP = 2147483647L
    val MaxHashes = 32

    private def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)
    /** Multipliers in [1, P-1] and offsets in [0, P-1], from a fixed LCG so
      * Scala and interpolated SQL literals agree by construction. */
    val MinHashA: Array[Long] =
      lcg(0x243f6a8885a308dL).map(x => (x & Long.MaxValue) % (MinHashP - 1) + 1).take(MaxHashes).toArray
    val MinHashB: Array[Long] =
      lcg(0x13198a2e03707344L).map(x => (x & Long.MaxValue) % MinHashP).take(MaxHashes).toArray

    private[functions] val mdLocal: ThreadLocal[java.security.MessageDigest] =
      ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

    /** md5 of the words `[from, from+size)` joined by a single space —
      * digest updates only, the shingle string never materializes. */
    def windowDigest(arr: ArrayData, from: Int, size: Int): Array[Byte] = {
      val d = mdLocal.get(); d.reset()
      var j = 0
      while (j < size) {
        if (j > 0) d.update(' '.toByte)
        val s = arr.getUTF8String(from + j)
        d.update(s.getBytes)
        j += 1
      }
      d.digest()
    }
    /** First 7 hex chars of the digest as a 28-bit value. */
    def fold28(d: Array[Byte]): Long =
      ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) | ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
    /** First 15 hex chars of the digest as a 60-bit value (always ≥ 0). */
    def fold60(d: Array[Byte]): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      v >>> 4
    }

    /** SQL fragment computing the same `nHex`-char big-endian md5 fold of
      * string expression `e` (DuckDB list dialect, for the oracles). */
    def foldSql(nHex: Int, e: String): String =
      s"CAST(list_sum(list_transform(range(1,${nHex + 1}), " +
        s"fi -> (strpos('0123456789abcdef', substr(md5($e), fi, 1)) - 1)::BIGINT << (4*($nHex-fi)))) AS BIGINT)"
  }

  /** 60-bit SimHash over an array of token strings.
    *
    * Classic Charikar sketch: each token hashes to 60 bits
    * ([[Sketch.fold60]] of its md5); bit i of the result is the sign of
    * the sum over tokens of ±1 per bit. Near-duplicate documents land
    * within a small Hamming distance, so a 100 TB corpus dedups via
    * grouping on sketch chunks instead of O(n²) comparison. 60 bits (not
    * 64) keeps the sketch positive in a signed BIGINT on both sides of
    * the differential oracle; 4×15-bit chunk banding retains the
    * pigeonhole guarantee for Hamming distance ≤ 3.
    */
  case class SimHash60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      SketchKernels.simhash60(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $K.simhash60($c);")
    override protected def withNewChildInternal(newChild: Expression): SimHash60 = copy(newChild)
    override def prettyName: String = "simhash60"
  }

  /** The 60-bit md5 fold of a string ([[SketchKernels.md5Fold60]]) — the
    * hash every KMV sketch, content hash and fold-keyed shuffle uses, as one
    * static call per row. Equal to the oracle-replayable SQL idiom
    * `CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)`; null in,
    * null out. */
  case class Md5Fold60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      SketchKernels.md5Fold60(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.md5Fold60($c)")
    override protected def withNewChildInternal(newChild: Expression): Md5Fold60 = copy(newChild)
    override def prettyName: String = "md5_fold60"
  }

  /** Hamming distance between two 64-bit sketches. */
  case class HammingDist64(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Long.bitCount(l.asInstanceOf[Long] ^ r.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
    override def prettyName: String = "hamming64"
  }

  /** Cosine similarity of two double arrays — one fused loop instead of the
    * zip_with/aggregate expression-tree equivalent (≈3 array traversals and
    * per-element lambda dispatch). Null/zero-norm yields null. */
  case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any = {
      val v = SketchKernels.cosineSim(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
      if (java.lang.Double.isNaN(v)) null else v
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""${ev.value} = $K.cosineSim($a, $b);
           |if (java.lang.Double.isNaN(${ev.value})) { ${ev.isNull} = true; }""".stripMargin)
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
    override def prettyName: String = "cosine_sim"
  }

  /** Dot product of two double arrays — see [[SketchKernels.dotProduct]]
    * for the bit-identity contract with [[CosineSim]]. */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      SketchKernels.dotProduct(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $K.dotProduct($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
    override def prettyName: String = "dot_product"
  }

  /** Squared L2 norm of a double array ([[SketchKernels.normSq]]). */
  case class NormSq(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(input: Any): Any =
      SketchKernels.normSq(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $K.normSq($c);")
    override protected def withNewChildInternal(newChild: Expression): NormSq = copy(newChild)
    override def prettyName: String = "norm_sq"
  }

  /** MinHash signature computed straight from the word array: each shingle
    * window is md5-digested in place (no shingle strings, slices or
    * distinct pass ever materialize — see [[Sketch.windowDigest]]) and the
    * K per-hash minima are updated with one affine mod per k.
    *
    * The `Column`-composed equivalent (slice+concat_ws per window,
    * array_distinct, then K array traversals) allocates O(W·shingleSize)
    * strings per document — it profiled 100× slower at bench scale. At
    * 100 TB the signature step is the dominant map-side cost of MinHash
    * dedup, so this is the operator to make native.
    */
  case class MinHashSigFromWords(child: Expression, shingleSize: Int, numHashes: Int)
      extends UnaryExpression {
    require(numHashes <= Sketch.MaxHashes, s"at most ${Sketch.MaxHashes} hash functions")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      SketchKernels.minhashSig(input.asInstanceOf[ArrayData], shingleSize, numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $K.minhashSig($c, $shingleSize, $numHashes);")
    override protected def withNewChildInternal(newChild: Expression): MinHashSigFromWords =
      copy(child = newChild)
    override def prettyName: String = "minhash_sig_words"
  }

  /** Sorted distinct 60-bit hashes of all word-shingle windows — the
    * document's shingle *set* represented as longs, for exact-Jaccard
    * verification without materializing shingle strings. Same-hash-both-
    * sides makes Jaccard over these sets identical to the oracle's even
    * under (negligible) 60-bit collisions. */
  case class ShingleHashes(child: Expression, shingleSize: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      SketchKernels.shingleHashes(input.asInstanceOf[ArrayData], shingleSize)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $K.shingleHashes($c, $shingleSize);")
    override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
      copy(child = newChild)
    override def prettyName: String = "shingle_hashes"
  }

  /** Duplicate-n-gram fraction of a word array — the repeated-n-gram junk
    * signal as ONE fused pass (see [[SketchKernels.dupGramFraction]]). */
  case class DupGramFraction(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(input: Any): Any =
      SketchKernels.dupGramFraction(input.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $K.dupGramFraction($c, $n);")
    override protected def withNewChildInternal(newChild: Expression): DupGramFraction =
      copy(child = newChild)
    override def prettyName: String = "dup_gram_fraction"
  }

  /** Top-n-gram coverage fraction ([[SketchKernels.topGramFraction]]). */
  case class TopGramFraction(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(input: Any): Any =
      SketchKernels.topGramFraction(input.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $K.topGramFraction($c, $n);")
    override protected def withNewChildInternal(newChild: Expression): TopGramFraction =
      copy(child = newChild)
    override def prettyName: String = "top_gram_fraction"
  }

  /** Exact Jaccard similarity of two SORTED distinct long arrays (as
    * produced by [[ShingleHashes]]): one merge pass, no set allocation. */
  case class JaccardSorted(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      SketchKernels.jaccardSorted(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.jaccardSorted($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
    override def prettyName: String = "jaccard_sorted"
  }

  /** Character n-grams of a string — one pass, char-indexed (UTF8-safe),
    * empty array when the text is shorter than n. The HOF equivalent
    * (`transform(sequence(...), i -> substring(...))`) both allocates an
    * index array per row and mis-handles the short-string edge (Spark's
    * `sequence(0,-1)` descends instead of yielding empty). */
  case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      SketchKernels.charNgrams(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $K.charNgrams($c, $n);")
    override protected def withNewChildInternal(newChild: Expression): CharNgrams =
      copy(child = newChild)
    override def prettyName: String = "char_ngrams"
  }

  /** Random-hyperplane LSH bucket id for a double vector: bit p of the
    * result is the sign of `planes(p) · vec`, with pseudo-plane components
    * ±1 derived from a per-(i,p,table) hash. One fused loop per row —
    * the `Column`-composed equivalent builds planes×dims `element_at`
    * nodes per row (≈1500 for 6 planes × 4 tables over 64 dims). */
  case class LshBucket(child: Expression, planes: Int, table: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      SketchKernels.lshBucket(input.asInstanceOf[ArrayData], planes, table)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $K.lshBucket($c, $planes, $table);")
    override protected def withNewChildInternal(newChild: Expression): LshBucket =
      copy(child = newChild)
    override def prettyName: String = "lsh_bucket"
  }

  /** 60-bit md5 fold of a string column (non-strings are cast first). */
  def md5Fold60(s: Column): Column = column(Md5Fold60(expression(s.cast(StringType))))
  def simhash60(tokens: Column): Column = column(SimHash60(expression(tokens)))
  def minhashSigFromWords(words: Column, shingleSize: Int, numHashes: Int): Column =
    column(MinHashSigFromWords(expression(words), shingleSize, numHashes))
  def shingleHashes(words: Column, shingleSize: Int): Column =
    column(ShingleHashes(expression(words), shingleSize))
  def jaccardSorted(a: Column, b: Column): Column =
    column(JaccardSorted(expression(a), expression(b)))
  def dupGramFraction(words: Column, n: Int): Column =
    column(DupGramFraction(expression(words), n))
  def topGramFraction(words: Column, n: Int): Column =
    column(TopGramFraction(expression(words), n))
  def lshBucket(vec: Column, planes: Int, table: Int): Column =
    column(LshBucket(expression(vec), planes, table))
  def charNgrams(text: Column, n: Int): Column =
    column(CharNgrams(expression(text), n))
  def hamming64(a: Column, b: Column): Column = column(HammingDist64(expression(a), expression(b)))
  def cosineSim(a: Column, b: Column): Column = column(CosineSim(expression(a), expression(b)))
  def dotProduct(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def normSq(a: Column): Column = column(NormSq(expression(a)))

  /** SQL registration: `simhash60(tokens)`, `hamming64(a,b)`, `cosine_sim(a,b)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("simhash60", es => SimHash60(es.head), "built-in")
    reg.createOrReplaceTempFunction("hamming64", es => HammingDist64(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("cosine_sim", es => CosineSim(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("erc20_transfers", es => Erc20TransfersGenerator(es), "built-in")
    reg.createOrReplaceTempFunction("dup_gram_fraction",
      es => DupGramFraction(es(0), es(1).eval().asInstanceOf[Int]), "built-in")
    // the KMV sketch aggregate (k=256): input is a 60-bit fold hash
    spark.udf.register("kmv_distinct",
      org.apache.spark.sql.functions.udaf(new KmvDistinct(256),
        org.apache.spark.sql.Encoders.scalaLong))
  }
}
