package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.Web3Functions
import graft.sources.eth.{BlockRanges, Erc20Decoder, EthLog}

/** Property-based invariants (SURVEY.md §5): unit-conversion roundtrips,
  * decode on generated logs, range-algebra laws. */
object UnitRoundtripProps extends Properties("Web3Units") {
  private val units = Gen.oneOf(Web3Functions.unitsToWei.keys.toSeq)
  private val amounts = Gen.choose(1e-6, 1e12)

  property("fromWei∘toWei ≈ id") = forAll(units, amounts) { (u, x) =>
    val rt = Web3Functions.fromWei(Web3Functions.toWei(x, u), u)
    math.abs(rt - x) <= 1e-9 * math.abs(x)
  }
  property("fromWei monotone in amount") = forAll(units, amounts, amounts) { (u, a, b) =>
    val (lo, hi) = if (a < b) (a, b) else (b, a)
    Web3Functions.fromWei(lo, u) <= Web3Functions.fromWei(hi, u)
  }
}

object JsonRpcHexProps extends Properties("JsonRpcHex") {
  import com.fasterxml.jackson.databind.ObjectMapper
  import graft.sources.eth.JsonRpcChainClient._
  private val mapper = new ObjectMapper()
  private def node(s: String) = mapper.getNodeFactory.textNode(s)

  property("hexQty/hexToLong roundtrip") = forAll(Gen.choose(0L, Long.MaxValue)) { n =>
    hexToLong(node(hexQty(n))) == n
  }
  property("hexToDouble matches BigInteger on wide quantities") =
    forAll(Gen.listOfN(20, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString)) { h =>
      hexToDouble(node("0x" + h)) == new java.math.BigInteger(h, 16).doubleValue()
    }
  property("empty and 0x parse to zero") =
    Gen.const(()).map(_ => hexToLong(node("0x")) == 0L && hexToDouble(node("")) == 0.0).sample.get
}

object DecodeProps extends Properties("Erc20Decoder") {
  private val hex40 = Gen.listOfN(40, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString)
  private val addr = hex40.map("0x" + _)
  private def word(a: String) = "0x" + "0" * 24 + a.drop(2)
  private val value = Gen.choose(0L, Long.MaxValue)
  private def valueWord(v: Long) = {
    val h = java.lang.Long.toHexString(v)
    "0x" + "0" * (64 - h.length) + h
  }

  property("indexed transfer always decodes with exact value") =
    forAll(addr, addr, addr, value) { (contract, from, to, v) =>
      val log = EthLog(contract,
        Vector(Erc20Decoder.TransferTopic, word(from), word(to)), valueWord(v), "0xt", 1L)
      Erc20Decoder.decode(log).exists { t =>
        t.from == from && t.to == to &&
        t.valueExact == java.math.BigInteger.valueOf(v) &&
        t.value == java.math.BigInteger.valueOf(v).doubleValue
      }
    }

  property("unindexed variants agree with the indexed decode") =
    forAll(addr, addr, addr, value) { (contract, from, to, v) =>
      val indexed = EthLog(contract,
        Vector(Erc20Decoder.TransferTopic, word(from), word(to)), valueWord(v), "0xt", 1L)
      val un1 = EthLog(contract, Vector(Erc20Decoder.TransferTopic),
        "0x" + word(from).drop(2) + word(to).drop(2) + valueWord(v).drop(2), "0xt", 1L)
      val un2 = EthLog(contract, Vector(Erc20Decoder.TransferTopic, word(from)),
        "0x" + word(to).drop(2) + valueWord(v).drop(2), "0xt", 1L)
      val d = Erc20Decoder.decode _
      d(indexed) == d(un1) && d(indexed) == d(un2)
    }

  property("non-Transfer topics never decode") =
    forAll(addr, Gen.listOfN(64, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString), value) {
      (contract, topic, v) =>
        val t0 = "0x" + topic
        t0.equalsIgnoreCase(Erc20Decoder.TransferTopic) ||
          Erc20Decoder.decode(EthLog(contract, Vector(t0), valueWord(v), "0xt", 1L)).isEmpty
    }
}

object RangeProps extends Properties("BlockRanges") {
  private val range = for {
    a <- Gen.choose(0L, 10000L); b <- Gen.choose(0L, 10000L)
  } yield (math.min(a, b), math.max(a, b))
  private val ranges = Gen.listOf(range)
  private def covers(rs: Seq[(Long, Long)], x: Long) = rs.exists(r => x >= r._1 && x <= r._2)
  private val point = Gen.choose(0L, 10000L)

  property("normalize preserves membership") = forAll(ranges, point) { (rs, x) =>
    covers(BlockRanges.normalize(rs), x) == covers(rs, x)
  }
  property("normalize yields disjoint sorted ranges") = forAll(ranges) { rs =>
    val n = BlockRanges.normalize(rs)
    n.sliding(2).forall {
      case Seq((_, e1), (s2, _)) => s2 > e1 + 1
      case _ => true
    }
  }
  property("intersect = set intersection of memberships") =
    forAll(ranges, ranges, point) { (a, b, x) =>
      covers(BlockRanges.intersect(a, b), x) == (covers(a, x) && covers(b, x))
    }
}

/** Fixed-point money invariants ([[graft.operators.Money]]): for any
  * 2-decimal money values, the long-cents path reproduces the exact
  * BigDecimal arithmetic the oracle's DECIMAL(18,6) formulation computes —
  * the property the oracle hash-match rests on. */
object MoneyFixedPointProps extends Properties("MoneyFixedPoint") {
  // 2-decimal money doubles as the corpus carries them: cents/100.0
  private val cents = Gen.choose(0L, 99999999L) // up to $999,999.99
  private val discBasis = Gen.choose(0L, 100L)  // 0.00 .. 1.00

  property("round(x*100) recovers exact cents") = forAll(cents) { c =>
    val money = c / 100.0
    math.round(money * 100) == c
  }

  property("long rev4 == BigDecimal price*(1-disc)") = forAll(cents, discBasis) { (c, db) =>
    val price = c / 100.0
    val disc = db / 100.0
    val rev4 = math.round(price * 100) * (100L - math.round(disc * 100))
    val exact = new java.math.BigDecimal(c).movePointLeft(2)
      .multiply(java.math.BigDecimal.ONE.subtract(new java.math.BigDecimal(db).movePointLeft(2)))
    // rev4 is in 1e-4 dollars: compare as scaled BigDecimal, exactly
    new java.math.BigDecimal(rev4).movePointLeft(4).compareTo(exact) == 0
  }

  property("scaled-long sums match BigDecimal sums exactly") =
    forAll(Gen.listOfN(50, Gen.zip(cents, discBasis))) { xs =>
      val viaLong = new java.math.BigDecimal(
        xs.map { case (c, db) => math.round(c / 100.0 * 100) * (100L - math.round(db / 100.0 * 100)) }.sum
      ).movePointLeft(4)
      val viaBig = xs.map { case (c, db) =>
        new java.math.BigDecimal(c).movePointLeft(2)
          .multiply(java.math.BigDecimal.ONE.subtract(new java.math.BigDecimal(db).movePointLeft(2)))
      }.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      viaLong.compareTo(viaBig) == 0
    }
}

/** [[graft.functions.KmvDistinct]] laws: the one-pass mergeable aggregate
  * must behave like the mathematical KMV sketch no matter how the input
  * is partitioned or ordered. Buffers are compared through one normalized
  * view, the ascending k-smallest sequence, so no law depends on how the
  * buffer stores it. */
object KmvProps extends Properties("KmvDistinct") {
  import graft.functions.KmvDistinct

  private val K = 16
  /** Wide 60-bit hashes mixed with a narrow range, so duplicates occur. */
  private val hashes = Gen.listOf(Gen.frequency(
    4 -> Gen.choose(1L, 1L << 60), 1 -> Gen.choose(1L, 40L)))
  private def view(buf: Array[Long]): Seq[Long] = buf.toSeq
  private def run(agg: KmvDistinct, xs: Seq[Long]): Array[Long] =
    xs.foldLeft(agg.zero)(agg.reduce)
  private def split(xs: List[Long], cutRaw: Int) =
    xs.splitAt(if (xs.isEmpty) 0 else cutRaw % (xs.size + 1))

  property("merge of any split equals one-pass reduce") =
    forAll(hashes, Gen.choose(0, 100)) { (xs, cutRaw) =>
      val agg = new KmvDistinct(K)
      val (a, b) = split(xs, cutRaw)
      view(agg.merge(run(agg, a), run(agg, b))) == view(run(agg, xs))
    }

  property("input order never changes the sketch") = forAll(hashes) { xs =>
    val agg = new KmvDistinct(K)
    view(run(agg, xs)) == view(run(agg, scala.util.Random.shuffle(xs)))
  }

  property("below k the estimate is the exact distinct count") =
    forAll(Gen.listOf(Gen.choose(1L, 1L << 60)).map(_.take(K - 1))) { xs =>
      val agg = new KmvDistinct(K)
      agg.finish(run(agg, xs)) == xs.distinct.size.toDouble
    }

  property("buffer is the k smallest distinct hashes, ascending") =
    forAll(hashes) { xs =>
      val agg = new KmvDistinct(K)
      view(run(agg, xs)) == xs.distinct.sorted.take(K)
    }

  property("merging with zero is the identity") = forAll(hashes) { xs =>
    val agg = new KmvDistinct(K)
    val r = run(agg, xs)
    view(agg.merge(agg.zero, r)) == view(r) && view(agg.merge(r, agg.zero)) == view(r)
  }

  property("a buffer that was merged into stays correct when reused") =
    forAll(hashes, hashes, Gen.choose(0, 100)) { (xs, more, cutRaw) =>
      val agg = new KmvDistinct(K)
      val (a, b) = split(xs, cutRaw)
      val (ra, rb) = (run(agg, a), run(agg, b))
      val merged = agg.merge(ra, rb)
      // both the merge's inputs and its result keep absorbing rows correctly
      view(more.foldLeft(ra)(agg.reduce)) == view(run(agg, a ++ more)) &&
        view(more.foldLeft(rb)(agg.reduce)) == view(run(agg, b ++ more)) &&
        view(more.foldLeft(merged)(agg.reduce)) == view(run(agg, xs ++ more))
    }
}

/** [[graft.functions.TopKByScore]] laws: whatever the split, the kept
  * entries are the first k of the input sorted by (score desc, id asc).
  * Scores include ties, NaN and both zeros; entries are compared by their
  * score's bits so NaN and -0.0 compare exactly. */
object TopKProps extends Properties("TopKByScore") {
  import graft.functions.TopKByScore

  private val K = 8
  private val entries = Gen.listOf(Gen.zip(
    Gen.frequency(6 -> Gen.choose(-3, 3).map(_.toDouble),
      1 -> Gen.oneOf(Double.NaN, -0.0, 0.0), 2 -> Gen.choose(-1e6, 1e6)),
    Gen.choose(0L, 20L)))
  private def bits(xs: Iterable[(Double, Long)]) =
    xs.map { case (s, id) => (java.lang.Double.doubleToRawLongBits(s), id) }.toSeq
  private def run(agg: TopKByScore, xs: Seq[(Double, Long)]) =
    xs.foldLeft(agg.zero)(agg.reduce)

  property("merge of any split equals one-pass reduce, and both equal sort-then-take") =
    forAll(entries, Gen.choose(0, 100)) { (xs, cutRaw) =>
      val agg = new TopKByScore(K)
      val (a, b) = xs.splitAt(if (xs.isEmpty) 0 else cutRaw % (xs.size + 1))
      val expected = bits(xs.sortBy(e => (-e._1, e._2)).take(K))
      bits(agg.merge(run(agg, a), run(agg, b))) == expected && bits(run(agg, xs)) == expected
    }

  property("finish reports (id, score) best first") = forAll(entries) { xs =>
    val agg = new TopKByScore(K)
    bits(agg.finish(run(agg, xs)).map(_.swap)) ==
      bits(xs.sortBy(e => (-e._1, e._2)).take(K))
  }
}
