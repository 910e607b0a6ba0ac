package ethbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sources.eth.EthFixtures

/** One timed operation: how to build its frame, how to check its rows, and
  * how many chain blocks its predicate selects (0 for registry ops). */
final case class Op(cls: String, build: SparkSession => DataFrame,
    check: (StructType, Array[Row]) => Boolean, selectedBlocks: Long)

/** An op class and how many of its ops a run holds per 10 s of
  * `--seconds`. The counts are weights: they put a run's median and its tail
  * percentile inside one class each (NOTES.md, "Weights"). */
final case class OpClass(name: String, per10s: Int, make: Random => Op)

final case class Workload(name: String, classes: Seq[OpClass]) {
  /** The timed sequence: fixed counts per class, parameters and order from the seed. */
  def ops(seed: Long, seconds: Int): Seq[Op] = {
    val rng = new Random(seed)
    val all = classes.flatMap { c =>
      Seq.fill(math.max(1, math.round(c.per10s * seconds / 10.0).toInt))(c.make(rng))
    }
    rng.shuffle(all)
  }

  /** One op of every class with parameters that do not depend on the seed. */
  def warmRound(round: Int): Seq[Op] = {
    val rng = new Random(1000003L * round + name.hashCode)
    classes.map(_.make(rng))
  }
}

object Workloads {
  val Names: Seq[String] = Seq("chain_scan", "chain_lookup", "registry_mix")

  /** Chain length of the fixture both chain workloads read. */
  val ChainBlocks = 60000
  /** Blocks per chain_scan op: 8 source partitions of 512 blocks. */
  val ScanWindow = 4096
  val RangeBlocks = 1000

  def apply(name: String, chain: => ChainTruth, corpus: String,
      golden: Map[String, String]): Workload = name match {
    case "chain_scan"   => chainScan(chain)
    case "chain_lookup" => chainLookup(chain)
    case "registry_mix" => registryMix(corpus, golden)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Every class of every workload; a traced run reports each one. */
  def allClassNames: Seq[String] =
    Names.flatMap(n => apply(n, null, "", Map.empty).classes.map(_.name))

  private val Tx = "ethereum.default.transaction"
  private val Blk = "ethereum.default.block"
  private val Erc = "ethereum.default.erc20"

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)) + 1e-6

  private def window(rng: Random, width: Int): (Long, Long) = {
    val lo = 1L + rng.nextInt(ChainBlocks - width + 1)
    (lo, lo + width - 1)
  }

  private def sql(text: String): SparkSession => DataFrame = _.sql(text)

  /** Full-decode aggregates: the source's fetch, JSON parse, ERC-20 decode
    * and columnar fill do the work. */
  def chainScan(t: ChainTruth): Workload = Workload("chain_scan", Seq(
    OpClass("tx_agg", 6, { rng =>
      val (lo, hi) = window(rng, ScanWindow)
      Op("tx_agg", sql(s"SELECT count(*) AS n, sum(tx_gas) AS gas, sum(tx_value) AS v, " +
        s"max(tx_gasPrice) AS gp FROM $Tx WHERE tx_blockNumber BETWEEN $lo AND $hi"),
        (_, rows) => {
          val r = rows.head
          r.getLong(0) == t.txCount(lo, hi) && close(r.getDouble(1), t.txGas(lo, hi)) &&
            close(r.getDouble(2), t.txValue(lo, hi)) &&
            t.maxPrice(lo, hi).forall(close(r.getDouble(3), _))
        }, hi - lo + 1)
    }),
    OpClass("erc20_by_token", 16, { rng =>
      val (lo, hi) = window(rng, ScanWindow)
      Op("erc20_by_token", sql(s"SELECT erc20_token, count(*), sum(erc20_value) FROM $Erc " +
        s"WHERE erc20_blockNumber BETWEEN $lo AND $hi GROUP BY erc20_token"),
        (_, rows) => {
          val want = t.erc20ByToken(lo, hi)
          rows.length == want.size && rows.forall { r =>
            want.get(r.getString(0)).exists { case (c, s) => r.getLong(1) == c && close(r.getDouble(2), s) }
          }
        }, hi - lo + 1)
    }),
    OpClass("block_by_miner", 6, { rng =>
      val (lo, hi) = window(rng, ScanWindow)
      Op("block_by_miner", sql(s"SELECT block_miner, count(*), sum(block_size) FROM $Blk " +
        s"WHERE block_number BETWEEN $lo AND $hi GROUP BY block_miner"),
        (_, rows) => {
          val want = t.blocksByMiner(lo, hi)
          rows.length == want.size &&
            rows.forall(r => want.get(r.getString(0)).contains((r.getLong(1), r.getLong(2))))
        }, hi - lo + 1)
    }),
    OpClass("web3_udf", 16, { rng =>
      val (lo, hi) = window(rng, ScanWindow)
      // isContract is nondeterministic (an RPC in live mode), so it is
      // projected below the aggregate rather than inside it
      Op("web3_udf", sql(s"SELECT sum(eth), count_if(c) FROM (SELECT " +
        s"fromWei(tx_value, 'ether') AS eth, isContract(coalesce(tx_to, '0x')) AS c FROM $Tx " +
        s"WHERE tx_blockNumber BETWEEN $lo AND $hi)"),
        (_, rows) => {
          val r = rows.head
          close(r.getDouble(0), t.txValue(lo, hi) / 1e18) && r.getLong(1) == t.contractTxs(lo, hi)
        }, hi - lo + 1)
    })))

  /** Pushdown-served ops: per-query planning and the source's hash-index,
    * timestamp-probe and range paths do the work; few blocks are read. */
  def chainLookup(t: ChainTruth): Workload = Workload("chain_lookup", Seq(
    OpClass("hash_lookup", 20, { rng =>
      val n = 1 + rng.nextInt(ChainBlocks)
      Op("hash_lookup", sql(s"SELECT block_number, block_timestamp, block_miner FROM $Blk " +
        s"WHERE block_hash = '${EthFixtures.blockHash(n)}'"),
        (_, rows) => rows.length == 1 && rows(0).getLong(0) == n &&
          rows(0).getLong(1) == t.ts(n - 1) &&
          rows(0).getString(2) == EthFixtures.minerPool(t.miner(n - 1)), 1)
    }),
    OpClass("ts_range", 18, { rng =>
      val (lo, hi) = window(rng, RangeBlocks)
      val (a, b) = (t.ts(lo.toInt - 1), t.ts(hi.toInt - 1))
      Op("ts_range", sql(s"SELECT count(*) FROM $Blk " +
        s"WHERE block_timestamp >= $a AND block_timestamp <= $b"),
        (_, rows) => rows(0).getLong(0) == t.blocksInTime(a, b), hi - lo + 1)
    }),
    OpClass("block_range", 5, { rng =>
      val (lo, hi) = window(rng, RangeBlocks)
      Op("block_range", sql(s"SELECT count(*), sum(tx_gas) FROM $Tx " +
        s"WHERE tx_blockNumber BETWEEN $lo AND $hi"),
        (_, rows) => rows(0).getLong(0) == t.txCount(lo, hi) &&
          (t.txCount(lo, hi) == 0 || close(rows(0).getDouble(1), t.txGas(lo, hi))), hi - lo + 1)
    }),
    OpClass("latest_topn", 5, { rng =>
      val k = 5 + rng.nextInt(16)
      Op("latest_topn", sql(s"SELECT block_number, block_hash FROM $Blk " +
        s"ORDER BY block_number DESC LIMIT $k"),
        (_, rows) => rows.length == k && rows.zipWithIndex.forall { case (r, i) =>
          val n = ChainBlocks - i
          r.getLong(0) == n && r.getString(1) == EthFixtures.blockHash(n)
        }, k)
    }),
    OpClass("pushed_agg", 5, { rng =>
      val (lo, hi) = window(rng, RangeBlocks + rng.nextInt(ChainBlocks - RangeBlocks))
      Op("pushed_agg", sql(s"SELECT count(*), min(block_number), max(block_number), " +
        s"min(block_timestamp), max(block_timestamp) FROM $Blk " +
        s"WHERE block_number BETWEEN $lo AND $hi"),
        (_, rows) => {
          val r = rows(0)
          r.getLong(0) == hi - lo + 1 && r.getLong(1) == lo && r.getLong(2) == hi &&
            r.getLong(3) == t.ts(lo.toInt - 1) && r.getLong(4) == t.ts(hi.toInt - 1)
        }, 0) // answered from range metadata: no block is meant to be fetched
    })))

  /** Registry queries through `SparkEntry.queries`, checked against the
    * stored result hashes: operators, plans and functions do the work. */
  val RegistryClasses: Seq[(String, Int)] = Seq(
    "q01_pricing_summary" -> 4, "q38_kmv_distinct" -> 14, "nd_dedup_minhash" -> 4)

  /** The streaming drain the traced run measures once for the `streaming.*`
    * metrics; it is checked against golden.json like the timed ops. */
  val StreamProbe = "nd_stream_upsert"

  def registryMix(corpus: String, golden: Map[String, String]): Workload =
    Workload("registry_mix", RegistryClasses.map { case (q, w) =>
      OpClass(q, w, _ => Op(q, s => SparkEntry.queries(q)(s, corpus),
        (schema, rows) => golden.get(q).contains(resultHash(schema, rows)), 0))
    })

  /** Order-free hash of a result: columns sorted by name, doubles rounded
    * to 9 significant digits (partition count changes summation order),
    * rows sorted. */
  def resultHash(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def str(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
      case f: Float => str(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(str).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(str).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => str(k) + ":" + str(x) }.sorted.mkString("<", ",", ">")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val lines = rows.map(r => cols.map(i => str(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
