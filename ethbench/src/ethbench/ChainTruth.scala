package ethbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path}
import java.util.Random

import scala.collection.mutable

import graft.sources.eth.{EthClient, EthFixtures}

/** Per-block facts of the fixture chain, taken from `EthFixtures.genBlock`
  * (the generator's own parameters), never from the decoder under test.
  * They are derived once per chain and stored beside it, so no run
  * recomputes them. Arrays are indexed by `block_number - 1`.
  */
final class ChainTruth(
    val ts: Array[Long],
    val miner: Array[Int],
    val size: Array[Int],
    val nTx: Array[Int],
    val gas: Array[Double],
    val value: Array[Double],
    val maxGasPrice: Array[Double],
    /** Transactions whose `coalesce(to, '0x')` the fixture backend reports as a contract. */
    val contractTo: Array[Int],
    /** Decoded transfers of block n are `ercStart(n-1) until ercStart(n)`. */
    val ercStart: Array[Int],
    val ercToken: Array[Int],
    val ercValue: Array[Double],
    val tokens: Array[String]) {

  def blocks: Int = ts.length

  private def sumOver[A](lo: Long, hi: Long)(f: Int => A)(implicit n: Numeric[A]): A = {
    var acc = n.zero
    var i = (lo - 1).toInt
    while (i < hi) { acc = n.plus(acc, f(i)); i += 1 }
    acc
  }

  def txCount(lo: Long, hi: Long): Long = sumOver(lo, hi)(i => nTx(i).toLong)
  def txGas(lo: Long, hi: Long): Double = sumOver(lo, hi)(gas(_))
  def txValue(lo: Long, hi: Long): Double = sumOver(lo, hi)(value(_))
  def contractTxs(lo: Long, hi: Long): Long = sumOver(lo, hi)(i => contractTo(i).toLong)
  def maxPrice(lo: Long, hi: Long): Option[Double] = {
    val ps = ((lo - 1).toInt until hi.toInt).filter(nTx(_) > 0).map(maxGasPrice(_))
    if (ps.isEmpty) None else Some(ps.max)
  }

  /** token -> (transfers, value sum) over blocks lo..hi. */
  def erc20ByToken(lo: Long, hi: Long): Map[String, (Long, Double)] = {
    val cnt = new Array[Long](tokens.length)
    val sum = new Array[Double](tokens.length)
    var j = ercStart((lo - 1).toInt)
    val end = ercStart(hi.toInt)
    while (j < end) { cnt(ercToken(j)) += 1; sum(ercToken(j)) += ercValue(j); j += 1 }
    tokens.indices.filter(cnt(_) > 0).map(t => tokens(t) -> (cnt(t), sum(t))).toMap
  }

  /** miner address -> (blocks, size sum) over blocks lo..hi. */
  def blocksByMiner(lo: Long, hi: Long): Map[String, (Long, Long)] =
    ((lo - 1).toInt until hi.toInt).groupBy(miner(_)).map { case (m, is) =>
      EthFixtures.minerPool(m) -> (is.size.toLong, is.map(size(_).toLong).sum)
    }

  /** Number of blocks with lo <= timestamp <= hi (timestamps are monotone). */
  def blocksInTime(lo: Long, hi: Long): Long = ts.count(t => t >= lo && t <= hi).toLong
}

object ChainTruth {
  private val Magic = 0x45544842 // "ETHB"

  /** Walk the generator exactly as `EthFixtures.ensureChainOnly` does
    * (per-block seeded timestamps, then `genBlock`). */
  def derive(chainDir: String, blocks: Int): ChainTruth = {
    val contract = EthClient.forChain(chainDir)
    val isContract = mutable.HashMap.empty[String, Int]
    def contractFlag(addr: String): Int =
      isContract.getOrElseUpdate(addr, if (contract.getCode(addr) != "0x") 1 else 0)
    val minerIx = EthFixtures.minerPool.zipWithIndex.toMap
    val tokenIx = mutable.LinkedHashMap.empty[String, Int]
    val ts = new Array[Long](blocks); val miner = new Array[Int](blocks)
    val size = new Array[Int](blocks); val nTx = new Array[Int](blocks)
    val gas = new Array[Double](blocks); val value = new Array[Double](blocks)
    val maxGp = new Array[Double](blocks); val contractTo = new Array[Int](blocks)
    val ercStart = new Array[Int](blocks + 1)
    val ercToken = mutable.ArrayBuilder.make[Int]; val ercValue = mutable.ArrayBuilder.make[Double]
    var nErc = 0
    var totalDifficulty = 0L
    var t = EthFixtures.GenesisTs
    var n = 1
    while (n <= blocks) {
      t += 9 + new Random(977L * n).nextInt(9)
      val (b, transfers) = EthFixtures.genBlock(n.toLong, totalDifficulty, t)
      totalDifficulty = b.totalDifficulty
      val i = n - 1
      ts(i) = b.timestamp; miner(i) = minerIx(b.miner); size(i) = b.size
      nTx(i) = b.transactions.size
      b.transactions.foreach { tx =>
        gas(i) += tx.gas; value(i) += tx.value
        maxGp(i) = math.max(maxGp(i), tx.gasPrice)
        contractTo(i) += contractFlag(tx.to.getOrElse("0x"))
      }
      ercStart(i) = nErc
      transfers.foreach { e =>
        ercToken += tokenIx.getOrElseUpdate(e.token, tokenIx.size); ercValue += e.value
        nErc += 1
      }
      n += 1
    }
    ercStart(blocks) = nErc
    new ChainTruth(ts, miner, size, nTx, gas, value, maxGp, contractTo, ercStart,
      ercToken.result(), ercValue.result(), tokenIx.keys.toArray)
  }

  def write(t: ChainTruth, file: Path): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16))
    try {
      out.writeInt(Magic); out.writeInt(t.blocks); out.writeInt(t.tokens.length)
      t.tokens.foreach(out.writeUTF)
      for (i <- 0 until t.blocks) {
        out.writeLong(t.ts(i)); out.writeInt(t.miner(i)); out.writeInt(t.size(i))
        out.writeInt(t.nTx(i)); out.writeDouble(t.gas(i)); out.writeDouble(t.value(i))
        out.writeDouble(t.maxGasPrice(i)); out.writeInt(t.contractTo(i))
        out.writeInt(t.ercStart(i))
      }
      out.writeInt(t.ercStart(t.blocks))
      for (j <- t.ercToken.indices) { out.writeInt(t.ercToken(j)); out.writeDouble(t.ercValue(j)) }
    } finally out.close()
    Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def read(file: Path): ChainTruth = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(file), 1 << 16))
    try {
      require(in.readInt() == Magic, s"$file is not a chain truth file")
      val blocks = in.readInt()
      val tokens = Array.fill(in.readInt())(in.readUTF())
      val ts = new Array[Long](blocks); val miner = new Array[Int](blocks)
      val size = new Array[Int](blocks); val nTx = new Array[Int](blocks)
      val gas = new Array[Double](blocks); val value = new Array[Double](blocks)
      val maxGp = new Array[Double](blocks); val contractTo = new Array[Int](blocks)
      val ercStart = new Array[Int](blocks + 1)
      for (i <- 0 until blocks) {
        ts(i) = in.readLong(); miner(i) = in.readInt(); size(i) = in.readInt()
        nTx(i) = in.readInt(); gas(i) = in.readDouble(); value(i) = in.readDouble()
        maxGp(i) = in.readDouble(); contractTo(i) = in.readInt(); ercStart(i) = in.readInt()
      }
      ercStart(blocks) = in.readInt()
      val nErc = ercStart(blocks)
      val ercToken = new Array[Int](nErc); val ercValue = new Array[Double](nErc)
      for (j <- 0 until nErc) { ercToken(j) = in.readInt(); ercValue(j) = in.readDouble() }
      new ChainTruth(ts, miner, size, nTx, gas, value, maxGp, contractTo, ercStart,
        ercToken, ercValue, tokens)
    } finally in.close()
  }
}
