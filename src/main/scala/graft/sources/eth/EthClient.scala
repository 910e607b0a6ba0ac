package graft.sources.eth

import java.io.{BufferedReader, FileReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Node-facing client abstraction — the analogue of the reference's web3j
  * provider (`EthereumWeb3jProvider.java:14-34`): exactly one backend per
  * session, constructed from options. The engine only ever talks to the chain
  * through this trait, so swapping the offline fixture backend for a live
  * JSON-RPC pool is a config change, not a code change.
  *
  * Methods mirror the RPC surface the reference uses: tip lookup
  * (`ethBlockNumber`), ranged block fetch (`ethGetBlockByNumber` with full
  * transactions + receipts), hash→number (`ethGetBlockByHash`), plus the UDF
  * RPCs (`udfs/EthereumUDFs.java:61-140`).
  */
trait EthClient extends Serializable {
  /** Current chain tip (`EthereumSplitManager.java:51`). */
  def blockNumber(): Long
  /** Stream blocks `start..end` inclusive; `fullTx=false` skips
    * materializing transactions/logs (the `ethGetBlockByNumber`
    * full-transaction-objects flag) for pruned block-only scans, and
    * `needLogs=false` skips receipt/log retrieval for transaction scans
    * that never read logs — the analogue of the reference fetching
    * receipts only on the erc20 cursor branch
    * (`EthereumLogLazyIterator.java:39`). */
  def blocks(start: Long, end: Long, fullTx: Boolean = true,
      needLogs: Boolean = true): Iterator[EthBlockData]
  /** Resolve a block hash to its number; None if unknown. */
  def blockNumberByHash(hash: String): Option[Long]
  /** Timestamp of one block (used by the timestamp→range binary search). */
  def timestampOf(blockNumber: Long): Long
  def gasPrice(): Double
  def getBalance(addr: String, atBlock: Option[Long]): Double
  def getTransactionCount(addr: String, atBlock: Option[Long]): Long
  /** Deployed bytecode, `"0x"` when not a contract (drives `isContract`). */
  def getCode(addr: String): String
  /** Batched account-state lookup: one (balance, nonce) pair per input
    * address, in input order. Default implementation is the per-address
    * scalar pair — correct for the in-process fixture backend where a
    * "round trip" is a map lookup; the JSON-RPC backend overrides it with
    * ONE batched request per call (2·N entries, the batchCall redelivery
    * contract), which is what makes the table-valued account UDF path
    * live-mode viable ([[graft.functions.Web3Functions.accountStates]]). */
  def accountStates(addrs: Seq[String],
      atBlock: Option[Long]): Seq[(Double, Long)] =
    addrs.map(a => (getBalance(a, atBlock), getTransactionCount(a, atBlock)))
}

object EthClient {
  /** Construct the client for a chain location — URI-scheme dispatch, the
    * analogue of the reference's one-of endpoint config
    * (`EthereumConnectorConfig.java:11-39`, `EthereumWeb3jProvider.java:20-30`):
    * http(s) endpoints and `ipc://<socket-path>` get the live JSON-RPC
    * backend over the matching transport (Infura is covered by https);
    * anything else is a fixture directory. */
  def forChain(chain: String): EthClient =
    if (chain.startsWith("http://") || chain.startsWith("https://") ||
        chain.startsWith("ipc://"))
      new JsonRpcChainClient(chain)
    else new FixtureChainClient(chain)

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}

/** Offline chain backend over the deterministic JSONL fixture layout written
  * by [[EthFixtures]]:
  *
  *   <dir>/meta.txt             tip=<N>
  *   <dir>/chain/blocks-<k>.jsonl   1024 blocks per file, one JSON per line
  *   <dir>/hash-index.txt       <block_hash> <number> per line
  *
  * Block JSON embeds transactions, and each transaction embeds its receipt
  * logs — so one "fetch" per block replaces the reference's
  * 1 + n_tx RPC round trips per block (`EthereumLogLazyIterator.java:39`).
  * Account-state calls (balance/nonce/code) are deterministic functions of
  * the address so UDF results are stable for tests.
  *
  * The tip, hash → number and per-block timestamp lookups are served by the
  * process-wide [[FixtureChainIndex]] of the chain dir, so every client of
  * one dir (one per scan builder, reader factory or UDF closure) shares a
  * single load of each file. Block scans ([[blocks]]) read the chunk files
  * directly and cache nothing.
  */
final class FixtureChainClient(chainDir: String) extends EthClient {
  import FixtureChainClient._

  @transient private lazy val index = FixtureChainIndex(chainDir)
  private def tip: Long = index.tip

  override def blockNumber(): Long = tip

  override def blocks(start: Long, end: Long, fullTx: Boolean = true,
      needLogs: Boolean = true): Iterator[EthBlockData] = {
    val lo = math.max(1L, start)
    val hi = math.min(tip, end)
    if (lo > hi) return Iterator.empty
    val firstChunk = ((lo - 1) / BlocksPerFile) * BlocksPerFile + 1
    Iterator.range(firstChunk, hi + 1, BlocksPerFile).flatMap { chunkStart =>
      // Eager per-chunk read (≤1024 lines) so the handle closes here even
      // when the consumer stops early (LIMIT / nextOption) — a lazily
      // draining reader leaked one descriptor per abandoned iterator.
      chunkLines(chunkStart).iterator
        .map(parseBlock(_, fullTx, needLogs))
        .filter(b => b.number >= lo && b.number <= hi)
    }
  }

  /** All JSONL lines of one chunk file; empty when the chunk is absent. */
  private def chunkLines(chunkStart: Long): IndexedSeq[String] = {
    val path = Paths.get(chainDir, "chain", f"blocks-$chunkStart%07d.jsonl")
    if (!Files.exists(path)) Vector.empty
    else {
      val reader = new BufferedReader(new FileReader(path.toFile))
      try {
        val b = Vector.newBuilder[String]
        var l = reader.readLine()
        while (l != null) { b += l; l = reader.readLine() }
        b.result()
      } finally reader.close()
    }
  }

  override def blockNumberByHash(hash: String): Option[Long] = index.numberOf(hash)

  override def timestampOf(blockNumber: Long): Long = {
    if (blockNumber < 1 || blockNumber > tip)
      throw new IllegalStateException(s"no block $blockNumber")
    index.timestampOf(blockNumber)
      .getOrElse(throw new IllegalStateException(s"no block $blockNumber"))
  }

  override def gasPrice(): Double = 21.0e9

  override def getBalance(addr: String, atBlock: Option[Long]): Double = {
    val h = addrSeed(addr)
    val at = atBlock.getOrElse(tip)
    ((h % 1000000L) * 1.0e15) + at * 1.0e9
  }

  override def getTransactionCount(addr: String, atBlock: Option[Long]): Long = {
    val h = addrSeed(addr)
    val at = atBlock.getOrElse(tip)
    (h % 497L) + at / 1024L
  }

  override def getCode(addr: String): String =
    if (Erc20Decoder.tokenBySymbolAddr.valuesIterator.exists(_.equalsIgnoreCase(addr)) ||
        addrSeed(addr) % 5L == 0L) "0x60606040" else "0x"

  private def addrSeed(addr: String): Long =
    new java.math.BigInteger(EthClient.sha256Hex(addr.toLowerCase).take(15), 16).longValue()
}

object FixtureChainClient {
  val BlocksPerFile = 1024L

  private val mapper = new ObjectMapper()

  private def strs(n: JsonNode): Vector[String] = {
    val b = Vector.newBuilder[String]
    n.forEach(e => b += e.asText())
    b.result()
  }

  def parseBlock(line: String, fullTx: Boolean = true,
      needLogs: Boolean = true): EthBlockData = {
    val j = mapper.readTree(line)
    val number = j.get("number").asLong()
    val hash = j.get("hash").asText()
    val txs = Vector.newBuilder[EthTx]
    var idx = 0
    if (fullTx) j.get("transactions").forEach { t =>
      val txHash = t.get("hash").asText()
      val logs = Vector.newBuilder[EthLog]
      if (needLogs) t.get("logs").forEach { l =>
        logs += EthLog(
          address = l.get("address").asText(),
          topics = strs(l.get("topics")),
          data = l.get("data").asText(),
          transactionHash = txHash,
          blockNumber = number)
      }
      txs += EthTx(
        hash = txHash,
        nonce = t.get("nonce").asLong(),
        blockHash = hash,
        blockNumber = number,
        transactionIndex = idx,
        from = t.get("from").asText(),
        to = Option(t.get("to")).filter(!_.isNull).map(_.asText()),
        value = t.get("value").asDouble(),
        gas = t.get("gas").asDouble(),
        gasPrice = t.get("gasPrice").asDouble(),
        input = t.get("input").asText(),
        logs = logs.result())
      idx += 1
    }
    EthBlockData(
      number = number,
      hash = hash,
      parentHash = j.get("parentHash").asText(),
      nonce = j.get("nonce").asText(),
      sha3Uncles = j.get("sha3Uncles").asText(),
      logsBloom = j.get("logsBloom").asText(),
      transactionsRoot = j.get("transactionsRoot").asText(),
      stateRoot = j.get("stateRoot").asText(),
      miner = j.get("miner").asText(),
      difficulty = j.get("difficulty").asLong(),
      totalDifficulty = j.get("totalDifficulty").asLong(),
      size = j.get("size").asInt(),
      extraData = j.get("extraData").asText(),
      gasLimit = j.get("gasLimit").asDouble(),
      gasUsed = j.get("gasUsed").asDouble(),
      timestamp = j.get("timestamp").asLong(),
      uncles = strs(j.get("uncles")),
      transactions = txs.result())
  }
}

/** Process-wide lookup index over one fixture chain dir: the tip (from
  * `meta.txt`), `block_hash → number` (from `hash-index.txt`, loaded whole on
  * the first hash lookup) and, per 1024-block chunk file, a number-sorted
  * `number → timestamp` pair of `Array[Long]`s, built the first time a probe
  * touches that chunk. The planner's hash resolution, the timestamp binary
  * search and the pushed `min/max(block_timestamp)` aggregate read it, so
  * they cost a map or array lookup instead of a file read per query or per
  * probe (the coordinator-side metadata of `EthereumMetadata.java:200-229`).
  *
  * Every entry is keyed by its file's `(fileKey, lastModifiedTime, size)`,
  * read with one `readAttributes` call per lookup: a rewritten file (a reorg
  * or a growing tip under a tip-following stream, [[EthFixtures.writeRawChain]])
  * is reloaded on the next lookup, and a deleted one reads as absent. The key
  * is read before the file, so a load that races a writer is replaced on the
  * following lookup rather than kept.
  *
  * Retained memory per block, from object layouts with compressed oops:
  * about 180 B for the hash map entry (a 66-char key ~112 B, a boxed number
  * 16 B, a map node 32 B, ~17 B of table) and 16 B for the chunk arrays.
  * Indexes live for the JVM, one per distinct dir, and are never evicted.
  */
private[eth] final class FixtureChainIndex private (dir: String) {
  import FixtureChainIndex._

  /** Files loaded so far (meta, hash index and chunk loads, reloads included). */
  private[eth] val loads = new AtomicLong

  /** One file-derived value, reloaded when the file's stamp changes. */
  private final class Slot[A](path: Path, load: Path => A) {
    @volatile private var cur: (Stamp, A) = _
    /** The value for the file as it is now; None when the file is absent. */
    def get: Option[A] = stamp(path).map { s =>
      val c = cur
      if (c != null && c._1 == s) c._2
      else synchronized {
        if (cur == null || cur._1 != s) { cur = (s, load(path)); loads.incrementAndGet() }
        cur._2
      }
    }
  }

  private val meta = new Slot(Paths.get(dir, "meta.txt"), readTip)
  private val hashes = new Slot(Paths.get(dir, "hash-index.txt"), readHashes)
  private val chunks = new ConcurrentHashMap[Long, Slot[Chunk]]

  def tip: Long = meta.get.getOrElse(throw new NoSuchFileException(s"$dir/meta.txt"))

  def numberOf(hash: String): Option[Long] =
    hashes.get.flatMap(m => Option(m.get(hash))).map(_.longValue)

  /** Timestamp of block `n`; None when its chunk file or its line is absent. */
  def timestampOf(n: Long): Option[Long] = {
    val start = ((n - 1) / FixtureChainClient.BlocksPerFile) * FixtureChainClient.BlocksPerFile + 1
    chunks.computeIfAbsent(start, s =>
      new Slot(Paths.get(dir, "chain", f"blocks-$s%07d.jsonl"), readChunk)).get.flatMap { c =>
      val i = java.util.Arrays.binarySearch(c.numbers, n)
      if (i >= 0) Some(c.timestamps(i)) else None
    }
  }
}

private[eth] object FixtureChainIndex {
  private val byDir = new ConcurrentHashMap[String, FixtureChainIndex]

  /** The index of `dir`, created on first use; one per normalized path. */
  def apply(dir: String): FixtureChainIndex =
    byDir.computeIfAbsent(Paths.get(dir).toAbsolutePath.normalize.toString,
      d => new FixtureChainIndex(d))

  private final case class Stamp(key: AnyRef, modified: FileTime, size: Long)

  private def stamp(p: Path): Option[Stamp] =
    try {
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      Some(Stamp(a.fileKey, a.lastModifiedTime, a.size))
    } catch { case _: NoSuchFileException => None }

  private final class Chunk(val numbers: Array[Long], val timestamps: Array[Long])

  private def eachLine(p: Path)(f: String => Unit): Unit = {
    val r = Files.newBufferedReader(p)
    try { var l = r.readLine(); while (l != null) { f(l); l = r.readLine() } } finally r.close()
  }

  private def readTip(p: Path): Long =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).linesIterator
      .collectFirst { case l if l.startsWith("tip=") => l.drop(4).toLong }
      .getOrElse(throw new IllegalStateException(s"no tip= in $p"))

  private def readHashes(p: Path): java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]
    eachLine(p) { l =>
      val sp = l.indexOf(' ')
      if (sp > 0) m.put(l.substring(0, sp), l.substring(sp + 1).toLong)
    }
    m
  }

  private val json = new JsonFactory

  /** (number, timestamp) of every line, sorted by number. Each line is
    * tokenized only up to `timestamp`, which [[EthFixtures]] writes before
    * the transactions: no tree, no [[EthBlockData]]. */
  private def readChunk(p: Path): Chunk = {
    val pairs = Array.newBuilder[(Long, Long)]
    eachLine(p) { l =>
      val jp = json.createParser(l)
      try {
        var number, ts = -1L
        jp.nextToken()
        while ((number < 0 || ts < 0) && jp.nextToken() == JsonToken.FIELD_NAME) {
          val field = jp.currentName()
          jp.nextToken()
          field match {
            case "number" => number = jp.getLongValue
            case "timestamp" => ts = jp.getLongValue
            case _ => jp.skipChildren()
          }
        }
        if (number < 0 || ts < 0)
          throw new IllegalStateException(s"block line without number/timestamp in $p")
        pairs += ((number, ts))
      } finally jp.close()
    }
    val sorted = pairs.result().sortBy(_._1)
    new Chunk(sorted.map(_._1), sorted.map(_._2))
  }
}
