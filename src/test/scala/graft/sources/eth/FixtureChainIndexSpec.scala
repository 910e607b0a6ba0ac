package graft.sources.eth

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CyclicBarrier, Executors}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The process-wide [[FixtureChainIndex]] behind [[FixtureChainClient]]'s
  * tip, hash and timestamp lookups: shared loads, file-validated reloads,
  * absent files, bounds and concurrent use. No Spark session. */
class FixtureChainIndexSpec extends AnyFunSuite {

  private def withDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("chain-index")
    try f(dir.toString)
    finally Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete(_: Path))
  }

  /** Blocks 1..n with timestamps `ts0 + 13·i` (fixed width for ts0 ≫ 13·n). */
  private def chain(n: Int, ts0: Long = EthFixtures.GenesisTs): Vector[EthBlockData] =
    (1 to n).map(i => EthFixtures.genBlock(i, 0L, ts0 + 13L * i)._1).toVector

  private def size(dir: String, f: String): Long = Files.size(Paths.get(dir, f))

  test("eight clients of one dir share one load of each file") {
    withDir { dir =>
      val blocks = chain(32)
      EthFixtures.writeRawChain(dir, blocks, 32)
      Seq.fill(8)(new FixtureChainClient(dir)).foreach { c =>
        assert(c.blockNumber() == 32L)
        assert(c.blockNumberByHash(blocks(6).hash).contains(7L))
        assert(c.timestampOf(7L) == blocks(6).timestamp)
        assert(c.timestampOf(30L) == blocks(29).timestamp)
      }
      assert(FixtureChainIndex(dir).loads.get == 3L, "meta.txt, hash-index.txt, one chunk")
    }
  }

  test("a writeRawChain rewrite is seen by the next lookup, same-size files included") {
    withDir { dir =>
      val blocks = chain(32)
      EthFixtures.writeRawChain(dir, blocks, 32)
      val c = new FixtureChainClient(dir)
      assert(c.blockNumberByHash(blocks(0).hash).contains(1L))
      assert(c.timestampOf(7L) == blocks(6).timestamp)
      assert(c.blockNumber() == 32L)
      // reorg: every hash moves one block down, every timestamp shifts by
      // one second and the tip drops to 31; all three files keep their size
      val sizes = Seq("meta.txt", "hash-index.txt").map(size(dir, _))
      val reorged = blocks.indices.map(i =>
        blocks(i).copy(hash = blocks((i + 1) % 32).hash, timestamp = blocks(i).timestamp + 1))
      EthFixtures.writeRawChain(dir, reorged, 31)
      assert(Seq("meta.txt", "hash-index.txt").map(size(dir, _)) == sizes)
      assert(c.blockNumberByHash(blocks(0).hash).contains(32L))
      assert(c.blockNumberByHash(blocks(7).hash).contains(7L))
      assert(c.timestampOf(7L) == blocks(6).timestamp + 1)
      assert(c.blockNumber() == 31L)
      // the chain grows: a new tip, new hashes, new timestamps
      val grown = chain(40, EthFixtures.GenesisTs + 100000L)
      EthFixtures.writeRawChain(dir, grown, 40)
      assert(c.blockNumber() == 40L)
      assert(c.blockNumberByHash(grown(39).hash).contains(40L))
      assert(c.timestampOf(40L) == grown(39).timestamp)
      assert(new FixtureChainClient(dir).timestampOf(7L) == grown(6).timestamp)
    }
  }

  test("an unknown hash and a missing hash-index.txt both give None") {
    withDir { dir =>
      val blocks = chain(8)
      EthFixtures.writeRawChain(dir, blocks, 8)
      val c = new FixtureChainClient(dir)
      assert(c.blockNumberByHash("0x" + "0" * 64).isEmpty)
      assert(c.blockNumberByHash(blocks(2).hash).contains(3L))
      Files.delete(Paths.get(dir, "hash-index.txt"))
      assert(c.blockNumberByHash(blocks(2).hash).isEmpty)
      assert(new FixtureChainClient(dir).blockNumberByHash(blocks(2).hash).isEmpty)
    }
  }

  test("timestampOf below 1 and above the tip throws, even when the chunk holds the block") {
    withDir { dir =>
      val blocks = chain(32)
      EthFixtures.writeRawChain(dir, blocks, 20)
      val c = new FixtureChainClient(dir)
      assert(c.timestampOf(20L) == blocks(19).timestamp)
      intercept[IllegalStateException](c.timestampOf(0L))
      intercept[IllegalStateException](c.timestampOf(21L))
    }
  }

  test("a chunk whose lines are not in number order still resolves") {
    withDir { dir =>
      val blocks = chain(64)
      EthFixtures.writeRawChain(dir, new scala.util.Random(7).shuffle(blocks), 64)
      val c = new FixtureChainClient(dir)
      blocks.foreach(b => assert(c.timestampOf(b.number) == b.timestamp))
    }
  }

  test("8 threads doing concurrent lookups get identical answers") {
    withDir { dir =>
      val tip = 2100L // three chunk files, the last one partial
      EthFixtures.ensureChainOnly(dir, tip)
      val probes = (0 until 400).map(i => 1L + (i * 7919L) % tip)
      val threads = 8
      val barrier = new CyclicBarrier(threads)
      val pool = Executors.newFixedThreadPool(threads)
      val answers = try {
        pool.invokeAll(Seq.fill(threads)(new Callable[Seq[(Option[Long], Long)]] {
          def call(): Seq[(Option[Long], Long)] = {
            val c = new FixtureChainClient(dir)
            barrier.await()
            probes.map(n => (c.blockNumberByHash(EthFixtures.blockHash(n)), c.timestampOf(n)))
          }
        }).asJava).asScala.map(_.get).toSeq
      } finally pool.shutdown()
      assert(answers.distinct.size == 1)
      // the scan path parses the blocks itself: the index agrees with it
      val scan = new FixtureChainClient(dir)
      assert(answers.head == probes.map(n => (Some(n), scan.blocks(n, n, fullTx = false).next().timestamp)))
      assert(FixtureChainIndex(dir).loads.get == 5L, "meta.txt, hash-index.txt, three chunks")
    }
  }
}
