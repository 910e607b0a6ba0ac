package ethbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, expr, udaf}

import graft.functions.{KmvDistinct, TopKByScore, Web3Functions}
import graft.sources.eth.{EthClient, EthFixtures}

/** The benchmark's JVM side: one process is one run of one workload.
  *
  * Modes (the first argument):
  *  - `prepare`   generate the chain (marker-guarded) and its truth file;
  *  - `run`       set up, run the timed op sequence, write the result JSON;
  *  - `warmtrace` per-class latency of every warm round (warmup.json);
  *  - `golden`    registry result hashes (golden.json).
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def get(k: String): Option[String] = m.get(k)
  }

  final case class OpResult(cls: String, latency: Double, ok: Boolean, threw: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    argv.head match {
      case "prepare" =>
        EthFixtures.ensureChainOnly(a("chain"), Workloads.ChainBlocks)
        ChainTruth.write(ChainTruth.derive(a("chain"), Workloads.ChainBlocks),
          Paths.get(a("chain"), "truth.bin"))
      case "run" => run(a)
      case "warmtrace" => warmTrace(a)
      case "golden" => golden(a)
    }
    System.exit(0)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a("cores")}]").appName("ethbench")
      .config("spark.sql.shuffle.partitions", a("cores"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a("scratch")}/local")
      .config("spark.sql.warehouse.dir", s"${a("scratch")}/warehouse")
      .config("spark.sql.catalog.ethereum", classOf[graft.sources.eth.EthereumCatalog].getName)
      .config("spark.sql.catalog.ethereum.chain", a("chain"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    EthFixtures.ensureChainOnly(a("chain"), Workloads.ChainBlocks)
    Web3Functions.register(s, a("chain"))
    s
  }

  private def goldenHashes(a: Args): Map[String, String] =
    Json.mapper.readTree(new File(a("golden")))
      .get("hashes").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  private def workload(a: Args): Workload = {
    lazy val truth = ChainTruth.read(Paths.get(a("chain"), "truth.bin"))
    Workloads(a("workload"), truth, a("corpus"), goldenHashes(a))
  }

  /** Build, plan, execute and check one op; `mark` is called after each of
    * the first three. */
  def runOp(spark: SparkSession, op: Op, mark: () => Unit): (DataFrame, Boolean) = {
    val df = op.build(spark); mark()
    df.queryExecution.executedPlan; mark()
    val rows = df.collect(); mark()
    (df, op.check(df.schema, rows))
  }

  /** Run ops back to back (one closed-loop client). Latency covers build,
    * plan and exec; the wall time also covers the checks. */
  def pass(spark: SparkSession, ops: Seq[Op], tracer: Option[Tracer]): (Seq[OpResult], Double) = {
    val t0 = System.nanoTime()
    val res = ops.zipWithIndex.map { case (op, i) =>
      val start = System.nanoTime()
      var marks = 0; var execEnd = 0L
      val mark = () => { marks += 1; if (marks == 3) execEnd = System.nanoTime() }
      try {
        val ok = tracer match {
          case Some(t) => t.traced(i, op)(m => runOp(spark, op, () => { mark(); m() }))
          case None => runOp(spark, op, mark)._2
        }
        if (!ok) System.err.println(s"[ethbench] ${op.cls}: wrong result")
        OpResult(op.cls, (execEnd - start) / 1e9, ok, threw = false)
      } catch { case e: Exception =>
        System.err.println(s"[ethbench] ${op.cls} failed: $e")
        OpResult(op.cls, (System.nanoTime() - start) / 1e9, ok = false, threw = true)
      }
    }
    (res, (System.nanoTime() - t0) / 1e9)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Session, chain marker, catalog and UDFs, then `warm` warm rounds.
    * Returns the session and the seconds from process start until now,
    * when the first timed op starts. */
  def setUp(a: Args, w: Workload, warm: Int): (SparkSession, Double) = {
    val spark = session(a)
    (0 until warm).foreach(r => pass(spark, w.warmRound(r), None))
    (spark, (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
  }

  def run(a: Args): Unit = {
    val w = workload(a)
    val warm = a.int("warm")
    val ops = w.ops(a("seed").toLong, a.int("seconds"))
    val (spark, setupS) = setUp(a, w, warm)
    val (res, wall) = pass(spark, ops, None)
    val rss = peakRssMb()
    val lat = res.map(_.latency)
    val (tail, q) = Stats.tail(lat)
    val bad = res.count(!_.ok)
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> res.count(!_.threw) / wall,
      "latency_p50_s" -> Stats.median(lat),
      "latency_tail_s" -> tail,
      "peak_rss_mb" -> rss)
    val perClass = w.classes.map(c => c.name -> Stats.median(res.filter(_.cls == c.name).map(_.latency)))
    var layers = Map.empty[String, Double]
    var traceChecks = Seq.empty[Boolean] // the traced pass and the streaming probe are checked too
    if (a("trace") == "1") {
      val tracer = new Tracer(spark, new File(a("scratch")))
      val gc0 = gcSeconds()
      tracer.start()
      val (tres, twall) = pass(spark, ops, Some(tracer))
      tracer.stop()
      val (streamLayers, streamOk) = streamProbe(spark, a)
      traceChecks = tres.map(_.ok) :+ streamOk
      layers = tracer.layerMetrics(a.int("cores"), gcSeconds() - gc0) ++ streamLayers ++
        probes(spark, a("chain"), new Random(a("seed").toLong)) ++
        Workloads.allClassNames.map(c => s"op.$c.p50_s" -> 0.0) ++
        perClass.map { case (c, v) => s"op.$c.p50_s" -> v } +
        ("trace.overhead_frac" -> (1 - (tres.count(!_.threw) / twall) / e2e("ops_per_s")))
      a.get("trace-out").foreach(f => tracer.write(new File(f)))
    }
    val attempted = res.size + traceChecks.size
    val failed = bad + traceChecks.count(!_)
    val out = Json(Map(
      "attempted" -> attempted, "failed" -> failed, "threw" -> res.count(_.threw),
      "error_rate" -> failed.toDouble / attempted, "tail_quantile" -> q, "samples" -> res.size,
      "warm_rounds" -> warm, "e2e" -> e2e, "layers" -> layers,
      "class_p50_s" -> perClass.toMap, "class_counts" -> res.groupBy(_.cls).map { case (k, v) => k -> v.size },
      "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576))
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** One streaming drain under its own listeners: the `streaming.*` layer
    * metrics, whatever the workload's timed ops are, and whether the drained
    * result matches its stored hash. */
  def streamProbe(spark: SparkSession, a: Args): (Map[String, Double], Boolean) = {
    val tracer = new Tracer(spark, new File(a("scratch")))
    tracer.start()
    val df = graft.SparkEntry.queries(Workloads.StreamProbe)(spark, a("corpus"))
    val rows = df.collect()
    tracer.stop()
    val ok = goldenHashes(a).get(Workloads.StreamProbe).contains(Workloads.resultHash(df.schema, rows))
    if (!ok) System.err.println(s"[ethbench] ${Workloads.StreamProbe} probe: wrong result")
    (tracer.layerMetrics(a.int("cores"), 0.0).filter(_._1.startsWith("streaming.")), ok)
  }

  private def timeMedian(n: Int)(f: => Unit): Double =
    Stats.median((1 to n).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })

  /** Single-layer probes: the chain client on its own thread, and the
    * aggregators and UDFs of `graft.functions` over fixed inputs. */
  def probes(spark: SparkSession, chain: String, rng: Random): Map[String, Double] = {
    import spark.implicits._
    def block(): Long = 1L + rng.nextInt(Workloads.ChainBlocks)
    val hash = timeMedian(5)(EthClient.forChain(chain).blockNumberByHash(EthFixtures.blockHash(block())))
    val client = EthClient.forChain(chain)
    client.timestampOf(1)
    val probe = timeMedian(21)(client.timestampOf(block()))
    val parse = timeMedian(3) { val lo = block() min (Workloads.ChainBlocks - 1023L); client.blocks(lo, lo + 1023).size }
    val kmvRows = 2000000L
    val kmv = udaf(new KmvDistinct(256), Encoders.scalaLong)
    val kmvS = timeMedian(3)(spark.range(kmvRows)
      .select(kmv(expr("xxhash64(id) & 1152921504606846975"))).collect())
    val topkRows = 1000000L
    val pairs = spark.range(topkRows).select(expr("cast(xxhash64(id) % 100000 as double)"), col("id"))
      .as[(Double, Long)]
    val topkS = timeMedian(3)(pairs.groupByKey(_._2 % 64).agg(new TopKByScore(16).toColumn).collect())
    val web3Rows = 500000L
    val txs = spark.range(web3Rows).selectExpr("cast(id * 1e12 as double) AS v",
      "element_at(array(" + EthFixtures.addrPool.take(32).map(x => s"'$x'").mkString(",") + "), cast(id % 32 + 1 as int)) AS a")
    val web3S = timeMedian(3)(txs.selectExpr("fromWei(v, 'ether') AS e", "isContract(a) AS c")
      .selectExpr("sum(e)", "count_if(c)").collect())
    Map(
      "eth.client.hash_lookup_s" -> hash,
      "eth.client.timestamp_probe_s" -> probe,
      "eth.client.parse_blocks_per_s" -> 1024 / parse,
      "functions.kmv_rows_per_s" -> kmvRows / kmvS,
      "functions.topk_rows_per_s" -> topkRows / topkS,
      "functions.web3_rows_per_s" -> web3Rows / web3S)
  }

  /** Latency of every class in each of `rounds` warm rounds on one session. */
  def warmTrace(a: Args): Unit = {
    val w = workload(a)
    val spark = session(a)
    val rounds = (0 until a.int("rounds")).map { r =>
      val (res, _) = pass(spark, w.warmRound(r), None)
      res.map(x => x.cls -> x.latency).toMap
    }
    val byClass = w.classes.map(c => c.name -> rounds.map(_(c.name))).toMap
    Files.write(Paths.get(a("out")), Json(byClass).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Result hash of each registry class, computed twice to show it is stable. */
  def golden(a: Args): Unit = {
    val spark = session(a)
    val hashes = (Workloads.RegistryClasses.map(_._1) :+ Workloads.StreamProbe).map { q =>
      val hs = (1 to 2).map { _ =>
        val df = graft.SparkEntry.queries(q)(spark, a("corpus"))
        val rows = df.collect()
        (Workloads.resultHash(df.schema, rows), rows.length)
      }
      require(hs.distinct.size == 1, s"$q: unstable result hash ${hs.mkString(", ")}")
      q -> hs.head
    }
    Files.write(Paths.get(a("out")), Json(Map(
      "hashes" -> hashes.map { case (q, (h, _)) => q -> h }.toMap,
      "rows" -> hashes.map { case (q, (_, n)) => q -> n }.toMap)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
