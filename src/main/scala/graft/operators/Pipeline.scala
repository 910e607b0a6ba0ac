package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** End-to-end training-data curation pipeline over `documents`: quality
  * filter → exact dedup → near-dup removal → partitioned parquet write.
  * This is the write path of the engine (the reference is read-only; a
  * data pipeline is not).
  *
  * Scale notes: every stage before the write is map-side or digest-shuffle
  * only (quality scoring is codegen'd expressions; exact dedup shuffles
  * 16-byte digests; near-dup removal joins only LSH-candidate pairs); the
  * write partitions by `lang` so downstream per-language consumers prune
  * at the directory level, and `maxRecordsPerFile` bounds file sizes.
  */
object Pipeline {

  /** One-scan sketch base: everything the curation stages consume —
    * quality signal, exact-dup digest, minhash signature, plus the output
    * stat columns — computed in a SINGLE pass over `documents` and
    * persisted sketch-sized (no text column in the cache). The quality
    * filter, exact keepers, and near-dup losers all read this frame, where
    * they previously ran three independent corpus scans. */
  private def curationBase(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextAnalysis.withQualitySignals(documents(s, d))
      .select($"doc_id", $"lang", length($"text").cast("long").as("text_len"),
              $"quality",
              md5(TextAnalysis.canonical($"text")).as("text_key"),
              Dedup.minhashSignature($"text").as("sig"))
  }

  /** Survivor doc_ids + stats columns, and the cleanup that releases the
    * shared base cache (call after the downstream result materializes). */
  private def survivors(s: SparkSession, d: String, minQuality: Double,
      nearDupThreshold: Double): (DataFrame, () => Unit) = {
    import s.implicits._
    val base = graft.plans.Caching.iterCheckpoint(curationBase(s, d))
    val keepers = base.groupBy($"text_key").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val losers = Dedup.minhashPairsFrom(base.select($"doc_id", $"sig"), nearDupThreshold)
      .select($"doc_b".as("doc_id")).distinct()
    val out = base.filter($"quality" >= minQuality)
      .select($"doc_id", $"lang", $"text_len")
      .join(keepers, "doc_id")
      .join(losers, Seq("doc_id"), "left_anti")
    (out, () => graft.plans.Caching.freeCheckpoint(base))
  }

  /** The surviving, curated corpus (before writing). Keeps the lowest
    * doc_id of every near-duplicate cluster.
    *
    * The survivor id list is materialized through [[Caching.detach]]
    * BEFORE joining back to `documents`, so the shared sketch base is
    * released as soon as the ids exist — nothing this entry point pins
    * outlives the call (the round-3 ADVICE leak: returning a lazy frame
    * over the persisted base kept it cached for the session's lifetime).
    * Survivor lists small enough for the driver become a local relation
    * (and broadcast-join back); larger ones keep only the one-column id
    * frame persisted, O(ids) residual instead of O(sketch base). */
  def curated(s: SparkSession, d: String,
      minQuality: Double = 0.4, nearDupThreshold: Double = 0.8): DataFrame = {
    import s.implicits._
    val (ids, free) = survivors(s, d, minQuality, nearDupThreshold)
    val detachedIds = graft.plans.Caching.detach(ids.select($"doc_id"), free)
    documents(s, d).join(detachedIds, "doc_id")
  }

  /** Run the pipeline and write the curated corpus partitioned by lang;
    * returns per-language output stats. */
  def curateAndWrite(s: SparkSession, d: String, outDir: String): DataFrame = {
    import s.implicits._
    val (ids, free) = survivors(s, d, 0.4, 0.8)
    documents(s, d).join(ids.select($"doc_id"), "doc_id")
      .write.mode("overwrite")
      .partitionBy("lang")
      .option("maxRecordsPerFile", 1000000)
      .parquet(outDir)
    free()
    s.read.parquet(outDir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum(length($"text")).as("total_chars"))
      .orderBy($"lang")
  }

  /** Query-registry entry: stats of the curated corpus (write-free variant
    * so Verify/Bench don't leave output dirs around). Stats come straight
    * off the sketch base — no second corpus scan at all. */
  def curationStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (ids, free) = survivors(s, d, 0.4, 0.8)
    val stats = ids
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"text_len").as("total_chars"))
      .orderBy($"lang")
    graft.plans.Caching.detach(stats, free)
  }

  /** END-TO-END CURATION RUN (nd_pipeline_e2e) — the round-12 verdict's
    * composition gate: every stage of a production training-data pipeline
    * chained into ONE invocation, each stage consuming the previous
    * stage's SURVIVORS, emitting the per-stage survival manifest
    * `(stage, stage_name, n_in, n_out)` that a data-quality dashboard
    * alarms on. The stages are the individually-gated operators, applied
    * in the order a CCNet/RefinedWeb pipeline runs them:
    *
    *   1. extract       — HTML→prose ([[TextAnalysis.extractionBase]]);
    *                      drop docs whose every line is boilerplate
    *   2. gopher        — the rule battery over the EXTRACTED text
    *   3. exact_dedup   — md5(canonical) keep-min-id
    *   4. minhash_dedup — banded LSH pairs at 0.5 among survivors, drop
    *                      the higher id of each pair
    *   5. semdedup      — drop docs whose embedding (vec_id = doc_id; docs
    *                      without a vector pass through) is a semantic dup
    *   6. decontaminate — Bloom filter of the eval slice's (doc_id%10=0,
    *                      over EXTRACTED text) shingles; drop eval docs
    *                      themselves and any train doc with ≥3 hits
    *   7. dsir          — importance weights trained on the survivors,
    *                      keep positive-log-weight docs
    *   8. mixture       — α=.5 temperature flattening by language
    *   9. pack          — 2048-token packing; n_out = sequences produced
    *  10. shard         — md5-fold sharding; n_out = shards produced
    *
    * What is being PROVEN (beyond each stage's own row): the composition —
    * survivor hand-off, cache/detach discipline across stage boundaries,
    * and that a mid-chain stage (dsir, mixture) trained on the SURVIVING
    * distribution rather than the raw corpus replays exactly. The oracle
    * chains every stage as MATERIALIZED CTEs and recomputes the whole
    * pipeline value-for-value.
    *
    * Scale/caching shape: each stage's survivor frame crosses the stage
    * boundary through [[graft.plans.Caching.iterCheckpoint]] — an EAGER
    * lineage cut, not a plain persist. A persist alone is not enough
    * here: the logical plan of stage k still nests stage k−1's full
    * subtree (twice, when a stage both trains on and filters its input),
    * so by stage 9 the PLAN TEXT alone is exponential and AQE's
    * explainString OOMs the driver before a single row moves (measured:
    * 16 GB heap, sf0.01). With the cut, every stage plans against a flat
    * LogicalRDD root. Every checkpoint is released before returning —
    * the PipelineSpec e2e test asserts zero cached RDDs after the run.
    * Counts are driver longs; the result is a 10-row local relation. */
  def curationE2E(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = graft.plans.Caching.iterCheckpoint(df)
      pinned += p; p
    }
    // per-stage wall-clock to stderr (the k-core round-print discipline):
    // a ten-stage chain that regresses should say WHICH stage did
    var lapT = System.nanoTime()
    def lap(stage: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[graft] e2e $stage%-14s ${(now - lapT) / 1e9}%6.2fs")
      lapT = now
    }
    try {
      val raw = documents(s, d).select($"doc_id", $"lang", $"source", $"text")
      // 1: extract (ext keeps ALL docs — the eval slice of stage 6 needs
      // extracted text for docs regardless of survivorship)
      val ext = pin(TextAnalysis.extractionBase(raw)
        .select($"doc_id", $"lang", $"source",
                $"extracted".as("text"), $"n_lines_kept"))
      // extraction is a per-row map (extractionBase keeps every doc), so
      // the raw-corpus count IS the extracted frame's count — read it off
      // the checkpoint instead of a separate full scan of the raw table
      val n0 = ext.count()
      lap("extract")
      val s1 = pin(ext.filter($"n_lines_kept" >= 1L)
        .select($"doc_id", $"lang", $"source", $"text"))
      val n1 = s1.count()
      lap("filter")
      // 2: gopher over extracted text
      val s2 = pin(s1.join(
        TextAnalysis.gopherFrom(s1).filter($"keep").select($"doc_id"), "doc_id"))
      val n2 = s2.count()
      lap("gopher")
      // 3: exact dedup
      val keepers = s2.groupBy(md5(TextAnalysis.canonical($"text")).as("k"))
        .agg(min($"doc_id").as("doc_id")).select($"doc_id")
      val s3 = pin(s2.join(keepers, "doc_id"))
      val n3 = s3.count()
      lap("exact_dedup")
      // 4: minhash near-dup removal among survivors
      val losers = Dedup.minhashPairsFrom(
          s3.select($"doc_id", Dedup.minhashSignature($"text").as("sig")), 0.5)
        .select($"doc_b".as("doc_id")).distinct()
      val s4 = pin(s3.join(losers, Seq("doc_id"), "left_anti"))
      val n4 = s4.count()
      lap("minhash")
      // 5: semantic dedup — embedding-keyed; docs without a vector pass.
      // Only the DROP SET is consumed here, so the lean factored entry
      // skips the full manifest's keep-flag join + corpus sort + detach
      // (identical id set by construction — Semantic.semanticDupIdsFrom)
      val semDrop = Semantic.semanticDropIds(s, d)
        .select($"vec_id".as("doc_id"))
      val s5 = pin(s4.join(semDrop, Seq("doc_id"), "left_anti"))
      val n5 = s5.count()
      lap("semdedup")
      // 6: decontaminate — Bloom of the eval slice's extracted shingles
      val mBits = 131072; val kHashes = 4
      val mask = Dedup.bloomMask(
        ext.filter($"doc_id" % 10 === 0)
          .select($"doc_id", Dedup.shingleHashes($"text").as("sh")),
        mBits, kHashes)
      val contaminated = Dedup.bloomHits(
          s5.filter($"doc_id" % 10 =!= 0)
            .select($"doc_id", Dedup.shingleHashes($"text").as("sh")),
          mask, mBits, kHashes)
        .filter($"n_hits" >= 3L).select($"train_id".as("doc_id"))
      val s6 = pin(s5.filter($"doc_id" % 10 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti"))
      val n6 = s6.count()
      lap("decontaminate")
      // 7: DSIR trained on the surviving distribution. Target = the
      // quality>=0.8 slice (~top 30% at this stage — the raw corpus's 0.5
      // threshold is degenerate HERE because gopher already removed
      // everything below it, and target==corpus makes every bucket's
      // log-ratio exactly 0). Selection is importance RESAMPLING under a
      // half-budget — keep the top ntile(2) tile by (weight, doc_id) via
      // the scalable two-phase ntile — not the standalone row's logw>0
      // flag, which is a sign test against the corpus average and can
      // legitimately select nothing on an already-curated distribution
      val (dsirScored, freeDsir) = dsirWeightsFrom(s6, 1024, 0.8)
      val (halves, freeNtile) = graft.plans.ScalableNtile.ntileDetachable(
        dsirScored.select($"doc_id", $"dsir_logw_micro"), 2,
        Seq($"dsir_logw_micro", $"doc_id"), bucketCol = "half")
      val sel = halves.filter($"half" === 2).select($"doc_id")
      val s7 = pin(s6.join(sel, "doc_id"))
      val n7 = s7.count()
      freeDsir(); freeNtile()
      lap("dsir")
      // 8: temperature mixture over survivors
      val s8 = pin(mixtureKept(s7, mixtureRates(s7, 0.5))
        .select($"doc_id", $"lang", $"source", $"text"))
      val n8 = s8.count()
      lap("mixture")
      // 9/10: pack + shard the curated corpus (manifest sizes)
      val n9 = packFrom(s8, 2048L).count()
      lap("pack")
      val n10 = shardFrom(s8, 8).count()
      lap("shard")
      Seq(
        (1L, "extract", n0, n1), (2L, "gopher", n1, n2),
        (3L, "exact_dedup", n2, n3), (4L, "minhash_dedup", n3, n4),
        (5L, "semdedup", n4, n5), (6L, "decontaminate", n5, n6),
        (7L, "dsir", n6, n7), (8L, "mixture", n7, n8),
        (9L, "pack", n8, n9), (10L, "shard", n8, n10))
        .toDF("stage", "stage_name", "n_in", "n_out")
        .orderBy($"stage")
    } finally pinned.foreach(graft.plans.Caching.freeCheckpoint)
  }

  /** Stratified sampling by quality decile — the data-mixing stage of a
    * training pipeline: rank the corpus by quality (scale-safe global
    * ntile, no single-partition sort), then keep a per-decile fraction via
    * reproducible key-hash sampling (decile d keeps d·10%, so higher
    * quality is over-represented). Every stage is deterministic and
    * oracle-replayable: quality formula, two-phase ntile, md5-fold
    * sampling. */
  def stratifiedByQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val quality = TextAnalysis.qualityScore(s, d).select($"doc_id", $"quality")
    val (binned, freeNtile) = graft.plans.ScalableNtile.ntileDetachable(
      quality, 10, Seq($"quality", $"doc_id"), bucketCol = "decile")
    val kept = binned.withColumn("keep",
      conv(substring(md5(concat_ws("|", lit("strat"), $"doc_id")), 1, 7), 16, 10)
        .cast("long") % 100 < $"decile" * 10)
    val agg = kept.groupBy($"decile")
      .agg(count(lit(1)).as("n_total"),
           sum(when($"keep", 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"decile")
    graft.plans.Caching.detach(agg, freeNtile)
  }

  /** Sequence PACKING — the last step before tokenized training data hits
    * the trainer: concatenate documents (in a deterministic order) and cut
    * the stream into fixed token-budget training sequences. Each doc's
    * sequence id is `floor(start_offset / budget)` where `start_offset`
    * is the exclusive global running total of token counts — the
    * contiguous-packing assignment.
    *
    * The global running total is the scale hazard: `sum() OVER (ORDER BY
    * ...)` plans a single-partition window. This uses
    * [[graft.plans.ScalableNtile.runningTotal]] — per-range prefix sums
    * plus a P-row offset broadcast, the same two-phase decomposition as
    * the scalable ntile — so the plan never funnels. Output: per-sequence
    * doc counts and token totals (the write path would partition by
    * `seq_id` bucket instead of aggregating). */
  def packSequences(s: SparkSession, d: String, budget: Long = 2048L): DataFrame =
    packFrom(documents(s, d), budget)

  /** Packing over any (doc_id, text) frame — factored for the end-to-end
    * chain (pack the CURATED corpus, not the raw one). */
  private[operators] def packFrom(docs: DataFrame, budget: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // deliberately NOT lineage-cut: the token projection is a map over
    // the scan, and the r14 probe measured the checkpoint+detach overhead
    // costing MORE than the running total's four cheap recomputes of it
    // (0.57s → 0.84s at sf0.1) — the cut only pays when the input lineage
    // is expensive (windows, joins, quality pipelines)
    val toks = docs
      .select($"doc_id", size(TextAnalysis.wsTokens($"text")).cast("long").as("n_tokens"))
    graft.plans.ScalableNtile.runningTotal(toks, $"n_tokens", Seq($"doc_id"), "cum_tokens")
      .withColumn("seq_id", expr(s"CAST((cum_tokens - n_tokens) div $budget AS BIGINT)"))
      .groupBy($"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"))
      .orderBy($"seq_id")
  }

  /** Temperature-flattened language MIXING — the multi-source sampling
    * step of a training mix: low-resource languages keep a higher fraction
    * so the mix is flatter than the raw corpus. Keep rate per language is
    * `min(1, targetFraction · sqrt(n_max / n_l))` — the α = 0.5
    * temperature schedule expressed through `sqrt`, which IEEE-754
    * guarantees correctly rounded (a general `pow` is libm-dependent and
    * would not replay bit-for-bit across engines). Rows are kept by the
    * same reproducible md5-fold key hashing as q36/stratified sampling —
    * stable across runs, engines and cluster layouts.
    *
    * Scale shape: language counts are one metadata aggregate, rates
    * broadcast back, the keep filter is map-side — one corpus pass plus a
    * group-count shuffle of kept rows. */
  def temperatureMixture(s: SparkSession, d: String,
      targetFraction: Double = 0.5): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val rates = mixtureRates(docs, targetFraction)
    mixtureKept(docs, rates)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"))
      .join(broadcast(rates), "lang")
      .select($"lang", $"n_total", $"n_kept", $"rate")
      .orderBy($"lang")
  }

  /** Per-language keep rates of the α=0.5 temperature schedule — factored
    * so the end-to-end chain can apply the identical gate to its
    * surviving corpus. */
  private[operators] def mixtureRates(docs: DataFrame,
      targetFraction: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_total"))
    counts
      .crossJoin(broadcast(counts.agg(max($"n_total").as("nmax"))))
      .withColumn("rate", least(lit(1.0),
        lit(targetFraction) * sqrt($"nmax".cast("double") / $"n_total".cast("double"))))
      .select($"lang", $"n_total", $"rate")
  }

  /** The md5-fold mixture gate: the rows of `docs` kept under `rates`. */
  private[operators] def mixtureKept(docs: DataFrame,
      rates: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.join(broadcast(rates.select("lang", "rate")), "lang")
      .filter(conv(substring(md5(concat_ws("|", lit("mix"), $"doc_id")), 1, 7), 16, 10)
        .cast("long") % 1000000L < floor($"rate" * 1000000.0).cast("long"))
      .drop("rate")
  }

  /** Deterministic WEIGHTED sampling without replacement (A-ES /
    * Efraimidis–Spirakis): item i wins with probability proportional to
    * its weight by ranking on `u_i^(1/w_i)` for uniform `u_i` — here the
    * length-weighted pick a curation pipeline uses to fill a byte budget.
    * Everything that decides the sample is EXACT INTEGER: `u` is a 6-digit
    * md5-fold uniform in [1, 999999] (reproducible across runs, engines
    * and layouts — the q36/mixture discipline), its ln quantizes ONCE to
    * micro-nats, and the rank key is the positive integer division
    * `(−ln u)·1e6 div n_chars` — smallest keys win, ties break on doc_id.
    * Truncating and floor division agree because the dividend is made
    * positive first (Spark `div` truncates toward zero, DuckDB `//`
    * floors — they differ on negatives; this is load-bearing).
    *
    * Scale shape: key computation is map-side expression work; the top-k
    * is a TakeOrderedAndProject (per-partition heaps + driver merge of
    * k·P rows), never a global sort. */
  def weightedSample(s: SparkSession, d: String, k: Int = 64): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", $"n_chars",
        (conv(substring(md5(concat_ws("|", lit("wrs"), $"doc_id")), 1, 7), 16, 10)
          .cast("long") % 999999L + 1L).as("u_micro"))
      .withColumn("priority",
        expr("(-CAST(round(ln(u_micro / 1000000.0) * 1000000.0) AS BIGINT)" +
             " * 1000000) div n_chars"))
      .orderBy($"priority", $"doc_id")
      .limit(k)
      .select($"doc_id", $"n_chars", $"u_micro", $"priority")
  }

  /** Deterministic output SHARDING — the final write stage of a training
    * pipeline: every document lands in `shard = md5-fold("shard"|doc_id)
    * mod nShards`, a placement that is reproducible across runs, engines
    * and cluster layouts (unlike `hash()`-based partitioning, whose seed
    * is engine-internal). The query reports the shard manifest — doc
    * count, token total and id range per shard — which is also the
    * balance check: a uniform key hash keeps every shard within a few
    * percent of corpus/nShards, so downstream trainers stream equal-sized
    * inputs. [[shardedWrite]] applies the same assignment physically.
    *
    * Scale shape: the assignment is one map-side expression; the manifest
    * is a partial-aggregated shuffle of nShards rows. */
  def shardManifest(s: SparkSession, d: String, nShards: Int = 8): DataFrame =
    shardFrom(documents(s, d), nShards)

  /** Shard manifest over any (doc_id, text) frame — factored for the
    * end-to-end chain. */
  private[operators] def shardFrom(docs: DataFrame, nShards: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", size(TextAnalysis.wsTokens($"text")).cast("long").as("n_tokens"))
      .withColumn("shard",
        conv(substring(md5(concat_ws("|", lit("shard"), $"doc_id")), 1, 7), 16, 10)
          .cast("long") % nShards)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens").as("total_tokens"),
           min($"doc_id").as("min_doc"),
           max($"doc_id").as("max_doc"))
      .orderBy($"shard")
  }

  /** Deterministic EPOCH SHUFFLE — the trainer-feed stage that gives every
    * document a fresh pseudo-random visit order per training epoch,
    * reproducibly: `position` of a doc in epoch `e` is its rank under the
    * md5-fold key `fold60(md5("epoch|e|doc_id"))` — a pure function of
    * (epoch, doc_id), so any engine, re-run or cluster layout derives the
    * identical permutation (and the oracle replays it value-for-value).
    *
    * The rank is computed WITHOUT a global sort: one
    * [[graft.plans.ScalableNtile.runningTotal]] pass over (epoch, key)
    * order — deterministic range ids from literal boundaries, per-range
    * `row_number`, and a P-row offset broadcast. Each epoch occupies an
    * exact `n`-row stripe of the global rank, so the within-epoch position
    * is `grank - epoch*n` — closed form, no per-epoch repartition. The
    * single `count()` is driver metadata of the same class as the
    * boundary sample. */
  def epochShuffle(s: SparkSession, d: String, epochs: Int = 3): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select($"doc_id")
    val n = docs.count()
    val keyed = docs
      .select($"doc_id", explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("skey",
        graft.functions.Expressions.md5Fold60(concat_ws("|", lit("epoch"), $"epoch", $"doc_id")))
    graft.plans.ScalableNtile.runningTotal(keyed, lit(1L),
        Seq(col("epoch"), col("skey"), col("doc_id")), "grank")
      .select($"epoch".cast("long").as("epoch"),
              ($"grank" - $"epoch" * n).as("pos"), $"doc_id")
      .orderBy($"epoch", $"pos")
  }

  /** Physically write the corpus under the [[shardManifest]] assignment:
    * one directory per shard (`shard=K/`), each written by its own task
    * set after an explicit repartition on the shard key — directory-level
    * pruning for consumers that read a shard slice. */
  def shardedWrite(s: SparkSession, d: String, outDir: String,
      nShards: Int = 8): Unit = {
    import s.implicits._
    documents(s, d)
      .withColumn("shard",
        conv(substring(md5(concat_ws("|", lit("shard"), $"doc_id")), 1, 7), 16, 10)
          .cast("long") % nShards)
      .repartition($"shard")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Document CHUNKING — the stage before embedding generation: split
    * each document into fixed-size token windows with overlap (the
    * standard RAG/encoder prep). Pure map-side array expressions — the
    * token array is built once per doc and `slice`d per chunk; no shuffle
    * except the presentation sort. Chunk identity is the md5 of the
    * chunk's joined tokens, so downstream stages can dedup or join chunks
    * without carrying text.
    *
    * `n_chunks = max(1, ceil((n_tokens - overlap) / step))`, chunk i
    * covering tokens `[i·step, i·step + size)` — every token is covered,
    * consecutive chunks share `overlap` tokens, and even an empty doc
    * yields one (empty) chunk so provenance never drops a document. */
  def chunkDocuments(s: SparkSession, d: String, size: Int = 32,
      overlap: Int = 8): DataFrame = {
    import s.implicits._
    chunkedCore(s, d, size, overlap).orderBy($"doc_id", $"chunk_id")
  }

  /** Unordered chunk stream `(doc_id, chunk_id, chunk_tokens, chunk_key)` —
    * the map-side core of [[chunkDocuments]], shared with
    * [[chunkBoilerplate]] so consumers that aggregate anyway don't inherit
    * a presentation sort. */
  private[operators] def chunkedCore(s: SparkSession, d: String, size: Int,
      overlap: Int): DataFrame = {
    import s.implicits._
    val step = size - overlap
    documents(s, d)
      .select($"doc_id", TextAnalysis.wsTokens(TextAnalysis.canonical($"text")).as("w"))
      .select($"doc_id", $"w",
        greatest(floor((org.apache.spark.sql.functions.size($"w") - overlap + (step - 1))
          / step.toDouble), lit(1.0)).cast("long").as("n_chunks"))
      .select($"doc_id", $"w",
        posexplode(sequence(lit(0L), $"n_chunks" - 1L)).as(Seq("pos", "chunk_id")))
      .select($"doc_id", $"chunk_id",
        slice($"w", ($"chunk_id" * step + 1).cast("int"), lit(size)).as("cw"))
      .select($"doc_id", $"chunk_id",
        org.apache.spark.sql.functions.size($"cw").cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", $"cw")).as("chunk_key"))
  }

  /** Chunk-level BOILERPLATE removal — the within-source repeated-segment
    * filter of web-corpus pipelines (the line-dedup stage of CCNet /
    * RefinedWeb, expressed over deterministic token windows because the
    * synthetic corpus has no newline structure): a chunk whose exact token
    * window appears in ≥ `minDocs` DISTINCT documents of the SAME source
    * is boilerplate (navigation, headers, license blurbs); the apply stage
    * reports, per document, how much of it survives.
    *
    * Scale shape: chunk hashing is map-side (one corpus pass); boilerplate
    * detection is one partial-aggregated count shuffle of `(source,
    * 32-byte key)` rows — never text; the apply join is on the same keys,
    * so AQE can broadcast the (small) boilerplate set. The chunk frame is
    * persisted sketch-sized across its two consumers and freed via
    * [[graft.plans.Caching.detach]].
    */
  /** Pre-materialization pipeline + cache release — exposed for plan
    * inspection; callers use [[chunkBoilerplate]]. */
  private[graft] def chunkBoilerplateLazy(s: SparkSession, d: String,
      size: Int, minDocs: Int): (DataFrame, () => Unit) = {
    import s.implicits._
    val chunks = graft.plans.Caching.iterCheckpoint(chunkedCore(s, d, size, 0)
      .join(documents(s, d).select($"doc_id", $"source"), "doc_id")
      .select($"doc_id", $"source", $"chunk_tokens", $"chunk_key"))
    val boiler = chunks.groupBy($"source", $"chunk_key")
      .agg(countDistinct($"doc_id").as("n_docs_with"))
      .filter($"n_docs_with" >= minDocs)
      .select($"source", $"chunk_key", lit(1L).as("is_boiler"))
    val out = chunks.join(boiler, Seq("source", "chunk_key"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum(coalesce($"is_boiler", lit(0L))).as("n_boiler"),
           sum(when($"is_boiler".isNull, $"chunk_tokens").otherwise(0L)).as("kept_tokens"))
      // one IEEE division of two small longs — bit-identical across
      // engines without the (unsafe, see qualityScore) round(x, 4)
      .withColumn("boiler_frac", $"n_boiler" / $"n_chunks")
      .orderBy($"doc_id")
    (out, () => graft.plans.Caching.freeCheckpoint(chunks))
  }

  def chunkBoilerplate(s: SparkSession, d: String, size: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val (out, free) = chunkBoilerplateLazy(s, d, size, minDocs)
    graft.plans.Caching.detach(out, free)
  }

  /** DSIR-style importance weighting (Xie et al. 2302.03169: Data
    * Selection via Importance Resampling) — score every document by how
    * much its hashed-unigram distribution looks like a TARGET corpus
    * (here: the quality-filter keepers, `quality >= 0.5`) versus the raw
    * corpus. Weight = Σ_tokens log( p_target(bucket) / p_raw(bucket) )
    * with add-one smoothing over `buckets` hashed features — the
    * importance log-weight used to resample a 100 TB crawl toward a
    * curated distribution.
    *
    * Determinism: bucket = md5-fold of the token (replayable in SQL);
    * each bucket's log-ratio is quantized ONCE to integer micro-nats
    * (round(lr·1e6)), so the per-document score is an exact integer sum —
    * no float accumulation order anywhere. The ratio feeding the single
    * `log` is one exact-integer-product division (products stay < 2^53
    * at test scale; a petabyte-scale run would switch to the
    * two-log-difference form and tolerate last-ulp drift).
    *
    * Scale shape: one corpus pass builds the compact `(doc_id, is_target,
    * bucket)` stream (persisted across the two consumers like the trigram
    * LM — at true corpus scale you would instead re-stream the scan);
    * the model is `buckets` rows broadcast; scoring is a map-side
    * broadcast join plus a partially-aggregated per-doc sum. */
  /** Pre-materialization pipeline + cache release — exposed for plan
    * inspection; callers use [[dsirWeights]]. */
  private[graft] def dsirWeightsLazy(s: SparkSession, d: String, buckets: Int,
      qualityThreshold: Double): (DataFrame, () => Unit) =
    dsirWeightsFrom(documents(s, d), buckets, qualityThreshold)

  /** DSIR over any (doc_id, text) frame — factored for the end-to-end
    * curation chain (importance model trained on the SURVIVING corpus). */
  private[operators] def dsirWeightsFrom(docs: DataFrame, buckets: Int,
      qualityThreshold: Double): (DataFrame, () => Unit) = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = graft.plans.Caching.iterCheckpoint(TextAnalysis.withQualitySignals(docs)
      .select($"doc_id", ($"quality" >= qualityThreshold).as("is_target"),
        explode(TextAnalysis.wsTokens(TextAnalysis.canonical($"text"))).as("tok"))
      .select($"doc_id", $"is_target",
        (conv(substring(md5(concat_ws("|", lit("dsir"), $"tok")), 1, 7), 16, 10)
          .cast("long") % buckets).as("b")))
    val counts = toks.groupBy($"b")
      .agg(count(lit(1)).as("c_raw"),
           sum(when($"is_target", 1L).otherwise(0L)).as("c_tgt"))
    val totals = toks
      .agg(count(lit(1)).as("n_raw"),
           sum(when($"is_target", 1L).otherwise(0L)).as("n_tgt"))
    val model = counts.crossJoin(broadcast(totals))
      .select($"b",
        round(log((($"c_tgt" + 1L) * ($"n_raw" + buckets)).cast("double") /
                  (($"c_raw" + 1L) * ($"n_tgt" + buckets)).cast("double")) * 1e6)
          .cast("long").as("lrq"))
    val scored = toks.join(broadcast(model), Seq("b"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"lrq").as("dsir_logw_micro"))
      .withColumn("selected", $"dsir_logw_micro" > 0L)
      .orderBy($"doc_id")
    (scored, () => graft.plans.Caching.freeCheckpoint(toks))
  }

  def dsirWeights(s: SparkSession, d: String, buckets: Int = 1024,
      qualityThreshold: Double = 0.5): DataFrame = {
    val (scored, free) = dsirWeightsLazy(s, d, buckets, qualityThreshold)
    graft.plans.Caching.detach(scored, free)
  }

  /** CCNet-style perplexity bucketing — the classic LM-quality split of a
    * web corpus into head / middle / tail terciles (Wenzek et al., CCNet,
    * arXiv:1911.00359): score every document with the corpus-trained
    * trigram LM ([[TextAnalysis.trigramLmScoreLazy]] — higher mean
    * log-frequency = more typical = "lower perplexity"), then cut the
    * GLOBAL score order into three equal tiles. The tercile cut uses
    * [[graft.plans.ScalableNtile]] (two-phase exact ntile, per-range
    * window state + P-row offset broadcast), because `ntile(3) OVER
    * (ORDER BY score)` would funnel the corpus through one task. Head =
    * top tercile. At 100 TB: the LM model broadcasts (V rows), scoring is
    * one map pass, and the tercile assignment shuffles each doc once into
    * its score range. */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (scored, freeLm) = TextAnalysis.trigramLmScoreLazy(s, d, 5000)
    val (tiled, freeNtile) = graft.plans.ScalableNtile.ntileDetachable(
      scored.select($"doc_id", $"lm_score"), 3,
      Seq($"lm_score", $"doc_id"), bucketCol = "tile")
    val out = tiled
      .withColumn("ppl_bucket",
        when($"tile" === 3, "head").when($"tile" === 2, "middle").otherwise("tail"))
      .select($"doc_id", $"lm_score", $"ppl_bucket")
      .orderBy($"doc_id")
    graft.plans.Caching.detach(out, () => { freeLm(); freeNtile() })
  }

  /** MERGE-INTO (upsert) for corpus refresh — the copy-on-write update
    * shape of a lakehouse table: rows of `base` whose key appears in
    * `updates` are replaced, unmatched `updates` rows are inserted,
    * everything else passes through. One anti-join on the key plus a
    * union — the exact plan a Delta/Iceberg MERGE compiles to for
    * whole-row updates; at 100 TB the anti-join shuffles keys and the
    * untouched partition files would be rewritten only where matched.
    *
    * PRECONDITION: `updates` must be unique on `key` — Delta/Iceberg MERGE
    * raises "multiple source rows matched" when it isn't. As a guard the
    * batch is passed through dropDuplicates(key) so the merged output can
    * never carry two rows per key; which duplicate survives is arbitrary
    * (as with any unordered dedup), so callers wanting a specific winner
    * must resolve duplicates themselves before calling. */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val uniq = updates.dropDuplicates(key)
    base.join(uniq.select(key), Seq(key), "left_anti").unionByName(uniq)
  }

  /** Oracle-paired refresh manifest: a deterministic update batch (every
    * doc_id % 7 == 0 re-edited via canonical-case text, plus new docs at
    * id + 1000000 for doc_id % 11 == 0) merged into `documents`; reports
    * per-source row counts and char mass, with updated/inserted splits. */
  def upsertManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = documents(s, d).select($"doc_id", $"source", $"text")
    val edits = base.filter($"doc_id" % 7 === 0)
      .select($"doc_id", $"source", upper($"text").as("text"))
    val inserts = base.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"source", $"text")
    val merged = upsert(base, edits.unionByName(inserts), "doc_id")
    upsertSummary(merged)
  }

  /** The upsert manifest aggregate. `n_upper` counts rows whose text IS
    * its own upper-casing — the column that makes the manifest sensitive
    * to the UPDATE half of the merge: n_updated/total_chars are invariant
    * to whether the edit batch actually replaced the base rows (the
    * eligible ids exist either way and upper() preserves length), so
    * without it a merge that silently kept stale base rows would still
    * match the oracle. */
  private[operators] def upsertSummary(merged: DataFrame): DataFrame = {
    import merged.sparkSession.implicits._
    merged
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when($"doc_id" % 7 === 0 && $"doc_id" < 1000000L, 1L).otherwise(0L)).as("n_updated"),
           sum(when($"doc_id" >= 1000000L, 1L).otherwise(0L)).as("n_inserted"),
           sum(when($"text" === upper($"text"), 1L).otherwise(0L)).as("n_upper"),
           sum(length($"text").cast("long")).as("total_chars"))
      .orderBy($"source")
  }

  /** Length-bucketed batch manifest — the padding-minimizing batching
    * stage of a trainer feed: documents group into power-of-two token-
    * length buckets (`bucket` = bit length of the token count, an exact
    * integer on both engines via `bin()` — no float log2 boundary
    * ambiguity), are ranked within their bucket by (length, doc_id), and
    * pack `batchSize` consecutive docs per batch. Per bucket the manifest
    * reports doc/batch counts, total tokens, and `padded_tokens` — the
    * waste Σ(batch_max·batch_size − batch_sum) a fixed-shape trainer
    * would pad, the quantity this batching exists to minimize.
    *
    * Scale shape: the within-bucket rank uses ONE global
    * [[graft.plans.ScalableNtile.globalRank]] ordered by (bucket, len,
    * id) minus a per-bucket exclusive offset (≤64 buckets of metadata,
    * broadcast) — no per-bucket data-scale window partition, so a
    * degenerate corpus that lands everything in one bucket still ranks
    * via range decomposition instead of a single-task sort. */
  def lengthBatches(s: SparkSession, d: String, batchSize: Int = 8): DataFrame = {
    import s.implicits._
    // (doc_id, n_tokens, bucket) is three longs per doc; the global rank
    // makes four passes over it and the bucket-offset aggregate a fifth —
    // cut the lineage so the canonical/tokenize pipeline runs once, not
    // five times (eager localCheckpoint, the probe-measured winner)
    val dnt = graft.plans.Caching.iterCheckpoint(
      documents(s, d).select($"doc_id",
        size(TextAnalysis.wsTokens(TextAnalysis.canonical($"text")))
          .cast("long").as("n_tokens"))
      .withColumn("bucket", length(bin(greatest($"n_tokens", lit(1L)))).cast("long")))
    val ranked = graft.plans.ScalableNtile.globalRank(dnt,
      Seq($"bucket", $"n_tokens", $"doc_id"), "grank", "total")
    val w = Window.orderBy($"bucket")
    val offsets = dnt.groupBy($"bucket").agg(count(lit(1)).as("bc"))
      .withColumn("boff",
        coalesce(sum($"bc").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"bucket", $"boff")
    val out = ranked.join(broadcast(offsets), "bucket")
      .withColumn("batch", expr(s"(grank - boff - 1) div $batchSize"))
      .groupBy($"bucket", $"batch")
      .agg(count(lit(1)).as("nd"), max($"n_tokens").as("mx"),
           sum($"n_tokens").as("sm"))
      .groupBy($"bucket")
      .agg(sum($"nd").as("n_docs"), count(lit(1)).as("n_batches"),
           sum($"sm").as("total_tokens"),
           sum($"mx" * $"nd" - $"sm").as("padded_tokens"))
      .orderBy($"bucket")
    graft.plans.Caching.detach(out, () => graft.plans.Caching.freeCheckpoint(dnt))
  }

  /** Budget-capped curation — "take the best documents until the token
    * budget is spent", the selection rule of every fixed-compute training
    * run: documents rank by quality descending (ties by doc_id), the
    * INCLUSIVE running token total is computed by the range-decomposed
    * [[graft.plans.ScalableNtile.runningTotal]] (no single-partition
    * window), and a document survives iff its running total fits the
    * budget. Emits the selected manifest with each doc's cumulative
    * position, presented in doc_id order.
    *
    * Quality reuses [[TextAnalysis.withQualitySignals]]'s exact
    * expression trees (fixed fp op order — the oracle-parity rule), and
    * the descending order is encoded as an ASCENDING sort on the negated
    * score (IEEE negation is exact), which is what the range
    * decomposition requires. */
  def tokenBudget(s: SparkSession, d: String, budget: Long = 10000L): DataFrame = {
    import s.implicits._
    // the quality-signal pipeline is the expensive part and the running
    // total's range decomposition would re-execute it four times — cut
    // the lineage at the three-column projection (metadata grain); freed
    // once the selected manifest materializes
    val q = graft.plans.Caching.iterCheckpoint(
      TextAnalysis.withQualitySignals(documents(s, d))
        .select($"doc_id", $"n_tokens_ws", $"quality"))
    val out = graft.plans.ScalableNtile.runningTotal(q, $"n_tokens_ws",
        Seq(-$"quality", $"doc_id"), "cum_tokens")
      .filter($"cum_tokens" <= budget)
      .select($"doc_id", $"n_tokens_ws", $"cum_tokens")
      .orderBy($"doc_id")
    graft.plans.Caching.detach(out, () => graft.plans.Caching.freeCheckpoint(q))
  }

  /** Deterministic K-FOLD assignment + cross-fold near-dup LEAKAGE audit —
    * the cross-validation integrity check a training pipeline runs before
    * trusting fold-held-out metrics: a near-duplicate pair split across
    * two folds leaks eval signal into training. Fold assignment is a pure
    * hash of the id (60-bit md5 fold mod k — uniform, reproducible, no
    * shuffle), so folds need no state; the audit reuses the
    * [[Dedup.minhashPairs]] banded-LSH pair set (never all-pairs) and
    * rolls it up to fold-pair counts — off-diagonal rows ARE the leaks.
    * Output is at most k(k+1)/2 rows. */
  def kfoldLeakage(s: SparkSession, d: String, k: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    import s.implicits._
    def foldOf(id: org.apache.spark.sql.Column) =
      pmod(graft.functions.Expressions.md5Fold60(concat_ws("|", lit("fold"), id)), lit(k.toLong))
    Dedup.minhashPairs(s, d, threshold)
      .select(foldOf($"doc_a").as("fa"), foldOf($"doc_b").as("fb"))
      .select(least($"fa", $"fb").as("fold_lo"), greatest($"fa", $"fb").as("fold_hi"))
      .groupBy($"fold_lo", $"fold_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", $"fold_lo" =!= $"fold_hi")
      .orderBy($"fold_lo", $"fold_hi")
  }

  /** Deterministic proportional INTERLEAVE manifest — the actual read
    * order a multi-source training job consumes: documents of all
    * sources merged so every prefix holds each source in proportion to
    * its size (the "round-robin by weight" loaders implement ad hoc,
    * here as a declarative, resumable manifest). The r-th document of a
    * source of weight w gets virtual time r/w; ordering by it interleaves
    * proportionally. Exactness: the key is `floor(r·1e12 / w)` with the
    * product DECIMAL-widened (r alone can pass 9e6 docs per source,
    * where a long product wraps), ties broken (source, doc_id) — a pure
    * integer definition both engines compute identically. Shape: the
    * per-source rank runs through
    * [[graft.plans.ScalableNtile.groupedRank]] (the round-9 hot-key
    * audit flagged the original PARTITION BY source window: source
    * cardinality is a handful, so one task sorted an entire source), a
    * broadcast size join, and [[graft.plans.ScalableNtile.globalRank]]
    * for the global position — no single-partition sort and no
    * one-task-per-source window anywhere. */
  def interleave(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select($"doc_id", $"source")
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("w"))
    val ranked = graft.plans.ScalableNtile
      .groupedRank(docs, Seq("source"), Seq($"doc_id"), "r")
      .join(broadcast(sizes), "source")
      .withColumn("vkey",
        expr("CAST(CAST(r AS DECIMAL(38,0)) * 1000000000000 div w AS BIGINT)"))
    val rankedCk = graft.plans.Caching.iterCheckpoint(ranked)
    val out = graft.plans.ScalableNtile
      .globalRank(rankedCk, Seq($"vkey", $"source", $"doc_id"), "pos", "n")
      .select($"pos", $"doc_id", $"source", $"vkey")
      .orderBy($"pos")
    graft.plans.Caching.detach(out, () => graft.plans.Caching.freeCheckpoint(rankedCk))
  }

  /** Data-quality CONSTRAINT REPORT — the Deequ-style validation gate a
    * pipeline runs before admitting a corpus drop: completeness,
    * key-uniqueness, metadata/payload consistency, value-set compliance
    * and bounds checks, each emitted as one `(check_name, metric,
    * passed)` row. Ratio metrics are exact integer micro-fractions
    * (`count·1e6 div n` — no float crosses engines); bound metrics
    * report the raw extreme. The `compliance_lang` allowed-set
    * deliberately excludes `zh`, so the corpus FAILS that row — the
    * report's failure path is exercised by the oracle itself, not just
    * a spec.
    *
    * Scale shape: ONE aggregation pass over the table (the lone
    * `count(distinct doc_id)` plans as Spark's two-stage expand —
    * still map-side partial, no driver involvement; a sketch alternative
    * exists as nd_vocab_hll when exactness isn't required), then a
    * constant 8-row report built by exploding a literal struct array.
    * Nothing data-scale moves after the aggregate. */
  def qualityChecks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = documents(s, d).agg(
      count(lit(1)).as("n"),
      sum(when($"text".isNotNull && length($"text") > 0, 1L).otherwise(0L)).as("nt"),
      countDistinct($"doc_id").as("nid"),
      sum(when($"n_chars" === length($"text"), 1L).otherwise(0L)).as("nc"),
      sum(when($"lang".isin("en", "de", "fr", "es"), 1L).otherwise(0L)).as("nl"),
      min($"n_chars").as("mn"), max($"n_chars").as("mx"),
      sum($"n_chars").as("snc"),
      sum(when($"source".isNotNull && length($"source") > 0, 1L).otherwise(0L)).as("ns"))
    // numerator widened to DECIMAL(38,0): snc (total corpus chars) * 1e6
    // overflows BIGINT at ~9.2e12 chars — inside the 100 TB design target
    def ratio(c: String) =
      expr(s"CAST(CAST($c AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)")
    a.select(explode(array(
        struct(lit("completeness_source").as("check_name"),
               ratio("ns").as("metric"), ($"ns" === $"n").as("passed")),
        struct(lit("completeness_text").as("check_name"),
               ratio("nt").as("metric"), ($"nt" === $"n").as("passed")),
        struct(lit("compliance_lang").as("check_name"),
               ratio("nl").as("metric"), (ratio("nl") >= 900000L).as("passed")),
        struct(lit("consistency_n_chars").as("check_name"),
               ratio("nc").as("metric"), ($"nc" === $"n").as("passed")),
        struct(lit("max_n_chars").as("check_name"),
               $"mx".as("metric"), ($"mx" <= 1000000L).as("passed")),
        struct(lit("mean_n_chars_micro").as("check_name"),
               ratio("snc").as("metric"),
               (ratio("snc").between(1000000L, 1000000000L)).as("passed")),
        struct(lit("min_n_chars").as("check_name"),
               $"mn".as("metric"), ($"mn" >= 1L).as("passed")),
        struct(lit("uniqueness_doc_id").as("check_name"),
               ratio("nid").as("metric"), ($"nid" === $"n").as("passed"))
      )).as("r"))
      .select($"r.check_name", $"r.metric", $"r.passed")
      .orderBy($"check_name")
  }

  /** SNAPSHOT DIFF — the table-diff audit every incremental corpus
    * refresh needs before it replaces production data: given two corpus
    * snapshots keyed by `doc_id`, classify every key as added / removed /
    * changed / unchanged (content identity = md5 of the text) and roll
    * the verdicts up per (status, lang) with an id-sum checksum, so a
    * one-row drift anywhere in 100 TB moves an output cell.
    *
    * The snapshots are derived deterministically from `documents` (the
    * driver corpus has no real second snapshot): OLD drops `doc_id ≡ 4
    * (mod 5)`, NEW drops `doc_id ≡ 0 (mod 5)` and rewrites the text of
    * `doc_id ≡ 3 (mod 7)` — so all four verdicts occur and the oracle
    * derives the identical pair.
    *
    * Scale shape: each side reduces to a ~16-byte `(doc_id, lang,
    * digest)` sketch AT THE SCAN (the text column never crosses a
    * shuffle — the [[Dedup.exact]] discipline), one full-outer equi-join
    * on `doc_id`, then a status-sized aggregate. At 100 TB the join
    * shuffles only digests; with both snapshots bucketed by `doc_id`
    * ([[graft.plans.Layout]]) it co-locates and the shuffle disappears. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val old = docs.filter(pmod($"doc_id", lit(5)) =!= 4)
      .select($"doc_id", $"lang".as("lang_o"), md5($"text").as("dg_o"))
    val nw = docs.filter(pmod($"doc_id", lit(5)) =!= 0)
      .select($"doc_id", $"lang".as("lang_n"),
        md5(when(pmod($"doc_id", lit(7)) === 3, concat($"text", lit(" v2")))
          .otherwise($"text")).as("dg_n"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .select($"doc_id", coalesce($"lang_o", $"lang_n").as("lang"),
        when($"dg_o".isNull, "added")
          .when($"dg_n".isNull, "removed")
          .when($"dg_o" =!= $"dg_n", "changed")
          .otherwise("unchanged").as("status"))
      .groupBy($"status", $"lang")
      .agg(count(lit(1)).as("n"), sum($"doc_id").as("id_sum"))
      .orderBy($"status", $"lang")
  }

  /** COMPACTION PLANNER — the small-file maintenance pass every
    * long-running parquet corpus needs (streaming ingest and per-partition
    * writes leave thousands of undersized files; scan throughput dies on
    * open/seek overhead): bin files into target-sized compaction groups
    * and report each group's size, so the rewrite job is a per-bin
    * `coalesce(1)` read→write.
    *
    * Policy: sequential fill in size-descending order — files sorted by
    * (bytes desc, file_id), exclusive prefix sum, `bin = prefix div
    * target` with `target = total div 8`. Deterministic, one window pass,
    * and every bin lands within one file of the target (the classic
    * sorted first-fit bound) — exactly replayable in SQL, unlike true
    * first-fit-decreasing whose bin state is sequential.
    *
    * The manifest is simulated from `documents` (`file_id = doc_id mod
    * 199`, bytes = Σ n_chars) — at 100 TB it would come from the real
    * file listing. Scale shape: the manifest aggregate is the only
    * data-scale pass (map-side partial on ~1-word rows); the planning
    * window runs over the MANIFEST (file-count-sized — metadata, ≤ a few
    * million rows even at 100 TB, explicitly not the corpus), which is
    * why a single ordered window is acceptable here and nowhere else. */
  def compactionPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val files = documents(s, d)
      .groupBy(pmod($"doc_id", lit(199)).as("file_id"))
      .agg(sum($"n_chars").as("bytes"), count(lit(1)).as("n_docs"))
    val tot = files.agg(sum($"bytes").as("tb"))
    val w = Window.orderBy($"bytes".desc, $"file_id")
    files.crossJoin(broadcast(tot))
      .withColumn("prefix", coalesce(
        sum($"bytes").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr("prefix div greatest(tb div 8, 1)"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_files"), sum($"bytes").as("bin_bytes"),
           sum($"n_docs").as("bin_docs"), min($"file_id").as("first_file"))
      .orderBy($"bin")
  }

  /** VACUUM / RETENTION PLANNER — the other half of table maintenance
    * ([[compactionPlan]] merges small files; this expires unreferenced
    * ones): given the physical file listing and the snapshot lineage of a
    * versioned table, classify every file as `live` (referenced by the
    * current snapshot), `retained` (dropped from current but still
    * referenced by a snapshot inside the time-travel watermark — NOT
    * safe to delete), or `expired` (referenced by no retained snapshot —
    * the vacuum delete list). Deleting by "not in current snapshot" alone
    * corrupts time travel; the watermark check is the whole point.
    *
    * Simulated lineage (deterministic, both engines derive the identical
    * one): 199 base files (`file_id = doc_id mod 199`) created at version
    * `file_id mod 5`; files with `file_id mod 7 = 1` created before v2
    * were DELETED at v2 (no successor); files with `file_id mod 3 = 0`
    * created before v4 (and not deleted) were REWRITTEN at v4 into
    * replacement files `file_id + 1000`. Watermark retains snapshots
    * {3, 4}: rewritten-away originals are `retained` (v3 still reads
    * them), the v2-deleted files are `expired`.
    *
    * Scale shape: the ONLY corpus-scale pass is the per-file byte/doc
    * aggregate (map-side partial on 2-word rows); listing, lineage flags,
    * and the status CASE are file-count-sized metadata (≤ a few million
    * rows at 100 TB), exactly like [[compactionPlan]]'s planning frame. */
  def vacuumPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = documents(s, d)
      .groupBy(pmod($"doc_id", lit(199)).as("file_id"))
      .agg(sum($"n_chars").as("bytes"), count(lit(1)).as("n_docs"))
      .withColumn("created_ver", pmod($"file_id", lit(5)))
      .withColumn("deleted", pmod($"file_id", lit(7)) === 1 && $"created_ver" < 2)
      .withColumn("rewritten",
        !$"deleted" && pmod($"file_id", lit(3)) === 0 && $"created_ver" < 4)
    val replacements = base.filter($"rewritten")
      .select(($"file_id" + 1000L).as("file_id"), $"bytes", $"n_docs",
        lit(4L).as("created_ver"), lit(false).as("deleted"),
        lit(false).as("rewritten"))
    base.unionByName(replacements)
      .withColumn("status",
        when(!$"deleted" && !$"rewritten", "live")
          .when($"rewritten", "retained")
          .otherwise("expired"))
      .groupBy($"status", $"created_ver")
      .agg(count(lit(1)).as("n_files"), sum($"n_docs").as("n_docs"),
           sum($"bytes").as("total_bytes"), sum($"file_id").as("file_id_sum"))
      .orderBy($"status", $"created_ver")
  }

  /** REFERENTIAL-INTEGRITY AUDIT over the star schema — the constraint
    * sweep a warehouse runs after every load: for each FK edge, the child
    * row count, the ORPHAN count (child keys with no parent — a left-anti
    * join), the null-key count, and the parent's duplicate-PK count. The
    * clean TPC-H edges audit to zero; one edge
    * (`lineitem_corrupt->orders`) audits a SIMULATED corruption — child
    * keys with `l_orderkey mod 997 = 13` displaced out of the parent
    * domain (the [[vacuumPlan]] mod-arithmetic-lineage discipline) — so
    * the orphan path is exercised with a deterministic nonzero answer.
    *
    * Scale shape: each edge is one anti-join on its key — broadcast for
    * the metadata-sized dims (nation/region), shuffle-on-key for the
    * fact edges — plus a count-only aggregate; no payload columns travel
    * (keys are projected before the join). PK-dup checks are one partial
    * agg per parent. The audit output is one row per edge. */
  def fkAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val ck = child.select(col(key).as("k"))
      // ONE pass over the child per edge: the earlier form scanned it
      // twice (an anti-join for orphans plus a separate null/total
      // aggregate — 8 corpus scans across the audit); a left-outer probe
      // against the DISTINCT parent keys (distinct so a duplicated parent
      // key cannot multiply child rows) yields totals, null keys and
      // orphans from a single aggregate. Identical counts by definition.
      val pkeys0 = parent.select(col(pk).as("k")).filter($"k".isNotNull)
        .distinct().withColumn("hit", lit(1))
      val pkeys = if (bcast) broadcast(pkeys0) else pkeys0
      val probe = ck.join(pkeys, Seq("k"), "left_outer")
        .agg(count(lit(1)).as("n_child"),
             sum(when($"k".isNull, 1L).otherwise(0L)).as("n_null_keys"),
             sum(when($"k".isNotNull && $"hit".isNull, 1L).otherwise(0L))
               .as("n_orphans"))
      val dups = parent.groupBy(col(pk)).agg(count(lit(1)).as("c"))
        .agg(sum(when($"c" > 1, $"c" - 1).otherwise(0L)).as("n_parent_dups"))
      probe.crossJoin(dups)
        .select(lit(name).as("fk_edge"), $"n_child", $"n_orphans",
                $"n_null_keys", coalesce($"n_parent_dups", lit(0L)).as("n_parent_dups"))
    }
    val li = lineitem(s, d); val o = orders(s, d); val c = customer(s, d)
    val su = supplier(s, d); val p = part(s, d)
    val na = nation(s, d); val re = region(s, d)
    // displaced keys are NEGATED (not offset by a constant): orderkeys are
    // strictly positive at every SF, so -k-1 is out of the parent domain
    // unconditionally, where +1e9 would start colliding with real orders
    // once max(o_orderkey) passes 1e9 (TPC-H SF~170) — ADVICE round 12
    val corrupted = li.select(
      when(pmod($"l_orderkey", lit(997)) === 13, -$"l_orderkey" - 1L)
        .otherwise($"l_orderkey").as("l_orderkey"))
    Seq(
      edge("customer->nation", c, "c_nationkey", na, "n_nationkey", bcast = true),
      edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey", bcast = false),
      edge("lineitem->part", li, "l_partkey", p, "p_partkey", bcast = false),
      edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey", bcast = false),
      edge("lineitem_corrupt->orders", corrupted, "l_orderkey", o, "o_orderkey",
           bcast = false),
      edge("nation->region", na, "n_regionkey", re, "r_regionkey", bcast = true),
      edge("orders->customer", o, "o_custkey", c, "c_custkey", bcast = false),
      edge("supplier->nation", su, "s_nationkey", na, "n_nationkey", bcast = true)
    ).reduce(_.unionByName(_)).orderBy($"fk_edge")
  }

  /** INCREMENTAL AGGREGATE-VIEW MAINTENANCE — the nightly-MV pattern every
    * 100-TB warehouse runs: a stored per-key aggregate STATE (count / sum /
    * min / max per event_type, simulated here as the `event_id mod 10 <> 7`
    * slice) is merged with a DELTA batch's partial aggregates (the mod-7
    * slice) by pure algebraic combination — counts and sums add, extremes
    * take greatest/least — instead of re-scanning history. The oracle
    * recomputes the aggregate from the FULL table, so a hash match is the
    * theorem that matters: merge(state, agg(delta)) == agg(full).
    *
    * Scale shape: the delta pass scans only the delta; the state frame is
    * |keys| rows (metadata-scale); the merge is a full-outer join of two
    * key-sized frames. At 100 TB this replaces a daily full-history scan
    * with one incremental pass — the same algebra Structured Streaming's
    * partial aggregation relies on, proven here value-for-value. Cents
    * stay integral (round-half-up at source, the [[Events]] discipline),
    * so merged sums are exact in any association order. */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
      .select($"event_id", $"event_type",
              expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    def agg(df: DataFrame) = df.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"),
           max($"cents").as("max_cents"), min($"cents").as("min_cents"))
    val state = agg(ev.filter(pmod($"event_id", lit(10)) =!= 7))
    val delta = agg(ev.filter(pmod($"event_id", lit(10)) === 7))
      .select($"event_type", $"n".as("d_n"), $"sum_cents".as("d_sum"),
              $"max_cents".as("d_max"), $"min_cents".as("d_min"))
    state.join(delta, Seq("event_type"), "full_outer")
      .select($"event_type",
        (coalesce($"n", lit(0L)) + coalesce($"d_n", lit(0L))).as("n"),
        (coalesce($"sum_cents", lit(0L)) + coalesce($"d_sum", lit(0L))).as("sum_cents"),
        greatest($"max_cents", $"d_max").as("max_cents"),
        least($"min_cents", $"d_min").as("min_cents"))
      .orderBy($"event_type")
  }

  /** JOIN-SKEW SALTING PLANNER — the pre-flight audit a 1000-executor
    * fact-fact join runs before committing to a plan: per-join-key row
    * counts, a target rows-per-task derived from the table size (total
    * div 256 tasks, floor 1), and a per-key salt factor
    * `min(ceil(cnt / target), 32)` — keys that fit one task hash-join
    * plainly (`plan = 'hash'`), hot keys get their salt replication count
    * (`plan = 'salt'`, the [[TpchShapes]] q41 mechanism this planner
    * feeds). The key here is the simulated-skew join key used across the
    * events corpus: 90% of rows keep their user_id, 10% collapse onto ten
    * hot ids (`user_id mod 10`) — the long-tail-plus-hotspot shape real
    * event streams have.
    *
    * Scale shape: ONE partial-agg'd count shuffle of 2-word rows over the
    * fact table; the tier classification and manifest are key-count-sized.
    * The manifest (≤ 33 distinct salt tiers) is what the driver would
    * broadcast to rewrite the join — this query IS that planning artifact. */
  def joinSkewPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keyed = events(s, d).select(
      when(pmod($"event_id", lit(10)) < 9, $"user_id")
        .otherwise(pmod($"user_id", lit(10))).as("k"))
    val perKey = keyed.groupBy($"k").agg(count(lit(1)).as("cnt"))
    val tot = perKey.agg(sum($"cnt").as("tot"))
    perKey.crossJoin(broadcast(tot))
      .withColumn("target", greatest(expr("tot div 256"), lit(1L)))
      .withColumn("salt_factor",
        least(expr("(cnt + target - 1) div target"), lit(32L)))
      .withColumn("plan", when($"salt_factor" > 1, "salt").otherwise("hash"))
      .groupBy($"plan", $"salt_factor")
      .agg(count(lit(1)).as("n_keys"), sum($"cnt").as("n_rows"),
           max($"cnt").as("max_key_rows"),
           min($"k").as("min_key"), max($"k").as("max_key"))
      .orderBy($"plan", $"salt_factor")
  }

  /** DOCUMENTS Z-ORDER MANIFEST — the layout pass a 100-TB text corpus
    * actually wants ([[graft.plans.Layout.zorderedWrite]] applied to the
    * `(source, quality)` plane): training-mixture readers filter by
    * SOURCE, curation passes filter by QUALITY BAND, and a single-column
    * sort clusters only one of the two. Morton-interleaving the source
    * ordinal with the exact [[Eval.scoredDocs]] micro quality score makes
    * contiguous Z ranges bounded boxes in BOTH dimensions, so either
    * filter prunes file footers (files-touched measured layout-vs-layout
    * in ScaleSpec; this query is the oracle-paired manifest of the
    * bucket→box mapping, the [[TpchShapes.q39ZorderLocality]] shape).
    *
    * Scale: one corpus map pass (score is codegen'd gram counting), the
    * bounds are a broadcast 1-row aggregate, the manifest is ≤ 64 rows. */
  def docZorderManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Eval.scoredDocs(s, d)
      .select(expr("CAST(substr(source, 4) AS BIGINT)").as("src_num"), $"score")
    val bounds = scored.agg(
      min($"src_num").as("xmin"), max($"src_num").as("xmax"),
      min($"score").as("ymin"), max($"score").as("ymax"))
    scored.crossJoin(broadcast(bounds))
      .withColumn("xn",
        expr("CAST(((src_num - xmin) * 65535) DIV greatest(xmax - xmin, 1) AS BIGINT)"))
      .withColumn("yn",
        expr("CAST(((score - ymin) * 65535) DIV greatest(ymax - ymin, 1) AS BIGINT)"))
      .withColumn("zbucket", shiftright(graft.plans.Layout.zValue($"xn", $"yn"), 26))
      .groupBy($"zbucket")
      .agg(count(lit(1)).as("n_docs"),
           min($"src_num").as("src_min"), max($"src_num").as("src_max"),
           min($"score").as("score_min"), max($"score").as("score_max"))
      .orderBy($"zbucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nd_fk_audit" -> fkAudit _,
    "nd_pipeline_incr_agg" -> incrementalAgg _,
    "nd_join_skew_plan" -> joinSkewPlan _,
    "nd_doc_zorder" -> docZorderManifest _,
    "nd_pipeline_diff" -> snapshotDiff _,
    "nd_pipeline_compaction" -> compactionPlan _,
    "nd_pipeline_vacuum" -> vacuumPlan _,
    "nd_pipeline_interleave" -> interleave _,
    "nd_quality_checks" -> qualityChecks _,
    "nd_pipeline_kfold_leakage" -> ((s: SparkSession, d: String) => kfoldLeakage(s, d)),
    "nd_pipeline_length_batches" -> ((s: SparkSession, d: String) => lengthBatches(s, d)),
    "nd_pipeline_token_budget" -> ((s: SparkSession, d: String) => tokenBudget(s, d)),
    "nd_pipeline_upsert" -> upsertManifest _,
    "nd_dedup_boilerplate" -> ((s: SparkSession, d: String) => chunkBoilerplate(s, d)),
    "nd_pipeline_dsir" -> ((s: SparkSession, d: String) => dsirWeights(s, d)),
    "nd_pipeline_ccnet" -> ((s: SparkSession, d: String) => ccnetBuckets(s, d)),
    "nd_pipeline_chunks" -> ((s: SparkSession, d: String) => chunkDocuments(s, d)),
    "nd_pipeline_shard" -> ((s: SparkSession, d: String) => shardManifest(s, d)),
    "nd_pipeline_epoch" -> ((s: SparkSession, d: String) => epochShuffle(s, d)),
    "nd_pipeline_curation" -> curationStats _,
    "nd_pipeline_e2e" -> curationE2E _,
    "nd_pipeline_packing" -> ((s: SparkSession, d: String) => packSequences(s, d)),
    "nd_pipeline_mixture" -> ((s: SparkSession, d: String) => temperatureMixture(s, d)),
    "nd_pipeline_stratified" -> stratifiedByQuality _,
    "nd_sample_weighted" -> ((s: SparkSession, d: String) => weightedSample(s, d)))

  /** DuckDB replica of the whole curation pipeline — quality filter,
    * exact-dedup keepers and the ≥0.8-estimate minhash losers all reuse
    * the same replayable constructions as the [[TextAnalysis]] /
    * [[Dedup]] oracles. */
  /** DuckDB replay of [[curationE2E]]: the whole ten-stage chain as
    * MATERIALIZED CTEs (each survivor set referenced 2-3× downstream —
    * materialization keeps the replay linear, the k-core/BPE oracle
    * lesson), every stage's arithmetic copied verbatim from its
    * individually-gated oracle with `documents` swapped for the previous
    * stage's survivor CTE. */
  private def e2eOracleSql: String = {
    val fold15 = graft.functions.Expressions.Sketch.foldSql(15, "s")
    def fold7(x: String) =
      graft.functions.Expressions.Sketch.foldSql(7, x)
    val stop = TextAnalysis.stopListSql
    s"""WITH pg AS (
           SELECT doc_id, lang, source,
                  '<html><head><title>' || source || ' &amp; co</title></head>' || chr(10)
                  || '<body>' || chr(10) || '<nav>Home | About | Sign in</nav>' || chr(10)
                  || '<h1>Document ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10)
                  || '<p>' || substr(text, 1, length(text) // 2) || '</p>' || chr(10)
                  || '<p>' || substr(text, length(text) // 2 + 1) || '</p>' || chr(10)
                  || CASE WHEN doc_id % 2 = 0
                          THEN '<div class="ad">Sponsored: best deals here</div>' || chr(10)
                          ELSE '' END
                  || '<footer>(c) ' || source || ' all rights reserved</footer>' || chr(10)
                  || '</body></html>' AS html
           FROM documents),
         ln0 AS (
           SELECT doc_id, lang, source,
                  list_filter(list_transform(string_split(
                    replace(regexp_replace(html, '<[^>]*>', '', 'g'), '&amp;', '&'),
                    chr(10)), l -> trim(l)), l -> l <> '') AS lines
           FROM pg),
         ext AS MATERIALIZED (
           SELECT doc_id, lang, source,
                  coalesce(array_to_string(kept, chr(10)), '') AS text,
                  CAST(len(kept) AS BIGINT) AS n_lines_kept
           FROM (SELECT doc_id, lang, source,
                        list_filter(lines, l -> len(string_split_regex(l, ' +')) >= 10) AS kept
                 FROM ln0)),
         s1 AS MATERIALIZED (
           SELECT doc_id, lang, source, text FROM ext WHERE n_lines_kept >= 1),
         gt AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' +') AS w,
                  string_split_regex(text, ' +') AS raw
           FROM s1),
         gsig AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
               / CAST(len(w) AS DOUBLE), 4) AS mean_word_len,
             round(CAST(len(list_filter(raw, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
               / CAST(len(raw) AS DOUBLE), 4) AS symbol_ratio,
             round(CAST(len(list_filter(raw, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / CAST(len(raw) AS DOUBLE), 4) AS alpha_frac,
             CAST(len(list_filter(w, x -> x IN ($stop))) AS BIGINT) AS n_stop
           FROM gt),
         s2 AS MATERIALIZED (
           SELECT s1.* FROM s1 JOIN gsig USING (doc_id)
           WHERE n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
             AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop >= 2),
         ek AS (
           SELECT min(doc_id) AS doc_id FROM s2
           GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))),
         s3 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN ek USING (doc_id)),
         ${Dedup.shingleCtes("s3", "4")},
         ${Dedup.candCtes("4")},
         drop4 AS (SELECT DISTINCT doc_b AS doc_id FROM est4 WHERE est_jaccard >= 0.5),
         s4 AS MATERIALIZED (
           SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM drop4)),
         ${graft.operators.Similarity.lloydChainSql(
             Semantic.DefaultLists, Similarity.DefaultLloydIters)},
         sdup AS (
           SELECT DISTINCT b.vec_id
           FROM lists a JOIN lists b USING (list_id)
           WHERE a.vec_id < b.vec_id
             AND round(list_cosine_similarity(a.v, b.v), 4) >= ${Semantic.DefaultTau}),
         s5 AS MATERIALIZED (
           SELECT * FROM s4 WHERE doc_id NOT IN (SELECT vec_id FROM sdup)),
         ${Dedup.shingleCtes("(SELECT doc_id, text FROM ext WHERE doc_id % 10 = 0)", "EV")},
         evsh AS (SELECT doc_id, list_distinct(list_transform(shings, s -> $fold15)) AS sh
                  FROM shingEV),
         evb AS MATERIALIZED (
           SELECT DISTINCT ((h >> 30) + t.j * (h & 1073741823)) % 131072 AS bit
           FROM (SELECT unnest(sh) AS h FROM evsh) CROSS JOIN range(0, 4) t(j)),
         ${Dedup.shingleCtes("(SELECT doc_id, text FROM s5 WHERE doc_id % 10 <> 0)", "TR")},
         trsh AS (SELECT doc_id, list_distinct(list_transform(shings, s -> $fold15)) AS sh
                  FROM shingTR),
         pos6 AS (
           SELECT train_id, h, ((h >> 30) + t.j * (h & 1073741823)) % 131072 AS bit
           FROM (SELECT doc_id AS train_id, unnest(sh) AS h FROM trsh)
           CROSS JOIN range(0, 4) t(j)),
         hs6 AS (
           SELECT train_id, h, min(CASE WHEN e.bit IS NOT NULL THEN 1 ELSE 0 END) AS allset
           FROM pos6 LEFT JOIN evb e USING (bit) GROUP BY train_id, h),
         cont6 AS (
           SELECT train_id FROM hs6 GROUP BY train_id
           HAVING CAST(sum(allset) AS BIGINT) >= 3),
         s6 AS MATERIALIZED (
           SELECT * FROM s5 WHERE doc_id % 10 <> 0
             AND doc_id NOT IN (SELECT train_id FROM cont6)),
         q7 AS (
           SELECT doc_id, text,
             least(1.0::DOUBLE, n_tokens_ws / 64.0::DOUBLE) * 0.4::DOUBLE
             + coalesce(1.0::DOUBLE - least(1.0::DOUBLE, n_punct / nullif(CAST(n_tokens_ws AS DOUBLE), 0.0::DOUBLE)), 0.0::DOUBLE) * 0.3::DOUBLE
             + coalesce(least(1.0::DOUBLE, round(n_stop / nullif(n_tokens_ws, 0), 4) * 5), 0.0::DOUBLE) * 0.3::DOUBLE AS quality
           FROM (
             SELECT doc_id, text,
               CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens_ws,
               CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(list_filter(string_split_regex(text, ' +'), w -> w IN ($stop))) AS BIGINT) AS n_stop
             FROM s6)),
         tok7 AS (
           SELECT doc_id, quality >= 0.8::DOUBLE AS is_target,
                  ${fold7("concat_ws('|', 'dsir', u.tok)")} % 1024 AS b
           FROM q7, unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' +')) AS u(tok)),
         cnt7 AS (
           SELECT b, count(*) AS c_raw,
                  sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
           FROM tok7 GROUP BY b),
         tot7 AS (
           SELECT count(*) AS n_raw,
                  sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n_tgt
           FROM tok7),
         model7 AS (
           SELECT b,
             CAST(round(ln(CAST((c_tgt + 1) * (n_raw + 1024) AS DOUBLE)
                           / CAST((c_raw + 1) * (n_tgt + 1024) AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS lrq
           FROM cnt7 CROSS JOIN tot7),
         w7 AS (
           SELECT t.doc_id, CAST(sum(m.lrq) AS BIGINT) AS lw
           FROM tok7 t JOIN model7 m USING (b) GROUP BY t.doc_id),
         sel7 AS (
           SELECT doc_id FROM (
             SELECT doc_id, CAST(ntile(2) OVER (ORDER BY lw, doc_id) AS BIGINT) AS half
             FROM w7)
           WHERE half = 2),
         s7 AS MATERIALIZED (SELECT s6.* FROM s6 JOIN sel7 USING (doc_id)),
         c8 AS (SELECT lang, count(*) AS n_total FROM s7 GROUP BY lang),
         r8 AS (SELECT lang,
                  least(1.0::DOUBLE, 0.5::DOUBLE
                    * sqrt(CAST((SELECT max(n_total) FROM c8) AS DOUBLE)
                           / CAST(n_total AS DOUBLE))) AS rate
                FROM c8),
         s8 AS MATERIALIZED (
           SELECT s7.* FROM s7 JOIN r8 USING (lang)
           WHERE ${fold7("concat_ws('|', 'mix', doc_id)")} % 1000000
                 < CAST(floor(rate * 1000000.0::DOUBLE) AS BIGINT)),
         t9 AS (SELECT doc_id,
                       CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens
                FROM s8),
         c9 AS (SELECT n_tokens,
                       sum(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM t9),
         n9 AS (SELECT count(DISTINCT (cum - n_tokens) // 2048) AS n_seq FROM c9),
         n10 AS (SELECT count(DISTINCT ${fold7("concat_ws('|', 'shard', doc_id)")} % 8)
                   AS n_shards FROM s8)
         SELECT CAST(stage AS BIGINT) AS stage, stage_name,
                CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out
         FROM (
           SELECT 1 AS stage, 'extract' AS stage_name,
                  (SELECT count(*) FROM documents) AS n_in,
                  (SELECT count(*) FROM s1) AS n_out
           UNION ALL SELECT 2, 'gopher', (SELECT count(*) FROM s1), (SELECT count(*) FROM s2)
           UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM s2), (SELECT count(*) FROM s3)
           UNION ALL SELECT 4, 'minhash_dedup', (SELECT count(*) FROM s3), (SELECT count(*) FROM s4)
           UNION ALL SELECT 5, 'semdedup', (SELECT count(*) FROM s4), (SELECT count(*) FROM s5)
           UNION ALL SELECT 6, 'decontaminate', (SELECT count(*) FROM s5), (SELECT count(*) FROM s6)
           UNION ALL SELECT 7, 'dsir', (SELECT count(*) FROM s6), (SELECT count(*) FROM s7)
           UNION ALL SELECT 8, 'mixture', (SELECT count(*) FROM s7), (SELECT count(*) FROM s8)
           UNION ALL SELECT 9, 'pack', (SELECT count(*) FROM s8), (SELECT n_seq FROM n9)
           UNION ALL SELECT 10, 'shard', (SELECT count(*) FROM s8), (SELECT n_shards FROM n10))
         ORDER BY stage"""
  }

  val oracle: Map[String, String] = Map(
    "nd_pipeline_e2e" -> e2eOracleSql,
    // per-edge anti-join replay with the same mod-997 displaced-key
    // corruption on the one simulated edge
    "nd_fk_audit" -> {
      def e(name: String, childSql: String, key: String,
            parent: String, pk: String) =
        s"""SELECT '$name' AS fk_edge,
              (SELECT CAST(count(*) AS BIGINT) FROM ($childSql)) AS n_child,
              (SELECT CAST(count(*) AS BIGINT) FROM ($childSql) c
               WHERE c.$key IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$key))
                AS n_orphans,
              (SELECT CAST(coalesce(sum(CASE WHEN $key IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
               FROM ($childSql)) AS n_null_keys,
              (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT)
               FROM (SELECT count(*) AS c FROM $parent GROUP BY $pk) WHERE c > 1)
                AS n_parent_dups"""
      val corrupt =
        """SELECT CASE WHEN l_orderkey % 997 = 13 THEN -l_orderkey - 1
                       ELSE l_orderkey END AS l_orderkey FROM lineitem"""
      Seq(
        e("customer->nation", "SELECT c_nationkey FROM customer",
          "c_nationkey", "nation", "n_nationkey"),
        e("lineitem->orders", "SELECT l_orderkey FROM lineitem",
          "l_orderkey", "orders", "o_orderkey"),
        e("lineitem->part", "SELECT l_partkey FROM lineitem",
          "l_partkey", "part", "p_partkey"),
        e("lineitem->supplier", "SELECT l_suppkey FROM lineitem",
          "l_suppkey", "supplier", "s_suppkey"),
        e("lineitem_corrupt->orders", corrupt, "l_orderkey", "orders", "o_orderkey"),
        e("nation->region", "SELECT n_regionkey FROM nation",
          "n_regionkey", "region", "r_regionkey"),
        e("orders->customer", "SELECT o_custkey FROM orders",
          "o_custkey", "customer", "c_custkey"),
        e("supplier->nation", "SELECT s_nationkey FROM supplier",
          "s_nationkey", "nation", "n_nationkey")
      ).mkString("", " UNION ALL ", " ORDER BY fk_edge")
    },
    // the MV-maintenance theorem stated directly: the oracle aggregates the
    // FULL table in one pass; the Spark side must reproduce it from
    // state + delta partials
    "nd_pipeline_incr_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(max(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS max_cents,
                CAST(min(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS min_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // same simulated hot-key collapse, same integral target/salt arithmetic
    // (all operands positive, so Spark div == DuckDB //)
    "nd_join_skew_plan" ->
      """WITH k AS (SELECT CASE WHEN event_id % 10 < 9 THEN user_id
                                ELSE user_id % 10 END AS k
                    FROM events),
         pk AS (SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY k),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM pk),
         p AS (SELECT k, cnt,
                      least((cnt + greatest(tot // 256, 1) - 1)
                              // greatest(tot // 256, 1), 32) AS salt_factor
               FROM pk CROSS JOIN t)
         SELECT CASE WHEN salt_factor > 1 THEN 'salt' ELSE 'hash' END AS plan,
                CAST(salt_factor AS BIGINT) AS salt_factor,
                CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(cnt) AS BIGINT) AS n_rows,
                CAST(max(cnt) AS BIGINT) AS max_key_rows,
                CAST(min(k) AS BIGINT) AS min_key,
                CAST(max(k) AS BIGINT) AS max_key
         FROM p GROUP BY 1, 2 ORDER BY plan, salt_factor""",
    // Z-order manifest replay: same en-score micro, same min/max 16-bit
    // normalization, same Morton mask/shift spreading as q39's oracle
    "nd_doc_zorder" ->
      s"""WITH scored AS (
            SELECT CAST(substr(source, 4) AS BIGINT) AS src_num,
                   ${Eval.enScoreMicroSql} AS score
            FROM (SELECT doc_id, source, text,
                         ' ' || lower(text) || ' ' AS p FROM documents)),
          m AS (SELECT min(src_num) AS xmin, max(src_num) AS xmax,
                       min(score) AS ymin, max(score) AS ymax FROM scored),
          n AS (SELECT src_num, score,
                       ((src_num - xmin) * 65535) // greatest(xmax - xmin, 1) AS xn,
                       ((score - ymin) * 65535) // greatest(ymax - ymin, 1) AS yn
                FROM scored CROSS JOIN m),
          b AS (SELECT src_num, score,
                       (${TpchShapes.spreadSql("xn")} |
                        (${TpchShapes.spreadSql("yn")} << 1)) >> 26 AS zbucket
                FROM n)
          SELECT zbucket, count(*) AS n_docs,
                 min(src_num) AS src_min, max(src_num) AS src_max,
                 min(score) AS score_min, max(score) AS score_max
          FROM b GROUP BY zbucket ORDER BY zbucket""",
    // snapshot diff replay: identical derived snapshots, FULL JOIN on the
    // key, md5 content identity, per-(status, lang) rollup
    "nd_pipeline_diff" ->
      """WITH o AS (SELECT doc_id, lang, md5(text) AS dg
                    FROM documents WHERE doc_id % 5 <> 4),
         n AS (SELECT doc_id, lang,
                      md5(CASE WHEN doc_id % 7 = 3 THEN text || ' v2'
                               ELSE text END) AS dg
               FROM documents WHERE doc_id % 5 <> 0),
         j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                      coalesce(o.lang, n.lang) AS lang,
                      CASE WHEN o.dg IS NULL THEN 'added'
                           WHEN n.dg IS NULL THEN 'removed'
                           WHEN o.dg <> n.dg THEN 'changed'
                           ELSE 'unchanged' END AS status
               FROM o FULL JOIN n ON o.doc_id = n.doc_id)
         SELECT status, lang, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM j GROUP BY status, lang ORDER BY status, lang""",
    // compaction replay: same simulated manifest, same size-descending
    // exclusive prefix sum and integral-division bin assignment
    "nd_pipeline_compaction" ->
      """WITH f AS (SELECT doc_id % 199 AS file_id,
                           CAST(sum(n_chars) AS BIGINT) AS bytes,
                           CAST(count(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY doc_id % 199),
         t AS (SELECT CAST(sum(bytes) AS BIGINT) AS tb FROM f),
         p AS (SELECT f.*, tb,
                      coalesce(sum(bytes) OVER (ORDER BY bytes DESC, file_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                               0) AS prefix
               FROM f CROSS JOIN t)
         SELECT CAST(prefix // greatest(tb // 8, 1) AS BIGINT) AS bin,
                CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(bytes) AS BIGINT) AS bin_bytes,
                CAST(sum(n_docs) AS BIGINT) AS bin_docs,
                CAST(min(file_id) AS BIGINT) AS first_file
         FROM p GROUP BY 1 ORDER BY bin""",
    // vacuum replay: identical simulated lineage (mod-arithmetic flags),
    // replacement rows unioned, same status CASE
    "nd_pipeline_vacuum" ->
      """WITH f AS (SELECT doc_id % 199 AS file_id,
                           CAST(sum(n_chars) AS BIGINT) AS bytes,
                           CAST(count(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY doc_id % 199),
         base AS (SELECT file_id, bytes, n_docs,
                         file_id % 5 AS created_ver,
                         (file_id % 7 = 1 AND file_id % 5 < 2) AS deleted,
                         (NOT (file_id % 7 = 1 AND file_id % 5 < 2))
                           AND file_id % 3 = 0 AND file_id % 5 < 4 AS rewritten
                  FROM f),
         l AS (SELECT file_id, bytes, n_docs, created_ver, deleted, rewritten
               FROM base
               UNION ALL
               SELECT file_id + 1000, bytes, n_docs, 4, false, false
               FROM base WHERE rewritten)
         SELECT CASE WHEN NOT deleted AND NOT rewritten THEN 'live'
                     WHEN rewritten THEN 'retained'
                     ELSE 'expired' END AS status,
                CAST(created_ver AS BIGINT) AS created_ver,
                CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(n_docs) AS BIGINT) AS n_docs,
                CAST(sum(bytes) AS BIGINT) AS total_bytes,
                CAST(sum(file_id) AS BIGINT) AS file_id_sum
         FROM l GROUP BY 1, 2 ORDER BY status, created_ver""",
    // one-pass aggregate + UNION ALL report; ratios are integer micro
    // divisions with HUGEINT-widened numerators (mirrors the Spark
    // DECIMAL(38,0) widening), bounds report the raw extreme
    "nd_quality_checks" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN text IS NOT NULL AND length(text) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS nid,
                CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                CAST(sum(CASE WHEN lang IN ('en','de','fr','es') THEN 1 ELSE 0 END) AS BIGINT) AS nl,
                CAST(min(n_chars) AS BIGINT) AS mn, CAST(max(n_chars) AS BIGINT) AS mx,
                CAST(sum(n_chars) AS BIGINT) AS snc,
                CAST(sum(CASE WHEN source IS NOT NULL AND length(source) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ns
              FROM documents)
         SELECT * FROM (
           SELECT 'completeness_source' AS check_name, CAST((CAST(ns AS HUGEINT)*1000000)//n AS BIGINT) AS metric, ns = n AS passed FROM a
           UNION ALL
           SELECT 'completeness_text', CAST((CAST(nt AS HUGEINT)*1000000)//n AS BIGINT), nt = n FROM a
           UNION ALL
           SELECT 'compliance_lang', CAST((CAST(nl AS HUGEINT)*1000000)//n AS BIGINT), CAST((CAST(nl AS HUGEINT)*1000000)//n AS BIGINT) >= 900000 FROM a
           UNION ALL
           SELECT 'consistency_n_chars', CAST((CAST(nc AS HUGEINT)*1000000)//n AS BIGINT), nc = n FROM a
           UNION ALL
           SELECT 'max_n_chars', mx, mx <= 1000000 FROM a
           UNION ALL
           SELECT 'mean_n_chars_micro', CAST((CAST(snc AS HUGEINT)*1000000)//n AS BIGINT), CAST((CAST(snc AS HUGEINT)*1000000)//n AS BIGINT) BETWEEN 1000000 AND 1000000000 FROM a
           UNION ALL
           SELECT 'min_n_chars', mn, mn >= 1 FROM a
           UNION ALL
           SELECT 'uniqueness_doc_id', CAST((CAST(nid AS HUGEINT)*1000000)//n AS BIGINT), nid = n FROM a)
         ORDER BY check_name""",
    // the literal single-sort spelling of the interleave the scalable
    // global rank must equal (the q46 discipline); same HUGEINT-widened
    // virtual-time key
    "nd_pipeline_interleave" ->
      """WITH r AS (SELECT doc_id, source,
                CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                     AS BIGINT) AS r
              FROM documents),
         w AS (SELECT source, CAST(count(*) AS BIGINT) AS w
               FROM documents GROUP BY source),
         k AS (SELECT doc_id, r.source AS source,
                      CAST(CAST(r.r AS HUGEINT) * 1000000000000 // w.w
                           AS BIGINT) AS vkey
               FROM r JOIN w ON r.source = w.source)
         SELECT CAST(row_number() OVER (ORDER BY vkey, source, doc_id)
                     AS BIGINT) AS pos,
                doc_id, source, vkey
         FROM k ORDER BY pos""",
    // fold = 60-bit md5 fold of 'fold|id' mod 5 on both engines; the pair
    // set replays the banded-LSH minhash oracle verbatim
    "nd_pipeline_kfold_leakage" -> {
      def foldSql(col: String) = graft.functions.Expressions.Sketch.foldSql(
        15, s"concat_ws('|', 'fold', CAST($col AS VARCHAR))") + " % 5"
      s"""WITH ${Dedup.shingleCtesSql}, ${Dedup.candCtesSql},
         f AS (SELECT ${foldSql("doc_a")} AS fa, ${foldSql("doc_b")} AS fb
               FROM est WHERE est_jaccard >= 0.5),
         g AS (SELECT least(fa, fb) AS fold_lo, greatest(fa, fb) AS fold_hi,
                      CAST(count(*) AS BIGINT) AS n_pairs
               FROM f GROUP BY 1, 2)
         SELECT fold_lo, fold_hi, n_pairs, fold_lo <> fold_hi AS leaks
         FROM g ORDER BY fold_lo, fold_hi"""
    },
    // literal per-bucket window replay of the range-decomposed rank; the
    // bit-length bucket is exact on both engines (bin() string length)
    "nd_pipeline_length_batches" ->
      """WITH d AS (SELECT doc_id,
                CAST(len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' +')) AS BIGINT) AS n_tokens
              FROM documents),
          b AS (SELECT doc_id, n_tokens,
                CAST(length(bin(greatest(n_tokens, 1))) AS BIGINT) AS bucket
              FROM d),
          r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY n_tokens, doc_id) AS rn FROM b),
          g AS (SELECT bucket, (rn - 1) // 8 AS batch, count(*) AS nd,
                       max(n_tokens) AS mx, sum(n_tokens) AS sm
                FROM r GROUP BY 1, 2)
          SELECT bucket, CAST(sum(nd) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_batches,
                 CAST(sum(sm) AS BIGINT) AS total_tokens,
                 CAST(sum(mx * nd - sm) AS BIGINT) AS padded_tokens
          FROM g GROUP BY bucket ORDER BY bucket""",
    // literal descending-quality running-total window replay of the
    // range-decomposed runningTotal; quality is the standard replayed
    // fixed-op-order double expression
    "nd_pipeline_token_budget" ->
      s"""WITH q AS (
            SELECT doc_id, n_tokens_ws,
              least(1.0::DOUBLE, n_tokens_ws / 64.0::DOUBLE) * 0.4::DOUBLE
              + coalesce(1.0::DOUBLE - least(1.0::DOUBLE, n_punct / nullif(CAST(n_tokens_ws AS DOUBLE), 0.0::DOUBLE)), 0.0::DOUBLE) * 0.3::DOUBLE
              + coalesce(least(1.0::DOUBLE, round(n_stop / nullif(n_tokens_ws, 0), 4) * 5), 0.0::DOUBLE) * 0.3::DOUBLE AS quality
            FROM (
              SELECT doc_id,
                CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens_ws,
                CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
                CAST(len(list_filter(string_split_regex(text, ' +'), w -> w IN (${TextAnalysis.stopListSql}))) AS BIGINT) AS n_stop
              FROM documents)),
          r AS (SELECT doc_id, n_tokens_ws,
                       sum(n_tokens_ws) OVER (ORDER BY quality DESC, doc_id
                                              ROWS UNBOUNDED PRECEDING) AS cum
                FROM q)
          SELECT doc_id, n_tokens_ws, CAST(cum AS BIGINT) AS cum_tokens
          FROM r WHERE cum <= 10000 ORDER BY doc_id""",
    // A-ES replay: same md5-fold uniform, one micro-nat ln quantization,
    // positive integer division (// on a positive dividend == Spark div)
    "nd_sample_weighted" ->
      s"""WITH keyed AS (
            SELECT doc_id, n_chars,
                   ${graft.functions.Expressions.Sketch.foldSql(7,
                     "concat_ws('|', 'wrs', CAST(doc_id AS VARCHAR))")}
                     % 999999 + 1 AS u_micro
            FROM documents),
          pri AS (
            SELECT doc_id, n_chars, u_micro,
                   (-CAST(round(ln(u_micro / 1000000.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT)
                    * 1000000) // n_chars AS priority
            FROM keyed)
          SELECT doc_id, n_chars, u_micro, priority
          FROM pri ORDER BY priority, doc_id LIMIT 64""",
    // CCNet replay: the nd_text_lm_score chain (same trigram model, same
    // vocab-5000 tie-break, same round-4 score) composed with the literal
    // ntile(3) the ScalableNtile path refuses to funnel — (lm_score,
    // doc_id) is a total order, so the tercile cut is deterministic
    "nd_pipeline_ccnet" ->
      """WITH grams AS (
           SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS g
           FROM documents JOIN range(1, 100000) t(i)
             ON i <= length(text) - 2),
         model AS (
           SELECT g, ln(CAST(count(*) AS DOUBLE)) AS lf
           FROM grams GROUP BY g ORDER BY count(*) DESC, g LIMIT 5000),
         scored AS (
           SELECT doc_id, round(avg(coalesce(lf, 0.0)), 4) AS lm_score
           FROM grams LEFT JOIN model USING (g)
           GROUP BY doc_id),
         tiled AS (
           SELECT doc_id, lm_score,
                  ntile(3) OVER (ORDER BY lm_score, doc_id) AS tile
           FROM scored)
         SELECT doc_id, lm_score,
                CASE WHEN tile = 3 THEN 'head'
                     WHEN tile = 2 THEN 'middle'
                     ELSE 'tail' END AS ppl_bucket
         FROM tiled ORDER BY doc_id""",
    // upsert replay: same deterministic edit/insert batches, anti-join +
    // union, per-source manifest
    "nd_pipeline_upsert" ->
      """WITH base AS (SELECT doc_id, source, text FROM documents),
         edits AS (SELECT doc_id, source, upper(text) AS text FROM base WHERE doc_id % 7 = 0),
         inserts AS (SELECT doc_id + 1000000 AS doc_id, source, text FROM base WHERE doc_id % 11 = 0),
         ups AS (SELECT * FROM edits UNION ALL SELECT * FROM inserts),
         merged AS (
           SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM ups)
           UNION ALL SELECT * FROM ups)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN doc_id % 7 = 0 AND doc_id < 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
                CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
                CAST(sum(CASE WHEN text = upper(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
                CAST(sum(length(text)) AS BIGINT) AS total_chars
         FROM merged GROUP BY source ORDER BY source""",
    // epoch replay: the permutation is rank under the 60-bit md5 fold of
    // 'epoch|e|doc_id' — the oracle's partitioned row_number IS the spec;
    // the Spark side computes the same rank via runningTotal, no funnel
    "nd_pipeline_epoch" -> {
      val fold = graft.functions.Expressions.Sketch.foldSql(
        15, "concat_ws('|', 'epoch', t.e, doc_id)")
      s"""WITH e AS (
           SELECT doc_id, t.e AS epoch, $fold AS skey
           FROM documents CROSS JOIN range(0, 3) t(e))
         SELECT epoch,
                CAST(row_number() OVER (PARTITION BY epoch ORDER BY skey, doc_id) AS BIGINT) AS pos,
                doc_id
         FROM e ORDER BY epoch, pos"""
    },
    // chunk replay: same canonical split, same integer chunk-count formula,
    // same slice windows, md5 of the space-joined chunk
    "nd_pipeline_chunks" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' +') AS w
           FROM documents),
         c AS (
           SELECT doc_id, r.i AS chunk_id, w[(r.i*24+1):(r.i*24+32)] AS cw
           FROM t CROSS JOIN range(0, 10000) r(i)
           WHERE r.i < greatest(1, (len(w) - 8 + 23) // 24))
         SELECT doc_id, chunk_id, CAST(len(cw) AS BIGINT) AS chunk_tokens,
                md5(array_to_string(cw, ' ')) AS chunk_key
         FROM c ORDER BY doc_id, chunk_id""",
    // boilerplate replay: the same chunk construction at size 8 / step 8,
    // per-(source, chunk_key) distinct-doc counts, left join back, one
    // IEEE long/long division for the fraction
    "nd_dedup_boilerplate" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' +') AS w
           FROM documents),
         c AS (
           SELECT doc_id, r.i AS chunk_id, w[(r.i*8+1):(r.i*8+8)] AS cw
           FROM t CROSS JOIN range(0, 10000) r(i)
           WHERE r.i < greatest(1, (len(w) + 7) // 8)),
         k AS (
           SELECT c.doc_id, d.source, CAST(len(cw) AS BIGINT) AS chunk_tokens,
                  md5(array_to_string(cw, ' ')) AS chunk_key
           FROM c JOIN documents d USING (doc_id)),
         b AS (
           SELECT source, chunk_key FROM k
           GROUP BY source, chunk_key
           HAVING count(DISTINCT doc_id) >= 2)
         SELECT k.doc_id,
                count(*) AS n_chunks,
                CAST(count(b.chunk_key) AS BIGINT) AS n_boiler,
                CAST(sum(CASE WHEN b.chunk_key IS NULL THEN k.chunk_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
                CAST(count(b.chunk_key) AS BIGINT) / CAST(count(*) AS BIGINT) AS boiler_frac
         FROM k LEFT JOIN b ON k.source = b.source AND k.chunk_key = b.chunk_key
         GROUP BY k.doc_id ORDER BY k.doc_id""",
    // DSIR replay: quality gate (same fp order as nd_text_quality), token
    // md5-fold buckets, add-one-smoothed single-log ratio quantized to
    // integer micro-nats per bucket, exact integer sum per document
    "nd_pipeline_dsir" ->
      s"""WITH q AS (
            SELECT doc_id, text,
              least(1.0::DOUBLE, n_tokens_ws / 64.0::DOUBLE) * 0.4::DOUBLE
              + coalesce(1.0::DOUBLE - least(1.0::DOUBLE, n_punct / nullif(CAST(n_tokens_ws AS DOUBLE), 0.0::DOUBLE)), 0.0::DOUBLE) * 0.3::DOUBLE
              + coalesce(least(1.0::DOUBLE, round(n_stop / nullif(n_tokens_ws, 0), 4) * 5), 0.0::DOUBLE) * 0.3::DOUBLE AS quality
            FROM (
              SELECT doc_id, text,
                CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens_ws,
                CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
                CAST(len(list_filter(string_split_regex(text, ' +'), w -> w IN (${TextAnalysis.stopListSql}))) AS BIGINT) AS n_stop
              FROM documents)),
          tok AS (
            SELECT doc_id, quality >= 0.5::DOUBLE AS is_target,
                   ${graft.functions.Expressions.Sketch.foldSql(7, "concat_ws('|', 'dsir', u.tok)")} % 1024 AS b
            FROM q, unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' +')) AS u(tok)),
          cnt AS (
            SELECT b, count(*) AS c_raw,
                   sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
            FROM tok GROUP BY b),
          tot AS (
            SELECT count(*) AS n_raw,
                   sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n_tgt
            FROM tok),
          model AS (
            SELECT b,
              CAST(round(ln(CAST((c_tgt + 1) * (n_raw + 1024) AS DOUBLE)
                            / CAST((c_raw + 1) * (n_tgt + 1024) AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS lrq
            FROM cnt CROSS JOIN tot)
          SELECT t.doc_id, count(*) AS n_tokens,
                 CAST(sum(m.lrq) AS BIGINT) AS dsir_logw_micro,
                 CAST(sum(m.lrq) AS BIGINT) > 0 AS selected
          FROM tok t JOIN model m USING (b)
          GROUP BY t.doc_id ORDER BY t.doc_id""",
    "nd_pipeline_shard" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens,
                  FOLD7 % 8 AS shard
           FROM documents)
         SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM t GROUP BY shard ORDER BY shard"""
        .replace("FOLD7", "CAST(list_sum(list_transform(range(1,8), fi -> (strpos('0123456789abcdef', substr(md5(concat_ws('|', 'shard', doc_id)), fi, 1)) - 1)::BIGINT << (4*(7-fi)))) AS BIGINT)"),
    // packing replay: DuckDB's literal running-total window (the plan the
    // scalable two-phase version refuses to run) must yield identical
    // sequence assignments — integer arithmetic end to end
    "nd_pipeline_packing" ->
      """WITH t AS (
           SELECT doc_id, CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
                  sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t),
         b AS (SELECT CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id, n_tokens FROM c)
         SELECT seq_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM b GROUP BY seq_id ORDER BY seq_id""",
    // mixture replay: exact counts, sqrt-based rate (IEEE-correctly-rounded
    // on both engines), md5-fold keep hash — integer gate end to end
    "nd_pipeline_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
         m AS (SELECT max(n_total) AS nmax FROM c),
         r AS (SELECT lang, n_total,
                      least(1.0::DOUBLE, 0.5::DOUBLE * sqrt(CAST(nmax AS DOUBLE) / CAST(n_total AS DOUBLE))) AS rate
               FROM c CROSS JOIN m),
         kept AS (
           SELECT lang, count(*) AS n_kept
           FROM documents d JOIN r USING (lang)
           WHERE FOLD7 % 1000000 < CAST(floor(rate * 1000000.0::DOUBLE) AS BIGINT)
           GROUP BY lang)
         SELECT lang, n_total, n_kept, rate
         FROM kept JOIN r USING (lang)
         ORDER BY lang"""
        .replace("FOLD7", "CAST(list_sum(list_transform(range(1,8), fi -> (strpos('0123456789abcdef', substr(md5(concat_ws('|', 'mix', d.doc_id)), fi, 1)) - 1)::BIGINT << (4*(7-fi)))) AS BIGINT)"),
    "nd_pipeline_stratified" ->
      s"""WITH q AS (
            SELECT doc_id,
              least(1.0::DOUBLE, n_tokens_ws / 64.0::DOUBLE) * 0.4::DOUBLE
              + coalesce(1.0::DOUBLE - least(1.0::DOUBLE, n_punct / nullif(CAST(n_tokens_ws AS DOUBLE), 0.0::DOUBLE)), 0.0::DOUBLE) * 0.3::DOUBLE
              + coalesce(least(1.0::DOUBLE, round(n_stop / nullif(n_tokens_ws, 0), 4) * 5), 0.0::DOUBLE) * 0.3::DOUBLE AS quality
            FROM (
              SELECT doc_id,
                CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens_ws,
                CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
                CAST(len(list_filter(string_split_regex(text, ' +'), w -> w IN (${TextAnalysis.stopListSql}))) AS BIGINT) AS n_stop
              FROM documents)),
          b AS (
            SELECT doc_id,
              CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS BIGINT) AS decile
            FROM q)
          SELECT decile, count(*) AS n_total,
                 CAST(sum(CASE WHEN FOLD7 % 100 < decile * 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          FROM b GROUP BY decile ORDER BY decile""".replace("FOLD7", "CAST(list_sum(list_transform(range(1,8), fi -> (strpos('0123456789abcdef', substr(md5(concat_ws('|', 'strat', doc_id)), fi, 1)) - 1)::BIGINT << (4*(7-fi)))) AS BIGINT)"),
    "nd_pipeline_curation" ->
      s"""WITH ${Dedup.shingleCtesSql}, ${Dedup.candCtesSql},
          quality AS (
            SELECT doc_id FROM (
              SELECT doc_id,
                least(1.0::DOUBLE, n_tokens_ws / 64.0::DOUBLE) * 0.4::DOUBLE
                      + coalesce(1.0::DOUBLE - least(1.0::DOUBLE, n_punct / nullif(CAST(n_tokens_ws AS DOUBLE), 0.0::DOUBLE)), 0.0::DOUBLE) * 0.3::DOUBLE
                      + coalesce(least(1.0::DOUBLE, round(n_stop / nullif(n_tokens_ws, 0), 4) * 5), 0.0::DOUBLE) * 0.3::DOUBLE AS quality
              FROM (
                SELECT doc_id,
                  CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens_ws,
                  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
                  CAST(len(list_filter(string_split_regex(text, ' +'), w -> w IN (${TextAnalysis.stopListSql}))) AS BIGINT) AS n_stop
                FROM documents))
            WHERE quality >= 0.4::DOUBLE),
          keepers AS (
            SELECT min(doc_id) AS doc_id
            FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS k
                  FROM documents)
            GROUP BY k),
          losers AS (SELECT DISTINCT doc_b AS doc_id FROM est WHERE est_jaccard >= 0.8)
          SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars
          FROM documents
          WHERE doc_id IN (SELECT doc_id FROM quality)
            AND doc_id IN (SELECT doc_id FROM keepers)
            AND doc_id NOT IN (SELECT doc_id FROM losers)
          GROUP BY lang ORDER BY lang""")
}
