package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Expressions
import graft.plans.Caching

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two paths:
  *  - **brute-force top-k** — the correctness baseline: broadcast the (small)
  *    query set against the corpus, one fused-loop cosine per pair
  *    (native expression), per-query top-k via window rank. Corpus side
  *    never shuffles until the tiny (n_queries × corpus partial top-k)
  *    aggregate; at 100 TB this is a map-side scan + TakeOrdered per query.
  *  - **LSH-bucketed** — the scale path: random-hyperplane signature,
  *    queries probe only their bucket (and mirror buckets by flipping one
  *    bit), turning O(|Q|·|C|) into O(|Q|·bucket_size).
  */
object Similarity {

  /** EMBEDDING-QUALITY audit — the sanity screen before any ANN or
    * semantic stage is trusted: per label, vector count, dimensionality
    * agreement, zero/degenerate vectors, and the squared-norm envelope.
    * Exactness discipline: each component quantizes ONCE to integer
    * micro-units (`round(x·1e6)` — float→double promotion is exact; the
    * round is the Money-cents rule, tie behavior identical on both
    * engines), so squared norms are exact integer sums and nothing float
    * accumulates anywhere. One map-side quantization pass + one (label)
    * hash aggregate; the corpus-scale sum widens to DECIMAL(38,0)/HUGEINT
    * before the integral mean division. */
  def embedQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = transform($"embedding", x => round(x.cast("double") * 1000000, 0).cast("long"))
    embeddings(s, d)
      .select($"label", size($"embedding").cast("long").as("dim"),
              aggregate(q, lit(0L), (acc, v) => acc + v * v).as("n2"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
           countDistinct($"dim").as("n_dims"),
           min($"dim").as("min_dim"),
           sum(when($"n2" === 0L, 1L).otherwise(0L)).as("n_zero"),
           min($"n2").as("min_n2"),
           max($"n2").as("max_n2"),
           expr("CAST(sum(CAST(n2 AS DECIMAL(38,0))) div count(1) AS BIGINT)")
             .as("avg_n2"))
      .orderBy($"label")
  }

  /** Brute-force cosine top-k for query vectors `vec_id < nQueries`. */
  def knnBrute(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val q = vecs.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val scored = vecs.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
              Expressions.cosineSim($"qv", $"v").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", round($"sim", 6).as("cos_sim"), $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** RADIUS (range) search — every neighbor within a cosine-similarity
    * threshold, the other half of the vector-search API surface (top-k
    * asks "the best k however far"; range asks "everything this close",
    * the primitive behind dedup-by-threshold and recall-oriented
    * retrieval). Strictly BETTER scale shape than top-k: the broadcast
    * query scan is the same, but there is no per-query window at all —
    * the threshold is a map-side filter, so the operator is one
    * codegen'd scan projecting only matches. The similarity is
    * micro-quantized (`round(sim·1e6)` — the Money-cents rule) BEFORE
    * the threshold compare so the boundary predicate is an integer
    * compare on both engines, never a float `>=` at an epsilon edge. */
  def knnRange(s: SparkSession, d: String, nQueries: Int = 5,
      tauMicro: Long = 200000L): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val q = vecs.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    vecs.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(Expressions.cosineSim($"qv", $"v") * 1000000, 0).cast("long")
          .as("sim_micro"))
      .filter($"sim_micro" >= tauMicro)
      .orderBy($"query_id", $"neighbor_id")
  }

  /** LSH-bucketed ANN: L independent hash tables (different hyperplane
    * sets), each probed at the query's bucket plus all one-bit flips
    * (multi-probe). Candidates = collide in any table; rank by exact cosine
    * within candidates only. */
  def knnLsh(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      planes: Int = 6, tables: Int = 4): DataFrame = {
    import s.implicits._
    val base = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val corpus = base.select($"vec_id", $"v",
      posexplode(array((0 until tables).map(t =>
        Dedup.embeddingBucket($"v", 64, planes, t)): _*)).as(Seq("tbl", "bucket")))
    val q = base.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"),
        posexplode(array((0 until tables).map(t =>
          Dedup.embeddingBucket($"v", 64, planes, t)): _*)).as(Seq("tbl", "qbucket")))
      // multi-probe: own bucket + flip each bit once
      .select($"query_id", $"qv", $"tbl",
        explode(array((-1 until planes).map { i =>
          if (i < 0) $"qbucket" else $"qbucket".bitwiseXOR(lit(1L << i))
        }: _*)).as("probe"))
    val c = corpus.as("c"); val qq = q.as("q")
    val scored = c.join(qq,
        col("c.tbl") === col("q.tbl") && col("c.bucket") === col("q.probe") &&
        col("c.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
              Expressions.cosineSim(col("q.qv"), col("c.v")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", round($"sim", 6).as("cos_sim"), $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** IVF-style ANN: a coarse quantizer (nLists centroids = deterministic
    * seed vectors refined by Lloyd steps, all as DataFrame ops) assigns
    * every vector to an inverted list; queries probe their nProbe nearest
    * lists and rank exactly within those lists only. The scan cost drops
    * from O(|Q|·|corpus|) to O(|Q|·(nProbe/nLists)·|corpus|); at 100 TB the
    * assignment is one map-side pass (centroids broadcast) and each probe
    * touches only its list partitions. */
  /** Assign every vector of `vecs` to its nearest centroid (tie-break by
    * smallest list_id). The centroid table is index METADATA (nLists ×
    * dims doubles, ≤ ~1 MB) — it is localized once and inlined as an
    * ARRAY LITERAL, so assignment is one codegen'd per-row argmax with no
    * join, no row expansion, and no re-aggregation. The earlier
    * broadcast-join + `max_by` formulation materialized |corpus| × nLists
    * scored rows through a partial aggregate whose hash state carried the
    * full vectors; at the AnnScale corpus (1M × 64, 256 lists) that made
    * the index build 256M-row-per-pass work — the literal argmax visits
    * the same nLists candidates per row inside one projection instead.
    * Semantics are bit-identical: same cosineSim expression, and
    * `array_max` over `struct(sim, -list_id)` is the same (NaN-greatest,
    * lexicographic) ordering `max_by(struct(sim, nl))` used. */
  /** Centroid-table size above which the inlined-literal argmax falls
    * back to the broadcast-join form: the literal embeds nLists × dims
    * doubles into ONE expression tree, and well before the old 65536
    * guard codegen/Janino would die on the multi-hundred-MB tree (r14
    * verdict) — 2048 × 64 doubles ≈ 1 MB of literals stays comfortably
    * inside codegen limits while covering every real quantizer here. */
  private[graft] val MaxLiteralCentroids = 2048
  /** Upper sanity bound on any centroid table: past it the frame is not a
    * quantizer (a corpus passed by mistake) and fails here, loudly, instead
    * of later in the broadcast join as a size or memory error. */
  private[graft] val MaxCentroids = 65536

  /** The first `MaxLiteralCentroids + 1` centroid rows (more than
    * `MaxLiteralCentroids` selects the join form), after checking the
    * table against [[MaxCentroids]]. */
  private def localCentroids(cent: DataFrame): Array[org.apache.spark.sql.Row] = {
    val local = cent.limit(MaxLiteralCentroids + 1).collect()
    if (local.length > MaxLiteralCentroids) {
      val rows = cent.limit(MaxCentroids + 1).count()
      require(rows <= MaxCentroids,
        s"centroid table has more than $MaxCentroids rows: not a quantizer table")
    }
    local
  }

  private[graft] def coarseAssign(vecs: DataFrame, cent: DataFrame): DataFrame = {
    // localization is bounded: a centroid table is nLists rows by
    // construction; a larger table switches to the broadcast-join
    // assignment (same values — GraphAnnSpec pins the equivalence)
    val local = localCentroids(cent)
    if (local.length <= MaxLiteralCentroids)
      coarseAssignLit(vecs, local.map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
    else coarseAssignJoin(vecs, cent)
  }

  private[graft] def coarseAssignLit(vecs: DataFrame,
      cent: Seq[(Long, Seq[Double])]): DataFrame = {
    import vecs.sparkSession.implicits._
    require(cent.nonEmpty, "coarseAssignLit: empty centroid table")
    val centArr = array(cent.sortBy(_._1).map { case (id, cv) =>
      struct(lit(id).as("list_id"), typedLit(cv).as("cv")) }: _*)
    val best = array_max(transform(centArr, c =>
      struct(Expressions.cosineSim($"v", c("cv")).as("sim"),
             (-c("list_id")).as("nl"))))
    vecs.select($"vec_id", $"v", (-best("nl")).as("list_id"))
  }

  /** Top-`n` nearest lists PER CORPUS VECTOR under a materialized
    * quantizer — [[coarseAssignLit]]'s argmax generalized to a literal
    * top-n, still one codegen'd projection per row (array_sort over the
    * nLists-struct literal; no join, no corpus-scale window — the same
    * reason the argmax form replaced the broadcast-join + max_by one).
    * Ordering matches the argmax exactly: (sim DESC, list_id ASC).
    * Used by [[knnGraph]]'s index build for MULTI-ASSIGNMENT candidate
    * generation — a vector near a list boundary contributes pairs to
    * both sides, which is where a single-assignment kNN graph loses its
    * cross-list edges (and with them, descent recall). */
  private[graft] def coarseAssignTopN(vecs: DataFrame, cent: DataFrame,
      n: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val local = localCentroids(cent)
    if (local.length > MaxLiteralCentroids)
      return coarseAssignTopNJoin(vecs, cent, n)
    val centArr = array(local.map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).map { case (id, cv) =>
        struct(lit(id).as("list_id"), typedLit(cv).as("cv")) }: _*)
    val scored = transform(centArr, c =>
      struct(Expressions.cosineSim($"v", c("cv")).as("sim"),
             (-c("list_id")).as("nl")))
    // array_sort ascending by (sim, nl); reversed = (sim DESC, nl DESC)
    // = (sim DESC, list_id ASC) — the argmax tie order
    val top = slice(reverse(array_sort(scored)), 1, n)
    vecs.select($"vec_id", $"v",
      explode(transform(top, t => -t("nl"))).as("list_id"))
  }

  /** Broadcast-join + window fallback of [[coarseAssignTopN]] for
    * centroid tables past [[MaxLiteralCentroids]] — same (sim DESC,
    * list_id ASC) top-n set per vector, row-for-row. */
  private[graft] def coarseAssignTopNJoin(vecs: DataFrame, cent: DataFrame,
      n: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"list_id")
    vecs.join(broadcast(cent))
      .select($"vec_id", $"v", $"list_id",
              Expressions.cosineSim($"v", $"cv").as("sim"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= n)
      .select($"vec_id", $"v", $"list_id")
  }

  /** The join-formulated assignment — the un-materialized Lloyd chain
    * ([[lloydCentroidsLazy]], where the centroid side is a lazy frame
    * that cannot be inlined without forcing it) and the
    * past-[[MaxLiteralCentroids]] fallback of [[coarseAssign]]. */
  private[graft] def coarseAssignJoin(vecs: DataFrame, cent: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.join(broadcast(cent))
      .select($"vec_id", $"v", $"list_id",
              Expressions.cosineSim($"v", $"cv").as("sim"))
      .groupBy($"vec_id")
      .agg(max_by(struct($"v", $"list_id"),
                  struct($"sim", (-$"list_id").as("nl"))).as("m"))
      .select($"vec_id", $"m.v".as("v"), $"m.list_id".as("list_id"))
  }

  /** Coarse quantizer: seeds = first nLists vectors refined by
    * `iterations` Lloyd steps. Each step is one broadcast-assign map pass
    * plus one [[graft.functions.VectorAvg]] aggregate — whole vectors
    * reduce to O(partitions × lists) partial `(sums, n)` states, ONE input
    * row per vector (the earlier posexplode formulation shuffled 64 rows
    * per vector, which would dominate the index build at corpus scale). */
  /** The un-materialized Lloyd chain — exposed for plan assertions. */
  private[graft] def lloydCentroidsLazy(vecs: DataFrame, nLists: Int,
      iterations: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val vecAvg = udaf(new graft.functions.VectorAvg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
    var cent = vecs.filter($"vec_id" < nLists)
      .select($"vec_id".as("list_id"), $"v".as("cv"))
    for (_ <- 1 to iterations)
      cent = coarseAssignJoin(vecs, cent)
        .groupBy($"list_id").agg(vecAvg($"v").as("cv"))
    cent
  }

  /** Materialized Lloyd refinement — the entry point every index build
    * actually uses. Iterates EAGERLY: each step localizes the (bounded,
    * metadata-scale) centroid frame and re-assigns through the
    * [[coarseAssignLit]] argmax, so one Lloyd step costs one corpus map
    * pass + one |lists|-group vector-average aggregate — no join, and the
    * step chain never re-executes earlier steps (the lazy chain re-ran
    * the whole prefix per consumer before its final collect). Output rows
    * are bit-identical to [[lloydCentroidsLazy]]: assignments agree
    * per-vector (same cosine, same ordering), so each step's vecAvg sees
    * the same groups. */
  private[graft] def lloydCentroids(vecs: DataFrame, nLists: Int,
      iterations: Int = 1): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val vecAvg = udaf(new graft.functions.VectorAvg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
    val seeds = vecs.filter($"vec_id" < nLists)
      .select($"vec_id".as("list_id"), $"v".as("cv"))
    var schema = seeds.schema
    var local = seeds.collect()
    for (_ <- 1 to iterations) {
      val step = coarseAssignLit(vecs,
          local.map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
        .groupBy($"list_id").agg(vecAvg($"v").as("cv"))
      schema = step.schema
      local = step.collect()
    }
    s.createDataFrame(java.util.Arrays.asList(local: _*), schema)
  }

  /** Top-`nProbe` nearest centroid lists per query vector. */
  private[graft] def probeLists(queries: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    import queries.sparkSession.implicits._
    val qScored = queries
      .join(broadcast(centroids))
      .select($"query_id", $"qv", $"list_id",
              Expressions.cosineSim($"qv", $"cv").as("csim"))
    val wq = Window.partitionBy($"query_id").orderBy($"csim".desc, $"list_id")
    qScored.withColumn("rn", row_number().over(wq))
      .filter($"rn" <= nProbe).select($"query_id", $"qv", $"list_id")
  }

  /** Exact rank within candidate lists → top-k per query. */
  private[graft] def rankWithin(cand: DataFrame, k: Int): DataFrame = {
    import cand.sparkSession.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", round($"sim", 6).as("cos_sim"), $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** Default Lloyd refinement depth for the IVF quantizer — shared by the
    * inline path and [[IvfIndex.build]] so the two stay comparable. */
  val DefaultLloydIters = 2

  def knnIvf(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      nLists: Int = 16, nProbe: Int = 4,
      lloydIters: Int = DefaultLloydIters): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val centroids = lloydCentroids(vecs, nLists, lloydIters)
    val lists = coarseAssign(vecs, centroids)
    val probes = probeLists(
      vecs.filter($"vec_id" < nQueries).select($"vec_id".as("query_id"), $"v".as("qv")),
      centroids, nProbe)
    val cand = lists.join(probes, Seq("list_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
              Expressions.cosineSim($"qv", $"v").as("sim"))
    rankWithin(cand, k)
  }

  /** INCREMENTAL IVF — the daily-ingest serving shape
    * ([[IvfIndex.append]] as an oracle-paired query): the coarse
    * quantizer is trained on the HISTORICAL corpus only (`vec_id < cut`)
    * and frozen; the new batch is assigned under the frozen centroids in
    * one broadcast map pass (never retrained), and queries search the
    * union. Recall degrades only as the batch drifts from the training
    * distribution — the rebuild-cadence trade every production vector
    * store makes. Spec-proven identical to physically appending to a
    * persisted [[IvfIndex]]. */
  def knnIvfIncremental(s: SparkSession, d: String, cut: Long = 250,
      nQueries: Int = 5, k: Int = 5, nLists: Int = 16, nProbe: Int = 4,
      lloydIters: Int = DefaultLloydIters): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val centroids = lloydCentroids(vecs.filter($"vec_id" < cut), nLists, lloydIters)
    val lists = coarseAssign(vecs, centroids)
    val probes = probeLists(
      vecs.filter($"vec_id" < nQueries).select($"vec_id".as("query_id"), $"v".as("qv")),
      centroids, nProbe)
    val cand = lists.join(probes, Seq("list_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
              Expressions.cosineSim($"qv", $"v").as("sim"))
    rankWithin(cand, k)
  }

  /** GRAPH-INDEX HEALTH (nd_knn_graph_health) — the maintenance view
    * that completes the graph-ANN lifecycle the way [[ivfHealth]]
    * completes IVF's: a neighbor graph degrades silently (every query
    * still "works") when it fragments or under-connects, so a vector
    * store audits, per index build:
    *
    *  - degree profile: out-degree min/max, nodes saturated at the cap,
    *    WEAK nodes (out-degree < m/2, under-connected → poor expansion),
    *    isolated nodes (no out-edges at all — unreachable as waypoints);
    *  - reciprocity: directed edges whose reverse survived the degree
    *    cap — descent ENTERS a region through reverse links, so low
    *    reciprocity predicts one-way funnels;
    *  - REACHABILITY: how many nodes a `hops`-bounded BFS from the
    *    entry-medoid set can reach at all — the hard ceiling on recall
    *    (a node outside this set can never be returned by any query);
    *  - two retrain/re-link alarms, integer-exact: `frag_alarm` when
    *    reachable@hops < 95% of nodes, `weak_alarm` when weak+isolated
    *    nodes exceed 5%.
    *
    * Scale shape: the build is [[graphBuild]] (bucket-bounded); the BFS
    * is `hops` equi-joins of the edge table against a node-id frontier
    * frame (both shuffle on the id key — the star-contraction
    * discipline; nothing broadcasts a |V|-row set), frontier state
    * crossing rounds through iterCheckpoint. Degree/reciprocity are one
    * aggregate and one self-equi-join over edges. Output: one row. */
  def knnGraphHealth(s: SparkSession, d: String, nLists: Int = 16,
      m: Int = 6, degCap: Int = 8, buildProbes: Int = 2, hops: Int = 4,
      lloydIters: Int = DefaultLloydIters): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val centroids = lloydCentroids(vecs, nLists, lloydIters)
    val edges = Caching.iterCheckpoint(
      graphBuild(vecs, centroids, m, degCap, buildProbes))
    val nNodes = vecs.count()
    // BFS from the entry set, one equi-join per hop. The initial frontier
    // IS the distinct entry set — count it off the checkpointed frame
    // before the loop mutates `reach`, instead of re-running the
    // corpus-wide medoid assignment a second time just for nEntry
    // (round-13 ADVICE: graphMedoids was evaluated twice).
    // Frontier state crosses hops through detachSink: unlike knnGraph's
    // budget-bounded visited set this frontier IS |V|-scale in the limit,
    // which is exactly detachSink's contract — local relation while it
    // fits maxLocalRows, automatic iterCheckpoint past it (the round-7
    // high-cardinality-sink guard), so the discipline stays scale-safe
    // while skipping the per-hop checkpoint job at bench scale.
    var reach = Caching.detachSink(
      graphMedoids(vecs, centroids).select($"entry_id".as("node")).distinct())
    val nEntry = reach.count()
    for (_ <- 1 to hops) {
      val next = Caching.detachSink(
        reach.unionByName(
            edges.join(reach, $"src" === $"node").select($"dst".as("node")))
          .distinct())
      Caching.freeCheckpoint(reach) // no-op on the local-relation path
      reach = next
    }
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    // n_edges = Σ per-source out-degree — read off the same aggregate
    // instead of a separate count() pass over the edge table
    // sums coalesce to 0 so a degenerate EMPTY edge table reports
    // n_edges = 0 (matching the count() form this replaced) instead of
    // propagating NULL into the n_weak arithmetic (r14 ADVICE)
    val degStats = deg.agg(
      min($"d").as("min_deg"), max($"d").as("max_deg"),
      coalesce(sum(when($"d" === degCap, 1L).otherwise(0L)), lit(0L)).as("n_at_cap"),
      coalesce(sum(when($"d" < m / 2, 1L).otherwise(0L)), lit(0L)).as("n_weak_deg"),
      count(lit(1)).as("n_with_edges"),
      coalesce(sum($"d"), lit(0L)).as("n_edges_sum"))
    val nRecip = edges.as("x").join(edges.as("y"),
      col("x.src") === col("y.dst") && col("x.dst") === col("y.src")).count()
    val nReach = reach.count()
    val row = degStats
      .withColumn("n_nodes", lit(nNodes))
      .withColumn("n_edges", $"n_edges_sum")
      .withColumn("n_isolated", lit(nNodes) - $"n_with_edges")
      .withColumn("n_weak", $"n_weak_deg" + $"n_isolated")
      .withColumn("n_recip", lit(nRecip))
      .withColumn("n_entry", lit(nEntry))
      .withColumn("n_reachable", lit(nReach))
      .withColumn("frag_alarm", lit(nReach) * 20 < lit(nNodes) * 19)
      .withColumn("weak_alarm", $"n_weak" * 20 > lit(nNodes))
      .select($"n_nodes", $"n_edges", $"min_deg", $"max_deg", $"n_at_cap",
        $"n_weak", $"n_isolated", $"n_recip", $"n_entry", $"n_reachable",
        $"frag_alarm", $"weak_alarm")
    val frozen = reach
    Caching.detach(row, () => {
      Caching.freeCheckpoint(edges); Caching.freeCheckpoint(frozen)
    })
  }

  /** Drift threshold for [[ivfHealth]]: the appended batch's mean
    * assignment similarity falling more than 0.02 (20 000 micro) below
    * the training corpus's means the frozen quantizer no longer fits the
    * ingest distribution. */
  val IvfDriftMicro = 20000L

  /** IVF INDEX HEALTH — the maintenance view that completes the ANN
    * lifecycle (build → [[IvfIndex.append]] → monitor → retrain): under
    * the FROZEN quantizer (trained on `vec_id < cut` only, exactly
    * [[knnIvfIncremental]]'s split), report per inverted list the
    * base/appended row counts, each slice's mean assignment similarity in
    * exact micro units, and the list's share of the corpus — plus the two
    * global alarms a vector store actually schedules retraining on:
    *
    *  - `skew_alarm`: the largest list holds > 2× the uniform share
    *    (probe cost ∝ largest probed list, so skew is a latency alarm);
    *  - `drift_alarm`: the appended batch's mean assignment similarity
    *    sits ≥ [[IvfDriftMicro]] below the training corpus's (new data no
    *    longer resembles what the centroids were trained on — recall
    *    decays even though every query "works").
    *
    * `retrain` = either alarm. All statistics are integral (per-row sims
    * rounded to micro BEFORE summing, means by integral division), so the
    * manifest is engine-exact and oracle-replayable.
    *
    * Scale shape: one corpus map pass (literal-centroid argmax, the
    * [[coarseAssignLit]] shape) emitting only `(vec_id, list_id,
    * sim_micro)` — the vectors themselves never shuffle — then one
    * nLists-group aggregate; the alarm frame is a crossJoin of a one-row
    * aggregate OVER the already-aggregated list frame (metadata, never a
    * second corpus scan — the [[Pii.kAnonymity]] discipline). */
  def ivfHealth(s: SparkSession, d: String, cut: Long = 250,
      nLists: Int = 16, lloydIters: Int = DefaultLloydIters): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val centroids = lloydCentroids(vecs.filter($"vec_id" < cut), nLists, lloydIters)
    val local = centroids.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // the argmax of coarseAssignLit, keeping the winning similarity and
    // DROPPING the vector — the health scan's shuffle carries 3 scalars
    val centArr = array(local.sortBy(_._1).map { case (id, cv) =>
      struct(lit(id).as("list_id"), typedLit(cv).as("cv")) }: _*)
    val best = array_max(transform(centArr, c =>
      struct(Expressions.cosineSim($"v", c("cv")).as("sim"),
             (-c("list_id")).as("nl"))))
    val perList = vecs
      .select($"vec_id", (-best("nl")).as("list_id"), best("sim").as("sim"))
      .select($"vec_id", $"list_id",
        expr("CAST(round(sim * 1000000) AS BIGINT)").as("sim_micro"))
      .groupBy($"list_id")
      .agg(sum(when($"vec_id" < cut, 1L).otherwise(0L)).as("n_base"),
           sum(when($"vec_id" >= cut, 1L).otherwise(0L)).as("n_new"),
           sum(when($"vec_id" < cut, $"sim_micro")).as("base_sum"),
           sum(when($"vec_id" >= cut, $"sim_micro")).as("new_sum"))
    val tot = perList.agg(
      sum($"n_base" + $"n_new").as("n_total"),
      max($"n_base" + $"n_new").as("max_list"),
      sum($"base_sum").as("tb"), sum($"n_base").as("nb"),
      sum($"new_sum").as("tn"), sum($"n_new").as("nn"))
    perList.crossJoin(tot).select(
        $"list_id", $"n_base", $"n_new",
        expr("CASE WHEN n_base > 0 THEN base_sum div n_base END")
          .as("base_sim_micro"),
        expr("CASE WHEN n_new > 0 THEN new_sum div n_new END")
          .as("new_sim_micro"),
        expr("CAST(1000000 * (n_base + n_new) div n_total AS BIGINT)")
          .as("share_micro"),
        expr(s"max_list * $nLists > 2 * n_total").as("skew_alarm"),
        expr(s"CASE WHEN nb > 0 AND nn > 0 THEN tb div nb - tn div nn >= $IvfDriftMicro ELSE false END")
          .as("drift_alarm"))
      .withColumn("retrain", $"skew_alarm" || $"drift_alarm")
      .orderBy($"list_id")
  }

  /** Metadata-filtered ANN — the retrieval-pipeline shape "top-k among
    * vectors satisfying a predicate". The filter lands on the corpus scan
    * (PushedFilters on `label`), so candidates shrink BEFORE any distance
    * is computed; at 100 TB a selective filter turns a full-corpus sweep
    * into a fraction of it, independent of the index strategy. */
  def knnFiltered(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      label: Int = 1): DataFrame = {
    import s.implicits._
    val corpus = embeddings(s, d).filter($"label" === label)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val q = embeddings(s, d).filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), transform($"embedding", _.cast("double")).as("qv"))
    val scored = corpus.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
              Expressions.cosineSim($"qv", $"v").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", round($"sim", 6).as("cos_sim"), $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** Brute-force top-k over an int8 SCALAR-QUANTIZED corpus — the
    * embedding-compression stage of a training-data pipeline (4× memory
    * reduction, queries stay full-precision / asymmetric).
    *
    * Build: one [[graft.functions.VectorMinMax]] pass gives per-dimension
    * ranges (exact, mergeable, collected once as metadata); codes are
    * `floor((x−min)/scale + 0.5)` clamped to 0..255 — `floor` on the
    * binary value is deterministic in every engine, unlike `round`, so
    * the whole quantize→dequantize→cosine pipeline is oracle-replayable
    * value-for-value. Scoring dequantizes on the fly (`min + code·scale`)
    * so the stored corpus is 1 byte/dim; ranking quality is checked
    * against the full-precision baseline in SimilaritySpec. */
  /** The SQ8 dequantized corpus `(vec_id, dv)` shared by [[knnSq8]] and
    * [[ragRerank]]: per-dimension min/scale are ONE collected metadata row
    * (the same contract as [[lloydCentroids]]), inlined as literals so the
    * dequantize+score pass is a single map-only scan — at 100 TB the int8
    * codes are what the store actually persists (4× smaller scans) and
    * this expression is the read path. */
  private def sq8Dequantized(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    val mm = vecs.select(udaf(new graft.functions.VectorMinMax,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())($"v").as("mm"))
      .head().getStruct(0)
    val (mins, maxs) = (mm.getSeq[Double](0), mm.getSeq[Double](1))
    val minsL = array(mins.map(lit): _*)
    val scaleL = array(mins.indices.map(i => lit((maxs(i) - mins(i)) / 255.0)): _*)
    // dequantized corpus: x' = min + clamp(floor((x-min)/scale + 0.5)) * scale
    vecs.select($"vec_id",
      zip_with($"v", sequence(lit(1), lit(mins.length)), (x, i) => {
        val mn = element_at(minsL, i.cast("int"))
        val sc = element_at(scaleL, i.cast("int"))
        when(sc === 0.0, mn)
          .otherwise(mn + least(lit(255.0), floor((x - mn) / sc + 0.5)) * sc)
      }).as("dv"))
  }

  def knnSq8(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val dq = sq8Dequantized(vecs)
    val q = vecs.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val cand = dq.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
              Expressions.cosineSim($"qv", $"dv").as("sim"))
    rankWithin(cand, k)
  }

  /** TWO-STAGE RETRIEVAL (coarse scan → exact rerank) — the architecture
    * every production vector store runs at scale: stage 1 scans the
    * COMPRESSED representation ([[sq8Dequantized]] int8 codes — the scan
    * that fits the IO budget at 100 TB) for a generous top-`nCand`
    * candidate set; stage 2 fetches ONLY those candidates' full-precision
    * vectors and re-scores them exactly, so float fidelity is paid on
    * `nQueries·nCand` rows instead of the corpus. Both ranks order by the
    * MICRO-ROUNDED similarity (exact BIGINT, `neighbor_id` tiebreak) so
    * stage membership and final order replay value-for-value in the
    * oracle — float ranking ties can't flip membership cross-engine.
    *
    * Output carries `coarse_rank` next to the exact rank: the delta is the
    * compression-induced reorder this stage exists to repair (rows where
    * `rank ≠ coarse_rank` are the quantization casualties).
    *
    * Scale shape: stage 1 is the map-only [[knnSq8]] scan (queries
    * broadcast, corpus never shuffles) + a per-query top-`nCand`; stage 2
    * is a candidate-bounded semi-join back to the full vectors — the only
    * shuffle in the operator moves `nQueries·nCand` rows. */
  def ragRerank(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      nCand: Int = 20): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val q = vecs.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val coarse = sq8Dequantized(vecs).join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(Expressions.cosineSim($"qv", $"dv") * 1000000).cast("long")
          .as("csim_micro"))
    val wc = Window.partitionBy($"query_id")
      .orderBy($"csim_micro".desc, $"neighbor_id")
    val cands = coarse.withColumn("coarse_rank", row_number().over(wc).cast("long"))
      .filter($"coarse_rank" <= nCand)
      .select($"query_id", $"neighbor_id", $"coarse_rank")
    val exact = cands
      .join(vecs.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select($"query_id", $"neighbor_id", $"coarse_rank",
        round(Expressions.cosineSim($"qv", $"v") * 1000000).cast("long")
          .as("sim_micro"))
    val wr = Window.partitionBy($"query_id").orderBy($"sim_micro".desc, $"neighbor_id")
    exact.withColumn("rank", row_number().over(wr).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", $"sim_micro", $"rank", $"coarse_rank")
      .orderBy($"query_id", $"rank")
  }

  /** Product-quantized ANN (PQ) — the codebook-compression half of the
    * IVF+PQ architecture production vector stores run at billion scale:
    * split every vector into `m` subspaces, learn a `ksub`-centroid
    * codebook per subspace (the same seed+Lloyd machinery as the IVF
    * coarse quantizer, run on subvectors), store each vector as `m` small
    * codes (m·log2(ksub) bits — 32 bits/vector here vs 512 for int8 SQ),
    * and score queries asymmetrically: full-precision query against the
    * RECONSTRUCTION (concatenated per-subspace centroids).
    *
    * Scale shape: codebooks are metadata (m·ksub·sub doubles, collected
    * once like [[lloydCentroids]]); encode + reconstruct + score is a
    * single map-only pass with the codebooks inlined as literals — the
    * corpus never shuffles, exactly the [[knnSq8]] plan with a learned
    * codebook instead of per-dimension ranges. Tie-breaks are pinned
    * (first maximum = lowest surviving code id) so the whole train→encode
    * →score pipeline replays in the oracle value-for-value. */
  /** Per-subspace PQ codebooks, trained jointly in ONE corpus pass: each
    * vector explodes into its m subvectors `(j, sv)` and every Lloyd step
    * is a single grouped assignment+average over `(j, code)` — per-
    * subspace math identical to m independent [[lloydCentroids]] runs
    * (groups don't interact), but the corpus is scanned once per
    * iteration instead of m times, which is the difference between 1 and
    * m full-table passes when the index is built over 100 TB. Collected
    * as metadata ordered by surviving code id per subspace, so array
    * position order matches the oracle's code-ascending tie-break. */
  private def pqCodebooks(vecs: DataFrame, m: Int, sub: Int, ksub: Int,
      lloydIters: Int): Seq[Seq[Seq[Double]]] = {
    import vecs.sparkSession.implicits._
    val vecAvg = udaf(new graft.functions.VectorAvg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
    val sv = vecs.select($"vec_id", posexplode(
        array((0 until m).map(j => slice($"v", j * sub + 1, sub)): _*))
      .as(Seq("j", "sv")))
    var cent = sv.filter($"vec_id" < ksub)
      .select($"j", $"vec_id".as("code"), $"sv".as("cv"))
    for (_ <- 1 to lloydIters) {
      val assigned = sv.join(broadcast(cent), Seq("j"))
        .select($"j", $"vec_id", $"sv", $"code",
                Expressions.cosineSim($"sv", $"cv").as("sim"))
        .groupBy($"j", $"vec_id")
        .agg(max_by(struct($"sv", $"code"),
                    struct($"sim", (-$"code").as("nc"))).as("mx"))
        .select($"j", $"mx.sv".as("sv"), $"mx.code".as("code"))
      cent = assigned.groupBy($"j", $"code").agg(vecAvg($"sv").as("cv"))
    }
    val rows = cent.orderBy($"j", $"code").collect()
    (0 until m).map(j =>
      rows.filter(_.getInt(0) == j).map(_.getSeq[Double](2)).toIndexedSeq)
  }

  /** PQ encode + reconstruct as a single map-only expression over `vCol`:
    * per subspace, argmax of cosine against the literal codebook (first
    * maximum = lowest surviving code id), then the chosen centroids
    * concatenated back into a full-width reconstruction. */
  private def pqReconExpr(codebooks: Seq[Seq[Seq[Double]]], vCol: Column,
      sub: Int): Column =
    concat(codebooks.zipWithIndex.map { case (cb, j) =>
      val sv = slice(vCol, j * sub + 1, sub)
      val scores = array(cb.map(cv =>
        Expressions.cosineSim(sv, array(cv.map(lit): _*))): _*)
      val code = array_position(scores, array_max(scores)) // 1-based, first max
      element_at(array(cb.map(cv => array(cv.map(lit): _*)): _*), code.cast("int"))
    }: _*)

  def knnPq(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      m: Int = 4, ksub: Int = 16, lloydIters: Int = 1): DataFrame = {
    import s.implicits._
    val dims = 64; val sub = dims / m
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val codebooks = pqCodebooks(vecs, m, sub, ksub, lloydIters)
    val dq = vecs.select($"vec_id", pqReconExpr(codebooks, $"v", sub).as("dv"))
    val q = vecs.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val cand = dq.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
              Expressions.cosineSim($"qv", $"dv").as("sim"))
    rankWithin(cand, k)
  }

  /** IVF+PQ with exact re-rank — the COMBINED architecture production
    * vector stores run at billion scale, end to end: the coarse quantizer
    * prunes the corpus to `nProbe` inverted lists, PQ codes give a cheap
    * asymmetric first-pass score inside those lists (compressed corpus —
    * at scale the list partitions hold 32-bit codes, not raw vectors),
    * the best `rerank` ADC candidates per query are re-scored against the
    * true vectors, and the final top-k is exact over that shortlist.
    *
    * Every stage keeps the scale shape of its standalone counterpart:
    * centroids and codebooks are collected metadata (broadcast /
    * literal-inlined), list assignment and PQ encode are map-only over
    * one corpus pass, candidates come only from probed lists, and both
    * rank stages sort per-query candidate sets, never the corpus. */
  def knnIvfPq(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      nLists: Int = 16, nProbe: Int = 4, m: Int = 4, ksub: Int = 16,
      rerank: Int = 15): DataFrame = {
    import s.implicits._
    val dims = 64; val sub = dims / m
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val centroids = lloydCentroids(vecs, nLists, DefaultLloydIters)
    val codebooks = pqCodebooks(vecs, m, sub, ksub, 1)
    val enc = coarseAssign(vecs, centroids)
      .withColumn("dv", pqReconExpr(codebooks, $"v", sub))
    val probes = probeLists(
      vecs.filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"v".as("qv")),
      centroids, nProbe)
    val cand = enc.join(probes, Seq("list_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"qv", $"vec_id".as("neighbor_id"), $"v",
              Expressions.cosineSim($"qv", $"dv").as("adc"))
    val wAdc = Window.partitionBy($"query_id").orderBy($"adc".desc, $"neighbor_id")
    val shortlist = cand
      .withColumn("adc_rn", row_number().over(wAdc))
      .filter($"adc_rn" <= rerank)
      .select($"query_id", $"neighbor_id",
              Expressions.cosineSim($"qv", $"v").as("sim"))
    rankWithin(shortlist, k)
  }

  /** Binary quantization ANN — the most aggressive compression point of
    * the family (1 bit/dim: a 64-dim vector becomes ONE long, 512× smaller
    * than float64): sign-bit codes, Hamming-distance shortlist (a single
    * XOR+popcount per candidate — the cheapest possible first pass), exact
    * re-rank of the shortlist. Integer arithmetic end to end until the
    * final cosine, so the replay is exact. */
  def knnBq(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      rerank: Int = 15): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    // sign-bit code: bit i-1 set iff v[i] >= 0 (exact integer fold; the
    // i=64 term wraps to Long.MinValue identically in both engines)
    val code = expr(
      """aggregate(zip_with(v, sequence(1, 64),
           (x, i) -> IF(x >= 0D, shiftleft(1L, i - 1), 0L)),
         0L, (acc, b) -> acc | b)""")
    val coded = vecs.withColumn("bq", code)
    val q = coded.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"bq".as("qbq"))
    val cand = coded.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"qv", $"vec_id".as("neighbor_id"), $"v",
              Expressions.hamming64($"qbq", $"bq").as("ham"))
    val wHam = Window.partitionBy($"query_id").orderBy($"ham".asc, $"neighbor_id")
    val shortlist = cand
      .withColumn("ham_rn", row_number().over(wHam))
      .filter($"ham_rn" <= rerank)
      .select($"query_id", $"neighbor_id",
              Expressions.cosineSim($"qv", $"v").as("sim"))
    rankWithin(shortlist, k)
  }

  /** Matryoshka-style PREFIX-dimension retrieval — the two-stage trick
    * behind MRL embeddings: score a cheap shortlist on the first
    * `prefixDims` dimensions only (at scale the prefix can live in memory
    * / a separate column while full vectors stay on disk), then re-rank
    * the shortlist against the full vectors. Complements PQ: compression
    * by truncation instead of quantization, same
    * shortlist-then-exact-rerank plan shape as [[knnIvfPq]]. */
  def knnMrl(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      prefixDims: Int = 32, rerank: Int = 15): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val q = vecs.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val cand = vecs.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"qv", $"vec_id".as("neighbor_id"), $"v",
              Expressions.cosineSim(
                slice($"qv", 1, prefixDims), slice($"v", 1, prefixDims)).as("psim"))
    val wPre = Window.partitionBy($"query_id").orderBy($"psim".desc, $"neighbor_id")
    val shortlist = cand
      .withColumn("pre_rn", row_number().over(wPre))
      .filter($"pre_rn" <= rerank)
      .select($"query_id", $"neighbor_id",
              Expressions.cosineSim($"qv", $"v").as("sim"))
    rankWithin(shortlist, k)
  }

  /** Recall@k of the LSH scale path against the exact brute-force top-k —
    * the evaluation every ANN deployment runs before trusting an index.
    * Per query: |LSH∩brute| / k. Both sides are deterministic pipelines,
    * so the recall itself is oracle-checkable (DuckDB replays both and
    * joins them); at corpus scale this runs the brute baseline over a
    * SAMPLE of queries, which is exactly this shape with a filter. */
  def knnRecall(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5): DataFrame = {
    import s.implicits._
    val lsh = knnLsh(s, d, nQueries, k).select($"query_id", $"neighbor_id")
    val exact = knnBrute(s, d, nQueries, k).select($"query_id", $"neighbor_id")
    lsh.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("recall_at_k", $"n_hits" / lit(k.toDouble))
      .orderBy($"query_id")
  }

  /** GRAPH-BASED ANN (NSW/HNSW-class) — the neighbor-graph architecture
    * real 100-TB vector stores deploy alongside IVF quantization
    * (Malkov & Yashunin, "Efficient and robust approximate nearest
    * neighbor search using Hierarchical Navigable Small World graphs",
    * TPAMI 2018): a bounded-degree proximity graph built offline, then a
    * beam (best-first) traversal at query time that touches only the
    * graph neighborhood of the descent path instead of whole inverted
    * lists.
    *
    * INDEX BUILD (all set-at-a-time, nothing all-pairs):
    *  1. Coarse-quantize the corpus under the shared Lloyd kit
    *     ([[lloydCentroids]] → [[coarseAssign]]) — candidate generation
    *     is IVF-bucketed, so the per-vector kNN below is a LIST-bounded
    *     quadratic (the SemDeDup cluster discipline), never |V|².
    *  2. Per vector, keep its `m` nearest in-list neighbors (exact
    *     cosine, micro-quantized before ranking so both engines cut the
    *     same ties) — the directed kNN graph.
    *  3. Symmetrize (NSW reverse links — what makes greedy descent able
    *     to ENTER a cluster from outside) and re-cap at `degCap` per
    *     node, so storage and per-hop fan-out stay bounded however the
    *     corpus is distributed. Cosine is exactly symmetric in IEEE
    *     arithmetic (products commute; the sum order is identical), so
    *     the reversed edge carries the identical sim_micro.
    *  The adjacency is stored WITH destination vectors (the serving
    *  layout every graph index uses: one fetch per expanded edge, no
    *  side join at query time) and is |V|·degCap rows.
    *
    * SEARCH (beam width `beam`, `hops` rounds):
    *  - entry points = the medoid (max sim-to-centroid, vec_id
    *    tie-break) of each of the query's `entryProbes` nearest lists —
    *    the graph-native analogue of IVF probing, giving the descent a
    *    start INSIDE each plausible region;
    *  - each round expands the current beam's out-edges, scores them
    *    against the query (same micro-exact cosine), merges into the
    *    visited set, and re-cuts the beam — one broadcast-hash join per
    *    round (the beam frame is queries×beam rows and BROADCASTS; the
    *    corpus-scale adjacency never shuffles), so a round costs one
    *    scan of the edge table and the whole search is `hops` scans
    *    regardless of query count.
    *  - result = exact top-k of everything visited.
    *
    * The whole pipeline is deterministic integer/cosine arithmetic from
    * the existing kit, so the DuckDB oracle replays build AND search
    * value-for-value ([[graphOracleSql]], hops unrolled as materialized
    * CTEs). GraphAnnSpec additionally gates recall@k ≥ the IVF row's at
    * an equal scored-candidate budget — the claim that makes a graph
    * index worth its build cost. */
  /** The bounded-degree proximity graph [[knnGraph]] searches and
    * [[knnGraphHealth]] audits: bucket-bounded exact kNN under top-
    * `buildProbes` MULTI-ASSIGNMENT (each vector contributes candidates
    * to its nearest lists, so boundary vectors get cross-list edges; a
    * pair found via two shared lists dedups to one edge before the
    * degree ranking), symmetrized NSW reverse links, re-capped at
    * `degCap` per source. Returns the directed `(src, dst)` adjacency. */
  private[graft] def graphBuild(vecs: DataFrame, centroids: DataFrame,
      m: Int, degCap: Int, buildProbes: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val micro = (c: Column) => round(c * 1000000, 0).cast("long")
    val multi = coarseAssignTopN(vecs, centroids, buildProbes)
    val a = multi.select($"list_id", $"vec_id", $"v")
    val b = multi.select($"list_id", $"vec_id".as("dst"), $"v".as("bv"))
    // Degree capping as TWO-LEVEL top-k partial aggregates instead of the
    // earlier dropDuplicates + corpus-pair-scale rank windows (which
    // sorted every scored pair twice, r14's two most expensive registry
    // rows). Level 1 ranks within (list, src): every pair of that group
    // is emitted by ONE build-side row of the list join, so the partial
    // aggregate completes map-side and only ~|assignments| pre-reduced
    // rows ever shuffle — never the |list|² pair stream. Exactness of the
    // two-level cut: within a list the pairs of a src are DISTINCT (one
    // row per (list, vec) assignment), and any pair in the top-k of the
    // deduped union ranks at least as high inside each list containing it
    // (rank within a subset can only improve), so the union of per-list
    // top-k is a superset of the global top-k. Ordering matches the old
    // window's (sim_micro DESC, dst ASC) via ascending array_sort over
    // struct(-sim_micro, dst); a pair found via BOTH shared lists carries
    // an identical struct (sim is a pure pair function — and symmetric,
    // which covers the reverse-edge union below too), so array_distinct
    // at level 2 is the old dropDuplicates("src", "dst").
    def topK(df: DataFrame, k: Int): DataFrame = df
      .groupBy($"src")
      .agg(slice(array_sort(array_distinct(
        collect_list(struct((-$"sim_micro").as("ns"), $"dst")))), 1, k).as("cand"))
      .select($"src", explode($"cand").as("c"))
      .select($"src", $"c.dst".as("dst"), (-$"c.ns").as("sim_micro"))
    val perList = a.join(b, Seq("list_id"))
      .filter($"vec_id" =!= $"dst")
      .select($"list_id", $"vec_id".as("src"), $"dst",
              micro(Expressions.cosineSim($"v", $"bv")).as("sim_micro"))
      .groupBy($"list_id", $"src")
      .agg(slice(array_sort(
        collect_list(struct((-$"sim_micro").as("ns"), $"dst"))), 1, m).as("cand"))
      .select($"src", explode($"cand").as("c"))
      .select($"src", $"c.dst".as("dst"), (-$"c.ns").as("sim_micro"))
    val knn = topK(perList, m)
    topK(knn.unionByName(
        knn.select($"dst".as("src"), $"src".as("dst"), $"sim_micro")), degCap)
      .select($"src", $"dst")
  }

  /** Entry medoids: per list, the vector most central under the trained
    * quantizer (micro-exact, vec_id tie-break) — nLists rows of
    * metadata. Assignment and centrality come from ONE literal-argmax
    * projection over the corpus (the [[coarseAssignLit]] shape): the
    * argmax struct already carries the winning list's cosine, so the
    * earlier two-pass form (coarseAssign, then a broadcast join back to
    * the centroid table to re-score the assigned list) collapses to a
    * single map pass + the nLists-group aggregate. Values are identical:
    * same cosineSim expression over the same inputs, same (sim, −list)
    * ordering, same micro rounding. */
  private[graft] def graphMedoids(vecs: DataFrame,
      centroids: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    val local = localCentroids(centroids)
    if (local.length > MaxLiteralCentroids)
      return graphMedoidsJoin(vecs, centroids)
    val centArr = array(local.map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).map { case (id, cv) =>
        struct(lit(id).as("list_id"), typedLit(cv).as("cv")) }: _*)
    val best = array_max(transform(centArr, c =>
      struct(Expressions.cosineSim($"v", c("cv")).as("sim"),
             (-c("list_id")).as("nl"))))
    vecs
      .select((-best("nl")).as("list_id"), $"vec_id",
              round(best("sim") * 1000000, 0).cast("long").as("cs"))
      .groupBy($"list_id")
      .agg(max_by($"vec_id", struct($"cs", (-$"vec_id").as("nv"))).as("entry_id"))
  }

  /** Broadcast-join fallback of [[graphMedoids]] for centroid tables past
    * [[MaxLiteralCentroids]]: the same (sim DESC, list_id ASC) winning
    * assignment via max_by, the same micro rounding of the winning
    * cosine, the same per-list (cs DESC, vec_id ASC) medoid pick. */
  private[graft] def graphMedoidsJoin(vecs: DataFrame,
      centroids: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.join(broadcast(centroids))
      .select($"vec_id", $"list_id",
              Expressions.cosineSim($"v", $"cv").as("sim"))
      .groupBy($"vec_id")
      .agg(max_by(struct($"list_id", $"sim"),
                  struct($"sim", (-$"list_id").as("nl"))).as("m"))
      .select($"m.list_id".as("list_id"), $"vec_id",
              round($"m.sim" * 1000000, 0).cast("long").as("cs"))
      .groupBy($"list_id")
      .agg(max_by($"vec_id", struct($"cs", (-$"vec_id").as("nv"))).as("entry_id"))
  }

  def knnGraph(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
      nLists: Int = 16, m: Int = 6, degCap: Int = 8, entryProbes: Int = 2,
      beam: Int = 8, hops: Int = 3, buildProbes: Int = 2,
      lloydIters: Int = DefaultLloydIters): DataFrame = {
    import s.implicits._
    val micro = (c: Column) => round(c * 1000000, 0).cast("long")
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val centroids = lloydCentroids(vecs, nLists, lloydIters)
    val capped = graphBuild(vecs, centroids, m, degCap, buildProbes)
    val edges = Caching.iterCheckpoint(
      capped.join(vecs.select($"vec_id".as("dst"), $"v".as("dv")), Seq("dst")))
    val medoids = graphMedoids(vecs, centroids)
    val medoidV = vecs.join(broadcast(medoids), $"vec_id" === $"entry_id")
      .select($"list_id", $"entry_id", $"v".as("ev"))
    val queries = vecs.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val probes = probeLists(queries, centroids, entryProbes)
    // Per-hop state crosses rounds through detachSink, not iterCheckpoint:
    // the visited set is BUDGET-bounded by construction (≤ entryProbes +
    // hops·beam·degCap rows per query — the GraphAnnSpec-gated claim), so
    // at any corpus size it is metadata, and the local-relation cut makes
    // each hop's beam broadcast driver-local (probe r15: 4.90 s → 4.63 s
    // over the checkpoint form at sf0.1). Past maxLocalRows detachSink
    // falls back to iterCheckpoint on its own, so nothing about the
    // discipline is local-mode-only.
    var visited = Caching.detachSink(
      probes.join(broadcast(medoidV), Seq("list_id"))
        .select($"query_id", $"qv", $"entry_id".as("node"),
                micro(Expressions.cosineSim($"qv", $"ev")).as("sim_micro"))
        .dropDuplicates("query_id", "node"))
    val wBeam = Window.partitionBy($"query_id").orderBy($"sim_micro".desc, $"node")
    for (_ <- 1 to hops) {
      val beamF = visited
        .withColumn("rn", row_number().over(wBeam)).filter($"rn" <= beam)
        .select($"query_id", $"qv", $"node")
      val expand = edges.join(broadcast(beamF), $"src" === $"node")
        .select($"query_id", $"qv", $"dst".as("node"),
                micro(Expressions.cosineSim($"qv", $"dv")).as("sim_micro"))
      // (query_id, node) duplicates carry IDENTICAL payloads — qv and
      // sim_micro are pure functions of the pair — so dropDuplicates is
      // order-insensitive here
      val next = Caching.detachSink(
        visited.unionByName(expand).dropDuplicates("query_id", "node"))
      Caching.freeCheckpoint(visited) // no-op on the local-relation path
      visited = next
    }
    val result = visited.filter($"node" =!= $"query_id")
      .withColumn("rank", row_number().over(wBeam).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"node".as("neighbor_id"), $"sim_micro", $"rank")
      .orderBy($"query_id", $"rank")
    val frozen = visited
    Caching.detach(result, () => {
      Caching.freeCheckpoint(edges); Caching.freeCheckpoint(frozen)
    })
  }

  /** POSITIONAL PHRASE SEARCH — exact contiguous-phrase lookup over a
    * positional inverted index: for each probe phrase (here: the first
    * [[PhraseLen]] canonical tokens of every 50th document — in
    * production, an eval-set quote list), find every document containing
    * the phrase as a CONSECUTIVE token run. This is the memorization /
    * verbatim-quote detector that shingle-overlap decontamination
    * ([[Dedup.decontaminate]]) can't express: shingle overlap scores bag
    * similarity, this demands position-verified adjacency.
    *
    * Mechanics: a fixed-length contiguous match IS equality of the
    * k-token gram at that position, so the corpus explodes once into
    * `(gram, doc_id)` sliding windows and probes reduce to their single
    * phrase gram — one broadcast join on the gram and every joined row
    * is a TRUE match site; nothing needs verification. A first draft
    * anchored on single tokens and counted per-offset hits
    * (`count(*) = k` over alignments) — correct, but its candidate
    * volume is Σ probe-token df, which detonates on low-entropy
    * vocabularies (the driver corpus: ~40 distinct tokens, 98% of all
    * positions match SOME probe token → ~360M candidate rows at 10×,
    * one 15-minute shuffle). Gram equality is the [[Dedup.substring]]
    * 8-gram-anchor discipline applied to retrieval: the blocking key
    * carries the full match condition, so candidate count = answer
    * count regardless of token entropy.
    *
    * Scale shape: the probe side is eval-set-bounded and broadcasts, so
    * the corpus-scale gram stream is filtered MAP-SIDE before anything
    * shuffles; only true match sites reach the per-phrase aggregate.
    * Output is phrase-count-sized with id-sum checksums. */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = PhraseLen
    val docs = documents(s, d)
      .select($"doc_id",
        TextAnalysis.wsTokens(TextAnalysis.canonical($"text")).as("w"))
    val probes = docs
      .filter(pmod($"doc_id", lit(50)) === 1 && size($"w") >= k)
      .select($"doc_id".as("phrase_id"),
        concat_ws(" ", slice($"w", 1, k)).as("gram"))
    val grams = docs
      .filter(size($"w") >= k)
      .select($"doc_id", explode(expr(
        s"transform(sequence(1, size(w) - ${k - 1}), i -> concat_ws(' ', slice(w, i, $k)))"))
        .as("gram"))
    grams.join(broadcast(probes), "gram")
      .groupBy($"phrase_id")
      .agg(count(lit(1)).as("n_sites"),
           countDistinct($"doc_id").as("n_docs"),
           sum_distinct($"doc_id").as("id_sum"))
      .orderBy($"phrase_id")
  }

  /** Probe-phrase length for [[phraseSearch]] — shared with the oracle. */
  private val PhraseLen = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nd_search_phrase" -> phraseSearch _,
    "nd_knn_pq" -> ((s: SparkSession, d: String) => knnPq(s, d)),
    "nd_knn_ivfpq" -> ((s: SparkSession, d: String) => knnIvfPq(s, d)),
    "nd_knn_mrl" -> ((s: SparkSession, d: String) => knnMrl(s, d)),
    "nd_knn_bq" -> ((s: SparkSession, d: String) => knnBq(s, d)),
    "nd_knn_filtered" -> ((s: SparkSession, d: String) => knnFiltered(s, d)),
    "nd_embed_quality" -> embedQuality _,
    "nd_knn_brute" -> ((s: SparkSession, d: String) => knnBrute(s, d)),
    "nd_knn_range" -> ((s: SparkSession, d: String) => knnRange(s, d)),
    "nd_rag_retrieval" -> ((s: SparkSession, d: String) => ragRetrieve(s, d)),
    "nd_knn_lsh" -> ((s: SparkSession, d: String) => knnLsh(s, d)),
    "nd_knn_ivf" -> ((s: SparkSession, d: String) => knnIvf(s, d)),
    "nd_knn_graph" -> ((s: SparkSession, d: String) => knnGraph(s, d)),
    "nd_knn_graph_health" -> ((s: SparkSession, d: String) => knnGraphHealth(s, d)),
    "nd_knn_ivf_incr" -> ((s: SparkSession, d: String) => knnIvfIncremental(s, d)),
    "nd_knn_ivf_health" -> ((s: SparkSession, d: String) => ivfHealth(s, d)),
    "nd_knn_recall" -> ((s: SparkSession, d: String) => knnRecall(s, d)),
    "nd_knn_sq8" -> ((s: SparkSession, d: String) => knnSq8(s, d)),
    "nd_rag_rerank" -> ((s: SparkSession, d: String) => ragRerank(s, d)),
    "nd_rag_bm25" -> ((s: SparkSession, d: String) => bm25Retrieve(s, d)),
    "nd_rag_hybrid" -> ((s: SparkSession, d: String) => hybridRetrieve(s, d)),
    "nd_rag_ndcg" -> ((s: SparkSession, d: String) => retrievalNdcg(s, d)),
    "nd_rag_mmr" -> ((s: SparkSession, d: String) => ragMmr(s, d)),
    "nd_join_setsim" -> ((s: SparkSession, d: String) => setSimJoin(s, d)),
    "nd_join_fuzzy" -> ((s: SparkSession, d: String) => fuzzyJoin(s, d)))

  /** DuckDB replay of [[ragMmr]]'s greedy — k CHAINED CTE steps (the
    * greedy is sequential in k, so the oracle unrolls it the same way
    * the Spark side unrolls its column expressions): p1 = pure-relevance
    * argmax; step i joins the not-yet-selected candidates against the
    * union of p1..p_{i-1} for max-sim-to-selected, then one
    * row_number() argmax of `7·rel − 3·maxsim` with the same cand_id
    * tie-break. */
  private def mmrOracleSql(nQueries: Int = 3, nCand: Int = 10, k: Int = 5): String = {
    val head =
      s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < $nQueries),
          rel0 AS (SELECT query_id, vec_id AS cand_id,
                          CAST(round(list_cosine_similarity(qv, v) * 1000000)
                               AS BIGINT) AS rel_micro
                   FROM vecs CROSS JOIN q WHERE vec_id <> query_id),
          cand AS (SELECT query_id, cand_id, rel_micro FROM (
                     SELECT query_id, cand_id, rel_micro,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY rel_micro DESC, cand_id) AS crank
                     FROM rel0) WHERE crank <= $nCand),
          ps AS (SELECT a.query_id, a.cand_id AS ia, b.cand_id AS ib,
                        CAST(round(list_cosine_similarity(va.v, vb.v) * 1000000)
                             AS BIGINT) AS s_micro
                 FROM cand a JOIN cand b
                   ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
                 JOIN vecs va ON va.vec_id = a.cand_id
                 JOIN vecs vb ON vb.vec_id = b.cand_id),
          p1 AS (SELECT query_id, cand_id, rel_micro, 0::BIGINT AS maxsim,
                        7 * rel_micro AS score FROM (
                   SELECT query_id, cand_id, rel_micro,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY 7 * rel_micro DESC, cand_id) AS rn
                   FROM cand) WHERE rn = 1)"""
    val steps = (2 to k).map { i =>
      val selUnion = (1 until i)
        .map(j => s"SELECT query_id, cand_id FROM p$j").mkString(" UNION ALL ")
      s""",
          sel$i AS ($selUnion),
          m$i AS (SELECT c.query_id, c.cand_id, c.rel_micro,
                         max(ps.s_micro) AS maxsim
                  FROM cand c
                  JOIN sel$i sl ON sl.query_id = c.query_id
                  JOIN ps ON ps.query_id = c.query_id
                         AND ps.ia = c.cand_id AND ps.ib = sl.cand_id
                  LEFT JOIN sel$i x
                    ON x.query_id = c.query_id AND x.cand_id = c.cand_id
                  WHERE x.cand_id IS NULL
                  GROUP BY c.query_id, c.cand_id, c.rel_micro),
          p$i AS (SELECT query_id, cand_id, rel_micro, maxsim,
                         7 * rel_micro - 3 * maxsim AS score FROM (
                    SELECT query_id, cand_id, rel_micro, maxsim,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY 7 * rel_micro - 3 * maxsim DESC, cand_id) AS rn
                    FROM m$i) WHERE rn = 1)"""
    }.mkString
    val out = (1 to k).map(i =>
      s"""SELECT query_id, CAST($i AS BIGINT) AS rank, cand_id AS neighbor_id,
             rel_micro, CAST(maxsim AS BIGINT) AS maxsim_micro,
             CAST(score AS BIGINT) AS score_micro FROM p$i""")
      .mkString(" UNION ALL ")
    s"$head$steps $out ORDER BY query_id, rank"
  }

  /** DuckDB replica of [[Dedup.embeddingBucket]] ([[graft.functions.Expressions.LshBucket]])
    * for hash table `t`: bit p of the bucket is the sign of the pseudo-
    * hyperplane dot product, plane components ±1 from the same integer
    * hash. `v` must be a DOUBLE[] column reference. */
  private def bucketSql(v: String, planes: Int, t: String): String =
    s"""CAST(list_sum(list_transform(range(0, $planes), p ->
        CASE WHEN list_sum(list_transform(range(1, len($v) + 1), i ->
               CASE WHEN ((i-1)*2654435761 + p*40503 + $t*1099511628211) & 4 = 0
                    THEN $v[i] ELSE -$v[i] END)) >= 0
             THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT)"""

  /** The seed+Lloyd quantizer CTE chain shared by the IVF oracle and the
    * semantic-dedup / prototype oracles: `vecs` (corpus as DOUBLE[]),
    * `cvecs0` = seed vectors, then per step an assignment CTE (nearest
    * centroid by cosine, tie-break by list id) and a centroid-average CTE
    * — exactly the unrolled loop [[lloydCentroids]] builds — ending with
    * `lists(vec_id, v, list_id)` (final assignment) and
    * `cvecs$iterations(list_id, cv)` (trained centroids) in scope. */
  private[operators] def lloydChainSql(nLists: Int, iterations: Int,
      dims: Int = 64, src: String = "embeddings"): String = {
    val steps = (1 to iterations).map { i =>
      s"""a$i AS (
            SELECT vec_id, v, list_id,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY list_cosine_similarity(v, cv) DESC, list_id) AS rn
            FROM vecs CROSS JOIN cvecs${i - 1}),
          asg$i AS (SELECT vec_id, v, list_id FROM a$i WHERE rn = 1),
          cent$i AS (
            SELECT list_id, t.pos AS pos, avg(v[t.pos]) AS m
            FROM asg$i CROSS JOIN range(1, ${dims + 1}) t(pos)
            GROUP BY list_id, t.pos),
          cvecs$i AS (SELECT list_id, list(m ORDER BY pos) AS cv FROM cent$i GROUP BY list_id)"""
    }.mkString(",\n          ")
    s"""vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $src),
          cvecs0 AS (SELECT vec_id AS list_id, v AS cv FROM vecs WHERE vec_id < $nLists),
          $steps,
          aF AS (
            SELECT vec_id, v, list_id,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY list_cosine_similarity(v, cv) DESC, list_id) AS rn
            FROM vecs CROSS JOIN cvecs$iterations),
          lists AS (SELECT vec_id, v, list_id FROM aF WHERE rn = 1)"""
  }

  /** DuckDB replay of [[knnGraph]] — index build (list-bounded kNN →
    * symmetrize → degree cap) plus the beam search with its `hops`
    * rounds UNROLLED as MATERIALIZED CTEs (the k-core oracle lesson:
    * DuckDB inlines plain CTEs per reference, and a round referencing
    * its predecessor twice would expand 2^hops scans). Every ordering
    * cut uses the same (sim_micro DESC, id) key as the Spark side, so
    * the traversal — entry medoids, per-round beams, visited set — is
    * replayed node-for-node. */
  /** The graph-index build + entry-medoid CTE chain shared by the search
    * oracle and the health oracle: lloyd chain → multi-assignment →
    * bounded-degree symmetrized adjacency `gedges(src, dst, dv)` →
    * `medoid(list_id, entry_id)`. */
  private def graphBuildSql(nLists: Int, m: Int, degCap: Int,
      buildProbes: Int, iterations: Int): String =
    s"""${lloydChainSql(nLists, iterations)},
          multi AS (SELECT vec_id, v, list_id FROM aF
                    WHERE rn <= $buildProbes),
          pair AS MATERIALIZED (
            SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
                   CAST(round(list_cosine_similarity(a.v, b.v) * 1000000)
                        AS BIGINT) AS sim_micro
            FROM multi a JOIN multi b
              ON a.list_id = b.list_id AND a.vec_id <> b.vec_id),
          knn AS (SELECT src, dst, sim_micro FROM (
              SELECT src, dst, sim_micro,
                     row_number() OVER (PARTITION BY src
                       ORDER BY sim_micro DESC, dst) AS rn FROM pair)
            WHERE rn <= $m),
          sym AS (SELECT DISTINCT src, dst, sim_micro FROM
            (SELECT src, dst, sim_micro FROM knn
             UNION ALL SELECT dst, src, sim_micro FROM knn)),
          gedges AS MATERIALIZED (
            SELECT c.src, c.dst, w.v AS dv FROM (
              SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                         ORDER BY sim_micro DESC, dst) AS rn FROM sym)
              WHERE rn <= $degCap) c
            JOIN vecs w ON w.vec_id = c.dst),
          cs AS (SELECT l.list_id, l.vec_id,
                   CAST(round(list_cosine_similarity(l.v, c.cv) * 1000000)
                        AS BIGINT) AS cs
                 FROM lists l JOIN cvecs$iterations c USING (list_id)),
          medoid AS (SELECT list_id, vec_id AS entry_id FROM (
              SELECT list_id, vec_id,
                     row_number() OVER (PARTITION BY list_id
                       ORDER BY cs DESC, vec_id) AS rn FROM cs)
            WHERE rn = 1)"""

  /** DuckDB replay of [[knnGraphHealth]]: the shared build chain, the
    * BFS unrolled as MATERIALIZED rounds, degree/reciprocity aggregates,
    * the same integer alarm arithmetic. */
  private[operators] def graphHealthOracleSql(nLists: Int = 16, m: Int = 6,
      degCap: Int = 8, buildProbes: Int = 2, hops: Int = 4,
      iterations: Int = DefaultLloydIters): String = {
    val rounds = (1 to hops).map { h =>
      s"""r$h AS MATERIALIZED (
            SELECT node FROM r${h - 1}
            UNION
            SELECT e.dst AS node FROM gedges e
            JOIN r${h - 1} f ON e.src = f.node)"""
    }.mkString(",\n          ")
    s"""WITH ${graphBuildSql(nLists, m, degCap, buildProbes, iterations)},
          r0 AS (SELECT DISTINCT entry_id AS node FROM medoid),
          $rounds,
          deg AS (SELECT src, count(*) AS d FROM gedges GROUP BY src),
          stats AS (
            SELECT CAST(min(d) AS BIGINT) AS min_deg,
                   CAST(max(d) AS BIGINT) AS max_deg,
                   CAST(sum(CASE WHEN d = $degCap THEN 1 ELSE 0 END) AS BIGINT) AS n_at_cap,
                   CAST(sum(CASE WHEN d < ${m / 2} THEN 1 ELSE 0 END) AS BIGINT) AS n_weak_deg,
                   CAST(count(*) AS BIGINT) AS n_with_edges
            FROM deg),
          tot AS (
            SELECT (SELECT count(*) FROM vecs) AS n_nodes,
                   (SELECT count(*) FROM gedges) AS n_edges,
                   (SELECT count(*) FROM gedges a JOIN gedges b
                      ON a.src = b.dst AND a.dst = b.src) AS n_recip,
                   (SELECT count(*) FROM r0) AS n_entry,
                   (SELECT count(*) FROM r$hops) AS n_reachable)
          SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
                 CAST(n_edges AS BIGINT) AS n_edges,
                 min_deg, max_deg, n_at_cap,
                 CAST(n_weak_deg + (n_nodes - n_with_edges) AS BIGINT) AS n_weak,
                 CAST(n_nodes - n_with_edges AS BIGINT) AS n_isolated,
                 CAST(n_recip AS BIGINT) AS n_recip,
                 CAST(n_entry AS BIGINT) AS n_entry,
                 CAST(n_reachable AS BIGINT) AS n_reachable,
                 (n_reachable * 20 < n_nodes * 19) AS frag_alarm,
                 ((n_weak_deg + (n_nodes - n_with_edges)) * 20 > n_nodes) AS weak_alarm
          FROM stats CROSS JOIN tot"""
  }

  private[operators] def graphOracleSql(nQueries: Int = 5, k: Int = 5,
      nLists: Int = 16, m: Int = 6, degCap: Int = 8, entryProbes: Int = 2,
      beam: Int = 8, hops: Int = 3, buildProbes: Int = 2,
      iterations: Int = DefaultLloydIters): String = {
    val rounds = (1 to hops).map { h =>
      s"""b$h AS (SELECT query_id, qv, node FROM (
            SELECT query_id, qv, node, sim_micro,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim_micro DESC, node) AS rn FROM v${h - 1})
          WHERE rn <= $beam),
          x$h AS (SELECT t.query_id, t.qv, e.dst AS node,
                   CAST(round(list_cosine_similarity(t.qv, e.dv) * 1000000)
                        AS BIGINT) AS sim_micro
                  FROM b$h t JOIN gedges e ON e.src = t.node),
          v$h AS MATERIALIZED (
            SELECT DISTINCT query_id, qv, node, sim_micro FROM
              (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM x$h))"""
    }.mkString(",\n          ")
    s"""WITH ${graphBuildSql(nLists, m, degCap, buildProbes, iterations)},
          qp AS (SELECT q.vec_id AS query_id, q.v AS qv, c.list_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                              c.list_id) AS rn
                 FROM vecs q CROSS JOIN cvecs$iterations c
                 WHERE q.vec_id < $nQueries),
          probes AS (SELECT query_id, qv, list_id FROM qp
                     WHERE rn <= $entryProbes),
          v0 AS MATERIALIZED (
            SELECT DISTINCT p.query_id, p.qv, md.entry_id AS node,
                   CAST(round(list_cosine_similarity(p.qv, w.v) * 1000000)
                        AS BIGINT) AS sim_micro
            FROM probes p JOIN medoid md USING (list_id)
            JOIN vecs w ON w.vec_id = md.entry_id),
          $rounds,
          r AS (SELECT query_id, node AS neighbor_id, sim_micro,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY sim_micro DESC, node) AS rk
                FROM v$hops WHERE node <> query_id)
         SELECT query_id, neighbor_id, sim_micro, CAST(rk AS BIGINT) AS rank
         FROM r WHERE rk <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB replay of the full IVF pipeline for `iterations` Lloyd steps
    * over the [[lloydChainSql]] quantizer — the oracle is re-derived
    * mechanically whenever the iteration depth changes. */
  private[operators] def ivfOracleSql(nLists: Int, nProbe: Int, nQueries: Int,
      k: Int, iterations: Int, dims: Int = 64): String = {
    s"""WITH ${lloydChainSql(nLists, iterations, dims)},
          qs AS (
            SELECT q.vec_id AS query_id, q.v AS qv, c.list_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.list_id) AS rn
            FROM vecs q CROSS JOIN cvecs$iterations c WHERE q.vec_id < $nQueries),
          probes AS (SELECT query_id, qv, list_id FROM qs WHERE rn <= $nProbe),
          cand AS (
            SELECT query_id, vec_id AS neighbor_id, list_cosine_similarity(qv, v) AS sim
            FROM lists JOIN probes USING (list_id) WHERE vec_id <> query_id),
          r AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
            FROM cand)
          SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
          FROM r WHERE rk <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB replay of the incremental-IVF pipeline: the
    * [[lloydChainSql]] quantizer trained on the `vec_id < cut` slice
    * only, the FULL corpus assigned under the frozen `cvecs`, queries
    * probing and ranking against the union — the oracle form of
    * [[knnIvfIncremental]]/[[IvfIndex.append]]. */
  private[operators] def ivfIncrOracleSql(cut: Long, nLists: Int, nProbe: Int,
      nQueries: Int, k: Int, iterations: Int, dims: Int = 64): String =
    s"""WITH ${lloydChainSql(nLists, iterations, dims,
          src = s"(SELECT * FROM embeddings WHERE vec_id < $cut)")},
          allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          ai AS (
            SELECT vec_id, v, list_id,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY list_cosine_similarity(v, cv) DESC, list_id) AS rn
            FROM allv CROSS JOIN cvecs$iterations),
          ilists AS (SELECT vec_id, v, list_id FROM ai WHERE rn = 1),
          qs AS (
            SELECT q.vec_id AS query_id, q.v AS qv, c.list_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.list_id) AS rn
            FROM allv q CROSS JOIN cvecs$iterations c WHERE q.vec_id < $nQueries),
          probes AS (SELECT query_id, qv, list_id FROM qs WHERE rn <= $nProbe),
          cand AS (
            SELECT query_id, vec_id AS neighbor_id, list_cosine_similarity(qv, v) AS sim
            FROM ilists JOIN probes USING (list_id) WHERE vec_id <> query_id),
          r AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
            FROM cand)
          SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
          FROM r WHERE rk <= $k ORDER BY query_id, rank"""

  /** DuckDB replay of [[ivfHealth]]: the [[lloydChainSql]] quantizer
    * trained on the `vec_id < cut` slice, the full corpus assigned under
    * the frozen centroids KEEPING the winning similarity, micro-rounded
    * per row before any sum, then the same two-level integral aggregate
    * (per-list stats, one-row alarm frame cross-joined back). */
  private[operators] def ivfHealthOracleSql(cut: Long, nLists: Int,
      iterations: Int, dims: Int = 64): String =
    s"""WITH ${lloydChainSql(nLists, iterations, dims,
          src = s"(SELECT * FROM embeddings WHERE vec_id < $cut)")},
          allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          ai AS (
            SELECT vec_id, list_id,
                   CAST(round(list_cosine_similarity(v, cv) * 1000000) AS BIGINT)
                     AS sim_micro,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY list_cosine_similarity(v, cv) DESC, list_id) AS rn
            FROM allv CROSS JOIN cvecs$iterations),
          scored AS (SELECT vec_id, list_id, sim_micro FROM ai WHERE rn = 1),
          pl AS (SELECT list_id,
                        CAST(sum(CASE WHEN vec_id < $cut THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                        CAST(sum(CASE WHEN vec_id >= $cut THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                        sum(CASE WHEN vec_id < $cut THEN CAST(sim_micro AS HUGEINT) END) AS base_sum,
                        sum(CASE WHEN vec_id >= $cut THEN CAST(sim_micro AS HUGEINT) END) AS new_sum
                 FROM scored GROUP BY list_id),
          tot AS (SELECT sum(n_base + n_new) AS n_total,
                         max(n_base + n_new) AS max_list,
                         sum(base_sum) AS tb, sum(n_base) AS nb,
                         sum(new_sum) AS tn, sum(n_new) AS nn
                  FROM pl)
          SELECT list_id, n_base, n_new,
                 CAST(CASE WHEN n_base > 0 THEN base_sum // n_base END AS BIGINT)
                   AS base_sim_micro,
                 CAST(CASE WHEN n_new > 0 THEN new_sum // n_new END AS BIGINT)
                   AS new_sim_micro,
                 CAST(1000000 * (n_base + n_new) // n_total AS BIGINT) AS share_micro,
                 max_list * $nLists > 2 * n_total AS skew_alarm,
                 CASE WHEN nb > 0 AND nn > 0
                      THEN tb // nb - tn // nn >= $IvfDriftMicro
                      ELSE false END AS drift_alarm,
                 (max_list * $nLists > 2 * n_total) OR
                 (CASE WHEN nb > 0 AND nn > 0
                       THEN tb // nb - tn // nn >= $IvfDriftMicro
                       ELSE false END) AS retrain
          FROM pl CROSS JOIN tot ORDER BY list_id"""

  /** DuckDB replay of the full PQ pipeline: per subspace, the seed+Lloyd
    * codebook chain (the [[ivfOracleSql]] step shape on subvector slices),
    * then encode (nearest trained centroid, tie → lowest code), reconstruct
    * by list concatenation, and asymmetric cosine top-k — mechanically
    * re-derived for any (m, ksub, iterations), like the IVF oracle. */
  /** The per-subspace codebook chains + the `dq` reconstruction CTE,
    * shared by the standalone PQ oracle and the combined IVF+PQ oracle.
    * Assumes a `vecs(vec_id, v)` CTE is already in scope. */
  private def pqCtesSql(m: Int, sub: Int, ksub: Int, iterations: Int): String = {
    val subCtes = (0 until m).map { j =>
      val off = j * sub
      val steps = (1 to iterations).map { i =>
        s"""a${j}_$i AS (
              SELECT vec_id, sv, code,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(sv, cv) DESC, code) AS rn
              FROM sv$j CROSS JOIN cb${j}_${i - 1}),
            asg${j}_$i AS (SELECT vec_id, sv, code FROM a${j}_$i WHERE rn = 1),
            cent${j}_$i AS (
              SELECT code, t.pos AS pos, avg(sv[t.pos]) AS mu
              FROM asg${j}_$i CROSS JOIN range(1, ${sub + 1}) t(pos)
              GROUP BY code, t.pos),
            cb${j}_$i AS (SELECT code, list(mu ORDER BY pos) AS cv FROM cent${j}_$i GROUP BY code)"""
      }.mkString(",\n            ")
      s"""sv$j AS (SELECT vec_id, v[${off + 1}:${off + sub}] AS sv FROM vecs),
          cb${j}_0 AS (SELECT vec_id AS code, sv AS cv FROM sv$j WHERE vec_id < $ksub),
          $steps,
          enc$j AS (
            SELECT vec_id, cv,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY list_cosine_similarity(sv, cv) DESC, code) AS rn
            FROM sv$j CROSS JOIN cb${j}_$iterations),
          r$j AS (SELECT vec_id, cv AS c$j FROM enc$j WHERE rn = 1)"""
    }.mkString(",\n          ")
    val joins = (1 until m).map(j => s"JOIN r$j USING (vec_id)").mkString(" ")
    val dvExpr = (0 until m).map(j => s"c$j").mkString(" || ")
    s"""$subCtes,
          dq AS (SELECT vec_id, $dvExpr AS dv FROM r0 $joins)"""
  }

  private[operators] def pqOracleSql(m: Int = 4, sub: Int = 16, ksub: Int = 16,
      iterations: Int = 1, nQueries: Int = 5, k: Int = 5): String = {
    s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          ${pqCtesSql(m, sub, ksub, iterations)},
          q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < $nQueries),
          scored AS (
            SELECT query_id, dq.vec_id AS neighbor_id,
                   list_cosine_similarity(qv, dv) AS sim
            FROM dq CROSS JOIN q WHERE dq.vec_id <> query_id),
          rr AS (SELECT query_id, neighbor_id, sim,
                        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
                 FROM scored)
          SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
          FROM rr WHERE rk <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB replay of the combined IVF+PQ+rerank pipeline: the coarse
    * Lloyd chain and probe selection of [[ivfOracleSql]], the codebook
    * chains and reconstruction of [[pqCtesSql]], an ADC shortlist window
    * inside the probed lists, and an exact re-rank window over the
    * shortlist — all re-derived for any parameter combination. */
  private[operators] def ivfPqOracleSql(nLists: Int = 16, nProbe: Int = 4,
      m: Int = 4, sub: Int = 16, ksub: Int = 16, coarseIters: Int = DefaultLloydIters,
      pqIters: Int = 1, nQueries: Int = 5, k: Int = 5, rerank: Int = 15,
      dims: Int = 64): String = {
    val steps = (1 to coarseIters).map { i =>
      s"""ca$i AS (
            SELECT vec_id, v, list_id,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY list_cosine_similarity(v, cv) DESC, list_id) AS rn
            FROM vecs CROSS JOIN cvecs${i - 1}),
          casg$i AS (SELECT vec_id, v, list_id FROM ca$i WHERE rn = 1),
          ccent$i AS (
            SELECT list_id, t.pos AS pos, avg(v[t.pos]) AS mu
            FROM casg$i CROSS JOIN range(1, ${dims + 1}) t(pos)
            GROUP BY list_id, t.pos),
          cvecs$i AS (SELECT list_id, list(mu ORDER BY pos) AS cv FROM ccent$i GROUP BY list_id)"""
    }.mkString(",\n          ")
    s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          cvecs0 AS (SELECT vec_id AS list_id, v AS cv FROM vecs WHERE vec_id < $nLists),
          $steps,
          aF AS (
            SELECT vec_id, v, list_id,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY list_cosine_similarity(v, cv) DESC, list_id) AS rn
            FROM vecs CROSS JOIN cvecs$coarseIters),
          lists AS (SELECT vec_id, v, list_id FROM aF WHERE rn = 1),
          ${pqCtesSql(m, sub, ksub, pqIters)},
          qs AS (
            SELECT q.vec_id AS query_id, q.v AS qv, c.list_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.list_id) AS rn
            FROM vecs q CROSS JOIN cvecs$coarseIters c WHERE q.vec_id < $nQueries),
          probes AS (SELECT query_id, qv, list_id FROM qs WHERE rn <= $nProbe),
          cand AS (
            SELECT query_id, qv, l.vec_id AS neighbor_id, l.v,
                   list_cosine_similarity(qv, dq.dv) AS adc
            FROM lists l JOIN probes USING (list_id)
                         JOIN dq ON dq.vec_id = l.vec_id
            WHERE l.vec_id <> query_id),
          sl AS (
            SELECT query_id, neighbor_id,
                   list_cosine_similarity(qv, v) AS sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS arn
            FROM cand),
          rr AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
            FROM sl WHERE arn <= $rerank)
          SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
          FROM rr WHERE rk <= $k ORDER BY query_id, rank"""
  }

  /** LSH pipeline replay, shared by nd_knn_lsh and the recall oracle. */
  private val lshOracleSql: String =
    s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          corpus AS (
            SELECT vec_id, v, t.t AS tbl, ${bucketSql("v", 6, "t.t")} AS bucket
            FROM vecs CROSS JOIN range(0, 4) t(t)),
          qb AS (
            SELECT vec_id AS query_id, v AS qv, t.t AS tbl, ${bucketSql("v", 6, "t.t")} AS qbucket
            FROM vecs CROSS JOIN range(0, 4) t(t) WHERE vec_id < 5),
          probes AS (
            SELECT query_id, qv, tbl, unnest(list_prepend(qbucket,
                     list_transform(range(0, 6), i -> xor(qbucket, 1::BIGINT << i)))) AS probe
            FROM qb),
          cand AS (
            SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
            FROM corpus c JOIN probes q
              ON c.tbl = q.tbl AND c.bucket = q.probe AND c.vec_id <> q.query_id),
          scored AS (
            SELECT query_id, neighbor_id, list_cosine_similarity(a.v, b.v) AS sim
            FROM cand JOIN vecs a ON cand.query_id = a.vec_id
                      JOIN vecs b ON cand.neighbor_id = b.vec_id),
          r AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
            FROM scored)
          SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
          FROM r WHERE rk <= 5 ORDER BY query_id, rank"""

  /** Brute-force replay, shared by nd_knn_brute and the recall oracle. */
  private val bruteOracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS sim
                FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
          r AS (SELECT query_id, neighbor_id, sim,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
                FROM s)
         SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
         FROM r WHERE rk <= 5 ORDER BY query_id, rank"""

  /** End-to-end RAG retrieval: query vectors → exact top-k neighbors →
    * join back to the `documents` table (vec_id ≡ doc_id in the driver
    * tables) for the passage payload — the full "retrieve the texts"
    * path a serving stack runs. The ANN stage is the brute baseline
    * (swap in [[knnIvf]]/[[knnIvfPq]] for the indexed path); the payload
    * join is an equi-join against the tiny top-k result, so only k×Q
    * documents are ever fetched — at 100 TB the corpus scan is pruned by
    * the join keys, not the retrieval. */
  def ragRetrieve(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 5): DataFrame = {
    import s.implicits._
    val hits = knnBrute(s, d, nQueries, k)
    hits.join(documents(s, d).select($"doc_id".as("neighbor_id"),
        substring($"text", 1, 40).as("passage")), "neighbor_id")
      .select($"query_id", $"rank", $"neighbor_id", $"cos_sim", $"passage")
      .orderBy($"query_id", $"rank")
  }

  /** MMR (Maximal Marginal Relevance) diversified re-ranking — the
    * anti-redundancy pass between retrieval and consumption: greedily
    * pick k of the top-C candidates maximizing
    * `λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`, so near-duplicate
    * hits stop crowding out coverage. λ = 0.7 in exact integer micro
    * arithmetic: `score = 7·rel_micro − 3·maxsim_micro` (the /10 is
    * monotone and dropped), ties by smaller id — deterministic on both
    * engines.
    *
    * Shape: the only corpus-scale stage is the relevance scan (broadcast
    * queries, map-side cosine — [[knnRange]]'s shape); candidates are
    * C per query by construction, so the pairwise-sim join and the
    * greedy itself run on BOUNDED per-query state (≤ C² cells). The
    * greedy is k UNROLLED column-expression steps over a per-query
    * candidate array + sim map — argmax via `aggregate`, max-sim-to-
    * selected via a nested `aggregate` over the selected array — never a
    * driver loop, never a collect; 10³ queries or 10⁹ queries differ
    * only in row count through the same per-row expression. */
  def ragMmr(s: SparkSession, d: String, nQueries: Int = 3, nCand: Int = 10,
      k: Int = 5): DataFrame = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val q = vecs.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val rel = vecs.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("cand_id"),
        round(Expressions.cosineSim($"qv", $"v") * 1000000, 0).cast("long")
          .as("rel_micro"))
    val w = Window.partitionBy($"query_id").orderBy($"rel_micro".desc, $"cand_id")
    // the candidate frame is nQ×C rows; persisting it means the
    // corpus-scale relevance scan runs ONCE (unpersisted, the pairwise
    // self-join and the per-query collect each replay the whole scan)
    val cand = Caching.iterCheckpoint(
      rel.withColumn("crank", row_number().over(w)).filter($"crank" <= nCand)
        .select($"query_id", $"cand_id", $"rel_micro"))
    // candidate-sized vector re-join (the containment-verification
    // discipline: payloads only ever join against the bounded frame)
    val cv = cand.join(vecs.withColumnRenamed("vec_id", "cand_id"), "cand_id")
    val pairs = cv.as("a").join(cv.as("b"),
        col("a.query_id") === col("b.query_id") &&
        col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.cand_id").as("ia"), col("b.cand_id").as("ib"),
        round(Expressions.cosineSim(col("a.v"), col("b.v")) * 1000000, 0)
          .cast("long").as("s_micro"))
    val out = mmrSelect(cand, pairs, k).orderBy($"query_id", $"rank")
    graft.plans.Caching.detach(out, () => Caching.freeCheckpoint(cand))
  }

  /** The unrolled greedy over a bounded candidate frame
    * `(query_id, cand_id, rel_micro)` and pairwise-sim frame
    * `(query_id, ia, ib, s_micro)`. Exposed for the planted-diversity
    * spec. */
  private[graft] def mmrSelect(cand: DataFrame, pairs: DataFrame,
      k: Int): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    val candsPerQ = cand.groupBy($"query_id")
      .agg(collect_list(struct($"cand_id", $"rel_micro")).as("cands"))
    val simsPerQ = pairs.groupBy($"query_id")
      .agg(map_from_entries(collect_list(struct(
        concat($"ia".cast("string"), lit("|"), $"ib".cast("string")),
        $"s_micro"))).as("sims"))
    // a query with a single candidate has no pairs — sims coalesces empty
    val base = candsPerQ.join(simsPerQ, Seq("query_id"), "left")
      .withColumn("sims", coalesce($"sims",
        map_from_entries(array().cast("array<struct<c1:string,c2:bigint>>"))))
      .withColumn("sel", array().cast("array<bigint>"))
    // max sim of candidate c to the selected set; −2e6 init keeps the
    // argmax ordering right even if every sim is negative, and the
    // size-0 guard pins step 1's REPORTED maxsim to 0 (pure-relevance)
    def maxSimTo(c: Column, sel: Column, sims: Column): Column =
      when(size(sel) === 0, lit(0L)).otherwise(
        aggregate(sel, lit(-2000000L), (m, sid) =>
          greatest(m, coalesce(element_at(sims,
            concat(c("cand_id").cast("string"), lit("|"), sid.cast("string"))),
            lit(-2000000L)))))
    def bestOf(cands: Column, sims: Column, sel: Column): Column =
      aggregate(
        filter(cands, c => !array_contains(sel, c("cand_id"))),
        struct(lit(Long.MinValue).as("score"), lit(Long.MaxValue).as("cand_id"),
               lit(0L).as("rel_micro"), lit(0L).as("maxsim")),
        (acc, c) => {
          val ms = maxSimTo(c, sel, sims)
          val sc = lit(7L) * c("rel_micro") - lit(3L) * ms
          when(sc > acc("score") ||
               (sc === acc("score") && c("cand_id") < acc("cand_id")),
            struct(sc.as("score"), c("cand_id").as("cand_id"),
                   c("rel_micro").as("rel_micro"), ms.as("maxsim")))
            .otherwise(acc)
        })
    var df = base
    for (i <- 1 to k) {
      df = df.withColumn(s"pick_$i", bestOf($"cands", $"sims", $"sel"))
        .withColumn("sel", concat($"sel", array(col(s"pick_$i")("cand_id"))))
    }
    df.select($"query_id", explode(array((1 to k).map(i =>
        struct(lit(i.toLong).as("rank"),
               col(s"pick_$i")("cand_id").as("neighbor_id"),
               col(s"pick_$i")("rel_micro").as("rel_micro"),
               col(s"pick_$i")("maxsim").as("maxsim_micro"),
               col(s"pick_$i")("score").as("score_micro"))): _*)).as("p"))
      // a query with fewer than k candidates yields sentinel picks
      // (aggregate over an empty filtered array returns the init struct)
      .filter($"p.neighbor_id" =!= lit(Long.MaxValue))
      .select($"query_id", $"p.rank".as("rank"), $"p.neighbor_id".as("neighbor_id"),
              $"p.rel_micro".as("rel_micro"), $"p.maxsim_micro".as("maxsim_micro"),
              $"p.score_micro".as("score_micro"))
  }

  /** Lexical BM25 top-k retrieval — the sparse/keyword half of the
    * retrieval story (ANN is the dense half; [[hybridRetrieve]] fuses
    * them). Queries are the first `qTerms` distinct canonical tokens of
    * each query document (`doc_id < nQueries`), scored against the whole
    * corpus with Lucene-shaped BM25 (k1 = 1.2, b = 0.75).
    *
    * Cross-engine exactness: every per-term score is quantized to integer
    * MICRO units before the per-document sum, so the aggregate is an
    * order-free exact integer (the nd_pipeline_dsir trick):
    * `idf_micro = round(ln((N-df+.5)/(df+.5)+1)·1e6)`, and the tf
    * normalization is an exact integer ratio (k1 = 6/5 and b = 3/4 scaled
    * through by 10·T): num = 22·tf·T, den = 10·tf·T + 3·T + 9·dl·N. The
    * only float ops are one divide and one multiply over
    * exactly-representable integers — bit-identical in any IEEE engine.
    *
    * Scale shape: the corpus token explode is filtered by a BROADCAST
    * semi-join against the bounded query-term set BEFORE it shuffles —
    * only matching tokens reach the (doc, term) count, with map-side
    * partial aggregation; df is a term-cardinality aggregate (bounded
    * rows); the final rank partitions per query. N and T are two
    * collected scalars (bounded metadata, like the IVF centroids); the
    * tokenized base is computed once and released after materialization. */
  def bm25Retrieve(s: SparkSession, d: String, nQueries: Int = 5,
      qTerms: Int = 6, k: Int = 10): DataFrame = {
    val (out, free) = bm25RetrieveLazy(s, d, nQueries, qTerms, k)
    graft.plans.Caching.detach(out, free)
  }

  /** Pre-materialization pipeline + cache release — exposed for plan
    * inspection; callers use [[bm25Retrieve]]. */
  private[graft] def bm25RetrieveLazy(s: SparkSession, d: String,
      nQueries: Int, qTerms: Int, k: Int): (DataFrame, () => Unit) = {
    import s.implicits._
    val base = Caching.iterCheckpoint(documents(s, d)
      .select($"doc_id",
        TextAnalysis.wsTokens(TextAnalysis.canonical($"text")).as("toks"))
      .withColumn("dl", size($"toks").cast("long")))
    val stats = base.agg(count(lit(1)), sum($"dl")).head
    val (nDocs, tToks) = (stats.getLong(0), stats.getLong(1))
    val qt = base.filter($"doc_id" < nQueries)
      .select($"doc_id".as("query_id"),
              explode(array_distinct(slice($"toks", 1, qTerms))).as("term"))
      .filter($"term" =!= "") // an empty/punct-only query doc canonicalizes
                              // to [""] — not a term (corpus side is culled
                              // by the term-set join, so one guard suffices)
    val terms = qt.select($"term").distinct()
    val tf = base
      .select($"doc_id", $"dl", explode($"toks").as("term"))
      .join(broadcast(terms), "term")
      .groupBy($"doc_id", $"term", $"dl").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      .withColumn("idf_micro",
        round(log(((lit(nDocs) - $"df").cast("double") + lit(0.5)) /
                  ($"df".cast("double") + lit(0.5)) + lit(1.0)) * lit(1000000.0))
          .cast("long"))
    val termScores = tf
      .join(broadcast(qt), "term")
      .join(broadcast(idf.select($"term", $"idf_micro")), "term")
      .filter($"doc_id" =!= $"query_id")
      .select($"query_id", $"doc_id",
        round($"idf_micro".cast("double") *
          ((lit(22L) * $"tf" * lit(tToks)).cast("double") /
           (lit(10L) * $"tf" * lit(tToks) + lit(3L) * lit(tToks) +
            lit(9L) * $"dl" * lit(nDocs)).cast("double")))
          .cast("long").as("m"))
    val scored = termScores.groupBy($"query_id", $"doc_id")
      .agg(sum($"m").as("bm25_micro"))
    val w = Window.partitionBy($"query_id").orderBy($"bm25_micro".desc, $"doc_id")
    val out = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .orderBy($"query_id", $"rank")
    (out, () => Caching.freeCheckpoint(base))
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF) of the lexical
    * [[bm25Retrieve]] ranking and the dense [[knnBrute]] ranking for the
    * same query documents (vec_id ≡ doc_id in the driver tables).
    * Contributions are quantized to integer micro units
    * (`round(1e6/(60+rank))`) so the fused score is an exact order-free
    * integer sum; a candidate missing from one system contributes 0 —
    * standard RRF union semantics. The fusion itself is a union + one
    * (query, doc)-keyed sum over two k·|Q|-bounded rank lists — driver
    * metadata scale, regardless of corpus size. */
  def hybridRetrieve(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    import s.implicits._
    def contrib(r: Column): Column =
      round(lit(1000000.0) / (lit(60L) + r).cast("double")).cast("long")
    val lex = bm25Retrieve(s, d, nQueries, k = k)
      .select($"query_id", $"doc_id", contrib($"rank").as("c"))
    val dense = knnBrute(s, d, nQueries, k)
      .select($"query_id", $"neighbor_id".as("doc_id"), contrib($"rank").as("c"))
    val fused = lex.unionByName(dense)
      .groupBy($"query_id", $"doc_id").agg(sum($"c").as("rrf_micro"))
    val w = Window.partitionBy($"query_id").orderBy($"rrf_micro".desc, $"doc_id")
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .orderBy($"query_id", $"rank")
  }

  /** EXACT set-similarity self-join with AllPairs/PPJoin-style prefix
    * filtering (Bayardo et al., WWW'07) over part-name word sets — the
    * deterministic entity-resolution complement to the probabilistic
    * MinHash path: every pair with Jaccard ≥ `simNum/simDen` is found
    * (no LSH recall loss), yet the join never goes all-pairs.
    *
    * Candidates join on 2-TOKEN prefix signatures, not single tokens.
    * Rationale: with a SMALL vocabulary (p_name draws ~90 words) every
    * token is a heavy hitter and single-token prefix buckets explode
    * (~650 rows/bucket at sf0.1 → ~19M candidate pairs → this operator
    * was the round-6 local bench's 50s outlier). The pair signature is
    * still loss-free: order every set by global token rarity; if
    * `|A∩B| ≥ k` (k = integer-ceil(t·L), implied by Jaccard ≥ t since
    * u ≥ L), the two globally-smallest shared tokens x1<x2 both lie in
    * each side's first `L − k + 2` tokens — were x2 deeper in A, A∩B
    * would have ≤ 1 + (k−2) < k elements — so both sides emit the
    * ordered 2-subset (x1,x2) and the equi-join finds the pair. Bucket
    * count rises from |V| to ~|V|²/2 while signature volume only rises
    * `C(p,2)/p`-fold — candidate pairs drop ~10×. Singleton sets emit
    * the degenerate (x,x) signature (identical singletons still pair);
    * `t > 1/2` is required so a singleton can never qualify against a
    * larger set. A cross-multiplied length gate
    * (num·max(La,Lb) ≤ den·min) prunes in the join condition. All
    * threshold math is integer-exact; the per-part argmax orders by the
    * one exact-int division both engines compute identically.
    *
    * Output: one row per part that has a ≥t neighbor — its most-similar
    * neighbor (ties → lowest key), with exact intersection/union sizes.
    * Scale shape: vocabulary stats broadcast; the candidate join
    * partitions by (rare) signature pairs; verification touches
    * candidate pairs only. RetrievalSpec proves zero missed pairs vs
    * driver brute force. */
  def setSimJoin(s: SparkSession, d: String, simNum: Int = 3,
      simDen: Int = 5): DataFrame = {
    import s.implicits._
    setSimJoinOn(
      part(s, d).select($"p_partkey", array_distinct(split($"p_name", " ")).as("w")),
      simNum, simDen)
  }

  /** [[setSimJoin]] over any `(p_partkey, w: array<string>)` frame —
    * the SetSimScale entry point (the tool feeds a synthetic 1M-entity
    * corpus through the identical pipeline). */
  private[graft] def setSimJoinOn(partsFrame: DataFrame, simNum: Int = 3,
      simDen: Int = 5): DataFrame = {
    val s = partsFrame.sparkSession
    import s.implicits._
    require(2 * simNum > simDen,
      "pair-signature prefix requires threshold > 1/2 (singleton-vs-larger pairs excluded)")
    val parts = partsFrame
    val dfTok = parts.select(explode($"w").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
    val orderedAll = parts.select($"p_partkey", explode($"w").as("tok"))
      .join(broadcast(dfTok), "tok")
      .groupBy($"p_partkey")
      .agg(transform(array_sort(collect_list(struct($"n", $"tok"))),
        x => x("tok")).as("ws"))
    // Collapse IDENTICAL sets into equivalence classes before the pair
    // join: duplicate sets make the true pair count quadratic (this
    // corpus: 64 distinct 2-word names over 20k parts ⇒ ~3.1M genuinely
    // qualifying pairs — no candidate filter can prune TRUE pairs), but
    // every member of a class shares one answer. The signature join runs
    // on DISTINCT sets only; members expand back at the end. At 100 TB
    // this is the same discipline as exact dedup-before-minhash: one
    // extra groupBy, and the quadratic blowup on duplicated content is
    // gone.
    val classes = orderedAll.groupBy($"ws")
      .agg(min($"p_partkey").as("p_partkey"),
           sort_array(collect_list($"p_partkey")).as("members"),
           count(lit(1)).as("m"))
    val ordered = classes.select($"p_partkey", $"ws")
    val L = size($"ws")
    // k = ceil(t·L); j=2 prefix = first L − k + 2 tokens (capped at L)
    val kSelf = floor((lit(simNum) * L + lit(simDen - 1)) / lit(simDen)).cast("int")
    val pref2 = ordered.select($"p_partkey", $"ws",
      slice($"ws", lit(1), least(L, L - kSelf + 2)).as("p2"))
    // ordered 2-subsets of the prefix with y's 1-based position (jy);
    // singleton sets emit the degenerate (x, x) at position 1.
    // The signature frame carries NO word-set payload — only the three
    // small ints the join gates need (la, jy) plus the class key. The
    // round-8 DedupScale run measured what dragging a per-row array
    // through both sides of a candidate shuffle costs (~48 GB / 2.3×
    // wall at 10M docs for MinHash); the same discipline applies here:
    // candidates move keys, `ws` re-joins by class key only for the
    // candidate-sized verification step. PlanAuditSpec's payload gate
    // pins this mechanically (broadcast disabled).
    val sigs = pref2
      .select($"p_partkey", size($"ws").as("la"), $"p2",
        posexplode($"p2").as(Seq("i", "x")))
      .select($"p_partkey", $"la", $"x", $"i",
        posexplode(when(size($"p2") === 1, array($"x"))
          .otherwise(slice($"p2", $"i" + 2, size($"p2")))).as(Seq("dj", "y")))
      .select($"p_partkey", $"la", $"x", $"y",
        when($"la" === 1, lit(1))
          .otherwise($"i" + 2 + $"dj").as("jy"))
    // join gates, all integer-exact and loss-free for qualifying pairs:
    //  - length: Jaccard ≥ t ⇒ num·max(La,Lb) ≤ den·min(La,Lb);
    //  - positional (PPJoin): i ≥ k_pair = ceil(num(La+Lb)/(num+den))
    //    needs 2 + min(La−jyA, Lb−jyB) ≥ k_pair — true of the
    //    two-smallest-shared-tokens signature row, so the pair survives
    //    even when its other signature rows are pruned
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.x") === col("b.x") && col("a.y") === col("b.y") &&
          col("a.p_partkey") < col("b.p_partkey") &&
          greatest(col("a.la"), col("b.la")) * simNum <=
            least(col("a.la"), col("b.la")) * simDen &&
          lit(2) + least(col("a.la") - col("a.jy"), col("b.la") - col("b.jy")) >=
            floor(((col("a.la") + col("b.la")) * simNum + lit(simNum + simDen - 1))
              .cast("long") / lit(simNum + simDen)).cast("int"))
      .select(col("a.p_partkey").as("pa"), col("b.p_partkey").as("pb"))
      .dropDuplicates("pa", "pb")
    val verified = cand
      .join(ordered.select($"p_partkey".as("pa"), $"ws".as("wa")), "pa")
      .join(ordered.select($"p_partkey".as("pb"), $"ws".as("wb")), "pb")
      .withColumn("i", size(array_intersect($"wa", $"wb")).cast("long"))
      .withColumn("u", (size($"wa") + size($"wb")).cast("long") - $"i")
      .filter($"i" * lit(simDen.toLong) >= $"u" * lit(simNum.toLong))
      .select($"pa", $"pb", $"i", $"u")
    val sym = verified.select($"pa".as("p"), $"pb".as("q"), $"i", $"u")
      .unionByName(verified.select($"pb".as("p"), $"pa".as("q"), $"i", $"u"))
    val w = Window.partitionBy($"p")
      .orderBy(($"i".cast("double") / $"u").desc, $"q")
    // best inter-class neighbor per class rep; partner classes' members
    // share the partner rep (its min member), so ordering by (j desc,
    // rep asc) IS "lowest q among max-j neighbors"
    val bestInter = sym.withColumn("r", row_number().over(w))
      .filter($"r" === 1)
      .select($"p".as("rep"), $"q".as("q_rep"), $"i".as("ii"), $"u".as("uu"))
    // expand classes back to members: an identical-set twin (jaccard 1,
    // lowest other member) beats any inter-class neighbor (distinct sets
    // ⇒ j < 1); singleton classes take the inter-class best or drop out
    val intraQ = when($"p" === $"members"(0), $"members"(1)).otherwise($"members"(0))
    classes
      .select($"p_partkey".as("rep"), $"ws", $"members", $"m",
              explode($"members").as("p"))
      .join(bestInter, Seq("rep"), "left_outer")
      .withColumn("q", when($"m" >= 2, intraQ).otherwise($"q_rep"))
      .filter($"q".isNotNull)
      .withColumn("iE", when($"m" >= 2, size($"ws").cast("long")).otherwise($"ii"))
      .withColumn("uE", when($"m" >= 2, size($"ws").cast("long")).otherwise($"uu"))
      .select($"p".as("p_partkey"), $"q".as("best_match"),
              $"iE".as("inter"), $"uE".as("uni"),
              round($"iE".cast("double") / $"uE", 4).as("jaccard"))
      .orderBy($"p_partkey")
  }

  /** BLOCKED FUZZY (edit-distance) self-join — the classic
    * entity-resolution matcher for typo-class variation that token-set
    * similarity ([[setSimJoin]]) is blind to: candidates pair within a
    * blocking key, then verify with Levenshtein under `maxDist`,
    * emitting each record's best match (min distance, ties → lowest
    * partner key).
    *
    * Blocking is COMPLETE length-band blocking over the class-collapsed
    * frame (round 11; replaced the two-pass first/last-token OR-blocking
    * whose documented residual mode — edits spanning BOTH anchor tokens —
    * escaped the block, the round-10 verdict's item 4). The length
    * filter (Gravano et al., VLDB'01) is exact: edit distance ≤ d forces
    * `|len(a) − len(b)| ≤ d`, so with band width `d+1` any true pair
    * lands in the same or adjacent band; emitting every class at
    * `{band, band+1}` and equi-joining on the banded key therefore loses
    * NOTHING. **Recall contract (total)**: a true pair within `maxDist`
    * sharing `p_brand` is ALWAYS found — no residual escape mode. The
    * nd_join_fuzzy oracle is deliberately asymmetric proof: DuckDB
    * computes the UNBLOCKED within-brand semantics (plain
    * `levenshtein ≤ d` over all class pairs), so a hash match proves the
    * banding lossless, not merely self-consistent.
    *
    * Identical-name classes collapse BEFORE the pairwise join (the
    * [[setSimJoinOn]] discipline — duplicated content makes true pairs
    * quadratic; every member of a class shares one answer), so the
    * banded join runs over DISTINCT (brand, name) classes only. That
    * collapse is what bounds the block: candidate volume is
    * `Σ classes(brand, band)²` — quadratic in the NAME VOCABULARY per
    * (brand, length-band), never in corpus rows (a trillion-row corpus
    * with the same name vocabulary pays exactly the same pair count).
    * Candidates are verified INLINE — the banded THRESHOLD Levenshtein
    * (O(maxDist·len) with early exit, codegen'd) filters in the same
    * stage as the broadcast class-directory join, so no candidate row
    * ever shuffles; survivors flow straight into the partial-aggregated
    * min-(dist, rep) argmax (decimal-encoded — requires NON-NEGATIVE
    * part keys, which TPC-H and every fixture guarantee). Members rejoin by their (brand, name) class
    * key at the end (payload-free; the two smallest member keys — all
    * the intra-class answer needs — come from two partial-agg'd passes,
    * not a bounded-cardinality window). */
  def fuzzyJoin(s: SparkSession, d: String, maxDist: Int = 4): DataFrame = {
    import s.implicits._
    fuzzyJoinOn(
      part(s, d).select($"p_partkey", $"p_brand", $"p_name"), maxDist)
  }

  /** [[fuzzyJoin]] over any `(p_partkey, p_brand, p_name)` frame — the
    * SetSimScale entry point (the tool feeds a synthetic 1M-record
    * corpus with planted one-edit variants through the identical
    * pipeline). */
  private[graft] def fuzzyJoinOn(partsFrame: DataFrame, maxDist: Int = 4): DataFrame = {
    val s = partsFrame.sparkSession
    import s.implicits._
    val p = partsFrame
    val c1 = p.groupBy($"p_brand", $"p_name")
      .agg(min($"p_partkey").as("min1"), count(lit(1)).as("m"))
    val c2 = p.join(broadcast(c1.select($"p_brand", $"p_name", $"min1")),
        Seq("p_brand", "p_name"))
      .filter($"p_partkey" > $"min1")
      .groupBy($"p_brand", $"p_name").agg(min($"p_partkey").as("min2"))
    // cls forks three ways (both banded join sides + the member rejoin) —
    // persist so the class-collapse aggregates compute once (the round-10
    // advice), released once the result materializes (detach below)
    val cls = c1.join(c2, Seq("p_brand", "p_name"), "left_outer")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // complete length-band blocking: band width maxDist+1 and emission at
    // {band, band+1} on BOTH sides guarantee every pair with
    // |len diff| <= maxDist (a superset of dist <= maxDist, by the length
    // filter) meets on at least one banded key; the equal-band double
    // meeting (keys band AND band+1) is skimmed by keeping only the
    // lower key, so each class pair is verified exactly once
    val w = maxDist + 1
    def banded(side: DataFrame) = side
      .withColumn("band", floor(length($"p_name") / w))
      .withColumn("k", explode(array($"band", $"band" + 1)))
    // probe side: SINGLETON classes only — a class with m ≥ 2 answers
    // intra-class (dist-0 twin, min1/min2) and its banded search result
    // is discarded by the member-rejoin CASE below, so searching for it
    // is pure waste (it still serves as a PARTNER on the build side).
    // On duplicate-heavy corpora this collapses the candidate volume by
    // the duplication factor (213M → 57M at the 1M tool corpus)
    val cand = banded(cls.filter($"m" === 1L).select($"p_brand", $"p_name"))
      .as("a")
      .join(broadcast(banded(cls.select($"p_brand", $"p_name", $"min1")).as("b")),
        col("a.p_brand") === col("b.p_brand") && col("a.k") === col("b.k") &&
          col("a.p_name") =!= col("b.p_name") &&
          !(col("a.band") === col("b.band") && col("a.k") =!= col("a.band")))
      .select(col("a.p_brand").as("p_brand"), col("a.p_name").as("p_name"),
        col("b.min1").as("q_rep"),
        levenshtein(col("a.p_name"), col("b.p_name"), maxDist)
          .cast("long").as("dist"))
      .filter($"dist" =!= -1L)
    // best partner class per class: min distance, ties → lowest partner
    // rep (a partner class's lowest member IS its rep). The (dist, rep)
    // lexicographic argmax is ENCODED into one DECIMAL(38,0)
    // `dist·10¹⁹ + rep` so the aggregate stays a partial-agg'd
    // HashAggregate — `min(struct(...))` is not hash-aggregatable and
    // planned a SortAggregate that SORTED the full candidate stream
    // (measured 136s → 17s at the 1M/213M-candidate tool corpus). The
    // encoding is order-preserving because 0 ≤ rep < 10¹⁹ (any
    // non-negative BIGINT key) and dist ≤ maxDist
    val best = cand.groupBy($"p_brand", $"p_name")
      .agg(min(expr(
        "CAST(dist AS DECIMAL(38,0)) * 10000000000000000000 + q_rep")).as("enc"))
      .select($"p_brand", $"p_name",
        expr("CAST(enc div 10000000000000000000 AS BIGINT)").as("bdist"),
        expr("CAST(enc % 10000000000000000000 AS BIGINT)").as("q_rep"))
    val enriched = cls.join(broadcast(best), Seq("p_brand", "p_name"), "left_outer")
    // members rejoin by class key; an identical-name twin (dist 0,
    // lowest other member) beats any inter-class candidate (names
    // differ ⇒ dist ≥ 1); singleton classes take the inter-class best
    // or drop out
    val out = p.join(broadcast(enriched), Seq("p_brand", "p_name"))
      .withColumn("best_match",
        when($"m" >= 2L, when($"p_partkey" === $"min1", $"min2").otherwise($"min1"))
          .otherwise($"q_rep"))
      .withColumn("dist", when($"m" >= 2L, lit(0L)).otherwise($"bdist"))
      .filter($"best_match".isNotNull)
      .select($"p_partkey", $"best_match", $"dist")
      .orderBy($"p_partkey")
    graft.plans.Caching.detach(out, () => { cls.unpersist(blocking = false); () })
  }

  /** BM25 replay CTEs (ending in `brank`): same canonical/tokenize scheme
    * as the dedup oracles, integer micro idf + exact-ratio tf
    * normalization mirroring [[bm25Retrieve]] operation-for-operation. */
  /** Micro-unit DCG discounts `round(1e6 / log2(rank+1))` for ranks
    * 1..10, computed ONCE here and shared verbatim by the Spark plan
    * (literal DataFrame) and the interpolated oracle VALUES — no float
    * ever crosses engines. */
  private[operators] val ndcgDisc: Seq[(Long, Long)] =
    (1 to 10).map(i =>
      (i.toLong, math.round(1000000.0 / (math.log(i + 1.0) / math.log(2.0)))))

  /** Retrieval QUALITY evaluation — NDCG@k and MRR of the [[bm25Retrieve]]
    * ranking against deterministic graded relevance (candidate shares the
    * query doc's source AND lang → 2, source only → 1, else 0 — the
    * metadata-derived labels an unlabeled-corpus eval harness uses).
    * Entirely integer once the shared discount table is fixed: DCG is an
    * exact `Σ rel·disc_micro` over the k retrieved rows; the IDEAL list
    * needs no sort at all — it is "all the 2s, then all the 1s", so IDCG
    * comes from two per-(source,lang) COUNT aggregates joined to the
    * discount table; NDCG and MRR are positive integral divisions.
    *
    * Scale shape: relevance labeling joins the k·Q-bounded rank list to
    * doc metadata; the count tables are |sources|(×|langs|)-bounded
    * broadcasts; nothing data-scale moves beyond what bm25Retrieve
    * already shuffles. */
  def retrievalNdcg(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    import s.implicits._
    val ranked = bm25Retrieve(s, d, nQueries, 6, k)
    val meta = documents(s, d).select($"doc_id", $"source", $"lang")
    val qmeta = meta.filter($"doc_id" < nQueries)
      .select($"doc_id".as("query_id"),
              $"source".as("q_source"), $"lang".as("q_lang"))
    val rel = ranked.join(broadcast(qmeta), Seq("query_id"))
      .join(meta, Seq("doc_id"))
      .select($"query_id", $"rank",
        when($"source" === $"q_source" && $"lang" === $"q_lang", 2L)
          .when($"source" === $"q_source", 1L).otherwise(0L).as("rel"))
    val disc = ndcgDisc.toDF("rank", "disc_micro")
    val dcg = rel.join(broadcast(disc), Seq("rank"))
      .groupBy($"query_id")
      .agg(sum($"rel" * $"disc_micro").as("dcg_scaled"),
           min(when($"rel" > 0, $"rank")).as("first_rel_rank"))
    // ONE corpus count aggregate: the per-source total is the sum of the
    // per-(source, lang) counts, folded in with a window over the
    // |sources|×|langs|-bounded aggregate output — the earlier separate
    // groupBy(source) pass re-scanned the corpus for values this frame
    // already determines (exact long sums, so n_s is value-identical)
    val wS = Window.partitionBy($"source")
    val srcStats = meta.groupBy($"source", $"lang").agg(count(lit(1)).as("n_sl"))
      .withColumn("n_s", sum($"n_sl").over(wS))
      .select($"source".as("q_source"), $"lang".as("q_lang"), $"n_sl", $"n_s")
    val qc = qmeta.join(broadcast(srcStats), Seq("q_source", "q_lang"))
      .select($"query_id", ($"n_sl" - 1).as("n_rel2"),
              ($"n_s" - $"n_sl").as("n_rel1"))
    val idcg = qc.crossJoin(broadcast(disc))
      .groupBy($"query_id", $"n_rel2", $"n_rel1")
      .agg(sum(when($"rank" <= $"n_rel2", lit(2L) * $"disc_micro")
          .when($"rank" <= $"n_rel2" + $"n_rel1", $"disc_micro")
          .otherwise(0L)).as("idcg_scaled"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select($"query_id", $"n_rel2", $"n_rel1",
        coalesce($"dcg_scaled", lit(0L)).as("dcg_scaled"),
        $"idcg_scaled",
        when($"idcg_scaled" > 0,
          expr("(coalesce(dcg_scaled, 0) * 1000000) div idcg_scaled"))
          .otherwise(0L).as("ndcg_micro"),
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("mrr_micro"))
      .orderBy($"query_id")
  }

  private def bm25CtesSql(nQueries: Int, qTerms: Int): String =
    s"""bdocs AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
          FROM documents),
        bbase AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM bdocs),
        bstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                          CAST(sum(dl) AS BIGINT) AS t_toks FROM bbase),
        bqt AS (SELECT DISTINCT query_id, term FROM (
                  SELECT doc_id AS query_id, unnest(toks[1:$qTerms]) AS term
                  FROM bbase WHERE doc_id < $nQueries)
                WHERE term <> ''),
        bterms AS (SELECT DISTINCT term FROM bqt),
        btf AS (SELECT x.doc_id, x.term, x.dl, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, dl, unnest(toks) AS term FROM bbase) x
                JOIN bterms USING (term)
                GROUP BY x.doc_id, x.term, x.dl),
        bdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY term),
        bidf AS (SELECT term,
                   CAST(round(ln((CAST(n_docs - df AS DOUBLE) + 0.5::DOUBLE) /
                                 (CAST(df AS DOUBLE) + 0.5::DOUBLE) + 1.0::DOUBLE)
                              * 1000000.0::DOUBLE) AS BIGINT) AS idf_micro
                 FROM bdf CROSS JOIN bstats),
        bts AS (SELECT q.query_id, f.doc_id,
                  CAST(round(CAST(idf_micro AS DOUBLE) *
                       (CAST(22*f.tf*t_toks AS DOUBLE) /
                        CAST(10*f.tf*t_toks + 3*t_toks + 9*f.dl*n_docs AS DOUBLE))) AS BIGINT) AS m
                FROM btf f JOIN bqt q USING (term) JOIN bidf USING (term)
                CROSS JOIN bstats
                WHERE f.doc_id <> q.query_id),
        bsc AS (SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS bm25_micro
                FROM bts GROUP BY query_id, doc_id),
        brank AS (SELECT query_id, doc_id, bm25_micro,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY bm25_micro DESC, doc_id) AS rk
                  FROM bsc)"""

  val oracle: Map[String, String] = Map(
    // phrase-search replay: same canonical tokenization, sliding 4-gram
    // window strings (list slices vs Spark's transform+slice), one join
    // on the gram — every joined row is a match site by construction
    "nd_search_phrase" ->
      """WITH dw AS (SELECT doc_id,
                            string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
                     FROM documents),
         gp AS (SELECT doc_id, w, unnest(range(1, len(w) - 2)) AS i
                FROM dw WHERE len(w) >= 4),
         grams AS (SELECT doc_id,
                          array_to_string(w[CAST(i AS INTEGER):CAST(i + 3 AS INTEGER)], ' ') AS gram
                   FROM gp),
         probes AS (SELECT doc_id AS phrase_id,
                           array_to_string(w[1:4], ' ') AS gram
                    FROM dw WHERE doc_id % 50 = 1 AND len(w) >= 4)
         SELECT phrase_id, CAST(count(*) AS BIGINT) AS n_sites,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(sum(DISTINCT doc_id) AS BIGINT) AS id_sum
         FROM grams JOIN probes USING (gram)
         GROUP BY phrase_id ORDER BY phrase_id""",
    // per-component micro-quantization BEFORE any arithmetic: squared
    // norms are exact integer sums, the mean is an integral division of
    // the HUGEINT-widened total
    "nd_embed_quality" ->
      """WITH q AS (SELECT label,
                CAST(len(embedding) AS BIGINT) AS dim,
                CAST(list_sum(list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)
                       * CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)))
                     AS BIGINT) AS n2
              FROM embeddings)
         SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
                min(dim) AS min_dim,
                CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
                min(n2) AS min_n2, max(n2) AS max_n2,
                CAST(CAST(sum(CAST(n2 AS HUGEINT)) AS HUGEINT) // count(*) AS BIGINT) AS avg_n2
         FROM q GROUP BY label ORDER BY label""",
    // UNBLOCKED within-brand Levenshtein semantics — deliberately
    // asymmetric to the engine's length-band blocking, so a hash match
    // PROVES the banding lossless: identical-name class collapse,
    // (min1, min2) member keys, plain dist<=4 over ALL within-brand
    // class pairs, min-(dist, rep) argmax, class-key member expansion
    "nd_join_fuzzy" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_name FROM part),
          fc1 AS (SELECT p_brand, p_name, CAST(min(p_partkey) AS BIGINT) AS min1,
                         CAST(count(*) AS BIGINT) AS m
                  FROM p GROUP BY 1, 2),
          fc2 AS (SELECT p.p_brand, p.p_name, CAST(min(p_partkey) AS BIGINT) AS min2
                  FROM p JOIN fc1 USING (p_brand, p_name)
                  WHERE p_partkey > min1 GROUP BY 1, 2),
          fcls AS (SELECT fc1.p_brand, fc1.p_name, min1, m, min2
                   FROM fc1 LEFT JOIN fc2 ON fc1.p_brand = fc2.p_brand
                                         AND fc1.p_name = fc2.p_name),
          fcand AS (SELECT a.p_brand, a.p_name, b.min1 AS q_rep,
                           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
                    FROM fcls a JOIN fcls b
                      ON a.p_brand = b.p_brand AND a.p_name <> b.p_name
                    WHERE levenshtein(a.p_name, b.p_name) <= 4),
          fbest AS (SELECT p_brand, p_name, dist AS bdist, q_rep
                    FROM (SELECT *, row_number() OVER (PARTITION BY p_brand, p_name
                                     ORDER BY dist, q_rep) AS r
                          FROM fcand) WHERE r = 1)
          SELECT p.p_partkey,
                 CASE WHEN m >= 2 THEN (CASE WHEN p.p_partkey = min1 THEN min2 ELSE min1 END)
                      ELSE q_rep END AS best_match,
                 CASE WHEN m >= 2 THEN CAST(0 AS BIGINT) ELSE bdist END AS dist
          FROM p JOIN fcls USING (p_brand, p_name)
          LEFT JOIN fbest USING (p_brand, p_name)
          WHERE m >= 2 OR bdist IS NOT NULL
          ORDER BY p_partkey""",
    // AllPairs prefix-filter replay: rarity-ordered sets, integer-ceil
    // prefix, cross-multiplied Jaccard gate, per-part argmax
    "nd_join_setsim" ->
      """WITH sp AS (SELECT p_partkey, list_distinct(string_split(p_name, ' ')) AS w FROM part),
          sdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
                  FROM (SELECT p_partkey, unnest(w) AS tok FROM sp) GROUP BY 1),
          sord AS (SELECT p_partkey, list(tok ORDER BY n, tok) AS ws
                   FROM (SELECT p_partkey, unnest(w) AS tok FROM sp) x
                   JOIN sdf USING (tok)
                   GROUP BY 1),
          spref AS (SELECT p_partkey, ws,
                      unnest(ws[1 : len(ws) - (3*len(ws) + 4)//5 + 1]) AS t
                    FROM sord),
          scand AS (SELECT DISTINCT a.p_partkey AS pa, b.p_partkey AS pb,
                           a.ws AS wa, b.ws AS wb
                    FROM spref a JOIN spref b
                      ON a.t = b.t AND a.p_partkey < b.p_partkey),
          sver AS (SELECT pa, pb,
                     CAST(len(list_intersect(wa, wb)) AS BIGINT) AS i,
                     CAST(len(wa) + len(wb) - len(list_intersect(wa, wb)) AS BIGINT) AS u
                   FROM scand),
          sth AS (SELECT * FROM sver WHERE i*5 >= u*3),
          ssym AS (SELECT pa AS p, pb AS q, i, u FROM sth
                   UNION ALL
                   SELECT pb AS p, pa AS q, i, u FROM sth),
          srk AS (SELECT p, q, i, u,
                    row_number() OVER (PARTITION BY p
                      ORDER BY CAST(i AS DOUBLE)/u DESC, q) AS r
                  FROM ssym)
          SELECT p AS p_partkey, q AS best_match, i AS inter, u AS uni,
                 round(CAST(i AS DOUBLE)/u, 4) AS jaccard
          FROM srk WHERE r = 1 ORDER BY p_partkey""",
    "nd_rag_bm25" ->
      s"""WITH ${bm25CtesSql(nQueries = 5, qTerms = 6)}
          SELECT query_id, doc_id, bm25_micro, CAST(rk AS BIGINT) AS rank
          FROM brank WHERE rk <= 10 ORDER BY query_id, rank""",
    // NDCG replay: same bm25 chain, same interpolated discount VALUES,
    // count-derived ideal list, positive integral divisions
    "nd_rag_ndcg" ->
      s"""WITH ${bm25CtesSql(nQueries = 5, qTerms = 6)},
          nmeta AS (SELECT doc_id, source, lang FROM documents),
          nq AS (SELECT doc_id AS query_id, source AS q_source, lang AS q_lang
                 FROM nmeta WHERE doc_id < 5),
          ndisc(rank, disc_micro) AS (VALUES ${ndcgDisc.map {
            case (r, m) => s"($r, $m)" }.mkString(", ")}),
          nrel AS (SELECT b.query_id, b.rk AS rank,
                          CASE WHEN m.source = q.q_source AND m.lang = q.q_lang THEN 2
                               WHEN m.source = q.q_source THEN 1 ELSE 0 END AS rel
                   FROM brank b JOIN nq q USING (query_id)
                   JOIN nmeta m ON m.doc_id = b.doc_id
                   WHERE b.rk <= 10),
          ng AS (SELECT query_id, CAST(sum(rel * disc_micro) AS BIGINT) AS dcg_scaled,
                        min(CASE WHEN rel > 0 THEN rank END) AS first_rel_rank
                 FROM nrel JOIN ndisc USING (rank) GROUP BY query_id),
          nsl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
                  FROM nmeta GROUP BY 1, 2),
          ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                 FROM nmeta GROUP BY 1),
          nqc AS (SELECT query_id, n_sl - 1 AS n_rel2, n_s - n_sl AS n_rel1
                  FROM nq JOIN nsl ON nsl.source = nq.q_source AND nsl.lang = nq.q_lang
                  JOIN ns ON ns.source = nq.q_source),
          nidcg AS (SELECT query_id, n_rel2, n_rel1,
                           CAST(sum(CASE WHEN rank <= n_rel2 THEN 2 * disc_micro
                                    WHEN rank <= n_rel2 + n_rel1 THEN disc_micro
                                    ELSE 0 END) AS BIGINT) AS idcg_scaled
                    FROM nqc CROSS JOIN ndisc GROUP BY 1, 2, 3)
          SELECT i.query_id, n_rel2, n_rel1,
                 coalesce(dcg_scaled, 0) AS dcg_scaled, idcg_scaled,
                 CASE WHEN idcg_scaled > 0
                      THEN (coalesce(dcg_scaled, 0) * 1000000) // idcg_scaled
                      ELSE 0 END AS ndcg_micro,
                 coalesce(1000000 // first_rel_rank, 0) AS mrr_micro
          FROM nidcg i LEFT JOIN ng g ON g.query_id = i.query_id
          ORDER BY i.query_id""",
    "nd_rag_hybrid" ->
      s"""WITH ${bm25CtesSql(nQueries = 5, qTerms = 6)},
          hq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 5),
          hs AS (SELECT query_id, e.vec_id AS doc_id,
                        list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS sim
                 FROM embeddings e CROSS JOIN hq WHERE e.vec_id <> query_id),
          hr AS (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, doc_id) AS rk
                 FROM hs),
          contrib AS (
            SELECT query_id, doc_id,
                   CAST(round(1000000.0::DOUBLE / CAST(60 + rk AS DOUBLE)) AS BIGINT) AS c
            FROM brank WHERE rk <= 10
            UNION ALL
            SELECT query_id, doc_id,
                   CAST(round(1000000.0::DOUBLE / CAST(60 + rk AS DOUBLE)) AS BIGINT) AS c
            FROM hr WHERE rk <= 10),
          fused AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
                    FROM contrib GROUP BY query_id, doc_id),
          frank AS (SELECT query_id, doc_id, rrf_micro,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY rrf_micro DESC, doc_id) AS rk
                    FROM fused)
          SELECT query_id, doc_id, rrf_micro, CAST(rk AS BIGINT) AS rank
          FROM frank WHERE rk <= 10 ORDER BY query_id, rank""",
    "nd_rag_retrieval" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS sim
                FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
          r AS (SELECT query_id, neighbor_id, sim,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
                FROM s)
          SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
                 round(sim, 6) AS cos_sim, substr(text, 1, 40) AS passage
          FROM r JOIN documents ON neighbor_id = doc_id
          WHERE rk <= 5 ORDER BY query_id, rank""",
    "nd_knn_pq" -> pqOracleSql(),
    "nd_knn_ivfpq" -> ivfPqOracleSql(),
    "nd_knn_bq" ->
      """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          coded AS (
            -- DuckDB range-checks 1 << 63, so the top bit is its literal
            -- two's-complement value (same long Spark's shiftleft wraps to)
            SELECT vec_id, v,
                   CAST(list_sum(list_transform(range(1, 65),
                     i -> CASE WHEN v[i] < 0 THEN 0::BIGINT
                               WHEN i = 64 THEN (-9223372036854775807 - 1)::BIGINT
                               ELSE (1::BIGINT << (i-1)) END)) AS BIGINT) AS bq
            FROM vecs),
          q AS (SELECT vec_id AS query_id, v AS qv, bq AS qbq FROM coded WHERE vec_id < 5),
          cand AS (
            SELECT query_id, qv, c.vec_id AS neighbor_id, c.v,
                   bit_count(xor(qbq, c.bq)) AS ham
            FROM coded c CROSS JOIN q WHERE c.vec_id <> query_id),
          sl AS (
            SELECT query_id, neighbor_id,
                   list_cosine_similarity(qv, v) AS sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY ham ASC, neighbor_id) AS hrn
            FROM cand),
          rr AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
            FROM sl WHERE hrn <= 15)
          SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
          FROM rr WHERE rk <= 5 ORDER BY query_id, rank""",
    "nd_knn_mrl" ->
      """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 5),
          cand AS (
            SELECT query_id, qv, vec_id AS neighbor_id, v,
                   list_cosine_similarity(qv[1:32], v[1:32]) AS psim
            FROM vecs CROSS JOIN q WHERE vec_id <> query_id),
          sl AS (
            SELECT query_id, neighbor_id,
                   list_cosine_similarity(qv, v) AS sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY psim DESC, neighbor_id) AS prn
            FROM cand),
          rr AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
            FROM sl WHERE prn <= 15)
          SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
          FROM rr WHERE rk <= 5 ORDER BY query_id, rank""",
    // scalar quantization replayed exactly: per-dim min/max (exact aggs),
    // floor-based codes (floor on the binary value is engine-stable,
    // round is not), dequantize, asymmetric cosine top-k
    // Two-stage replay: the sq8 dequantize CTE feeds a micro-rounded
    // coarse top-20, whose candidates alone are re-scored exactly —
    // stage membership and both ranks are integer-keyed on both engines.
    "nd_rag_rerank" ->
      """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          stats AS (
            SELECT t.i AS i, min(v[t.i]) AS mn, max(v[t.i]) AS mx
            FROM vecs CROSS JOIN range(1, 65) t(i) GROUP BY t.i),
          sc AS (SELECT i, mn, (mx - mn) / 255.0::DOUBLE AS s FROM stats),
          dqe AS (
            SELECT vec_id, t.i AS i,
                   CASE WHEN s = 0 THEN mn
                        ELSE mn + least(255.0::DOUBLE, floor((v[t.i] - mn) / s + 0.5::DOUBLE)) * s
                   END AS x
            FROM vecs CROSS JOIN range(1, 65) t(i) JOIN sc ON sc.i = t.i),
          dq AS (SELECT vec_id, list(x ORDER BY i) AS dv FROM dqe GROUP BY vec_id),
          q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 5),
          coarse AS (
            SELECT query_id, dq.vec_id AS neighbor_id,
                   CAST(round(list_cosine_similarity(qv, dv) * 1000000) AS BIGINT)
                     AS csim_micro
            FROM dq CROSS JOIN q WHERE dq.vec_id <> query_id),
          cand AS (
            SELECT query_id, neighbor_id, CAST(coarse_rank AS BIGINT) AS coarse_rank
            FROM (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY csim_micro DESC, neighbor_id) AS coarse_rank
                  FROM coarse)
            WHERE coarse_rank <= 20),
          ex AS (
            SELECT c.query_id, c.neighbor_id, c.coarse_rank,
                   CAST(round(list_cosine_similarity(q.qv, vv.v) * 1000000) AS BIGINT)
                     AS sim_micro
            FROM cand c JOIN vecs vv ON vv.vec_id = c.neighbor_id
            JOIN q ON q.query_id = c.query_id),
          r AS (SELECT query_id, neighbor_id, coarse_rank, sim_micro,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY sim_micro DESC, neighbor_id) AS rk
                FROM ex)
          SELECT query_id, neighbor_id, sim_micro, CAST(rk AS BIGINT) AS rank,
                 coarse_rank
          FROM r WHERE rk <= 5 ORDER BY query_id, rank""",
    "nd_knn_sq8" ->
      """WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          stats AS (
            SELECT t.i AS i, min(v[t.i]) AS mn, max(v[t.i]) AS mx
            FROM vecs CROSS JOIN range(1, 65) t(i) GROUP BY t.i),
          sc AS (SELECT i, mn, (mx - mn) / 255.0::DOUBLE AS s FROM stats),
          dqe AS (
            SELECT vec_id, t.i AS i,
                   CASE WHEN s = 0 THEN mn
                        ELSE mn + least(255.0::DOUBLE, floor((v[t.i] - mn) / s + 0.5::DOUBLE)) * s
                   END AS x
            FROM vecs CROSS JOIN range(1, 65) t(i) JOIN sc ON sc.i = t.i),
          dq AS (SELECT vec_id, list(x ORDER BY i) AS dv FROM dqe GROUP BY vec_id),
          q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 5),
          scored AS (
            SELECT query_id, dq.vec_id AS neighbor_id,
                   list_cosine_similarity(qv, dv) AS sim
            FROM dq CROSS JOIN q WHERE dq.vec_id <> query_id),
          r AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
            FROM scored)
          SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
          FROM r WHERE rk <= 5 ORDER BY query_id, rank""",
    "nd_knn_recall" ->
      s"""SELECT l.query_id, count(*) AS n_hits,
          CAST(count(*) AS DOUBLE) / 5.0::DOUBLE AS recall_at_k
          FROM ($lshOracleSql) l JOIN ($bruteOracleSql) b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
          GROUP BY l.query_id ORDER BY l.query_id""",
    "nd_knn_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS sim
                FROM embeddings e CROSS JOIN q
                WHERE e.label = 1 AND e.vec_id <> query_id),
          r AS (SELECT query_id, neighbor_id, sim,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
                FROM s)
         SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rk AS BIGINT) AS rank
         FROM r WHERE rk <= 5 ORDER BY query_id, rank""",
    "nd_knn_lsh" -> lshOracleSql,
    "nd_knn_ivf" -> ivfOracleSql(nLists = 16, nProbe = 4, nQueries = 5, k = 5,
      iterations = DefaultLloydIters),
    "nd_knn_graph" -> graphOracleSql(),
    "nd_knn_graph_health" -> graphHealthOracleSql(),
    "nd_knn_ivf_incr" -> ivfIncrOracleSql(cut = 250, nLists = 16, nProbe = 4,
      nQueries = 5, k = 5, iterations = DefaultLloydIters),
    "nd_knn_ivf_health" -> ivfHealthOracleSql(cut = 250, nLists = 16,
      iterations = DefaultLloydIters),
    "nd_knn_brute" -> bruteOracleSql,
    "nd_rag_mmr" -> mmrOracleSql(),
    "nd_knn_range" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                       CAST(round(list_cosine_similarity(qv, e.embedding::DOUBLE[])
                                  * 1000000) AS BIGINT) AS sim_micro
                FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id)
         SELECT query_id, neighbor_id, sim_micro
         FROM s WHERE sim_micro >= 200000
         ORDER BY query_id, neighbor_id""")
}
