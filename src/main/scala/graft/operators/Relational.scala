package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** The relational operator surface (SURVEY.md §2B) exercised as declarative
  * DataFrame plans over the driver corpus, each paired with DuckDB oracle SQL
  * in [[graft.SparkEntry.oracleSql]].
  *
  * Mirrors the query shapes of the reference's corpus
  * (`/root/reference/use-cases.sql:1-42`, `/root/reference/README.md:77-196`):
  * scan/project/filter (B1-B3), equi-joins incl. derived tables (B4-B5), CTEs
  * (B6), group-by aggregates (B7), `ntile` and other window functions (B8),
  * sort (B9), top-k limit (B10), scalar arithmetic (B11), built-in function
  * surface (B14) — plus the relational extensions a complete engine needs
  * (outer/semi joins, set ops, rollup, distinct agg, conditional agg).
  *
  * Scale notes (100 TB design intent, verified via `.explain` in tests):
  *  - dimension tables (region/nation/customer at TPC-H ratios) are broadcast
  *    explicitly so fact-side scans never shuffle for them;
  *  - every aggregate is a hash aggregate with map-side partial agg (free from
  *    Catalyst once the plan is declarative — nothing here blocks it);
  *  - filters/projections sit directly on the scan so parquet gets
  *    PushedFilters + pruned ReadSchema;
  *  - top-k is `orderBy(...).limit(k)` which Catalyst plans as
  *    TakeOrderedAndProject (no global sort).
  *
  * Every query ends in a deterministic total ORDER BY (mirrored in the oracle
  * SQL) so result comparison is stable, and every computed column is aliased
  * identically on both sides. Doubles are rounded to fixed decimals to absorb
  * summation-order differences between engines.
  */
object Relational {

  /** B7: pricing summary aggregate (shape of TPC-H Q1; cf. the reference's
    * GROUP BY corpus `use-cases.sql:30-34`). */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        // price sums exact but primitive: double sums of 2-decimal money
        // values land on repr-half rounding ties disproportionately often
        // (the q29 sf0.001 catch) and are summation-order sensitive, so
        // money runs as integer fixed-point on the hot path ([[Money]])
        round(Money.sumCents(Money.cents($"l_extendedprice")), 2).cast("double")
          .as("sum_base_price"),
        round(Money.sumRev4(Money.rev4($"l_extendedprice", $"l_discount")), 2)
          .cast("double").as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(Money.sumCents(Money.cents($"l_extendedprice")).cast("double")
          / count(lit(1)), 2).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** B4/B5: multi-way equi-join with broadcast dims (shape of TPC-H Q5). */
  def q02RevenueByNation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = customer(s, d); val o = orders(s, d); val l = lineitem(s, d)
    val n = nation(s, d); val r = region(s, d)
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1998-01-01").cast("timestamp"))
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice".cast("decimal(18,6)")
             * (lit(1) - $"l_discount".cast("decimal(18,6)"))), 2).cast("double")
             .as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** B9/B10: top-k with sort → TakeOrderedAndProject (reference Q3 top-15
    * miners, `use-cases.sql:37-42`, re-expressed over the corpus). */
  def q03TopCustomers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    orders(s, d)
      .join(customer(s, d), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(round(sum($"o_totalprice".cast("decimal(18,6)")), 2).cast("double").as("total_spent"),
           count(lit(1)).as("n_orders"))
      .orderBy($"total_spent".desc, $"c_custkey")
      .limit(15)
  }

  /** Semi-join (EXISTS) + agg (shape of TPC-H Q4). */
  def q04OrderPriority(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val l = lineitem(s, d).filter($"l_discount" > 0.05).select($"l_orderkey")
    orders(s, d)
      .join(l, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  /** B6/B8: CTE + ntile bucketing (reference Q2, `use-cases.sql:18-34`). */
  def q05NtileBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"o_totalprice", $"o_orderkey")
    orders(s, d)
      .select($"o_orderkey", $"o_totalprice", ntile(4).over(w).as("bucket"))
      .groupBy($"bucket")
      .agg(round(sum($"o_totalprice".cast("decimal(18,6)")).cast("double")
             / count(lit(1)), 2).as("avg_price"),
           round(min($"o_totalprice"), 2).as("min_price"),
           round(max($"o_totalprice"), 2).as("max_price"),
           count(lit(1)).as("n"))
      .orderBy($"bucket")
      .withColumn("bucket", $"bucket".cast("long"))
      .select($"bucket", $"avg_price", $"min_price", $"max_price", $"n")
  }

  /** B8 at 100 TB: q05's bucketing via [[graft.plans.ScalableNtile]] —
    * identical ntile semantics, but range-partitioned two-phase ranking
    * instead of a single-partition global sort (plan-asserted in
    * PlanSpec). This is the documented scale path for global ntile; q05
    * keeps the literal window form for reference parity. */
  def q35NtileScalable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (binned, freeNtile) = graft.plans.ScalableNtile.ntileDetachable(
      orders(s, d).select($"o_orderkey", $"o_totalprice"),
      4, Seq($"o_totalprice", $"o_orderkey"))
    val agg = binned
      .groupBy($"bucket")
      .agg(round(sum($"o_totalprice".cast("decimal(18,6)")).cast("double")
             / count(lit(1)), 2).as("avg_price"),
           round(min($"o_totalprice"), 2).as("min_price"),
           round(max($"o_totalprice"), 2).as("max_price"),
           count(lit(1)).as("n"))
      .orderBy($"bucket")
    graft.plans.Caching.detach(agg, freeNtile)
  }

  /** B8: window function battery — row_number / rank / lag / lead / running
    * sum, partitioned per customer (scales: state is per-partition). */
  def q06WindowFuncs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    orders(s, d)
      .select(
        $"o_orderkey", $"o_custkey",
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        round(lag($"o_totalprice", 1).over(w), 2).as("prev_price"),
        round(lead($"o_totalprice", 1).over(w), 2).as("next_price"),
        round(sum($"o_totalprice".cast("decimal(18,6)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).cast("double")
          .as("running_total"))
      .orderBy($"o_orderkey")
  }

  /** B11: event-to-event time deltas via lag (re-expression of the
    * reference's block-time-delta self-join, `use-cases.sql:5-15` — same
    * semantics, one window instead of a join: no shuffle of the fact table
    * twice at scale). */
  def q07EventDeltas(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(s, d)
      .select($"user_id", $"event_type",
              (unix_millis($"ts") - lag(unix_millis($"ts"), 1).over(w)).as("delta_ms"))
      .filter($"delta_ms".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           round(avg($"delta_ms"), 2).as("avg_delta_ms"),
           max($"delta_ms").as("max_delta_ms"))
      .orderBy($"event_type")
  }

  /** Set operations: UNION / EXCEPT / INTERSECT (distinct semantics). */
  def q08SetOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = customer(s, d)
    val building  = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val rich      = c.filter($"c_acctbal" > 5000).select($"c_custkey")
    val machinery = c.filter($"c_mktsegment" === "MACHINERY").select($"c_custkey")
    val positive  = c.filter($"c_acctbal" > 0).select($"c_custkey")
    building.union(rich).distinct()
      .except(machinery)
      .intersect(positive)
      .withColumnRenamed("c_custkey", "custkey")
      .orderBy($"custkey")
  }

  /** B14: scalar built-in function surface — string, math, date, JSON. */
  def q09ScalarFuncs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .filter($"event_id" < 200)
      .select(
        $"event_id",
        upper($"event_type").as("etype_upper"),
        substring($"event_type", 1, 3).as("etype_pre"),
        length($"event_type").cast("long").as("etype_len"),
        concat($"event_type", lit("_"), $"user_id".cast("string")).as("tagged"),
        round(abs($"value" - 100.0), 2).as("dist100"),
        round(sqrt($"value"), 4).as("sqrt_val"),
        floor($"value").as("floor_val"),
        year($"ts").cast("long").as("y"),
        month($"ts").cast("long").as("m"),
        dayofmonth($"ts").cast("long").as("dom"),
        get_json_object($"props", "$.k").cast("long").as("prop_k"))
      .orderBy($"event_id")
  }

  /** Exact distinct aggregation (expand + two-phase agg under the hood). */
  def q10DistinctAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_suppkey").as("n_supp"),
           countDistinct($"l_partkey").as("n_part"),
           count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** GROUP BY + HAVING. */
  def q11Having(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    part(s, d)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
           round(avg($"p_retailprice"), 2).as("avg_price"))
      .filter($"n_parts" > 10)
      .orderBy($"p_brand")
  }

  /** Conditional aggregation over a join (shape of TPC-H Q12). */
  def q12ConditionalAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hi = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    lineitem(s, d)
      .join(orders(s, d), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_linestatus")
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_count"),
           sum(when(!hi, 1L).otherwise(0L)).as("low_count"))
      .orderBy($"l_linestatus")
  }

  /** Left outer join + two-level aggregation (shape of TPC-H Q13). */
  def q13OuterJoinDist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    customer(s, d)
      .join(orders(s, d), $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** ROLLUP grouping sets over broadcast-joined dims. */
  def q14Rollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    customer(s, d)
      .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region(s, d)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(round(sum($"c_acctbal"), 2).as("total_bal"),
           count(lit(1)).as("n_cust"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** B14 breadth: date-trunc, formatting, pad/reverse/replace, math
    * (pow/log/exp/sign/mod), conditionals, array sort/join/contains. */
  def q15FunctionBreadth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .filter($"event_id" < 100)
      .select(
        $"event_id",
        date_trunc("month", $"ts").as("month_ts"),
        from_unixtime(unix_timestamp($"ts")).as("ts_str"),
        lpad($"event_type", 10, "_").as("padded"),
        reverse($"event_type").as("rev"),
        regexp_replace($"event_type", "c", "k").as("replaced"),
        round(pow(lit(2.0), ($"event_id" % 5).cast("double")), 1).as("pow2"),
        round(log1p($"value"), 6).as("log_v"),
        round(exp(-$"value" / 100.0), 8).as("exp_v"),
        round(greatest($"value", lit(50.0)), 2).as("hi"),
        round(least($"value", lit(50.0)), 2).as("lo"),
        signum($"value" - 100.0).cast("long").as("sgn"),
        ($"event_id" % 7).as("m7"),
        coalesce(when($"event_type" === "click", null).otherwise($"event_type"),
                 lit("CLICKED")).as("cond"),
        array_join(sort_array(split(concat($"event_type", lit("_"), $"event_type"), "_")), "|")
          .as("arr_joined"),
        array_contains(split($"event_type", ""), "c").as("has_c"))
      .orderBy($"event_id")
  }

  /** Approximate aggregation surface: HLL distinct + quantile sketches —
    * the constant-memory scale path (exact distinct is q10).
    *
    * Raw sketch values are engine-specific (Spark HLL++ vs any oracle's
    * HLL differ by design), so the output hash-pairs differently: the
    * exact distinct counts are emitted as integers, and each sketch is
    * emitted as a BOOLEAN tolerance verdict. The DuckDB oracle produces
    * the same exact counts plus literal TRUEs — so a sketch drifting out
    * of tolerance breaks the hash and the driver's gate genuinely checks
    * sketch accuracy, while finer-grained bounds stay in `ApproxSpec`.
    *
    * Verification is scale-shaped: HLL counts are checked against the
    * exact distinct counts (within 5%), and the quantile sketches are
    * checked by RANK — the fraction of rows ≤ the sketch's value must sit
    * within ±0.01 of the requested quantile. That is one cheap
    * conditional-count pass instead of an exact `percentile`, which
    * buffers and sorts every group's values and is a non-starter at
    * corpus scale. */
  def q21ApproxAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = lineitem(s, d)
      .select($"l_returnflag", $"l_partkey", $"l_suppkey", $"l_extendedprice")
    // rsd 1/60 under the 5% acceptance gate = 3-sigma margin; the old
    // default rsd (5%) sat exactly AT the gate, so a ~1-sigma estimate in
    // dense-HLL mode at larger SFs could flip the pinned-TRUE verdicts.
    // 1/60 (not a finer 0.01) deliberately: it is the largest 3-sigma rsd
    // that still fits HLL precision p=12; rsd 0.01 needs p=14 (4x the
    // registers) and measured 3x slower per pass at sf0.1 with no
    // verdict-margin benefit beyond 3 sigma
    val sketchRsd = 1.0 / 60
    val sketches = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", rsd = sketchRsd).as("ap_parts"),
           approx_count_distinct($"l_suppkey", rsd = sketchRsd).as("ap_supps"),
           percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("ap_median"),
           percentile_approx($"l_extendedprice", lit(0.95), lit(10000)).as("ap_p95"))
    // exact-distinct validation split off the rank-check pass (the q38
    // lesson): mixing countDistinct with the sketch-joined sums makes
    // Spark Expand every joined row once per distinct spec — 3x the rows,
    // each dragging the sketch columns through the shuffle. Split, the
    // Expand pass runs on a narrow 3-column projection and the rank pass
    // is a plain codegen'd conditional-count; both shuffle only 3 groups.
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"),
           countDistinct($"l_suppkey").as("exact_supps"))
    val ranks = li.select($"l_returnflag", $"l_extendedprice")
      .join(broadcast(sketches), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
           sum(when($"l_extendedprice" <= $"ap_median", 1L).otherwise(0L)).as("n_le_med"),
           sum(when($"l_extendedprice" <= $"ap_p95", 1L).otherwise(0L)).as("n_le_p95"),
           first($"ap_parts").as("ap_parts"),
           first($"ap_supps").as("ap_supps"))
    exact.join(ranks, "l_returnflag")
      .select($"l_returnflag", $"exact_parts", $"exact_supps",
        (abs($"ap_parts" - $"exact_parts") / $"exact_parts" <= 0.05).as("parts_sketch_ok"),
        (abs($"ap_supps" - $"exact_supps") / $"exact_supps" <= 0.05).as("supps_sketch_ok"),
        (abs($"n_le_med" / $"n".cast("double") - 0.5) <= 0.01).as("median_sketch_ok"),
        (abs($"n_le_p95" / $"n".cast("double") - 0.95) <= 0.01).as("p95_sketch_ok"))
      .orderBy($"l_returnflag")
  }

  /** Sampling surface: seeded bernoulli sample → aggregate. Deterministic
    * for a fixed input layout + seed; no cross-engine oracle. */
  def q22Sample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .sample(withReplacement = false, fraction = 0.1, seed = 42L)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sampled"),
           round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** Reproducible sampling — the q22 `sample()` RNG is engine/partition
    * specific, so production training-data pipelines sample by KEY HASH
    * instead: stable across engines, re-runs and cluster layouts, and
    * exactly replayable by the oracle (md5-fold, as the dedup sketches). */
  def q36HashSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .filter(conv(substring(md5(concat_ws("|", $"l_orderkey", $"l_linenumber")), 1, 7), 16, 10)
        .cast("long") % 100 < 10)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sampled"),
           round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** B14 breadth: JSON round-trip (to_json/get_json_object) and map
    * construction/access — the oracle checks the extracted VALUES, which
    * must equal the source columns if the machinery is correct. */
  def q37MapJson(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    nation(s, d)
      .select($"n_nationkey", $"n_name", $"n_regionkey",
        to_json(struct($"n_name".as("name"), $"n_regionkey".as("rk"))).as("js"),
        map_from_arrays(array(lit("name"), lit("key")),
          array($"n_name", $"n_nationkey".cast("string"))).as("m"))
      .select($"n_nationkey",
        get_json_object($"js", "$.name").as("j_name"),
        get_json_object($"js", "$.rk").cast("long").as("j_rk"),
        element_at($"m", "name").as("m_name"),
        element_at($"m", "key").as("m_key"),
        size(map_keys($"m")).cast("long").as("m_nkeys"))
      .orderBy($"n_nationkey")
  }

  /** CUBE grouping sets over two independent dimensions. */
  def q23Cube(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    customer(s, d)
      .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region(s, d)), $"n_regionkey" === $"r_regionkey")
      .cube($"r_name", $"c_mktsegment")
      .agg(round(sum($"c_acctbal"), 2).as("total_bal"), count(lit(1)).as("n"))
      .orderBy($"r_name".asc_nulls_first, $"c_mktsegment".asc_nulls_first)
  }

  /** PIVOT: returnflag × linestatus matrix of quantity sums. */
  def q24Pivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum($"l_quantity"), 2))
      .orderBy($"l_returnflag")
  }

  /** Nested types: struct field access + map construction/extraction. */
  def q25StructMap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .filter($"event_id" < 100)
      .select(
        $"event_id",
        struct($"event_type".as("t"), $"user_id".as("u")).getField("t").as("st_t"),
        struct($"event_type".as("t"), $"user_id".as("u")).getField("u").as("st_u"),
        element_at(map_from_arrays(array(lit("uid")), array($"user_id")), "uid").as("m_uid"))
      .orderBy($"event_id")
  }

  /** As-of join (purchases ← most recent prior click per user) via the
    * union-sort-carry composition in [[graft.plans.TemporalJoins]].
    * Right side deduped per (user, ts) so tie-breaks are deterministic in
    * both engines. */
  def q26AsofJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_millis($"ts").as("tms"), $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", unix_millis($"ts").as("tms"), $"event_id".as("click_id"))
      .groupBy($"user_id", $"tms").agg(max($"click_id").as("click_id"))
    graft.plans.TemporalJoins.asofJoin(purchases, clicks, "user_id", "tms", Seq("click_id"))
      .select($"event_id", $"user_id", $"tms", round($"value", 2).as("value"),
              $"asof_click_id")
      .orderBy($"event_id")
  }

  /** Bounded range join (errors × clicks within ±5 min per user) via the
    * binned composition — no per-key cross product. */
  def q27RangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id".as("err_id"), $"user_id", unix_millis($"ts").as("etms"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", unix_millis($"ts").as("ctms"))
    graft.plans.TemporalJoins.rangeJoinBinned(
        errors, clicks, "user_id", col("etms"), col("ctms"), 300000L)
      .groupBy($"err_id")
      .agg(count(lit(1)).as("n_nearby_clicks"))
      .orderBy($"err_id")
  }

  /** Custom typed aggregate: deterministic bottom-k-by-hash group sample
    * ([[graft.functions.BottomKByHash]]) — one-pass mergeable sampling,
    * oracle-checkable because md5 order is engine-independent. */
  def q28GroupSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sampler = udaf(new graft.functions.BottomKByHash(5))
    documents(s, d)
      .select($"lang", md5($"doc_id".cast("string").cast("binary")).as("h"), $"doc_id")
      .groupBy($"lang")
      .agg(sampler($"h", $"doc_id").as("ids"))
      .select($"lang", posexplode($"ids").as(Seq("pos", "doc_id")))
      .select($"lang", ($"pos" + 1).cast("long").as("rank"), $"doc_id")
      .orderBy($"lang", $"rank")
  }

  /** KMV distinct-count sketch ([[graft.functions.KmvDistinct]]): per
    * return flag, the sketch estimate AND the exact distinct count for
    * part and order keys. Each key hashes through one native kernel,
    * [[graft.functions.Expressions.Md5Fold60]]: the md5 of `"kmv|<key>"`
    * folded to its first 60 bits, computed on the string's bytes with no
    * hex string in between. The sketch state is the 256 smallest of those
    * hashes as a sorted primitive array — O(k) mergeable, one pass,
    * map-side partials, O(1) per rejected row. Because the fold is the
    * replayable [[graft.functions.Expressions.Sketch]] scheme (the oracle
    * computes it with `md5` and hex arithmetic), the ESTIMATE ITSELF
    * hash-matches the oracle (q21's HLL can only be tolerance-gated; this
    * is the fully-checkable sketch). */
  def q38KmvDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.Expressions.md5Fold60
    val kmv = udaf(new graft.functions.KmvDistinct(256),
      org.apache.spark.sql.Encoders.scalaLong)
    val li = lineitem(s, d)
    // sketches and exact counts aggregate in SEPARATE passes joined on the
    // 3-row group key: mixing countDistinct with typed aggregates makes
    // Spark Expand every input row once per distinct spec (3× the rows
    // through a SortAggregate — measured 2.5× slower than two clean
    // passes), and the exact counts exist only as the sketch's on-query
    // validation anyway. The hint makes the 3-row sketch side the build
    // side in every run; unhinted, AQE broadcasts whichever pass finishes
    // first.
    val sketches = li
      .select($"l_returnflag",
        md5Fold60(concat_ws("|", lit("kmv"), $"l_partkey")).as("hp"),
        md5Fold60(concat_ws("|", lit("kmv"), $"l_orderkey")).as("ho"))
      .groupBy($"l_returnflag")
      .agg(round(kmv($"hp"), 4).as("kmv_parts"),
           round(kmv($"ho"), 4).as("kmv_orders"))
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"),
           countDistinct($"l_orderkey").as("exact_orders"))
    broadcast(sketches).join(exact, "l_returnflag")
      .select($"l_returnflag", $"kmv_parts", $"kmv_orders",
              $"exact_parts", $"exact_orders")
      .orderBy($"l_returnflag")
  }

  /** B8 breadth: the window FRAME battery — moving-window ROWS frames,
    * value-bounded RANGE frames, first/last/nth value over explicit
    * frames, percent_rank/cume_dist — in ONE ANSI text both engines run
    * verbatim ([[windowFramesSql]]): Spark executes it through
    * `spark.sql`, DuckDB replays the identical string as the oracle.
    * Money is exact integer cents so frame sums are order-free. Windows
    * partition by customer — per-group state, no global funnel. */
  def q43WindowFrames(s: SparkSession, d: String): DataFrame = {
    graft.Catalog.mountCorpus(s, d)
    s.sql(windowFramesSql)
  }

  private val windowFramesSql =
    """WITH o AS (
         SELECT o_custkey, o_orderkey,
                CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders WHERE o_custkey % 25 = 0)
       SELECT o_custkey, o_orderkey, cents,
         CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS run_n,
         CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving3_cents,
         CAST(first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS first_ok,
         CAST(last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS last_ok,
         CAST(nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS second_ok,
         round(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 6) AS pct_rank,
         round(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 6) AS cdist,
         CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY cents
              RANGE BETWEEN 500000 PRECEDING AND 500000 FOLLOWING) AS BIGINT) AS range_n
       FROM o
       ORDER BY o_custkey, o_orderkey"""

  /** B7 breadth: explicit GROUPING SETS (the general form behind q14's
    * rollup and q23's cube) with `grouping()` null-vs-subtotal markers —
    * again one ANSI text both engines run verbatim. */
  def q44GroupingSets(s: SparkSession, d: String): DataFrame = {
    graft.Catalog.mountCorpus(s, d)
    s.sql(groupingSetsSql)
  }

  private val groupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
         CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
         CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
         count(*) AS n_items,
         CAST(round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) * 0.01, 2) AS DOUBLE) AS total_price
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
       ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  /** B7 breadth: ordered string aggregation (LISTAGG / string_agg) — the
    * per-group top-3 accounts concatenated in a deterministic order. The
    * Spark side sorts the collected array before joining (collect_list
    * order is nondeterministic; array_sort makes the aggregate order-free),
    * the oracle uses `string_agg(... ORDER BY ...)`. */
  def q45StringAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"n_name").orderBy($"c_acctbal".desc, $"c_custkey")
    customer(s, d)
      .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .groupBy($"n_name")
      .agg(array_join(array_sort(collect_list($"c_name")), "|").as("top_names"),
           round(Money.sumCents(Money.cents($"c_acctbal")), 2).cast("double").as("top_bal"))
      .orderBy($"n_name")
  }

  /** Exact global order statistics WITHOUT a single-partition sort — the
    * scale-true complement to q21's sketch percentiles. `percentile_disc`
    * (and any exact `percentile`) plans a global sort or a single-node
    * aggregation buffer; at 100 TB both funnel the column through one
    * task. This computes the value at rank ceil(q·N) for q ∈ {0.25, 0.5,
    * 0.95} from [[graft.plans.ScalableNtile.globalRank]]'s per-range rank
    * + P-row offset broadcast (nothing data-scale is globally sorted),
    * then ONE aggregate pass reads the three order statistics as
    * `min(value WHERE rank ≥ target)` — correct because rank order IS
    * value order. Money stays in exact integer cents ([[Money.cents]]),
    * so both engines compare integers, not doubles. Ties on value are
    * harmless: the value at a given rank is unique regardless of how
    * equal values are tie-broken, so the rank tie-break key exists only
    * to make the assignment deterministic. */
  def q46ExactPercentile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = lineitem(s, d)
      .select(Money.cents($"l_extendedprice").as("cents"),
              $"l_orderkey", $"l_linenumber")
    val ranked = graft.plans.ScalableNtile.globalRank(
      li, Seq($"cents", $"l_orderkey", $"l_linenumber"), "rnk", "n")
    def at(q: String): Column =
      min(when($"rnk" >= ceil(lit(new java.math.BigDecimal(q)) * $"n").cast("long"),
               $"cents"))
    ranked.agg(
        max($"n").as("n_rows"),
        at("0.25").as("p25_cents"),
        at("0.5").as("p50_cents"),
        at("0.95").as("p95_cents"))
      .select($"n_rows", $"p25_cents", $"p50_cents", $"p95_cents",
              ($"p50_cents".cast("decimal(28,0)") * lit(new java.math.BigDecimal("0.01")))
                .cast("double").as("median_dollars"))
  }

  /** Exact-integer simple linear regression (OLS of price on quantity per
    * return flag) — the `regr_slope`/`regr_intercept`/`regr_r2` family
    * computed WITHOUT float accumulation. Both engines sum five exact
    * integer moments (n, Σx, Σy, Σxy, Σx², Σy² in cents), widened to
    * DECIMAL(38,0)/HUGEINT so nothing wraps at any scale, and derive
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    *   r²        = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))
    *
    * as ONE double division of two exact integers at the very end (then
    * round 6) — summation order can't perturb anything. 100 TB: one
    * partial-agg'd groupBy; the closed-form avoids the two-pass
    * mean-centering formulation entirely. Built-in `regr_*` aggregates
    * sum doubles and are order-sensitive — this is the deterministic
    * replacement. */
  def q47Linreg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = lineitem(s, d)
      .select($"l_returnflag",
              Money.cents($"l_quantity").as("x"),
              Money.cents($"l_extendedprice").as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
           sum($"x".cast("decimal(38,0)")).as("sx"),
           sum($"y".cast("decimal(38,0)")).as("sy"),
           sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"),
           sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
           sum(($"y" * $"y").cast("decimal(38,0)")).as("syy"))
    m.select($"l_returnflag", $"n".cast("long").as("n_rows"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
              ($"n" * $"sxx" - $"sx" * $"sx").cast("double"), 6).as("slope"),
        round((($"sy" * $"sxx" - $"sx" * $"sxy").cast("double") /
               ($"n" * $"sxx" - $"sx" * $"sx").cast("double")) * 0.01, 6).as("intercept_dollars"),
        // the squared/cross products overflow DECIMAL(38,0) (caught at
        // sf0.1) — convert each EXACT factor to double first; the
        // square/product/divide are then identical IEEE ops both engines
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") * ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
              (($"n" * $"sxx" - $"sx" * $"sx").cast("double") * ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6).as("r2"))
      .orderBy($"l_returnflag")
  }

  /** Equi-width histogram over a GLOBAL min/max — the `width_bucket`
    * profile pass. The corpus min/max is one metadata-size aggregate
    * broadcast back over the data (a 1-row cross join — no second scan
    * shuffle), each order lands in bin `((cents−mn)·16) div (mx−mn+1)`
    * (pure integer → identical bucketing on both engines), and the
    * per-bin stats + a running cumulative count (a 16-row window) come
    * out of one groupBy. The shape every data-profiling pass needs: two
    * aggregates and a broadcast, nothing data-scale moves twice. */
  def q48Histogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = orders(s, d).select(Money.cents($"o_totalprice").as("cents"))
    val bounds = cents.agg(min($"cents").as("mn"), max($"cents").as("mx"))
    val binned = cents.crossJoin(broadcast(bounds))
      .select($"cents", expr("((cents - mn) * 16) div (mx - mn + 1)").as("bin"))
    binned.groupBy($"bin")
      .agg(count(lit(1)).as("n_orders"),
           min($"cents").as("lo_cents"), max($"cents").as("hi_cents"))
      .withColumn("cum_orders",
        sum($"n_orders").over(Window.orderBy($"bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy($"bin")
  }

  /** UNPIVOT (wide → long) via Spark's native `unpivot` operator — the
    * melt every feature store needs. Per-nation customer metrics computed
    * once as four columns, then unpivoted to (n_name, metric, value)
    * rows. `unpivot` is a map-side relational expand (no shuffle beyond
    * the aggregate's); the oracle is the portable UNION ALL spelling.
    * All values are exact integer cents/counts in one BIGINT column. */
  def q49Unpivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wide = customer(s, d)
      .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_cust"),
           sum(Money.cents($"c_acctbal")).as("total_bal_cents"),
           min(Money.cents($"c_acctbal")).as("min_bal_cents"),
           max(Money.cents($"c_acctbal")).as("max_bal_cents"))
    wide.unpivot(
        ids = Array($"n_name"),
        values = Array($"n_cust", $"total_bal_cents", $"min_bal_cents", $"max_bal_cents"),
        variableColumnName = "metric",
        valueColumnName = "value")
      .orderBy($"n_name", $"metric")
  }

  /** B-surface breadth: correlated LATERAL subquery with ORDER BY +
    * LIMIT — top-k-per-group spelled the declarative ANSI way, one text
    * both engines run verbatim (the q43 discipline). Catalyst
    * DECORRELATES the lateral into a per-key window rank (see PLANS.md:
    * no nested loop, no per-row re-execution), so the scale shape is the
    * same hash-partitioned rank the hand-written top-k queries use —
    * the feature is that users get it from plain SQL. Money is exact
    * integer cents. */
  def q50LateralTopk(s: SparkSession, d: String): DataFrame = {
    graft.Catalog.mountCorpus(s, d)
    s.sql(lateralTopkSql)
  }

  private val lateralTopkSql =
    """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 100 = 0)
       SELECT c.c_custkey, c.c_name, t.o_orderkey, t.cents
       FROM c, LATERAL (
         SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders o WHERE o.o_custkey = c.c_custkey
         ORDER BY cents DESC, o_orderkey LIMIT 2) t
       ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey"""

  /** B-surface breadth: RECURSIVE CTE — multi-hop reachability over the
    * supplier co-supply graph (suppliers sharing a part are neighbors),
    * one ANSI text BOTH engines run verbatim (the q43/q50 discipline;
    * Spark 4's recursive CTE only accepts UNION ALL, which DuckDB
    * matches level-for-level, so path-counting semantics agree exactly).
    * The working set is bounded by construction — the edge CTE restricts
    * to a fixed 40-part subgraph (constant at any SF) and the recursion
    * is depth-limited, so each level is one distributed join of a
    * bounded frame, never an unbounded fixpoint. The iterative
    * convergence-guarded loops (eth_q19/q22) remain the scale path for
    * full-graph closure; this row covers the declarative SQL surface. */
  def q51RecursiveCte(s: SparkSession, d: String): DataFrame = {
    graft.Catalog.mountCorpus(s, d)
    s.sql(recursiveCteSql)
  }

  private val recursiveCteSql =
    """WITH RECURSIVE e AS (
         SELECT DISTINCT l_suppkey AS s, l_partkey AS p
         FROM lineitem WHERE l_partkey <= 40),
       reach(s, depth) AS (
         SELECT min(s), 0 FROM e
         UNION ALL
         SELECT e2.s, r.depth + 1
         FROM reach r JOIN e e1 ON e1.s = r.s JOIN e e2 ON e2.p = e1.p
         WHERE r.depth < 2)
       SELECT s AS suppkey, CAST(min(depth) AS BIGINT) AS min_hops,
              CAST(count(*) AS BIGINT) AS n_paths
       FROM reach GROUP BY s ORDER BY suppkey"""

  /** Oracle SQL (DuckDB dialect = ANSI here) for each query above. */
  val oracle: Map[String, String] = Map(
    "q50_lateral_topk" -> lateralTopkSql,
    "q51_recursive_cte" -> recursiveCteSql,
    // KMV replay: k smallest distinct 60-bit folds per group, estimate
    // (k-1)·2^60 / h_(k) — double ops in the same order as the aggregate
    "q38_kmv_distinct" -> {
      def estCte(col: String, tag: String): String =
        s"""h_$tag AS (SELECT DISTINCT l_returnflag, ${graft.functions.Expressions.Sketch.foldSql(15, s"concat_ws('|', 'kmv', CAST($col AS VARCHAR))")} AS h
                 FROM lineitem),
           r_$tag AS (SELECT l_returnflag, h,
                        row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk,
                        count(*) OVER (PARTITION BY l_returnflag) AS nd
                      FROM h_$tag),
           e_$tag AS (SELECT l_returnflag,
                        CASE WHEN max(nd) < 256 THEN CAST(max(nd) AS DOUBLE)
                             ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE)
                                  / CAST(max(CASE WHEN rk = 256 THEN h END) AS DOUBLE) END AS est
                      FROM r_$tag WHERE rk <= 256 GROUP BY l_returnflag)"""
      s"""WITH ${estCte("l_partkey", "p")},
           ${estCte("l_orderkey", "o")},
           ex AS (SELECT l_returnflag,
                         count(DISTINCT l_partkey) AS exact_parts,
                         count(DISTINCT l_orderkey) AS exact_orders
                  FROM lineitem GROUP BY l_returnflag)
           SELECT l_returnflag, round(e_p.est, 4) AS kmv_parts,
                  round(e_o.est, 4) AS kmv_orders, exact_parts, exact_orders
           FROM ex JOIN e_p USING (l_returnflag) JOIN e_o USING (l_returnflag)
           ORDER BY l_returnflag"""
    },
    // exact distinct counts hash-match; the booleans are the sketch
    // tolerance CLAIM (oracle pins TRUE, Spark computes them from the
    // live HLL/quantile sketches) — see q21ApproxAgg scaladoc
    "q21_approx_agg" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS exact_parts,
         count(DISTINCT l_suppkey) AS exact_supps,
         TRUE AS parts_sketch_ok, TRUE AS supps_sketch_ok,
         TRUE AS median_sketch_ok, TRUE AS p95_sketch_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                        * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 2) AS avg_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_revenue_by_nation" ->
      """SELECT n_name,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                        * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "q03_top_customers" ->
      """SELECT c_custkey, c_name,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_spent, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY total_spent DESC, c_custkey LIMIT 15""",
    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q05_ntile_buckets" ->
      """WITH b AS (
           SELECT o_orderkey, o_totalprice,
                  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
           FROM orders)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 2) AS avg_price,
                round(min(o_totalprice), 2) AS min_price,
                round(max(o_totalprice), 2) AS max_price,
                count(*) AS n
         FROM b GROUP BY bucket ORDER BY bucket""",
    "q35_ntile_scalable" ->
      """WITH b AS (
           SELECT o_orderkey, o_totalprice,
                  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
           FROM orders)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 2) AS avg_price,
                round(min(o_totalprice), 2) AS min_price,
                round(max(o_totalprice), 2) AS max_price,
                count(*) AS n
         FROM b GROUP BY bucket ORDER BY bucket""",
    "q06_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
         round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_orderkey""",
    "q07_event_deltas" ->
      """WITH d AS (
           SELECT user_id, event_type,
                  epoch_ms(ts) - lag(epoch_ms(ts), 1)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_ms
           FROM events)
         SELECT event_type, count(*) AS n,
                round(avg(delta_ms), 2) AS avg_delta_ms,
                max(delta_ms) AS max_delta_ms
         FROM d WHERE delta_ms IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    "q08_set_ops" ->
      """SELECT custkey FROM (
           SELECT * FROM (
             (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION
              SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
             EXCEPT
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
           INTERSECT
           SELECT c_custkey FROM customer WHERE c_acctbal > 0)
         ORDER BY custkey""",
    "q09_scalar_funcs" ->
      """SELECT event_id,
         upper(event_type) AS etype_upper,
         substring(event_type, 1, 3) AS etype_pre,
         CAST(length(event_type) AS BIGINT) AS etype_len,
         concat(event_type, '_', CAST(user_id AS VARCHAR)) AS tagged,
         round(abs("value" - 100.0), 2) AS dist100,
         round(sqrt("value"), 4) AS sqrt_val,
         CAST(floor("value") AS BIGINT) AS floor_val,
         CAST(year(ts) AS BIGINT) AS y,
         CAST(month(ts) AS BIGINT) AS m,
         CAST(day(ts) AS BIGINT) AS dom,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
         FROM events WHERE event_id < 200 ORDER BY event_id""",
    "q10_distinct_agg" ->
      """SELECT l_returnflag,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q11_having" ->
      """SELECT p_brand, count(*) AS n_parts,
         round(avg(p_retailprice), 2) AS avg_price
         FROM part GROUP BY p_brand HAVING count(*) > 10 ORDER BY p_brand""",
    "q12_conditional_agg" ->
      """SELECT l_linestatus,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q13_outer_join_dist" ->
      """WITH c_orders AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist
         FROM c_orders GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "q14_rollup" ->
      """SELECT r_name, n_name,
         round(sum(c_acctbal), 2) AS total_bal, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",
    "q15_function_breadth" ->
      """SELECT event_id,
         date_trunc('month', ts) AS month_ts,
         strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_str,
         lpad(event_type, 10, '_') AS padded,
         reverse(event_type) AS rev,
         regexp_replace(event_type, 'c', 'k', 'g') AS replaced,
         round(pow(2.0, CAST(event_id % 5 AS DOUBLE)), 1) AS pow2,
         round(ln(1 + "value"), 6) AS log_v,
         round(exp(-"value" / 100.0), 8) AS exp_v,
         round(greatest("value", 50.0), 2) AS hi,
         round(least("value", 50.0), 2) AS lo,
         CAST(sign("value" - 100.0) AS BIGINT) AS sgn,
         event_id % 7 AS m7,
         coalesce(nullif(event_type, 'click'), 'CLICKED') AS cond,
         array_to_string(list_sort(string_split(concat(event_type, '_', event_type), '_')), '|') AS arr_joined,
         list_contains(string_split(event_type, ''), 'c') AS has_c
         FROM events WHERE event_id < 100 ORDER BY event_id""",
    "q36_hash_sample" ->
      """SELECT l_returnflag, count(*) AS n_sampled, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         WHERE CAST(list_sum(list_transform(range(1,8), fi -> (strpos('0123456789abcdef', substr(md5(concat_ws('|', l_orderkey, l_linenumber)), fi, 1)) - 1)::BIGINT << (4*(7-fi)))) AS BIGINT) % 100 < 10
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q37_map_json" ->
      """SELECT n_nationkey, n_name AS j_name, CAST(n_regionkey AS BIGINT) AS j_rk,
         n_name AS m_name, CAST(n_nationkey AS VARCHAR) AS m_key, CAST(2 AS BIGINT) AS m_nkeys
         FROM nation ORDER BY n_nationkey""",
    "q23_cube" ->
      """SELECT r_name, c_mktsegment,
         round(sum(c_acctbal), 2) AS total_bal, count(*) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY CUBE (r_name, c_mktsegment)
         ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""",
    "q24_pivot" ->
      """SELECT l_returnflag,
         round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F",
         round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q25_struct_map" ->
      """SELECT event_id,
         struct_pack(t := event_type, u := user_id).t AS st_t,
         struct_pack(t := event_type, u := user_id).u AS st_u,
         map([ 'uid' ], [ user_id ])['uid'][1] AS m_uid
         FROM events WHERE event_id < 100 ORDER BY event_id""",
    "q26_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS tms, "value"
                    FROM events WHERE event_type = 'purchase'),
          c AS (SELECT user_id, epoch_ms(ts) AS tms, max(event_id) AS click_id
                FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_ms(ts))
         SELECT p.event_id, p.user_id, p.tms, round(p."value", 2) AS "value",
                c.click_id AS asof_click_id
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tms >= c.tms
         ORDER BY p.event_id""",
    "q27_range_join" ->
      """WITH e AS (SELECT event_id AS err_id, user_id, epoch_ms(ts) AS etms
                    FROM events WHERE event_type = 'error'),
          c AS (SELECT user_id, epoch_ms(ts) AS ctms
                FROM events WHERE event_type = 'click')
         SELECT err_id, count(*) AS n_nearby_clicks
         FROM e JOIN c ON e.user_id = c.user_id AND abs(e.etms - c.ctms) <= 300000
         GROUP BY err_id ORDER BY err_id""",
    "q28_group_sample" ->
      """WITH h AS (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
          r AS (SELECT lang, doc_id,
                       row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk
                FROM h)
         SELECT lang, CAST(rk AS BIGINT) AS rank, doc_id
         FROM r WHERE rk <= 5 ORDER BY lang, rank""",
    // q43/q44 oracles are the SAME ANSI text Spark executes — the whole
    // point: one query string, two engines, hash-identical results
    "q43_window_frames" -> windowFramesSql,
    "q44_grouping_sets" -> groupingSetsSql,
    "q45_string_agg" ->
      """WITH r AS (SELECT n_name, c_name, c_acctbal,
                      row_number() OVER (PARTITION BY n_name
                        ORDER BY c_acctbal DESC, c_custkey) AS rk
                    FROM customer JOIN nation ON c_nationkey = n_nationkey)
         SELECT n_name, string_agg(c_name, '|' ORDER BY c_name) AS top_names,
                CAST(round(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) * 0.01, 2) AS DOUBLE) AS top_bal
         FROM r WHERE rk <= 3 GROUP BY n_name ORDER BY n_name""",
    // exact order statistics in integer cents: value at rank ceil(q*N) —
    // the literal single-sort formulation the scalable plan must equal
    "q46_exact_percentile" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
                    FROM lineitem),
           r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rnk,
                        count(*) OVER () AS n
                 FROM c)
         SELECT max(n) AS n_rows,
                min(CASE WHEN rnk >= CAST(ceil(0.25 * n) AS BIGINT) THEN cents END) AS p25_cents,
                min(CASE WHEN rnk >= CAST(ceil(0.5 * n) AS BIGINT) THEN cents END) AS p50_cents,
                min(CASE WHEN rnk >= CAST(ceil(0.95 * n) AS BIGINT) THEN cents END) AS p95_cents,
                CAST(min(CASE WHEN rnk >= CAST(ceil(0.5 * n) AS BIGINT) THEN cents END) * 0.01 AS DOUBLE) AS median_dollars
         FROM r""",
    // exact integer moments widened to HUGEINT, ONE double division at
    // the end — the order-free regr_slope/intercept/r2 replay
    "q47_linreg" ->
      """WITH m AS (SELECT l_returnflag,
                      CAST(count(*) AS HUGEINT) AS n,
                      CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS HUGEINT) AS sx,
                      CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS HUGEINT) AS sy,
                      CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)
                             * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS HUGEINT) AS sxy,
                      CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)
                             * CAST(round(l_quantity * 100, 0) AS BIGINT)) AS HUGEINT) AS sxx,
                      CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                             * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS HUGEINT) AS syy
                    FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
                round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
                round(CAST(sy*sxx - sx*sxy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) * 0.01, 6) AS intercept_dollars,
                round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
                      / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS r2
         FROM m ORDER BY l_returnflag""",
    // integer equi-width bucketing off the global min/max + running total
    "q48_histogram" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
           b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c),
           t AS (SELECT cents, ((cents - mn) * 16) // (mx - mn + 1) AS bin FROM c, b),
           g AS (SELECT bin, count(*) AS n_orders,
                        min(cents) AS lo_cents, max(cents) AS hi_cents
                 FROM t GROUP BY bin)
         SELECT bin, n_orders, lo_cents, hi_cents,
                CAST(sum(n_orders) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_orders
         FROM g ORDER BY bin""",
    // the portable UNION ALL spelling of UNPIVOT
    "q49_unpivot" ->
      """WITH w AS (SELECT n_name, count(*) AS n_cust,
                           sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS total_bal_cents,
                           min(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS min_bal_cents,
                           max(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS max_bal_cents
                    FROM customer JOIN nation ON c_nationkey = n_nationkey
                    GROUP BY n_name)
         SELECT n_name, metric, CAST(value AS BIGINT) AS value FROM (
           SELECT n_name, 'n_cust' AS metric, n_cust AS value FROM w
           UNION ALL SELECT n_name, 'total_bal_cents', total_bal_cents FROM w
           UNION ALL SELECT n_name, 'min_bal_cents', min_bal_cents FROM w
           UNION ALL SELECT n_name, 'max_bal_cents', max_bal_cents FROM w)
         ORDER BY n_name, metric"""
  )

  /** Query registry: name → (session, sfDir) → DataFrame. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01PricingSummary _,
    "q02_revenue_by_nation" -> q02RevenueByNation _,
    "q03_top_customers" -> q03TopCustomers _,
    "q04_order_priority" -> q04OrderPriority _,
    "q05_ntile_buckets" -> q05NtileBuckets _,
    "q35_ntile_scalable" -> q35NtileScalable _,
    "q06_window_funcs" -> q06WindowFuncs _,
    "q07_event_deltas" -> q07EventDeltas _,
    "q08_set_ops" -> q08SetOps _,
    "q09_scalar_funcs" -> q09ScalarFuncs _,
    "q10_distinct_agg" -> q10DistinctAgg _,
    "q11_having" -> q11Having _,
    "q12_conditional_agg" -> q12ConditionalAgg _,
    "q13_outer_join_dist" -> q13OuterJoinDist _,
    "q14_rollup" -> q14Rollup _,
    "q15_function_breadth" -> q15FunctionBreadth _,
    "q21_approx_agg" -> q21ApproxAgg _,
    "q22_sample" -> q22Sample _,
    "q36_hash_sample" -> q36HashSample _,
    "q37_map_json" -> q37MapJson _,
    "q23_cube" -> q23Cube _,
    "q24_pivot" -> q24Pivot _,
    "q25_struct_map" -> q25StructMap _,
    "q26_asof_join" -> q26AsofJoin _,
    "q27_range_join" -> q27RangeJoin _,
    "q28_group_sample" -> q28GroupSample _,
    "q38_kmv_distinct" -> q38KmvDistinct _,
    "q43_window_frames" -> q43WindowFrames _,
    "q44_grouping_sets" -> q44GroupingSets _,
    "q45_string_agg" -> q45StringAgg _,
    "q46_exact_percentile" -> q46ExactPercentile _,
    "q47_linreg" -> q47Linreg _,
    "q48_histogram" -> q48Histogram _,
    "q49_unpivot" -> q49Unpivot _,
    "q50_lateral_topk" -> q50LateralTopk _,
    "q51_recursive_cte" -> q51RecursiveCte _
  )
}
