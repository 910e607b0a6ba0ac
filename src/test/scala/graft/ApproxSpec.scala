package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Accuracy bounds for the approximate-aggregation surface (no cross-engine
  * oracle exists for sketches, so the gate is tolerance vs exact). */
class ApproxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  test("q21 sketch verdicts are all true (tolerance holds) and exact counts match") {
    import spark.implicits._
    val rows = Relational.q21ApproxAgg(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (3 to 6).foreach(i => assert(r.getBoolean(i), s"${r.getString(0)} col $i out of tolerance"))
    }
    val exact = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(countDistinct($"l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == exact(r.getString(0))))
  }

  test("KMV sketch: exact below k, within theory bounds above k, layout-invariant") {
    import spark.implicits._
    val rows = Relational.q38KmvDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (estP, estO) = (r.getDouble(1), r.getDouble(2))
      val (exP, exO) = (r.getLong(3), r.getLong(4))
      // k=256 → rsd ≈ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
      assert(math.abs(estP - exP) / exP <= 0.25, s"${r.getString(0)} parts $estP vs $exP")
      assert(math.abs(estO - exO) / exO <= 0.25, s"${r.getString(0)} orders $estO vs $exO")
    }
    // below-k exactness: a group with < 256 distinct values reports exactly
    val kmv = org.apache.spark.sql.functions.udaf(
      new graft.functions.KmvDistinct(256), org.apache.spark.sql.Encoders.scalaLong)
    val small = Tables.nation(spark, sf)
      .select(conv(substring(md5(concat_ws("|", lit("kmv"), $"n_nationkey")), 1, 15), 16, 10)
        .cast("long").as("h"), $"n_nationkey")
    assert(small.agg(kmv($"h")).head().getDouble(0) == 25.0)
    // mergeability: the estimate is invariant to physical layout
    val li = Tables.lineitem(spark, sf)
      .select(conv(substring(md5(concat_ws("|", lit("kmv"), $"l_partkey")), 1, 15), 16, 10)
        .cast("long").as("h"))
    val oneP = li.repartition(1).agg(kmv($"h")).head().getDouble(0)
    val manyP = li.repartition(32).agg(kmv($"h")).head().getDouble(0)
    assert(oneP == manyP, s"KMV not merge-invariant: $oneP vs $manyP")
  }

  test("q38 broadcasts its 3-row sketch side in the final adaptive plan, run after run") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plans = new AdaptiveSparkPlanHelper {}
    (1 to 3).foreach { _ =>
      val df = Relational.q38KmvDistinct(spark, sf)
      df.collect()
      val sides = plans.collect(df.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec => j.buildSide
      }
      assert(sides == Seq(BuildLeft), df.queryExecution.executedPlan.toString)
    }
  }

  test("md5Fold60 kernel equals the SQL md5-fold idiom, interpreted and generated") {
    import spark.implicits._
    import graft.functions.Expressions
    val li = Tables.lineitem(spark, sf)
    val keys = li.select($"l_partkey".cast("string").as("s"))
      .union(li.select($"l_orderkey".cast("string").as("s")))
      .distinct()
    val keyed = keys.select(concat_ws("|", lit("kmv"), $"s").as("s"))
    val edge = Seq(Some(""), Some("grüße 世界 🚀"), Some("kmv|"), None).toDF("s")
    val all = keys.union(keyed).union(edge)
    val idiom = conv(substring(md5($"s"), 1, 15), 16, 10).cast("long")
    // interpreted evaluation is only reached if the optimizer keeps the
    // literal rows out of a LocalRelation and codegen is off end to end
    val modes = Seq(
      "CODEGEN_ONLY" -> Map("spark.sql.codegen.wholeStage" -> "true"),
      "NO_CODEGEN" -> Map("spark.sql.codegen.wholeStage" -> "false"))
    modes.foreach { case (mode, extra) =>
      val conf = extra ++ Map("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val both = all.select($"s", Expressions.md5Fold60($"s").as("kernel"), idiom.as("sql"))
        val rows = both.collect()
        assert(rows.length > 20000, s"$mode: only ${rows.length} strings")
        val bad = rows.filter(r => r.get(1) != r.get(2))
        assert(bad.isEmpty, s"$mode: kernel differs from the idiom on ${bad.take(5).mkString(", ")}")
        assert(rows.filter(_.isNullAt(0)).forall(_.isNullAt(1)), s"$mode: null did not map to null")
        assert(rows.exists(r => r.getString(0) == "grüße 世界 🚀" && !r.isNullAt(1)))
        val gen = org.apache.spark.sql.execution.debug.codegenString(both.queryExecution.executedPlan)
        assert(gen.contains("SketchKernels.md5Fold60") == (mode == "CODEGEN_ONLY"),
          s"$mode: generated code and mode disagree")
      } finally conf.keys.foreach(spark.conf.unset)
    }
  }

  test("approx_count_distinct within 5% of exact per group") {
    import spark.implicits._
    val both = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("ap"),
           countDistinct($"l_partkey").as("ex"))
      .collect()
    both.foreach { r =>
      val (ap, ex) = (r.getLong(1), r.getLong(2))
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"${r.getString(0)}: approx $ap vs exact $ex")
    }
  }

  test("approx median near exact median per group") {
    import spark.implicits._
    val both = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("ap"),
           expr("percentile(l_extendedprice, 0.5)").as("ex"))
      .collect()
    both.foreach { r =>
      val (ap, ex) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(ap - ex) / ex <= 0.05, s"${r.getString(0)}: $ap vs $ex")
    }
  }

  test("seeded sample is deterministic and near the requested fraction") {
    val a = Relational.q22Sample(spark, sf).collect().map(_.toSeq)
    val b = Relational.q22Sample(spark, sf).collect().map(_.toSeq)
    assert(a.sameElements(b))
    val total = Tables.lineitem(spark, sf).count()
    val sampled = a.map(_(1).asInstanceOf[Long]).sum
    val frac = sampled.toDouble / total
    assert(frac > 0.07 && frac < 0.13, s"sample fraction $frac")
  }
}
