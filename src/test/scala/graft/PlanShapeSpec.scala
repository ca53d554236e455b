package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Optimizer-parity assertions (SURVEY.md §7 step 5): the plan *shapes* the
  * reference's rewrites exist to produce must actually appear in Catalyst's
  * output — pushed filters, no cartesian products, decorrelated subqueries,
  * broadcast dims, top-k fusion.
  */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  private def executedPlanString(name: String): String = {
    val df = SparkEntry.named(name).build(spark, sf)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q02: filter is pushed to the parquet scan") {
    val p = executedPlanString("q02_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)"), p)
  }

  test("q02: scan reads only the projected columns") {
    val p = executedPlanString("q02_filter_pushdown")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>")
      || p.contains("l_extendedprice:double>"), p)
    assert(!p.contains("l_returnflag"), "unprojected column must not be read")
  }

  test("round-9 entries prune their scans: x04 reads 2 of 5 doc columns, s04 3 of 6 event columns") {
    val pack = executedPlanString("x04_pack_sequences")
    assert(!pack.contains("source") && !pack.contains("lang"),
      "packSequences must read only (doc_id, text)")
    val funnel = executedPlanString("s04_funnel")
    assert(!funnel.contains("props") && !funnel.contains("event_id"),
      "funnel must read only (user_id, event_type, ts)")
  }

  test("round-10 entries prune their scans") {
    Seq(
      // documents-table entries: only (doc_id, text) of 5 columns
      "d14_exact_decontam", "t08_quality_gate", "x05_pack_materialize",
      "x06_curate_pipeline").foreach { name =>
      val p = executedPlanString(name)
      assert(!p.contains("source") && !p.contains("lang"),
        s"$name must read only (doc_id, text) from documents")
    }
    // profile passes: exactly their one value column
    val q = executedPlanString("p02_quantiles")
    assert(!q.contains("l_extendedprice") && !q.contains("l_orderkey"),
      "quantiles must read only l_quantity")
    val h = executedPlanString("p03_histogram")
    assert(!h.contains("o_orderdate") && !h.contains("o_custkey"),
      "histogram must read only o_totalprice")
    // asof entries: (user_id, ts, value, event_type) of 6 event columns
    Seq("j01_asof", "j03_asof_forward").foreach { name =>
      val p = executedPlanString(name)
      assert(!p.contains("props") && !p.contains("event_id"),
        s"$name must not read props/event_id")
    }
  }

  test("round-12 entries prune their scans") {
    // documents-table entries reading only (doc_id, text) of 5 columns
    Seq("t23_lm_score", "d27_cdc_chunks", "x17_epoch_schedule").foreach { name =>
      val p = executedPlanString(name)
      assert(!p.contains("source") && !p.contains("lang"),
        s"$name must read only (doc_id, text) from documents")
    }
    // event entries never touch props (the wide JSON column)
    Seq("s18_seasonal_anomaly", "s20_bot_gate", "s21_markov_accuracy",
      "j09_interpolate").foreach { name =>
      val p = executedPlanString(name)
      assert(!p.contains("props"), s"$name must not read the props column")
    }
    // p14 reads (source, n_chars), never the text blob
    val g = executedPlanString("p14_gini")
    assert(!g.contains("text") && !g.contains("lang"),
      "gini must not read text/lang")
  }

  test("q10: sort+limit fuses to TakeOrderedAndProject (top-k)") {
    val p = executedPlanString("q10_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q28: small dims join via BroadcastHashJoin") {
    val p = executedPlanString("q28_star_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d06: block-count guard joins via broadcast, never a cartesian") {
    // cosineNearDupPairs eagerly checkpoints its pair result (round 11),
    // so the public operator's executed plan is just the checkpoint scan;
    // pin the INTERNAL lazy pipeline's shape instead (same split as d03's
    // DedupSpec-pinned band join). The tiny one-row-per-label counts
    // aggregate must broadcast back onto the normalized side — a shuffle
    // join here would add a full-corpus exchange; a cartesian would mean
    // the blocking key was lost.
    import graft.operators.Similarity
    val emb = GraftSession.table(spark, sf, "embeddings")
    val lazyPairs = Similarity.pairsOf(
      Similarity.keyedBlocks(emb, "vec_id", "embedding", "label", 1000000L), 0.4)
    lazyPairs.collect()
    val p = lazyPairs.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q29 flagship: no cartesian product, subqueries decorrelated") {
    val df = SparkEntry.named("q29_flagship").build(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    val subqueries = optimized.expressions.flatMap(_.collect {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery => s
    })
    assert(subqueries.isEmpty, "scalar subquery must be decorrelated")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q11: aggregation is partial+final (map-side combine)") {
    val df = SparkEntry.named("q11_agg_group").build(spark, sf)
    df.collect()
    val aggs = collect(df.queryExecution.executedPlan) {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(aggs.size >= 2, "expect partial and final HashAggregateExec")
  }

  test("q39 pivot equals its conditional-aggregation definition; q40 unpivot preserves values") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val li = GraftSession.table(spark, sf, "lineitem")
    def dec(c: Column) = c.cast(DecimalType(12, 2))
    // pivot vs the direct CASE-WHEN lowering (independent single-agg plan)
    val byFlag = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("qty"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getDouble(2), r.getLong(3)))).toMap
    val piv = SparkEntry.named("q39_pivot").build(spark, sf).collect()
    assert(piv.length == byFlag.keySet.map(_._1).size && piv.nonEmpty)
    piv.foreach { r =>
      val f = r.getString(0)
      assert((r.getDouble(1), r.getLong(2)) == byFlag((f, "F")), s"F cell for $f")
      assert((r.getDouble(3), r.getLong(4)) == byFlag((f, "O")), s"O cell for $f")
    }
    // unpivot: every (group, metric) cell survives the rotation bit-exact
    val tot = li.groupBy(col("l_returnflag"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("price"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val unp = SparkEntry.named("q40_unpivot").build(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(unp.size == 2 * tot.size)
    tot.foreach { case (f, (q, p)) =>
      assert(unp((f, "qty")) == q && unp((f, "price")) == p, s"cells for $f")
    }
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    val df = SparkEntry.named("q02_filter_pushdown").build(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("), "expected WholeStageCodegen span")
  }

  test("d04 simhash: zero exchanges before the candidate join (per-row signatures)") {
    val df = graft.operators.Dedup.simhash(
      GraftSession.table(spark, sf, "documents"), "doc_id", "text")
    df.collect()
    val exchanges = collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "signature computation must not shuffle")
  }

  test("m02 frame sampling: no shuffle — explode stays in the scan stage") {
    val df = SparkEntry.named("m02_frame_sample").build(spark, sf)
    df.collect()
    val exchanges = collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "frame sampling is a per-row projection")
  }

  test("p01 profile: exact mode pays the Expand; approx mode is one pass, no Expand") {
    val p = executedPlanString("p01_profile")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Aggregate"), p)

    val approx = graft.operators.Profile.describe(
      GraftSession.table(spark, sf, "orders"),
      Seq("o_orderkey", "o_orderstatus", "o_orderdate"), exact = false)
    approx.collect()
    val ap = approx.queryExecution.executedPlan
    assert(!ap.toString.contains("Expand"), "approx profile must not Expand rows")
    val exchanges = collect(ap) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1, "approx profile is partial+final over ONE exchange")
  }

  test("round-11 windowed entries: every WindowExec is partitioned (no global funnel)") {
    // the scale smell Profile.quantiles' old shape had — a partition-less
    // window moves the whole frame through ONE task; none of the round-11
    // window consumers may regress into it
    for (name <- Seq("x11_budget_select", "s12_peak_concurrency",
        "s14_longest_streak", "p09_mad", "x12_temperature_mix", "p02_quantiles")) {
      val df = SparkEntry.named(name).build(spark, sf)
      df.collect()
      val unpartitioned = collect(df.queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"$name runs ${unpartitioned.size} partition-less WindowExec node(s)")
    }
  }
}
