package graft

import org.scalatest.funsuite.AnyFunSuite

/** The determinism DISCIPLINE as CI: the oracle gate proves Spark equals
  * DuckDB on one run, but the repo's deeper claim is that every entry is
  * deterministic under the engine's own degrees of freedom — reduce
  * order, partition count, task scheduling. These are exactly the knobs
  * that differ between a laptop and a 1000-executor cluster, so an entry
  * that only matches the oracle at one partition count is a latent
  * wrong-results bug at scale (the SPARK-23207 class).
  *
  * This suite re-runs the most fp/order-sensitive entries (decimal-sum
  * reductions, rounded-log sums, hash-order windows, rate divisions)
  * under different `spark.sql.shuffle.partitions` and requires the
  * COLLECTED RESULTS — including every double, bit for bit — to be
  * identical.
  */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val entries = Seq(
    "t23_lm_score",      // rounded-log DECIMAL(28,9) reduction
    "p16_cramers_v",     // rounded contribution sum + final sqrt
    "p14_gini",          // DECIMAL(38,0) Lorenz algebra + one division
    "d27_cdc_chunks",    // boundary windows + fp-keyed sharing join
    "x16_source_report", // composed rates + min-struct tie break
    "x11_budget_select",  // two-level running sum under an integer budget
    "t28_sentence_chunks", // offset-sorted collect_list reassembly
    "d31_dup_centrality",  // iterative integer rank over checkpointed rounds
    "d30_minhash_error",   // rate²-weighted BIGINT histogram (round-14 pair budget)
    "p18_mergeable_profile", // merged decimal Σ/Σ² state across shard aggs
    "p19_profile_compaction", // supersede join + merged decimal state
    "p20_mg_state_merge",  // order-dependent MG counters under an order-free gate
    "p24_hll_distinct",    // register-max merge + const·2^K/z double chain
    "p25_kmv_overlap",     // cross-partition bottom-k cut + exact-ratio doubles
    "d43_ann_ivfpq_distributed") // two full distributed trainings (integer
                           // re-estimation sums) + ADC double chain + rerank

  test("fp-sensitive entries are bit-identical across shuffle-partition counts") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def run(n: String): Map[String, Seq[Seq[Any]]] = {
      spark.conf.set("spark.sql.shuffle.partitions", n)
      entries.map(e => e -> SparkEntry.named(e).build(spark, TestSpark.sfDir)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq).toMap
    }
    try {
      val five = run("5")
      val thirtyTwo = run("32")
      entries.foreach { e =>
        assert(five(e) == thirtyTwo(e),
          s"$e diverged between 5 and 32 shuffle partitions — " +
            "an order-dependent reduction is hiding in its plan")
        assert(five(e).nonEmpty, s"$e returned no rows — vacuous check")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
