package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cost-model accuracy, measured — the Spark-native analog of the
  * reference's cardinality-accuracy table (`README.md:149-153`, the one
  * BASELINE.md block with no reproducible methodology; adjudicated
  * unreproducible in COVERAGE.md). Where the reference PRINTS claimed
  * percentages, this measures them: for one representative query per
  * optimizer-relevant operator class, the CBO's estimated output
  * cardinality (`optimizedPlan.stats.rowCount`, fed by the ANALYZE
  * harvest in [[GraftSession.ensureAnalyzedCatalog]] — rowCount, NDV and
  * min/max on every analyzed column, equi-height histograms on all but the
  * declared join keys, [[GraftSession.joinKeys]]) is compared against the
  * executed actual.
  *
  * The result row carries (op_class, actual_rows, est_band, est_ok):
  * `actual_rows` is independently replayable by any engine; `est_band`
  * names the DOCUMENTED accuracy contract for that operator class and
  * `est_ok` is the measured verdict, so a stats/estimator regression
  * flips a hashed value and fails the correctness gate. The bands are
  * honest measurements, not aspirations (sf0.001/0.01/0.1, see
  * CboSpec):
  *  - scan: `exact` — the ANALYZEd rowCount IS the scan estimate;
  *  - filter: `<=5%` — range predicates read the equi-height histogram
  *    (measured ≤0.2% where bins are populated), equality reads
  *    rowCount/NDV with HLL-approximate NDV (measured ≤2.7%);
  *  - join: `<=3x` RATIO — |A|·|B|/max(ndv) over the keys' NDV (join
  *    keys carry no histogram), which degrades on small tables
  *    whose FK NDV underestimates (measured 2.13× at sf0.001, ≤7%
  *    at sf0.01+) — the class where CBO error is structural, which is
  *    exactly why AQE re-plans joins at runtime;
  *  - agg: `<=15%` — group count = NDV(keys), HLL-approximate
  *    (measured ≤6.7%).
  */
object CboAccuracy {

  private case class Shape(opClass: String, sql: String, band: String,
      ok: (BigInt, Long) => Boolean)

  private def within(pct: Double)(est: BigInt, actual: Long): Boolean =
    (est - actual).abs <= BigInt(math.ceil(pct * actual).toLong)

  private def ratio(x: Double)(est: BigInt, actual: Long): Boolean =
    est <= BigInt(math.ceil(x * actual).toLong) &&
      BigInt(actual) <= est * BigInt(math.ceil(x).toLong)

  private val shapes = Seq(
    Shape("scan", "SELECT * FROM customer", "exact", (e, a) => e == BigInt(a)),
    Shape("filter_range",
      "SELECT * FROM customer WHERE c_acctbal > 5000.0", "<=5%", within(0.05)),
    Shape("filter_eq",
      "SELECT * FROM orders WHERE o_orderstatus = 'O'", "<=5%", within(0.05)),
    Shape("join",
      "SELECT c.c_custkey, o.o_orderkey FROM customer c " +
        "JOIN orders o ON c.c_custkey = o.o_custkey", "<=3x", ratio(3.0)),
    Shape("agg",
      "SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey",
      "<=15%", within(0.15)))

  /** One row per operator class: (op_class, actual_rows, est_band,
    * est_ok). Five fixed shapes — the driver-side loop is bounded by the
    * shape list, never by data. Requires `spark.sql.cbo.enabled` (set by
    * [[GraftSession.build]]); ANALYZEd catalog tables are ensured here.
    */
  def estimatedVsActual(spark: SparkSession, dir: String): DataFrame = {
    val rows = estimatesWithVerdict(spark, dir, failFast = true)
      .map { case (op, _, actual, band, ok) => (op, actual, band, ok) }
    import spark.implicits._
    rows.toDF("op_class", "actual_rows", "est_band", "est_ok")
  }

  /** One (op_class, est, actual, band, ok) row per shape — the single
    * execution behind [[estimatedVsActual]], also consumed by the bench's
    * `cbo_accuracy` section (round 19: estimator error is
    * scale-dependent, so the artifact reports est/actual at sf0.1 and
    * sf1 next to the oracle-scale q59 entry). est = −1 when no estimate
    * exists — unless `failFast`, which errors on the FIRST stats-blind
    * shape BEFORE paying its count (round-19 review find: the q59 path's
    * loud misconfiguration error must not cost five full executions at
    * the caller's SF first).
    */
  private[graft] def estimatesWithVerdict(spark: SparkSession, dir: String,
      failFast: Boolean = false): Seq[(String, BigInt, Long, String, Boolean)] = {
    GraftSession.ensureAnalyzedCatalog(spark, dir)
    shapes.map { sh =>
      val df = spark.sql(sh.sql)
      val est = df.queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
      if (failFast && est < 0)
        sys.error(s"no rowCount estimate for ${sh.opClass} — " +
          "is spark.sql.cbo.enabled on and the catalog ANALYZEd?")
      val actual = df.count()
      (sh.opClass, est, actual, sh.band, est >= 0 && sh.ok(est, actual))
    }
  }

  /** The raw (op_class, est, actual) triples for spec-level pinning. */
  private[graft] def estimates(spark: SparkSession, dir: String): Seq[(String, BigInt, Long)] =
    estimatesWithVerdict(spark, dir).map { case (op, est, actual, _, _) => (op, est, actual) }
}
