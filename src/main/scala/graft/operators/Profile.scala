package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column profiling — the user-facing twin of the reference's startup
  * statistics harvest (`engine/src/statistics_manager.cpp:9-142`: COUNT(*),
  * COUNT(DISTINCT col), MIN/MAX per column), exposed as a query instead of
  * an internal catalog side-effect.
  *
  * One pass over the table: a single multi-aggregate computes every
  * column's stats map-side-partial (one exchange carrying one row per
  * partition), then a tiny per-column unpivot on the driver-sized result.
  * At 100 TB this is exactly the shape ANALYZE TABLE runs — no per-column
  * scans, no shuffle of data rows.
  */
object Profile {

  /** (col_name, n, n_null, n_distinct, min_value, max_value) — min/max
    * rendered as strings so heterogeneous column types stack into one
    * result.
    *
    * `exact = true` uses COUNT(DISTINCT …): Spark plans k distinct columns
    * as an Expand producing k+1 rows per input row plus a regrouping
    * shuffle — exact, oracle-able, fine up to mid scale. `exact = false`
    * swaps in `approx_count_distinct` (HyperLogLog++): partial-mergeable,
    * so the whole profile is ONE pass with a single one-row exchange and no
    * Expand — the shape to run on 100 TB (this is what ANALYZE-style stats
    * collection does too).
    */
  def describe(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "describe needs at least one column")
    // data columns referenced with backticks (a legal dotted column name
    // would otherwise parse as struct-field access); internal aliases are
    // position-indexed so they stay plain identifiers AND unique even when
    // sanitized siblings would collide ("a.b" vs "a_b")
    def c0(c: String) = col(s"`$c`")
    def a0(i: Int) = s"c$i"
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val nd = if (exact) countDistinct(c0(c)) else approx_count_distinct(c0(c))
      Seq(
        count(c0(c)).as(s"${a0(i)}__n"),
        // count, not sum: sum over ZERO rows is NULL, and an empty table
        // must profile as n_null = 0, not a null that NPEs on unboxing
        count(when(c0(c).isNull, 1L)).as(s"${a0(i)}__nulls"),
        nd.as(s"${a0(i)}__distinct"),
        min(c0(c)).cast("string").as(s"${a0(i)}__min"),
        max(c0(c)).cast("string").as(s"${a0(i)}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // unpivot the single stats row into one row per column
    val stacked = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("col_name"), col(s"${a0(i)}__n").as("n"), col(s"${a0(i)}__nulls").as("n_null"),
        col(s"${a0(i)}__distinct").as("n_distinct"), col(s"${a0(i)}__min").as("min_value"),
        col(s"${a0(i)}__max").as("max_value"))
    }
    one.select(explode(array(stacked: _*)).as("s")).select(col("s.*"))
  }

  /** Exact rank-selected quantiles: for each requested p, the value at row
    * `max(1, ceil(p·n))` of the ascending sort (type-1 / lower-value
    * quantile — an actual data value, never an interpolation, so the
    * result is engine-replayable bit-for-bit). Duplicate probabilities are
    * deduplicated (each p answers once).
    *
    * Scale design: NOT a global sort of the data, and (since round 11)
    * not a single-partition window either. One shuffle builds the value
    * DISTRIBUTION (`groupBy(value).count`, map-side partials); the running
    * total over that histogram is a DISTRIBUTED prefix sum — sketch-derived
    * block bounds split the histogram into ~shuffle-partition blocks, each
    * block's running sum is a partitioned window (parallel), and block
    * offsets come from a broadcast-sized per-block-total join. Bound
    * quality from the sketch affects only load balance, never the answer.
    * So even a near-unique column (histogram ~ row count) stays parallel;
    * `approxQuantiles` remains the cheaper one-pass sketch when rank error
    * is acceptable.
    *
    * Non-rangeable value types (e.g. strings — `percentile_approx` cannot
    * derive block bounds for them) fall back to the single-partition
    * prefix sum, now guarded: an NDV probe fails loudly above
    * `maxDistinctFallback` instead of silently sorting n rows in one task.
    */
  def quantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
      maxDistinctFallback: Long = 1L << 20): DataFrame = {
    require(ps.nonEmpty, "quantiles needs at least one probability")
    val psd = ps.distinct
    require(psd.forall(p => p > 0.0 && p <= 1.0), s"probabilities must be in (0, 1], got $ps")
    val v = col(s"`$valueCol`")
    val dist = df.filter(v.isNotNull).groupBy(v.as("v")).agg(count(lit(1)).as("cnt"))
    import org.apache.spark.sql.types._
    val rangeable = dist.schema.head.dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val withN =
      if (rangeable) distributedPrefixSum(dist)
      else guardedSinglePartitionPrefixSum(dist, valueCol, maxDistinctFallback)
    withN.select(col("v"), col("cnt"), col("cum"), col("n"),
        explode(lit(psd.toArray)).as("p"))
      // ceil(p·n) in doubles: exact for any n < 2^52, same bits as the
      // DuckDB replay's identical expression
      .withColumn("rank", greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
      .filter(col("cum") >= col("rank") && (col("cum") - col("cnt")) < col("rank"))
      .select(col("p"), col("v").as("quantile"))
  }

  /** Weight-exact quantiles: [[quantiles]] where each row counts
    * `weightCol` times — the token-weighted median document length ("half
    * the TOKENS live in docs shorter than X") that a training-data
    * pipeline needs where the row-weighted median answers the wrong
    * question (docs and tokens have wildly different distributions).
    * Weights must be non-negative integers (enforced in-plan); zero-weight
    * rows contribute nothing, exactly as absent rows. Same type-1
    * rank-exact semantics — the quantile is an actual data value at
    * weighted rank `max(1, ceil(p·W))` — and the same distributed shape:
    * the histogram aggregates SUM(weight) instead of COUNT, everything
    * downstream is unchanged.
    */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "weightedQuantiles needs at least one probability")
    val psd = ps.distinct
    require(psd.forall(p => p > 0.0 && p <= 1.0), s"probabilities must be in (0, 1], got $ps")
    val v = col(s"`$valueCol`")
    val w = col(s"`$weightCol`").cast("long")
    val wChecked = when(w >= 0, w).otherwise(raise_error(concat(
      lit(s"weightedQuantiles: weight column `$weightCol` is negative ("), w.cast("string"),
      lit(") — weighted ranks are undefined; filter or clamp first"))))
    import org.apache.spark.sql.types._
    require(df.schema(valueCol).dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }, s"weightedQuantiles needs a rangeable value column, got ${df.schema(valueCol).dataType}")
    val dist = df.filter(v.isNotNull && w.isNotNull)
      .groupBy(v.as("v")).agg(sum(wChecked).as("cnt"))
      .filter(col("cnt") > 0)
    distributedPrefixSum(dist)
      .select(col("v"), col("cnt"), col("cum"), col("n"),
        explode(lit(psd.toArray)).as("p"))
      .withColumn("rank", greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
      .filter(col("cum") >= col("rank") && (col("cum") - col("cnt")) < col("rank"))
      .select(col("p"), col("v").as("quantile"))
  }

  /** Distributed running total over the (v, cnt) histogram.
    *
    * Block bounds and the grand total come from ONE small eager aggregate
    * at plan time — the same contract as `repartitionByRange`, whose
    * RangePartitioner also runs a sampling job before the main plan
    * exists. Keeping them lazy instead forks the scan: Catalyst prunes
    * unused aggregate FUNCTIONS per consumer (grouping keys survive,
    * functions don't), so every branch needing a different subset of
    * (bounds, n) re-derives the groupBy from its own FileScan — measured
    * as 2 full scans / 7 exchanges on the lazy formulation. Literals
    * cannot fork.
    *
    * The main plan is then: per-block running sums under
    * `Window.partitionBy(block)` (parallel — never the partition-less
    * window WindowExec warns about), block totals as `max(running)` on the
    * window's own partitioning (no exchange), and block offsets via an
    * explode-based prefix (block j's total feeds every higher block's
    * offset, ≤ blocks² tiny rows) — an explode consumes blockTotals ONCE,
    * where a self-join's two differently-pruned references would fork the
    * lineage. Bound quality affects only load balance, never the answer.
    */
  private[operators] def distributedPrefixSum(dist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = math.max(2, dist.sparkSession.sessionState.conf.numShufflePartitions)
    val row = dist.agg(
      percentile_approx(col("v"),
        lit((1 until blocks).map(_.toDouble / blocks).toArray), lit(1000)).as("__bs"),
      sum(col("cnt")).as("n")).head()
    if (row.isNullAt(1)) // no non-null input rows: empty result, right schema
      return dist.withColumn("cum", lit(0L)).withColumn("n", lit(0L))
        .select(col("v"), col("cnt"), col("cum"), col("n")).limit(0)
    val bounds = row.getSeq[Any](0).map(b => lit(b))
    val n = row.getLong(1)
    val blocked = dist.withColumn("__blk",
      size(filter(array(bounds: _*), b => b < col("v"))))
    val cumIn = blocked.withColumn("__cumIn",
      sum(col("cnt")).over(Window.partitionBy(col("__blk")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val blockTotals = cumIn.groupBy(col("__blk")).agg(max(col("__cumIn")).as("__tot"))
    val offs = blockTotals
      .select(explode(filter(sequence(lit(0), lit(blocks - 1)),
        b => b > col("__blk"))).as("__blk"), col("__tot"))
      .groupBy(col("__blk")).agg(sum(col("__tot")).as("__off"))
    cumIn.join(broadcast(offs), Seq("__blk"), "left")
      .withColumn("cum", col("__cumIn") + coalesce(col("__off"), lit(0L)))
      .withColumn("n", lit(n))
      .select(col("v"), col("cnt"), col("cum"), col("n"))
  }

  /** The pre-round-11 shape, kept only for value types `percentile_approx`
    * cannot bucket (strings and friends): running total AND grand total in
    * one partition-less WindowExec. That funnels the whole histogram
    * through ONE task, so it is now guarded — an `approx_count_distinct`
    * probe (one cheap eager job) fails loudly past `maxDistinct` rather
    * than letting an id-like column silently single-thread a global sort.
    */
  private def guardedSinglePartitionPrefixSum(dist: DataFrame, valueCol: String,
      maxDistinct: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ndv = dist.agg(approx_count_distinct(col("v")).as("ndv")).head.getLong(0)
    require(ndv <= maxDistinct,
      s"quantiles over non-rangeable column `$valueCol`: ~$ndv distinct values exceed " +
        s"maxDistinctFallback=$maxDistinct. This type's exact path runs a single-partition " +
        "prefix sum; reduce cardinality, or encode the column to a numeric so the " +
        "distributed exact path (or approxQuantiles) applies.")
    val ord = Window.orderBy(col("v"))
    dist
      .withColumn("cum", sum(col("cnt")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** Per-group exact rank-selected quantiles — [[quantiles]]'s GROUP BY
    * form, same type-1 semantics (value at row `max(1, ceil(p·n))` of the
    * group's ascending sort; an actual data value, engine-replayable).
    *
    * Scale shape: one (group, value) aggregation builds each group's value
    * distribution, then the running sum rides `Window.partitionBy(group)`
    * — groups proceed in PARALLEL, and no global sort or single-partition
    * window exists anywhere. The per-task unit is one group's HISTOGRAM
    * (its distinct values, not its rows), the right contract for
    * per-language / per-source length profiling where group NDV is
    * bounded. For a group whose distinct-value count itself explodes,
    * fall back to `percentile_approx` over `groupBy` (one-pass mergeable
    * sketch per group).
    *
    * @return one row per (group, p): (groupCols..., p, quantile)
    */
  def groupedQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(groupCols.nonEmpty, "groupedQuantiles needs at least one group column")
    require(ps.nonEmpty, "groupedQuantiles needs at least one probability")
    val psd = ps.distinct
    require(psd.forall(p => p > 0.0 && p <= 1.0), s"probabilities must be in (0, 1], got $ps")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(c => col(s"`$c`"))
    val v = col(s"`$valueCol`")
    val dist = df.filter(v.isNotNull)
      .groupBy((g :+ v.as("__v")): _*).agg(count(lit(1)).as("__cnt"))
    val byGroup = Window.partitionBy(g: _*)
    val cum = dist
      .withColumn("__cum", sum(col("__cnt")).over(byGroup.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__cnt")).over(byGroup))
    val rank = greatest(lit(1L), ceil(col("p") * col("__n")).cast("long"))
    cum.select((g :+ col("__v") :+ col("__cnt") :+ col("__cum") :+ col("__n")
        :+ explode(lit(psd.toArray)).as("p")): _*)
      .filter(col("__cum") >= rank && (col("__cum") - col("__cnt")) < rank)
      .select((g :+ col("p") :+ col("__v").as("quantile")): _*)
  }

  /** Sketch-based quantiles — the near-unique-column path [[quantiles]]'s
    * scaladoc points at: `approx_percentile` (Greenwald-Khanna) is
    * partial-mergeable, so the whole pass is one scan + a one-row
    * exchange, with NO per-value histogram — the shape for a 100 TB
    * high-cardinality column. Error bound: rank error ≤ n/`accuracy`.
    * Same (p, quantile) output contract as [[quantiles]]; on a
    * bounded-cardinality column the two agree exactly (spec-asserted).
    */
  def approxQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty, "approxQuantiles needs at least one probability")
    val psd = ps.distinct // duplicate ps must not emit duplicate rows
    require(psd.forall(p => p > 0.0 && p <= 1.0), s"probabilities must be in (0, 1], got $ps")
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    val v = col(s"`$valueCol`")
    df.filter(v.isNotNull)
      .agg(percentile_approx(v, lit(psd.toArray), lit(accuracy)).as("__q"))
      .select(explode(arrays_zip(lit(psd.toArray).as("p"), col("__q").as("quantile"))).as("z"))
      .select(col("z.p"), col("z.quantile"))
  }

  /** Median absolute deviation — the robust dispersion statistic
    * (outlier-immune where stddev is not, the right spread measure for
    * heavy-tailed doc-length / latency columns): `median(|x − median(x)|)`
    * with BOTH medians the type-1 rank-exact quantile ([[quantiles]]), so
    * each is an actual data value (or an exact |difference| of two data
    * values) and the result hash-matches any engine replaying the same
    * definition.
    *
    * Two [[quantiles]] passes (each: one histogram aggregate + the
    * distributed prefix sum — never a global data sort), stitched by a
    * driver-side 1-row collect of the first median (the eager-literal
    * contract [[distributedPrefixSum]] documents: a lazy crossJoin of the
    * median would fork the scan). Empty/all-NULL input yields an empty
    * frame, not an NPE.
    *
    * @return one row: (median, mad) in the value column's type
    */
  def mad(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(s"`$valueCol`")
    val medRows = quantiles(df, valueCol, Seq(0.5)).select(col("quantile")).collect()
    if (medRows.isEmpty)
      return df.limit(0).select(v.as("median"), v.as("mad"))
    val med = medRows(0).get(0)
    val dev = df.filter(v.isNotNull).select(abs(v - lit(med)).as("__dev"))
    quantiles(dev, "__dev", Seq(0.5))
      .select(lit(med).as("median"), col("quantile").as("mad"))
  }

  /** Per-group WINSORIZED mean — the outlier-robust location estimate
    * profiling reports want next to the raw mean (a single 2 GB document
    * shouldn't move a corpus's "typical length"): values are clamped into
    * the group's exact [pLo, pHi] quantile bounds before averaging, and
    * the clip counts are reported so the tail mass is visible rather than
    * silently absorbed.
    *
    * Exactness discipline: bounds come from [[groupedQuantiles]] (exact
    * type-preserving rank selection, not an interpolating sketch), the
    * clamped sum is an exact integer/decimal aggregate, and the mean is
    * ONE correctly-rounded fp division — bit-replayable cross-engine.
    *
    * Scale shape: the bounds frame is one row per group (broadcast back
    * — never a window over the raw rows), so the raw data is scanned
    * twice (once into the per-(group, value) histogram, once for the
    * clamped aggregate) and shuffled only as group-keyed partial
    * aggregates. Near-unique value domains should pre-bucket or use the
    * [[approxQuantiles]] path for bounds instead — same caveat as
    * [[quantiles]].
    */
  def winsorizedStats(df: DataFrame, groupCols: Seq[String], valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo > 0.0 && pLo < pHi && pHi <= 1.0,
      s"need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    val g = groupCols.map(c => col(s"`$c`"))
    val v = col(s"`$valueCol`")
    val bounds = groupedQuantiles(df, groupCols, valueCol, Seq(pLo, pHi))
      .groupBy(g: _*)
      .agg(max(when(col("p") === pLo, col("quantile"))).as("q_lo"),
        max(when(col("p") === pHi, col("quantile"))).as("q_hi"))
    df.filter(v.isNotNull).join(broadcast(bounds), groupCols)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(v < col("q_lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(v > col("q_hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        max(col("q_lo")).as("q_lo"), max(col("q_hi")).as("q_hi"),
        (sum(least(greatest(v, col("q_lo")), col("q_hi"))).cast("double") /
          count(lit(1))).as("winsorized_mean"))
  }

  /** Per-group Pearson correlation from EXACT sufficient statistics: one
    * aggregation computes n, Σx, Σy, Σxy, Σx², Σy² over DECIMAL-cast
    * inputs — every sum is exact and order-independent (a double `corr()`
    * folds in partition order, so its last bits vary run to run and
    * engine to engine) — then one fixed expression tree of correctly-
    * rounded fp ops (·, −, /, sqrt are all IEEE-exact) turns them into r.
    * Deterministic to the bit on any engine that computes the same tree.
    *
    * Scale shape: ONE map-side-partial aggregation over the scan, one
    * row per group out — the canonical sufficient-statistics pattern
    * (extends to covariance/regression slopes from the same six sums).
    * Zero-variance groups (r undefined) yield NULL, matching SQL corr().
    *
    * @param scale DECIMAL(precision=38, scale) cast applied to both
    *              inputs; pick the input's true decimal scale (money = 2)
    */
  def correlation(df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String, scale: Int = 2): DataFrame = {
    require(groupCols.nonEmpty, "correlation needs at least one group column")
    val x = col(s"`$xCol`").cast(DecimalType(19, scale))
    val y = col(s"`$yCol`").cast(DecimalType(19, scale))
    val g = groupCols.map(c => col(s"`$c`"))
    val stats = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val cov = nD * d("sxy") - d("sx") * d("sy")
    val vx = nD * d("sxx") - d("sx") * d("sx")
    val vy = nD * d("syy") - d("sy") * d("sy")
    stats.select((g :+ col("n") :+
      when(vx > 0 && vy > 0, cov / sqrt(vx * vy)).as("r")): _*)
  }

  /** Per-group simple linear regression (OLS y = intercept + slope·x) from
    * the same exact-sufficient-statistics recipe as [[correlation]]: one
    * aggregation computes n, Σx, Σy, Σxy, Σx² over DECIMAL-cast inputs
    * (exact, order-independent), then a fixed IEEE expression tree turns
    * them into slope and intercept — bit-identical on any engine computing
    * the same tree. Zero-x-variance groups yield NULL slope/intercept
    * (the line is undefined), matching SQL regr_slope.
    *
    * Scale shape: ONE map-side-partial aggregation over the scan, one row
    * per group out — nothing downstream ever sees data rows. This is the
    * trend-per-segment primitive (corpus growth per source, spend drift
    * per segment) that a naive per-group collect-and-fit gets wrong at
    * scale.
    *
    * @param scale DECIMAL(precision=19, scale) cast applied to both inputs
    */
  def regression(df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String, scale: Int = 2): DataFrame = {
    require(groupCols.nonEmpty, "regression needs at least one group column")
    val x = col(s"`$xCol`").cast(DecimalType(19, scale))
    val y = col(s"`$yCol`").cast(DecimalType(19, scale))
    val g = groupCols.map(c => col(s"`$c`"))
    val stats = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val denom = nD * d("sxx") - d("sx") * d("sx")
    // two stages so intercept references the slope COLUMN — the oracle's
    // staged CTE computes the identical tree (slope rounds once, then
    // feeds intercept; re-inlining the slope expression would too, but
    // staging keeps both engines' trees textually parallel)
    stats.select((g :+ col("n") :+
        when(denom > 0, (nD * d("sxy") - d("sx") * d("sy")) / denom).as("slope") :+
        d("sy").as("__syd") :+ d("sx").as("__sxd") :+ nD.as("__nd")): _*)
      .select((g :+ col("n") :+ col("slope") :+
        when(col("slope").isNotNull,
          (col("__syd") - col("slope") * col("__sxd")) / col("__nd")).as("intercept")): _*)
  }

  /** Categorical diversity profile per group: distinct-value count,
    * Gini–Simpson index `1 − Σ(c/n)²` and effective number of values
    * `n²/Σc²` (inverse Simpson) — the corpus-mix concentration metrics a
    * training-data pipeline tracks per source/shard (a source whose
    * language mix collapses to one value shows up as effective_values→1
    * long before a count dashboard moves).
    *
    * Chosen over Shannon entropy DELIBERATELY: both indices are rational
    * functions of exact integer counts, so the only fp ops are IEEE
    * multiply/divide on exactly-represented integers — bit-identical on
    * every engine. Entropy needs a per-value `ln`, whose last-ulp
    * differences across libms make cross-engine hashes unstable. Exact
    * while n ≤ 2²⁶ per group (n² stays inside double's 2⁵³); past that,
    * lift the factors to DECIMAL(38,0).
    *
    * Two stacked hash aggregates (value counts, then group moments), both
    * with map-side partials — the (group, value) frame the second pass
    * runs on is NDV-sized, not corpus-sized.
    *
    * @return (group, n, n_values, simpson, effective_values)
    */
  def diversity(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "diversity needs at least one group column")
    val g = groupCols.map(c => col(s"`$c`"))
    val counts = df.filter(col(s"`$valueCol`").isNotNull)
      .groupBy((g :+ col(s"`$valueCol`")): _*).agg(count(lit(1)).as("__c"))
    val n2 = col("n").cast("double") * col("n")
    counts.groupBy(g: _*)
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("n_values"),
        sum(col("__c") * col("__c")).as("__ss"))
      .select((g :+ col("n") :+ col("n_values") :+
        ((n2 - col("__ss")) / n2).as("simpson") :+
        (n2 / col("__ss")).as("effective_values")): _*)
  }

  /** Full Pearson correlation MATRIX over N numeric columns in ONE
    * sufficient-statistics pass — [[correlation]]'s all-pairs form: the
    * feature-redundancy screen run before any modeling/stratification
    * over profile columns. A naive per-pair loop scans the table
    * N·(N−1)/2 times; this computes every count, sum, and pairwise
    * cross-product in a single aggregate (map-side partials) and derives
    * all correlations from that one row.
    *
    * Same exactness discipline as [[correlation]] (p05): sums and
    * cross-products accumulate in DECIMAL(19,2)-derived exact decimals
    * (order-independent), each r is then ONE fixed fp expression over
    * exactly-known operands, NULL when either side is constant. Rows
    * with a NULL in ANY of the columns are excluded (listwise deletion)
    * so every pair shares one n — the matrix property that makes r
    * comparable across cells.
    *
    * @return (col_a, col_b, n, r) for every unordered pair, col_a < col_b
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"need >= 2 distinct columns, got $cols")
    val spark = df.sparkSession
    import spark.implicits._
    def dcol(c: String) = col(s"`$c`").cast(DecimalType(19, 2))
    val base = df.filter(cols.map(c => col(s"`$c`").isNotNull).reduce(_ && _))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs =
      Seq(count(lit(1)).as("__n")) ++
        cols.map(c => sum(dcol(c)).as(s"__s_$c")) ++
        cols.map(c => sum(dcol(c) * dcol(c)).as(s"__ss_$c")) ++
        pairs.map { case (a, b) => sum(dcol(a) * dcol(b)).as(s"__sp_${a}_$b") }
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    def d(name: String): Double = {
      val v = row.getAs[java.math.BigDecimal](name)
      if (v == null) 0.0 else v.doubleValue()
    }
    val out = pairs.map { case (a, b) =>
      val (sx, sy) = (d(s"__s_$a"), d(s"__s_$b"))
      val (sxx, syy) = (d(s"__ss_$a"), d(s"__ss_$b"))
      val sxy = d(s"__sp_${a}_$b")
      val (vx, vy) = (n * sxx - sx * sx, n * syy - sy * sy)
      val r: java.lang.Double =
        if (n == 0L || vx <= 0 || vy <= 0) null
        else (n * sxy - sx * sy) / math.sqrt(vx * vy)
      (a, b, n, Option(r).map(_.doubleValue))
    }
    out.toDF("col_a", "col_b", "n", "r")
  }

  /** Cramér's V — association strength between two categorical columns
    * (0 = independent, 1 = determined), the "is `lang` just `source` in
    * disguise" redundancy check run before stratifying a corpus on both.
    * χ² comes from the missing-cell-free identity
    * `χ² = n·(Σ n_ij²·n/(r_i·c_j)/n − 1) = Σ n_ij²·n/(r_i·c_j) − n`
    * (an absent combination contributes exactly its expected count, which
    * the identity absorbs), and V = √(χ² / (n·(min(R,C)−1))).
    *
    * Determinism (the t12/t23 recipe): each observed cell's contribution
    * is one fixed-order double expression over exact integer counts,
    * rounded to 9 dp and summed as EXACT DECIMAL(28,9) — a raw double
    * sum would hash-diverge under reduce reordering — then χ² and the
    * single final √ (IEEE, correctly rounded) come from that exact sum.
    *
    * Scale shape: one (a, b) cell aggregation (map-side partials; output
    * is the contingency table, R·C-bounded), the marginals as two
    * roll-ups of the CELL frame (never a second scan), n/R/C as eager
    * literals. NULL in either column is excluded (no category).
    *
    * @return one row: (n, n_cells, r, c, chi2, cramers_v); degenerate
    *         single-category inputs (min(R,C) = 1) yield V = NULL
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(s"`$aCol`")
    val b = col(s"`$bCol`")
    val cells = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b")).agg(count(lit(1)).as("__n"))
    val ra = cells.groupBy(col("__a")).agg(sum(col("__n")).as("__ra"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__n")).as("__cb"))
    val totals = cells.agg(sum(col("__n")).as("n"), count(lit(1)).as("n_cells"),
      countDistinct(col("__a")).as("r"), countDistinct(col("__b")).as("c")).head()
    if (totals.isNullAt(0))
      // one-row degenerate frame (range(1), NOT range(0) which is empty),
      // mirroring SQL aggregate-over-empty semantics: SUM → NULL, COUNTs → 0
      return cells.sparkSession.range(1).select(lit(null).cast("long").as("n"),
        lit(0L).as("n_cells"), lit(0L).as("r"), lit(0L).as("c"),
        lit(null).cast("double").as("chi2"), lit(null).cast("double").as("cramers_v"))
    val (n, nCells, r, c) =
      (totals.getLong(0), totals.getLong(1), totals.getLong(2), totals.getLong(3))
    val contrib = round(
      col("__n").cast("double") * col("__n") * n /
        (col("__ra").cast("double") * col("__cb")), 9).cast(DecimalType(28, 9))
    val minDim = math.min(r, c)
    cells.join(broadcast(ra), "__a").join(broadcast(cb), "__b")
      .agg(sum(contrib).as("__s"))
      .select(lit(n).as("n"), lit(nCells).as("n_cells"), lit(r).as("r"), lit(c).as("c"),
        (col("__s").cast("double") - n).as("chi2"),
        // the 9-dp contribution rounding can put χ² a few ulps below 0 on
        // an independent table; clamp inside the √ so neither engine
        // turns that noise into NaN-vs-error divergence
        (if (minDim <= 1) lit(null).cast("double")
         else sqrt(greatest(col("__s").cast("double") - n, lit(0.0)) /
           (n.toDouble * (minDim - 1))))
          .as("cramers_v"))
  }

  /** Exact heavy hitters through a Misra–Gries prune: every value whose
    * true count exceeds n/(k+1), with its EXACT count and share — found
    * without ever shuffling the value histogram.
    *
    * Two passes, both shuffle-light at any scale (the
    * [[graft.functions.BloomAggregator]] prune-then-confirm discipline):
    *  1. one [[graft.functions.MisraGriesAggregator]] total aggregation —
    *     each partition contributes ≤k counters, so the shuffle carries
    *     k·partitions map entries, never the NDV-sized histogram a
    *     groupBy would move (the whole point for id-like columns whose
    *     distinct count rivals the row count);
    *  2. an exact confirm: count ONLY the ≤k surviving candidates (the
    *     `isin` filter reaches the scan) and keep those with
    *     `cnt·(k+1) > n` — integer arithmetic, no fp threshold.
    *
    * MG's one-sided guarantee (no true heavy hitter can be evicted) makes
    * the composition deterministic even though MG's internal counters are
    * processing-order-dependent: the thresholded result ALWAYS equals the
    * exact-threshold answer, which is why a plain exact SQL oracle can
    * hash-match it. A value column of any type is counted on its string
    * form (the sketch key), mirrored trivially in SQL by a CAST.
    *
    * @return (valueCol, cnt, share) for each value with cnt·(k+1) > n
    */
  def frequentItems(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 4096,
      s"k must be in [1, 4096], got $k — the summary is collected to the driver")
    import org.apache.spark.sql.functions.udaf
    val rows = df.filter(col(s"`$valueCol`").isNotNull)
      .select(col(s"`$valueCol`").cast("string").as("__v"))
    val agg = udaf(new graft.functions.MisraGriesAggregator(k),
      org.apache.spark.sql.Encoders.STRING)
    val summary = rows.select(agg(col("__v"))).head()
    val cand: Seq[String] =
      if (summary.isNullAt(0)) Seq.empty
      else summary.getMap[String, Long](0).keys.toSeq.sorted
    // total as an eager literal (the distributedPrefixSum contract: a lazy
    // one-row crossJoin would fork the scan per consumer)
    val n = rows.count()
    val counts =
      if (cand.isEmpty) rows.limit(0).groupBy(col("__v")).agg(count(lit(1)).as("cnt"))
      else rows.filter(col("__v").isin(cand: _*))
        .groupBy(col("__v")).agg(count(lit(1)).as("cnt"))
    counts.filter(col("cnt") * (k + 1) > lit(n))
      .select(col("__v").as(valueCol), col("cnt"),
        (col("cnt").cast("double") / lit(n)).as("share"))
  }

  /** Per-group Gini concentration of a non-negative mass column — "how
    * unequally is the token/char mass spread across this source's
    * documents", the Lorenz-curve scalar a mix-rebalancing stage reads
    * before deciding caps ([[graft.operators.SampleOps.stratifiedCap]] /
    * temperatureMix): Gini 0 = every doc carries equal mass, →1 = a few
    * giants carry everything.
    *
    * Exactness discipline (the [[categoricalDrift]] argument): Gini over
    * ascending-sorted masses x₁..x_n is (2·Σi·xᵢ − (n+1)·S) / (n·S) —
    * and Σi·xᵢ collapses over the VALUE HISTOGRAM to
    * Σ_v v·(c_v·B_v + c_v(c_v+1)/2) with B_v = docs below v, all integer.
    * The three aggregates run in DECIMAL(38,0) (a corpus at 10⁹ docs ×
    * 10⁴ tokens pushes Σi·xᵢ to ~10²² — past int64, 23 digits of 38;
    * `c·(c+1)` is halved in int64 first, exact while any single group
    * stays under ~4·10⁹ docs), so the ONLY fp op is the final division
    * of two exactly-known integers. A negative mass fails in-plan with
    * the offending value ([[SampleOps.budgetSelect]]'s idiom) — Gini is
    * undefined there, and silently clamping would misreport concentration.
    *
    * Scale shape: one (group, value) aggregation (map-side partials;
    * NDV-sized output), then windows partitioned BY GROUP over that
    * histogram — groups in parallel, per-task unit is one group's
    * distinct-value set, the p04 contract. Zero-mass groups emit NULL
    * gini (the 0/0 of an all-empty group has no defined Lorenz curve).
    *
    * @return (groupCols…, n_docs, total_mass, gini)
    */
  def giniConcentration(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "giniConcentration needs at least one group column")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(c => col(s"`$c`"))
    val v0 = col(s"`$valueCol`")
    val vChecked = when(v0 >= 0, v0).otherwise(raise_error(concat(
      lit(s"giniConcentration: mass column `$valueCol` is negative ("), v0.cast("string"),
      lit(") — Gini is undefined; filter or clamp negative masses first"))))
    val dist = df.filter(v0.isNotNull)
      .select((g :+ vChecked.as("__v")): _*)
      .groupBy((g :+ col("__v")): _*).agg(count(lit(1)).as("__c"))
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val byG = Window.partitionBy(g: _*)
    val before = byG.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withB = dist
      .withColumn("__b", coalesce(sum(col("__c")).over(before), lit(0L)))
      .withColumn("__contrib",
        dec(col("__v")) * (dec(col("__c")) * dec(col("__b")) +
          dec(expr("(__c * (__c + 1)) div 2"))))
    val n = col("n_docs")
    val s = col("__s")
    withB.groupBy(g: _*)
      .agg(sum(col("__c")).as("n_docs"),
        sum(dec(col("__c")) * dec(col("__v"))).cast(DecimalType(38, 0)).as("__s"),
        sum(col("__contrib")).cast(DecimalType(38, 0)).as("__t"))
      .select((g :+ n :+ s.cast("long").as("total_mass") :+
        when(dec(n) * s === 0, lit(null))
          .otherwise((lit(2) * col("__t") - (dec(n) + 1) * s).cast("double") /
            (dec(n) * s).cast("double")).as("gini")): _*)
  }

  /** Categorical drift between two labeled sub-populations: per value, the
    * Pearson chi-square contribution of the 2×1 contingency cell pair —
    * the "did the language/source/format mix move between snapshots (or
    * between train and eval splits)" monitor. Summing `chi2` over the
    * output rows gives the full chi-square statistic; the per-value rows
    * ARE the diagnosis (which categories drifted, and by how much).
    *
    * Chosen over PSI/KL DELIBERATELY (the [[diversity]] argument): those
    * need a per-value `ln`, whose last-ulp libm differences make
    * cross-engine results unstable. The chi-square contribution
    * `(n−E)²/E` is a rational function of exact integer counts — the only
    * fp ops are IEEE multiply/divide/subtract on exactly-represented
    * integers and their quotients, bit-identical on every engine
    * computing the same tree.
    *
    * Scale shape: ONE value-level aggregate with conditional counts
    * (map-side partials; the output frame is NDV-sized), grand totals from
    * one eager one-row aggregate embedded as literals (the
    * [[distributedPrefixSum]] contract — literals cannot fork the scan
    * the way a lazy crossJoin of a derived aggregate can).
    *
    * @return (value, n_a, n_b, chi2) — chi2 NULL when either side is
    *         empty (expected counts undefined)
    */
  def categoricalDrift(df: DataFrame, valueCol: String, labelCol: String,
      labelA: String, labelB: String): DataFrame = {
    require(labelA != labelB, s"labels must differ, got '$labelA'")
    val v = col(s"`$valueCol`")
    val l = col(s"`$labelCol`")
    val cnt = df.filter(v.isNotNull && (l === labelA || l === labelB))
      .groupBy(v.as("value"))
      .agg(sum(when(l === labelA, 1L).otherwise(0L)).as("n_a"),
        sum(when(l === labelB, 1L).otherwise(0L)).as("n_b"))
    val tot = cnt.agg(sum(col("n_a")), sum(col("n_b"))).head
    if (tot.isNullAt(0))
      return cnt.withColumn("chi2", lit(null).cast("double")).limit(0)
    val (na, nb) = (tot.getLong(0), tot.getLong(1))
    val n = (na + nb).toDouble
    val rowTot = (col("n_a") + col("n_b")).cast("double")
    val ea = rowTot * lit(na) / n
    val eb = rowTot * lit(nb) / n
    val contrib =
      (col("n_a") - ea) * (col("n_a") - ea) / ea +
      (col("n_b") - eb) * (col("n_b") - eb) / eb
    cnt.withColumn("chi2",
      when(lit(na > 0L && nb > 0L), contrib).otherwise(lit(null).cast("double")))
  }

  /** 2-D equi-width histogram — [[histogram]]'s joint form: each row lands
    * in an (x-bucket, y-bucket) cell, the heatmap binning behind
    * length-vs-quality / price-vs-discount density views. One stats pass
    * (both dims' min/max in a single broadcast one-row aggregate) + one
    * aggregation shuffle on the cell id; bucket assignment reuses
    * [[histogram]]'s fp expression per dimension, and cell bounds are
    * re-derived from the identical expression so bounds and counts can
    * never disagree. Only cells with data are emitted (the empty grid is
    * derivable, and at nx·ny cells materializing zeros is the caller's
    * presentation concern).
    *
    * @return (bucket_x, bucket_y, lo_x, lo_y, n)
    */
  def histogram2d(df: DataFrame, xCol: String, yCol: String,
      nxBuckets: Int, nyBuckets: Int): DataFrame = {
    require(nxBuckets >= 1, s"nxBuckets must be >= 1, got $nxBuckets")
    require(nyBuckets >= 1, s"nyBuckets must be >= 1, got $nyBuckets")
    val x = col(s"`$xCol`").cast("double")
    val y = col(s"`$yCol`").cast("double")
    val stats = df.filter(x.isNotNull && y.isNotNull)
      .agg(min(x).as("xmin"), max(x).as("xmax"), min(y).as("ymin"), max(y).as("ymax"))
    def bucket(v: Column, lo: Column, hi: Column, k: Int) =
      when(hi > lo, least(lit(k - 1), floor((v - lo) / (hi - lo) * k))).otherwise(0L)
    df.filter(x.isNotNull && y.isNotNull).crossJoin(broadcast(stats))
      .withColumn("bucket_x", bucket(x, col("xmin"), col("xmax"), nxBuckets))
      .withColumn("bucket_y", bucket(y, col("ymin"), col("ymax"), nyBuckets))
      .groupBy(col("bucket_x"), col("bucket_y"))
      .agg(count(lit(1)).as("n"),
        first(col("xmin")).as("xmin"), first(col("xmax")).as("xmax"),
        first(col("ymin")).as("ymin"), first(col("ymax")).as("ymax"))
      .select(col("bucket_x"), col("bucket_y"),
        (col("xmin") + col("bucket_x") * (col("xmax") - col("xmin")) / nxBuckets).as("lo_x"),
        (col("ymin") + col("bucket_y") * (col("ymax") - col("ymin")) / nyBuckets).as("lo_y"),
        col("n"))
  }

  /** Numeric drift between two labeled slices as a binned two-sample
    * Kolmogorov–Smirnov curve: shared equal-width bins over the combined
    * domain, per-bin counts per slice, cumulative shares, and the per-bin
    * |ΔECDF| whose max is the KS statistic — the numeric complement of
    * [[categoricalDrift]]'s chi-square.
    *
    * Binned, not exact-ECDF, deliberately: the exact statistic needs a
    * cumulative walk over every distinct value — an unbounded global
    * window (the p02 lesson) — while fixed bins keep the cumulative
    * window at ≤ nBuckets rows (one bounded task) and bound the
    * statistic's error by one bin's probability mass. Empty bins emit no
    * row; the ECDF is flat across them, so the max gap is unaffected.
    * Same bin math as [[histogram]] (combined min/max, LEAST-clamped top
    * edge), totals ride the same single stats pass, so the whole operator
    * is two scans + one ≤nBuckets-row window.
    *
    * @return (bucket, lo, n_a, n_b, cum_share_a, cum_share_b, ecdf_gap),
    *         non-empty buckets ascending; shares NULL when a slice is empty
    */
  def binnedKsDrift(df: DataFrame, valueCol: String, labelCol: String,
      labelA: String, labelB: String, nBuckets: Int = 64): DataFrame = {
    require(labelA != labelB, s"labels must differ, got '$labelA'")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val v = col(s"`$valueCol`").cast("double")
    val l = col(s"`$labelCol`")
    val in = df.filter(v.isNotNull && (l === labelA || l === labelB))
    val stats = in.agg(min(v).as("vmin"), max(v).as("vmax"),
      sum(when(l === labelA, 1L).otherwise(0L)).as("tot_a"),
      sum(when(l === labelB, 1L).otherwise(0L)).as("tot_b"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    in.crossJoin(broadcast(stats))
      .withColumn("bucket",
        when(col("vmax") > col("vmin"),
          least(lit(nBuckets - 1),
            floor((v - col("vmin")) / (col("vmax") - col("vmin")) * nBuckets)))
          .otherwise(0L))
      .groupBy(col("bucket"))
      .agg(
        sum(when(l === labelA, 1L).otherwise(0L)).as("n_a"),
        sum(when(l === labelB, 1L).otherwise(0L)).as("n_b"),
        first(col("vmin")).as("vmin"), first(col("vmax")).as("vmax"),
        first(col("tot_a")).as("tot_a"), first(col("tot_b")).as("tot_b"))
      .select(col("bucket"),
        (col("vmin") + col("bucket") * (col("vmax") - col("vmin")) / nBuckets).as("lo"),
        col("n_a"), col("n_b"),
        (sum(col("n_a")).over(w).cast("double") / nullif(col("tot_a"), lit(0L)))
          .as("cum_share_a"),
        (sum(col("n_b")).over(w).cast("double") / nullif(col("tot_b"), lit(0L)))
          .as("cum_share_b"))
      .withColumn("ecdf_gap", abs(col("cum_share_a") - col("cum_share_b")))
  }

  /** Equi-width histogram: `nBuckets` buckets spanning [min, max], each row
    * counted into `least(nBuckets-1, floor((v-min)/(max-min)·nBuckets))`
    * (the max value folds into the last bucket; a constant column lands
    * entirely in bucket 0). One stats pass + one aggregation shuffle on the
    * bucket id — the scan dominates at any scale. Bucket bounds are derived
    * from (bucket, min, width) with the same fp expression the assignment
    * used, so bounds and counts can never disagree.
    */
  def histogram(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val v = col(s"`$valueCol`").cast("double")
    val stats = df.filter(v.isNotNull)
      .agg(min(v).as("vmin"), max(v).as("vmax"))
    df.filter(v.isNotNull).crossJoin(broadcast(stats))
      .withColumn("bucket",
        when(col("vmax") > col("vmin"),
          least(lit(nBuckets - 1),
            floor((v - col("vmin")) / (col("vmax") - col("vmin")) * nBuckets)))
          .otherwise(0L))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        first(col("vmin")).as("vmin"), first(col("vmax")).as("vmax"))
      .select(col("bucket"),
        (col("vmin") + col("bucket") * (col("vmax") - col("vmin")) / nBuckets).as("lo"),
        col("n"))
  }

  /** MERGEABLE profile state of an integer column — the incremental
    * sibling of [[describe]]/[[histogram]] (the d33 idea applied to
    * profiling): profile each corpus snapshot ONCE, persist the state as
    * a tiny parquet frame, and combine snapshots with
    * [[mergeProfileStates]] — the union profile without rescanning a row
    * of either corpus. At 100 TB-per-snapshot this turns "re-profile
    * everything monthly" into "profile the new shard, merge".
    *
    * The state is a BUCKETED sufficient-statistics frame — one row per
    * fixed-width bucket of [lo, hi) (out-of-range values clamp into the
    * end buckets; NULLs take bucket −1): (bucket, n, sum_v, sumsq_v,
    * min_v, max_v). One frame is simultaneously the p03-style histogram
    * (the n column), the moment set (Σ, Σ² per bucket — corpus mean/
    * variance fall out by summing buckets), and the range (min/max roll
    * up) — and it is CLOSED UNDER UNION RE-AGGREGATION, which is the
    * whole design: merge = groupBy(bucket) with (sum, sum, sum, min,
    * max), associative and commutative, so any snapshot DAG folds to the
    * same state. Bucket bounds are CALLER-FIXED, never data-derived —
    * data-derived bounds (as [[histogram]] uses) differ per shard and
    * make bucket counts un-addable.
    *
    * Exactness: counts are BIGINT; Σ and Σ² run per-factor in
    * DECIMAL(18,0) (so any engine's decimal promotion fits: 18+18 digits
    * of product, summed into DECIMAL(38,0)). The exactness domain is
    * bounded by Σv² < 10³⁸, not just |v| < 10¹⁸: a column of
    * epoch-microsecond timestamps (v ≈ 10¹⁵, v² ≈ 10³⁰) overflows the
    * accumulator past ~10⁸ rows — pre-scale such columns (e.g. to
    * seconds) before profiling; count/length/token columns (v ≤ ~10⁹)
    * are safe to ~10¹⁹ rows. Two caveats a user needs: that domain, and
    * that merging states built with DIFFERENT (lo, hi, nBuckets) is
    * meaningless — enforced structurally by keeping those in the
    * caller's hands.
    *
    * Scale shape: one hash aggregate with map-side partials; the state is
    * nBuckets+1 rows however large the corpus.
    *
    * @return (bucket, n, sum_v, sumsq_v, min_v, max_v); sums/min/max are
    *         NULL on the all-NULL bucket −1
    */
  def numericProfileState(df: DataFrame, valueCol: String,
      lo: Long, hi: Long, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && nBuckets <= (1 << 20),
      s"nBuckets must be in [1, 2^20], got $nBuckets")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    // the bucket product is computed on the CLAMPED value, so its bound
    // is (hi-lo)·nBuckets by construction — checked here, because an
    // unclamped out-of-range value (the very case the end-bucket clamp
    // exists for) could overflow BIGINT first and crash under ANSI mode
    // (or wrap negative and land in bucket 0 instead of the top bucket)
    // subtractExact: hi - lo itself wraps in Long for pathological bounds
    // (lo near Long.MinValue with large hi), which would let plain
    // subtraction pass this require and silently mis-bucket
    require(
      try Math.subtractExact(hi, lo) <= Long.MaxValue / nBuckets
      catch { case _: ArithmeticException => false },
      s"(hi - lo) * nBuckets overflows BIGINT: [$lo, $hi) x $nBuckets")
    val v = col(s"`$valueCol`").cast("long")
    def dec18(c: Column) = c.cast(DecimalType(18, 0))
    // integer `div`, never `/`: double division rounds past 2^53 and an
    // off-by-one bucket there would diverge from any integer-exact replay
    val bucket = when(v.isNull, lit(-1L))
      .otherwise(expr(
        s"((LEAST(GREATEST(CAST(`$valueCol` AS BIGINT), ${lo}L), ${hi - 1}L)" +
          s" - ${lo}L) * ${nBuckets}L) div ${hi - lo}L"))
    df.select(bucket.as("bucket"), v.as("__v"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec18(col("__v"))).cast(DecimalType(38, 0)).as("sum_v"),
        sum(dec18(col("__v")) * dec18(col("__v"))).cast(DecimalType(38, 0)).as("sumsq_v"),
        min(col("__v")).as("min_v"), max(col("__v")).as("max_v"))
  }

  /** Fold any number of [[numericProfileState]] frames (built with the
    * SAME bucket configuration) into the state of the unioned corpus —
    * sums add, extrema combine, bucket rows absent from a snapshot simply
    * contribute nothing. The result is again a valid state: merging is
    * associative/commutative, so incremental pipelines can fold snapshot
    * states in any order or tree shape (ProfileSpec pins
    * merge ≡ from-scratch and the associativity).
    */
  def mergeProfileStates(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "mergeProfileStates needs at least one state")
    states.reduce(_.unionByName(_))
      .groupBy(col("bucket"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("sum_v")).cast(DecimalType(38, 0)).as("sum_v"),
        sum(col("sumsq_v")).cast(DecimalType(38, 0)).as("sumsq_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
  }

  /** Supersede stale snapshots before a state merge — the
    * [[graft.operators.Dedup.compactBandIndex]] idiom applied to profile
    * states. [[mergeProfileStates]] assumes DISJOINT snapshots: a shard
    * that is RE-PROFILED (amended data, a corrected early partial) would
    * double-count if both its generations reach the merge. Callers tag
    * each state at build time (`.withColumn(shardCol, lit(id))
    * .withColumn(genCol, lit(g))`); compaction keeps only each shard's
    * latest generation of rows, so the subsequent merge sees exactly the
    * CURRENT profile of every shard.
    *
    * Scale shape, inherited from compactBandIndex: the latest-gen set is
    * one ids-only hash aggregate (max per shard — map-side partials, no
    * window), then one equi-join on (shard, gen) filters the state rows.
    * Both exchanges carry (shard, gen) slivers over nBuckets-row states —
    * trivially small at any corpus size. Idempotent, and
    * compact(gen1 ∪ gen2) merges to the from-scratch state of the
    * effective corpus (SampleProfileSpec pins both; the p19 entry pins
    * the merge equivalence under the driver gate).
    */
  def compactProfileStates(states: DataFrame, shardCol: String = "shard",
      genCol: String = "gen"): DataFrame = {
    val latest = states.select(col(s"`$shardCol`"), col(s"`$genCol`"))
      .groupBy(col(s"`$shardCol`")).agg(max(col(s"`$genCol`")).as(genCol))
    val kept = states.join(latest, Seq(shardCol, genCol))
    // duplicate-inclusion guard (round 16): the same (shard, gen) state
    // accidentally unioned TWICE by the caller matches its own max
    // generation, survives the latest-gen filter, and double-counts in
    // the downstream merge — the exact defect this function exists to
    // prevent, one tag collision away. Within one honest state a bucket
    // appears exactly once (it is a groupBy(bucket) output), so
    // count > countDistinct(bucket) on a kept (shard, gen) proves a
    // duplicate inclusion — fail loudly. One slivers-only aggregate over
    // the kept rows; the check rides a FILTER (a dropped check column
    // would be pruned away unevaluated, a filter cannot be).
    val dupCheck = kept.groupBy(col(s"`$shardCol`"), col(s"`$genCol`"))
      .agg(count(lit(1)).as("__n"), countDistinct(col("bucket")).as("__nd"))
    kept.join(dupCheck, Seq(shardCol, genCol))
      .filter(assert_true(col("__n") === col("__nd"),
        concat(lit("compactProfileStates: duplicate state rows for "),
          lit(s"$shardCol="), col(s"`$shardCol`").cast("string"),
          lit(s" $genCol="), col(s"`$genCol`").cast("string"),
          lit(" — the same (shard, gen) state was included more than once"))).isNull)
      .drop("__n", "__nd")
  }

  /** Histogram read-out of a [[numericProfileState]] (or a
    * [[mergeProfileStates]] fold of many): (bucket, lo_v, hi_v, n) with
    * INTEGER-EXACT bucket bounds re-derived from the caller's fixed
    * (lo, hi, nBuckets) — the p03-style equi-width histogram answered
    * from persisted state without rescanning a row. The NULL bucket (−1)
    * reports NULL bounds. Bounds use the same `div` math family as the
    * state's bucket assignment, so bounds and counts can never disagree
    * and any engine replays them bit-for-bit.
    */
  def histogramFromState(state: DataFrame, lo: Long, hi: Long,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(
      try Math.subtractExact(hi, lo) <= Long.MaxValue / (nBuckets + 1L)
      catch { case _: ArithmeticException => false },
      s"(hi - lo) * (nBuckets + 1) overflows BIGINT: [$lo, $hi) x $nBuckets")
    state.select(col("bucket"),
      when(col("bucket") >= 0,
        expr(s"${lo}L + (bucket * ${hi - lo}L) div ${nBuckets}L")).as("lo_v"),
      when(col("bucket") >= 0,
        expr(s"${lo}L + ((bucket + 1) * ${hi - lo}L) div ${nBuckets}L")).as("hi_v"),
      col("n"))
  }

  /** Bucket-resolution quantiles answered from a [[numericProfileState]]
    * — the quantile/histogram member of the persisted-state family
    * (moments p18/p19, heavy hitters p20, membership p21). For each q,
    * the smallest bucket whose cumulative count reaches rank
    * max(1, ceil(q·N − ε)) — ε = 1e-9 guarding the exactly-integral
    * q·N double boundary — over the N non-NULL values is reported with its
    * integer-exact bounds: the true q-quantile of the profiled corpus
    * lies in [lo_v, hi_v) (end-bucket clamping widens only the two clamp
    * buckets to their clamp ranges), so the answer's error is bounded by
    * one bucket width — the precision the fixed-boundary state bought at
    * nBuckets rows, made explicit instead of interpolated away. Because
    * the state merge is EXACT (bucket counts add), merging snapshot
    * states first — compaction included — and answering equals answering
    * the from-scratch state of the effective corpus (the p22 entry pins
    * this under the driver gate; SampleProfileSpec pins the containment
    * guarantee against sort-derived exact quantiles).
    *
    * Scale shape: one cumulative window over the ≤nBuckets+1-row state
    * (bounded, never over data — the p02 lesson) and one broadcast of
    * the qs; the corpus is never rescanned.
    *
    * @return (q, bucket, lo_v, hi_v, n_total), one row per requested q;
    *         empty when the state holds no non-NULL values
    */
  def quantilesFromState(state: DataFrame, qs: Seq[Double],
      lo: Long, hi: Long, nBuckets: Int): DataFrame = {
    require(qs.nonEmpty, "quantilesFromState needs at least one q")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"every q must be in [0, 1], got $qs")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(
      try Math.subtractExact(hi, lo) <= Long.MaxValue / (nBuckets + 1L)
      catch { case _: ArithmeticException => false },
      s"(hi - lo) * (nBuckets + 1) overflows BIGINT: [$lo, $hi) x $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val spark = state.sparkSession
    import spark.implicits._
    val hist = state.filter(col("bucket") >= 0).select(col("bucket"), col("n"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum_n", sum(col("n")).over(w))
    val tot = hist.agg(sum(col("n")).cast("long").as("n_total"))
    val qdf = qs.toDF("q")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qdf))
      // EPS guards the exact-integral boundary (the PPJoin idiom,
      // Dedup.scala): ceil(0.55 * 100) evaluates as ceil(55.000...007)
      // = 56 in doubles, shifting the rank — and the bucket — by one.
      // The p22 oracle and SampleProfileSpec subtract the same EPS.
      .filter(col("cum_n") >=
        greatest(lit(1L), ceil(col("q") * col("n_total") - 1e-9).cast("long")))
      .groupBy(col("q"))
      .agg(min(col("bucket")).as("bucket"), first(col("n_total")).as("n_total"))
      .select(col("q"), col("bucket"),
        expr(s"${lo}L + (bucket * ${hi - lo}L) div ${nBuckets}L").as("lo_v"),
        expr(s"${lo}L + ((bucket + 1) * ${hi - lo}L) div ${nBuckets}L").as("hi_v"),
        col("n_total"))
  }

  /** BOUND-FREE mergeable quantile state (round 17) — the member of the
    * persisted-state family for corpora whose value RANGE is unknown at
    * profile time, where [[numericProfileState]]'s caller-fixed [lo, hi)
    * would need a pre-scan. One row per occupied LOG-SCALE bucket of the
    * long domain — the public HdrHistogram / DDSketch design (Masson,
    * Rim & Lee, VLDB'19) with the bucket function restated in INTEGER
    * arithmetic so any engine replays it bit-for-bit: for v ≠ 0 with
    * a = |v| and e = ⌊log₂ a⌋ (bit length of a, minus one),
    * shift = max(e − subBits, 0) and sub = a >> shift; bucket
    * (sign, shift, sub) covers the value interval
    * [sub << shift, (sub+1) << shift) on the positive side, mirrored
    * half-open and gap-free on the negative side
    * ([1−((sub+1)<<shift), 1−(sub<<shift))); 0 takes (0, 0, 0). Values
    * with e ≤ subBits are EXACT (one value per bucket); every wider
    * bucket has relative width (hi−lo)/lo = 1/sub ≤ 2^−subBits — the
    * sketch's guarantee, with NO a-priori bounds.
    *
    * Why not KLL/GK, the rank-error classics the quantile literature
    * reaches for first: both are randomized and/or merge-order-
    * dependent, so "merge ≡ from-scratch" could only hold in
    * distribution. This bucket function is a pure per-value map and the
    * merge is exact count addition — associative and commutative — so
    * merged states equal the from-scratch state of the union
    * HASH-FOR-HASH, the property the p18–p22 family's driver gate
    * checks. The trade: the error bound is value-relative, not
    * rank-relative (the reported quantile interval is within 2^−subBits
    * of the true value, however skewed the ranks).
    *
    * State size: ≤ 2·(63 − subBits)·2^(subBits+1) + 2^(subBits+2) + 1
    * occupied rows by construction, independent of corpus size —
    * subBits = 6 caps it under ~15k rows and locates every quantile
    * within 1.6%. NULLs are excluded (count them with [[describe]]).
    * The domain guard |v| < 2^62 rides an assert_true FILTER (column
    * pruning cannot skip it), so a corpus of near-Long extremes fails
    * loudly instead of overflowing the bound arithmetic at read-out.
    *
    * Every row carries the `sub_bits` geometry stamp (the
    * [[graft.functions.BloomFilterOps.bloomState]] idiom): states built
    * at different resolutions must not merge — the same (sign, shift,
    * sub) key means a different value interval at a different subBits,
    * and adding such counts would answer quantiles of no corpus.
    *
    * Scale shape: one hash aggregate with map-side partials over a
    * 3-int-column projection; the state is bounded rows however large
    * the corpus.
    *
    * @return (sign, shift, sub, n, sub_bits), one row per occupied bucket
    */
  def logBucketState(df: DataFrame, valueCol: String, subBits: Int): DataFrame = {
    require(subBits >= 1 && subBits <= 12,
      s"subBits must be in [1, 12], got $subBits — the state is a bounded frame")
    val v = col(s"`$valueCol`").cast("long")
    df.filter(v.isNotNull).select(v.as("__v"))
      .filter(assert_true(
        col("__v") > lit(-(1L << 62)) && col("__v") < lit(1L << 62),
        concat(lit("logBucketState: |value| must be < 2^62, got "),
          col("__v").cast("string"))).isNull)
      .withColumn("__a", abs(col("__v")))
      .withColumn("shift", when(col("__v") === 0, lit(0))
        .otherwise(greatest(length(bin(col("__a"))) - lit(1 + subBits), lit(0)))
        .cast("int"))
      .withColumn("sub", when(col("__v") === 0, lit(0L))
        .otherwise(expr("shiftright(__a, shift)")))
      .groupBy(signum(col("__v")).cast("int").as("sign"), col("shift"), col("sub"))
      .agg(count(lit(1)).as("n"))
      .withColumn("sub_bits", lit(subBits))
  }

  /** Fold any number of [[logBucketState]] frames built at the SAME
    * subBits into the state of the unioned corpus — counts add per
    * (sign, shift, sub), associative/commutative, so any snapshot DAG
    * folds to the from-scratch state hash-for-hash. Mixed `sub_bits`
    * stamps fail LOUDLY on the first action (one 1-row provenance
    * aggregate broadcast back, checked in a FILTER — the
    * [[graft.functions.BloomFilterOps.mergeBloomStates]] idiom) instead
    * of colliding bucket keys across meanings; the merged frame carries
    * the shared stamp forward so chained merges stay checkable.
    */
  def mergeLogBucketStates(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "mergeLogBucketStates needs at least one state")
    val all = states.reduce(_.unionByName(_))
    val prov = all.agg(
      min(col("sub_bits")).as("__smin"), max(col("sub_bits")).as("__smax"))
    all.groupBy(col("sign"), col("shift"), col("sub"))
      .agg(sum(col("n")).cast("long").as("n"))
      .crossJoin(broadcast(prov))
      .filter(assert_true(col("__smin") === col("__smax"),
        concat(lit("mergeLogBucketStates: mixed sub_bits geometry ["),
          col("__smin"), lit(", "), col("__smax"),
          lit("] — bucket keys mean different value intervals"))).isNull)
      .select(col("sign"), col("shift"), col("sub"), col("n"),
        col("__smax").as("sub_bits"))
  }

  /** Quantiles answered from a [[logBucketState]] — for each q, the
    * VALUE-ORDERED bucket whose cumulative count first reaches rank
    * max(1, ceil(q·N − ε)) (ε = 1e-9, the shared double-ceil idiom) is
    * reported with its integer-exact bounds: the true q-quantile lies in
    * [lo_v, hi_v), an interval of relative width ≤ 2^−subBits — the
    * bound-free sibling of [[quantilesFromState]], no (lo, hi, nBuckets)
    * argument to supply or get wrong. Because the merge is exact,
    * merging snapshot states first and answering equals answering the
    * from-scratch state of the union (the p23 entry pins this under the
    * driver gate; SampleProfileSpec pins containment and the relative-
    * width bound against sort-derived exact quantiles).
    *
    * Scale shape: one cumulative window over the bounded state (never
    * over data) and one broadcast of the qs; the corpus is never
    * rescanned.
    *
    * @return (q, lo_v, hi_v, n_total), one row per requested q; empty
    *         when the state is empty
    */
  def quantilesFromLogBucketState(state: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "quantilesFromLogBucketState needs at least one q")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"every q must be in [0, 1], got $qs")
    import org.apache.spark.sql.expressions.Window
    val spark = state.sparkSession
    import spark.implicits._
    val bounds = state.select(col("sign"), col("shift"), col("sub"), col("n"))
      .withColumn("lo_v",
        when(col("sign") > 0, expr("shiftleft(sub, shift)"))
          .when(col("sign") === 0, lit(0L))
          .otherwise(expr("1 - shiftleft(sub + 1, shift)")))
      .withColumn("hi_v",
        when(col("sign") > 0, expr("shiftleft(sub + 1, shift)"))
          .when(col("sign") === 0, lit(1L))
          .otherwise(expr("1 - shiftleft(sub, shift)")))
    val w = Window.orderBy(col("lo_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bounds.withColumn("cum_n", sum(col("n")).over(w))
    val tot = bounds.agg(sum(col("n")).cast("long").as("n_total"))
    val qdf = qs.toDF("q")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qdf))
      .filter(col("cum_n") >=
        greatest(lit(1L), ceil(col("q") * col("n_total") - 1e-9).cast("long")))
      .groupBy(col("q"))
      .agg(min(col("lo_v")).as("lo_v"),
        expr("min_by(hi_v, lo_v)").as("hi_v"),
        first(col("n_total")).as("n_total"))
      .select(col("q"), col("lo_v"), col("hi_v"), col("n_total"))
  }

  /** Mergeable HYPERLOGLOG distinct-count state (round 17) — the
    * cardinality member of the persisted-sketch family (moments p18/p19,
    * heavy hitters p20, membership p21, quantiles p22/p23): ≤ 2^p register
    * ROWS a pipeline writes next to each shard at ingest, so any later
    * "how many distinct X across shards" question folds states via
    * [[mergeHllStates]] without re-reading shard data. The classic use at
    * 100 TB: estimate the unique-document or unique-user count BEFORE
    * committing to the dedup shuffle, from kilobytes of persisted state.
    *
    * The sketch is Flajolet et al.'s HyperLogLog (AofA'07) restated over
    * the md5-60 oracle hash family so any engine replays it bit-for-bit
    * (the [[graft.operators.SampleOps.md5OrderHash]] map, DuckDB twin
    * `CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15) AS BIGINT)`):
    * h is 60 uniform bits; register index = h mod 2^p; the remaining
    * w = h div 2^p has 60−p bits and its rank is restated in INTEGER
    * arithmetic via the [[logBucketState]] bit-length idiom —
    * rho = (61−p) − length(bin(w)) for w > 0 (= leading-zero count of the
    * (60−p)-bit suffix, plus one) and rho = 61−p for w = 0. The state is
    * one row per OCCUPIED register: (idx, reg = max rho seen, hll_p).
    *
    * Why not `approx_count_distinct`'s internal HLL++ buffer: its
    * registers live in an opaque binary aggregation buffer tied to Spark's
    * implementation (dense words, version-stamped), not a frame another
    * engine — or a later Spark version — can audit or replay; this state
    * is plain rows under the same driver gate as every other sketch.
    *
    * Merge is register-wise MAX — associative, commutative, idempotent —
    * so merged shard states equal the from-scratch state of the union
    * HASH-FOR-HASH (stronger than HLL's usual in-distribution claim: the
    * hash family is fixed, so equality is exact). Duplicate values change
    * nothing (max is idempotent), which is the point of a distinct sketch.
    *
    * Every row carries the `hll_p` geometry stamp (the
    * [[graft.functions.BloomFilterOps.bloomState]] idiom): states built at
    * different precisions must not merge — the same idx names a different
    * hash prefix at a different p, and max over such rows answers the
    * cardinality of no corpus.
    *
    * Scale shape: one hash aggregate with map-side partials over a
    * 2-int-column projection; ≤ 2^p output rows however large the corpus.
    * Standard error of the read-out is ~1.04/√(2^p) (p = 9 → ~4.6%).
    *
    * @return (idx, reg, hll_p), one row per occupied register
    */
  def hllState(df: DataFrame, valueCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 14,
      s"p must be in [4, 14], got $p — the state is a bounded frame")
    val m = 1L << p
    val kMax = 61 - p
    val h = conv(substring(md5(col(s"`$valueCol`").cast("string")), 1, 15),
      16, 10).cast("long")
    df.filter(col(s"`$valueCol`").isNotNull)
      .select(h.as("__h"))
      .withColumn("idx", pmod(col("__h"), lit(m)).cast("int"))
      .withColumn("__w", expr(s"__h div ${m}L"))
      .withColumn("reg", when(col("__w") === 0, lit(kMax))
        .otherwise(lit(kMax) - length(bin(col("__w")))).cast("int"))
      .groupBy(col("idx"))
      .agg(max(col("reg")).as("reg"))
      .withColumn("hll_p", lit(p))
  }

  /** Fold any number of [[hllState]] frames built at the SAME precision
    * into the state of the unioned corpora — register-wise max per idx.
    * Mixed `hll_p` stamps fail LOUDLY on the first action (one 1-row
    * provenance aggregate broadcast back, checked in a FILTER — the
    * [[mergeLogBucketStates]] idiom); the merged frame carries the shared
    * stamp forward so chained merges stay checkable.
    */
  def mergeHllStates(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "mergeHllStates needs at least one state")
    val all = states.reduce(_.unionByName(_))
    val prov = all.agg(
      min(col("hll_p")).as("__pmin"), max(col("hll_p")).as("__pmax"))
    all.groupBy(col("idx"))
      .agg(max(col("reg")).as("reg"))
      .crossJoin(broadcast(prov))
      .filter(assert_true(col("__pmin") === col("__pmax"),
        concat(lit("mergeHllStates: mixed hll_p geometry ["),
          col("__pmin"), lit(", "), col("__pmax"),
          lit("] — register indexes mean different hash prefixes"))).isNull)
      .select(col("idx"), col("reg"), col("__pmax").as("hll_p"))
  }

  /** Distinct-count estimate answered from a [[hllState]] — the standard
    * HLL read-out with the harmonic denominator kept INTEGER-EXACT: with
    * K = 61−p, Σⱼ 2^(−Mⱼ) is computed scaled by 2^K as
    * `z_scaled = Σ_occupied 2^(K−reg) + n_zero · 2^K` (a BIGINT ≤ 2^61 —
    * absent registers are rho 0), so the only floating-point steps are the
    * final constant-multiply/divide, bit-deterministic across engines.
    * `est_raw = α_m · m² · 2^K / z_scaled`; when est_raw ≤ 2.5m and zero
    * registers remain, the read-out switches to linear counting
    * `m · ln(m / n_zero)` (Flajolet et al.'s small-range correction) —
    * that branch's ln is the one library-function float in the family, so
    * `est` is rounded to 4 decimals and the exact rational inputs
    * (m, n_zero, z_scaled) ride alongside in the output for any consumer
    * that wants to re-derive at full precision. An EMPTY state answers
    * est = 0.0 (n_zero = m, the linear branch's fixed point), not a
    * silent non-row. The 60-bit hash makes HLL's large-range collision
    * correction (2^32-hash artifact) unnecessary.
    *
    * `p` must match the state's stamp — checked in-plan (assert_true in a
    * FILTER over the 1-row aggregate), failing loudly on a state built at
    * another precision.
    *
    * Scale shape: one aggregate over the ≤ 2^p-row state; the corpus is
    * never rescanned.
    *
    * @return one row: (m, n_zero, z_scaled, est_raw, method, est)
    */
  def distinctFromHllState(state: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 14, s"p must be in [4, 14], got $p")
    val m = 1L << p
    val kMax = 61 - p
    val alpha =
      if (p == 4) 0.673 else if (p == 5) 0.697 else if (p == 6) 0.709
      else 0.7213 / (1.0 + 1.079 / m.toDouble)
    val alphaMM = alpha * m.toDouble * m.toDouble
    val twoPowK = math.pow(2.0, kMax.toDouble)
    state
      .agg(
        count(lit(1)).as("__present"),
        coalesce(sum(expr(s"shiftleft(1L, $kMax - reg)")), lit(0L))
          .as("__z_present"),
        coalesce(min(col("hll_p")), lit(p)).as("__pmin"),
        coalesce(max(col("hll_p")), lit(p)).as("__pmax"))
      .filter(assert_true(col("__pmin") === lit(p) && col("__pmax") === lit(p),
        concat(lit("distinctFromHllState: state built at hll_p ["),
          col("__pmin"), lit(", "), col("__pmax"),
          lit(s"], read-out expected $p"))).isNull)
      .select(
        lit(m).as("m"),
        (lit(m) - col("__present")).cast("long").as("n_zero"),
        (col("__z_present") + (lit(m) - col("__present")) * lit(1L << kMax))
          .cast("long").as("z_scaled"))
      .withColumn("est_raw",
        lit(alphaMM) * lit(twoPowK) / col("z_scaled").cast("double"))
      .withColumn("method",
        when(col("est_raw") <= lit(2.5) * col("m").cast("double") &&
          col("n_zero") > 0, lit("linear")).otherwise(lit("raw")))
      .withColumn("est",
        when(col("method") === "linear",
          round(col("m").cast("double") *
            log(col("m").cast("double") / col("n_zero").cast("double")), 4))
          .otherwise(col("est_raw")))
  }

  /** Functional-dependency check (round 17): for each candidate
    * (determinant → dependent) column pair, does every determinant value
    * map to at most ONE dependent value — the schema-discovery question
    * behind key inference, denormalization audits, and "is this column
    * safe to drop after a join". One row per pair with the violation
    * COUNT and the worst key's fan-out, not just a boolean, so a 99.9%-FD
    * (one dirty row in a billion) is visible as exactly that.
    *
    * Semantics: rows with a NULL determinant are excluded (NULL
    * determines nothing); dependents are compared with COUNT(DISTINCT …)
    * semantics (NULLs ignored), so a key whose only dependent is NULL has
    * fan-out 0 and never violates. The FD holds iff no key has fan-out
    * > 1.
    *
    * Scale shape: per pair, ONE hash aggregate on the determinant (with
    * map-side partials) then a 1-row roll-up — never an all-pairs or a
    * distinct over the full projection; pairs union into one frame.
    *
    * @return (determinant, dependent, n_keys, n_violating_keys,
    *         max_fanout, fd_holds), one row per requested pair
    */
  def functionalDependencies(df: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "functionalDependencies needs at least one pair")
    pairs.map { case (a, b) =>
      df.filter(col(s"`$a`").isNotNull)
        .groupBy(col(s"`$a`").as("__k"))
        .agg(countDistinct(col(s"`$b`")).as("__nb"))
        .agg(count(lit(1)).as("n_keys"),
          coalesce(sum(when(col("__nb") > 1, lit(1L)).otherwise(lit(0L))),
            lit(0L)).as("n_violating_keys"),
          coalesce(max(col("__nb")), lit(0L)).as("max_fanout"))
        .select(lit(a).as("determinant"), lit(b).as("dependent"),
          col("n_keys"), col("n_violating_keys"), col("max_fanout"),
          (col("n_violating_keys") === 0).as("fd_holds"))
    }.reduce(_.unionByName(_))
  }

  /** Mergeable KMV (k-minimum-values / bottom-k) sketch state (round 17) —
    * the SET-OPERATION member of the persisted-sketch family, answering
    * what [[hllState]] cannot: overlap BETWEEN corpora. HLL registers
    * union cleanly but carry no intersection information; a KMV state is
    * the k smallest distinct hash values themselves (Bar-Yossef et al.'s
    * distinct-elements sketch; Beyer et al., SIGMOD'07 for the unbiased
    * estimator), and because two corpora's bottom-k sets share CONCRETE
    * hash values, the merged bottom-k is a uniform sample of the union on
    * which Jaccard — and so intersection size — is directly estimated.
    * The pipeline question it answers from kilobytes of persisted state:
    * "how much do these two sources overlap — is cross-corpus dedup even
    * worth scheduling?"
    *
    * Same md5-60 hash family as [[hllState]] (replayable bit-for-bit by
    * any engine), so the whole build/merge/estimate chain is STATIC SQL
    * under the driver gate. Merge is "bottom-k of the union of states" —
    * exact and order-independent (the k smallest of a union are always
    * contained in the union of per-shard k smallest), so merged shard
    * states equal the from-scratch state HASH-FOR-HASH, the family
    * property. Duplicates are free (hashes are DISTINCT'd).
    *
    * Scale shape: one distinct aggregate on the 1-column hash projection
    * (map-side partial), then TakeOrdered bottom-k (per-partition heads
    * merged, never a global sort); ≤ k rows out however large the corpus.
    *
    * @return (h, kmv_k), the k smallest distinct hash values plus the
    *         geometry stamp (the [[logBucketState]] idiom)
    */
  def kmvState(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 65536,
      s"k must be in [1, 65536], got $k — the state is a bounded frame")
    val h = conv(substring(md5(col(s"`$valueCol`").cast("string")), 1, 15),
      16, 10).cast("long")
    df.filter(col(s"`$valueCol`").isNotNull)
      .select(h.as("h")).distinct()
      .orderBy(col("h")).limit(k)
      .withColumn("kmv_k", lit(k))
  }

  /** Fold any number of [[kmvState]] frames built at the SAME k into the
    * state of the unioned corpora — bottom-k of the distinct union. `k` is
    * an explicit argument (the [[mergeMisraGriesStates]] idiom: the cut is
    * a plan constant, no hidden driver action), and every input row's
    * `kmv_k` stamp must equal it — checked in-plan via a broadcast 1-row
    * provenance aggregate in a FILTER (the [[mergeHllStates]] idiom): a
    * smaller-k state is a coarser sample, and treating it as k would bias
    * every estimate derived from the kth minimum.
    */
  def mergeKmvStates(k: Int, states: DataFrame*): DataFrame = {
    require(k >= 1 && k <= 65536, s"k must be in [1, 65536], got $k")
    require(states.nonEmpty, "mergeKmvStates needs at least one state")
    val all = states.reduce(_.unionByName(_))
    val prov = all.agg(
      coalesce(min(col("kmv_k")), lit(k)).as("__kmin"),
      coalesce(max(col("kmv_k")), lit(k)).as("__kmax"))
    all
      .crossJoin(broadcast(prov))
      .filter(assert_true(col("__kmin") === lit(k) && col("__kmax") === lit(k),
        concat(lit("mergeKmvStates: states built at kmv_k ["),
          col("__kmin"), lit(", "), col("__kmax"),
          lit(s"], expected $k — kth-minimum estimates would be biased"))).isNull)
      .select(col("h")).distinct()
      .orderBy(col("h")).limit(k)
      .withColumn("kmv_k", lit(k))
  }

  /** Cross-corpus overlap estimated from two [[kmvState]] frames — no
    * corpus rescan. The merged bottom-k (= the union's KMV state) is a
    * uniform size-≤k sample of the union's distinct hashes; the fraction
    * of it present in BOTH input states estimates the Jaccard similarity,
    * and `inter_est = jaccard_est · union_est` the intersection size
    * (Beyer et al.'s KMV set-operation estimators). When the union holds
    * FEWER than k distinct values the sketch has seen everything and
    * every figure is exact (`method = 'exact'`); otherwise the distinct-
    * count estimate is the unbiased (k−1)·2^60 / h_(k) over the 60-bit
    * hash domain. The only float ops are one multiply-divide chain —
    * bit-deterministic across engines, no library functions — so the p25
    * entry replays end-to-end in static DuckDB SQL.
    *
    * Both states' `kmv_k` stamps must equal `k` — enforced by the
    * [[mergeKmvStates]] call on the hot path (its in-plan assert feeds
    * every output column, so a mismatched state can never produce a row).
    *
    * @return one row: (k, n_a, n_b, n_union_topk, n_shared, jaccard_est,
    *         union_est, inter_est, method)
    */
  def kmvOverlap(stateA: DataFrame, stateB: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 65536, s"k must be in [1, 65536], got $k")
    val merged = mergeKmvStates(k, stateA, stateB)
    val shared = merged
      .join(stateA.select(col("h")), Seq("h"), "left_semi")
      .join(stateB.select(col("h")), Seq("h"), "left_semi")
      .agg(count(lit(1)).as("n_shared"))
    val na = stateA.agg(count(lit(1)).as("n_a"))
    val nb = stateB.agg(count(lit(1)).as("n_b"))
    val twoPow60 = 1152921504606846976.0
    merged
      .agg(count(lit(1)).as("n_union_topk"), max(col("h")).as("__kth"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(shared))
      .withColumn("method",
        when(col("n_union_topk") < k, lit("exact")).otherwise(lit("estimate")))
      .withColumn("jaccard_est",
        when(col("n_union_topk") === 0, lit(0.0))
          .otherwise(col("n_shared").cast("double") /
            col("n_union_topk").cast("double")))
      .withColumn("union_est",
        when(col("method") === "exact", col("n_union_topk").cast("double"))
          .otherwise(lit((k - 1).toDouble * twoPow60) / col("__kth").cast("double")))
      .withColumn("inter_est", col("jaccard_est") * col("union_est"))
      .select(lit(k).as("k"), col("n_a"), col("n_b"), col("n_union_topk"),
        col("n_shared"), col("jaccard_est"), col("union_est"),
        col("inter_est"), col("method"))
  }

  /** Persisted Misra–Gries shard state: the ≤k-counter summary of one
    * shard, as (item, cnt) ROWS a pipeline can write next to the shard
    * (the [[numericProfileState]] discipline applied to the heavy-hitters
    * sketch). Each shard is sketched ONCE, at ingest; any later global
    * heavy-hitters question folds the persisted states via
    * [[mergeMisraGriesStates]] without re-reading shard data. One total
    * aggregation (k·partitions map entries on the shuffle, never the
    * NDV histogram), ≤k output rows however large the shard.
    */
  def misraGriesState(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 4096,
      s"k must be in [1, 4096], got $k — the summary is a driver-sized map")
    import org.apache.spark.sql.functions.udaf
    val rows = df.filter(col(s"`$valueCol`").isNotNull)
      .select(col(s"`$valueCol`").cast("string").as("__v"))
    val agg = udaf(new graft.functions.MisraGriesAggregator(k),
      org.apache.spark.sql.Encoders.STRING)
    rows.agg(agg(col("__v")).as("__m"))
      .select(explode(map_entries(coalesce(col("__m"),
        map().cast("map<string,bigint>")))).as("__e"))
      .select(col("__e.key").as("item"), col("__e.value").as("cnt"))
  }

  /** Fold any number of [[misraGriesState]] frames (built with the SAME
    * k) into the MG summary of the unioned shards — the Mergeable
    * Summaries merge (Agarwal et al., PODS'12) expressed as column
    * algebra over state ROWS: sum counts per item, and if more than k
    * items survive, subtract the (k+1)-th largest summed count from all
    * and keep the positive — at most k can exceed that cut, and the
    * subtraction adds the inputs' error bounds, preserving the combined
    * n/(k+1) one-sided guarantee (every item whose TRUE total count
    * exceeds n/(k+1) is present in the merged state, whatever the merge
    * order). The cut is derived in-plan from a collect_list over the
    * ≤ k·shards summed rows — bounded by construction, never data-sized.
    */
  def mergeMisraGriesStates(k: Int, states: DataFrame*): DataFrame = {
    require(k >= 1 && k <= 4096, s"k must be in [1, 4096], got $k")
    require(states.nonEmpty, "mergeMisraGriesStates needs at least one state")
    val summed = states.reduce(_.unionByName(_))
      .groupBy(col("item")).agg(sum(col("cnt")).cast("long").as("cnt"))
    // (k+1)-th largest summed count, 0 when ≤ k items survive the sum —
    // guarded when() so the out-of-bounds element_at never evaluates
    // (ANSI mode errors on it rather than returning NULL)
    val cut = summed.agg(
      when(count(lit(1)) <= k, lit(0L))
        .otherwise(element_at(reverse(array_sort(collect_list(col("cnt")))), k + 1))
        .as("__cut"))
    summed.crossJoin(broadcast(cut))
      .filter(col("cnt") > col("__cut"))
      .select(col("item"), (col("cnt") - col("__cut")).as("cnt"))
  }

  /** Exact heavy hitters from PERSISTED shard states — the
    * [[frequentItems]] result (same column, same k, same exact counts and
    * shares) computed without re-sketching: the merged state's ≤k items
    * are the candidate set, and one confirm pass over the corpus (a
    * broadcast semi-join on the tiny candidate frame) counts exactly the
    * survivors, keeping those with cnt·(k+1) > n. The merged guarantee
    * makes this EQUAL to the from-scratch answer: no true heavy hitter
    * can be missing from the merged candidates, and the exact threshold
    * discards any extras — so the p20 entry hash-matches p15's plain
    * exact SQL oracle.
    *
    * What the states buy at scale: the sketch pass over each shard runs
    * once at ingest; a monthly "global heavy hitters" question reads
    * k·shards state rows plus ONE candidate-filtered counting scan,
    * instead of re-aggregating every shard's value column.
    */
  def frequentItemsFromStates(corpus: DataFrame, valueCol: String, k: Int,
      states: DataFrame*): DataFrame = {
    require(k >= 1 && k <= 4096, s"k must be in [1, 4096], got $k")
    val merged = mergeMisraGriesStates(k, states: _*)
    val rows = corpus.filter(col(s"`$valueCol`").isNotNull)
      .select(col(s"`$valueCol`").cast("string").as("__v"))
    val n = rows.count()
    val counts = rows
      .join(broadcast(merged.select(col("item").as("__v"))), Seq("__v"), "left_semi")
      .groupBy(col("__v")).agg(count(lit(1)).as("cnt"))
    counts.filter(col("cnt") * (k + 1) > lit(n))
      .select(col("__v").as(valueCol), col("cnt"),
        (col("cnt").cast("double") / lit(n)).as("share"))
  }

  /** Collapse a profile state to the one-row corpus profile — count,
    * null count, mean, population variance, extrema — WITHOUT touching
    * the corpus: Σ and Σ² over the handful of bucket rows. Variance via
    * E[v²] − E[v]² on exactly-known integer sums (the only fp ops are
    * divisions of exact decimals — deterministic IEEE); NULL when no
    * non-null values exist.
    */
  def profileFromState(state: DataFrame): DataFrame = {
    val nonNull = when(col("bucket") >= 0, col("n"))
    state.agg(
        sum(col("n")).cast("long").as("n_total"),
        sum(when(col("bucket") === -1, col("n")).otherwise(lit(0L)))
          .cast("long").as("n_null"),
        sum(nonNull).cast("long").as("__nv"),
        sum(col("sum_v")).cast(DecimalType(38, 0)).as("__s"),
        sum(col("sumsq_v")).cast(DecimalType(38, 0)).as("__s2"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
      .select(col("n_total"), col("n_null"),
        (col("__s").cast("double") / col("__nv")).as("mean"),
        (col("__s2").cast("double") / col("__nv") -
          (col("__s").cast("double") / col("__nv")) *
          (col("__s").cast("double") / col("__nv"))).as("variance"),
        col("min_v"), col("max_v"))
  }

  /** Per-SEMANTIC-CLUSTER curation profile (round 18): what is actually
    * IN each embedding cluster — the question a curation pass asks right
    * after [[graft.operators.Similarity.kmeansDistributed]] partitions a
    * corpus into semantic regions: how many documents, how much text
    * mass, how many distinct sources feed the region, and which language
    * dominates it. Clusters that are single-source, single-language, or
    * tiny are the ones a mixture rebalance (x09/x12) acts on.
    *
    * Scale shape: one doc↔assignment equi-join (the assignment side is
    * ids+cells only — a sliver that broadcasts when cells come from a
    * sampled or distributed k-means either way), then two cell-keyed
    * aggregates; the dominant language is an exact per-(cell, lang)
    * count with the (count DESC, lang ASC) tie rule stated in the
    * result's contract, never a sampled mode.
    *
    * @param assigned (vec_id, cell) from [[graft.operators.Similarity.kmeansAssign]]
    * @return (cell, n_docs, total_chars, n_sources, top_lang)
    */
  def semanticClusterProfile(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, assigned: DataFrame): DataFrame = {
    val joined = docs.join(
        assigned.select(col("vec_id").as("__doc"), col("cell")),
        col(idCol) === col("__doc"))
      .withColumn("__lang", TextOps.langId(col(textCol)))
    val stats = joined.groupBy(col("cell")).agg(
      count(lit(1)).as("n_docs"),
      // DECIMAL sum -> exact, order-independent; cast to long for the
      // engine-agnostic result type
      sum(length(col(textCol)).cast(DecimalType(38, 0))).cast("long").as("total_chars"),
      countDistinct(col(sourceCol)).as("n_sources"))
    val top = joined.groupBy(col("cell"), col("__lang"))
      .agg(count(lit(1)).as("__ln"))
      .groupBy(col("cell"))
      // min over (-count, lang): largest count first, ties to the
      // lexicographically smallest language — deterministic mode
      .agg(min(struct((-col("__ln")).as("n"), col("__lang").as("l"))).as("__t"))
      .select(col("cell"), col("__t.l").as("top_lang"))
    stats.join(top, "cell")
  }
}
