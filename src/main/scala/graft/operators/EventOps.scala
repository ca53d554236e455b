package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-stream analytics beyond windowed aggregation: ordered-funnel
  * progression (the "how far did each user get" question every product
  * analytics pipeline asks).
  */
object EventOps {

  /** Hourly volume spike detection: flag (type, hour) buckets whose count
    * exceeds the trailing `window`-hour mean by more than `z` standard
    * deviations — the monitoring primitive behind ingest anomaly alerts.
    *
    * The z-score gate is evaluated in EXACT INTEGER arithmetic:
    * `n > μ + z·σ` over the trailing counts is algebraically
    * `(W·n − S)² > z²·(W·SS − S²)` with S = Σx, SS = Σx² — no division,
    * no sqrt, no floating point, so the flag decision is bit-identical on
    * every engine (a fp σ puts boundary buckets at the mercy of libm).
    * Zero trailing variance degenerates to "flag any increase", the
    * correct z→∞ limit. Longs are exact here up to hourly counts of
    * ~1.2e8 at W=24 (the squares stay under 2⁶³); past that, cast the
    * factors to DECIMAL(38,0).
    *
    * Scale shape: one (type, hour) aggregation with map-side partials,
    * then a per-type ordered window over the HOURLY frame — whose size is
    * hours·types, not events — so the window cost is negligible at any
    * event volume. Buckets with fewer than `window` trailing hours are
    * not judged (partial baselines flag noise). Trailing hours are the
    * previous `window` OBSERVED hours (rows), so gaps in a sparse stream
    * stretch the baseline — the standard rows-frame caveat.
    *
    * @return (event_type, hour, n) for flagged buckets
    */
  def spikes(events: DataFrame, typeCol: String, tsCol: String,
      window: Int = 24, z: Int = 3): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(z >= 1, s"z must be >= 1, got $z")
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .groupBy(col(typeCol).as("event_type"), date_trunc("hour", col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
    val tw = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-window, -1)
    val dev = col("n") * window - col("s")
    hourly
      .withColumn("s", sum(col("n")).over(tw))
      .withColumn("ss", sum(col("n") * col("n")).over(tw))
      .withColumn("cnt", count(col("n")).over(tw))
      .filter(col("cnt") === window)
      .filter(dev > 0 && dev * dev > lit(z.toLong * z) * (col("ss") * window - col("s") * col("s")))
      .select(col("event_type"), col("hour"), col("n"))
  }

  /** Event-type transition matrix (first-order Markov counts): how often
    * each user's stream moves type A → type B between CONSECUTIVE events
    * — the navigation/behavior fingerprint behind session-flow analysis
    * and anomaly detection (a transition that never occurred before is a
    * bot signature).
    *
    * One per-user LAG window (ordered by (ts, idCol) — the unique
    * tiebreaker makes simultaneous events deterministic), then one count
    * aggregation on (from, to). The window partitions on the user key, so
    * both shuffles are ordinary hash exchanges; output is |types|² rows.
    *
    * @return (from_type, to_type, n) for transitions that occurred
    */
  def transitionMatrix(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events.filter(col(tsCol).isNotNull)
      .select(col(userCol), col(typeCol).as("to_type"), col(tsCol), col(idCol))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** In-sample next-event prediction accuracy of the first-order Markov
    * model [[transitionMatrix]] estimates — the measured-claims
    * discipline (d08/d09 recall, d30 estimator error) applied to event
    * modeling: "if the pipeline predicted each next event as the most
    * frequent successor of the current one, how often would it be
    * right?" Per from-type: the argmax successor (ties to the
    * lexicographically smallest type — deterministic on any engine), the
    * observation count, and the hit rate. The per-type accuracy IS the
    * diagnosis: a type whose accuracy ~ its top successor share says the
    * chain is memoryless there; higher says structure.
    *
    * In-sample by design (model trained on the same stream it scores) —
    * the drift-free baseline number; a production monitor feeds a split.
    *
    * Scale shape: one per-user ordered window builds the (from, to)
    * observation stream (the only per-event pass, same (ts, id) tie
    * order as [[transitionMatrix]]); the model and the argmax pick live
    * on the types²-bounded transition frame; scoring is a broadcast join
    * of that tiny frame back onto the observations + one aggregate.
    *
    * @return (from_type, predicted, n_obs, n_correct, accuracy)
    */
  def transitionAccuracy(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events.filter(col(tsCol).isNotNull)
      .select(col(userCol), col(typeCol).as("to_type"), col(tsCol), col(idCol))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    val pred = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("from_type"))
      .agg(min(struct((-col("__n")).as("nn"), col("to_type").as("t"))).as("__p"))
      .select(col("from_type"), col("__p.t").as("predicted"))
    pairs.join(broadcast(pred), "from_type")
      .groupBy(col("from_type"), col("predicted"))
      .agg(count(lit(1)).as("n_obs"),
        count(when(col("to_type") === col("predicted"), lit(1))).as("n_correct"))
      .select(col("from_type"), col("predicted"), col("n_obs"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_obs")).as("accuracy"))
  }

  /** Time-series resampling with forward fill: per key, a dense hourly
    * grid from the key's first to last observed hour, each grid hour
    * carrying the hour's event count (0 in gaps) and the most recent
    * observed hourly value (`last(_, ignoreNulls)` running forward) — the
    * gap-fill step ahead of any fixed-step feature/training pipeline over
    * irregular event streams.
    *
    * Determinism discipline: the per-hour value is `max(value)` (pure
    * comparison — no order-dependent float summation) and fills are
    * CARRIED, never recomputed, so every output double is bit-identical
    * on any engine reading the same parquet. Scale shape: one (key, hour)
    * aggregation over the events; everything after runs on the HOURLY
    * frame (size = keys x span-hours, independent of event volume) — the
    * span aggregate, the sequence-explode grid, the grid⋈hourly equi-join
    * and the per-key fill window all live on that reduced frame.
    */
  def gapFillHourly(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events.filter(col(tsCol).isNotNull)
      .groupBy(col(userCol).as("user_id"), date_trunc("hour", col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("__n"), max(col(valueCol)).as("__vh"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("__h0"), max(col("hour")).as("__h1"))
      .select(col("user_id"),
        explode(sequence(col("__h0"), col("__h1"), expr("interval 1 hour"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("__n"), lit(0L)).as("n_events"),
        last(col("__vh"), ignoreNulls = true).over(w).as("v_fill"))
  }

  /** Rolling `windowDays`-day event volume per key: daily counts, then a
    * RANGE value frame over the integer day number — `RANGE BETWEEN d-1
    * PRECEDING AND CURRENT ROW` on day numbers is calendar-correct under
    * gaps (a missing day contributes nothing but still ages out of the
    * frame), where a ROWS frame would silently stretch across them.
    *
    * Scale shape: one (key, day) aggregation with map-side partials
    * reduces the event stream to the keys×days frame; the window runs on
    * that reduced frame (independent of event volume), partitioned by
    * key so no global sort exists. Counts are integers — the rolling sum
    * is exact, no fp summation order to pin.
    *
    * @return (key, day, n, n_window) one row per observed (key, day)
    */
  def rollingDaily(events: DataFrame, keyCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    import org.apache.spark.sql.expressions.Window
    val daily = events.filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__daynum", datediff(col("day"), to_date(lit("1970-01-01"))))
    val w = Window.partitionBy(col("key")).orderBy(col("__daynum"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily.select(col("key"), col("day"), col("n"),
      sum(col("n")).over(w).as("n_window"))
  }

  /** Distinct (user, epoch-day) frame — the shared first stage of every
    * sliding-active-window derivation: ONE shuffle with map-side partials
    * reduces the raw event stream to its per-user activity calendar.
    */
  private def distinctUserDays(events: DataFrame, userCol: String,
      tsCol: String): DataFrame =
    events.filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"),
        datediff(date_trunc("day", col(tsCol)), to_date(lit("1970-01-01"))).as("__d"))
      .distinct()

  /** Sliding `windowDays`-day distinct active users per day (the WAU/MAU
    * curve, exactly). Distinct-over-a-sliding-frame has no window-function
    * form, and per-day COUNT(DISTINCT) over a self-joined range is an
    * inequality join; instead each (user, active-day) CONTRIBUTES itself
    * to the `windowDays` days it keeps the user active — a bounded
    * explode (×windowDays), then distinct + count.
    *
    * Scale shape: the event stream reduces to distinct (user, day) FIRST
    * (one shuffle, map-side partials); everything after runs on that
    * frame × windowDays. Exact, not a sketch; for very large windows
    * (365-day MAU at daily grain) the ×window expansion is the cost to
    * weigh against an approx_count_distinct-per-day two-pass.
    *
    * @return (day, n_active) for every day in the stream's [min, max] span
    */
  def slidingActiveUsers(events: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val userDays = distinctUserDays(events, userCol, tsCol)
    val bounds = userDays.agg(min(col("__d")).as("__dmin"), max(col("__d")).as("__dmax"))
    userDays
      .select(col("__u"), explode(sequence(col("__d"),
        col("__d") + (windowDays - 1))).as("__day"))
      .crossJoin(broadcast(bounds))
      .filter(col("__day") <= col("__dmax"))
      .select(col("__u"), col("__day")).distinct()
      .groupBy(col("__day"))
      .agg(count(lit(1)).as("n_active"))
      .select(date_add(to_date(lit("1970-01-01")), col("__day").cast("int")).as("day"),
        col("n_active"))
  }

  /** DAU/MAU stickiness per day — "what fraction of the monthly audience
    * shows up daily", the engagement-quality ratio a raw DAU curve hides
    * (growth by churn-and-replace and growth by habit look identical in
    * DAU alone). Composes [[slidingActiveUsers]] at both grains (short =
    * DAU, long = MAU) and joins on day; the ratio is one fp division of
    * the two exact distinct counts. Days inside the first `longDays − 1`
    * of the stream carry a partial long window (the honest value — there
    * is no earlier data), exactly as the two curves would report
    * separately.
    *
    * @return (day, n_short, n_long, stickiness)
    */
  def stickiness(events: DataFrame, userCol: String, tsCol: String,
      shortDays: Int = 1, longDays: Int = 30): DataFrame = {
    require(shortDays >= 1 && longDays > shortDays,
      s"need longDays > shortDays >= 1, got short=$shortDays long=$longDays")
    // Single scan, single explode: both grains derive from ONE distinct
    // (user, day) frame. An active day d keeps a user long-active on day
    // D iff D − d < longDays, and short-active iff D − d < shortDays —
    // so the long-grain contribution explode, keeping min(D − d) per
    // (user, D), decides BOTH memberships in one pass instead of running
    // the scan + distinct + explode pipeline once per grain.
    val userDays = distinctUserDays(events, userCol, tsCol)
    val bounds = userDays.agg(max(col("__d")).as("__dmax"))
    userDays
      .select(col("__u"), col("__d"),
        explode(sequence(col("__d"), col("__d") + (longDays - 1))).as("__day"))
      .crossJoin(broadcast(bounds))
      .filter(col("__day") <= col("__dmax"))
      .groupBy(col("__u"), col("__day"))
      .agg(min(col("__day") - col("__d")).as("__off"))
      .groupBy(col("__day"))
      .agg(count(lit(1)).as("n_long"),
        count(when(col("__off") < shortDays, lit(1))).as("n_short"))
      // active-days-only contract: a day in the long window's filled span
      // with no short-window activity is not a stickiness row (the old
      // short-side inner join dropped it; n_short = 0 is the same set)
      .filter(col("n_short") > 0)
      .select(date_add(to_date(lit("1970-01-01")), col("__day").cast("int")).as("day"),
        col("n_short"), col("n_long"),
        (col("n_short").cast("double") / col("n_long")).as("stickiness"))
  }

  /** Per-user funnel depth over an ordered step list: depth d means the
    * user's FIRST occurrences of steps 0..d-1 happen in strictly
    * increasing time order (a purchase before the first click does not
    * count as a completed click→purchase).
    *
    * ONE aggregation pass: min-timestamp-per-step via conditional
    * aggregation (no per-step joins, no window), then a codegen'd chained
    * comparison — one shuffle on the user key regardless of step count,
    * the shape that holds at 100 TB of events.
    *
    * @return (userCol, funnel_depth) — depth in 0..steps.length
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: $steps")
    val aggs = steps.zipWithIndex.map { case (s, i) =>
      min(when(col(typeCol) === s, col(tsCol))).as(s"__t$i")
    }
    val perUser = events.groupBy(col(userCol)).agg(aggs.head, aggs.tail: _*)
    // ok(i) ⇒ ok(i-1), so the last taken branch is the deepest prefix
    val depth = steps.indices.foldLeft(lit(0)) { (acc, i) =>
      val ordered = (0 to i).map(j => col(s"__t$j").isNotNull).reduce(_ && _) &&
        (1 to i).map(j => col(s"__t${j - 1}") < col(s"__t$j"))
          .foldLeft(lit(true))(_ && _)
      when(ordered, lit(i + 1)).otherwise(acc)
    }
    perUser.select(col(userCol), depth.as("funnel_depth"))
  }

  /** Cohort retention matrix: users are cohorted by the week of their
    * FIRST `cohortStep` event, and counted as retained in week offset k if
    * they have ANY event in the k-th week after that — the standard
    * "week-0 signup, week-k activity" product-analytics table.
    *
    * Two aggregation passes, both on the user key (one shuffle each, the
    * second on the already-small distinct (cohort, offset, user) set):
    * cohort assignment is a conditional min like [[funnel]]'s, activity
    * weeks dedupe per user before counting, and offsets are integral
    * day-diffs `div` 7 — never fp. Users with no cohort event are
    * excluded (they belong to no cohort), and pre-cohort activity
    * (negative offsets) is dropped.
    *
    * @return (cohort_week DATE, week_offset INT, n_users BIGINT)
    */
  def retention(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, cohortStep: String): DataFrame = {
    val cohorts = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(when(col(typeCol) === cohortStep, col(tsCol))))
        .as("__cohort"))
      .filter(col("__cohort").isNotNull)
    events.select(col(userCol), date_trunc("week", col(tsCol)).as("__week"))
      .join(cohorts, userCol)
      .withColumn("week_offset",
        expr("CAST(datediff(__week, __cohort) div 7 AS INT)"))
      .filter(col("week_offset") >= 0)
      .select(col("__cohort").cast("date").as("cohort_week"),
        col("week_offset"), col(userCol))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohort lifetime-value curve — [[retention]]'s sibling on the money
    * axis: users cohorted by the week of their first `cohortStep` event,
    * then each cohort's CUMULATIVE `revenueStep` value per week-of-age,
    * divided by cohort size — the "how much has an average week-N signup
    * spent by age k" curve payback-period decisions read. Same week
    * conventions as [[retention]] (Monday-truncated weeks; the offset
    * division is exact because both ends are week-truncated, so
    * truncation and floor agree).
    *
    * Determinism: revenue accumulates as exact DECIMAL(12,2) sums
    * (order-independent) through both the weekly aggregate and the
    * per-cohort cumulative window; the only fp is the final cast and the
    * per-user division. Observed-offsets-only contract (a week with zero
    * revenue is absent; the cumulative value carries across the gap
    * regardless) — compose with a gap-fill for dense curves.
    *
    * Scale shape: one per-user cohort aggregate, one (cohort, offset)
    * revenue aggregate, and a window over the cohorts×ages frame — never
    * the raw event stream; cohort sizes join broadcast.
    *
    * @return (cohort_week, week_offset, n_users, cum_revenue, ltv)
    */
  def cohortLtv(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, valueCol: String, cohortStep: String,
      revenueStep: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val cohorts = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(when(col(typeCol) === cohortStep, col(tsCol))))
        .as("__cohort"))
      .filter(col("__cohort").isNotNull)
    val sizes = cohorts.groupBy(col("__cohort")).agg(count(lit(1)).as("n_users"))
    val weekly = events
      .filter(col(typeCol) === revenueStep && col(valueCol).isNotNull
        && col(tsCol).isNotNull)
      .select(col(userCol), date_trunc("week", col(tsCol)).as("__week"),
        col(valueCol).cast(DecimalType(12, 2)).as("__v"))
      .join(cohorts, userCol)
      .withColumn("week_offset", expr("CAST(datediff(__week, __cohort) div 7 AS INT)"))
      .filter(col("week_offset") >= 0)
      .groupBy(col("__cohort"), col("week_offset"))
      .agg(sum(col("__v")).as("__wr"))
    val cum = Window.partitionBy(col("__cohort")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("__cr", sum(col("__wr")).over(cum))
      .join(broadcast(sizes), "__cohort")
      .select(col("__cohort").cast("date").as("cohort_week"), col("week_offset"),
        col("n_users"), col("__cr").cast("double").as("cum_revenue"),
        (col("__cr").cast("double") / col("n_users")).as("ltv"))
  }

  /** Event-type co-occurrence lift within users: for each unordered pair
    * of event types, `lift = P(a,b) / (P(a)·P(b))` over the per-user
    * presence sets — the association-rules primitive ("users who do a
    * also do b") behind feature-adoption and market-basket analysis.
    * Lift > 1 means the pair co-occurs more than independence predicts.
    *
    * Deliberately lift, not PMI: PMI is `ln lift` — same ordering, but
    * the `ln` puts libm between engines ([[Profile.categoricalDrift]]'s
    * argument). Lift is a rational function of exact integer counts:
    * `(n_ab · n_users) / (n_a · n_b)` computed as one fixed double tree.
    *
    * Scale shape: one (user, type) distinct aggregate collapses event
    * volume FIRST; the pair join is per-user over each user's distinct
    * TYPES (bounded by the type vocabulary, never by event count), then
    * one pair aggregate. Type totals ride a broadcast-sized frame.
    *
    * @return (type_a, type_b, n_a, n_b, n_ab, lift) with type_a < type_b
    */
  def cooccurrenceLift(events: DataFrame, userCol: String, typeCol: String): DataFrame = {
    val u = col(s"`$userCol`")
    val t = col(s"`$typeCol`")
    val present = events.filter(u.isNotNull && t.isNotNull)
      .select(u.as("__u"), t.as("__t")).distinct()
    val nUsers = present.select(col("__u")).distinct().count()
    val totals = present.groupBy(col("__t")).agg(count(lit(1)).as("__n"))
    val a = present.select(col("__u"), col("__t").as("type_a"))
    val b = present.select(col("__u"), col("__t").as("type_b"))
    val pairs = a.join(b, "__u").filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(totals.select(col("__t").as("type_a"), col("__n").as("n_a"))), "type_a")
      .join(broadcast(totals.select(col("__t").as("type_b"), col("__n").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_ab"),
        ((col("n_ab") * lit(nUsers)).cast("double") / (col("n_a") * col("n_b")))
          .as("lift"))
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands pattern: distinct active days, then `day −
    * row_number` as the island anchor (consecutive days share an anchor,
    * a gap starts a new one), then max island size. The engagement metric
    * behind every retention dashboard.
    *
    * Scale shape: one (user, day) distinct aggregate (map-side partials
    * collapse the per-day event volume FIRST, so the window frame is
    * active-days-sized, never event-sized), a per-user ordered window
    * (users in parallel), and two stacked aggregates. All integer date
    * arithmetic — bit-identical on any engine.
    *
    * @return (user, n_active_days, longest_streak)
    */
  def longestStreak(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    val days = events.filter(u.isNotNull && ts.isNotNull)
      .select(u.as("__u"), to_date(ts).as("__day")).distinct()
    val w = Window.partitionBy(col("__u")).orderBy(col("__day"))
    days
      .withColumn("__anchor", date_sub(col("__day"), row_number().over(w)))
      .groupBy(col("__u"), col("__anchor"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col("__u").as(userCol))
      .agg(sum(col("__len")).cast("long").as("n_active_days"),
        max(col("__len")).cast("long").as("longest_streak"))
  }

  /** Conversion-latency distribution: for each user whose first `fromType`
    * event is followed (at or after it) by a `toType` event, the
    * whole-second latency between the first `fromType` and the first
    * qualifying `toType`, bucketed into fixed bands — the time-to-convert
    * histogram behind activation dashboards. "First purchase at-or-after
    * first signup" is computed honestly: a purchase BEFORE the signup
    * neither converts the user nor blocks a later purchase from counting.
    *
    * Scale shape: one per-user aggregate for the first `fromType`, one
    * key-hash join of `toType` events against that (user-count-sized)
    * frame, one per-user min, one band aggregate — all map-side-partial,
    * no window. Latency is integer seconds (`unix_timestamp` floors ≡
    * second-boundary datediff), bands are integer CASE cuts: every
    * boundary decision is bit-identical cross-engine.
    *
    * @return (band, n_users)
    */
  def conversionLatency(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, fromType: String, toType: String): DataFrame = {
    require(fromType != toType, s"fromType and toType must differ, got '$fromType'")
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    val origin = events.filter(col(s"`$typeCol`") === fromType && ts.isNotNull && u.isNotNull)
      .groupBy(u.as("__u")).agg(min(ts).as("__t0"))
    val conv = events.filter(col(s"`$typeCol`") === toType && ts.isNotNull && u.isNotNull)
      .select(u.as("__u"), ts.as("__t1"))
      .join(origin, "__u")
      .filter(col("__t1") >= col("__t0"))
      // __t0 is functionally dependent on the group key __u, so first()
      // is deterministic here
      .groupBy(col("__u"))
      .agg((unix_timestamp(min(col("__t1"))) - unix_timestamp(first(col("__t0"))))
        .as("__lat"))
    conv.select(
      when(col("__lat") < 3600L, "0_lt_1h")
        .when(col("__lat") < 86400L, "1_1h_24h")
        .when(col("__lat") < 604800L, "2_1d_7d")
        .otherwise("3_ge_7d").as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_users"))
  }

  /** Daily peak concurrency: the maximum number of simultaneously-active
    * presence intervals per day, where each event opens [ts, ts+ttlSec) —
    * the "how many users were on at once" capacity metric. Classic sweep
    * line: every interval contributes a +1 point at its start and a −1 at
    * its end, and peak = max running sum over the points in time order.
    *
    * Scale shape: the sweep is partitioned BY DAY — intervals are clamped
    * to the midnight following their start (an event's presence is
    * attributed to the day it happened), so each day's running sum rides
    * `Window.partitionBy(day)` and days proceed in parallel; no global
    * ordered window exists. Per-task unit is one day's points (2× that
    * day's events). For a day whose event count itself overwhelms a task,
    * the same construction nests: split days into fixed sub-ranges,
    * sweep each, and stitch with the block-offset prefix trick
    * (`Profile.distributedPrefixSum`).
    *
    * Determinism: ties at the same instant order −1 before +1 (interval
    * ends are exclusive, so a departure at t and an arrival at t never
    * overlap), pinned by ORDER BY (t, delta) with a ROWS frame — under a
    * RANGE frame (some engines' default) tied rows would collapse into
    * one step and under-report the peak. Equal (t, delta) rows commute:
    * any order yields the same set of partial sums, so max is stable.
    *
    * @return (day, n_events, peak)
    */
  def peakConcurrency(events: DataFrame, tsCol: String, ttlSec: Int = 300): DataFrame = {
    require(ttlSec >= 1, s"ttlSec must be >= 1, got $ttlSec")
    import org.apache.spark.sql.expressions.Window
    val ts = col(s"`$tsCol`")
    val e = events.filter(ts.isNotNull)
      .select(to_date(ts).as("day"), ts.as("t0"))
    val nextMidnight = date_add(col("day"), 1).cast("timestamp")
    val pts = e.select(col("day"), col("t0").as("t"), lit(1).as("delta"))
      .unionAll(e.select(col("day"),
        least(col("t0") + expr(s"INTERVAL $ttlSec SECONDS"), nextMidnight).as("t"),
        lit(-1).as("delta")))
    val sweep = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("c", sum(col("delta")).over(sweep))
      .groupBy(col("day"))
      .agg((count(lit(1)) / 2).cast("long").as("n_events"), max(col("c")).cast("long").as("peak"))
  }

  /** Inter-arrival time distribution: the gap in WHOLE SECONDS between a
    * user's consecutive events, bucketed into fixed human-scale bands —
    * the latency histogram behind bot detection (sub-second bursts),
    * session-timeout calibration, and engagement profiling.
    *
    * Determinism: gaps are `unix_timestamp` floor-of-seconds differences
    * (≡ any engine's second-boundary-crossing datediff), the ordering
    * within a user breaks ts ties on the unique event id, and buckets are
    * integer CASE bands — no floating point anywhere, so the whole result
    * is bit-identical across engines.
    *
    * Scale shape: one hash-partitioned window per user (the same shuffle
    * a sessionize needs — users are independent, the window parallelizes
    * across them), then one small aggregate over at most six bucket rows
    * with map-side partials. No global sort, no self-join.
    *
    * @return (bucket, n_gaps, n_users) — n_users = distinct users with a
    *         gap in that band, deduped via a two-level aggregate
    */
  def interArrivalBuckets(events: DataFrame, userCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gap = unix_timestamp(col(tsCol)) - unix_timestamp(lag(col(tsCol), 1).over(w))
    val bucket = when(col("__gap") < 1, "0_lt_1s")
      .when(col("__gap") < 10, "1_1s_10s")
      .when(col("__gap") < 60, "2_10s_1m")
      .when(col("__gap") < 600, "3_1m_10m")
      .when(col("__gap") < 3600, "4_10m_1h")
      .otherwise("5_ge_1h")
    events.filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), gap.as("__gap"))
      .filter(col("__gap").isNotNull)
      .select(col("__u"), bucket.as("bucket"))
      .groupBy(col("bucket"), col("__u")).agg(count(lit(1)).as("__n"))
      .groupBy(col("bucket"))
      .agg(sum(col("__n")).as("n_gaps"), count(lit(1)).as("n_users"))
  }

  /** One-sided CUSUM drift detection over daily counts per event type —
    * the SUSTAINED-shift complement of [[spikes]]' single-bucket z-test:
    * a slow creep that never spikes any one day accumulates in
    * S_i = max(0, S_{i−1} + (x_i − mean)) until it crosses the decision
    * threshold `z · mean`.
    *
    * The recurrence looks un-windowable, but has the classic closed form
    * S_i = P_i − min(0, min_{j≤i} P_j) with P the prefix sum of
    * deviations — two running windows, both partitioned by type.
    * INTEGER-EXACT throughout: deviations are scaled by n_days
    * (dev = x·n_days − total avoids the fp mean entirely), so cusum and
    * the threshold compare (cusum > z · total · 1 ≡ S_real > z · mean)
    * are pure BIGINT arithmetic, bit-replayable on any engine.
    *
    * Scale shape: one day-grain pre-aggregation off the raw stream, then
    * all three windows share ONE per-type exchange over day rows
    * (≤ a few thousand per type) — the raw event volume is never
    * windowed. Reference mean = the type's full-period mean; for a
    * production monitor feed a fixed baseline period instead.
    *
    * @return (event_type, day, n, cusum, drift) — `cusum` in count·n_days
    *   units; `drift` true where the scaled statistic exceeds z · total
    */
  def cusumDrift(events: DataFrame, typeCol: String, tsCol: String,
      z: Int = 3): DataFrame = {
    require(z >= 1, s"z must be >= 1, got $z")
    import org.apache.spark.sql.expressions.Window
    val daily = events.filter(col(tsCol).isNotNull)
      .groupBy(col(typeCol).as("event_type"), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type"))
    val ordered = byType.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("__nd", count(lit(1)).over(byType))
      .withColumn("__tot", sum(col("n")).over(byType))
      .withColumn("__p", sum(col("n") * col("__nd") - col("__tot")).over(ordered))
      .withColumn("cusum", col("__p") - least(lit(0L), min(col("__p")).over(ordered)))
      .select(col("event_type"), col("day"), col("n"), col("cusum"),
        (col("cusum") > lit(z.toLong) * col("__tot")).as("drift"))
  }

  /** Changepoint localization — the actionable end of [[cusumDrift]]'s
    * curve: per event type, the DAY the sustained shift most plausibly
    * began (the CUSUM maximizer; ties break to the earliest day via the
    * min-of-(−cusum, day)-struct idiom), its peak statistic, and whether
    * the drift gate fired anywhere. "Volume shifted" (s17) becomes
    * "volume shifted ON THIS DAY" — what an incident review or a
    * corpus-snapshot comparison actually asks.
    *
    * Cost: [[cusumDrift]]'s two exchanges plus one aggregate over the
    * days×types frame. Integer-exact throughout (the statistic is s17's).
    *
    * @return (event_type, changepoint_day, peak_cusum, n_days, drifted)
    */
  def changepoint(events: DataFrame, typeCol: String, tsCol: String,
      z: Int = 3): DataFrame = {
    cusumDrift(events, typeCol, tsCol, z)
      .groupBy(col("event_type"))
      .agg(min(struct((-col("cusum")).as("nc"), col("day").as("d"))).as("__p"),
        count(lit(1)).as("n_days"),
        max(col("drift").cast("int")).as("__any"))
      .select(col("event_type"), col("__p.d").as("changepoint_day"),
        (-col("__p.nc")).as("peak_cusum"), col("n_days"),
        (col("__any") === 1).as("drifted"))
  }

  /** Dormancy/resurrection audit: per calendar day, how many active users
    * are RETURNING after at least `dormantDays` of silence — the growth-
    * accounting complement of [[retention]] (which asks "did the cohort
    * come back on day k"; this asks "who came back from the dead at
    * all"). A product whose DAU is flat can be churning badly while
    * resurrecting heavily; only this split shows it.
    *
    * Gap rule in EXACT integer algebra: per (user, active-day) — the
    * distinct collapse happens FIRST, so event volume never reaches the
    * window — the previous active day is one `lag` over the user's day
    * sequence, and the gap is `(epochUs(day) − epochUs(prev)) / 86400e6`:
    * both days are midnight-truncated, so the division is exact integer
    * division of exact multiples, engine-replayable bit-for-bit. A user's
    * FIRST active day has no previous day and is NOT a resurrection (new
    * users are acquisition, not resurrection — lag NULL → the comparison
    * is NULL → counts 0).
    *
    * Scale shape: one (user, day) distinct (map-side partials over the
    * event stream), one user-keyed window over ACTIVE DAYS (per-task
    * state = one user's day list, bounded by the calendar), one day
    * aggregate. dormantDays is a threshold on an integer gap — no date
    * arithmetic conventions (DOW, week-start) can reach the result.
    *
    * @return (day, n_active, n_resurrected) for every observed day
    */
  def resurrections(events: DataFrame, userCol: String, tsCol: String,
      dormantDays: Int = 7): DataFrame = {
    require(dormantDays >= 1, s"dormantDays must be >= 1, got $dormantDays")
    import org.apache.spark.sql.expressions.Window
    val days = events.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("user_id"), date_trunc("day", col(tsCol)).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    // cast-to-long after the divide = truncation toward zero on the
    // positive gap, matching the oracle's integer `//` — Spark's bare `/`
    // alone is DOUBLE division (7.04 days would compare > 7 while the
    // oracle's 7 would not, in any session where day-truncation isn't a
    // whole multiple of 86400e6 µs, e.g. a DST-shifting timezone)
    days.withColumn("__gap",
        ((unix_micros(col("day")) - unix_micros(lag(col("day"), 1).over(w))) /
          lit(86400000000L)).cast("long"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__gap") > dormantDays, lit(1L)).otherwise(lit(0L)))
          .as("n_resurrected"))
  }

  /** Bot/automation gate over a user's event stream — the log-hygiene
    * filter a training pipeline runs before user-generated text enters a
    * corpus. Two independent integer-exact signals per user:
    *
    *  - RATE: more than `ratePerMinute` events per distinct active
    *    minute (`n > rate·minutes` — burst scripting; distinct minutes,
    *    not span, so a user active 9-5 is not penalized for sleeping);
    *  - METRONOME: inter-arrival coefficient of variation below
    *    `cvTolPercent`% over at least `minGaps` gaps — human traffic is
    *    bursty (CV ≈ 1), schedulers are flat (CV ≈ 0). The CV gate
    *    clears denominators to `10⁴·(k·Σg² − S²) < tol²·S²` (with the
    *    all-gaps-zero S = 0 degenerate — same-timestamp bursts —
    *    explicitly flagged), the [[spikes]]/[[seasonalAnomaly]] closed
    *    form discipline. The gate algebra runs in DECIMAL(38,0): k·Σg²
    *    at 10⁴ gaps of a day's seconds is ~10¹⁸ and the 10⁴ multiplier
    *    pushes past int64.
    *
    * Scale shape: one per-user ordered window for the gaps (the only
    * per-event pass), then a per-user aggregate that reuses the same
    * hash partitioning — per-task state is a user's event list, never
    * the stream.
    *
    * @return (user_id, n_events, n_minutes, n_gaps, rate_bot, metronome,
    *         is_bot)
    */
  def botGate(events: DataFrame, userCol: String, tsCol: String,
      ratePerMinute: Int = 10, cvTolPercent: Int = 10,
      minGaps: Int = 20): DataFrame = {
    require(ratePerMinute >= 1, s"ratePerMinute must be >= 1, got $ratePerMinute")
    require(cvTolPercent >= 1 && cvTolPercent <= 100,
      s"cvTolPercent must be in [1, 100], got $cvTolPercent")
    require(minGaps >= 1, s"minGaps must be >= 1, got $minGaps")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val w = Window.partitionBy(col("user_id")).orderBy(col("__ts"))
    val g = events.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("user_id"), col(tsCol).as("__ts"))
      .withColumn("__gap",
        unix_timestamp(col("__ts")) - unix_timestamp(lag(col("__ts"), 1).over(w)))
    val agg = g.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(date_trunc("minute", col("__ts"))).as("n_minutes"),
        count(col("__gap")).as("n_gaps"),
        sum(col("__gap")).as("__s"),
        sum(col("__gap") * col("__gap")).as("__ss"))
    val s = col("__s")
    val cv2 = lit(10000) * (dec(col("n_gaps")) * dec(col("__ss")) - dec(s) * dec(s)) <
      lit(cvTolPercent.toLong * cvTolPercent) * dec(s) * dec(s)
    val rateBot = col("n_events") > lit(ratePerMinute.toLong) * col("n_minutes")
    val metronome = col("n_gaps") >= minGaps && (s === 0 || cv2)
    agg.select(col("user_id"), col("n_events"), col("n_minutes"), col("n_gaps"),
      rateBot.as("rate_bot"), metronome.as("metronome"),
      (rateBot || metronome).as("is_bot"))
  }

  /** Hour-of-week seasonality anomaly: flag (type, hour) buckets that sit
    * more than `z` standard deviations from THEIR OWN WEEKLY SLOT's mean —
    * Monday-9am is compared against the population of past Monday-9ams,
    * never against the adjacent 3am trough. This is the seasonality-aware
    * complement of [[spikes]] (trailing-window baseline, which a strong
    * diurnal cycle false-positives every morning) and of [[cusumDrift]]
    * (level-shift detection, blind to which hour shifted).
    *
    * Slot key: `how = (epochSeconds / 3600) mod 168` — pure integer
    * arithmetic on the epoch, so the slot numbering (slot 0 = the
    * Thursday-00:00-UTC hour) is engine-independent by construction; no
    * DOW-convention mismatch (Spark's 1=Sunday vs ISO's 1=Monday) can
    * reach the result. Two-sided gate in EXACT INTEGER algebra, same
    * discipline as [[spikes]]: `|n − tot/k| > z·σ` over a slot's k
    * observed instances clears denominators to
    * `(k·n − tot)² > z²·(k·SS − tot²)` — no division, no sqrt, no fp.
    * Longs are exact while `k·n < ~3.0e9` (squares under 2⁶³): with a
    * 10-year span (k = 522 instances/slot) that is ~5.8M events per
    * type-hour; past that promote the three factors to DECIMAL(38,0)
    * ((k·n)² at 1e9 events/hour is 24 digits — still exact in 38).
    * A single-instance slot (k = 1) has zero variance and n = mean, so it
    * can never flag — the correct degenerate case.
    *
    * Scale shape: ONE (type, hour) aggregation with map-side partials
    * collapses the raw stream to hours·types rows; the slot window runs on
    * that tiny frame (second exchange). Observed-buckets-only contract: an
    * hour with zero events is absent, not a zero instance — compose with
    * [[gapFillHourly]] upstream when silence itself must be judged.
    *
    * @return (event_type, hour, how, n, anomaly) for every observed bucket
    */
  def seasonalAnomaly(events: DataFrame, typeCol: String, tsCol: String,
      z: Int = 3): DataFrame = {
    require(z >= 1, s"z must be >= 1, got $z")
    import org.apache.spark.sql.expressions.Window
    val hourly = events.filter(col(tsCol).isNotNull)
      .groupBy(col(typeCol).as("event_type"), date_trunc("hour", col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("how",
        pmod(floor(unix_timestamp(col("hour")) / 3600L).cast("long"), lit(168L)))
    val slot = Window.partitionBy(col("event_type"), col("how"))
    val dev = col("__k") * col("n") - col("__tot")
    hourly
      .withColumn("__k", count(lit(1)).over(slot))
      .withColumn("__tot", sum(col("n")).over(slot))
      .withColumn("__ss", sum(col("n") * col("n")).over(slot))
      .select(col("event_type"), col("hour"), col("how").cast("int").as("how"), col("n"),
        (dev * dev > lit(z.toLong * z) *
          (col("__k") * col("__ss") - col("__tot") * col("__tot"))).as("anomaly"))
  }
}
