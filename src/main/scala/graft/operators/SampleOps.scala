package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting for training-data pipelines.
  *
  * Everything is keyed on a hash of a stable id — never `rand()` — so
  * splits are reproducible run-to-run, stable under repartitioning, and
  * consistent when the same id reappears (late data, retries). All
  * per-row projections; zero shuffles except where a groupBy is the point.
  */
object SampleOps {

  /** Bucket 0..99 from a stable id — the split primitive. A NULL id gets a
    * NULL bucket (bare xxhash64 would hash the seed alone and silently herd
    * every null-id row into ONE bucket — 100% or 0% of them sampled);
    * [[deterministicSplit]]'s `otherwise` then lands null ids in "test",
    * identically for both bucket families.
    */
  def hashBucket(id: Column): Column =
    when(id.isNotNull, pmod(xxhash64(id), lit(100L)))

  /** Full-range 60-bit order hash from the md5 hex prefix — the
    * oracle-replayable twin of `xxhash64` for [[stratifiedCap]]'s
    * hash-order pick (DuckDB: `CAST('0x' || substr(md5(CAST(id AS
    * VARCHAR)), 1, 15) AS BIGINT)`). xxhash64 stays the production hash
    * (one native call, no hex parse).
    */
  def md5OrderHash(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** Bucket 0..99 via [[md5OrderHash]] — same semantics as [[hashBucket]]
    * but replayable by any engine with an md5(), so a split is
    * oracle-checkable.
    */
  def md5Bucket(id: Column): Column = pmod(md5OrderHash(id), lit(100L))

  /** Add a `split` column: "train" for `trainPct`% of rows, else "test",
    * decided by id hash (clustered/sequential ids still split uniformly).
    *
    * @param bucket the id→0..99 bucket function ([[hashBucket]] default;
    *               [[md5Bucket]] for oracle-replayable splits)
    */
  def deterministicSplit(df: DataFrame, idCol: String, trainPct: Int,
      bucket: Column => Column = hashBucket): DataFrame =
    df.withColumn("split",
      when(bucket(col(idCol)) < trainPct, "train").otherwise("test"))

  /** Leakage-safe split: the bucket is hashed from a GROUP key (domain,
    * source, author), so every row of a group lands in the same split —
    * the discipline that keeps near-duplicate documents from one site out
    * of both train and test (a row-level split leaks them across). Split
    * fractions are approximate at group granularity by construction:
    * that is the price of zero cross-split groups, and the reason this is
    * a separate operator rather than a [[deterministicSplit]] call site.
    * A NULL group key buckets NULL → "test", same as the row-level split.
    * Pure projection — no shuffle; group co-location is a property of the
    * hash, not of any physical partitioning.
    */
  def groupedSplit(df: DataFrame, groupCol: String, trainPct: Int,
      bucket: Column => Column = hashBucket): DataFrame =
    df.withColumn("split",
      when(bucket(col(groupCol)) < trainPct, "train").otherwise("test"))

  /** STRATIFIED split with EXACT per-stratum quotas (round 18): within
    * each stratum (e.g. a [[graft.operators.Similarity.kmeansDistributed]]
    * semantic cluster — the x20 composition), rows rank deterministically
    * by ([[md5OrderHash]](id), id) and the first ⌊n·trainPct/100⌋ take
    * "train". The plain id-hash split ([[deterministicSplit]]) matches
    * proportions only in EXPECTATION — a 30-row cluster can land 40/60
    * and a validation set silently over-represents whole semantic
    * regions; the quota cut makes every stratum's fraction exact to
    * integer arithmetic, which is what "val set matches the train
    * distribution" actually requires.
    *
    * Scale shape: one window over the stratum partitioning — stratum-
    * keyed shuffle, no global ordering. `idCol` must identify rows
    * uniquely (the [[stratifiedCap]] precondition, round-19 advisor
    * find): rows sharing an id — including several NULL-id rows in one
    * stratum — are indistinguishable to every id-derived sort key, so if
    * the quota boundary falls between two of them split membership
    * depends on physical row order; determinism holds exactly up to id
    * uniqueness. Unique NULL ids sort last within their stratum and NULL
    * strata form their own partition, both deterministic.
    */
  def stratifiedQuotaSplit(df: DataFrame, idCol: String, stratumCol: String,
      trainPct: Int): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100,
      s"trainPct must be in [0, 100], got $trainPct")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5OrderHash(col(idCol)).asc_nulls_last, col(idCol).asc_nulls_last)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(stratumCol))))
      .withColumn("split",
        when(expr(s"__rn <= (__n * $trainPct) div 100"), "train").otherwise("test"))
      .drop("__rn", "__n")
  }

  /** Keep ~`pct`% of rows, deterministically by id hash. NULL ids give a
    * NULL bucket and are dropped (filter on NULL is false) — the one
    * deterministic reading of "sample by id" for an absent id.
    *
    * @param bucket the id→0..99 bucket function ([[hashBucket]] default;
    *               [[md5Bucket]] for oracle-replayable samples)
    */
  def hashSample(df: DataFrame, idCol: String, pct: Int,
      bucket: Column => Column = hashBucket): DataFrame =
    df.filter(bucket(col(idCol)) < pct)

  /** Deterministic stratified cap: at most `perStratum` rows per stratum,
    * chosen by id-hash order (not arrival order) so the sample is stable.
    * One shuffle on the stratum key — the groupBy-top-k shape, which AQE
    * skew-splits if a stratum is hot.
    *
    * `idCol` must identify rows uniquely: rows SHARING an id are
    * indistinguishable to every id-derived sort key, so if the cap
    * boundary falls between two of them the pick depends on physical row
    * order — determinism holds only up to id uniqueness.
    *
    * @param orderHash the id→order-key hash (xxhash64 default;
    *        [[md5OrderHash]] for oracle-replayable caps)
    */
  def stratifiedCap(df: DataFrame, stratumCol: String, idCol: String,
      perStratum: Int, orderHash: Column => Column = xxhash64(_)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(orderHash(col(idCol)).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perStratum)
      .drop("__rn")
  }

  /** Near-duplicate-closed train/test split: compute MinHash near-dup
    * connected components and hash the COMPONENT REPRESENTATIVE into the
    * split, so a document and all its near-duplicates land on the same
    * side — the leakage [[groupedSplit]] can't see (same-site
    * boilerplate crosses sources; near-dups of one page straddle a
    * row-hash split and quietly teach the model its own test set).
    *
    * Scale shape: the expensive part IS the dedup ([[graft.operators
    * .Dedup.minhashNearDuplicates]] banding + checkpointed CC, both
    * already bounded); the split itself is one left join against the
    * component frame (pair-graph-sized, far smaller than the corpus)
    * plus a per-row hash projection. Singleton docs (no near-dups) are
    * their own representative and split exactly as [[deterministicSplit]]
    * would.
    *
    * @return (id, rep, split) — rep is the component min id
    */
  def dedupClosedSplit(docs: DataFrame, idCol: String, textCol: String,
      trainPct: Int, k: Int = 8, bands: Int = 4, threshold: Double = 0.7,
      signature: Option[Column => Column] = None): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct must be in [0,100], got $trainPct")
    val pairs = Dedup.minhashNearDuplicates(docs, idCol, textCol,
      k = k, bands = bands, threshold = threshold, signature = signature)
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("__cid"), col("component").as("__rep"))
    val id = col(s"`$idCol`")
    docs.select(id.as(idCol))
      .join(comp, id === col("__cid"), "left")
      .withColumn("rep", coalesce(col("__rep"), id))
      .withColumn("split",
        when(md5Bucket(col("rep")) < trainPct, "train").otherwise("test"))
      .select(col(idCol), col("rep"), col("split"))
  }

  /** Temperature-scaled source mixing at α = 0.5: per-stratum quotas
    * proportional to √n — the standard up-weight-the-tail recipe for
    * multilingual/multi-source training mixes (raw proportions drown
    * low-resource strata; uniform over-samples them; √ is the
    * conventional middle) — then a deterministic hash-order pick of each
    * stratum's quota.
    *
    * α is FIXED at 0.5 deliberately: general `n^α` needs `exp(α·ln n)` —
    * libm at the engine boundary ([[Profile.diversity]]'s argument) —
    * while IEEE `sqrt` is correctly rounded everywhere, so
    * `floor(sqrt(n))` is the same integer on every engine and ALL
    * downstream arithmetic (quota split, floor division, rank cut) is
    * exact integer math. Quotas never exceed a stratum's population; the
    * floor division under-fills by at most one row per stratum.
    *
    * Scale shape: one stratum-count aggregate (strata-sized, collected as
    * eager literals — the [[Profile.distributedPrefixSum]] contract), a
    * broadcast quota join, and the per-stratum hash-order window
    * [[stratifiedCap]] already uses (strata in parallel; the md5-hex
    * order hash is the oracle-replayable pick).
    *
    * @return (stratum, id) — the selected mix
    */
  def temperatureMix(df: DataFrame, stratumCol: String, idCol: String,
      targetTotal: Long): DataFrame = {
    require(targetTotal >= 0, s"targetTotal must be >= 0, got $targetTotal")
    import org.apache.spark.sql.expressions.Window
    val s = col(s"`$stratumCol`")
    val id = col(s"`$idCol`")
    val rows = df.filter(s.isNotNull && id.isNotNull)
    val counts = rows.groupBy(s.as("__s")).agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n").cast("double"))).cast("long"))
    val tot = counts.agg(sum(col("__w"))).head
    if (tot.isNullAt(0))
      return rows.select(s.as(stratumCol), id.as(idCol)).limit(0)
    val caps = counts.select(col("__s"),
      least(col("__n"), expr(s"CAST(${targetTotal} * __w AS BIGINT) DIV ${tot.getLong(0)}"))
        .as("__cap"))
    rows.select(s.as(stratumCol), id.as(idCol))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(stratumCol)).orderBy(
          md5OrderHash(col(idCol)), col(idCol))))
      .join(broadcast(caps), col(stratumCol) === col("__s"))
      .filter(col("__rn") <= col("__cap"))
      .select(col(stratumCol), col(idCol))
  }

  /** Quality-ordered selection under a global weight budget: walk rows in
    * (quality DESC, id ASC) order and keep the prefix whose running weight
    * stays ≤ `budget` — the "best N tokens" curation cut (greedy knapsack
    * on a total order) every training-mix recipe ends with.
    *
    * Scale shape: NO global sort and NO single-partition window. The
    * running sum is two-level: (1) a quality-level histogram (one hash
    * aggregate, NDV-sized) is prefix-summed in level order by
    * [[Profile.distributedPrefixSum]] — sketch-derived block bounds keep
    * that parallel even when quality is near-unique; (2) each level's rows
    * take a within-level running sum under `Window.partitionBy(quality)`
    * (levels proceed in parallel), offset by the level's prefix. The cut
    * `offset + within ≤ budget` is then a per-row integer comparison.
    * Weights and the budget are integers, so every cumulative value is
    * exact and the selected SET is bit-identical on any engine replaying
    * the same (quality DESC, id) order.
    *
    * Weights must be non-negative (a negative weight would un-spend budget
    * and break the prefix-cut semantics — enforced). A first row already
    * wider than the budget selects nothing, the honest greedy answer.
    *
    * @return (id, quality, weight, cum_weight) for the selected prefix
    */
  def budgetSelect(df: DataFrame, idCol: String, qualityCol: String,
      weightCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val id = col(s"`$idCol`")
    val q = col(s"`$qualityCol`")
    val w = col(s"`$weightCol`").cast("long")
    // the guard lives INSIDE the weight expression (rangeJoin's idiom):
    // every pass that touches a weight validates it in-plan — no extra
    // scan, and a bad row fails fast with its id in the message
    val wChecked = when(w >= 0, w).otherwise(raise_error(concat(
      lit(s"budgetSelect: weight column `$weightCol` is negative ("), w.cast("string"),
      lit(s") at `$idCol`="), id.cast("string"),
      lit(") — the prefix cut is undefined; filter or clamp negative weights first"))))
    val rows = df.filter(id.isNotNull && q.isNotNull && w.isNotNull)
      .select(id.as("__id"), q.as("__q"), wChecked.as("__w"))
    // negated key: ascending prefix order over -q IS descending quality
    val lvl = rows.groupBy((-col("__q")).as("v")).agg(sum(col("__w")).as("cnt"))
    val levelCum = Profile.distributedPrefixSum(lvl)
      .select(col("v"), (col("cum") - col("cnt")).as("__before"))
    val byLevel = Window.partitionBy(col("__q")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.join(levelCum, (-col("__q")) === levelCum("v"))
      .withColumn("__within", sum(col("__w")).over(byLevel))
      .withColumn("cum_weight", col("__before") + col("__within"))
      .filter(col("cum_weight") <= budget)
      .select(col("__id").as(idCol), col("__q").as(qualityCol),
        col("__w").as(weightCol), col("cum_weight"))
  }

  /** Resample to a target stratum mix (domain/language mixing weights):
    * return the LARGEST without-replacement subsample whose stratum
    * proportions are `targets` — total T = floor(min over strata of
    * available/weight), per-stratum quota = floor(weight·T), rows picked
    * in id-hash order (deterministic, see [[stratifiedCap]]'s id-
    * uniqueness contract). Strata absent from `targets` are dropped; a
    * target stratum with no rows forces T = 0 (a mix you cannot honor is
    * an empty sample, not a silently skewed one). Weights are relative —
    * quota proportions are w/Σw by construction, so no explicit
    * normalization happens (and none should: dividing by a fp Σw would
    * perturb every weight by an ulp and move floor boundaries).
    *
    * Scale shape: stratum counts are one tiny aggregate; T and the
    * quotas live on the strata-count frame (rows = |targets|) and
    * broadcast back onto the corpus; the pick is [[stratifiedCap]]'s
    * one stratum-partitioned window. Nothing driver-side, nothing
    * proportional to corpus size but the scan and the window shuffle.
    *
    * Quota arithmetic is replayable: available/weight and weight·T are
    * single correctly-rounded double ops on integer counts and literal
    * weights, so any engine computes identical quotas.
    */
  def resampleToMix(df: DataFrame, stratumCol: String, idCol: String,
      targets: Seq[(String, Double)],
      orderHash: Column => Column = xxhash64(_)): DataFrame = {
    require(targets.nonEmpty, "resampleToMix needs at least one target stratum")
    require(targets.forall(_._2 > 0.0), s"weights must be > 0, got $targets")
    require(targets.map(_._1).distinct.size == targets.size,
      s"duplicate target strata in $targets")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targets.toDF("__stratum", "__w")
    val counts = df.groupBy(col(stratumCol).as("__stratum"))
      .agg(count(lit(1)).as("__c"))
    val joined = tgt.join(counts, Seq("__stratum"), "left")
      .select(col("__stratum"), col("__w"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val total = joined.agg(min(col("__c") / col("__w")).as("__t"))
    val quotas = joined.crossJoin(broadcast(total))
      .select(col("__stratum"), floor(col("__w") * floor(col("__t"))).as("__quota"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(orderHash(col(idCol)).asc, col(idCol).asc)
    df.join(broadcast(quotas), col(stratumCol) === col("__stratum"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__quota"))
      .drop("__stratum", "__quota", "__rn")
  }

  /** Split-leakage audit: how much of a RANDOM id-hash split's test set
    * is contaminated by exact duplicates of training documents — the
    * measurement that motivates [[dedupClosedSplit]] (x13): an id-keyed
    * split looks leak-free by construction, but duplicated CONTENT
    * crosses it freely, and every leaked test doc inflates eval. One
    * summary row: per-side doc counts, the number of normalized
    * fingerprints present on BOTH sides, the count of test docs whose
    * fingerprint also trains, and that count as a rate.
    *
    * Scale shape: the split is [[deterministicSplit]]'s md5-bucket rule
    * inlined (engine-replayable), the fingerprint
    * [[graft.operators.TextOps.fingerprint]]'s normalized md5; ONE
    * fingerprint-keyed aggregate with conditional counts carries both
    * sides (no join), and the summary is a one-row roll-up of that
    * NDV-sized frame.
    *
    * @return one row: (n_train, n_test, n_fps_both, n_test_leaked,
    *         test_leak_rate)
    */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
      trainPct: Int): DataFrame = {
    require(trainPct >= 1 && trainPct <= 99, s"trainPct must be in [1, 99], got $trainPct")
    val rows = docs.filter(col(s"`$idCol`").isNotNull && col(s"`$textCol`").isNotNull)
      .select(
        (md5Bucket(col(s"`$idCol`")) < trainPct).as("__train"),
        TextOps.fingerprint(col(s"`$textCol`")).as("__fp"))
    rows.groupBy(col("__fp"))
      .agg(count(when(col("__train"), lit(1))).as("__tr"),
        count(when(!col("__train"), lit(1))).as("__te"))
      .agg(sum(col("__tr")).as("n_train"), sum(col("__te")).as("n_test"),
        count(when(col("__tr") > 0 && col("__te") > 0, lit(1))).as("n_fps_both"),
        sum(when(col("__tr") > 0, col("__te")).otherwise(lit(0L))).as("n_test_leaked"))
      .select(col("n_train"), col("n_test"), col("n_fps_both"), col("n_test_leaked"),
        // an empty test side (tiny corpus / skewed ids) must report NULL,
        // not 0.0/0.0 = NaN — NaN also hash-diverges from DuckDB's
        // ieee_floating_point_ops-dependent 0/0 handling
        (col("n_test_leaked").cast("double") /
          when(col("n_test") > 0, col("n_test"))).as("test_leak_rate"))
  }

  /** Curriculum packing: stage every document by a rank-exact difficulty
    * quantile, then lay each stage out as hash-interleaved token shards —
    * the easy→hard training schedule, materialized as a deterministic
    * (stage, shard, seq_no) manifest a loader streams in stage order.
    *
    * Stage = `min(nStages−1, nStages·rank_before / n)` over the EXACT
    * difficulty distribution ([[Profile.distributedPrefixSum]] — no
    * sampled boundaries, no single-partition window; ties share a stage,
    * so the rule is engine-replayable integer arithmetic). Within a
    * stage, docs are ordered by (md5 order-hash, id) — a deterministic
    * shuffle that decorrelates difficulty from shard position — split
    * into `subShards` independent packing streams (the x04 idiom: the
    * within-stage window partitions by (stage, substream), so parallelism
    * is nStages·subShards, never one task per stage), and cut into
    * training shards every `shardTokens` tokens by integral division of
    * the running token offset.
    *
    * Scale shape: one histogram aggregate + the distributed prefix sum on
    * the NDV-sized distribution, an equi-join back on the difficulty
    * value, and one (stage, substream)-partitioned window. At 100 TB set
    * `subShards` to O(cluster parallelism). NULL difficulty/id rows are
    * excluded (a curriculum position is undefined for them); NULL token
    * counts pack as zero-length, keeping their slot.
    *
    * @return (idCol, difficultyCol, stage, shard, seq_no, n_tokens)
    */
  def curriculumPack(df: DataFrame, idCol: String, difficultyCol: String,
      tokensCol: String, nStages: Int = 4, subShards: Int = 16,
      shardTokens: Long = 1L << 20): DataFrame = {
    require(nStages >= 1, s"nStages must be >= 1, got $nStages")
    require(subShards >= 1, s"subShards must be >= 1, got $subShards")
    require(shardTokens >= 1, s"shardTokens must be >= 1, got $shardTokens")
    import org.apache.spark.sql.expressions.Window
    val id = col(s"`$idCol`")
    val diff = col(s"`$difficultyCol`")
    val rows = df.filter(id.isNotNull && diff.isNotNull)
      .select(id.as("__id"), diff.as("__d"),
        coalesce(col(s"`$tokensCol`").cast("long"), lit(0L)).as("n_tokens"))
    val dist = rows.groupBy(col("__d").as("v")).agg(count(lit(1)).as("cnt"))
    val staged = Profile.distributedPrefixSum(dist)
      .select(col("v"),
        least(lit(nStages - 1),
          expr(s"(${nStages}L * (cum - cnt)) div n")).cast("int").as("stage"))
    val w = Window.partitionBy(col("stage"), col("shard"))
      .orderBy(col("__oh").asc, col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    rows.join(staged, col("__d") === staged("v"))
      .withColumn("__oh", md5OrderHash(col("__id")))
      .withColumn("shard", pmod(col("__oh"), lit(subShards.toLong)).cast("int"))
      .withColumn("__off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("__id").as(idCol), col("__d").as(difficultyCol),
        col("stage"), col("shard"),
        expr(s"__off div ${shardTokens}L").as("seq_no"), col("n_tokens"))
  }
}
