package graft.operators

import graft.engine.GraftSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exactness baseline, plus a random-hyperplane-LSH
  * bucketed variant as the 100 TB scale path.
  *
  * Vector math is `zip_with`/`aggregate` column algebra — evaluated
  * natively per row, no UDF serialization. Unit-normalizing once up front
  * turns every cosine into a plain dot product.
  */
object Similarity {

  /** dot(a, b) for two array<double> columns — native codegen'd loop
    * ([[graft.functions.DotProductExpr]]); this is evaluated once per
    * candidate pair, the hot path of every operator below.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dotProduct(a, b)

  /** Cast to double and scale to unit L2 norm (zero vectors left as zero) —
    * native codegen'd loop ([[graft.functions.UnitNormExpr]]); evaluated
    * once per vector, the shared prefix of every operator below.
    */
  def unitNorm(vec: Column): Column =
    graft.functions.UnitNormExpr.unitNorm(vec)

  /** Normalize an embeddings table once: (id, unit) — the shared prefix of
    * every operator below.
    */
  def normalized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), unitNorm(col(vecCol)).as("unit"))

  /** The CORPUS-side [[normalized]] read (round 20): same projection, but
    * over [[graft.engine.GraftSession.spreadScan]] — every operator's heavy
    * per-row stage (PQ encode argmins, ADC scoring, per-candidate dots)
    * rides this frame's partitioning, and an under-split single-file scan
    * would run all of it on one core (guide §2.5). Query-side reads stay on
    * plain [[normalized]]: they are tiny filtered slivers headed for a
    * broadcast, where an extra exchange is pure latency.
    */
  private def corpusNormalized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    normalized(graft.engine.GraftSession.spreadScan(emb), idCol, vecCol)

  /** Exact brute-force cosine top-k neighbors for the query rows selected by
    * `queryPred` — a predicate over the CALLER's columns, applied to `emb`
    * before any internal renaming. O(|Q|·|N|) — the correctness baseline;
    * broadcast the (small) query side so candidates never shuffle.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    // null units skipped on both sides (the family-wide skip-not-abort
    // policy): a null-cos row would otherwise rank LAST yet still claim a
    // top-k slot for queries with fewer than k real neighbors
    val all = normalized(emb, idCol, vecCol).filter(col("unit").isNotNull)
    val queries = broadcast(normalized(emb.filter(queryPred), idCol, vecCol)
      .filter(col("unit").isNotNull)
      .select(col("vec_id").as("q_id"), col("unit").as("q_unit")))
    val scored = all.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        dot(col("q_unit"), col("unit")).as("cos"))
    rankTopK(scored, "cos", k)
  }

  /** Exact FILTERED cosine top-k (round 17): [[bruteForceTopK]] with the
    * candidate set restricted by `candPred` — the correctness baseline for
    * metadata-filtered vector search ("nearest neighbors among docs WHERE
    * …", every production vector store's second query). Queries are
    * selected by `queryPred` INDEPENDENTLY of the candidate filter: a
    * query outside the filter still gets its k filtered neighbors. Both
    * predicates target the caller's columns, applied before renaming.
    */
  def bruteForceTopKFiltered(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, candPred: Column, k: Int): DataFrame = {
    val cands = normalized(emb.filter(candPred), idCol, vecCol)
      .filter(col("unit").isNotNull)
    val queries = broadcast(normalized(emb.filter(queryPred), idCol, vecCol)
      .filter(col("unit").isNotNull)
      .select(col("vec_id").as("q_id"), col("unit").as("q_unit")))
    val scored = cands.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        dot(col("q_unit"), col("unit")).as("cos"))
    rankTopK(scored, "cos", k)
  }

  /** Sign bits of the first `bits` components — a dimension-free axis-
    * aligned sign-LSH key used to subdivide oversized blocks. Components
    * past the vector's length contribute 0 (shorter vectors just get a
    * coarser split, never an error).
    */
  private def axisSignBits(unit: Column, bits: Int): Column =
    (0 until bits).map { j =>
      // try_element_at: out-of-range → NULL → bit 0 (plain element_at
      // throws under ANSI mode, Spark 4's default)
      when(try_element_at(unit, lit(j + 1)) >= 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ bitwiseOR _)

  /** Embedding near-duplicate pairs: cosine >= threshold within a blocking
    * key (e.g. a cluster/label column) — blocked self-join, not O(n²).
    *
    * Blocks are EXACT up to `maxBlockSize` rows. A larger block (one hot
    * label owning 10% of 100 TB would otherwise make the self-join
    * quadratic) is subdivided by 8 axis-aligned sign-LSH bits (~256× fewer
    * candidates); pairs straddling sub-buckets of an oversized block are
    * MISSED — the documented approximation this operator trades for not
    * exploding. Near-duplicate vectors share sign patterns with high
    * probability, so recall inside oversized blocks stays high.
    *
    * EAGER (round 11): the pair set is computed and checkpointed before
    * this returns, so the persisted keyed frame (both self-join sides
    * read it) is released immediately — the same contract as
    * [[Dedup.minhashNearDuplicates]].
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double, maxBlockSize: Long = 1000000L): DataFrame =
    cosineNearDupPairsBudgeted(emb, idCol, vecCol, blockCol, threshold, maxBlockSize)

  /** The lazy keyed/sub-bucketed frame [[cosineNearDupPairs]] persists:
    * (blk, sub, vec_id, unit). `private[graft]` so the plan-shape spec can
    * pin the internal join shape that the public operator's checkpoint
    * hides.
    */
  private[graft] def keyedBlocks(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, maxBlockSize: Long): DataFrame = {
    val n = emb.select(col(idCol).as("vec_id"), col(blockCol).as("blk"),
      unitNorm(col(vecCol)).as("unit"))
    // block cardinality from a PRUNED scan (block column only — no
    // unitNorm, no vector bytes): a tiny aggregate joined back, which AQE
    // broadcasts; oversized blocks get a sub-bucket key.
    val counts = emb.select(col(blockCol).as("blk"))
      .groupBy(col("blk")).agg(count(lit(1)).as("blk_n"))
    n.join(counts, Seq("blk"))
      .withColumn("sub",
        when(col("blk_n") <= maxBlockSize, lit(0))
          .otherwise(axisSignBits(col("unit"), 8)))
      .select(col("blk"), col("sub"), col("vec_id"), col("unit"))
  }

  /** The (blk, sub)-bucketed self-join over [[keyedBlocks]] output. */
  private[graft] def pairsOf(keyed: DataFrame, threshold: Double): DataFrame = {
    val a = keyed.select(col("blk"), col("sub"), col("vec_id").as("id_a"), col("unit").as("u_a"))
    val b = keyed.select(col("blk"), col("sub"), col("vec_id").as("id_b"), col("unit").as("u_b"))
    a.join(b, Seq("blk", "sub"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("u_a"), col("u_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** EXACT upper bound on [[cosineNearDupPairs]]' blocked self-join
    * volume (round 20) — the d40 contract's bound stage for the
    * embedding path: per (block, sub-bucket) of n vectors the self-join
    * emits exactly C(n, 2) ordered pairs before the threshold filter, so
    * one aggregate over the SAME keyed frame the join reads bounds the
    * join from above. The degenerate input this guards against is block
    * skew the sign-LSH subdivision cannot break — near-identical vectors
    * (a template embedding repeated across a crawl) share every sign
    * bit, so an oversized block of them collapses into ONE sub-bucket
    * and the "blocked" join silently turns all-pairs.
    *
    * @return ONE row: (candidate_pairs, max_bucket_n, n_buckets) summed /
    *         maxed across all (block, sub) buckets — constant-size by
    *         construction
    */
  def cosineCandidateBound(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, maxBlockSize: Long = 1000000L): DataFrame =
    cosineCandidateBoundFrom(keyedBlocks(emb, idCol, vecCol, blockCol, maxBlockSize))

  /** [[cosineCandidateBound]] over a pre-built keyed frame — the split
    * that lets the budget gate read its own persisted projection (the
    * hamming/PPJoin gates' discipline).
    */
  private def cosineCandidateBoundFrom(keyed: DataFrame): DataFrame =
    keyed
      .groupBy(col("blk"), col("sub")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)).cast("long")
          .as("candidate_pairs"),
        coalesce(max(col("n")), lit(0L)).cast("long").as("max_bucket_n"),
        count(lit(1)).as("n_buckets"))

  /** Budget-gated [[cosineNearDupPairs]] — the d40 contract on the
    * blocked-cosine engine through [[CandidateGate]] (which documents the
    * fail/guard branches): the bound is [[cosineCandidateBound]]'s, one
    * aggregate over the persisted keyed frame both self-join sides read,
    * so the operator refuses to walk into a block-skew cliff instead of
    * discovering it as a multi-hour stage.
    *
    * @param maxCandidates total pre-filter pair budget summed across all
    *        (block, sub) buckets; `Long.MaxValue` skips the bound job
    */
  def cosineNearDupPairsBudgeted(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double, maxBlockSize: Long = 1000000L,
      maxCandidates: Long = Long.MaxValue, onExceed: String = "fail"): DataFrame = {
    // the keyed/normalized frame feeds the bound read AND both self-join
    // sides — uncached, each consumer would re-scan the corpus and
    // re-unit-normalize every vector (the dominant cost here)
    val keyed = keyedBlocks(emb, idCol, vecCol, blockCol, maxBlockSize)
    CandidateGate("cosine", maxCandidates, onExceed, Seq(keyed), "max_bucket_n",
      w => s"max bucket ${w.getLong(1)} vectors across ${w.getLong(2)} buckets",
      "the blocks are skewed past what sign-LSH subdivision breaks — " +
        "pre-dedup template embeddings, re-key the blocks, or route the " +
        "decision as data (onExceed=\"guard\")")(
      bound = cosineCandidateBoundFrom(keyed),
      pairs = pairsOf(keyed, threshold))
  }

  /** SemDeDup-style semantic deduplication: embedding-cosine near-dup
    * pairs ([[cosineNearDupPairs]]) closed transitively
    * ([[Dedup.connectedComponents]]), keeping each component's minimum id —
    * the embedding-modality sibling of [[Dedup.dedupCorpus]]'s
    * `transitive = true` text path. Vectors with a NULL embedding cannot
    * be compared and are excluded from the survivor set (decide their fate
    * upstream). Returns the surviving ids as a single `idCol` column.
    *
    * Scale shape: the pair generation is the blocked/sub-bucketed join
    * (never all-pairs), the closure is checkpointed label propagation, and
    * the final drop is an anti join against the (small) non-representative
    * set — no step materializes more than the near-dup pair graph.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // the LAZY pair pipeline, not cosineNearDupPairs: connectedComponents
    // eagerly checkpoints its edge set as its first step, so the public
    // operator's own pair checkpoint would materialize the same tiny frame
    // twice back-to-back. The keyed cache is still held across the (one)
    // edge materialization and released as soon as CC returns.
    val keyed = keyedBlocks(emb, idCol, vecCol, blockCol, maxBlockSize = 1000000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dropped = try {
      val pairs = pairsOf(keyed, threshold).select(col("id_a"), col("id_b"))
      // ^ consumed once, by the edge checkpoint inside connectedComponents
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .filter(col("component") =!= col("id"))
        .select(col("id").as(idCol))
    } finally keyed.unpersist(false)
    emb.filter(col(vecCol).isNotNull).select(col(idCol))
      .join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding-space diversity sampling: cap the rows kept per
    * axis-sign-LSH cell (2^bits buckets over the embedding's leading
    * component signs), so over-represented regions of embedding space are
    * downsampled while sparse regions survive intact — the
    * cluster-balanced subsampling step of a curation pipeline, without a
    * clustering pass. Within a cell the pick is hash-ordered
    * ([[SampleOps.md5OrderHash]]): deterministic, replayable by any
    * engine with md5(), and unbiased w.r.t. id assignment order. One
    * shuffle (the per-bucket window); NULL vectors are dropped.
    */
  def diversitySample(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int, perBucket: Int): DataFrame = {
    require(bits >= 1 && bits <= 30, s"bits must be in [1, 30], got $bits")
    require(perBucket >= 1, s"perBucket must be >= 1, got $perBucket")
    val b = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"), axisSignBits(col(vecCol), bits).as("bucket"))
    SampleOps.stratifiedCap(b, "bucket", "vec_id", perBucket, SampleOps.md5OrderHash)
  }

  /** Embedding-space train/eval contamination: cosine near-duplicates
    * ACROSS two corpora, never within one — the semantic sibling of
    * [[Dedup.crossCorpusContamination]]'s MinHash text path ("is a
    * paraphrase of my benchmark in my training set?", which token-level
    * methods miss). Returns (train_id, eval_id, cos >= threshold).
    *
    * Same blocking discipline as [[cosineNearDupPairs]], with the
    * sub-bucket rule driven by the COMBINED per-block population (both
    * sides must split identically or cross-bucket pairs are lost): exact
    * within blocks up to `maxBlockSize`, axis-sign-LSH subdivision above
    * it (documented approximation). The join is train×eval only — shuffles
    * on (block, sub), never an all-pairs product; both keyed frames
    * persist across their two consumers (count derivation + join) and are
    * released once the (tiny, threshold-filtered) pair set checkpoints.
    */
  def crossCorpusSemanticContamination(train: DataFrame, eval: DataFrame,
      idCol: String, vecCol: String, blockCol: String, threshold: Double,
      maxBlockSize: Long = 1000000L): DataFrame = {
    val counts = train.select(col(blockCol).as("blk"))
      .union(eval.select(col(blockCol).as("blk")))
      .groupBy(col("blk")).agg(count(lit(1)).as("blk_n"))
    def keyed(df: DataFrame, outId: String, outUnit: String): DataFrame =
      df.select(col(idCol).as(outId), col(blockCol).as("blk"),
          unitNorm(col(vecCol)).as(outUnit))
        .filter(col(outUnit).isNotNull)
        .join(counts, Seq("blk"))
        .withColumn("sub",
          when(col("blk_n") <= maxBlockSize, lit(0))
            .otherwise(axisSignBits(col(outUnit), 8)))
        .select(col("blk"), col("sub"), col(outId), col(outUnit))
    val t = keyed(train, "train_id", "u_t")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = keyed(eval, "eval_id", "u_e")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try GraftSession.eagerPin(
      t.join(e, Seq("blk", "sub"))
        .select(col("train_id"), col("eval_id"), dot(col("u_t"), col("u_e")).as("cos"))
        .filter(col("cos") >= threshold))
    finally { t.unpersist(false); e.unpersist(false) }
  }

  /** Deterministic random hyperplanes (seeded, plan-time constants).
    * `private[graft]` so SparkEntry can embed the SAME constants into the
    * generated DuckDB oracle SQL for d08 — the oracle replays the exact
    * bucketing, not an approximation of it.
    */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id from `nPlanes` hyperplane sign bits.
    *
    * Fails LOUDLY on a dimension mismatch: dot(unit, plane) over ragged
    * lengths is NULL, every `when` would fall through to bucket 0, and the
    * "bucketed" join would silently degrade to the full O(n²) self-join it
    * exists to avoid.
    */
  def lshBucket(unit: Column, nPlanes: Int, dim: Int, seed: Long = 7L): Column = {
    val bucket = hyperplanes(nPlanes, dim, seed).zipWithIndex.map { case (p, j) =>
      when(dot(unit, typedlit(p)) >= 0.0, lit(1 << j)).otherwise(0)
    }.reduce(_ bitwiseOR _)
    // a NULL vector (null row or null element, unitNorm null-propagates)
    // gets a NULL bucket — equi-joins then skip the row, same as every
    // other operator's null handling; only a real size mismatch raises
    when(unit.isNull, lit(null).cast("int"))
      .when(size(unit) === dim, bucket)
      .otherwise(
        raise_error(concat(lit(s"lshBucket: expected dim=$dim, got vector of size "),
          size(unit).cast("string"))).cast("int"))
  }

  /** Where a trainer runs its Lloyd's iterations. Every shape runs the
    * same Lloyd's and returns the same doubles bit for bit; the size rule
    * in [[trainingHead]] picks `Driver` or `Spark`, and the
    * `private[graft]` `*As` handles force a shape (d43, d45 and the
    * equality specs).
    */
  private[graft] sealed trait Lloyds
  private[graft] object Lloyds {
    /** On the driver, over the collected corpus: no job per iteration. */
    case object Driver extends Lloyds
    /** One corpus-scan job per iteration, the model scored in the shape
      * [[fitsLiteral]] picks. */
    case object Spark extends Lloyds
    /** As `Spark`, with the model in the table shape at any size. */
    case object SparkTable extends Lloyds
  }

  /** The lowest-id units of a normalized corpus; `whole` when they are all
    * of it and hold at most [[LiteralCeiling]] doubles.
    */
  private[graft] final case class TrainingHead(units: Array[Array[Double]], whole: Boolean)

  /** The size rule shared by both trainers. One bounded collect takes the
    * lowest-id units of the persisted normalized corpus `all`: at least
    * `minRows` (the init rows) and one more than the ceiling holds at this
    * dim. Fewer rows than that limit means the whole corpus has
    * n·dim ≤ [[LiteralCeiling]], which trains on the driver: past it, each
    * Spark iteration costs far more in per-job latency than the
    * arithmetic it distributes (BENCH_NOTES "One ANN trainer").
    */
  private[graft] def trainingHead(all: DataFrame, minRows: Int): TrainingHead = {
    val dim = all.select(size(col("unit"))).head(1).headOption.fold(1)(r => math.max(r.getInt(0), 1))
    val units = all.orderBy(col("vec_id"))
      .limit(math.max(minRows.toLong, LiteralCeiling / dim + 1).toInt)
      .collect().map(_.getSeq[Double](1).toArray)
    TrainingHead(units, units.length.toLong * dim <= LiteralCeiling)
  }

  /** `train` over `emb`'s normalized non-null units, persisted for the
    * training's repeated reads and released after.
    */
  private def withCorpus[A](emb: DataFrame, idCol: String, vecCol: String)(train: DataFrame => A): A = {
    val all = normalized(emb, idCol, vecCol).filter(col("unit").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try train(all) finally all.unpersist(false)
  }

  /** The shape to train in, and for `Driver` the units to train over (the
    * whole corpus: a forced `Driver` past the bound collects all of it).
    */
  private def lloydsFor(all: DataFrame, head: TrainingHead,
      shape: Option[Lloyds]): (Lloyds, Array[Array[Double]]) =
    shape.getOrElse(if (head.whole) Lloyds.Driver else Lloyds.Spark) match {
      case Lloyds.Driver => (Lloyds.Driver,
        if (head.whole) head.units
        else all.orderBy(col("vec_id")).collect().map(_.getSeq[Double](1).toArray))
      case s => (s, Array.empty)
    }

  /** dot(u[off, off + c.length), c) as the same sequential fold [[dot]]
    * runs, so driver-side scores equal Spark-side ones bit for bit.
    */
  private def dotAt(u: Array[Double], off: Int, c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += u(off + i) * c(i); i += 1 }
    acc
  }

  /** Index of the least `score`, ties to the lowest index: the driver-side
    * twin of `array_min` over (score, index) structs.
    */
  private def argminOf(n: Int)(score: Int => Double): Int = {
    var best = 0
    var bestScore = score(0)
    var i = 1
    while (i < n) {
      val s = score(i)
      if (s < bestScore) { best = i; bestScore = s }
      i += 1
    }
    best
  }

  /** Σ floor(u·10⁶) of `u[off, off + sums.length)` added into `sums`. */
  private def addQuantized(sums: Array[Long], u: Array[Double], off: Int): Unit = {
    var t = 0
    while (t < sums.length) { sums(t) += math.floor(u(off + t) * 1e6).toLong; t += 1 }
  }

  /** Spherical k-means over the FULL corpus: the one IVF trainer. Small
    * corpora (n·dim ≤ 10⁶, see [[trainingHead]]) train on the driver over
    * the collected units; larger ones run each iteration as one corpus
    * scan plus one (cell, dim)-keyed shuffle of k·dim integer sums
    * ([[kmeansStep]]), never collecting a vector. Both shapes run the same
    * steps, so they return the same doubles.
    *
    * Engine-replayable BY CONSTRUCTION — every arithmetic step is either
    * exact or a sequential fold any engine reproduces bit-for-bit:
    *  - init: the `nCentroids` lowest-id unit vectors (deterministic);
    *  - assignment: dot(unit, centroid) in double via the native
    *    sequential-fold [[dot]] (= DuckDB's list_dot_product order),
    *    ties to the LOWEST cell;
    *  - re-estimation sums are EXACT integers: each unit component is
    *    quantized floor(u·10⁶) → BIGINT before summing, so partial-sum
    *    order cannot change the result (a double sum would bit-drift with
    *    partitioning) — 10⁻⁶ quantization on unit-norm data moves each
    *    component by <1e-6, far below any cluster geometry, and 10¹²
    *    vectors × 10⁶ still fits BIGINT;
    *  - the new centroid NORMALIZES THE SUM directly (mean = sum/count
    *    and normalization kills the scalar, so the division — and its
    *    engine-specific decimal rounding — is skipped entirely); an
    *    empty or zero-sum cell keeps its previous centroid.
    *
    * @return nCentroids unit-norm centroids (row = centroid, ordered by
    *         cell id)
    */
  def kmeansDistributed(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int): Array[Array[Double]] =
    kmeansDistributedAs(emb, idCol, vecCol, nCentroids, iters, None)

  /** [[kmeansDistributed]] in a forced [[Lloyds]] shape (`None`: the size
    * rule's).
    */
  private[graft] def kmeansDistributedAs(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int, shape: Option[Lloyds]): Array[Array[Double]] =
    withCorpus(emb, idCol, vecCol)(all =>
      kmeansOn(all, trainingHead(all, nCentroids), nCentroids, iters, shape))

  private def kmeansOn(all: DataFrame, head: TrainingHead, nCentroids: Int, iters: Int,
      shape: Option[Lloyds]): Array[Array[Double]] = {
    require(nCentroids >= 1, s"nCentroids must be >= 1, got $nCentroids")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(head.units.length >= nCentroids,
      s"corpus has ${head.units.length} non-null vectors < nCentroids=$nCentroids")
    var centroids = head.units.take(nCentroids)
    val dim = centroids.head.length
    val (lloyds, units) = lloydsFor(all, head, shape)
    for (_ <- 0 until iters) {
      // per cell, the exact integer sums of its members; null = empty cell
      val sums = new Array[Array[Long]](nCentroids)
      def cellSums(c: Int): Array[Long] = {
        if (sums(c) == null) sums(c) = new Array[Long](dim)
        sums(c)
      }
      if (lloyds == Lloyds.Driver) units.foreach { u =>
        addQuantized(cellSums(argminOf(nCentroids)(i => -dotAt(u, 0, centroids(i)))), u, 0)
      }
      else kmeansStep(all, centroids, lloyds == Lloyds.Spark && fitsLiteral(centroids))
        .collect().foreach(r => cellSums(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      centroids = centroids.indices.map { i =>
        if (sums(i) == null) centroids(i)
        else {
          val acc = sums(i).map(_.toDouble)
          val n = math.sqrt(acc.map(x => x * x).sum)
          if (n == 0) centroids(i) else acc.map(_ / n)
        }
      }.toArray
    }
    centroids
  }

  /** One Spark Lloyd's iteration of [[kmeansDistributed]]: each unit's
    * nearest cell, scored once per vector below the `posexplode` (in the
    * shape `literal` selects), then (cell, dim, Σ floor(u·10⁶)) — k·dim
    * rows, bounded by configuration, never by data.
    */
  private[graft] def kmeansStep(all: DataFrame, centroids: Array[Array[Double]],
      literal: Boolean): DataFrame =
    withModelCols(all, literal, centroids, NoBooks, nearestCell(centroids))
      .select(col("cell"), posexplode(col("unit")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(floor(col("v") * lit(1e6))).as("s"))

  /** The plan-literal ceiling: how many model doubles (k·dim for a
    * centroid set, ksub·dim for a codebook set) one stage may inline as
    * plan constants. Past it the serialized plan and the generated scoring
    * method hit driver-memory / JIT-limit cliffs. Below it the literal
    * shape is faster at every ANN stage (BENCH_NOTES "Literal vs table
    * shape"), so both shapes stay and [[fitsLiteral]] picks one. The
    * trainers reuse it as their driver-local bound on n·dim.
    */
  private val LiteralCeiling = 1000000L

  /** The one size rule every ANN stage applies to its own model: the
    * literal shape iff each given model set fits under [[LiteralCeiling]],
    * the table shape ([[withModelCols]]) otherwise.
    */
  private def fitsLiteral(sets: Array[Array[Double]]*): Boolean =
    sets.forall(s => s.isEmpty || s.length.toLong * s.head.length <= LiteralCeiling)

  private val NoCentroids = Array.empty[Array[Double]]
  private val NoBooks = Array.empty[Array[Array[Double]]]

  private def sub(u: Column, j: Int, subDim: Int): Column = slice(u, j * subDim + 1, subDim)

  /** Literal cell scorer: per row, one (negSim, cell) struct per centroid
    * inlined as a plan constant. Struct order makes array_min/array_sort
    * pick by similarity first, ties to the lowest cell.
    */
  private def cellScores(centroids: Array[Array[Double]]): Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      struct((-dot(col("unit"), typedlit(c.toSeq))).as("negSim"), lit(i).as("cell"))
    }: _*)

  /** Literal PQ encoder: per subspace j, argmin_c (‖c‖² − 2·sub_j·c) with
    * the ‖c‖² term a plan constant — array_min on (dist, code) structs
    * ties to the lower code.
    */
  private def pqCodes(books: Array[Array[Array[Double]]]): Column = {
    val subDim = books(0)(0).length
    array(books.indices.map { j =>
      array_min(array(books(j).zipWithIndex.map { case (c, ci) =>
        val cc = c.map(x => x * x).sum
        struct((lit(cc) - lit(2.0) * dot(sub(col("unit"), j, subDim), typedlit(c.toSeq))).as("dist"),
          lit(ci).as("code"))
      }: _*)).getField("code")
    }: _*)
  }

  /** Literal per-query ADC lookup tables: luts[j][c] = dot(q_sub_j, c). */
  private def pqLuts(books: Array[Array[Array[Double]]]): Column = {
    val subDim = books(0)(0).length
    array(books.indices.map { j =>
      array(books(j).map(c => dot(sub(col("unit"), j, subDim), typedlit(c.toSeq))): _*)
    }: _*)
  }

  /** ADC score of a candidate's `codes` against a query's `luts`:
    * Σ_j luts[j][codes[j]], summed in fixed subspace order.
    */
  private def adc(m: Int): Column = (0 until m).map { j =>
    element_at(element_at(col("luts"), j + 1), element_at(col("codes"), j + 1) + 1)
  }.reduce(_ + _)

  /** A per-row column scored against a trained model, in both shapes:
    * `inline` reads the model's doubles as plan literals; in the table
    * shape `score` is evaluated once per (row, [[modelTable]] row) pair and
    * `fold` aggregates a row's scores into the same value.
    */
  private final case class ModelCol(name: String, inline: Column, score: Column,
      fold: Column => Column)

  private def tableCellScore: Column = when(col("t_cell").isNotNull,
    struct((-dot(col("unit"), col("t_vec"))).as("negSim"), col("t_cell").as("cell")))

  /** Per code row: (j, (value, code)) with `value` a dot of sub-vector j. */
  private def tableCodeScore(subDim: Int, value: Column => Column): Column =
    when(col("t_j").isNotNull, struct(col("t_j").as("j"), struct(
      value(dot(slice(col("unit"), col("t_j") * lit(subDim) + lit(1), lit(subDim)), col("t_vec")))
        .as("v"), col("t_code").as("code")).as("vc")))

  private def nearestCell(centroids: Array[Array[Double]]): ModelCol =
    ModelCol("cell", array_min(cellScores(centroids)).getField("cell"),
      tableCellScore, s => min(s).getField("cell"))

  private def rankedCells(centroids: Array[Array[Double]]): ModelCol =
    ModelCol("ranked", array_sort(cellScores(centroids)),
      tableCellScore, s => array_sort(collect_list(s)))

  private def codesCol(books: Array[Array[Array[Double]]]): ModelCol =
    ModelCol("codes", pqCodes(books),
      tableCodeScore(books(0)(0).length, d => col("t_cc") - lit(2.0) * d),
      s => array(books.indices.map { j =>
        min(when(s.getField("j") === j, s.getField("vc"))).getField("code")
      }: _*))

  // (code, value) entries are code-unique per subspace, so sorting them
  // restores luts[j][c] order deterministically
  private def lutsCol(books: Array[Array[Array[Double]]]): ModelCol =
    ModelCol("luts", pqLuts(books), tableCodeScore(books(0)(0).length, identity),
      s => array(books.indices.map { j =>
        transform(array_sort(collect_list(when(s.getField("j") === j,
          struct(s.getField("vc").getField("code").as("code"),
            s.getField("vc").getField("v").as("v"))))), e => e.getField("v"))
      }: _*))

  /** The broadcast side of the table shape: one row per centroid (`t_cell`
    * set) and one per (subspace, code) (`t_j`, `t_code` and the
    * driver-precomputed ‖c‖² `t_cc` set), each with its vector `t_vec` and
    * a row index `t_idx` — the SAME doubles the literal shape inlines, so
    * every dot runs the same IEEE fold over the same operands and the two
    * shapes agree bit for bit.
    */
  private def modelTable(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]], books: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = centroids.toSeq.zipWithIndex.map { case (c, i) => (i, null, null, null, c) } ++
      (for { j <- books.indices; (c, ci) <- books(j).zipWithIndex }
        yield (null, j, ci, c.map(x => x * x).sum, c))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.zipWithIndex.map {
      case ((cell, j, code, cc, v), idx) => Row(idx, cell, j, code, cc, v.toSeq)
    }, 1), StructType(Seq(
      StructField("t_idx", IntegerType, nullable = false), StructField("t_cell", IntegerType),
      StructField("t_j", IntegerType), StructField("t_code", IntegerType),
      StructField("t_cc", DoubleType),
      StructField("t_vec", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }

  /** `rows` (which carry `unit`) plus the model-scored `cols`, in the shape
    * `literal` selects.
    *  - Literal: one projection over the inlined constants.
    *  - Table: every row meets every [[modelTable]] row through a map-side
    *    cross join against the broadcast model, each pair is scored in a
    *    projection, and one aggregate per row folds the scores back. It
    *    groups on a per-ROW key, not `vec_id`, so rows sharing an id stay
    *    separate rows, as in the literal shape. The row's own columns ride
    *    only its pair with model row 0, so the aggregate's input holds one
    *    copy of each vector, not one per model row. Nothing model-sized
    *    rides the plan or the generated code.
    */
  private def withModelCols(rows: DataFrame, literal: Boolean,
      centroids: Array[Array[Double]], books: Array[Array[Array[Double]]],
      cols: ModelCol*): DataFrame =
    if (literal) rows.select(col("*") +: cols.map(c => c.inline.as(c.name)): _*)
    else {
      val keep = rows.columns.toSeq
      val aggs = keep.map(c => first(col(c), ignoreNulls = true).as(c)) ++
        cols.map(c => c.fold(col(c.name)).as(c.name))
      rows.withColumn("rk", monotonically_increasing_id())
        .crossJoin(broadcast(modelTable(rows.sparkSession, centroids, books)))
        .select(col("rk") +: keep.map(c => when(col("t_idx") === 0, col(c)).as(c)) ++:
          cols.map(c => c.score.as(c.name)): _*)
        .groupBy(col("rk")).agg(aggs.head, aggs.tail: _*)
        .drop("rk")
    }

  /** Each query row once per probed cell, as (cell, vec_id, unit): its
    * `nProbe` nearest cells by (negSim, cell).
    */
  private def probeRows(q: DataFrame, centroids: Array[Array[Double]], nProbe: Int,
      literal: Boolean): DataFrame = {
    val ranked = rankedCells(centroids)
    // the literal shape ranks inside the generator itself, with no extra
    // projection below it
    val (rows, order) =
      if (literal) (q, ranked.inline)
      else (withModelCols(q, literal, centroids, NoBooks, ranked), col(ranked.name))
    rows.withColumn("probe", explode(slice(order, 1, nProbe)))
      .select(col("probe.cell").as("cell"), col("vec_id"), col("unit"))
  }

  private def requireProbe(k: Int, nProbe: Int, nCentroids: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1 && nProbe <= nCentroids,
      s"need 1 <= nProbe <= nCentroids, got nProbe=$nProbe nCentroids=$nCentroids")
  }

  /** Per-query top-k of `scored` (q_id, n_id, score) by (score desc,
    * n_id asc): (q_id, n_id, rank).
    */
  private def rankTopK(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col(score).desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** The probe tail shared by IVF and IVF-PQ: the cell-keyed candidate join
    * of the model's corpus frame against the per-probe query rows, one
    * `score` per pair, top `n` per query. One assigned cell per vector and
    * distinct probe cells per query mean a (q, n) pair matches on at most
    * one cell, so no dedup aggregate (and its exchange) is needed.
    */
  private def probeTopN(corpus: DataFrame, queries: DataFrame, score: Column,
      scoreName: String, n: Int): DataFrame =
    rankTopK(corpus.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), score.as(scoreName)), scoreName, n)

  /** Final cell assignment from trained centroids: one scan, (vec_id,
    * cell), same argmax/tie rule as training's assignment step. The shape
    * follows [[fitsLiteral]]: k literal arrays scored in one codegen'd
    * projection up to the ceiling, a broadcast centroid table past it.
    */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    kmeansAssignAs(emb, idCol, vecCol, centroids, fitsLiteral(centroids))

  /** [[kmeansAssign]] in the table shape at any size: d44's entry point and
    * the equality specs' handle on the shape that otherwise runs only past
    * the ceiling.
    */
  private[graft] def kmeansAssignJoin(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    kmeansAssignAs(emb, idCol, vecCol, centroids, literal = false)

  private def kmeansAssignAs(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], literal: Boolean): DataFrame = {
    require(centroids.nonEmpty, "kmeansAssign: no centroids")
    withModelCols(normalized(emb, idCol, vecCol).filter(col("unit").isNotNull), literal,
        centroids, NoBooks, nearestCell(centroids))
      .select(col("vec_id"), col("cell"))
  }

  /** IVF-style approximate top-k: spherical k-means centroids
    * ([[kmeansDistributed]]) as plan constants; every vector is assigned
    * to its nearest centroid in a codegen'd projection, and each query
    * probes only its `nProbe` nearest cells. The join shuffles on the cell
    * id, so candidate comparison is 1/nCentroids·nProbe of brute force.
    *
    * Sizing at scale (the defaults are FIXTURE-sized: 16 cells fit the
    * ~500-vector test corpus): per-query work is `nCentroids` centroid
    * dots + `nProbe·n/nCentroids` cell-candidate dots, so the standard
    * balance point is `nCentroids ≈ sqrt(n)` — at n = 10⁹ vectors that is
    * ~3·10⁴ cells, probing a few.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, queryPred: Column,
      k: Int, nCentroids: Int = 16, nProbe: Int = 2, iters: Int = 5): DataFrame =
    ivfProbe(emb, idCol, vecCol, ivfAssign(emb, idCol, vecCol, nCentroids, iters),
      queryPred, k, nProbe)

  /** A trained IVF index: centroid plan constants plus the cell-assigned
    * corpus frame (`assigned`: (vec_id, unit, cell)). Same split as
    * [[IvfPqModel]] — train/assign once, probe per config — minus the PQ
    * code compression (IVF alone scores probed candidates by exact dot).
    */
  final case class IvfModel(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Training + cell-assignment stage of [[ivfTopK]]: [[kmeansDistributed]]
    * and ONE corpus scan labeling every vector with its nearest cell. A
    * probe-budget sweep ([[ivfProbe]] per nProbe, d25) pays this once;
    * checkpoint `assigned` to pin the single scan.
    */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, iters: Int = 5): IvfModel = {
    val centroids = kmeansDistributed(emb, idCol, vecCol, nCentroids, iters)
    // null units skipped (as in [[lshTopK]]): a null unit would otherwise
    // fall through every null negSim to an arbitrary cell and could
    // surface as a fabricated NULL-cos neighbor
    IvfModel(centroids, withModelCols(normalized(emb, idCol, vecCol).filter(col("unit").isNotNull),
      fitsLiteral(centroids), centroids, NoBooks, nearestCell(centroids)))
  }

  /** [[ivfAssign]]'s cell assignment in the table shape at any size, from
    * the given centroids: the table-shape handle the equality specs use.
    */
  private[graft] def ivfAssignJoin(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): IvfModel = {
    require(centroids.nonEmpty, "ivfAssignJoin: no centroids")
    IvfModel(centroids, withModelCols(normalized(emb, idCol, vecCol).filter(col("unit").isNotNull),
      literal = false, centroids, NoBooks, nearestCell(centroids)))
  }

  /** Query stage of [[ivfTopK]] against a pre-trained [[IvfModel]]: probe
    * list from the model's centroids (shape by [[fitsLiteral]]), equi-join
    * on cell, exact dot on the probed candidates, per-query top-k.
    */
  def ivfProbe(emb: DataFrame, idCol: String, vecCol: String, model: IvfModel,
      queryPred: Column, k: Int, nProbe: Int = 2): DataFrame =
    ivfProbeAs(emb, idCol, vecCol, model, queryPred, k, nProbe, fitsLiteral(model.centroids))

  /** [[ivfProbe]] with its probe list in the table shape at any size. */
  private[graft] def ivfProbeJoin(emb: DataFrame, idCol: String, vecCol: String,
      model: IvfModel, queryPred: Column, k: Int, nProbe: Int = 2): DataFrame =
    ivfProbeAs(emb, idCol, vecCol, model, queryPred, k, nProbe, literal = false)

  private def ivfProbeAs(emb: DataFrame, idCol: String, vecCol: String, model: IvfModel,
      queryPred: Column, k: Int, nProbe: Int, literal: Boolean): DataFrame = {
    requireProbe(k, nProbe, model.centroids.length)
    // queryPred targets the caller's columns: filter emb BEFORE the rename
    val q = normalized(emb.filter(queryPred), idCol, vecCol).filter(col("unit").isNotNull)
    val queries = probeRows(q, model.centroids, nProbe, literal)
      .select(col("cell"), col("vec_id").as("q_id"), col("unit").as("q_unit"))
    probeTopN(model.assigned, queries, dot(col("q_unit"), col("unit")), "cos", k)
  }

  /** METADATA-FILTERED IVF search (round 17): [[ivfProbe]] with the
    * candidate set restricted by `candPred` — PRE-filtering, the design
    * that keeps filtered vector search correct at scale. The alternative
    * (post-filtering: take the unfiltered top-k, then drop rows failing
    * the predicate) silently returns fewer than k and MISSES true
    * filtered neighbors whenever the unfiltered top-k is dominated by
    * out-of-filter vectors — the classic filtered-ANN pitfall
    * (SimilaritySpec pins a case where post-filtering loses a neighbor
    * pre-filtering finds).
    *
    * Mechanics: the predicate is evaluated against the CALLER's frame
    * (so at 100 TB it pushes down to the metadata table's own parquet
    * scan) and arrives at the index as an id sliver semi-joined into the
    * model's cell-assigned frame BEFORE the probe join — the inverted
    * file is pruned once, vectors failing the filter are never scored,
    * and the semi-join broadcasts when the filter is selective (AQE's
    * call). Queries are selected by `queryPred` independently: a query
    * outside the filter still searches the filtered corpus. The model is
    * trained on the FULL corpus (centroids describe the space; training
    * per-filter would rebuild the index per query predicate).
    */
  def ivfProbeFiltered(emb: DataFrame, idCol: String, vecCol: String,
      model: IvfModel, queryPred: Column, candPred: Column, k: Int,
      nProbe: Int = 2): DataFrame = {
    val allowed = emb.filter(candPred).select(col(idCol).as("vec_id"))
    ivfProbe(emb, idCol, vecCol,
      model.copy(assigned = model.assigned.join(allowed, Seq("vec_id"), "left_semi")),
      queryPred, k, nProbe)
  }

  /** Attach per-query recall@k to an approximate top-k result, measured
    * against the exact result on the same queries: `recall = |approx ∩
    * exact| / k`. Every output row of a query carries that query's recall,
    * so a driver (or dashboard) reading only the result rows sees the
    * accuracy — the reference's measured-claims discipline
    * (`OPTIMIZATION_DEMO.md:240-255`) applied to the approximate ANN paths.
    *
    * Cost: the exact baseline is O(|Q|·|N|) — bounded by the QUERY count,
    * not quadratic in the corpus; the per-query hit counts are a tiny
    * aggregate broadcast back onto the approximate rows.
    */
  def withRecallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val exactIds = exact.select(col("q_id"), col("n_id"))
    val hits = approx.join(exactIds, Seq("q_id", "n_id"), "leftsemi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    // denominator = |exact top-k| per query, not the constant k: a corpus
    // with fewer than k eligible neighbors must not cap a perfect
    // approximate result below recall 1.0
    val perQuery = exactIds.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_hit"), lit(0)).cast("double") /
          least(col("n_exact"), lit(k.toLong))).as("recall"))
    // drive the join from the EXACT side's query set: a query whose
    // approximate search returned zero candidates must still appear (null
    // neighbor columns, recall 0.0) — dropping it would silently exclude
    // the worst queries from the accuracy this function exists to report.
    // Both sides are |Q|·k-bounded (top-k results), so AQE broadcasts.
    val others = approx.columns.filterNot(_ == "q_id").map(col)
    perQuery.join(approx, Seq("q_id"), "left")
      .select(col("q_id") +: others :+ col("recall"): _*)
  }

  /** Approximate top-k via MULTI-TABLE sign-LSH bucketing: `nTables`
    * independent hash tables of `nPlanes` sign bits each; a candidate is
    * compared when it shares ANY table's bucket with the query (recall
    * amplification 1-(1-p^nPlanes)^nTables — a single table's p^nPlanes
    * recall is unusable for top-k, measured 0.03 at 8 planes on the test
    * embeddings). Shuffles on the (table, bucket) key; the explode
    * multiplies the shuffled corpus nTables× — the standard LSH cost/recall
    * knob, still 1/2^nPlanes of brute force per table at cluster scale.
    * Recall < 1 by construction — the scale path next to
    * [[bruteForceTopK]]'s exactness baseline; [[withRecallAtK]] measures it.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, nPlanes: Int = 4, dim: Int = 64,
      nTables: Int = 8): DataFrame = {
    // one (table, bucket) key per hash table, per row; null vectors get
    // null buckets in every table and are dropped here (same skip-not-abort
    // semantics as the single-table form)
    def withKeys(df: DataFrame): DataFrame = df
      .withColumn("tb", explode(array((0 until nTables).map(t =>
        struct(lit(t).as("t"),
          lshBucket(col("unit"), nPlanes, dim, seed = 7L + t * 1009L).as("b"))): _*)))
      .filter(col("tb.b").isNotNull)
    val all = withKeys(normalized(emb, idCol, vecCol))
    // queryPred targets the caller's columns: filter emb BEFORE the rename
    val queries = withKeys(normalized(emb.filter(queryPred), idCol, vecCol))
      .select(col("tb"), col("vec_id").as("q_id"), col("unit").as("q_unit"))
    val scored = all.join(queries, Seq("tb"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        dot(col("q_unit"), col("unit")).as("cos"))
    // a pair found in several tables must count once: max(cos) is a no-op
    // on the value (cos is pair-determined) and dedups the candidate set
    rankTopK(scored.groupBy(col("q_id"), col("n_id")).agg(max(col("cos")).as("cos")), "cos", k)
  }

  /** Per-subspace product-quantization codebook training over the FULL
    * corpus: the one PQ trainer. Euclidean Lloyd's over every vector's
    * subspace slices, all `m` subspaces trained in the same pass. The size
    * rule of [[trainingHead]] picks the shape, as for
    * [[kmeansDistributed]]: small corpora train on the driver; larger ones
    * run each iteration as one corpus scan that assigns each row its m
    * sub-codes and one (subspace, code, sub-dim)-keyed aggregate
    * ([[pqStep]]), so only dim·ksub sum rows reach the driver.
    *
    * Engine-replayable BY CONSTRUCTION, the [[kmeansDistributed]]
    * discipline adapted to Euclidean re-estimation (where the mean's
    * division does NOT cancel):
    *  - init: subspace slices of the `ksub` lowest-id unit vectors;
    *  - assignment: dist = ‖c‖² − 2·dot(sub, c), both terms sequential
    *    folds (= DuckDB's list_dot_product order), ties to the LOWEST
    *    code — identical to [[pqTopK]]'s encode argmin;
    *  - re-estimation sums are EXACT integers (floor(u·10⁶) → BIGINT
    *    per (code, sub-dim)), so partial-sum order cannot drift the
    *    result; the new component is ONE IEEE double division
    *    s / (n·10⁶) of exact operands — deterministic on any engine
    *    (unlike a float SUM, a float DIVIDE of identical operands is
    *    bit-exact everywhere); an empty code keeps its previous
    *    centroid.
    *
    * @return `result(j)(c)` = centroid c of subspace j (dim/m doubles)
    */
  def pqCodebooksDistributed(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): Array[Array[Array[Double]]] =
    pqCodebooksDistributedAs(emb, idCol, vecCol, m, ksub, iters, None)

  /** [[pqCodebooksDistributed]] in a forced [[Lloyds]] shape (`None`: the
    * size rule's).
    */
  private[graft] def pqCodebooksDistributedAs(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, shape: Option[Lloyds]): Array[Array[Array[Double]]] =
    withCorpus(emb, idCol, vecCol)(all => pqOn(all, trainingHead(all, ksub), m, ksub, iters, shape))

  private def pqOn(all: DataFrame, head: TrainingHead, m: Int, ksub: Int, iters: Int,
      shape: Option[Lloyds]): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2, s"need m >= 1 and ksub >= 2, got m=$m ksub=$ksub")
    require(ksub <= 256, s"ksub=$ksub: a PQ code is a byte per subspace by design")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(head.units.length >= ksub,
      s"corpus has ${head.units.length} non-null vectors < ksub=$ksub")
    val initVecs = head.units.take(ksub)
    val dim = initVecs.head.length
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val subDim = dim / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      initVecs.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
    }
    val (lloyds, units) = lloydsFor(all, head, shape)
    for (_ <- 0 until iters) {
      // per (subspace, code): exact integer sums per sub-dim (null = empty
      // code) and the member count
      val sums = Array.fill(m)(new Array[Array[Long]](ksub))
      val counts = Array.fill(m)(new Array[Long](ksub))
      def codeSums(j: Int, c: Int): Array[Long] = {
        if (sums(j)(c) == null) sums(j)(c) = new Array[Long](subDim)
        sums(j)(c)
      }
      if (lloyds == Lloyds.Driver) {
        val cc = books.map(_.map(c => c.map(x => x * x).sum))
        units.foreach { u =>
          for (j <- 0 until m) {
            val c = argminOf(ksub)(ci => cc(j)(ci) - 2.0 * dotAt(u, j * subDim, books(j)(ci)))
            counts(j)(c) += 1
            addQuantized(codeSums(j, c), u, j * subDim)
          }
        }
      } else pqStep(all, books, lloyds == Lloyds.Spark && fitsLiteral(books.flatten))
        .collect().foreach { r =>
          val (j, c) = (r.getInt(0), r.getInt(1))
          codeSums(j, c)(r.getInt(2)) = r.getLong(3)
          counts(j)(c) = r.getLong(4)
        }
      books = Array.tabulate(m) { j =>
        Array.tabulate(ksub) { c =>
          if (sums(j)(c) == null) books(j)(c) else sums(j)(c).map(_.toDouble / (counts(j)(c) * 1e6))
        }
      }
    }
    books
  }

  /** One Spark Lloyd's iteration of [[pqCodebooksDistributed]]: each
    * unit's m sub-codes, scored once per vector below the `posexplode`
    * (in the shape `literal` selects), then (subspace, code, sub-dim,
    * Σ floor(u·10⁶), n) — dim·ksub rows, bounded by configuration.
    */
  private[graft] def pqStep(all: DataFrame, books: Array[Array[Array[Double]]],
      literal: Boolean): DataFrame = {
    val subDim = books(0)(0).length
    withModelCols(all, literal, NoCentroids, books, codesCol(books))
      .select(col("codes"), posexplode(col("unit")).as(Seq("d0", "v")))
      .select((col("d0") / lit(subDim)).cast("int").as("j"),
        element_at(col("codes"), (col("d0") / lit(subDim)).cast("int") + 1).as("code"),
        pmod(col("d0"), lit(subDim)).cast("int").as("t"), col("v"))
      .groupBy(col("j"), col("code"), col("t"))
      .agg(sum(floor(col("v") * lit(1e6))).cast("long").as("s"),
        count(lit(1)).as("n"))
  }

  /** Product-quantization approximate top-k (asymmetric distance
    * computation): unit vectors are chopped into `m` subspaces, each
    * encoded as its nearest of `ksub` per-subspace centroids — the
    * corpus compresses from dim·4 bytes to m·log₂(ksub) bits per vector
    * (64-dim float → 8 bytes at m=8/ksub=16, a 32× reduction) — and a
    * query scores a candidate as Σ_j LUT_j[code_j], where the per-query
    * lookup tables LUT_j[c] = dot(q_sub_j, centroid_{j,c}) are computed
    * ONCE per query (m·ksub sub-dots) and each candidate then costs m
    * array lookups + adds instead of a dim-length dot.
    *
    * That asymmetric-lookup shape is the point at 100 TB: a billion
    * 768-dim corpus is 3 TB of floats but 16-96 GB of codes — small
    * enough to keep in executor memory next to the scan, with per-
    * candidate cost independent of dim. PQ compresses the SCAN; it does
    * not prune candidates — compose with [[ivfTopK]]'s cell routing
    * (IVF-PQ) when both are needed. Like ADC everywhere, ranking is
    * approximate (quantization error); the d26 entry measures recall@k
    * against [[bruteForceTopK]] via [[withRecallAtK]].
    *
    * Determinism: codebooks are deterministic ([[pqCodebooksDistributed]]),
    * plan constants up to the [[fitsLiteral]] ceiling; encode
    * argmin orders by (distance, code); the ADC sum runs in fixed
    * subspace order — every double on both engines derives from the same
    * operands in the same sequence.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, queryPred: Column,
      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val books = pqCodebooksDistributed(emb, idCol, vecCol, m, ksub, iters)
    val literal = fitsLiteral(books.flatten)
    val encoded = withModelCols(corpusNormalized(emb, idCol, vecCol).filter(col("unit").isNotNull),
        literal, NoCentroids, books, codesCol(books))
      .select(col("vec_id"), col("codes"))
    // per-query LUTs: m×ksub sub-dots, once per query row
    val queries = broadcast(withModelCols(normalized(emb.filter(queryPred), idCol, vecCol)
        .filter(col("unit").isNotNull), literal, NoCentroids, books, lutsCol(books))
      .select(col("vec_id").as("q_id"), col("luts")))
    rankTopK(encoded.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), adc(m).as("score")), "score", k)
  }

  /** The shared exact re-rank stage behind [[pqTopKReranked]] and
    * [[ivfPqTopK]]: one exact unit-cosine per candidate pair, top k of
    * the (cos desc, id asc) order. Cost is |cand| exact dots against the
    * full-precision vectors of only the candidate ids — two slim
    * equi-joins that broadcast at any corpus scale when the candidate
    * frame is a per-query-bounded shortlist.
    */
  private[graft] def rerankExact(emb: DataFrame, idCol: String, vecCol: String,
      cand: DataFrame, k: Int): DataFrame = {
    val units = corpusNormalized(emb, idCol, vecCol).filter(col("unit").isNotNull)
    val rescored = cand.select(col("q_id"), col("n_id"))
      .join(units.select(col("vec_id").as("q_id"), col("unit").as("q_unit")), "q_id")
      .join(units.select(col("vec_id").as("n_id"), col("unit").as("n_unit")), "n_id")
      .select(col("q_id"), col("n_id"), dot(col("q_unit"), col("n_unit")).as("cos"))
    rankTopK(rescored, "cos", k)
  }

  /** IVF-PQ with exact re-rank — the full production ANN stack in one
    * operator, composing the three pruning levers this file builds
    * separately: [[ivfTopK]]'s cell routing prunes CANDIDATES (a query
    * probes nProbe of nCentroids cells, touching ~nProbe/nCentroids of
    * the corpus), [[pqTopK]]'s ADC compresses the SCAN (each probed
    * candidate costs m table lookups over byte codes, never a dim-length
    * dot), and the exact re-rank of the `shortlist`·k survivors restores
    * the recall quantization gives up at a per-query-bounded cost
    * ([[pqTopKReranked]]'s discipline). At a billion-vector corpus this
    * is the only shape that works: cells bound what is read, codes bound
    * what a read costs, and the re-rank touches full-precision vectors
    * only for |Q|·c·k ids.
    *
    * Determinism: centroids and codebooks come from the two
    * engine-replayable trainers ([[ivfPqEncode]]), cell assignment and
    * probe lists replay d09's struct ordering, ADC replays d26's
    * fixed-order sum, the re-rank d32's — so the d34 oracle is a
    * generated full DuckDB replay of the complete stack, trainings
    * included.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String, queryPred: Column,
      k: Int, nCentroids: Int = 16, nProbe: Int = 2, m: Int = 8, ksub: Int = 16,
      iters: Int = 5, shortlist: Int = 4): DataFrame =
    ivfPqProbe(emb, idCol, vecCol, ivfPqEncode(emb, idCol, vecCol, nCentroids, m, ksub, iters),
      queryPred, k, nProbe, shortlist)

  /** A trained IVF-PQ index: the driver-side plan constants (`centroids`,
    * `books`) plus the encoded corpus frame (`encoded`:
    * (vec_id, cell, codes)). Train/encode ONCE, probe many times — the
    * split a production deployment lives by: `encoded` is what gets
    * persisted next to the corpus (a cell id + m bytes per vector, ~1% of
    * the raw embedding bytes), and every query batch or (nProbe,
    * shortlist) re-tune afterwards is probe-only, never a corpus rescan
    * or a k-means retrain. [[ivfPqTopK]] is the one-shot composition;
    * d35's config curve and d25-style probe sweeps share one model.
    */
  final case class IvfPqModel(
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      encoded: DataFrame)

  /** Training + corpus-encode stage of [[ivfPqTopK]]: cell centroids
    * from [[kmeansDistributed]], per-subspace codebooks from
    * [[pqCodebooksDistributed]], and ONE full-corpus scan producing the
    * encoded frame. Callers that sweep probe configs (or serve repeated
    * query batches) should persist/checkpoint `encoded` so the scan is
    * paid exactly once.
    */
  def ivfPqEncode(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, m: Int = 8, ksub: Int = 16, iters: Int = 5): IvfPqModel =
    ivfPqEncodeAs(emb, idCol, vecCol, nCentroids, m, ksub, iters, None)

  /** [[ivfPqEncode]] with both trainings in a forced [[Lloyds]] shape
    * (`None`: the size rule's).
    */
  private[graft] def ivfPqEncodeAs(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, m: Int, ksub: Int, iters: Int, shape: Option[Lloyds]): IvfPqModel = {
    require(nCentroids >= 1, s"nCentroids must be >= 1, got $nCentroids")
    require(m >= 1 && ksub >= 2 && ksub <= 256, s"bad PQ config m=$m ksub=$ksub")
    // the two trainings are INDEPENDENT (both read only the normalized
    // corpus, persisted and head-collected ONCE here), so they run
    // concurrently: in the Spark shape each is a chain of small
    // per-iteration jobs whose wall is stage-barrier latency, and the
    // scheduler back-fills one training's gaps with the other's tasks
    // (guide §2.6). Neither reads the other's output, so the results are
    // bit-identical to training them one after the other.
    val (centroids, books) = withCorpus(emb, idCol, vecCol) { all =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val head = trainingHead(all, math.max(nCentroids, ksub))
      val centroidsF = Future(kmeansOn(all, head, nCentroids, iters, shape))
      val books = pqOn(all, head, m, ksub, iters, shape)
      (Await.result(centroidsF, Duration.Inf), books)
    }
    encodeCorpus(emb, idCol, vecCol, centroids, books)
  }

  /** Corpus-encode stage of [[ivfPqEncode]]: ONE full scan labeling every
    * vector with its nearest cell and its m sub-codes from the given
    * centroids/books — the trainers supply the constants.
    * Literal shape while both sets fit under the ceiling, else one
    * aggregate over a combined broadcast (centroid ∪ codebook) table.
    */
  private[graft] def encodeCorpus(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): IvfPqModel =
    encodeCorpusAs(emb, idCol, vecCol, centroids, books, fitsLiteral(centroids, books.flatten))

  /** [[encodeCorpus]] in the table shape at any size (d45's encode). */
  private[graft] def ivfPqEncodeJoin(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): IvfPqModel =
    encodeCorpusAs(emb, idCol, vecCol, centroids, books, literal = false)

  private def encodeCorpusAs(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], books: Array[Array[Array[Double]]],
      literal: Boolean): IvfPqModel = {
    require(centroids.nonEmpty && books.nonEmpty, "IVF-PQ encode: empty model")
    require(books.length * books(0)(0).length == centroids.head.length,
      s"IVF-PQ encode: m x subDim = ${books.length} x ${books(0)(0).length} " +
        s"!= dim ${centroids.head.length}")
    val encoded = withModelCols(normalized(emb, idCol, vecCol).filter(col("unit").isNotNull),
        literal, centroids, books, nearestCell(centroids), codesCol(books))
      .select(col("vec_id"), col("cell"), col("codes"))
    IvfPqModel(centroids, books, encoded)
  }

  /** Query stage of [[ivfPqTopK]] against a pre-trained [[IvfPqModel]]:
    * route each query to its nProbe nearest cells, ADC-score the probed
    * codes, keep a `shortlist`·k shortlist, re-rank exactly. Everything
    * config-specific lives here — nothing in this stage touches the
    * corpus beyond the model's encoded frame and the |shortlist| ids the
    * re-rank reads at full precision. Probe lists and LUTs take the
    * literal shape while both model sets fit under the ceiling, the table
    * shape otherwise; everything query-sized broadcasts either way.
    */
  def ivfPqProbe(emb: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel, queryPred: Column, k: Int,
      nProbe: Int = 2, shortlist: Int = 4): DataFrame =
    ivfPqProbeAs(emb, idCol, vecCol, model, queryPred, k, nProbe, shortlist,
      fitsLiteral(model.centroids, model.books.flatten))

  /** [[ivfPqProbe]] in the table shape at any size (d45's probe). */
  private[graft] def ivfPqProbeJoin(emb: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel, queryPred: Column, k: Int,
      nProbe: Int = 2, shortlist: Int = 4): DataFrame =
    ivfPqProbeAs(emb, idCol, vecCol, model, queryPred, k, nProbe, shortlist, literal = false)

  private def ivfPqProbeAs(emb: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel, queryPred: Column, k: Int, nProbe: Int, shortlist: Int,
      literal: Boolean): DataFrame = {
    requireProbe(k, nProbe, model.centroids.length)
    require(shortlist >= 1, s"shortlist factor must be >= 1, got $shortlist")
    val q = normalized(emb.filter(queryPred), idCol, vecCol).filter(col("unit").isNotNull)
    val queries = broadcast(withModelCols(probeRows(q, model.centroids, nProbe, literal),
        literal, NoCentroids, model.books, lutsCol(model.books))
      .select(col("cell"), col("vec_id").as("q_id"), col("luts")))
    rerankExact(emb, idCol, vecCol,
      probeTopN(model.encoded, queries, adc(model.books.length), "score", k * shortlist), k)
  }

  /** [[pqTopK]] with the standard ANN re-rank stage: the ADC scan keeps a
    * SHORTLIST of `shortlist`·k candidates per query, then exactly ONE
    * exact cosine per shortlisted pair re-ranks them and the top k of the
    * re-ranked order is returned. ADC ranking is bounded by quantization
    * error — the true #1 neighbor is almost always WITHIN the top c·k by
    * ADC even when it is not ADC-#1 — so the re-rank recovers most of the
    * recall the codes give up, at a cost that is per-query bounded and
    * independent of corpus size ([[rerankExact]]). This is the re-rank
    * discipline every production ANN service runs; the d32 entry
    * measures recall@k with and without it, DuckDB-replayed.
    */
  def pqTopKReranked(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, shortlist: Int = 4, m: Int = 8,
      ksub: Int = 16, iters: Int = 5): DataFrame = {
    require(shortlist >= 1, s"shortlist factor must be >= 1, got $shortlist")
    val cand = pqTopK(emb, idCol, vecCol, queryPred, k * shortlist, m, ksub, iters)
    rerankExact(emb, idCol, vecCol, cand, k)
  }
}
