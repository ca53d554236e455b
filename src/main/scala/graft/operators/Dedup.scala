package graft.operators

import graft.engine.GraftSession.eagerPin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * normalized-fingerprint, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design (the point of each shape at 100 TB):
  *  - exact / fingerprint: one hash-shuffle on the dedup key — the minimum
  *    possible; map-side partial aggregation halves shuffle volume.
  *  - MinHash+LSH: candidate generation is `explode(bands) → shuffle on
  *    (band, hash) → within-bucket self-join`, never an O(n²) cross join.
  *  - SimHash: 64-bit signature per doc; hamming-≤3 pairs found by the
  *    pigeonhole block trick (4×16-bit blocks; any close pair shares one).
  *  - n-gram Jaccard: exact verification via inverted-index join, blocked
  *    by a partition key to bound the candidate set.
  *
  * Everything is `functions._` column algebra (higher-order functions, no
  * UDFs) so signatures are computed in a single codegen'd pass per doc.
  */
object Dedup {

  /** Corpus-side scan spread (round 20, guide §2.5): the signature /
    * tokenization projections below are the dominant per-row cost of every
    * operator here, and an under-split single-file scan runs them on one
    * core. [[graft.engine.GraftSession.spreadScan]] is scale-adaptive — a
    * production-size scan (many splits) is returned unchanged, so no
    * shuffle is ever added at real scale.
    */
  private def spread(df: DataFrame): DataFrame =
    graft.engine.GraftSession.spreadScan(df)

  // ---------------------------------------------------------------- exact

  /** Exact dedup clusters: one row per distinct text with the kept
    * (minimum) id and the duplicate count. Single hash aggregate.
    *
    * NULL-text docs are EXCLUDED (here and in [[fingerprintClusters]]):
    * groupBy puts all NULLs in one group, which would declare every
    * absent-content doc (e.g. image-only rows) a duplicate of every other
    * and silently drop all but one in [[dedupCorpus]].
    */
  def exactClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Dedup on the normalized-content fingerprint (TextOps.fingerprint);
    * NULL texts excluded (see [[exactClusters]]).
    */
  def fingerprintClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-group duplication report — the dedup ROI dashboard: how many
    * documents each source contributes, how many distinct contents that
    * is, and the inflation factor (docs per distinct content) a dedup
    * pass would collapse. The number that decides whether a source is
    * worth re-crawling versus deduping harder.
    *
    * Two stacked aggregates on the 32-byte fingerprint (text never
    * crosses the wire), both with map-side partials; the second pass runs
    * on the (group, fp) distinct frame, not the corpus. Inflation is ONE
    * fp division of exact integer counts — bit-identical cross-engine.
    * NULL texts are excluded (see [[exactClusters]]).
    *
    * @return (group, n_docs, n_unique, n_dup_docs, inflation)
    */
  def dupStats(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    docs.select(col(groupCol), TextOps.fingerprint(col(textCol)).as("__fp"))
      .filter(col("__fp").isNotNull)
      .groupBy(col(groupCol), col("__fp")).agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_docs"), count(lit(1)).as("n_unique"),
        (sum(col("__c")) - count(lit(1))).as("n_dup_docs"),
        (sum(col("__c")).cast("double") / count(lit(1))).as("inflation"))

  /** Incremental dedup: which documents of an INCOMING batch carry content
    * the EXISTING corpus has never seen — the shape every continuously-fed
    * training corpus runs on ingest (dedup the delta against the lake
    * without re-clustering the lake).
    *
    * Two steps, both on the 32-byte fingerprint — the raw text never
    * crosses the wire: (1) within-batch collapse ([[fingerprintClusters]]
    * on the batch: min-id representative + copy count); (2) LEFT ANTI
    * join against the existing corpus' DISTINCT fingerprints. Both
    * shuffles hash-partition on `fp`, so step 2 co-locates with step 1's
    * output; the existing side reduces to one row per distinct content
    * before the join. At 100 TB the anti-join's existing side is the
    * content catalog (|distinct contents|, not |rows|) — if even that is
    * too hot, a bloom-filter pre-pass can cheaply pre-drop obvious
    * non-members, but the exact anti join must remain the final word.
    *
    * @return (fp, keep_id, n_copies) for content NEW to the corpus
    */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val exFp = existing.select(TextOps.fingerprint(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull).distinct()
    fingerprintClusters(incoming, idCol, textCol)
      .join(exFp, Seq("fp"), "left_anti")
  }

  /** Cross-source duplication matrix: for every source pair, how many
    * exact-content duplicate pairs span them — the corpus-forensics view
    * ("which feeds copy from each other") that prioritizes dedup work and
    * catches a scraper re-ingesting another pipeline's output.
    *
    * Never materializes document pairs: one (fingerprint, source)
    * aggregation, then the PER-FINGERPRINT SOURCE COUNTS pair up
    * (`n₁·n₂` cross-source, `n·(n−1)/2` within-source) — the self-join
    * runs on the fp×sources frame (rows = distinct contents × sources
    * sharing them, tiny), co-partitioned on fp, so a pathological
    * megacluster (empty strings, boilerplate) costs its source count
    * squared, not its document count squared.
    *
    * @return (source_a, source_b, n_dup_pairs), source_a <= source_b,
    *         only pairs with at least one duplicate
    */
  def crossSourceDupMatrix(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val fps = docs.filter(col(textCol).isNotNull)
      .groupBy(TextOps.fingerprint(col(textCol)).as("fp"),
        col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("__n"))
    val l = fps.select(col("fp"), col("__src").as("source_a"), col("__n").as("__na"))
    val r = fps.select(col("fp"), col("__src").as("source_b"), col("__n").as("__nb"))
    l.join(r, Seq("fp"))
      .filter(col("source_a") <= col("source_b"))
      .withColumn("__pairs",
        // n·(n−1) is even; shiftright keeps the arithmetic integral end
        // to end (a fp `/ 2` would make the final sum a double fold)
        when(col("source_a") === col("source_b"),
          shiftright(col("__na") * (col("__na") - 1), 1))
          .otherwise(col("__na") * col("__nb")))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("__pairs")).as("n_dup_pairs"))
      .filter(col("n_dup_pairs") > 0)
  }

  // -------------------------------------------------------------- minhash

  /** Word n-gram shingles of the text (whole text if shorter). The
    * short-text fallback uses the CANONICAL single-space-joined words, not
    * the raw text — two short docs differing only in interior whitespace
    * runs must produce the same shingle set, consistent with
    * [[graft.functions.MinHashTextExpr]]'s canonical-form hashing.
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextOps.tokens(text), n)

  /** The n-gram constructor behind [[shingles]] and
    * [[exactNgramContamination]]: whole token sequence as one gram when
    * shorter than `n`. Pass a BOUND token column (not the tokens(...)
    * expression) when referencing it from a multi-signal projection.
    */
  private[operators] def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(
      TextOps.wordNgrams(toks, n))

  /** MinHash signature: fully fused native expression
    * ([[graft.functions.MinHashTextExpr]]) — tokenize, shingle-as-byte-span,
    * hash, k-minima in one codegen'd pass. The staged column-algebra
    * variants ([[shingles]] + [[graft.functions.MinHashSignatureExpr]])
    * remain available for composition with custom tokenizers.
    */
  def minhashSignature(text: Column, k: Int = 64): Column =
    graft.functions.MinHashTextExpr.minhashText(text, shingle = 3, k = k)

  /** Estimated Jaccard between two signatures = fraction of equal minima
    * (native codegen'd loop, [[graft.functions.MatchFractionExpr]] — this is
    * evaluated once per LSH candidate pair).
    */
  def signatureSimilarity(sigA: Column, sigB: Column): Column =
    graft.functions.MatchFractionExpr.matchFraction(sigA, sigB)

  // --------------------------------------------- md5 oracle hash family

  /** Seeded 60-bit hash from the md5 hex prefix: computable bit-for-bit in
    * any engine with an `md5()` (DuckDB: `CAST('0x' || substr(md5(seed ||
    * '|' || s), 1, 15) AS BIGINT)`) — the hash family behind every *Md5
    * oracle variant below. 15 hex chars = 60 bits, safely inside a signed
    * 64-bit in both engines. xxhash64 stays the production family (one
    * native call vs an md5 + hex parse); the md5 twins exist so the
    * driver's DuckDB oracle can replay the whole pipeline.
    */
  def md5Hash60(s: Column, seed: Int): Column = md5Hash60(s, lit(seed))

  /** Seed-as-Column overload so the seed can be a lambda variable (keeps
    * the expression tree small when building k-seed signatures: one
    * shingles subtree instead of k copies — analyzer/optimizer time is
    * paid per EXECUTION, so tree size is a real per-query cost).
    */
  def md5Hash60(s: Column, seed: Column): Column =
    // concat (not concat_ws): NULL text must propagate to a NULL hash —
    // concat_ws silently skips NULL args and would hash the seed alone,
    // diverging from both the nullIntolerant fused Md5*Exprs and DuckDB's
    // null-propagating `seed || '|' || s`
    conv(substring(md5(concat(seed.cast("string"), lit("|"), s)), 1, 15), 16, 10).cast("long")

  /** Small-k MinHash signature over [[shingles]] with the [[md5Hash60]]
    * family — the oracle-replayable twin of [[minhashSignature]]. With
    * k = 8 and bands = 4 (r = 2), LSH banding is EXACT for thresholds
    * >= 0.7: a qualifying pair mismatches <= 2 of 8 minima, which can
    * damage at most 2 of the 4 bands, so at least one band collides —
    * banded candidate generation provably equals the all-pairs filter the
    * oracle computes.
    *
    * Fused native expression ([[graft.functions.Md5MinHashExpr]]); the
    * column-algebra definition is [[md5MinhashSignatureAlgebra]], asserted
    * equal in DedupSpec (and equal to the DuckDB replay by the driver's
    * d03/d10/d11/d12 oracles).
    */
  def md5MinhashSignature(text: Column, k: Int = 8, n: Int = 3): Column =
    graft.functions.Md5MinHashExpr.md5Minhash(text, n, k)

  /** Column-algebra form of [[md5MinhashSignature]] — the executable
    * definition of the family (16µs/hash interpreted lambdas; use the
    * native form everywhere hot).
    */
  def md5MinhashSignatureAlgebra(text: Column, k: Int = 8, n: Int = 3): Column =
    // when without otherwise: NULL text → NULL signature (matching the
    // nullIntolerant native expr), not a k-long array of NULL minima
    when(text.isNotNull,
      transform(sequence(lit(0), lit(k - 1)), i =>
        array_min(transform(shingles(text, n), s => md5Hash60(s, i)))))

  /** LSH bucket hash of band `j` (0-based Column) of a k-long signature
    * split into bands of `r` rows — THE banding formula; every producer and
    * consumer of band buckets (batch LSH, streaming corpus gate) must use
    * this single definition or buckets stop agreeing.
    */
  def bandHash(sig: Column, j: Column, r: Int): Column =
    xxhash64(slice(sig, j * r + 1, lit(r)), j)

  /** (band, bucket) pairs of a signature as an exploded projection. */
  def bandBuckets(sig: Column, bands: Int, r: Int): Column =
    posexplode(transform(sequence(lit(0), lit(bands - 1)), j => bandHash(sig, j, r)))

  /** LSH banding S-curve audit: candidate-pair volume per band
    * configuration, WITHOUT materializing a single pair. Choosing
    * bands/rows is the production MinHash-dedup tuning decision (more
    * bands → recall up, candidate volume up); this measures the actual
    * cost side on the actual corpus: for each config b, every doc lands
    * in b buckets keyed by its exact band VALUES, and a bucket of n docs
    * implies n·(n−1)/2 candidate pairs — an aggregate over bucket sizes,
    * never a pair join.
    *
    * Bucket key = the band's exact slice of the signature (not
    * [[bandHash]]'s xxhash64, which DuckDB cannot replay): exact-value
    * bucketing counts what the LSH join WOULD meet on, modulo xxhash64's
    * ~0 collision mass.
    *
    * Scale shape: one signature pass, one explode (×Σ bands ≈ 14 rows per
    * doc for configs 2/4/8), one (bands, band, key) hash aggregate with
    * map-side partials, one 3-row final aggregate. A megabucket costs a
    * long count, not a blown-up join.
    *
    * @param configs band counts to audit; each must divide k
    * @return (bands, n_multi_buckets, n_candidate_pairs), one row per config
    */
  def bandSensitivity(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, configs: Seq[Int] = Seq(2, 4, 8),
      signature: Option[Column => Column] = None): DataFrame = {
    require(configs.nonEmpty && configs.forall(b => b >= 1 && k % b == 0),
      s"every band count must divide k=$k, got $configs")
    val sigOf = signature.getOrElse(minhashSignature(_: Column, k))
    val sig = spread(docs).filter(col(textCol).isNotNull)
      .select(sigOf(col(textCol)).as("__sig"))
    val bandCols: Seq[Column] = configs.flatMap { b =>
      val r = k / b
      (0 until b).map { i =>
        struct(lit(b).as("bands"), lit(i).as("band"),
          concat_ws(",", transform(slice(col("__sig"), i * r + 1, r),
            v => v.cast("string"))).as("key"))
      }
    }
    sig.select(explode(array(bandCols: _*)).as("__bk"))
      .select(col("__bk.bands").as("bands"), col("__bk.band").as("band"),
        col("__bk.key").as("key"))
      .groupBy(col("bands"), col("band"), col("key"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("bands"))
      .agg(
        sum(when(col("__n") > 1, lit(1L)).otherwise(lit(0L))).as("n_multi_buckets"),
        sum(expr("__n * (__n - 1) DIV 2")).as("n_candidate_pairs"))
  }

  /** Near-duplicate pairs via MinHash + LSH banding.
    *
    * EAGER: the pair set is computed and checkpointed before this returns
    * (pairs are tiny next to the corpus), so the internal signature cache
    * is released immediately — repeated calls in a long-lived session do
    * not accumulate persisted blocks.
    *
    * @param bands signature is split into `bands` bands of `k/bands` rows;
    *              docs colliding on any band become candidates.
    * @param signature overrides the signature function (e.g.
    *        [[md5MinhashSignature]] for oracle replay); must produce a
    *        k-long array<long>. Default: production [[minhashSignature]].
    * @return (doc_a, doc_b, est_jaccard) with doc_a < doc_b, filtered to
    *         `threshold`. Candidate generation shuffles on (band, hash) —
    *         at 1000 executors each bucket is a local join, never O(n²).
    */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      signature: Option[Column => Column] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sigOf = signature.getOrElse((t: Column) => minhashSignature(t, k))
    // sig IS NOT NULL: a NULL text yields a NULL signature, and
    // xxhash64(slice(NULL), j) is NON-null (hash exprs skip null inputs) —
    // unfiltered, every null-text doc would collide in EVERY band and m
    // such docs would shuffle O(m²) candidate pairs before the verify
    // stage discards them. persist: the signature frame feeds bucket
    // generation AND both verify-side joins — uncached, the dominant-cost
    // minhash would compute 3× per doc (MEMORY_AND_DISK: spills, never
    // recomputes); released in the finally once the pairs materialize.
    val sigs = spread(docs).select(col(idCol).as("doc_id"),
      sigOf(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // candidate generation carries ONLY (band, bucket, doc_id) — the k-long
      // signature (k×8 bytes) stays out of the bands-times-amplified explode
      // shuffle; pairs are deduped across bands BEFORE signatures re-join.
      val buckets = sigs.select(col("doc_id"),
        bandBuckets(col("sig"), bands, r).as(Seq("band", "bucket")))
      val a = buckets.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      val b = buckets.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
      val cands = a.join(b, Seq("band", "bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      eagerPin(cands
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          signatureSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold))
    } finally sigs.unpersist(false)
  }

  /** The PERSISTED LSH band index of a corpus snapshot — the incremental-
    * dedup primitive for versioned corpora: build once per snapshot,
    * write to parquet (partitioned by `band` if desired), and dedup every
    * later batch against it with [[probeBandIndex]] WITHOUT recomputing a
    * single old signature. One row per (band, doc): (corpus_id,
    * corpus_sig, band, bucket). The signature rides every band row
    * (bands× storage amplification — the standard band-table layout,
    * same as [[graft.streaming.StreamingOps.corpusSignatureIndex]], whose
    * stream-static gate this is the batch sibling of): probes verify
    * est-Jaccard directly on the joined row instead of paying a second
    * id-keyed join back to a signature table per probe batch.
    *
    * Append a new batch to the corpus index as
    * `index.unionByName(lshBandIndex(newDocs, ...))` — signatures are
    * per-doc pure functions, so the union IS the updated snapshot index.
    * When a batch RE-INGESTS existing ids (revised documents), tag each
    * snapshot with a generation column and run [[compactBandIndex]] so
    * probes see only the latest revision's signatures.
    */
  def lshBandIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16,
      signature: Option[Column => Column] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sigOf = signature.getOrElse((t: Column) => minhashSignature(t, k))
    spread(corpus).select(col(idCol).as("corpus_id"), sigOf(col(textCol)).as("corpus_sig"))
      .filter(col("corpus_sig").isNotNull)
      .select(col("corpus_id"), col("corpus_sig"),
        bandBuckets(col("corpus_sig"), bands, r).as(Seq("band", "bucket")))
  }

  /** Compact a multi-generation [[lshBandIndex]]: re-ingested docs append
    * a NEWER generation of index rows under the same `corpus_id`
    * (`index.withColumn("gen", lit(g))` at build time, unioned across
    * snapshots); compaction keeps only each id's latest generation, so a
    * probe sees exactly the corpus's CURRENT text — stale signatures from
    * superseded revisions can neither match nor mask.
    *
    * Scale shape: the latest-generation set is one ids-only hash
    * aggregate (max per corpus_id — map-side partials, the d22
    * keep-best idiom, no window), then one co-partitioned equi-join on
    * (corpus_id, gen) filters the band rows. Both exchanges carry id+gen
    * slivers, never signatures; a compaction over a 100 TB index shuffles
    * ids only. Idempotent: compact(compact(x)) = compact(x), and
    * compact(gen1 ∪ gen2) ≡ the index built directly from the effective
    * (latest-text) corpus — DedupSpec pins both, the d36 entry pins the
    * probe equivalence against the full recompute under the driver gate.
    */
  def compactBandIndex(index: DataFrame, genCol: String = "gen"): DataFrame = {
    val latest = index.select(col("corpus_id"), col(genCol))
      .groupBy(col("corpus_id")).agg(max(col(genCol)).as(genCol))
    index.join(latest, Seq("corpus_id", genCol))
  }

  /** Incremental near-duplicate probe: a NEW batch of docs against an
    * existing [[lshBandIndex]]. The index frame carries only ids,
    * signatures and buckets — this function never sees the old corpus
    * text, so recomputing old signatures is impossible by construction,
    * not just avoided. Batch signatures are computed once, band-joined
    * against the index on (band, bucket), deduped per pair (max is a
    * no-op on the pair-determined estimate), and verified against
    * `threshold`.
    *
    * Scale shape: the (band, bucket) equi-join is the only data-sized
    * exchange and the batch side is the SMALL side by definition of
    * incremental — at 100 TB corpus / 1 TB batch the probe touches the
    * index partitions the batch's buckets hash to, never the corpus.
    * `k`/`bands` must match the index's build parameters ([[bandHash]] is
    * the single banding formula both sides share).
    *
    * Id contract (shared with the full-recompute twin
    * [[crossCorpusContamination]], which DedupSpec pins this against):
    * probe a batch BEFORE appending it, so batch and index id domains are
    * disjoint. No `doc_id != corpus_id` filter is applied — with
    * overlapping domains a genuine cross-corpus near-dup whose ids
    * coincide must be REPORTED, not silently dropped (the recompute twin
    * reports it), and a batch probed against an index it was already
    * appended to surfaces as visible est = 1.0 self-pairs rather than a
    * silently thinned result.
    *
    * @return (doc_id, corpus_id, est_jaccard) — batch docs paired with
    *         the indexed near-duplicates that make them NOT novel
    */
  def probeBandIndex(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, k: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      signature: Option[Column => Column] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sigOf = signature.getOrElse((t: Column) => minhashSignature(t, k))
    val probes = spread(batch).select(col(idCol).as("doc_id"), sigOf(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        bandBuckets(col("sig"), bands, r).as(Seq("band", "bucket")))
    probes.join(index, Seq("band", "bucket"))
      .select(col("doc_id"), col("corpus_id"),
        signatureSimilarity(col("sig"), col("corpus_sig")).as("est_jaccard"))
      .groupBy(col("doc_id"), col("corpus_id"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Train/eval contamination detection: near-duplicate pairs ACROSS two
    * corpora, never within one — the "is my benchmark in my training set?"
    * check a training pipeline runs before any model sees the data.
    *
    * Same MinHash + LSH banding as [[minhashNearDuplicates]], but the band
    * join pairs a train doc only with eval docs, so candidate volume is
    * driven purely by cross-corpus collisions: at 100 TB train × small
    * eval, each band bucket carries the handful of eval ids that hash
    * there, and the join is effectively a semi-broadcast probe of the
    * training corpus — never train × train.
    *
    * @return (train_id, eval_id, est_jaccard) for pairs >= threshold.
    *         EAGER, like [[minhashNearDuplicates]]: pairs are checkpointed
    *         and both signature caches released before returning.
    */
  def crossCorpusContamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      signature: Option[Column => Column] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sigOf = signature.getOrElse((t: Column) => minhashSignature(t, k))
    // NULL-sig filter + persist for the same reasons as
    // [[minhashNearDuplicates]]: null texts must not band-collide, and
    // each side feeds both the band join and its verify re-join
    val tSigs = train.select(col(idCol).as("train_id"),
      sigOf(col(textCol)).as("sig_t"))
      .filter(col("sig_t").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eSigs = eval.select(col(idCol).as("eval_id"),
      sigOf(col(textCol)).as("sig_e"))
      .filter(col("sig_e").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // band shuffle carries only (band, bucket, id) — signatures re-join
      // after cross-band pair dedup, as in minhashNearDuplicates
      val tB = tSigs.select(col("train_id"),
        bandBuckets(col("sig_t"), bands, r).as(Seq("band", "bucket")))
      val eB = eSigs.select(col("eval_id"),
        bandBuckets(col("sig_e"), bands, r).as(Seq("band", "bucket")))
      val cands = tB.join(eB, Seq("band", "bucket"))
        .select(col("train_id"), col("eval_id"))
        .distinct()
      eagerPin(cands
        .join(tSigs, "train_id")
        .join(eSigs, "eval_id")
        .select(col("train_id"), col("eval_id"),
          signatureSimilarity(col("sig_t"), col("sig_e")).as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold))
    } finally { tSigs.unpersist(false); eSigs.unpersist(false) }
  }

  /** Remove contaminated training documents: every train doc near-dup to
    * ANY eval doc (per [[crossCorpusContamination]]) is dropped via a
    * single anti join — the action a pipeline takes on a detected leak.
    * Returns the training corpus with original columns.
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      signature: Option[Column => Column] = None): DataFrame = {
    val dirty = crossCorpusContamination(train, eval, idCol, textCol, k, bands, threshold, signature)
      .select(col("train_id").as(idCol)).distinct()
    train.join(dirty, Seq(idCol), "left_anti")
  }

  /** EXACT n-gram contamination — the GPT-style "13-gram eval overlap"
    * decontamination check, the exact sibling of the probabilistic
    * [[crossCorpusContamination]]: a (train, eval) pair is reported iff the
    * two docs share at least `minShared` verbatim whitespace-token n-grams,
    * with the shared count. Docs shorter than `n` tokens contribute their
    * whole token sequence as a single gram (an eval doc must not become
    * un-checkable by being short).
    *
    * Scale design: each side explodes to its DISTINCT n-grams (≤ one per
    * token, duplicates collapsed before the shuffle) and the join key is
    * the n-gram itself — a hash-bucketed inverted-index join, never
    * all-pairs; the count aggregation rides the same shuffle's map-side
    * partials. `compressGrams = true` (the 100 TB setting) replaces each
    * gram string with its xxhash64 before the shuffle — a 13-gram of
    * ~80 bytes becomes 8, cutting shuffle volume ~10×, at a 2^-64
    * per-comparison false-collision risk; the driver entry keeps raw
    * grams so the DuckDB oracle replays verbatim.
    */
  def exactNgramContamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      minShared: Int = 1, compressGrams: Boolean = false): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    def keyed(df: DataFrame): DataFrame =
      if (compressGrams) df.withColumn("gram", xxhash64(col("gram"))) else df
    keyed(docDistinctGrams(train, idCol, textCol, n, "train_id"))
      .join(keyed(docDistinctGrams(eval, idCol, textCol, n, "eval_id")), "gram")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One (outId, gram) row per DISTINCT n-gram of each doc — the exploded
    * inverted-index input shared by the exact and Bloom-prefiltered
    * contamination checks. Tokenization sits in its own projection:
    * [[shinglesFromTokens]] references the token array once per window,
    * and inlining the filter(split()) tree there would re-tokenize the doc
    * per window (the t06 lesson — CollapseProject leaves a
    * multiply-referenced non-cheap expression in its own stage).
    */
  private def docDistinctGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int, outId: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as(outId), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(outId),
        explode(array_distinct(shinglesFromTokens(col("__toks"), n))).as("gram"))
      .filter(col("gram") =!= "") // token-less docs share nothing

  /** Bloom-prefiltered exact n-gram contamination — identical OUTPUT to
    * [[exactNgramContamination]] (the same (train_id, eval_id, n_shared)
    * rows), restructured the way trillion-token pipelines (Dolma,
    * RedPajama) actually run the check: a Bloom filter is built once from
    * the SMALL side (the eval benchmark's distinct gram hashes — a few MB
    * of bits), shipped to every executor inside a codegen'd probe
    * expression ([[graft.functions.BloomMightContainExpr]]), and the huge
    * train-side gram stream is pruned BEFORE it reaches the join's
    * shuffle. The composition stays EXACT because Bloom error is
    * one-sided: a false "might contain" survives to the confirm join on
    * the raw gram string and drops out there; a false negative is
    * impossible, so no true match is ever lost.
    *
    * 100 TB shape: the eval side of any decontamination run is fixed and
    * small (benchmarks, not corpora), so the filter build is a bounded
    * one-scan aggregation with constant-size merges, and the train side —
    * the 100 TB — pays two multiplies and k bit-loads per gram instead of
    * shuffling ~every gram; shuffle volume falls to true hits + the FP
    * rate (size `numBits` by m ≈ -n·ln(p)/(ln 2)², scaladoc on
    * [[graft.functions.BloomAggregator]]).
    *
    * The filter build runs a Spark job at plan-construction time (the same
    * bounded driver hop as [[Similarity]]'s IVF centroid training); the
    * returned frame then plans lazily as usual.
    */
  def bloomNgramContamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 13, minShared: Int = 1,
      numBits: Long = 1L << 22, numHashes: Int = 7): DataFrame = {
    import graft.functions.BloomFilterOps
    val evalGrams = docDistinctGrams(eval, idCol, textCol, n, "eval_id")
    val words = BloomFilterOps.buildBloom(
      evalGrams.select(xxhash64(col("gram")).as("h")), col("h"), numBits, numHashes)
    bloomNgramContaminationWithFilter(train, eval, idCol, textCol,
      n, minShared, words, numHashes)
  }

  /** Persisted Bloom state of one eval shard's distinct n-gram hashes —
    * the [[graft.functions.BloomFilterOps.bloomState]] build over exactly
    * the gram derivation the confirm path uses ([[docDistinctGrams]] +
    * xxhash64), so a filter rehydrated from merged shard states probes
    * the same key domain the one-shot [[bloomNgramContamination]] build
    * would. One state per benchmark revision; numBits/64 rows each.
    */
  def bloomGramState(eval: DataFrame, idCol: String, textCol: String,
      n: Int, numBits: Long, numHashes: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    graft.functions.BloomFilterOps.bloomState(
      docDistinctGrams(eval, idCol, textCol, n, "eval_id")
        .select(xxhash64(col("gram")).as("h")),
      col("h"), numBits, numHashes)
  }

  /** [[bloomNgramContamination]] with a CALLER-SUPPLIED filter word array
    * — the probe/confirm stages against a filter that was built
    * elsewhere: typically rehydrated from persisted, merged
    * [[graft.functions.BloomFilterOps.bloomState]] shard states (one per
    * eval-benchmark revision; merging is bit-exact, so this path's output
    * is IDENTICAL to building the filter from the unioned eval side —
    * which is why p21's plain exact SQL oracle replays it). The `eval`
    * frame is still required: it feeds the exact confirm join that
    * removes the one-sided FP error. The filter's numHashes must match
    * the build's, and its word array must cover the same gram domain
    * (xxhash64 of the [[docDistinctGrams]] shingles) — a mismatched
    * filter silently drops true matches. State frames carry a
    * (num_bits, num_hashes) provenance stamp (round 16) checked by
    * `mergeBloomStates`/`wordsFromState` and readable via
    * `bloomStateParams`, so the mismatch fails loudly at rehydration
    * instead of probing wrong.
    */
  def bloomNgramContaminationWithFilter(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int, minShared: Int,
      words: Array[Long], numHashes: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minShared >= 1, s"minShared >= 1, got $minShared")
    import graft.functions.BloomFilterOps
    val evalGrams = docDistinctGrams(eval, idCol, textCol, n, "eval_id")
    docDistinctGrams(train, idCol, textCol, n, "train_id")
      .filter(BloomFilterOps.bloomMightContain(words, numHashes, xxhash64(col("gram"))))
      .join(evalGrams, "gram")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Duplicate-passage detection: MAXIMAL verbatim token spans shared
    * between document pairs — the substring-level dedup of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") at
    * whitespace-token granularity. Where [[exactNgramContamination]] counts
    * how many n-grams two docs share, this reports WHERE: each output row
    * is a maximal run of consecutive shared n-grams, i.e. one shared
    * passage of `span_tokens` tokens (>= `minSpanTokens`) starting at
    * 1-based token offsets `start_a` / `start_b`.
    *
    * Algorithm: positional n-grams meet in an inverted-index join on the
    * gram (never all-pairs); a match at (pos_a, pos_b) lies on alignment
    * diagonal pos_a - pos_b, and a shared passage of L tokens is exactly a
    * run of L-n+1 consecutive matches on one diagonal — islands are found
    * with the classic pos - row_number() gap-and-island key. The window is
    * PARTITIONED by (pair, diagonal), bounded by document length — never a
    * global sort. A shared passage of length L costs L-n+1 join rows:
    * linear in the overlap, not quadratic in the documents.
    *
    * `maxGramDf` (the 100 TB knob) drops grams appearing in more than that
    * many documents before the join — boilerplate grams are precisely the
    * ones that explode an inverted index. Pruning is conservative for real
    * passages: a run every gram of which survives is reported unchanged;
    * spans consisting of above-cap boilerplate shrink or split (documented
    * approximation). The positional frame feeds both self-join sides (and
    * the df aggregate when capped), so it is persisted and released after
    * the (tiny) span set is eagerly checkpointed — the
    * [[minhashNearDuplicates]] cache discipline.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minSpanTokens: Int = 12,
      maxGramDf: Option[Int] = None): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(minSpanTokens >= n, s"minSpanTokens must be >= n ($n), got $minSpanTokens")
    maxGramDf.foreach(c => require(c >= 2, s"maxGramDf must be >= 2, got $c"))
    // tokenize in its own projection (the t06 lesson), 1-based positions to
    // match the oracle's list_slice convention; docs shorter than n tokens
    // have no n-gram and cannot share a span
    val positional = spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("doc_id"),
        posexplode(TextOps.wordNgrams(col("__toks"), n)).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val g = maxGramDf match {
        case None => positional
        case Some(cap) =>
          // inverted-index stopgram cut: grams above the doc-frequency cap
          // never enter the join (the anti join's build side is only the
          // hot grams — tiny, AQE broadcasts it)
          val hot = positional.groupBy(col("gram"))
            .agg(countDistinct(col("doc_id")).as("__df"))
            .filter(col("__df") > cap).select(col("gram"))
          positional.join(hot, Seq("gram"), "left_anti")
      }
      val a = g.select(col("gram"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
      val b = g.select(col("gram"), col("doc_id").as("doc_b"), col("pos").as("pos_b"))
      val matches = a.join(b, Seq("gram"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"),
          (col("pos_a") - col("pos_b")).as("diag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pos_a"))
      // (pos_a, diag) determines pos_b, so pos_a is unique per partition:
      // pos_a - row_number() is constant exactly on a consecutive run
      val spans = matches
        .withColumn("island", col("pos_a") - row_number().over(w))
        .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
        .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
          (count(lit(1)) + lit(n - 1)).as("span_tokens"))
        .filter(col("span_tokens") >= minSpanTokens)
        .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"), col("span_tokens"))
      eagerPin(spans)
    } finally positional.unpersist(false)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens (frequency-weighted): per bit,
    * sign of the sum of ±1 token contributions — fused into one codegen'd
    * pass per document ([[graft.functions.SimHashTextExpr]]).
    *
    * SimHash is a pure per-row function, so the signature stage needs ZERO
    * shuffle (the earlier explode + 64-column hash aggregate shuffled every
    * token). Token-less docs are dropped, matching the explode form.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("doc_id"),
        graft.functions.SimHashTextExpr.simhashText(col(textCol)).as("simhash"))

  /** SimHash near-duplicate pairs with hamming distance <= maxHamming (< 4):
    * pigeonhole on 4 16-bit blocks (a pair within hamming 3 must agree on at
    * least one block), then exact bit_count verify. Shuffles on (block id,
    * block value) only.
    */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairs(simhash(spread(docs), idCol, textCol), blockBits = 16, maxHamming)

  /** The 4-block pigeonhole explosion shared by [[simhashPairs]] and
    * [[hammingCandidateBound]]: (doc_id, simhash, blk, blkval), one row
    * per (doc, block). Factored out (round 19) so the budget gate reads
    * the SAME banding the candidate join would — the d40 discipline.
    */
  private def simhashBlocks(sh: DataFrame, blockBits: Int): DataFrame = {
    val mask = (1L << blockBits) - 1
    sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(j =>
        shiftright(col("simhash"), j * blockBits).bitwiseAND(mask)): _*)).as(Seq("blk", "blkval")))
  }

  /** Pigeonhole block join + exact hamming verify over a (doc_id, simhash)
    * frame: signatures are split into 4 blocks of `blockBits`; any pair
    * within hamming <= 3 must agree on at least one block. Shuffles on
    * (block id, block value) only.
    */
  private def simhashPairs(sh: DataFrame, blockBits: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "block trick with 4 blocks covers hamming <= 3")
    val blocks = simhashBlocks(sh, blockBits)
    val a = blocks.select(col("blk"), col("blkval"), col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = blocks.select(col("blk"), col("blkval"), col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("blk", "blkval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** (doc_id, simhash) with a 60-bit signature over the [[md5Hash60]]
    * token-hash family — the oracle-replayable twin of [[simhash]]. Bit j
    * of the signature is the sign of the frequency-weighted sum of ±1
    * token contributions, exactly as [[graft.functions.SimHashTextExpr]]
    * computes over xxhash64 bits; column algebra so DuckDB can replay it
    * bit-for-bit. Staged through a materialized hash-array column: the 60
    * per-bit counts then reference one attribute instead of 60 copies of
    * the tokenize+hash subtree (tree size is a per-execution analyzer
    * cost). Token-less docs are dropped, matching [[simhash]].
    */
  def md5SimhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(size(TextOps.tokens(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        graft.functions.Md5SimHashExpr.md5Simhash(col(textCol)).as("simhash"))

  /** Column-algebra form of [[md5SimhashSignatures]] — the executable
    * definition (60 per-bit counts over a materialized hash-array column;
    * DedupSpec asserts it equals the fused native expression).
    */
  def md5SimhashSignaturesAlgebra(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hs = docs
      .select(col(idCol).as("doc_id"),
        transform(TextOps.tokens(col(textCol)), t => md5Hash60(t, 0)).as("hs"))
      .filter(size(col("hs")) > 0)
    hs.select(col("doc_id"),
      (0 until 60).map { j =>
        // bit set iff (#tokens with bit j set) * 2 > n  ⇔  Σ(±1) > 0
        when(size(filter(col("hs"), h => h.bitwiseAND(lit(1L << j)) =!= lit(0L))) * 2 > size(col("hs")),
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as("simhash"))
  }

  /** SimHash near-duplicates over the [[md5SimhashSignatures]] 60-bit
    * family (4 pigeonhole blocks of 15 bits) — same algorithm as
    * [[simhashNearDuplicates]], DuckDB-replayable end-to-end.
    */
  def simhashNearDuplicatesMd5(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairs(md5SimhashSignatures(spread(docs), idCol, textCol), blockBits = 15, maxHamming)

  /** Generic hamming near-duplicate pairs over ANY precomputed ≤64-bit
    * signature column — the shared near-match engine behind SimHash text
    * dedup AND perceptual-hash image dedup (aHash/dHash/pHash from a
    * multimodal featurization stage are exactly such signatures; run them
    * through this instead of writing a second pigeonhole join).
    *
    * Same pigeonhole-block machinery as [[simhashNearDuplicates]]
    * (4 blocks of `blockBits`; a pair within hamming ≤ 3 must agree on at
    * least one block, shuffle carries (block id, block value) only, exact
    * `bit_count` verify) — generalized to caller-supplied signatures.
    * `blockBits` must cover the signature width: 16 for full 64-bit
    * hashes, 15 for the md5-derived 60-bit family.
    *
    * @return (doc_a, doc_b, hamming) with doc_a < doc_b
    */
  def hammingNearDuplicates(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, blockBits: Int = 16): DataFrame =
    simhashPairs(simhashFrame(sigs, idCol, sigCol, blockBits), blockBits, maxHamming)

  /** The validated (doc_id, simhash) projection every hamming entry point
    * reads. The engine casts `sigCol` to long; a fractional type would
    * TRUNCATE instead of erroring and the bound + gated join would run
    * over corrupted signatures without any loud failure (round-20
    * advisor find) — require an integral input, the family's
    * fail-loudly discipline.
    */
  private def simhashFrame(sigs: DataFrame, idCol: String, sigCol: String,
      blockBits: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(blockBits >= 1 && blockBits <= 16,
      s"blockBits must be in [1, 16] (4 blocks cover <= 64 bits), got $blockBits")
    val dt = sigs.schema(sigCol).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType)(dt),
      s"hamming signature column '$sigCol' must be an integral type " +
        s"(byte/short/int/long), got ${dt.simpleString} — a fractional cast " +
        "would silently truncate the signature bits")
    sigs.filter(col(s"`$idCol`").isNotNull && col(s"`$sigCol`").isNotNull)
      .select(col(s"`$idCol`").as("doc_id"), col(s"`$sigCol`").cast("long").as("simhash"))
  }

  /** EXACT per-block upper bound on [[hammingNearDuplicates]]' pigeonhole
    * candidate-join volume (round 19) — [[ppjoinCandidateBound]]'s sibling
    * for the ≤64-bit signature engine: per (block, block-value) bucket of
    * n signatures the self-join emits exactly C(n, 2) ordered pairs
    * before the bit_count verify prunes, so summing per block bounds the
    * join's row volume from above with one aggregate over the same banded
    * frame the join reads. The degenerate input this guards against is
    * band SKEW — constant payloads (re-encoded video stills, filler
    * frames, boilerplate thumbnails) collapse a block into ONE bucket and
    * the "banded" join silently turns all-pairs.
    *
    * @return (blk, candidate_pairs, max_bucket_n, n_buckets), one row per
    *         pigeonhole block (always ≤ 4 rows)
    */
  def hammingCandidateBound(sigs: DataFrame, idCol: String, sigCol: String,
      blockBits: Int = 16): DataFrame =
    hammingCandidateBoundFrom(simhashBlocks(
      simhashFrame(sigs, idCol, sigCol, blockBits), blockBits))

  /** [[hammingCandidateBound]] over a pre-built banded frame — the split
    * that lets the budget gates read their own persisted projection
    * (mirroring [[ppjoinCandidateBoundFrom]]).
    */
  private def hammingCandidateBoundFrom(blocks: DataFrame): DataFrame =
    blocks
      .groupBy(col("blk"), col("blkval")).agg(count(lit(1)).as("n"))
      .groupBy(col("blk"))
      .agg(sum(expr("(n * (n - 1)) div 2")).cast("long").as("candidate_pairs"),
        max(col("n")).cast("long").as("max_bucket_n"),
        count(lit(1)).as("n_buckets"))

  /** Budget-gated [[hammingNearDuplicates]] — the d40 contract on the
    * hamming engine through [[CandidateGate]] (which documents the
    * fail/guard branches): the bound is [[hammingCandidateBound]]'s, over
    * the persisted projected signatures both self-join sides read. (No
    * fallback branch: unlike PPJoin→MinHash there is no cheaper
    * estimator with the same contract under a ≤64-bit exact hamming
    * radius — the honest answers are re-key or don't run.)
    *
    * @param maxCandidates total pre-verify pair budget summed across the
    *        4 blocks; `Long.MaxValue` skips the bound job entirely
    */
  def hammingNearDuplicatesBudgeted(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, blockBits: Int = 16, maxCandidates: Long = Long.MaxValue,
      onExceed: String = "fail"): DataFrame = {
    // the signature frame is the caller's expression (often a
    // tokenize+hash pipeline): uncached, the bound read and both join
    // sides would each re-derive it
    val sh = simhashFrame(sigs, idCol, sigCol, blockBits)
    CandidateGate("hamming", maxCandidates, onExceed, Seq(sh), "max_bucket_n",
      w => s"worst block ${w.getInt(0)}: ${w.getLong(1)} pairs, " +
        s"max bucket ${w.getLong(2)} signatures",
      "the signatures are band-skewed — use a wider/better hash, pre-dedup " +
        "constant payloads, or route the decision as data (onExceed=\"guard\")")(
      bound = hammingCandidateBoundFrom(simhashBlocks(sh, blockBits)),
      pairs = simhashPairs(sh, blockBits, maxHamming))
  }

  /** Survivor selection with a QUALITY policy: near-dup connected
    * components where each cluster keeps its BEST member (max quality,
    * id-tiebreak) instead of [[dedupCorpus]]'s min-id convention — the
    * policy production dedup actually wants (among near-duplicate crawls
    * of one page, keep the longest/cleanest capture, not the one with
    * the smallest id). Returns every doc with its cluster representative
    * and the keep verdict, so the caller can audit drops rather than
    * just receive survivors.
    *
    * Scale shape: pairs + CC are the bounded [[minhashNearDuplicates]] /
    * [[connectedComponents]] pipeline. The policy is a hash AGGREGATE per
    * cluster plus a rep-keyed join — deliberately NOT a
    * `row_number over (partition by rep)` window: a window serializes a
    * pathological megacluster (boilerplate-heavy crawls produce them —
    * millions of near-identical pages collapsing into one component)
    * into a single task, while the aggregate's map-side partials reduce
    * every cluster to one row per map task before the shuffle, so
    * per-task work stays bounded no matter the cluster size. The
    * best-member ordering (max quality, NULLs last, min-id tiebreak) is
    * encoded in one comparable struct so `min` decides it exactly;
    * quality NULLs sort last (a null-quality doc never beats a scored
    * one), pinned explicitly on both engines.
    *
    * @return (id, rep, quality, keep)
    */
  def keepBestSurvivors(docs: DataFrame, idCol: String, textCol: String,
      quality: Column, k: Int = 8, bands: Int = 4, threshold: Double = 0.7,
      signature: Option[Column => Column] = None): DataFrame = {
    val pairs = minhashNearDuplicates(docs, idCol, textCol,
      k = k, bands = bands, threshold = threshold, signature = signature)
    val comp = connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("__cid"), col("component").as("__rep"))
    val id = col(s"`$idCol`")
    val withRep = docs.select(id.as(idCol), quality.as("quality"))
      .join(comp, id === col("__cid"), "left")
      .withColumn("rep", coalesce(col("__rep"), id))
    pickBestPerCluster(withRep, idCol)
  }

  /** Policy stage of [[keepBestSurvivors]], factored out so the megacluster
    * claim is PROVEN, not asserted: given `(idCol, quality, rep)` cluster
    * assignments, mark each cluster's best member (max quality, NULLs
    * last, min-id tiebreak). This is the production path — ONE hash
    * aggregate (map-side partials reduce any cluster, however large, to
    * one row per map task before the shuffle) plus a rep-keyed join, so a
    * boilerplate megacluster of millions of near-identical docs never
    * lands in a single task. DedupSpec runs this and
    * [[pickBestPerClusterWindowed]] over a synthetic megacluster and
    * asserts identical survivors.
    */
  private[graft] def pickBestPerCluster(withRep: DataFrame, idCol: String): DataFrame = {
    val id = col(s"`$idCol`")
    val best = withRep.groupBy(col("rep")).agg(
      min(struct(
        when(col("quality").isNull, lit(1)).otherwise(lit(0)).as("qnull"),
        coalesce(-col("quality").cast("double"), lit(0.0)).as("negq"),
        id.as("bid"))).as("__best"))
      .select(col("rep"), col("__best.bid").as("__keep_id"))
    withRep.join(best, "rep")
      .select(col(idCol), col("rep"), col("quality"),
        (id === col("__keep_id")).as("keep"))
  }

  /** Windowed TWIN of [[pickBestPerCluster]] — the textbook
    * `row_number over (partition by rep)` formulation, kept ONLY as the
    * equivalence baseline for the megacluster spec. Do not use at scale:
    * a window serializes each cluster into one task, so one pathological
    * megacluster stalls the stage no matter how many executors exist.
    * Ordering keys are the exact struct fields the aggregate minimizes
    * (qnull, negq, id), so the two paths agree row-for-row by
    * construction.
    */
  private[graft] def pickBestPerClusterWindowed(withRep: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col(s"`$idCol`")
    val w = Window.partitionBy(col("rep")).orderBy(
      when(col("quality").isNull, lit(1)).otherwise(lit(0)).asc,
      coalesce(-col("quality").cast("double"), lit(0.0)).asc,
      id.asc)
    withRep.withColumn("__rn", row_number().over(w))
      .select(col(idCol), col("rep"), col("quality"),
        (col("__rn") === 1).as("keep"))
  }

  /** Near-duplicate cluster-size distribution over the WHOLE corpus —
    * the audit that finds megaclusters before they find you: every doc
    * joins its connected component (docs in no pair are singleton
    * clusters — a corpus-level distribution that ignored them would
    * report "everything is duplicated"), clusters roll up to sizes,
    * sizes to (cluster_size, n_clusters, n_docs). The head of this
    * frame is the dedup rate; the tail is the boilerplate megacluster
    * [[keepBestSurvivors]]'s aggregate policy and [[bandSensitivity]]'s
    * pair math are built to survive.
    *
    * Scale shape: pairs + CC are the bounded banded pipeline; the
    * profile itself is a left join on the doc id plus TWO hash
    * aggregates (rep → size, size → count) — no windows, so a 10M-doc
    * megacluster costs a long count, never a single-task sort.
    *
    * @return (cluster_size, n_clusters, n_docs) with n_docs =
    *         cluster_size · n_clusters
    */
  def clusterSizeProfile(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      signature: Option[Column => Column] = None): DataFrame = {
    val pairs = minhashNearDuplicates(docs, idCol, textCol,
      k = k, bands = bands, threshold = threshold, signature = signature)
    val comp = connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("__cid"), col("component"))
    val id = col(s"`$idCol`")
    docs.filter(id.isNotNull).select(id.as("doc_id"))
      .join(comp, col("doc_id") === col("__cid"), "left")
      .select(coalesce(col("component"), col("doc_id")).as("rep"))
      .groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** Connected components over near-duplicate pairs — the transitive
    * closure every production corpus dedup needs (a~b and b~c put a, b, c
    * in ONE cluster; pairwise greedy resolution can't see that).
    *
    * Label propagation: every vertex starts as its own label; each round
    * takes the min label over itself and its neighbors; converged when no
    * label changes. Rounds are O(diameter) (≤ maxIter); each round is one
    * shuffle on the vertex id — the standard large-scale CC shape (the
    * large-star/small-star family). Near-dup graphs have tiny diameters,
    * so this converges in 2-4 rounds in practice.
    *
    * @return (id, component) with component = min doc id in the cluster;
    *         only vertices that appear in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 10): DataFrame = {
    // checkpoint after every round: iterative joins otherwise compound
    // the logical plan exponentially (persist caches data, not lineage).
    // eagerPin is reliable whenever the session has a checkpoint dir
    // (GraftSession.build always sets one): localCheckpoint stores blocks
    // on executors, and a lost executor kills the job mid-iteration
    val edges = eagerPin(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    var labels = eagerPin(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "n_comp"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("n_comp")).as("n_comp"))
      // the convergence flag is derived in the SAME pass that computes the
      // new labels (a label changes iff some neighbor's beats its own), so
      // the probe is a scan of the just-checkpointed blocks — not the extra
      // shuffle join per round that `next JOIN labels` would cost
      val next = eagerPin(labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("n_comp"), col("component"))).as("component"),
          (coalesce(col("n_comp"), col("component")) < col("component")).as("chg")))
      val changed = next.filter(col("chg")).limit(1).count()
      labels = next.select(col("id"), col("component"))
      converged = changed == 0
      iter += 1
    }
    // never return wrong components silently: a maxIter exit with pending
    // label changes means some cluster is still split
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(graph diameter exceeds maxIter); raise maxIter")
    labels
  }

  /** Integer-exact PageRank over an undirected pair graph — centrality in
    * the NEAR-DUP graph, where a high-rank node is a template/boilerplate
    * hub (many documents share content with it) and cluster-canonical
    * picks can prefer central docs over [[keepBestSurvivors]]'s
    * quality-policy pick. The twist that makes it oracle-replayable:
    * the classic fp recurrence sums neighbor contributions in whatever
    * order the reducer visits them (never bit-stable), so this runs the
    * whole recurrence in SCALED INTEGERS with integral division —
    *
    *   contrib(u) = (pr(u) · dampingPct) div (100 · deg(u))
    *   pr'(v)     = scale·(100 − dampingPct)/100 + Σ contrib(u→v)
    *
    * — exact, order-independent, and identical on any engine (the floor
    * per contribution loses < 1/scale per edge vs real PageRank; at the
    * default 10⁹ scale that is noise). Fixed iteration count: ranking
    * stabilizes in a few rounds on near-dup graphs (diameter-bounded,
    * like [[connectedComponents]]); the entry pins `iters` so the
    * replay is definitional, not convergence-dependent.
    *
    * Scale shape: per round one edge⋈rank join (both keyed on the node —
    * shuffle-hash at scale) + one aggregate, checkpoint-truncated
    * lineage exactly as [[connectedComponents]]. `scale·n` must stay
    * under int64 (rank mass is conserved up to floors): at 10⁹ docs drop
    * scale to 10⁶.
    *
    * @return (node, rank_scaled) — rank in units of 1/scale
    */
  def rankPropagation(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 5, dampingPct: Int = 85, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(dampingPct >= 1 && dampingPct <= 99,
      s"dampingPct must be in [1, 99], got $dampingPct")
    require(scale >= 100 && scale % 100 == 0,
      s"scale must be a positive multiple of 100, got $scale")
    val edges = eagerPin(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = eagerPin(edges.join(deg, "src"))
    val base = scale / 100 * (100 - dampingPct)
    var pr = eagerPin(deg.select(col("src").as("node"), lit(scale).as("pr")))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(pr, withDeg("src") === pr("node"))
        .select(col("dst").as("node"),
          expr(s"(pr * ${dampingPct}L) div (100L * deg)").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__cin"))
      pr = eagerPin(pr.select(col("node")).join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("__cin"), lit(0L))).as("pr")))
    }
    pr.select(col("node"), col("pr").as("rank_scaled"))
  }

  /** End-to-end corpus dedup: exact (normalized fingerprint) clustering
    * first, then MinHash-LSH near-duplicate pairs over the exact-unique
    * survivors; greedy keep-lowest-id resolution (doc_b of every near-dup
    * pair is dropped). Returns the documents to KEEP with original columns.
    *
    * Two shuffles total (fingerprint groupBy + LSH band join) — the shape
    * a 100 TB corpus dedup actually runs.
    *
    * @param transitive greedy mode (false) drops every pair's doc_b — one
    *        pass, but a doc that only ever appears as doc_a survives even
    *        when it is transitively a duplicate (pairs (2,10),(1,10) keep
    *        BOTH 1 and 2). Transitive mode (true) runs
    *        [[connectedComponents]] over the near-dup graph and keeps only
    *        each component's min id — the semantics production corpus dedup
    *        wants, for O(diameter) extra rounds.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      minhashThreshold: Double = 0.7, transitive: Boolean = false,
      k: Int = 64, bands: Int = 16,
      signature: Option[Column => Column] = None): DataFrame = {
    val keepExact = fingerprintClusters(docs, idCol, textCol)
      .select(col("keep_id").as(idCol))
    // survivors feed BOTH the near-dup pair generation and the final
    // anti-join; a lazy checkpoint materializes the subtree once instead
    // of re-scanning + re-joining the corpus. Reliable (DFS) checkpointing
    // by default whenever a checkpoint dir exists — on a cluster an
    // executor loss under localCheckpoint kills the whole job (blocks have
    // no lineage to rebuild)
    val exactSurvivors = {
      // NULL-text docs bypass dedup (absent content is not equal content):
      // excluded from the fingerprint clusters, they must still SURVIVE —
      // a bare inner join on keep_id would silently drop them all
      val joined = docs.join(keepExact, Seq(idCol), "left_semi")
        .unionByName(docs.filter(col(textCol).isNull))
      if (docs.sparkSession.sparkContext.getCheckpointDir.isDefined)
        joined.checkpoint(false)
      else joined.localCheckpoint(false)
    }
    val pairs = minhashNearDuplicates(exactSurvivors, idCol, textCol,
      k = k, bands = bands, threshold = minhashThreshold, signature = signature)
    val nearDupDrops =
      if (transitive)
        connectedComponents(pairs, "doc_a", "doc_b")
          .filter(col("id") =!= col("component"))
          .select(col("id").as(idCol))
      else pairs.select(col("doc_b").as(idCol)).distinct()
    exactSurvivors.join(nearDupDrops, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------- exact jaccard

  /** The PPJoin candidate stage of [[ngramJaccardPairs]] — exposed so the
    * prefix filter's pruning claim is MEASURABLE (DedupSpec compares its
    * candidate count against the unfiltered inverted-index join on a
    * Zipfian corpus), not just narrated.
    *
    * @return (doc_a, doc_b, sz_a, sz_b) candidate pairs surviving the
    *         prefix, positional, and size-ratio filters.
    */
  private[graft] def ppjoinCandidates(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame =
    ppjoinCandidatesFrom(ppjoinPrefix(docs, idCol, textCol, blockCol, threshold), threshold)

  /** The ranked-prefix token frame the PPJoin candidate join reads on BOTH
    * sides — split out (round 16) so [[ngramJaccardPairs]] can persist it:
    * it is the expensive half of the pipeline (tokenize + global-df join +
    * two per-doc windows), and uncached its compute-once cost rode on AQE
    * exchange reuse exactly like the sorted-token verify frame's did.
    */
  private[graft] def ppjoinPrefix(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // EPS guards the exact-integral boundary: ceil(0.55 * 100) evaluates
    // ceil(55.000000000000007) = 56 in doubles and silently drops pairs
    // whose Jaccard equals the threshold (standard PPJoin-impl trick)
    val EPS = 1e-9
    ppjoinPrefixRanked(docs, idCol, textCol, blockCol).filter(
      col("pos") <= col("sz") - ceil(lit(threshold) * col("sz") - EPS) + 1)
  }

  /** The candidate join over a pre-built [[ppjoinPrefix]] frame. */
  private[graft] def ppjoinCandidatesFrom(prefix: DataFrame, threshold: Double): DataFrame = {
    val EPS = 1e-9
    val pa = prefix.select(col("blk"), col("tok"), col("doc_id").as("doc_a"),
      col("sz").as("sz_a"), col("pos").as("pos_a"))
    val pb = prefix.select(col("blk"), col("tok"), col("doc_id").as("doc_b"),
      col("sz").as("sz_b"), col("pos").as("pos_b"))
    // positional filter (PPJoin): tokens before rank pos cannot contribute
    // more overlap than 1 + min(|A|−posA, |B|−posB); a J≥t pair needs
    // overlap ≥ ceil(t/(1+t)·(|A|+|B|))
    val needOverlap = ceil(lit(threshold / (1 + threshold)) * (col("sz_a") + col("sz_b")) - EPS)
    pa.join(pb, Seq("blk", "tok"))
      .filter(col("doc_a") < col("doc_b")
        // size-ratio prune needs the same EPS: 11 >= 20*0.55 is FALSE in
        // doubles (RHS = 11.000000000000002) though true in exact math
        && least(col("sz_a"), col("sz_b")) >= greatest(col("sz_a"), col("sz_b")) * threshold - EPS
        && lit(1) + least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) >= needOverlap)
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .distinct()
  }

  /** EXACT per-block upper bound on [[ngramJaccardPairs]]'s candidate-join
    * volume, computed BEFORE paying the join — the estimate a 100 TB
    * pipeline checks first. Per (block, prefix-token) the prefix frame
    * holds dfP documents, and the candidate self-join emits exactly
    * C(dfP, 2) ordered pairs from that bucket before the positional/
    * size-ratio filters prune; summing per block bounds the join's row
    * volume from above with plain integer arithmetic over the SAME
    * prefix frame the join would read (one aggregate — ~free next to the
    * join itself).
    *
    * Why it earns its keep: PPJoin's prefix filter assumes rare tokens
    * stay rare. On a corpus with NO vocabulary growth every token's df
    * scales with corpus size and candidate volume turns quadratic —
    * measured at copies=100: d05's wall went 8 s (sf1) → 483 s (sf10)
    * with 34 GB of shuffle (BENCH_NOTES round 17). This bound makes that
    * cliff a 1-row answer instead of a discovered outage: a pipeline
    * reads (candidate_pairs, max_prefix_df) per block and decides — run,
    * re-block, raise the threshold, or switch to MinHash banding.
    *
    * @return (blk, candidate_pairs, max_prefix_df, n_prefix_tokens), one
    *         row per block; candidate_pairs is exact for the join's
    *         pre-filter volume, an upper bound on surviving candidates
    */
  def ppjoinCandidateBound(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame =
    ppjoinCandidateBoundFrom(ppjoinPrefix(docs, idCol, textCol, blockCol, threshold))

  /** [[ppjoinCandidateBound]] over a PRE-BUILT prefix frame — split out
    * (round 18) so [[ngramJaccardPairs]]'s budget gate reads the SAME
    * persisted prefix frame the candidate join is about to consume: the
    * guard costs one aggregate over an already-cached input, never a
    * second tokenize/df/window pipeline.
    */
  private[graft] def ppjoinCandidateBoundFrom(prefix: DataFrame): DataFrame =
    prefix
      .groupBy(col("blk"), col("tok")).agg(count(lit(1)).as("dfp"))
      .groupBy(col("blk"))
      .agg(sum(expr("(dfp * (dfp - 1)) div 2")).cast("long").as("candidate_pairs"),
        max(col("dfp")).cast("long").as("max_prefix_df"),
        count(lit(1)).as("n_prefix_tokens"))

  /** [[ppjoinCandidateBound]]'s asymmetric twin for [[containmentPairs]]
    * (d28's pipeline): the probe side is prefix-filtered, the index side
    * is the FULL token frame, so a (block, token) bucket with dfP probe
    * rows and dfF index rows emits exactly dfP·(dfF − 1) candidate pairs
    * (prefix ⊆ full, so each probe doc meets itself once in the index
    * bucket and the `doc_a ≠ doc_b` filter removes exactly dfP
    * self-pairs). Same 1-aggregate cost over the same ranked frame the
    * join would read; same decision it buys — run, re-block, raise the
    * threshold — before paying a join the sf10 measurement showed going
    * quadratic on a no-vocabulary-growth corpus (d28 6.5 s → 403 s,
    * 20 GB shuffle; BENCH_NOTES round 17).
    *
    * @return (blk, candidate_pairs, max_index_df, n_shared_tokens), one
    *         row per block; exact for the join's pre-filter volume
    */
  def containmentCandidateBound(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame =
    containmentCandidateBoundFrom(
      ppjoinPrefixRanked(docs, idCol, textCol, blockCol), threshold)

  /** [[containmentCandidateBound]] over a PRE-BUILT ranked frame — the
    * split that lets [[containmentPairs]]'s budget gate read its own
    * persisted ranked frame (round 18), mirroring
    * [[ppjoinCandidateBoundFrom]].
    */
  private[graft] def containmentCandidateBoundFrom(ranked: DataFrame,
      threshold: Double): DataFrame = {
    val EPS = 1e-9
    // ONE pass over the ranked frame: per bucket, dfF is the row count and
    // dfP the rows meeting the prefix cut — no second tokenize, no join
    ranked
      .groupBy(col("blk"), col("tok"))
      .agg(count(lit(1)).as("dff"),
        sum(when(col("pos") <= col("sz") - ceil(lit(threshold) * col("sz") - EPS) + 1,
          lit(1L)).otherwise(lit(0L))).as("dfp"))
      .filter(col("dfp") > 0)
      .groupBy(col("blk"))
      .agg(sum(expr("dfp * (dff - 1)")).cast("long").as("candidate_pairs"),
        max(col("dff")).cast("long").as("max_index_df"),
        count(lit(1)).as("n_shared_tokens"))
  }

  /** Per-doc sorted distinct-token arrays, straight from text — the exact-
    * verify frame both [[ngramJaccardPairs]] join sides read. */
  private[graft] def sortedTokenArrays(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      sort_array(array_distinct(TextOps.tokens(col(textCol)))).as("toks"))

  /** The lazy candidate-generate + exact-verify pipeline of
    * [[ngramJaccardPairs]] over PRE-BUILT sorted-token and ranked-prefix
    * frames — exposed (like d03's band join and d06's block pipeline) so
    * the persist-once claims are PINNABLE: PlanAuditSpec runs it with AQE
    * exchange reuse disabled and asserts all four double-consumed sides
    * (two verify joins on `arrs`, two candidate sides on `prefix`) read
    * their caches, not a recomputed scan.
    */
  private[graft] def ngramJaccardVerified(arrs: DataFrame, prefix: DataFrame,
      threshold: Double): DataFrame = {
    val cands = ppjoinCandidatesFrom(prefix, threshold)
    val verified = cands
      .join(arrs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
      .withColumn("inter", graft.functions.SortedIntersectCountExpr
        .sortedIntersectCount(col("toks_a"), col("toks_b")))
    verified.select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact token-set Jaccard pairs >= threshold, blocked by `blockCol` —
    * PPJoin-style prefix filtering (Xiao et al., WWW'08):
    *
    *  1. Rank every token by GLOBAL document frequency (rare first; token
    *     string as tiebreak — any total order works).
    *  2. A pair with J >= t shares at least ceil(t·|A|) tokens, so its
    *     smallest-ranked common token must sit within the first
    *     |d| − ceil(t·|d|) + 1 tokens of BOTH docs. Only those prefix
    *     tokens enter the inverted-index candidate join: stopwords fall
    *     out of most prefixes, killing the O(df²) hot-token blowup that
    *     dominates at corpus scale.
    *  3. Size-ratio prune (J <= min/max ⇒ min >= t·max), then exact verify
    *     by a native sorted-merge intersection
    *     ([[graft.functions.SortedIntersectCountExpr]]) over per-doc sorted
    *     token arrays computed straight from the text (zero extra shuffle).
    *
    * Same exact result set as the full inverted-index join (the d05 DuckDB
    * oracle checks this); candidate volume drops from Σ df² over ALL
    * tokens to Σ df² over prefix tokens.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame =
    ngramJaccardPairsBudgeted(docs, idCol, textCol, blockCol, threshold,
      maxCandidates = Long.MaxValue)

  /** Budget-gated [[ngramJaccardPairs]] — the enforcement end of
    * [[ppjoinCandidateBound]] (round 18) through [[CandidateGate]]:
    * PPJoin's prefix filter assumes rare tokens stay rare, and on a
    * no-vocabulary-growth corpus the candidate join turns quadratic
    * (measured at copies=100: 8 s → 483 s wall, 34 GB shuffle —
    * BENCH_NOTES round 17). The bound is read from the SAME persisted
    * prefix frame the join would read, so the "read the budget BEFORE
    * paying the join" rule lives in the operator, not in caller
    * discipline. Over budget, besides the gate's `"fail"` (naming the
    * worst (block, max_prefix_df) offender) and `"guard"`
    * (candidate_pairs, max_prefix_df, budget):
    *  - `"minhash"`: fall back to the MinHash sibling
    *    ([[minhashNearDuplicates]], default k=64/bands=16 banding at the
    *    same threshold) whose banded-LSH candidate volume does not
    *    depend on token-df concentration; returns (doc_a, doc_b, jaccard)
    *    where `jaccard` is the signature ESTIMATE, not the exact value.
    *
    * @param maxCandidates total pre-filter candidate-pair budget summed
    *        across blocks; `Long.MaxValue` skips the bound job entirely
    *        (zero overhead vs the ungated operator)
    */
  def ngramJaccardPairsBudgeted(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, maxCandidates: Long,
      onExceed: String = "fail"): DataFrame = {
    // both frames are double-consumed: the sorted-token verify frame by
    // BOTH verify-side joins, the ranked-prefix frame by the bound and
    // BOTH candidate-join sides; without the gate's persist their
    // compute-once cost rides on AQE exchange reuse, which flaps with JVM
    // history in long sessions (the reason d25 carries a checkpoint pin)
    val arrs = sortedTokenArrays(docs, idCol, textCol)
    val prefix = ppjoinPrefix(docs, idCol, textCol, blockCol, threshold)
    CandidateGate("ppjoin", maxCandidates, onExceed, Seq(arrs, prefix),
      "max_prefix_df",
      w => s"worst block '${w.get(0)}': ${w.getLong(1)} pairs, " +
        s"max prefix df ${w.getLong(2)}",
      "re-block on a finer key, raise the threshold, or fall back to " +
        "MinHash banding (onExceed=\"minhash\")",
      fallback = Some("minhash" -> (() =>
        minhashNearDuplicates(docs, idCol, textCol, threshold = threshold)
          .withColumnRenamed("est_jaccard", "jaccard"))))(
      bound = ppjoinCandidateBoundFrom(prefix),
      pairs = ngramJaccardVerified(arrs, prefix, threshold))
  }

  /** LSH banding auto-tuner — the actionable end of d23's S-curve audit:
    * given the Jaccard threshold a pipeline wants to catch and the
    * false-negative probability it can tolerate AT that threshold,
    * return the cheapest (bands, rows) configuration. A (b, r) banding
    * misses a J-similar pair with probability (1 − J^r)^b; the tuner
    * scans r = 1..rMax and picks the minimal b satisfying the budget,
    * then the (b, r) with the smallest signature k = b·r — larger r
    * suppresses low-J candidate noise, so among equal-k configs the
    * LARGEST r wins (fewest false candidates for the same recall).
    *
    * Pure configuration math — no data, no Spark; deterministic, so the
    * chosen config can be pinned in review. Returns (k, bands, rows,
    * missProb at threshold, s-curve midpoint (1/b)^(1/r)).
    */
  def tuneBanding(threshold: Double, maxMissProb: Double,
      rMax: Int = 32, bMax: Int = 256): (Int, Int, Int, Double, Double) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1), got $threshold")
    require(maxMissProb > 0 && maxMissProb < 1, s"maxMissProb must be in (0,1), got $maxMissProb")
    require(rMax >= 1 && bMax >= 1, s"need rMax >= 1 and bMax >= 1, got rMax=$rMax bMax=$bMax")
    def miss(b: Int, r: Int): Double = math.pow(1.0 - math.pow(threshold, r), b)
    val candidates = for {
      r <- 1 to rMax
      b = (1 to bMax).find(miss(_, r) <= maxMissProb)
      if b.isDefined
    } yield (b.get * r, b.get, r)
    require(candidates.nonEmpty,
      s"no (bands <= $bMax, rows <= $rMax) meets missProb <= $maxMissProb at J = $threshold — " +
        "raise the budget or the search bounds")
    // minimal signature first; among equal k the largest r (sharpest curve)
    val (k, b, r) = candidates.minBy { case (k0, _, r0) => (k0, -r0) }
    (k, b, r, miss(b, r), math.pow(1.0 / b, 1.0 / r))
  }

  /** MinHash estimator-error audit: the measured-accuracy report for the
    * k-permutation MinHash this engine's dedup paths run on — per
    * within-block pair, compare the SIGNATURE-AGREEMENT estimate
    * (matches/k) against the EXACT shingle-set Jaccard and histogram the
    * absolute error into tenths. "k = 8 permutations" is a accuracy
    * claim (σ = √(J(1−J)/k) ≈ 0.17 at J = 0.5); this entry turns it into
    * a measured distribution on the actual corpus, the same discipline
    * as d08/d09's recall\@k and d23's banding S-curve.
    *
    * Error bucketing is EXACT integer arithmetic — bucket =
    * min(9, ⌊|m·u − i·k|·10 / (k·u)⌋) clears both rational denominators
    * (m/k vs i/u), so no fp comparison sits on a bucket boundary.
    *
    * Scale shape: signatures and sorted shingle arrays are computed once
    * per doc (one projection); pairs come from the within-block
    * self-join (blocked exactly like d06 — at corpus scale the audit
    * runs on a SAMPLE of blocks, which the blockCol filter upstream
    * expresses); the histogram is one tiny aggregate.
    *
    * Pair budget (round 14 — the round-13 `weak` mark): a block-FRACTION
    * sample alone holds the sampling rate constant while block sizes grow
    * linearly with corpus scale, so sampled-block pair cost still grows
    * QUADRATICALLY. `maxBlockDocs` bounds it: per block of size nb, docs
    * are thinned deterministically (md5 order-hash of the id ≡ 0 mod
    * rate, rate = ⌈nb/maxBlockDocs⌉) to ~maxBlockDocs survivors, and each
    * surviving pair's histogram contribution is weighted by rate² — the
    * exact inverse of the pair-inclusion rate (both endpoints must
    * survive), so the weighted `n_pairs` estimates the unsampled count
    * and per-block audit cost is O(maxBlockDocs²) at ANY corpus scale.
    * All integer arithmetic (rate, rate², Σ weights are BIGINT) so any
    * engine replays it bit-for-bit; rate = 1 blocks are exact with
    * weight 1, i.e. the default cap reproduces the unsampled audit.
    *
    * @return (err_bucket 0-9, n_pairs) — bucket b covers
    *         |est − exact| ∈ [b/10, (b+1)/10); n_pairs is the
    *         inverse-probability-weighted pair count (exact when no block
    *         exceeds `maxBlockDocs`)
    */
  def minhashErrorAudit(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int = 8, n: Int = 3,
      maxBlockDocs: Int = Int.MaxValue): DataFrame = {
    require(k >= 1 && n >= 1, s"need k >= 1 and n >= 1, got k=$k n=$n")
    require(maxBlockDocs >= 2, s"need maxBlockDocs >= 2, got $maxBlockDocs")
    // thinning happens BEFORE the signature/shingle projection: the rate
    // aggregate reads ids only (column pruning keeps text out of that
    // branch), survivors are selected on (doc_id, rate) alone, and only
    // THEY pay the md5 signature + sorted-shingle-array compute — so the
    // per-doc heavy stage is O(maxBlockDocs) per block too, not just the
    // pair stage. Sampling is a pure function of doc_id, so projecting
    // after the filter changes cost, never the result the oracle replays.
    val base0 = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
        col(textCol).as("__text"))
    // per-block thinning rate: one tiny ids-only aggregate, broadcast back
    val rates = base0.groupBy(col("blk")).agg(count(lit(1)).as("__nb"))
      .select(col("blk"),
        expr(s"(__nb + ${maxBlockDocs - 1}L) div ${maxBlockDocs}L").as("__rate"))
    val sampled = base0.join(broadcast(rates), Seq("blk"))
      .filter(pmod(graft.operators.SampleOps.md5OrderHash(col("doc_id")),
        col("__rate")) === 0)
      .select(col("blk"), col("doc_id"),
        md5MinhashSignature(col("__text"), k, n).as("sig"),
        sort_array(array_distinct(shingles(col("__text"), n))).as("sh"),
        col("__rate"))
    val a = sampled.select(col("blk"), col("doc_id").as("doc_a"),
      col("sig").as("sig_a"), col("sh").as("sh_a"),
      (col("__rate") * col("__rate")).as("__w"))
    val b = sampled.select(col("blk"), col("doc_id").as("doc_b"),
      col("sig").as("sig_b"), col("sh").as("sh_b"))
    val m = size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
      bit => bit)).cast("long")
    val inter = graft.functions.SortedIntersectCountExpr
      .sortedIntersectCount(col("sh_a"), col("sh_b")).cast("long")
    val u = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    a.join(b, Seq("blk")).filter(col("doc_a") < col("doc_b"))
      .select(m.as("__m"), inter.as("__i"), u.as("__u"), col("__w"))
      .select(least(lit(9L),
        expr(s"(abs(__m * __u - __i * ${k}L) * 10L) div (${k}L * __u)"))
        .as("err_bucket"), col("__w"))
      .groupBy(col("err_bucket")).agg(sum(col("__w")).as("n_pairs"))
  }

  /** DIRECTIONAL containment pairs: (doc_a, doc_b) where at least
    * `threshold` of doc_a's distinct tokens also appear in doc_b —
    * C(A→B) = |T_A ∩ T_B| / |T_A|. The asymmetric sibling of
    * [[ngramJaccardPairs]]: Jaccard misses quotation (a tweet embedded
    * in a news roundup scores near 0 symmetric similarity but
    * containment 1.0), and quote/subset detection is exactly the
    * "is this doc's content already inside a bigger doc" question
    * corpus curation asks before keeping both.
    *
    * Scale shape — asymmetric prefix filter (the containment variant of
    * PPJoin's): order each doc's tokens by ascending global df; if
    * C(A→B) ≥ t then B must share one of A's FIRST
    * `|A| − ceil(t·|A|) + 1` rarest tokens, so only that prefix of the
    * PROBE side joins the full index side — candidate volume is
    * Σ df(tok) over rare prefix tokens, not Σ df². No symmetric
    * size-ratio prune exists (B may be arbitrarily larger — that is the
    * point); the index side is bounded instead by `|B| ≥ ceil(t·|A|)`.
    * Exact verify on sorted distinct-token arrays
    * ([[graft.functions.SortedIntersectCountExpr]]); the EPS guards are
    * d05's exact-integral-boundary discipline.
    *
    * @return (doc_a, doc_b, containment) with containment ≥ threshold,
    *         doc_a ≠ doc_b, within `blockCol` blocks
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double,
      maxCandidates: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // the d05 discipline (round 16): the ranked token frame feeds BOTH
    // candidate sides (the prefix-filtered probes AND the full
    // directional index) and the sorted-token frame both verify sides —
    // the gate persists each for the call's duration so the
    // single-compute cost is structural, not AQE-exchange-reuse weather.
    // Budget gate (round 18, d05's discipline applied to d28): the exact
    // asymmetric candidate bound from the SAME persisted ranked frame,
    // before paying a join the sf10 run measured going quadratic on a
    // no-vocabulary-growth corpus (6.5 s → 403 s, 20 GB shuffle).
    // Fail-loud only: containment has no cheap estimating sibling
    // (MinHash estimates the SYMMETRIC Jaccard), so the honest
    // over-budget responses are re-block / raise threshold.
    val ranked = ppjoinPrefixRanked(docs, idCol, textCol, blockCol)
    val arrs = sortedTokenArrays(docs, idCol, textCol)
    CandidateGate("containment", maxCandidates, "fail", Seq(ranked, arrs),
      "max_index_df",
      w => s"worst block '${w.get(0)}': ${w.getLong(1)} pairs, " +
        s"max index df ${w.getLong(2)}",
      "re-block on a finer key or raise the threshold")(
      bound = containmentCandidateBoundFrom(ranked, threshold),
      pairs = containmentVerified(ranked, arrs, threshold))
  }

  /** The full ranked token frame (blk, tok, doc_id, sz, pos) — rare-first
    * global-df ranking with per-doc size, the shared input of PPJoin's
    * symmetric prefix ([[ppjoinPrefix]]) and d28's asymmetric one.
    */
  private[graft] def ppjoinPrefixRanked(docs: DataFrame, idCol: String,
      textCol: String, blockCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks0 = docs.select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
    val tokenDf = toks0.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    toks0.join(tokenDf, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("tok").asc)))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .select(col("blk"), col("tok"), col("doc_id"), col("sz"), col("pos"))
  }

  /** The lazy candidate-generate + exact-verify pipeline of
    * [[containmentPairs]] over PRE-BUILT ranked and sorted-token frames —
    * exposed for the reuse-OFF PlanAuditSpec pin, like d05's.
    */
  private[graft] def containmentVerified(ranked: DataFrame, arrs: DataFrame,
      threshold: Double): DataFrame = {
    val EPS = 1e-9
    val pa = ranked
      .filter(col("pos") <= col("sz") - ceil(lit(threshold) * col("sz") - EPS) + 1)
      .select(col("blk"), col("tok"), col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val pb = ranked.select(col("blk"), col("tok"),
      col("doc_id").as("doc_b"), col("sz").as("sz_b"))
    val cands = pa.join(pb, Seq("blk", "tok"))
      .filter(col("doc_a") =!= col("doc_b")
        && col("sz_b") >= ceil(lit(threshold) * col("sz_a") - EPS))
      .select(col("doc_a"), col("doc_b"), col("sz_a")).distinct()
    cands
      .join(arrs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
      .withColumn("inter", graft.functions.SortedIntersectCountExpr
        .sortedIntersectCount(col("toks_a"), col("toks_b")))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("sz_a")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Content-defined-chunking sub-document dedup (the storage-dedup /
    * rsync idea applied to corpus text): chunk boundaries are decided by
    * the CONTENT — a token is a boundary iff its 60-bit md5 order-hash ≡
    * 0 (mod `divisor`), giving mean chunk length `divisor` tokens — so an
    * edit moves only the boundaries of the chunk it touches, never the
    * downstream ones. Fixed-width chunking loses ALL alignment after one
    * insertion; CDC is why near-identical documents (version bumps,
    * boilerplate wrappers, quote chains) still share almost every chunk.
    * Per doc: how many of its chunks also appear in ≥1 OTHER document —
    * the sub-document duplication ratio d01/d03 (whole-doc grain) and d17
    * (pairwise spans) cannot see at corpus grain.
    *
    * Per-token boundary decisions (a gear-CDC degenerate with window 1)
    * keep the rule engine-replayable: the same md5-prefix hash family as
    * the split/pack operators, so DuckDB replays boundaries bit-for-bit.
    * Chunk identity = md5 of the space-joined chunk tokens.
    *
    * Scale shape: posexplode + ONE doc-key exchange drives both the
    * boundary prefix-sum window and the per-chunk regroup
    * (HashPartitioning(doc) satisfies clustering on (doc, chunk)); chunk
    * fingerprints then cost one corpus-of-chunks aggregate + an equi-join
    * back (shuffle-hash on fp at scale) + the per-doc roll-up. No
    * all-pairs anywhere; the cross-doc sharing decision rides the fp key.
    *
    * @return (doc_id, n_chunks, n_shared_chunks, shared_ratio)
    */
  def cdcChunkShared(docs: DataFrame, idCol: String, textCol: String,
      divisor: Int = 8): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2 (mean chunk length), got $divisor")
    import org.apache.spark.sql.expressions.Window
    val toks = spread(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("__bnd",
        when(pmod(SampleOps.md5OrderHash(col("tok")), lit(divisor.toLong)) === 0, 1L)
          .otherwise(0L))
    val prior = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = toks
      .withColumn("chunk_id", coalesce(sum(col("__bnd")).over(prior), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")))).as("fp"))
    val counts = chunks.select(col("fp"), col("doc_id")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("__nd"))
    chunks.join(counts, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("__nd") > 1, lit(1))).as("n_shared_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
        (col("n_shared_chunks").cast("double") / col("n_chunks")).as("shared_ratio"))
  }
}
