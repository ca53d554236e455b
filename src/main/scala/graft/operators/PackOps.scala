package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining: lay documents out in a
  * deterministic concatenated token stream and chunk it into fixed
  * `tokenBudget` training sequences (the GPT-style concat-and-chunk step
  * between dedup and the trainer).
  *
  * Scale design: a single global ordering would funnel the whole corpus
  * through ONE window partition — the classic driver-shaped bottleneck.
  * Instead docs are hash-sharded and each shard packs independently
  * (window per shard), so 100 TB packs with `shards`-way parallelism and
  * one shuffle; a sequence is identified by (shard, seq_no). Chunk
  * boundaries fall mid-document exactly as in real pretraining pipelines —
  * the op reports each doc's STARTING (sequence, offset) in its shard's
  * stream; the consumer slicing the token stream carries the remainder
  * into the next sequence.
  */
object PackOps {

  /** Shared layout pass: every doc with its `__oh` order key, `shard`,
    * token array `__toks` (tokenized exactly once, NULL text → NULL),
    * `n_tokens`, and cumulative starting offset `__off` in its shard's
    * token stream (one window per shard — the only shuffle).
    */
  private def withLayout(docs: DataFrame, idCol: String, textCol: String,
      shards: Int, orderHash: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__oh").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), col(textCol))
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .withColumn("__oh", orderHash(col(idCol)))
      .withColumn("shard", pmod(col("__oh"), lit(shards.toLong)).cast("int"))
      .withColumn("n_tokens", coalesce(size(col("__toks")), lit(0)))
      .withColumn("__off", coalesce(sum(col("n_tokens").cast("long")).over(w), lit(0L)))
  }

  /** Assign every doc its (shard, seq_no, seq_offset) in the packed layout.
    *
    * Deterministic: order within a shard is (orderHash(id), id) — stable
    * under repartitioning and re-runs, never arrival order. Docs with NULL
    * text pack as zero-length (they occupy no budget but keep their slot,
    * so ids never silently vanish from the layout).
    *
    * @param tokenBudget tokens per training sequence (e.g. 2048)
    * @param shards      independent packing streams; at scale set to
    *                    O(cluster parallelism) — each shard is one window
    *                    partition
    * @param orderHash   id→order-key hash (xxhash64 default;
    *                    [[SampleOps.md5OrderHash]] for oracle-replayable
    *                    layouts)
    * @return (idCol, shard, seq_no, seq_offset, n_tokens)
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      tokenBudget: Int, shards: Int = 256,
      orderHash: Column => Column = xxhash64(_)): DataFrame = {
    require(tokenBudget >= 1, s"tokenBudget must be >= 1, got $tokenBudget")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    withLayout(docs, idCol, textCol, shards, orderHash)
      // integral div/mod, never double division: shard offsets at 100 TB
      // exceed the 2^53 range where a double quotient silently rounds
      .select(col(idCol), col("shard"),
        expr(s"__off div $tokenBudget").as("seq_no"),
        pmod(col("__off"), lit(tokenBudget.toLong)).as("seq_offset"),
        col("n_tokens"))
  }

  /** Per-document overlapping chunking — the RAG / long-context-pretraining
    * splitter: each doc yields chunks of at most `maxTokens` whitespace
    * tokens, consecutive chunks sharing `overlap` tokens. Chunk k starts at
    * token `k·(maxTokens−overlap)`; the last chunk is the one whose window
    * reaches the doc's end (shorter chunks fully contained in their
    * predecessor are never emitted). Docs at or under `maxTokens` yield
    * exactly themselves as chunk 0; NULL/token-less docs yield nothing.
    *
    * Pure per-row column algebra (tokenize once, slice per chunk) —
    * zero shuffle, scales with input splits. Unlike [[packSequences]]
    * (which cuts a concatenated stream at budget boundaries for the
    * trainer), chunking preserves document identity per piece.
    *
    * @return (idCol, chunk_id, chunk_text, n_tokens)
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    // token count computed once, bound to one column — every window
    // formula references __n, never a second size(__toks)
    val n = col("__n")
    // integral ceil((n - maxTokens) / stride); one chunk when n <= maxTokens
    val nChunks = when(n <= maxTokens, lit(1L))
      .otherwise(lit(1L) + expr(s"(__n - $maxTokens + ${stride - 1}) div $stride"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(n > 0)
      .select(col(idCol), explode(transform(
        sequence(lit(0L), nChunks - 1),
        k => struct(
          k.cast("int").as("chunk_id"),
          concat_ws(" ", slice(col("__toks"),
            (k * stride + 1).cast("int"), lit(maxTokens))).as("chunk_text"),
          least(lit(maxTokens), n - (k * stride).cast("int")).as("n_tokens")))).as("c"))
      .select(col(idCol), col("c.chunk_id"), col("c.chunk_text"), col("c.n_tokens"))
  }

  /** Shard manifest for the packed layout — the capacity-planning report
    * a trainer reads before launch: per shard, contributing docs, total
    * tokens, sequence count at `tokenBudget`, and fill utilization (the
    * waste is the final partially-filled sequence per shard). The
    * numbers [[packSequences]] implies, aggregated without ever running
    * the window: shard totals are order-independent, so the manifest is
    * ONE hash aggregate over (shard, token-count) projections — no
    * per-shard ordering, no offsets, corpus-scan-bound at any scale.
    * Sequence count and utilization are integral arithmetic plus one fp
    * division of exact integers; an all-empty shard reports 0 sequences
    * and NULL utilization.
    *
    * @return (shard, n_docs, n_tokens, n_seqs, utilization)
    */
  def packManifest(docs: DataFrame, idCol: String, textCol: String,
      tokenBudget: Int, shards: Int = 256,
      orderHash: Column => Column = xxhash64(_)): DataFrame = {
    require(tokenBudget >= 1, s"tokenBudget must be >= 1, got $tokenBudget")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    docs.select(
        pmod(orderHash(col(idCol)), lit(shards.toLong)).cast("int").as("shard"),
        coalesce(size(TextOps.tokens(col(textCol))), lit(0)).cast("long").as("__w"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_tokens"))
      .withColumn("n_seqs", expr(s"(n_tokens + ${tokenBudget - 1}) div $tokenBudget"))
      .withColumn("utilization",
        when(col("n_tokens") > 0,
          col("n_tokens").cast("double") / (col("n_seqs") * tokenBudget)))
  }

  /** Materialize the packed layout: one row per training sequence
    * `(shard, seq_no)` carrying its actual token payload (`seq_text`,
    * space-joined), its fill (`seq_len` — `tokenBudget` for every sequence
    * but possibly the last of each shard), and the number of contributing
    * docs. The step [[packSequences]] plans and the trainer consumes.
    *
    * Scale design: a doc spanning a budget boundary is CUT there, exactly
    * like the layout says — each doc slices its own token array into the
    * 1–2 (rarely more) sequence pieces it touches, so the shuffle moving
    * tokens to their sequence carries one row per (doc, spanned sequence),
    * never one per token, and the groupBy reassembles pieces by their
    * in-sequence offset. Zero-token docs occupy no budget and are skipped
    * here (they keep their slot in [[packSequences]]'s layout).
    */
  def materializeSequences(docs: DataFrame, idCol: String, textCol: String,
      tokenBudget: Int, shards: Int = 256,
      orderHash: Column => Column = xxhash64(_)): DataFrame = {
    require(tokenBudget >= 1, s"tokenBudget must be >= 1, got $tokenBudget")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val b = lit(tokenBudget.toLong)
    val pieces = withLayout(docs, idCol, textCol, shards, orderHash)
      .filter(col("n_tokens") > 0)
      // the sequences this doc's token range [__off, __off + n) spans
      .select(col("shard"), col("__off"), col("n_tokens").cast("long").as("__n"),
        col("__toks"),
        explode(sequence(expr(s"__off div $tokenBudget"),
          expr(s"(__off + n_tokens - 1) div $tokenBudget"))).as("seq_no"))
      .withColumn("seq_offset", greatest(col("__off") - col("seq_no") * b, lit(0L)))
      .withColumn("__from", greatest(col("seq_no") * b - col("__off"), lit(0L)))
      .withColumn("__upto", least(col("__n"), (col("seq_no") + 1) * b - col("__off")))
      .withColumn("piece", slice(col("__toks"),
        (col("__from") + 1).cast("int"), (col("__upto") - col("__from")).cast("int")))
    pieces.groupBy(col("shard"), col("seq_no"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("piece")).cast("long")).as("seq_len"),
        // collect_list order is nondeterministic; the in-sequence offset
        // (unique per piece) is the sort key that makes reassembly exact
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("seq_offset"), col("piece")))),
          s => s.getField("piece"))), " ").as("seq_text"))
  }

  /** Deterministic per-epoch training schedule over a packed layout: each
    * epoch reads every (shard, seq) unit exactly once, in an order that
    * VARIES by epoch (repeating one fixed order each epoch measurably
    * hurts convergence — the standard reshuffle-every-epoch rule) yet is
    * fully REPRODUCIBLE (resume-from-step, run-to-run bit-equal): the
    * order key is the md5 order-hash of (epoch | shard | seq), a pure
    * function of the triple. Two grains, matching how loaders stream:
    * shards are visited in per-epoch hash order (`shard_ord`), sequences
    * within a shard likewise (`seq_ord`).
    *
    * Scale shape: the schedule frame is units×epochs rows of small ids;
    * the within-shard rank rides a (epoch, shard)-partitioned window and
    * the shard visit order a per-epoch window over the SHARD LIST (tiny
    * by construction — shards is a config knob, not data-sized). No
    * global sort: the loader streams shard_ord-major, seq_ord within.
    *
    * @return (epoch, shard, shard_ord, seq_no, seq_ord)
    */
  def epochSchedule(packed: DataFrame, shardCol: String, seqCol: String,
      epochs: Int): DataFrame = {
    require(epochs >= 1 && epochs <= 10000, s"epochs must be in [1, 10000], got $epochs")
    import org.apache.spark.sql.expressions.Window
    def h(cols: Column*) = SampleOps.md5OrderHash(concat_ws("|", cols: _*))
    val units = packed
      .select(col(s"`$shardCol`").as("shard"), col(s"`$seqCol`").as("seq_no"))
      .distinct()
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
    val seqW = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(h(col("epoch"), col("shard"), col("seq_no")).asc, col("seq_no").asc)
    val shardOrd = units.select(col("epoch"), col("shard")).distinct()
      .withColumn("shard_ord", row_number().over(
        Window.partitionBy(col("epoch"))
          .orderBy(h(col("epoch"), col("shard")).asc, col("shard").asc)))
    units
      .withColumn("seq_ord", row_number().over(seqW))
      .join(broadcast(shardOrd), Seq("epoch", "shard"))
      .select(col("epoch"), col("shard"), col("shard_ord"),
        col("seq_no"), col("seq_ord"))
  }
}
