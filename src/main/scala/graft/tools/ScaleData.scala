package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of a driver testdata directory, for the
  * bench's sf1 section (BENCH_NOTES.md round 13): every scale claim in the
  * repo (banded LSH shuffle volume, PPJoin prefix pruning, checkpointed
  * CC, MG sketch vs NDV groupBy) is design-argued and sf0.1-twinned; a 10×
  * data point converts the arguments into measurements.
  *
  * NOT test input synthesis: correctness entries keep running ONLY on the
  * driver's own parquet. This tool replicates that same data `copies`
  * times with key-domain offsets so the result is a valid larger instance
  * of the same schema:
  *
  *  - fact/dim keys are offset per copy by (max(key)+1), so intra-copy
  *    join relationships are preserved exactly and cross-copy keys never
  *    collide — selectivities and join fan-outs scale linearly;
  *  - region/nation stay fixed (true dimensions — a bigger warehouse has
  *    more orders, not more nations);
  *  - events shift `ts` by 31 days per copy (longer history at the same
  *    arrival density — windows grow in count, not in width) and offset
  *    event/user ids;
  *  - document TEXT is perturbed per copy with a token-keyed rename
  *    (`tok` → `tok_c` for ~40% of the vocab, chosen by xxhash64(tok, c)):
  *    within-copy Jaccard structure is preserved EXACTLY (the rename is a
  *    bijection applied to both sides of any pair), while cross-copy
  *    near-identity is destroyed (same-doc Jaccard ≈ 0.6/1.4 ≈ 0.43 vs
  *    the unmodified copy 0, ≈ 0.36/1.64 ≈ 0.22 between two perturbed
  *    copies — both below every dedup threshold in use, 0.7/0.8/0.9) —
  *    without this, every doc would acquire `copies−1` exact clones and
  *    pair volume would scale quadratically instead of like a real corpus;
  *  - embeddings apply a per-copy SIGNED ROTATION (dimension rotation by
  *    7·c plus xxhash64-keyed sign flips — an orthogonal map): within-copy
  *    cosines are preserved EXACTLY (copy c is the same point cloud in a
  *    rotated basis, so every ANN/semantic-dedup entry sees 10 independent
  *    instances of the sf0.1 geometry — same cluster structure, same CC
  *    diameter, same recall), while cross-copy similarity decorrelates to
  *    ≈ 0 ± 1/√dim, far below the ≥0.9 thresholds. A noise perturbation
  *    would do neither: it thins within-copy edges (changing operator
  *    behavior vs sf0.1) while leaving ~0.76 cross-copy cosine.
  *
  * Everything is column algebra over xxhash64 — no RNG, no timestamps —
  * so repeated runs produce byte-identical content (row order aside).
  * Output layout mirrors the driver's (`<dest>/<table>.parquet`), written
  * as parquet directories; a `_GRAFT_SCALE_OK` sentinel makes the
  * generation run-once per workspace.
  */
object ScaleData {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Generate `destDir` from `srcDir` at `copies`× unless the sentinel
    * already marks it complete FOR THIS (src, copies, tables) request — a
    * sentinel recording a different source dir, copy count, or table set
    * means the directory holds some OTHER instance, and silently benching
    * it would mislabel every scaled number; regenerate instead. Returns
    * true when generation ran.
    *
    * `tables` (round 17) restricts generation to a subset — the sf10
    * (copies=100) scale point only needs the tables its heavy entries
    * scan (documents, events), and generating 100× lineitem for nothing
    * would dominate the section's cost. The sentinel records the subset,
    * so an sf10 directory can never be mistaken for a full instance.
    */
  def ensure(spark: SparkSession, srcDir: String, destDir: String,
      copies: Int = 10, partitions: Int = 32,
      tables: Seq[String] = Tables): Boolean = {
    require(copies >= 1, s"copies must be >= 1, got $copies")
    require(tables.nonEmpty && tables.forall(Tables.contains),
      s"tables must be a nonempty subset of $Tables, got $tables")
    // the subset-replay env thins every documents/embeddings read through
    // GraftSession.table — generating under it would silently bake the
    // thinned corpus into the scaled instance as if it were the full one
    require(!sys.env.contains("SPARK_GRAFT_SUBSET"),
      "refusing to generate scaled data with SPARK_GRAFT_SUBSET set")
    val sentinel = java.nio.file.Paths.get(destDir, "_GRAFT_SCALE_OK")
    // gen= is the generator version: bump it whenever the generation
    // algebra changes (round 14: shared doc/vec offset), so directories
    // produced by an older generator regenerate instead of being benched
    // as if current
    // the tables tag is omitted for the full set so pre-round-17 sf1
    // sentinels stay valid (no pointless regeneration)
    val tablesTag =
      if (tables.toSet == Tables.toSet) ""
      else s" tables=${tables.distinct.sorted.mkString(",")}"
    val stamp = s"src=$srcDir copies=$copies gen=2$tablesTag\n"
    if (java.nio.file.Files.exists(sentinel)) {
      val recorded = new String(java.nio.file.Files.readAllBytes(sentinel),
        java.nio.charset.StandardCharsets.UTF_8)
      if (recorded == stamp) return false
      System.err.println(s"[scale-data] $destDir sentinel records " +
        s"'${recorded.trim}' but '${stamp.trim}' was requested — regenerating")
      java.nio.file.Files.delete(sentinel)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    def src(n: String): DataFrame = spark.read.parquet(s"$srcDir/$n.parquet")
    def write(n: String, df: DataFrame): Unit =
      df.repartition(partitions).write.mode("overwrite").parquet(s"$destDir/$n.parquet")
    def off(df: DataFrame, keyCol: String): Long =
      df.agg(max(col(keyCol)).cast("long")).head().getLong(0) + 1L
    // every copy of every row: one explode, no join
    def fan(df: DataFrame): DataFrame =
      df.withColumn("__c", explode(sequence(lit(0L), lit(copies - 1L))))
    def shifted(key: String, o: Long) = (col(key) + col("__c") * o).as(key)

    val want = tables.toSet
    // offsets are LAZY: a subset generation (sf10's documents+events) must
    // not pay a scan of every other source table just to compute offsets
    // it never uses
    lazy val custOff = off(src("customer"), "c_custkey")
    lazy val ordOff = off(src("orders"), "o_orderkey")
    lazy val partOff = off(src("part"), "p_partkey")
    lazy val suppOff = off(src("supplier"), "s_suppkey")
    def offEv(keyCol: String): Long =
      graft.engine.GraftSession.table(spark, srcDir, "events")
        .agg(max(col(keyCol)).cast("long")).head().getLong(0) + 1L
    lazy val evOff = offEv("event_id")
    lazy val userOff = offEv("user_id")
    // ONE shared offset across the doc_id and vec_id domains: the driver
    // generates embeddings row i for document i, and doc↔embedding joins
    // (m07-style doc-media audits) rely on that pairing — independent
    // per-table offsets would break it for every copy c > 0 whenever the
    // two key domains differ (e.g. fewer vectors than docs)
    lazy val docOff = math.max(off(src("documents"), "doc_id"),
      off(src("embeddings"), "vec_id"))
    lazy val vecOff = docOff

    if (want("region")) write("region", src("region"))
    if (want("nation")) write("nation", src("nation"))

    def keep(df: DataFrame, renamed: Map[String, org.apache.spark.sql.Column]): Seq[org.apache.spark.sql.Column] =
      df.columns.toSeq.filterNot(_ == "__c").map(c => renamed.getOrElse(c, col(c)))

    if (want("customer")) {
      val cust = fan(src("customer"))
      write("customer", cust.select(keep(cust, Map("c_custkey" -> shifted("c_custkey", custOff))): _*))
    }
    if (want("supplier")) {
      val supp = fan(src("supplier"))
      write("supplier", supp.select(keep(supp, Map("s_suppkey" -> shifted("s_suppkey", suppOff))): _*))
    }
    if (want("part")) {
      val part = fan(src("part"))
      write("part", part.select(keep(part, Map("p_partkey" -> shifted("p_partkey", partOff))): _*))
    }
    if (want("orders")) {
      val ord = fan(src("orders"))
      write("orders", ord.select(keep(ord, Map(
        "o_orderkey" -> shifted("o_orderkey", ordOff),
        "o_custkey" -> shifted("o_custkey", custOff))): _*))
    }
    if (want("lineitem")) {
      val li = fan(src("lineitem"))
      write("lineitem", li.select(keep(li, Map(
        "l_orderkey" -> shifted("l_orderkey", ordOff),
        "l_partkey" -> shifted("l_partkey", partOff),
        "l_suppkey" -> shifted("l_suppkey", suppOff))): _*))
    }

    // events go through GraftSession.table, not a bare read: the driver
    // has shipped `ts` as both TIMESTAMP(NANOS) — where a plain
    // spark.read THROWS before any conversion can run — and NTZ micros;
    // table() normalizes either to a UTC-micros TIMESTAMP, which is what
    // the scaled copy is written as
    if (want("events")) {
      val evSrc = graft.engine.GraftSession.table(spark, srcDir, "events")
      val ev = fan(evSrc)
      write("events", ev.select(keep(ev, Map(
        "event_id" -> shifted("event_id", evOff),
        "user_id" -> shifted("user_id", userOff),
        "ts" -> timestamp_micros(unix_micros(col("ts")) +
          col("__c") * lit(31L * 86400L * 1000000L)).as("ts"))): _*))
    }

    if (want("documents")) {
    val docs = fan(src("documents"))
    // the empty-string guard matters: split on ' ' yields "" for runs of
    // spaces, and renaming "" to "_c" would INSERT tokens the source
    // never had — breaking the exact within-copy Jaccard bijection
    val perturbedText = when(col("__c") === 0 || col("text").isNull, col("text"))
      .otherwise(concat_ws(" ", transform(split(col("text"), " "),
        t => when(t =!= "" && pmod(xxhash64(t, col("__c")), lit(5)) < 2,
          concat(t, lit("_"), col("__c").cast("string"))).otherwise(t))))
    // copy 0 keeps the SOURCE n_chars verbatim (even a fixture row where
    // n_chars deliberately disagrees with length(text) must replicate
    // un-"repaired" — profiling entries exist to catch exactly that);
    // perturbed copies recompute it against their rewritten text
    write("documents", docs.select(keep(docs, Map(
      "doc_id" -> shifted("doc_id", docOff),
      "text" -> perturbedText.as("text"),
      "n_chars" -> when(col("__c") === 0 || col("n_chars").isNull, col("n_chars"))
        .otherwise(length(perturbedText).cast("long")).as("n_chars"))): _*))
    }

    if (want("embeddings")) {
    val emb = fan(src("embeddings"))
    val dim = src("embeddings").select(size(col("embedding"))).filter(col("size(embedding)") > 0)
      .head().getInt(0)
    val perturbedVec = when(col("__c") === 0 || col("embedding").isNull, col("embedding"))
      .otherwise(transform(sequence(lit(0), lit(dim - 1)), i =>
        element_at(col("embedding"), (pmod(i + col("__c") * 7, lit(dim)) + 1).cast("int")) *
          when(pmod(xxhash64(i, col("__c")), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f))))
    // label is a CLUSTER id: a 10× corpus grows new clusters, it does not
    // stretch old ones across decorrelated vectors — an un-offset label
    // would make every label-blocked pair join (d15's semantic dedup)
    // compare cross-copy vectors whose ~N(0, 1/√dim) cosines sprinkle
    // random edges through the block at low thresholds, chaining the
    // copies into one giant component (observed: CC non-convergence)
    val labelOff = off(src("embeddings"), "label")
    write("embeddings", emb.select(keep(emb, Map(
      "vec_id" -> shifted("vec_id", vecOff),
      "label" -> (col("label") + col("__c") * labelOff).cast("int").as("label"),
      "embedding" -> perturbedVec.as("embedding"))): _*))
    }

    java.nio.file.Files.write(sentinel,
      stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    true
  }

  /** Deterministic Zipfian corpus WITH Heaps-law vocabulary growth — the
    * fixture the copies=100 scale point lacks (round 18). The sf10
    * directory replicates the driver's 31-token-vocab documents table,
    * which is PPJoin's provable worst case: no new vocabulary appears as
    * the corpus grows, every token's df scales with N, and the prefix
    * filter's candidate volume turns quadratic (measured: d05 483 s /
    * 34 GB shuffle at copies=100 — BENCH_NOTES round 17). Real corpora
    * are not shaped like that: token frequencies are Zipfian and
    * vocabulary grows ~√N (Heaps' law, β ≈ 0.5), so rare tokens STAY
    * rare and the prefix filter stays near-linear. This generator scales
    * the bench's sf0.1 Zipf twin (5000 docs, 2000-token vocab, the
    * 1.98 s measurement) to any N with vocab = 2000·√(N/5000): the same
    * harmonic CDF, per-doc 25–54 distinct tokens, one block.
    *
    * Determinism: each doc draws from a Random seeded by its own id —
    * byte-identical content for any partitioning. Sentinel-guarded like
    * [[ensure]] (records nDocs/vocab/gen so a differently-sized corpus
    * regenerates instead of being benched mislabeled).
    */
  def ensureZipfCorpus(spark: SparkSession, destDir: String, nDocs: Long,
      partitions: Int = 32): Boolean = {
    require(nDocs >= 1, s"nDocs must be >= 1, got $nDocs")
    val vocab = math.ceil(2000.0 * math.sqrt(nDocs / 5000.0)).toInt.max(100)
    val sentinel = java.nio.file.Paths.get(destDir, "_GRAFT_ZIPF_OK")
    val stamp = s"nDocs=$nDocs vocab=$vocab gen=1\n"
    if (java.nio.file.Files.exists(sentinel)) {
      val recorded = new String(java.nio.file.Files.readAllBytes(sentinel),
        java.nio.charset.StandardCharsets.UTF_8)
      if (recorded == stamp) return false
      System.err.println(s"[scale-data] $destDir zipf sentinel records " +
        s"'${recorded.trim}' but '${stamp.trim}' was requested — regenerating")
      java.nio.file.Files.delete(sentinel)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    var acc = 0.0
    val cdf = (1 to vocab).map { r => acc += 1.0 / r; acc }.toArray
    val bc = spark.sparkContext.broadcast(cdf)
    import spark.implicits._
    spark.range(1L, nDocs + 1L, 1L, partitions)
      .mapPartitions { it =>
        val c = bc.value
        it.map { id =>
          val rnd = new scala.util.Random(id * 2654435761L)
          val toks = scala.collection.mutable.LinkedHashSet[String]()
          val target = 25 + (id % 30).toInt
          while (toks.size < target) {
            val u = rnd.nextDouble() * c(c.length - 1)
            val i = java.util.Arrays.binarySearch(c, u)
            toks += s"tok${if (i >= 0) i else -i - 1}"
          }
          (id, toks.mkString(" "), "blk")
        }
      }
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")
    java.nio.file.Files.write(sentinel,
      stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    true
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val destDir = args.lift(1).getOrElse("benchdata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.engine.GraftSession.build(
      graft.engine.GraftSession.envCpus(16), "graft-scale-data")
    val ran = ensure(spark, srcDir, destDir, copies)
    println(s"[scale-data] $destDir ${if (ran) "generated" else "already present"}")
    spark.stop()
  }
}
