package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + catalog bootstrap (SURVEY.md §7 step 1).
  *
  * Mirrors the reference's startup stats harvest
  * (`engine/src/statistics_manager.cpp:9-142`: SHOW TABLES + COUNT(*) +
  * DESCRIBE + SHOW INDEX against live MySQL) with Spark's native
  * equivalents: parquet-footer schemas and Catalyst CBO statistics.
  *
  * Scale design: every conf here is chosen for a real cluster, tested on
  * local[32]. AQE handles runtime re-planning (skew joins, partition
  * coalescing); CBO + join reorder replicates the reference's DP join
  * enumeration (`sqlopt.cpp:607-670`) natively.
  */
object GraftSession {

  /** All driver testdata tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor. */
  val broadcastableDims: Set[String] = Set("region", "nation")

  /** SPARK_GRAFT_CPUS parsed with a message naming the env var (the
    * SPARK_GRAFT_SUBSET discipline): a malformed value fails loudly and
    * actionably instead of surfacing as a bare NumberFormatException
    * from deep inside a main.
    */
  def envCpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => default
    case Some(v) =>
      val t = v.trim
      require(t.nonEmpty && t.length <= 4 && t.forall(_.isDigit) && t.toInt >= 1,
        s"SPARK_GRAFT_CPUS: expected a positive integer, got '$v'")
      t.toInt
  }

  def build(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.statistics.histogram.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // whole-stage-codegen class cache sized for this workload (round 19):
      // the default 100 entries is smaller than one sweep of the query
      // suite, so by the time the sf1 section re-runs an entry its
      // generated classes are evicted and the "steady-state" measurement
      // pays compile+JIT again — measured on d05: 281k ms task evicted-cold
      // vs 103k warm, three rounds of false `regressed` stamps. A static
      // conf, so it must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // fork-free local-FS chmod (round 20, guide §7.3): without libhadoop,
      // RawLocalFileSystem.setPermission shells out to `chmod` on EVERY
      // created file — thread dumps during streaming micro-batches showed
      // all 32 task threads in Shell.run, one fork per state-store delta/
      // CRC file; reliable checkpoints and parquet writes pay the same.
      // NioLocalFileSystem applies the identical mode via java.nio,
      // in-process. Local-scheme-only by construction (a DFS deployment
      // never routes through fs.file.impl).
      .config("spark.hadoop.fs.file.impl",
        classOf[NioLocalFileSystem].getName)
      // checkpoint-file CHECKSUM sidecars off (round 20): Spark 4.1's
      // ChecksumCheckpointFileManager doubles every checkpoint write (data
      // + .checksum through a 512-thread pool) and task threads block on
      // the sidecar future inside state-store commit — measured 271k ->
      // 164k task-ms on the y09 micro-batches alone. These checkpoints are
      // per-run scratch validated against batch twins; a long-lived
      // production checkpoint on corruptible storage can re-enable this
      // at submit (session conf, not static).
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // FileSystem-based checkpoint manager (round 20): the default
      // FileContext-based manager's rename path runs Hadoop FileUtil
      // readLink — a forked `readlink` per renamed file on the local
      // scheme (thread dumps: all 32 tasks in Shell.execCommand under
      // FileContext.rename). The FileSystem-based manager renames via
      // File.renameTo (atomic on POSIX local disks). On HDFS both are
      // atomic; object-store deployments override at submit.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      // per-process warehouse: two JVMs on one machine (two test runs, a
      // bench beside tests) must never share the managed `events` table's
      // files. Static conf: it only takes effect when this call creates
      // the session, so a new in-memory catalog always starts with an
      // empty warehouse and the `events` CTAS never meets leftover files
      .config("spark.sql.warehouse.dir", scratchDir("graft-warehouse-"))
      // reliable-checkpoint files (dedup pair materialization, CC rounds)
      // are written per call; without this they live until the app dies —
      // with it, the ContextCleaner removes a checkpoint's files once its
      // RDD is garbage-collected, so a long-running session stays bounded
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the codegen-cache size is a STATIC SQL conf: builder.config only
    // takes effect for the FIRST session created in this JVM, so an
    // embedding app that built a session earlier silently keeps the
    // 100-entry default — the exact condition behind three rounds of
    // false regression stamps (round-20 advisor find). Read it back and
    // warn loudly here; Bench fails fast on it (a bench with the small
    // cache would publish evicted-cold numbers as steady-state).
    if (!codegenCacheSized(spark))
      System.err.println("[graft] WARNING: spark.sql.codegen.cache.maxEntries=" +
        s"${spark.conf.get("spark.sql.codegen.cache.maxEntries")} (expected 2000) — " +
        "another session was built first in this JVM; suite-scale re-runs will " +
        "re-pay whole-stage-codegen compile+JIT")
    // a reliable checkpoint location makes eagerPin (and with it every
    // pair pin and connected-components round) fault-tolerant lineage
    // truncation (an executor loss under localCheckpoint kills an
    // iterative job on a real cluster). Honor an externally-set dir
    // (spark.graft.checkpoint.dir, or a dir a caller already set — the
    // caller's to manage); otherwise a per-app scratch dir — on a cluster
    // this conf would point at DFS. The cleaner conf above bounds it
    // DURING the session; the scratch dir's exit hook stops repeated
    // sessions littering /tmp.
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.sparkContext.setCheckpointDir(spark.conf.getOption("spark.graft.checkpoint.dir")
        .getOrElse(scratchDir("graft-ckpt-")))
    }
    spark
  }

  /** A fresh temp dir of this JVM's, removed with its contents at exit. */
  private def scratchDir(prefix: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      } catch { case _: Exception => () }))
    tmp.toString
  }

  /** Eagerly pin a (small) frame: reliable checkpoint when the session has
    * a checkpoint dir, localCheckpoint otherwise — the one pin every
    * multi-consumer entry, every gated/eager pair set
    * ([[graft.operators.CandidateGate]]) and every connected-components /
    * PageRank round uses, so an expensive subtree executes once and the
    * operator's internal caches can be released before it returns
    * (disk-backed persisted blocks are not LRU-evicted, so a lazy return
    * would leak one cached frame per call across a long session).
    *
    * `df.checkpoint(true)` executes the plan twice (eager count + the
    * checkpoint-write job's recompute). Round 20 tried persisting first so
    * the write job reads cached blocks, and MEASUREMENT REVERTED IT: a
    * persisted plan is executed without AQE
    * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults
    * false), so every round's join lost its runtime broadcast / coalescing
    * and the columnar cache build added CPU — the CC/PageRank family's
    * in-sweep task time went UP 4-15× (d31 3.5k → 60.8k ms, d05-family
    * similar; reverting restored d31 to 4.1k same-session). The double
    * compute is the cheaper side of that trade at every site measured; do
    * not "fix" it back without per-family sweep-context numbers.
    */
  def eagerPin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Restore compute parallelism over an under-split file scan (round 20,
    * guide §2.5 "input skew: one huge unsplittable file … repartition
    * immediately after the read").
    *
    * A parquet file smaller than `spark.sql.files.openCostInBytes` (4 MB
    * default) is never split, and a single-row-group file yields ONE
    * non-empty scan task no matter how it is sliced — so every per-row
    * expression an operator stacks on that scan (PQ encode argmins, ADC
    * scoring, unit-normalization) executes serially on one core while the
    * other 31 idle. Measured on d26_ann_pq at sf0.1: the entire
    * encode+score+partial-top-k pipeline ran as one 1.8 s task.
    *
    * Scale-adaptive by construction: the split count is estimated from the
    * frame's input files with Spark's own packing math (maxPartitionBytes /
    * openCostInBytes / bytes-per-core). The estimate is an UPPER bound on
    * real non-empty tasks (row-group granularity can only lower it), so the
    * spread only ever under-fires: a production-scale scan — thousands of
    * splits — never pays the round-robin shuffle, and the repartition
    * target is the cluster's defaultParallelism, not a local constant.
    * Non-file frames (views over joins, streaming sources) and any
    * estimation failure return the frame unchanged.
    */
  def spreadScan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val par = sc.defaultParallelism
    if (par <= 2) return df
    // operational kill-switch (and the A/B lever the round-20 measurements
    // used): -Dgraft.spread.scan=off restores the raw scan partitioning
    if (!sys.props.getOrElse("graft.spread.scan", "on").equals("on")) return df
    try {
      val files = df.inputFiles
      // 0 files: not a file scan — leave alone. Enough files that each
      // contributes at least one split: already parallel, skip the
      // per-file FS stats entirely.
      if (files.isEmpty || files.length * 2 >= par) return df
      val conf = spark.sessionState.conf
      val openCost = conf.filesOpenCostInBytes
      val maxPart = conf.filesMaxPartitionBytes
      val hconf = sc.hadoopConfiguration
      var total = 0L
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(hconf).getFileStatus(p).getLen + openCost
      }
      val bytesPerCore = total / par
      val maxSplit = math.min(maxPart, math.max(openCost, bytesPerCore))
      val estSplits = math.max(1L, (total + maxSplit - 1) / maxSplit)
      if (estSplits * 2 < par) df.repartition(par) else df
    } catch { case _: Exception => df }
  }

  /** Whether this JVM's (static) whole-stage-codegen class cache got the
    * suite-sized 2000-entry setting [[build]] asks for — false when some
    * other session was created first and the 100-entry default won.
    */
  def codegenCacheSized(spark: SparkSession): Boolean =
    try spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    catch { case _: Exception => false }

  /** Read one testdata table. Filters/projections compose lazily on top, so
    * Catalyst pushes them into the parquet scan (PushedFilters/ReadSchema).
    *
    * `events.ts` has shipped as two physical types across driver testdata
    * generations — TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects; `nanosAsLong` surfaces it as a raw ns long) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). [[eventsTsToMicros]] normalizes EITHER to a
    * session-zone (UTC) microsecond timestamp, so every consumer sees one
    * ts type regardless of which generation is on disk.
    */
  /** Normalize `ts` to a microsecond TIMESTAMP, branching on the type the
    * scan produced:
    *  - ns-since-epoch LONG (nanos parquet under `nanosAsLong`): integral
    *    `div` 1000, NOT `/` — ns-since-epoch exceeds 2^53, so double
    *    division would round the microsecond (off-by-1µs vs DuckDB);
    *  - TIMESTAMP_NTZ (micros parquet, isAdjustedToUTC=false): cast to the
    *    session zone, which is pinned UTC in [[build]] — the same instant
    *    DuckDB's naive TIMESTAMP read yields;
    *  - TIMESTAMP: already normalized.
    * The single definition both the batch reader and
    * [[graft.streaming.StreamingOps.eventsStream]] apply, so batch and
    * stream cannot drift apart.
    */
  private[graft] def eventsTsToMicros(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Deterministic doc-subset replay mode (round 14, dev-only — the
    * driver never sets it): `SPARK_GRAFT_SUBSET=documents:16,embeddings:16`
    * thins the named tables to `key % N = 0` at the scan. Living HERE —
    * not in SparkEntry's t() — means every path to a table is covered
    * uniformly: DataFrame entries, SQL-text entries (registerFor's temp
    * views), and the dynamic ANN oracle generators. `check_oracle.py`'s
    * matching 4th argument applies the identical filter to its DuckDB
    * views. Bench warns and stamps env.subset when this is exported.
    */
  private val subsetKey = Map("documents" -> "doc_id", "embeddings" -> "vec_id")
  // eager validation: a malformed spec must fail loudly naming the env
  // var, and N must be >= 1 — pmod by zero yields NULL, which the filter
  // would silently drop to an EMPTY table (entries "pass" on no rows)
  private def subsetMod(table: String): Option[Long] =
    sys.env.get("SPARK_GRAFT_SUBSET").toSeq
      .flatMap(_.split(','))
      .filter(_.trim.nonEmpty)
      .map { part =>
        part.trim.split(':').map(_.trim) match {
          case Array(t, m) if m.nonEmpty && m.length <= 18 &&
              m.forall(_.isDigit) && m.toLong >= 1 =>
            (t, m.toLong)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SUBSET: malformed part '$part' — expected table:N with N >= 1 " +
              "(e.g. documents:16,embeddings:16)")
        }
      }
      .collectFirst { case (t, m) if t == table => m }

  /** Apply the subset filter to ANY frame of the named table — shared by
    * [[table]] and callers that scan a table outside it (file streams).
    */
  def applySubset(name: String, df: DataFrame): DataFrame =
    (subsetMod(name), subsetKey.get(name)) match {
      case (Some(m), Some(key)) =>
        df.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col(key),
          org.apache.spark.sql.functions.lit(m)) === 0)
      case _ => df
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Catalog-first read (round 20, guide §6 file-listing lesson): a bare
    // spark.read.parquet pays a fresh file listing + footer schema read on
    // EVERY call (~55 ms each measured at sf0.1 — tens of seconds across
    // one bench sweep) and plans stats-blind. When ensureAnalyzedCatalog
    // has registered THIS dir's table, serve it from the catalog instead:
    // schema comes from catalog metadata, the file listing from the shared
    // FileStatusCache, and the harvested rowCount/NDV/histogram statistics
    // now reach DataFrame entries too (previously only SQL-text entries
    // planned stats-backed). The location/src-dir checks keep a catalog
    // from a DIFFERENT sfDir from being served — those calls fall back to
    // the raw path unchanged, as does any session that never built the
    // catalog (Verify, tests). Disabled under a subset replay: the events
    // CTAS materializes from the subset-filtered frame, and serving that
    // copy to a later unsubset call would silently thin the table (the
    // raw path keeps the dev-only mode byte-identical to before).
    val viaCatalog: Option[DataFrame] =
      if (subsetMod(name).isDefined) None
      else if (name == "events") {
        if (eventsCatalogFresh(spark, dir)) Some(spark.table("default.events"))
        else None
      } else if (tableAt(spark, name, s"$dir/$name.parquet"))
        Some(spark.table(s"default.$name"))
      else None
    val base = viaCatalog.getOrElse {
      if (name == "events") {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        eventsTsToMicros(spark.read.parquet(s"$dir/events.parquet"))
      } else spark.read.parquet(s"$dir/$name.parquet")
    }
    applySubset(name, base)
  }

  /** Register every table as a temp view so `spark.sql` queries resolve —
    * the Spark analog of the reference's catalog bootstrap.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** Register only the tables a SQL text references (word match) — avoids
    * paying footer reads for all 10 tables on every ad-hoc statement.
    */
  def registerFor(spark: SparkSession, dir: String, sql: String): Unit = {
    val lower = sql.toLowerCase
    tableNames.filter(n => s"\\b$n\\b".r.findFirstIn(lower).isDefined)
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
  }

  /** Expose graft's native expressions to SQL users:
    * `minhash_signature(hashes, k)`, `dot_product(a, b)`,
    * `rolling_minhash(text, window)` become callable from any `spark.sql`
    * text and the CLI.
    */
  /** The native-function catalog shared by [[registerFunctions]] (per-
    * session temp registration) and [[GraftExtensions]] (the
    * `spark.sql.extensions` injection path a library user configures at
    * session build).
    */
  private[engine] val nativeFunctions: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    def arity(fn: String, es: Seq[Expression], n: Int): Unit =
      if (es.length != n) throw new IllegalArgumentException(
        s"$fn expects $n arguments, got ${es.length}")
    // positive, at analysis time: a non-positive k/window reaches the
    // expressions' per-row loops as a negative array size or index and
    // would crash EXECUTOR-side on the first row — the codebase rule is
    // that bad inputs fail at analysis, not at runtime
    def intArg(fn: String, e: Expression): Int = e match {
      case Literal(v: Int, _) =>
        if (v < 1) throw new IllegalArgumentException(s"$fn: expected a positive int, got $v")
        v
      case other => throw new IllegalArgumentException(s"$fn: expected int literal, got $other")
    }
    Seq(
      "minhash_signature" -> ((es: Seq[Expression]) => { arity("minhash_signature", es, 2)
        graft.functions.MinHashSignatureExpr(es.head, intArg("minhash_signature", es(1))) }),
      "dot_product" -> ((es: Seq[Expression]) => { arity("dot_product", es, 2)
        graft.functions.DotProductExpr(es.head, es(1)) }),
      "rolling_minhash" -> ((es: Seq[Expression]) => { arity("rolling_minhash", es, 2)
        graft.functions.RollingMinHashExpr(es.head, intArg("rolling_minhash", es(1))) }),
      "simhash" -> ((es: Seq[Expression]) => { arity("simhash", es, 1)
        graft.functions.SimHashTextExpr(es.head) }),
      "unit_norm" -> ((es: Seq[Expression]) => { arity("unit_norm", es, 1)
        graft.functions.UnitNormExpr(es.head) }),
      "match_fraction" -> ((es: Seq[Expression]) => { arity("match_fraction", es, 2)
        graft.functions.MatchFractionExpr(es.head, es(1)) }))
  }

  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    nativeFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Tables whose catalog copy is a LOCATION mapping over the source
    * parquet (everything except events, whose ns→µs conversion forces a
    * managed CTAS).
    */
  private val analyzableTables = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings")

  /** Columns safe to carry CBO ColumnStat (round 20): Spark 4.1's
    * `FilterEstimation` pattern-matches the stat'd column's type and throws
    * `MatchError: TimestampNTZType` when a range predicate meets column
    * stats on a TIMESTAMP_NTZ column — and `o_orderdate`/`l_shipdate` ship
    * as NTZ in this testdata generation, so `FOR ALL COLUMNS` made any
    * date-range query over a stats-backed relation crash AT PLANNING
    * (surfaced by the catalog-first [[table]] routing; previously the
    * stats-blind temp views shadowed the catalog tables so the estimator
    * never saw these stats). Complex types take no stats at all. A stat
    * that crashes planning is worse than no stat: exclude both classes and
    * analyze everything else (rowCount + NDV + min/max + histograms are
    * what CostBasedJoinReorder and q59 consume — none of their inputs are
    * NTZ columns, so estimates on every previously-working path are
    * unchanged).
    */
  private def statsSafeColumns(spark: SparkSession, n: String): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType, TimestampNTZType}
    spark.table(s"default.$n").schema.fields.toSeq
      .filter(_.dataType match {
        case TimestampNTZType => false
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      })
      .map(f => s"`${f.name}`")
  }

  private def analyzeSql(spark: SparkSession, n: String): String =
    s"ANALYZE TABLE default.$n COMPUTE STATISTICS FOR COLUMNS " +
      statsSafeColumns(spark, n).mkString(", ")

  /** Create in-memory-catalog tables over the parquet files and harvest CBO
    * statistics — the direct analog of the reference's startup stats
    * harvest (`statistics_manager.cpp:9-142`: COUNT(*), COUNT(DISTINCT),
    * MIN/MAX, histograms). Populates `rowCount`/`ColumnStat` so plan trees
    * show real row estimates and CostBasedJoinReorder has numbers to work
    * with. Every table ends up stats-backed: embeddings takes scalar-column
    * stats only (the array column has none), and events is materialized
    * once per sfDir as a µs-timestamp managed table (its raw
    * TIMESTAMP(NANOS) parquet needs [[eventsTsToMicros]], so a
    * LOCATION-mapped table can't serve it).
    */
  def ensureAnalyzedCatalog(spark: SparkSession, dir: String): Unit = {
    // a table left over from a DIFFERENT sfDir must not survive: silently
    // serving the first directory's data (and stats) to a session that
    // asked for another is a wrong-results bug, not a cache hit.
    // Everything here is database-qualified — unqualified DROP/EXISTS
    // resolve to a same-named TEMP VIEW first (registerAll creates those),
    // which would drop the wrong object and keep the stale table alive
    def existsInCatalog(n: String) =
      spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(n, Some("default")))
    def ensure(n: String): Unit = {
      if (existsInCatalog(n) && !tableAt(spark, n, s"$dir/$n.parquet"))
        spark.sql(s"DROP TABLE default.$n")
      if (!existsInCatalog(n)) {
        spark.sql(s"CREATE TABLE default.$n USING parquet LOCATION '$dir/$n.parquet'")
        spark.sql(analyzeSql(spark, n))
      }
    }
    analyzableTables.foreach(ensure)
    // events: materialize the ns→µs-converted frame as a MANAGED table
    // (CTAS into the warehouse) and ANALYZE it — the one table whose
    // catalog copy cannot just point at the source parquet. Staleness is
    // tracked via a table property carrying the source dir (tableAt's
    // location compare sees the warehouse path, not the sfDir).
    if (existsInCatalog("events") && !eventsCatalogFresh(spark, dir))
      spark.sql("DROP TABLE default.events")
    if (!existsInCatalog("events")) {
      table(spark, dir, "events").write.saveAsTable("default.events")
      spark.sql(s"ALTER TABLE default.events SET TBLPROPERTIES ('$eventsSrcProp' = '$dir')")
      // after the CTAS `ts` is a µs TIMESTAMP (stats kept — event queries
      // range-filter on it), but route through the same NTZ/complex guard
      spark.sql(analyzeSql(spark, "events"))
    }
    // registerAll/registerFor may have left same-named TEMP VIEWS for the
    // two tables whose catalog copies carry what the views lack (events'
    // µs conversion is in the CTAS data; embeddings' stats): a view would
    // silently shadow the stats-backed table for every SQL consumer. The
    // analyzable 8 keep user temp views untouched — same data either way,
    // and a caller's deliberate view (e.g. over a different dir) is theirs.
    Seq("events", "embeddings").foreach { n =>
      if (spark.sessionState.catalog.getTempView(n).isDefined)
        spark.catalog.dropTempView(n)
    }
  }

  /** Startup catalog listing — parity with the reference CLI's table dump
    * (`engine/src/cli.cpp:167-188`: every table with its row count and its
    * columns SORTED by name with types). Row counts come from the ANALYZEd
    * catalog ([[ensureAnalyzedCatalog]] must have run); the reference's
    * per-table index list has no Spark analog (parquet min/max + bloom
    * skipping replaces indexes), so no "Indexes:" block is printed.
    */
  def catalogListing(spark: SparkSession): String = {
    val cat = spark.sessionState.catalog
    val sb = new StringBuilder("Loaded tables:\n")
    cat.listTables("default").map(_.table).sorted.foreach { n =>
      val meta = cat.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(n, Some("default")))
      val rows = meta.stats.flatMap(_.rowCount).map(_.toString).getOrElse("?")
      sb.append(s"  $n (rows: $rows)\n")
      meta.schema.fields.sortBy(_.name).foreach(f =>
        sb.append(s"    - ${f.name} (${f.dataType.simpleString})\n"))
    }
    sb.toString
  }

  /** Table property recording which sfDir the managed events CTAS was
    * materialized from (its LOCATION is the warehouse, so [[tableAt]]'s
    * path compare cannot serve the staleness check the other tables use).
    */
  private val eventsSrcProp = "graft.src.dir"

  /** Is the catalog's managed `events` copy the one materialized from
    * `dir`? Shared by [[ensureAnalyzedCatalog]] (staleness → drop and
    * re-CTAS) and [[table]] (catalog-first routing).
    */
  private def eventsCatalogFresh(spark: SparkSession, dir: String): Boolean =
    try spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("events", Some("default")))
      .properties.get(eventsSrcProp).contains(dir)
    catch { case _: Exception => false }

  /** Does catalog table `n` point at `location`? (path compare, scheme- and
    * trailing-slash-insensitive)
    */
  private def tableAt(spark: SparkSession, n: String, location: String): Boolean = {
    def canon(p: String): String =
      p.stripPrefix("file:").replaceAll("/+$", "")
    try {
      val meta = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(n, Some("default")))
      meta.storage.locationUri.exists(u => canon(u.getPath) == canon(location))
    } catch { case _: Exception => false }
  }
}
