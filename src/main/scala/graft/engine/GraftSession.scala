package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

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
      // TIMESTAMP(NANOS) parquet (one generation of events.ts) reads as a
      // raw ns LONG instead of failing the scan; [[eventsTsToMicros]]
      // converts it, for the events table and the events file stream alike
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
    * On Spark 4.1 an eager `checkpoint(true)` / `localCheckpoint(true)`
    * runs ONE job (`internalRdd.doCheckpoint()`), which computes each
    * partition once and writes it in the same task: one task per partition
    * (CandidateGateSpec pins this). Do not persist first: round 20 measured
    * that a persisted plan is executed without AQE
    * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults
    * false), so every round's join lost its runtime broadcast / coalescing
    * and the columnar cache build added CPU — the CC/PageRank family's
    * in-sweep task time went UP 4-15× (d31 3.5k → 60.8k ms, d05-family
    * similar; reverting restored d31 to 4.1k same-session).
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
    * Non-file frames (views over joins, streaming sources) return the
    * frame unchanged; a file that cannot be stat'ed fails the call.
    */
  def spreadScan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val par = sc.defaultParallelism
    if (par <= 2) return df
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
  }

  /** `body` with session conf `key` set to `value`. In finally the key
    * gets its previous value back, or is unset if it had none, so the
    * setting cannot leak into the rest of a sweep.
    */
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Whether this JVM's (static) whole-stage-codegen class cache got the
    * suite-sized 2000-entry setting [[build]] asks for — false when some
    * other session was created first and the 100-entry default won.
    */
  def codegenCacheSized(spark: SparkSession): Boolean =
    try spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    catch { case _: Exception => false }

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
    * thins the named tables to `key % N = 0`. The thinned tables are
    * CTAS copies in a catalog database of their own ([[dirDb]] keys on the
    * spec), so every path to a table sees the same subset: DataFrame
    * entries, SQL-text entries and the dynamic ANN oracle generators, and
    * an unsubset run in the same JVM never meets a thinned copy.
    * `check_oracle.py`'s matching 4th argument applies the identical
    * filter to its DuckDB views. Bench warns and stamps env.subset when
    * this is exported.
    */
  private val subsetKey = Map("documents" -> "doc_id", "embeddings" -> "vec_id")
  // eager validation: a malformed spec must fail loudly naming the env
  // var, and N must be >= 1 — pmod by zero yields NULL, which the filter
  // would silently drop to an EMPTY table (entries "pass" on no rows)
  private def subsetSpec: Seq[(String, Long)] =
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

  /** The subset predicate on the named table, when the spec thins it. */
  private def subsetFilter(name: String): Option[org.apache.spark.sql.Column] =
    for {
      m <- subsetSpec.collectFirst { case (t, m) if t == name => m }
      key <- subsetKey.get(name)
    } yield org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col(key), org.apache.spark.sql.functions.lit(m)) === 0

  /** Apply the subset filter to a frame of the named table that does not
    * come from [[table]] (file streams), so it is thinned like the
    * catalog copy.
    */
  def applySubset(name: String, df: DataFrame): DataFrame =
    subsetFilter(name).fold(df)(df.filter)

  /** Absolute, trailing-slash-free form of a data dir: catalog LOCATIONs
    * resolve relative paths against the warehouse, not the process cwd.
    */
  private def absDir(dir: String): String =
    new java.io.File(dir).getAbsoluteFile.toPath.normalize.toString

  /** The catalog database that holds `dir`'s tables under this process's
    * subset spec. Its name is derived from the (absolute dir, spec) pair,
    * so a database never holds another dir's or another spec's tables and
    * nothing needs a staleness check.
    */
  private[graft] def dirDb(dir: String): String = {
    val abs = absDir(dir)
    val spec = subsetSpec.sorted.map { case (t, m) => s"$t:$m" }.mkString(",")
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$abs\u0000$spec".getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    val leaf = new java.io.File(abs).getName.toLowerCase.replaceAll("[^a-z0-9]+", "_").take(24)
    s"graft_${leaf}_$hash"
  }

  /** Guards table creation: two threads resolving one name must not both
    * create it.
    */
  private object createLock

  /** Catalog identifier of `dir`'s table `name`, created on first use.
    * Most tables are a LOCATION table over `dir/name.parquet`. A table
    * whose catalog copy must differ from its file is a CTAS into the
    * warehouse instead: `events`, whose `ts` is normalized by
    * [[eventsTsToMicros]], and any table the subset spec thins.
    */
  private def resolve(spark: SparkSession, dir: String, name: String): TableIdentifier = {
    val id = TableIdentifier(name, Some(dirDb(dir)))
    val cat = spark.sessionState.catalog
    if (!cat.tableExists(id)) createLock.synchronized {
      if (!cat.tableExists(id)) {
        createDb(spark, id.database.get)
        val src = s"${absDir(dir)}/$name.parquet"
        val subset = subsetFilter(name)
        if (name == "events" || subset.isDefined) {
          val raw = spark.read.parquet(src)
          val df = if (name == "events") eventsTsToMicros(raw) else raw
          subset.fold(df)(df.filter).write.saveAsTable(id.unquotedString)
        } else spark.catalog.createTable(id.unquotedString, src, "parquet")
      }
    }
    id
  }

  /** Read one testdata table: the one way a table name reaches a relation.
    * Filters/projections compose lazily on top, so Catalyst pushes them
    * into the parquet scan (PushedFilters/ReadSchema).
    *
    * The table is served from `dir`'s catalog database ([[dirDb]]),
    * created there on first use ([[resolve]]). Its schema comes from
    * catalog metadata and its file listing from the shared
    * FileStatusCache, where a bare `spark.read.parquet` paid a fresh
    * listing and footer read on every call (~55 ms each at sf0.1, round
    * 20). Until [[ensureAnalyzedCatalog]] has run on `dir` the table
    * carries no statistics and plans as the bare read did; afterwards its
    * rowCount/NDV/histogram statistics reach DataFrame entries too.
    *
    * `events.ts` has shipped as two physical types across driver testdata
    * generations — TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects; `nanosAsLong` surfaces it as a raw ns long) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). The events CTAS normalizes EITHER to a session-zone
    * (UTC) microsecond timestamp, so every consumer sees one ts type
    * regardless of which generation is on disk.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.table(resolve(spark, dir, name).unquotedString)

  /** Make `dir`'s database current, so SQL text resolves its unqualified
    * table names there, creating each table whose file the dir holds (the
    * sf10 dirs hold only documents and events).
    */
  def useDir(spark: SparkSession, dir: String): Unit = {
    val cat = spark.sessionState.catalog
    val db = dirDb(dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    tableNames.foreach { n =>
      if (!cat.tableExists(TableIdentifier(n, Some(db)))) {
        val p = new org.apache.hadoop.fs.Path(s"${absDir(dir)}/$n.parquet")
        if (p.getFileSystem(hconf).exists(p)) resolve(spark, dir, n)
      }
    }
    createDb(spark, db)
    cat.setCurrentDatabase(db)
  }

  private def createDb(spark: SparkSession, db: String): Unit =
    if (!spark.sessionState.catalog.databaseExists(db))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

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

  /** Expose graft's native expressions to SQL users:
    * `minhash_signature(hashes, k)`, `dot_product(a, b)`,
    * `rolling_minhash(text, window)` become callable from any `spark.sql`
    * text and the CLI.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    nativeFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Equi-join key columns of each ANALYZEd table: the TPC-H `*key`
    * columns, plus the id columns that registry texts and CLI statements
    * equi-join on. This is the Spark analog of the index list the
    * reference's stats harvest records per table (`statistics_manager.cpp`,
    * SHOW INDEX). [[ensureAnalyzedCatalog]] gives these columns rowCount,
    * NDV, min/max and null count but no histogram; every other column keeps
    * its histogram.
    *
    * Why: when both sides of an equi-join carry a histogram, Spark's
    * `JoinEstimation` takes `computeByHistogram`, which re-intersects two
    * 254-bin histograms for every candidate join that CBO join reorder,
    * physical join selection and AQE re-planning cost, and which reads the
    * key's whole-table histogram, so a filter on another column does not
    * scale its estimate. Both the planning time and the estimate error are
    * measured in BENCH_NOTES "Join keys without histograms".
    */
  private[graft] val joinKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("user_id"))

  /** Columns safe to carry CBO ColumnStat (round 20): Spark 4.1's
    * `FilterEstimation` pattern-matches the stat'd column's type and throws
    * `MatchError: TimestampNTZType` when a range predicate meets column
    * stats on a TIMESTAMP_NTZ column — and `o_orderdate`/`l_shipdate` ship
    * as NTZ in this testdata generation, so `FOR ALL COLUMNS` made any
    * date-range query over a stats-backed relation crash AT PLANNING
    * (surfaced in round 20, when DataFrame reads first met the ANALYZEd
    * tables). Complex types take no stats at all. A stat
    * that crashes planning is worse than no stat: exclude both classes and
    * analyze everything else. CostBasedJoinReorder and q59 consume
    * rowCount + NDV + min/max on every analyzed column, and histograms on
    * the non-key ones ([[joinKeys]] carry none); none of their inputs are
    * NTZ columns.
    */
  private def statsSafeColumns(spark: SparkSession, id: TableIdentifier): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType, TimestampNTZType}
    spark.sessionState.catalog.getTableMetadata(id).schema.fields.toSeq
      .filter(_.dataType match {
        case TimestampNTZType => false
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      })
      .map(f => s"`${f.name}`")
  }

  /** ANALYZE one catalog table's stats-safe columns, then strip the
    * histograms of its [[joinKeys]] from the stored stats. ANALYZE builds
    * every column's histogram in the same aggregate job, so the strip is a
    * catalog-metadata write, not a second scan; the key columns end up
    * exactly as an ANALYZE with histograms off would leave them.
    */
  private def analyze(spark: SparkSession, id: TableIdentifier): Unit = {
    spark.sql(s"ANALYZE TABLE ${id.unquotedString} COMPUTE STATISTICS FOR COLUMNS " +
      statsSafeColumns(spark, id).mkString(", "))
    val keys = joinKeys(id.table).toSet
    val cat = spark.sessionState.catalog
    cat.getTableMetadata(id).stats.foreach { s =>
      cat.alterTableStats(id, Some(s.copy(colStats = s.colStats.map {
        case (c, st) => c -> (if (keys(c)) st.copy(histogram = None) else st)
      })))
    }
  }

  /** Make `dir`'s database current ([[useDir]]) and harvest CBO statistics
    * on each of its tables — the direct analog of the reference's startup
    * stats harvest (`statistics_manager.cpp:9-142`: COUNT(*),
    * COUNT(DISTINCT), MIN/MAX, histograms). Populates `rowCount`/
    * `ColumnStat` so plan trees show real row estimates and
    * CostBasedJoinReorder has numbers to work with; [[joinKeys]] take no
    * histogram, and embeddings takes scalar-column stats only (the array
    * column has none). A table is ANALYZEd once per database: one that
    * already carries a rowCount is left as it is, so a repeat call is a
    * no-op.
    */
  def ensureAnalyzedCatalog(spark: SparkSession, dir: String): Unit = {
    useDir(spark, dir)
    val cat = spark.sessionState.catalog
    val db = dirDb(dir)
    createLock.synchronized {
      tableNames.map(n => TableIdentifier(n, Some(db)))
        .filter(id => cat.tableExists(id) && cat.getTableMetadata(id).stats.forall(_.rowCount.isEmpty))
        .foreach(analyze(spark, _))
    }
  }

  /** Startup catalog listing — parity with the reference CLI's table dump
    * (`engine/src/cli.cpp:167-188`: every table with its row count and its
    * columns SORTED by name with types), over the current database. Row
    * counts come from the ANALYZEd catalog ([[ensureAnalyzedCatalog]] must
    * have run); the reference's per-table index list has no Spark analog
    * (parquet min/max + bloom skipping replaces indexes), so no "Indexes:"
    * block is printed.
    */
  def catalogListing(spark: SparkSession): String = {
    val cat = spark.sessionState.catalog
    val db = cat.getCurrentDatabase
    val sb = new StringBuilder("Loaded tables:\n")
    cat.listTables(db, "*", includeLocalTempViews = false).map(_.table).sorted.foreach { n =>
      val meta = cat.getTableMetadata(TableIdentifier(n, Some(db)))
      val rows = meta.stats.flatMap(_.rowCount).map(_.toString).getOrElse("?")
      sb.append(s"  $n (rows: $rows)\n")
      meta.schema.fields.sortBy(_.name).foreach(f =>
        sb.append(s"    - ${f.name} (${f.dataType.simpleString})\n"))
    }
    sb.toString
  }
}
