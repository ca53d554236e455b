package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.{GraftSession, QueryEngine}

/** One benchmark run in one JVM: set the session up as `tools.Cli` does,
  * dump the workload's outputs for the oracle check (which also warms the
  * session), then either measure the workload in a closed loop with one
  * client (untraced) or run one block untraced and the same block traced,
  * after one more warm-up block (per-layer numbers and tracing overhead).
  *
  * Usage: perfbench.Main <workload> <inputDir> <outDir> <seconds> <trace 0|1> <seed> <cores>
  * Writes `<outDir>/report.json` and, when traced, `<outDir>/spans.jsonl`.
  */
object Main {

  /** A unit of closed-loop work; returns false when the engine reported a
    * failure (an ERROR or WARN report).
    */
  final case class Op(label: String, run: (SparkSession, Tracer) => Boolean)

  trait Workload {
    /** Ops in the order they run; the loop runs whole blocks. */
    def block(i: Int): IndexedSeq[Op]
    /** Whether a latency sample is one block (a whole curation pass) rather
      * than one op (a statement).
      */
    def latencyPerBlock: Boolean
    /** Run every distinct op once, writing its full output and its oracle
      * SQL for the DuckDB check; this is also the untimed warm-up.
      */
    def dump(spark: SparkSession, out: String): Unit
    def props: Seq[(String, String)]
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Heap still reachable after the measured work: what the session keeps
    * (catalog, caches, generated classes), unlike peak RSS, which follows
    * the collector's timing.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** JSON string literal (quote, backslash and control characters). */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(argv: Array[String]): Unit = {
    val Array(workload, dir, out, secondsS, traceS, seedS, coresS) = argv
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val cores = coresS.toInt
    new java.io.File(out).mkdirs()
    val wl: Workload = workload match {
      case "sql_cli" => new SqlCli(seedS.toLong)
      case "curate_batch" => new CurateBatch(dir)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up exactly as the CLI does it: no `registerAll`, whose temp views
    // would shadow the stats-backed catalog tables
    val tJvm = System.nanoTime()
    val spark = GraftSession.build(cores, "perfbench")
    if (!GraftSession.codegenCacheSized(spark))
      throw new IllegalStateException("codegen cache not sized; refusing to measure")
    val tBuilt = System.nanoTime()
    GraftSession.ensureAnalyzedCatalog(spark, dir)
    GraftSession.registerFunctions(spark)
    val tSetup = System.nanoTime()
    wl.dump(spark, s"$out/dump")
    val dumpS = (System.nanoTime() - tSetup) / 1e9
    val buildMs = (tBuilt - tJvm) / 1e6
    val analyzeMs = (tSetup - tBuilt) / 1e6

    var attempted = 0
    var failed = 0
    def runOp(op: Op, tracer: Tracer): Double = {
      val t0 = System.nanoTime()
      val ok =
        try op.run(spark, tracer)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.label} failed: $e")
          false
        }
      attempted += 1
      if (!ok) failed += 1
      (System.nanoTime() - t0) / 1e6
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var byLabel = Seq.empty[String]
    metrics("setup_s") = (buildMs + analyzeMs) / 1000.0

    if (!traced) {
      val off = new Tracer(false, spark.sparkContext)
      val lat = mutable.ArrayBuffer.empty[Double]
      val labels = mutable.ArrayBuffer.empty[String]
      val blockLat = mutable.ArrayBuffer.empty[Double]
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      var b = 0
      // at least two latency samples where a sample is a whole block, so a
      // run never reports one pass on a slow box and a mean of two on a fast
      val minBlocks = if (wl.latencyPerBlock) 2 else 1
      while ((System.nanoTime() - t0) / 1e9 < seconds || b < minBlocks) {
        val tb = System.nanoTime()
        wl.block(b).foreach { op => lat += runOp(op, off); labels += op.label }
        blockLat += (System.nanoTime() - tb) / 1e6
        b += 1
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val samples = if (wl.latencyPerBlock) blockLat.toSeq else lat.toSeq
      metrics("latency_p50_ms") = median(samples)
      metrics("latency_p90_ms") = percentile(samples, 0.9)
      metrics("ops_per_s") = lat.size / wallS
      metrics("cpu_ms_per_op") = (cpuNs() - cpu0) / 1e6 / lat.size
      metrics("live_heap_mb") = liveHeapMb()
      metrics("peak_rss_mb") = peakRssMb()
      metrics("op.samples") = samples.size.toDouble
      byLabel = labels.zip(lat).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (l, xs) => s"${q(l)}: ${num(median(xs.map(_._2).toSeq))}" }
    } else {
      val exec = new ExecListener
      val stream = new StreamListener
      val plan = new PlanListener
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(stream)
      spark.listenerManager.register(plan)
      // one untimed block first, so the untraced and the traced block both
      // run as warm as each other and their difference is the overhead
      val ops = wl.block(0)
      val off = new Tracer(false, spark.sparkContext)
      ops.foreach(op => runOp(op, off))
      val untracedMs = {
        val t0 = System.nanoTime()
        ops.foreach(op => runOp(op, off))
        (System.nanoTime() - t0) / 1e6
      }
      org.apache.spark.perfbench.BusSync.drain(spark.sparkContext)
      Layers.nonSelect = 0
      val marks = Layers.marks(exec, stream, plan)
      val tracer = new Tracer(true, spark.sparkContext)
      val t0 = System.nanoTime()
      tracer.span("trace.pass")(ops.foreach(op => runOp(op, tracer)))
      val tracedMs = (System.nanoTime() - t0) / 1e6
      org.apache.spark.perfbench.BusSync.drain(spark.sparkContext)
      metrics ++= Layers.rollup(tracer, exec, stream, plan, marks, buildMs, analyzeMs,
        tracedMs, untracedMs)
      tracer.writeJsonl(s"$out/spans.jsonl", s"$workload-$seedS", Layers.spanExtra(tracer, exec))
      metrics("live_heap_mb") = liveHeapMb()
      metrics("peak_rss_mb") = peakRssMb()
    }
    metrics("fail_frac") = if (attempted == 0) 0.0 else failed.toDouble / attempted
    spark.stop()

    val body = Seq(
      s""""workload": ${q(workload)}""",
      s""""attempted": $attempted""",
      s""""failed": $failed""",
      s""""cores": $cores""",
      s""""dump_s": ${num(dumpS)}""",
      s""""jvm_s": ${num((System.nanoTime() - tJvm) / 1e9)}""",
      s""""op_p50_ms_by_label": {${byLabel.mkString(", ")}}""",
      s""""props": {${wl.props.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")}}""",
      s""""metrics": {${metrics.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString(", ")}}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/report.json"),
      body.mkString("{", ",\n", "}\n"))
  }
}

/** `sql_cli`: an analyst at the CLI sends SELECTs through QueryEngine.run
  * over the ANALYZEd catalog. Every block holds the same statements by
  * count (8 of each BASELINE.md shape, 1 of each registry text) in a seeded
  * order, with each shape's literals drawn per statement from a 3-value
  * column range; so runs differ in order, literals and data, not in how
  * much work a block is.
  */
final class SqlCli(seed: Long) extends Main.Workload {
  private val rnd = new java.util.Random(seed)
  private def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))

  private val shapes: Seq[(String, () => String)] = Seq(
    "simple_select" -> (() =>
      s"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > ${pick(9000, 9300, 9600)}.0"),
    "join_2table" -> (() => {
      val (st, nk) = pick(("O", 3), ("F", 11), ("P", 19))
      s"SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice FROM customer c JOIN orders o " +
        s"ON c.c_custkey = o.o_custkey WHERE o.o_orderstatus = '$st' AND c.c_nationkey = $nk"
    }),
    "join_3table" -> (() => {
      val (bal, qty) = pick((9000, 45), (9300, 40), (9600, 30))
      s"SELECT c.c_name, o.o_orderkey, l.l_linenumber, l.l_quantity FROM customer c " +
        "JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        s"WHERE c.c_acctbal > $bal.0 AND l.l_quantity > $qty.0"
    }),
    "scalar_subquery" -> (() =>
      "SELECT c.c_custkey, c.c_name, (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) " +
        s"AS order_count FROM customer c WHERE c.c_acctbal > ${pick(9000, 9300, 9600)}.0"),
    "complex" -> (() =>
      "SELECT n.n_name, COUNT(*) AS n_lines, SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS revenue " +
        "FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey " +
        "JOIN orders o ON o.o_custkey = c.c_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        s"WHERE l.l_quantity > ${pick(10, 25, 40)}.0 GROUP BY n.n_name HAVING COUNT(*) > 10 " +
        "ORDER BY revenue DESC, n.n_name LIMIT 10"))

  /** Registry SQL texts that Spark and DuckDB both accept. q46 (`unnest`)
    * and q49 (`regexp_matches`) are DuckDB-only and never sent; the star
    * joins q28 and q34 (about 4.5 s each here) do not fit the run budget.
    */
  private val lightEntries = Seq("q03_point_lookup", "q07_between_in", "q10_topk",
    "q11_agg_group", "q13_having", "q19_semi_in", "q25_scalar_subquery", "q29_flagship")

  private val blocks: IndexedSeq[IndexedSeq[(String, String)]] = {
    val oracle = SparkEntry.oracleSql
    (0 until 3).map { _ =>
      val stmts = shapes.flatMap { case (n, gen) => Seq.fill(8)(n -> gen()) } ++
        lightEntries.map(n => n -> oracle(n))
      val arr = stmts.toArray
      for (i <- arr.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
      }
      arr.toIndexedSeq
    }
  }

  private def stmtOp(label: String, sql: String): Main.Op = Main.Op(label, (spark, tracer) => {
    val rep = tracer.span("stmt")(QueryEngine.run(spark, sql))
    if (tracer.enabled) Layers.catalystSpans(tracer, tracer.lastClosed, rep.df)
    if (rep.kind != "SELECT") Layers.nonSelect += 1
    rep.kind == "SELECT"
  })

  def block(i: Int): IndexedSeq[Main.Op] =
    blocks(i % blocks.size).map { case (n, sql) => stmtOp(n, sql) }

  def latencyPerBlock: Boolean = false

  private lazy val distinct: Seq[String] = blocks.flatten.map(_._2).distinct

  def dump(spark: SparkSession, out: String): Unit = {
    new java.io.File(out).mkdirs()
    val names = distinct.indices.map(i => f"s$i%03d")
    names.zip(distinct).foreach { case (n, sql) =>
      spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
    }
    val json = names.zip(distinct).map { case (n, s) => s"${Main.q(n)}: ${Main.q(s)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
  }

  def props: Seq[(String, String)] = {
    val all = blocks.flatten.map(_._2)
    val seen = mutable.HashSet.empty[String]
    val repeats = all.count(s => !seen.add(s))
    Seq("statements_per_block" -> blocks.head.size.toString, "distinct_statements" -> distinct.size.toString,
      "repeat_share" -> (repeats.toDouble / all.size).toString,
      "mix" -> blocks.head.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (n, xs) => s"${Main.q(n)}: ${xs.size}" }.mkString("{", ", ", "}"))
  }
}

/** `curate_batch`: an LLM-data curation pipeline run stage by stage through
  * the registry over a seeded corpus; one block is one pass over every
  * stage. Stages are tagged with the operator layer they exercise.
  */
final class CurateBatch(dir: String) extends Main.Workload {
  val stages: Seq[(String, String)] = Seq(
    "t08_quality_gate" -> "text",
    "d03_dedup_minhash" -> "dedup",
    "d41_ppjoin_gate_allowed" -> "dedup",
    "d10_dedup_corpus" -> "dedup",
    "d46_cosine_gate_guard" -> "ann",
    "d08_ann_lsh" -> "ann",
    "x06_curate_pipeline" -> "pack",
    "y02_stream_dedup" -> "stream")

  private def stageOp(name: String, layer: String): Main.Op = Main.Op(name, (spark, tracer) => {
    tracer.span(s"stage.$layer/$name") {
      val df = tracer.span("entry.build")(SparkEntry.queries(name)(spark, dir))
      tracer.span("entry.execute")(df.write.format("noop").mode("overwrite").save())
    }
    true
  })

  def block(i: Int): IndexedSeq[Main.Op] = stages.map { case (n, l) => stageOp(n, l) }.toIndexedSeq

  def latencyPerBlock: Boolean = true

  /** graft.Verify's per-entry dump (one coalesced parquet per entry plus
    * oracle_sql.json), for the stages only. Verify.main itself also
    * regenerates every dynamic (trained) oracle on each call, which the run
    * budget cannot carry, so every stage here has a static oracle.
    */
  def dump(spark: SparkSession, out: String): Unit = {
    new java.io.File(out).mkdirs()
    val oracle = SparkEntry.oracleSql
    stages.foreach { case (n, _) =>
      SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
    }
    val json = stages.map { case (n, _) => s"${Main.q(n)}: ${Main.q(oracle(n))}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
  }

  def props: Seq[(String, String)] =
    Seq("stages" -> stages.map { case (n, l) => s"${Main.q(n)}: ${Main.q(l)}" }.mkString("{", ", ", "}"))
}
