package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, QueryEngine}

class QueryEngineSpec extends AnyFunSuite {
  lazy val spark = { val s = TestSpark.spark; GraftSession.useDir(s, TestSpark.sfDir); s }

  private val flagship =
    """SELECT c.c_name,
       (SELECT n.n_name FROM nation n WHERE n.n_nationkey = c.c_nationkey) AS nation_name
       FROM customer c, orders o
       WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 0 AND o.o_orderstatus = 'O'
       LIMIT 10"""

  test("flagship: executes and logs the reference's transforms") {
    val rep = QueryEngine.run(spark, flagship)
    assert(rep.kind == "SELECT" && rep.rowCount == 10)
    val log = rep.transformLog.mkString("\n")
    assert(log.contains("subquery_to_join_conversion"), log)
    assert(log.contains("predicate_pushdown"), log)
    assert(log.contains("projection_pushdown"), log)
    // closing summary line (optimizer.cpp:318 parity)
    assert(log.contains("Selected best plan with cost:"), log)
    assert(rep.planTree.nonEmpty)
  }

  test("WHERE 1=1 is folded and logged as constant_folding (sqlopt.cpp:673-688 parity)") {
    val rep = QueryEngine.run(spark,
      "EXPLAIN SELECT c_custkey FROM customer WHERE 1 = 1 AND c_custkey <= 5")
    val log = rep.transformLog.mkString("\n")
    assert(log.contains("constant_folding"), log)
  }

  test("EXPLAIN prefix returns plan without executing (cli.cpp:201 parity)") {
    val rep = QueryEngine.run(spark, s"EXPLAIN $flagship")
    assert(rep.kind == "EXPLAIN" && rep.rows.isEmpty && rep.planTree.nonEmpty)
  }

  test("DML is parsed and reported, not optimized (cli.cpp:322 parity)") {
    val rep = QueryEngine.run(spark, "INSERT INTO customer VALUES (1)")
    assert(rep.kind == "INSERT")
    assert(rep.transformLog.exists(_.contains("Optimization not implemented")))
  }

  test("valid DML of each kind parses and acknowledges (parser.cpp:193-296 parity)") {
    val cases = Seq(
      "INSERT INTO customer (c_custkey) VALUES (1), (2)" -> "INSERT",
      "UPDATE customer SET c_name = 'x' WHERE c_custkey = 1" -> "UPDATE",
      "DELETE FROM customer WHERE c_custkey = 1" -> "DELETE")
    cases.foreach { case (sql, kind) =>
      val rep = QueryEngine.run(spark, sql)
      assert(rep.kind == kind && rep.error.isEmpty, s"$sql -> $rep")
      assert(rep.transformLog.exists(_.contains(s"$kind statement parsed")), rep.transformLog)
    }
  }

  test("malformed DML is a syntax ERROR, never acknowledged (reference parses DML for real)") {
    val cases = Seq(
      "INSERT INTO customer garbage syntax here",
      "UPDATE customer SET WHERE c_custkey = 1",
      "DELETE FROM customer WHERE c_custkey >")
    cases.foreach { sql =>
      val rep = QueryEngine.run(spark, sql)
      assert(rep.kind == "ERROR" && rep.error.nonEmpty, s"$sql -> $rep")
      assert(!rep.transformLog.exists(_.contains("statement parsed")), s"$sql acknowledged")
    }
    // a typo'd DML keyword inside the statement still earns a suggestion
    val rep = QueryEngine.run(spark, "INSERT INTO customer VALEUS (1)")
    assert(rep.kind == "ERROR")
    assert(rep.suggestion.contains("Did you mean: VALUES?"), rep.suggestion)
  }

  test("keyword typo yields Levenshtein suggestion (utils.h:23-45 parity)") {
    val rep = QueryEngine.run(spark, "SELCT c_name FROM customer")
    assert(rep.kind == "ERROR")
    assert(rep.suggestion.contains("Did you mean: SELECT?"), rep.suggestion)
    // parse failures carry the syntax flag (CLI styled block,
    // cli.cpp:205-218 parity); analysis errors must NOT
    assert(rep.syntaxError)
    val analysis = QueryEngine.run(spark,
      "SELECT c.no_such_col FROM customer c")
    assert(analysis.kind == "ERROR" && !analysis.syntaxError)
  }

  test("unknown FROM table warns and continues (semantic.cpp:22-26, cli.cpp:243 parity)") {
    val rep = QueryEngine.run(spark, "SELECT * FROM no_such_table")
    // kind=WARN, never SELECT: the statement was analyzed but not executed,
    // and a consumer checking only kind must not read it as an empty result
    assert(rep.kind == "WARN" && rep.error.isEmpty)
    assert(rep.warnings.exists(w =>
      w.contains("Table 'no_such_table' not found") && w.contains("proceeding anyway")), rep.warnings)
    assert(rep.transformLog == Seq("Continuing with optimization..."))
    assert(rep.planTree.nonEmpty) // parse-level plan still reported
  }

  test("unknown JOIN table stays terminal (semantic.cpp:32 parity)") {
    val rep = QueryEngine.run(spark,
      "SELECT * FROM customer c JOIN no_such_table x ON c.c_custkey = x.id")
    assert(rep.kind == "ERROR" && rep.error.exists(_.toLowerCase.contains("no_such_table")))
  }

  test("missing JOIN table stays terminal even when the FROM table is also missing") {
    // Spark surfaces the LEFT-MOST unresolved relation (the FROM table)
    // first; the warn path must not swallow the JOIN-table error behind it
    val rep = QueryEngine.run(spark,
      "SELECT * FROM no_such_from f JOIN no_such_join j ON f.x = j.y")
    assert(rep.kind == "ERROR" && rep.error.nonEmpty, s"${rep.kind} ${rep.warnings}")
  }

  test("unqualified unknown column warns; qualified stays terminal (semantic.cpp:44-58 parity)") {
    val warn = QueryEngine.run(spark, "SELECT no_such_col FROM customer")
    assert(warn.kind == "WARN" && warn.error.isEmpty)
    assert(warn.warnings.exists(w =>
      w.contains("Column 'no_such_col' not found") && w.contains("proceeding anyway")), warn.warnings)
    val hard = QueryEngine.run(spark, "SELECT c.no_such_col FROM customer c")
    assert(hard.kind == "ERROR" && hard.error.nonEmpty)
  }

  test("a physical-planning failure reports ERROR under SELECT and EXPLAIN") {
    object Boom extends org.apache.spark.sql.execution.SparkStrategy {
      def apply(plan: LogicalPlan) = throw new IllegalStateException("planner boom")
    }
    val before = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = before :+ Boom
    try Seq("", "EXPLAIN ").foreach { prefix =>
      val rep = QueryEngine.run(spark, s"${prefix}SELECT c_custkey FROM customer WHERE c_custkey < 5")
      assert(rep.kind == "ERROR" && rep.error.nonEmpty, s"$prefix: $rep")
    } finally spark.experimental.extraStrategies = before
    assert(QueryEngine.run(spark, "EXPLAIN SELECT c_custkey FROM customer").kind == "EXPLAIN")
  }

  /** What `f` executed: each SQL action as (action name, QueryExecution),
    * and the number of stages its jobs submitted. Listener delivery is
    * asynchronous but ordered, so seeing a marker action after `f` means
    * every action and stage of `f` has been seen too.
    */
  private case class Executed(actions: Seq[(String, QueryExecution)], stages: Int) {
    def of(rep: QueryEngine.QueryReport): Int =
      actions.count(_._2 eq rep.df.get.queryExecution)
  }

  private def executed(f: => Unit): Executed = {
    val actions = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val stages = new AtomicInteger
    val marker = spark.range(1)
    val seen = new CountDownLatch(2)
    val onAction = new QueryExecutionListener {
      private def add(name: String, qe: QueryExecution): Unit =
        if (qe eq marker.queryExecution) seen.countDown() else actions.add(name -> qe)
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = add(name, qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = add(name, qe)
    }
    val onStage = new SparkListener {
      private def isMarker(p: java.util.Properties) =
        p != null && p.getProperty("spark.job.description") == "qe-marker"
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isMarker(e.properties)) seen.countDown()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (!isMarker(e.properties)) stages.incrementAndGet()
    }
    val sc = spark.sparkContext
    spark.listenerManager.register(onAction)
    sc.addSparkListener(onStage)
    try {
      f
      sc.setJobDescription("qe-marker")
      try marker.collect() finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "marker action never reached the listeners")
    } finally {
      spark.listenerManager.unregister(onAction)
      sc.removeSparkListener(onStage)
    }
    Executed(actions.asScala.toSeq, stages.get)
  }

  /** The one shape whose rows are fetched through `df.limit(51)`. */
  private def sortRoot(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => sortRoot(child)
    case s: Sort => s.global
    case _ => false
  }

  /** Rows come out in a defined order: a Sort under the root's Projects
    * and limits.
    */
  private def orderedRoot(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => orderedRoot(child)
    case GlobalLimit(_, child) => orderedRoot(child)
    case LocalLimit(_, child) => orderedRoot(child)
    case _: Sort => true
    case _ => false
  }

  /** `rep` shows the rows of `spark.sql(sql).limit(51).collect()`, given
    * as `want` (rendered): by count when truncated, else in order when
    * `ordered`, as multisets otherwise.
    */
  private def assertRows(label: String, rep: QueryEngine.QueryReport, want: Seq[String],
      ordered: Boolean): Unit = {
    assert(rep.kind == "SELECT", s"$label: ${rep.error}")
    if (want.size > 50) assert(rep.rowCount == 51 && rep.rows.size == 50, label)
    else {
      assert(rep.rowCount == want.size, label)
      if (ordered) assert(rep.rows == want, label)
      else assert(rep.rows.sorted == want.sorted, label)
    }
  }

  private object aqe extends AdaptiveSparkPlanHelper

  test("one execution per SELECT: the rows come from the report's own QueryExecution") {
    var rep: QueryEngine.QueryReport = null
    val ex = executed {
      rep = QueryEngine.run(spark,
        """SELECT c.c_name, o.o_orderkey, o.o_totalprice FROM customer c
           JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_orderstatus = 'O'""")
    }
    assert(rep.kind == "SELECT" && rep.rowCount == 51 && rep.rows.size == 50, rep.error)
    assert(ex.actions.size == 1, ex.actions.map(_._1))
    assert(ex.actions.head._1 == "collect" && ex.of(rep) == 1)
  }

  test("a plan already bounded to 51 rows is collected whole from the report's plan, in one stage") {
    // four range partitions: executeTake(51) on the root
    // TakeOrderedAndProject would shuffle them into one partition first
    val sql = "SELECT id FROM range(0, 1000, 1, 4) ORDER BY id DESC LIMIT 10"
    var rep: QueryEngine.QueryReport = null
    val ex = executed { rep = QueryEngine.run(spark, sql) }
    assert(rep.rows == (999 to 990 by -1).map(_.toString) && rep.rowCount == 10, rep.rows)
    assert(ex.actions.size == 1 && ex.of(rep) == 1, ex.actions.map(_._1))
    assert(ex.stages == 1, s"${ex.stages} stages")
  }

  test("ORDER BY without LIMIT is the one shape that re-plans: a top-k, the first 50 in order") {
    val sql = "SELECT c_custkey, c_name FROM customer ORDER BY c_acctbal DESC, c_custkey"
    var rep: QueryEngine.QueryReport = null
    val ex = executed { rep = QueryEngine.run(spark, sql) }
    assert(sortRoot(rep.df.get.queryExecution.optimizedPlan))
    assert(rep.rowCount == 51)
    assert(rep.rows == spark.sql(sql).collect().take(50).map(QueryEngine.renderRow).toSeq)
    assert(ex.actions.size == 1 && ex.of(rep) == 0, ex.actions.map(_._1))
    val plan = ex.actions.head._2.executedPlan
    assert(aqe.collect(plan) { case t: TakeOrderedAndProjectExec => t }.nonEmpty, plan)
    assert(aqe.collect(plan) { case s: SortExec if s.global => s }.isEmpty, plan)
  }

  test("BINARY cells render as hex bytes, the same on every run") {
    val sql = "SELECT X'01FF0A' AS b, CAST(NULL AS BINARY) AS n, X'' AS e"
    val first = QueryEngine.run(spark, sql)
    assert(first.rows == Seq("[01 FF 0A] | NULL | []"), first.rows)
    assert(QueryEngine.run(spark, sql).rows == first.rows)
    // nested in an array, a struct and a map: hex at any depth
    val nested = "SELECT array(X'01', NULL) AS a, named_struct('b', X'02', 'c', array(X'03')) AS s, " +
      "map('k', X'04') AS m"
    val rows = QueryEngine.run(spark, nested).rows
    assert(rows == Seq("ArraySeq([01], null) | [[02],ArraySeq([03])] | Map(k -> [04])"), rows)
    assert(QueryEngine.run(spark, nested).rows == rows)
    // nested values without BINARY print exactly as their toString
    val plain = "SELECT array(1, NULL) AS a, named_struct('x', 1, 'y', array('z')) AS s, " +
      "map('k', 1.5D) AS m"
    assert(QueryEngine.run(spark, plain).rows ==
      spark.sql(plain).collect().map(_.toSeq.map(String.valueOf).mkString(" | ")).toSeq)
  }

  test("NULL rendering and ' | ' separators (cli.cpp:312-318 parity)") {
    val rep = QueryEngine.run(spark,
      "SELECT c_custkey, CASE WHEN c_custkey > 2 THEN NULL ELSE c_name END AS maybe FROM customer WHERE c_custkey <= 3 ORDER BY c_custkey")
    assert(rep.rows.length == 4)
    assert(rep.rows.last.endsWith(" | NULL"))
    assert(rep.rows.head.contains(" | "))
  }

  test("comma-join conversion appears in the log") {
    val rep = QueryEngine.run(spark,
      "EXPLAIN SELECT c.c_name FROM customer c, nation n WHERE c.c_nationkey = n.n_nationkey")
    assert(rep.transformLog.mkString.contains("comma_join_conversion"), rep.transformLog)
  }

  test("rewritten SQL: comma join regenerates as JOIN..ON with inline-view pushdown") {
    val rep = QueryEngine.run(spark,
      """EXPLAIN SELECT c.c_name FROM customer c, nation n
         WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 5000""")
    val sql = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql; tree:\n${rep.planTree}"))
    assert(sql.contains(" JOIN ") && sql.contains(" ON "), sql)
    assert(sql.contains("(SELECT") && sql.contains("WHERE"), sql) // pushdown as inline view
  }

  test("rewritten SQL round-trips: optimized text returns the original results") {
    val queries = Seq(
      "SELECT c.c_name FROM customer c, nation n WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 5000",
      "SELECT o_orderstatus, COUNT(*) AS n FROM orders WHERE o_totalprice > 100000 GROUP BY o_orderstatus",
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
      // COUNT(*) prunes every column — the zero-column Project must render
      // as SELECT 1 (runnable), not "SELECT  FROM"
      "SELECT COUNT(*) AS n FROM nation",
      // a pruning Project over a filtered join as a join operand is its own
      // inline view: the outer SELECT must qualify by the view's alias,
      // pure projection and computed alike
      "SELECT n.n_name, x.c_custkey FROM nation n JOIN (SELECT c.c_nationkey, c.c_custkey FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_orderkey IS NULL) x ON n.n_nationkey = x.c_nationkey",
      "SELECT n.n_name, x.c_custkey, x.k2 FROM nation n JOIN (SELECT c.c_nationkey, c.c_custkey, c.c_custkey + 1 AS k2 FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_orderkey IS NULL) x ON n.n_nationkey = x.c_nationkey")
    queries.foreach { q =>
      val rep = QueryEngine.run(spark, s"EXPLAIN $q")
      val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql for: $q\n${rep.planTree}"))
      val a = spark.sql(q).collect().map(_.toString).sorted
      val b = spark.sql(rewritten).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
    }
  }

  test("rewritten SQL: uncorrelated scalar subqueries inline and round-trip (merged and plain)") {
    val queries = Seq(
      // plain surviving subquery
      "SELECT o_orderkey FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)",
      // two sibling subqueries over the same source: MergeScalarSubqueries
      // rewrites them into one struct plan + GetStructField extractions;
      // the rendering must be the UNMERGED per-site subqueries
      "SELECT p_partkey FROM part WHERE p_retailprice >= (SELECT MAX(p_retailprice) FROM part) OR p_retailprice < (SELECT MIN(p_retailprice) + 1.0 FROM part)")
    queries.foreach { q =>
      val rep = QueryEngine.run(spark, s"EXPLAIN $q")
      val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql for: $q\n${rep.planTree}"))
      assert(rewritten.contains("(SELECT"), rewritten)
      assert(!rewritten.contains("scalarsubquery"), rewritten)
      val a = spark.sql(q).collect().map(_.toString).sorted
      val b = spark.sql(rewritten).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
    }
    // a correlated subquery decorrelates to a LeftSingle join over an
    // aggregate view — if the un-parser renders it (round 16: it does),
    // the regenerated text must EXECUTE row-equal. (The analyzer names
    // the output column `scalarsubquery(...)`, so a substring check on
    // the alias would false-alarm; execution is the real contract.)
    val corrQ =
      "SELECT c_name, (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = c_name) FROM customer"
    val corr = QueryEngine.run(spark, s"EXPLAIN $corrQ")
    corr.rewrittenSql.foreach { r =>
      val a = spark.sql(corrQ).collect().map(_.toString).sorted
      val b = spark.sql(r).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"mismatch for rewritten: $r")
    }
  }

  test("rewritten SQL round-trips GROUP BY + HAVING over a join (optimizer.cpp:133-188 parity)") {
    val q =
      """SELECT c_nationkey, COUNT(*) AS n FROM customer JOIN orders ON c_custkey = o_custkey
         WHERE o_totalprice > 100000.0 GROUP BY c_nationkey HAVING COUNT(*) >= 5"""
    val rep = QueryEngine.run(spark, s"EXPLAIN $q")
    val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql; tree:\n${rep.planTree}"))
    assert(rewritten.toUpperCase.contains("HAVING"), rewritten)
    val a = spark.sql(q).collect().map(_.toString).sorted
    val b = spark.sql(rewritten).collect().map(_.toString).sorted
    assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
  }

  test("rewritten SQL: HAVING aggregate pruned from SELECT still renders and round-trips") {
    // COUNT(*) appears ONLY in HAVING: the optimizer prunes it from the
    // projection, so alias expansion must consult the full aggregate list
    val q = "SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 10"
    val rep = QueryEngine.run(spark, s"EXPLAIN $q")
    rep.rewrittenSql.foreach { rewritten =>
      assert(rewritten.toUpperCase.contains("HAVING"), rewritten)
      val a = spark.sql(q).collect().map(_.toString).sorted
      val b = spark.sql(rewritten).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
    }
    // None is acceptable (unsupported shape); broken SQL is not
  }

  test("plan report lists used pushed filters (execution_plan.h:196-271 used-index parity)") {
    val rep = QueryEngine.run(spark,
      "EXPLAIN SELECT l_orderkey FROM lineitem WHERE l_quantity > 45.0")
    assert(rep.planTree.contains("used pushed filters (lineitem)"), rep.planTree)
    assert(rep.planTree.contains("l_quantity"), rep.planTree)
    val point = QueryEngine.run(spark,
      "EXPLAIN SELECT c_name FROM customer WHERE c_custkey = 42")
    assert(point.planTree.contains("used pushed filters (customer)"), point.planTree)
    // events is a copy in the warehouse, not a `<name>.parquet` file: the
    // scan is still named by its table
    val events = QueryEngine.run(spark, "EXPLAIN SELECT event_id FROM events WHERE user_id = 7")
    assert(events.planTree.contains("used pushed filters (events)"), events.planTree)
  }

  test("pushed-filter report matches the formatted EXPLAIN over the registry") {
    // the report reads the scan nodes; the formatted EXPLAIN text it used
    // to parse is the reference: same scans, tables, filters and order,
    // over every Spark-runnable registry oracle (the coverage-ratchet set)
    def fromExplain(qe: org.apache.spark.sql.execution.QueryExecution): Seq[String] = {
      // each scan's header, `(n) Scan parquet spark_catalog.<db>.<table>`
      val scanRe = "\\(\\d+\\) Scan parquet *(\\S*)".r
      var current: Option[String] = None
      qe.explainString(org.apache.spark.sql.execution.FormattedMode).linesIterator
        .map(_.trim).flatMap { t =>
          if (scanRe.matches(t)) {
            current = scanRe.findFirstMatchIn(t).map(_.group(1)).filter(_.nonEmpty)
              .map(_.split('.').last)
            None
          } else if (t.startsWith("PushedFilters:")) {
            val fs = t.stripPrefix("PushedFilters:").trim
            if (fs.nonEmpty && fs != "[]") Some(s"used pushed filters (${current.getOrElse("?")}): $fs")
            else None
          } else None
        }.toList
    }
    val plans = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      try { val qe = spark.sql(sql).queryExecution; qe.executedPlan; Some(name -> qe) }
      catch { case _: Throwable => None }
    }
    assert(plans.size >= 80, s"corpus shrank to ${plans.size}")
    val reports = plans.map { case (name, qe) =>
      val got = QueryEngine.pushedFilterReport(qe)
      assert(got == fromExplain(qe), name)
      got
    }
    assert(reports.count(_.nonEmpty) >= 40, "too few plans push a filter to pin anything")
  }

  test("rewritten SQL is None, never a lie, for unsupported plan shapes") {
    // a Generate (lateral explode) node has no rendering in the supported
    // family — must answer None, not a best-effort guess
    val rep = QueryEngine.run(spark,
      "EXPLAIN SELECT o_orderkey, x FROM orders LATERAL VIEW explode(array(1, 2)) t AS x")
    assert(rep.rewrittenSql.isEmpty)
  }

  test("rewritten SQL round-trips the OLAP family: window, rollup, grouping sets, set ops") {
    val queries = Seq(
      // two OVER clauses, one with a staged _w cast column the renderer
      // must inline; LAG must come back as LAG (offset sign!)
      """SELECT o_orderkey, o_custkey,
           RANK() OVER (PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC) AS price_rank,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
         FROM orders WHERE o_custkey < 500""",
      // ROLLUP with GROUPING() bit extractions mapped back
      """SELECT o_orderstatus, o_orderpriority, CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
           COUNT(*) AS n FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
      // GROUPING SETS incl. the grand total
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
      // INTERSECT/EXCEPT/UNION over three reads of orders: per-branch
      // scopes keep the rendering unambiguous
      """(SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
          INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         UNION
         (SELECT c_custkey FROM customer WHERE c_acctbal < -900
          EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%')""",
      // UNION ALL keeps duplicates
      "SELECT n_name FROM nation UNION ALL SELECT r_name FROM region",
      // a branch's own ORDER BY … LIMIT … OFFSET stays inside its parentheses
      "(SELECT n_name FROM nation ORDER BY n_name LIMIT 3 OFFSET 1) UNION ALL (SELECT r_name FROM region)",
      // … and its sort keys stay unqualified when the union is a FROM view
      "SELECT n_name, COUNT(*) AS c FROM ((SELECT n_name FROM nation ORDER BY n_name LIMIT 3) UNION ALL (SELECT r_name FROM region)) t GROUP BY n_name",
      // aggregate window function keeps its frame
      """SELECT o_orderkey, SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM orders WHERE o_custkey < 100""")
    queries.foreach { q =>
      val rep = QueryEngine.run(spark, s"EXPLAIN $q")
      val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql for: $q\n${rep.planTree}"))
      val a = spark.sql(q).collect().map(_.toString).sorted
      val b = spark.sql(rewritten).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
    }
  }

  test("rewritten SQL round-trips semi/anti joins (IN, EXISTS, NOT IN, native syntax)") {
    val queries = Seq(
      // IN (subquery) -> LeftSemi
      "SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)",
      // correlated EXISTS -> LeftSemi with the correlation as the condition
      "SELECT c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)",
      // NOT IN -> LeftAnti with the null-safe disjunct
      "SELECT c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%')",
      // native syntax round-trips to itself
      "SELECT n_name FROM nation LEFT SEMI JOIN region ON n_regionkey = r_regionkey AND r_name LIKE 'A%'",
      "SELECT n_name FROM nation LEFT ANTI JOIN region ON n_regionkey = r_regionkey")
    queries.foreach { q =>
      val rep = QueryEngine.run(spark, s"EXPLAIN $q")
      val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql for: $q\n${rep.planTree}"))
      assert(rewritten.contains("SEMI JOIN") || rewritten.contains("ANTI JOIN"), rewritten)
      val a = spark.sql(q).collect().map(_.toString).sorted
      val b = spark.sql(rewritten).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
    }
  }

  test("rewritten SQL is None for self-joins (qualifier-stripped text would be ambiguous)") {
    val rep = QueryEngine.run(spark,
      "EXPLAIN SELECT a.o_orderkey FROM orders a JOIN orders b ON a.o_orderkey = b.o_custkey")
    assert(rep.rewrittenSql.isEmpty, rep.rewrittenSql)
  }

  test("rewritten SQL round-trips PIVOT (single and multi aggregate)") {
    val queries = Seq(
      "SELECT * FROM (SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem) PIVOT (SUM(l_quantity) FOR l_linestatus IN ('F', 'O'))",
      "SELECT * FROM (SELECT l_returnflag, l_linestatus, l_quantity, l_tax FROM lineitem) PIVOT (SUM(l_quantity) AS q, MAX(l_tax) AS t FOR l_linestatus IN ('F', 'O'))")
    queries.foreach { q =>
      val rep = QueryEngine.run(spark, s"EXPLAIN $q")
      val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql for: $q\n${rep.planTree}"))
      assert(rewritten.contains("PIVOT ("), rewritten)
      val a = spark.sql(q).collect().map(_.toString).sorted
      val b = spark.sql(rewritten).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
    }
  }

  test("rewritten SQL round-trips WITH RECURSIVE (incl. a VALUES edge list)") {
    val queries = Seq(
      "WITH RECURSIVE tree(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM tree WHERE n < 5) SELECT n FROM tree",
      """WITH RECURSIVE e(parent, child) AS (VALUES (0, 1), (0, 2), (1, 3)),
           t(node, depth) AS (SELECT 0 AS node, 0 AS depth
             UNION ALL SELECT e.child, t.depth + 1 FROM t JOIN e ON e.parent = t.node)
         SELECT node, depth FROM t""")
    queries.foreach { q =>
      val rep = QueryEngine.run(spark, s"EXPLAIN $q")
      val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql for: $q\n${rep.planTree}"))
      assert(rewritten.startsWith("WITH RECURSIVE "), rewritten)
      val a = spark.sql(q).collect().map(_.toString).sorted
      val b = spark.sql(rewritten).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
    }
  }

  test("loops with duplicate column names render via synthesized __c<i> CTE columns") {
    // the anchor `SELECT 0, 0` names BOTH loop columns `0` — name-based
    // SQL cannot address them as-is, and this declined through round 16.
    // Round 17: the CTE column list renames the loop's columns to __c<i>
    // and every loop/ref reference renders the synthesized name; the
    // regenerated text must EXECUTE to the original rows, as everywhere
    val q = """WITH RECURSIVE t(node, depth) AS (SELECT 0, 0
           UNION ALL SELECT node + 1, depth + 1 FROM t WHERE node < 3)
         SELECT node, depth FROM t"""
    val rep = QueryEngine.run(spark, s"EXPLAIN $q")
    val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql\n${rep.planTree}"))
    assert(rewritten.contains("__c0") && rewritten.contains("__c1"), rewritten)
    val a = spark.sql(q).collect().map(_.toString).sorted
    val b = spark.sql(rewritten).collect().map(_.toString).sorted
    assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
  }

  test("rewritten SQL round-trips inline VALUES") {
    val q = "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS v(id, tag)"
    val rep = QueryEngine.run(spark, s"EXPLAIN $q")
    val rewritten = rep.rewrittenSql.getOrElse(fail(s"no rewritten sql\n${rep.planTree}"))
    assert(rewritten.contains("VALUES"), rewritten)
    val a = spark.sql(q).collect().map(_.toString).sorted
    val b = spark.sql(rewritten).collect().map(_.toString).sorted
    assert(a.sameElements(b), s"mismatch for rewritten: $rewritten")
  }

  /** One registry oracle run through `QueryEngine.run` as the CLI runs it,
    * with the full result of the same text (None when that fails at run
    * time, as x10's DuckDB-only hex cast does).
    */
  private case class RegistryRun(name: String, sql: String, rep: QueryEngine.QueryReport,
      full: Option[Array[Row]])

  /** Every Spark-runnable registry oracle (its SQL parses and analyzes on
    * Spark), run once, with what the pass executed. The coverage ratchet
    * and the row-parity test share this one pass over the registry.
    */
  private lazy val registry: (Seq[RegistryRun], Executed) = {
    var runs = Seq.empty[RegistryRun]
    val ex = executed {
      runs = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
        val sparkRunnable =
          try { spark.sql(sql).queryExecution.analyzed; true }
          catch { case _: Throwable => false }
        if (!sparkRunnable) None
        else Some(RegistryRun(name, sql, QueryEngine.run(spark, sql),
          try Some(spark.sql(sql).collect()) catch { case _: Throwable => None }))
      }
    }
    (runs, ex)
  }

  test("row parity over the registry: QueryEngine.run shows the rows of spark.sql(sql).limit(51)") {
    val (runs, ex) = registry
    assert(runs.size >= 80, s"corpus shrank to ${runs.size}")
    runs.foreach { r =>
      r.full match {
        case None => assert(r.rep.kind == "ERROR", s"${r.name} ran in the engine only")
        case Some(full) =>
          // LIMIT 51 of an n <= 50-row result is all of it, so the full
          // result stands in for spark.sql(sql).limit(51).collect()
          val want = full.toSeq.map(QueryEngine.renderRow)
          val optimized = r.rep.df.map(_.queryExecution.optimizedPlan)
          assertRows(r.name, r.rep, want, optimized.exists(orderedRoot))
          assert(r.rep.rows.diff(want).isEmpty, s"${r.name}: rows outside the full result")
          // only an ORDER BY without LIMIT re-plans; every other statement
          // executes the report's own QueryExecution, once
          assert(ex.of(r.rep) == (if (sortRoot(optimized.get)) 0 else 1), r.name)
      }
    }
    assert(runs.exists(r => r.full.exists(_.length > 50)), "no truncated result to pin")
    Seq("SHOW TABLES", "DESCRIBE customer", "SET spark.sql.shuffle.partitions",
        "SELECT c_custkey FROM customer WHERE c_custkey < 0",
        "SELECT 1 AS x WHERE 1 = 0").foreach { sql =>
      val want = spark.sql(sql).limit(51).collect().toSeq.map(QueryEngine.renderRow)
      assertRows(sql, QueryEngine.run(spark, sql), want, ordered = false)
    }
  }

  test("rewrittenSql coverage ratchet: every Spark-runnable SparkEntry oracle is classified, regenerators can't silently regress") {
    // The un-parser's coverage, pinned against the LIVE query registry:
    // every SparkEntry oracle whose SQL also parses+analyzes on Spark (the
    // shared-dialect surface) is run through QueryEngine and its
    // regenerates-or-not status compared to this map. Adding SQL surface
    // without classifying it here fails the diff; an un-parser regression
    // (a true flipping to false) fails it too. Re-pin IN THE SAME COMMIT
    // when coverage intentionally changes.
    // 88 oracles are Spark-runnable; ALL 88 regenerate (y11's empty-
    // LocalRelation schema oracle joined the set already-rendering, riding
    // the round-17 typed-null LIMIT-0 form; q58 joined with the un-parser
    // taught to render the GlobalLimit-over-Offset sandwich as
    // LIMIT n OFFSET m). Round 17 flipped
    // twenty: empty LocalRelations render as typed-null LIMIT-0 selects
    // (the seven y-family WHERE-FALSE schema oracles, t07, y10);
    // RewriteIntersectAll/RewriteExceptAll tagged-union shapes un-parse
    // back to INTERSECT ALL / EXCEPT ALL (q43); computed Projects over
    // join subtrees render as inline views (q26's decorrelated
    // correlated-COUNT/SUM, q56's decorrelated LATERAL); window
    // expressions nested inside arbitrary expressions render via
    // per-window OVER substitution (t24, s06); set operations render as
    // inline views in FROM position with Range leaves as the range() TVF
    // (s06/s17/s23's union-sourced aggregates under window stacks); and
    // attribute references render QUALIFIED by their relation's rendered
    // alias (per-scope exprId→alias map), so cross-relation column-name
    // collisions are no longer declines (q18's NATURAL JOIN coalesced
    // keys, s15/s21's same-table view joins, p13's quantile-bounds join).
    // Finally, loops whose output exposes DUPLICATE column names (q53's
    // `SELECT 0, 0` anchor) get synthesized `__c<i>` names via the CTE
    // column list, with every loop/ref attribute reference renamed to
    // match — the last decline closed. Round 16 flipped sixteen via
    // aggregate inline views, LeftSingle, pruning projects, computed
    // group keys, window-column filters, per-branch sort/limit.
    // (p05 left the set in round 13, p23 never entered it: their oracles
    // carry DuckDB-only syntax Spark's parser rejects — exactly the
    // classification this test exists to keep explicit.) The false rows are
    // un-parser gaps by DESIGN CHOICE (left/right anti, EXISTS/IN-subquery
    // plans, UnionLoop, multi-join trees >3 relations) — each false that
    // should be true is future un-parser work, visible here instead of
    // silently absent.
    val pinned: Map[String, Boolean] = Map(
      "d01_dedup_exact" -> true,
      "j02_range" -> true,
      "m07_pair_audit" -> true,
      "p06_diversity" -> true,
      "p26_functional_deps" -> true,
      "p09_mad" -> true,
      "p13_winsorized" -> true,
      "q01_scan_project" -> true,
      "q02_filter_pushdown" -> true,
      "q03_point_lookup" -> true,
      "q04_like" -> true,
      "q05_boolean" -> true,
      "q06_arith" -> true,
      "q07_between_in" -> true,
      "q08_case" -> true,
      "q09_distinct" -> true,
      "q10_topk" -> true,
      "q11_agg_group" -> true,
      "q12_global_agg" -> true,
      "q13_having" -> true,
      "q14_join_inner" -> true,
      "q15_join_left" -> true,
      "q16_join_right" -> true,
      "q17_join_full" -> true,
      "q18_join_natural" -> true,
      "q19_semi_in" -> true,
      "q20_join_left_anti" -> true,
      "q21_join_right_anti" -> true,
      "q22_join_full_outer_anti" -> true,
      "q23_cross" -> true,
      "q24_comma_join" -> true,
      "q25_scalar_subquery" -> true,
      "q26_correlated_agg" -> true,
      "q27_not_in" -> true,
      "q28_star_agg" -> true,
      "q29_flagship" -> true,
      "q30_group_expr" -> true,
      "q31_exists" -> true,
      // round 16: ANY/ALL's MIN/MAX rewrite keeps uncorrelated scalar
      // subqueries (merged by MergeScalarSubqueries); the un-parser now
      // un-merges and inlines them as real (SELECT ...) text
      "q32_any_all" -> true,
      "q33_kitchen_sink" -> true,
      "q34_four_join_distinct" -> true,
      "q35_rollup" -> true,
      "q36_grouping_sets" -> true,
      "q37_window_sql" -> true,
      "q38_set_ops" -> true,
      "q39_pivot" -> true,
      "q40_unpivot" -> true,
      "q41_window_frames" -> true,
      "q42_cte" -> true,
      "q43_set_ops_all" -> true,
      "q44_date_functions" -> true,
      "q45_string_functions" -> true,
      "q47_values_inline" -> true,
      "q48_filter_clause" -> true,
      "q50_null_funcs" -> true,
      "q51_group_by_all" -> true,
      "q52_latest_per_key" -> true,
      "q53_recursive_cte" -> true,
      "q54_nulls_ordering" -> true,
      "q55_cube" -> true,
      "q56_lateral_subquery" -> true,
      "q57_interval_range" -> true,
      "q58_limit_offset" -> true,
      // round 18: q59's five-row UNION ALL of scalar subqueries and
      // y12's typed-null WHERE-FALSE schema oracle both regenerate and
      // execute row-equal
      "q59_cbo_accuracy" -> true,
      "y12_restart_recovery" -> true,
      "y13_midbatch_kill_recovery" -> true,
      "s01_events_hourly" -> true,
      "s04_funnel" -> true,
      "s06_event_spikes" -> true,
      "s10_transition_matrix" -> true,
      "s14_longest_streak" -> true,
      "s15_cooccurrence_lift" -> true,
      "s17_cusum_drift" -> true,
      "s21_markov_accuracy" -> true,
      "s23_changepoint" -> true,
      "t01_lang_id" -> true,
      "t05_topk_per_source" -> true,
      "t07_rolling_native" -> true,
      "t18_code_detect" -> true,
      "t24_lang_confusion" -> true,
      "x01_salted_join" -> true,
      "x10_grouped_split" -> true,
      "y03_stream_sessions" -> true,
      "y04_stream_neardup_gate" -> true,
      "y05_stream_interval_join" -> true,
      "y06_stream_interval_outer" -> true,
      "y07_stream_session_window" -> true,
      "y08_stream_interval_full" -> true,
      "y09_stream_interval_right" -> true,
      "y10_rocksdb_state_store" -> true,
      "y11_transform_with_state" -> true)
    // a statement that fails at run time reports ERROR without its
    // rewritten text; EXPLAIN still classifies it
    val results: Map[String, Option[String]] = registry._1.map { r =>
      r.name -> (
        if (r.rep.kind == "ERROR") QueryEngine.run(spark, s"EXPLAIN ${r.sql}").rewrittenSql
        else r.rep.rewrittenSql)
    }.toMap
    val fmt = results.toSeq.sorted.map { case (n, v) => s""""$n" -> ${v.isDefined}""" }
      .mkString(",\n      ")
    assert(results.view.mapValues(_.isDefined).toMap == pinned,
      s"""rewrittenSql coverage drifted.
         |missing from pin: ${results.keySet -- pinned.keySet}
         |stale in pin: ${pinned.keySet -- results.keySet}
         |flipped: ${results.collect { case (k, v) if pinned.get(k).exists(_ != v.isDefined) => k }}
         |current classification (paste into `pinned`):
         |      $fmt""".stripMargin)
    // coverage is only half the contract: every regenerated text must also
    // RETURN the original's rows — "renders" without "renders correctly"
    // is exactly the best-effort lie the un-parser promises never to tell.
    // Executed here over the live registry so a new entry whose oracle
    // regenerates subtly wrong can't ship green.
    val full = registry._1.map(r => r.name -> r.full).toMap
    val mismatches = results.collect { case (name, Some(rewritten)) =>
      // analyzable-but-not-executable originals (x10's 0x-hex CAST is
      // DuckDB arithmetic that Spark's ANSI cast rejects at runtime) have
      // nothing to hold the regenerated text against — skip, don't blame
      full(name).map(_.map(_.toString).sorted).flatMap { a =>
        try {
          val b = spark.sql(rewritten).collect().map(_.toString).sorted
          if (a.sameElements(b)) None else Some(s"$name: wrong rows: $rewritten")
        } catch { case e: Throwable =>
          // a regenerated text that does not even run is the worst lie
          Some(s"$name: ${e.getMessage.linesIterator.next()}: $rewritten")
        }
      }
    }.flatten
    assert(mismatches.isEmpty,
      s"regenerated SQL returned different rows:\n${mismatches.mkString("\n")}")
  }
}
