package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression,
  NamedExpression, ScalarSubquery}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.SQLExecution

/** Query facade reproducing the reference CLI's observable behavior
  * (`engine/src/cli.cpp:63-326`): EXPLAIN-prefix handling (`cli.cpp:201`),
  * per-query transform log (`engine/src/optimizer.cpp:287-318`), plan tree
  * with per-node row estimates (`engine/include/execution_plan.h:247-261`),
  * typo suggestions (`engine/include/utils.h:23-45`), warn-style semantic
  * errors (`engine/src/semantic.cpp`), DML parse-and-report
  * (`cli.cpp:322`), and `"NULL"`/`" | "` row rendering (`cli.cpp:312-318`).
  *
  * The optimization itself is Catalyst's — parse → analyze → optimize →
  * physical plan is the same pipeline the reference hand-rolls (SURVEY.md
  * §3.1); this class *observes* Catalyst's work and reports it in the
  * reference's vocabulary.
  */
object QueryEngine {

  /** Result of one query. `rows` is populated only for executed SELECTs;
    * `rewrittenSql` when the optimized plan un-parses to SQL (≙ the
    * reference's regenerated optimized SQL, `sqlopt.cpp:691-724`);
    * `warnings` for the reference's warn-and-continue semantic paths
    * (`semantic.cpp:22-26,53-58` — reported, never terminal). A
    * warn-and-continue report carries kind=WARN: the statement was analyzed
    * and its parse-level plan reported, but it never EXECUTED — a consumer
    * checking only `kind` must not read it as a successful empty SELECT.
    */
  case class QueryReport(
      kind: String, // SELECT | EXPLAIN | WARN | INSERT | UPDATE | DELETE | ERROR
      transformLog: Seq[String],
      planTree: String,
      rows: Seq[String],
      rowCount: Long,
      error: Option[String],
      suggestion: Option[String],
      df: Option[DataFrame],
      rewrittenSql: Option[String] = None,
      warnings: Seq[String] = Nil,
      // true only for PARSE failures — the CLI renders those as the
      // reference's styled syntax-error block (cli.cpp:205-218); analysis
      // and runtime errors keep the plain ERROR line
      syntaxError: Boolean = false)

  private val keywords = Seq(
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "OUTER", "NATURAL", "ANTI",
    "CROSS", "ON", "AS", "AND", "OR", "NOT", "LIKE", "BETWEEN", "IN",
    "DISTINCT", "COUNT", "SUM", "AVG", "MIN", "MAX", "INSERT", "INTO",
    "VALUES", "UPDATE", "SET", "DELETE", "EXPLAIN")

  /** Levenshtein distance (≙ reference `utils.h:23-45`). */
  def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
    }
    d(a.length)(b.length)
  }

  /** Closest keyword within distance 2, reference's suggestion rule. */
  def suggestKeyword(token: String): Option[String] = {
    val up = token.toUpperCase
    keywords.map(k => k -> levenshtein(up, k)).filter(_._2 <= 2).filter(_._2 > 0)
      .sortBy(_._2).headOption.map(_._1)
  }

  private def firstWord(sql: String): String =
    sql.trim.split("\\s+").headOption.getOrElse("").toUpperCase

  /** Syntax-error report with the reference's typo suggestion
    * (`utils.h:23-45`): first token within Levenshtein 2 of a keyword that
    * is not itself a keyword.
    */
  private def parseErrorReport(sql: String,
      e: org.apache.spark.sql.catalyst.parser.ParseException): QueryReport = {
    val tok = "[A-Za-z_]+".r.findAllIn(sql).toSeq
      .find(t => suggestKeyword(t).isDefined && !keywords.contains(t.toUpperCase))
    QueryReport("ERROR", Nil, "", Nil, 0, Some(e.getSimpleMessage),
      tok.flatMap(suggestKeyword).map(k => s"Did you mean: $k?"), None,
      syntaxError = true)
  }

  /** Run one statement with reference-CLI semantics. */
  def run(spark: SparkSession, sqlIn: String): QueryReport = {
    val trimmed = sqlIn.trim.stripSuffix(";")
    val isExplain = firstWord(trimmed) == "EXPLAIN"
    val sql = if (isExplain) trimmed.trim.drop("EXPLAIN".length).trim else trimmed

    firstWord(sql) match {
      case "INSERT" | "UPDATE" | "DELETE" =>
        // parity with `cli.cpp:322`: parsed, acknowledged, not optimized —
        // but genuinely PARSED (the reference builds real DML ASTs,
        // `engine/src/parser.cpp:193-296`): malformed DML is a syntax
        // ERROR with the typo suggestion, not an acknowledgement.
        // EXPLAIN <dml> keeps kind EXPLAIN — the stripped prefix must not
        // silently demote an explain request to a DML acknowledgement
        val kind = firstWord(sql)
        try {
          spark.sessionState.sqlParser.parsePlan(sql)
          QueryReport(if (isExplain) "EXPLAIN" else kind,
            Seq(s"$kind statement parsed.",
              "Optimization not implemented for this type"), "", Nil, 0, None, None, None)
        } catch {
          case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            parseErrorReport(sql, e)
        }
      case _ =>
        try {
          val df = spark.sql(sql)
          val qe = df.queryExecution
          val log = transformLog(qe)
          val pushed = pushedFilterReport(qe)
          val tree = (renderTree(qe.optimizedPlan) +: pushed).mkString("\n")
          val rewritten = rewrittenSql(qe.optimizedPlan)
          if (isExplain) QueryReport("EXPLAIN", log, tree, Nil, 0, None, None, Some(df), rewritten)
          else {
            val collected = fetchRows(df)
            val rendered = collected.toSeq.take(50).map(renderRow)
            QueryReport("SELECT", log, tree, rendered, collected.length.toLong,
              None, None, Some(df), rewritten)
          }
        } catch {
          // ParseException extends AnalysisException — match it first so
          // syntax errors get the reference's typo suggestion
          case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            parseErrorReport(sql, e)
          case e: AnalysisException =>
            warnAndContinue(spark, sql, e).getOrElse(
              QueryReport("ERROR", Nil, "", Nil, 0, Some(e.getSimpleMessage), None, None))
          case NonFatal(e) =>
            // getMessage is null for many JVM exceptions (bare NPEs from
            // codegen) — fall back to the class name, never "ERROR: null"
            QueryReport("ERROR", Nil, "", Nil, 0,
              Some(Option(e.getMessage).getOrElse(e.toString)), None, None)
        }
    }
  }

  /** Rows fetched per SELECT: the CLI renders at most 50, and the 51st
    * says the result was truncated, so `rowCount == 51` means "50+ rows".
    * A full result is never collected to the driver (a SELECT * over a
    * large table would OOM it), and an exact total would cost a second
    * full run.
    */
  private val FetchRows = 51

  /** At most [[FetchRows]] rows of `df`, executed from the same
    * QueryExecution the report describes: one analysis, one optimization
    * and one physical plan per statement. The rows come from
    * `executedPlan.executeTake(51)`, or from `executeCollect()` when the
    * optimized plan already bounds the result to ≤ 51 rows (LIMIT n ≤ 51,
    * a global aggregate, VALUES): a limited Dataset would plan exactly
    * that operator and collect it whole, where `executeTake` would run a
    * root CollectLimit or TakeOrderedAndProject through its shuffle.
    *
    * One shape re-plans as `df.limit(51)`: an optimized root that is a
    * global Sort (through Projects), i.e. ORDER BY without LIMIT. Only
    * there does the limit pick a cheaper operator, a top-k
    * TakeOrderedAndProject instead of a range-shuffle sort of the whole
    * result.
    */
  private def fetchRows(df: DataFrame): Array[Row] = {
    val qe = df.queryExecution
    def sortRoot(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => sortRoot(child)
      case s: Sort => s.global
      case _ => false
    }
    if (sortRoot(qe.optimizedPlan)) df.limit(FetchRows).collect()
    else {
      val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      val bounded = qe.optimizedPlan.maxRows.exists(_ <= FetchRows)
      SQLExecution.withNewExecutionId(qe, Some("collect")) {
        val plan = qe.executedPlan
        (if (bounded) plan.executeCollect() else plan.executeTake(FetchRows)).map(toRow)
      }
    }
  }

  /** One result row as the CLI prints it (`cli.cpp:312-318`): cells
    * joined by `" | "`, NULL for null, and BINARY as upper-case hex bytes
    * the way Spark's `show()` prints them (`[01 FF]`), not the array's
    * identity string, which changes from run to run. BINARY inside an
    * array, struct or map is hex too; every other value prints as its
    * `toString`.
    */
  private[graft] def renderRow(row: Row): String = row.toSeq.map {
    case null => "NULL"
    case v => hexBinary(v).toString
  }.mkString(" | ")

  /** `v` with every `Array[Byte]` at any depth replaced by its hex string.
    * `map` keeps each collection's class, so the rebuilt value's
    * `toString` differs from the original's only at the binary leaves.
    */
  private def hexBinary(v: Any): Any = v match {
    case b: Array[Byte] => b.map(x => f"$x%02X").mkString("[", " ", "]")
    case s: scala.collection.Seq[_] => s.map(hexBinary)
    case r: Row => Row.fromSeq(r.toSeq.map(hexBinary))
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => hexBinary(k) -> hexBinary(x) }
    case other => other
  }

  // ------------------------------------------------------------------
  // warn-and-continue semantics (reference semantic.cpp:22-26,53-58 via
  // cli.cpp:228-243)
  // ------------------------------------------------------------------

  private def stripQuotes(ident: String): String = ident.replace("`", "")

  /** Plain structure tree for a PARSED (possibly unresolved) plan —
    * `p.stats` is undefined before analysis, so the warn path renders node
    * names only.
    */
  private def renderParsedTree(p: LogicalPlan, indent: Int = 0): String =
    ((" " * indent + p.nodeName) +: p.children.map(c => renderParsedTree(c, indent + 2)))
      .mkString("\n")

  /** The reference's warn-and-continue semantic paths: an unknown FROM
    * table (`semantic.cpp:22-26`) and an UNQUALIFIED unknown column
    * (`semantic.cpp:53-58`) are reported as warnings and the CLI says
    * "Continuing with optimization..." (`cli.cpp:243`) — the reference is
    * an analysis tool, so continuing means still reporting the parse-level
    * plan, never aborting. Unknown JOIN tables, qualified unknown columns,
    * and ambiguous references stay terminal, exactly as in the reference.
    */
  private def warnAndContinue(spark: SparkSession, sql: String,
      e: AnalysisException): Option[QueryReport] = {
    import scala.jdk.CollectionConverters._
    val cond = Option(e.getCondition).getOrElse("")
    val params = e.getMessageParameters.asScala
    def parsedPlan: Option[LogicalPlan] =
      try Some(spark.sessionState.sqlParser.parsePlan(sql))
      catch { case NonFatal(_) => None }
    val warning: Option[String] =
      if (cond.startsWith("UNRESOLVED_COLUMN")) {
        // unqualified only: a qualified unknown (`t.c`) is a hard error in
        // the reference too (semantic.cpp:44-48)
        params.get("objectName").filterNot(_.contains("."))
          .map(o => s"Warning: Column '${stripQuotes(o)}' not found, proceeding anyway")
      } else if (cond == "TABLE_OR_VIEW_NOT_FOUND") {
        val missing = params.get("relationName").map(stripQuotes)
        // the FROM table is the left-most relation of the parsed join tree;
        // the reference warns only for it, JOIN tables stay terminal.
        // Spark surfaces the LEFT-MOST unresolved relation first, so a
        // missing JOIN table behind a missing FROM table would be swallowed
        // by the warn path — every OTHER relation must resolve before the
        // FROM-table miss is downgraded to a warning
        val relations = parsedPlan.map(_.collect {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
            u.multipartIdentifier.mkString(".")
        }).getOrElse(Nil)
        val fromTable = relations.headOption
        def othersResolve = relations.drop(1).forall(r =>
          try spark.catalog.tableExists(r) catch { case NonFatal(_) => false })
        missing.filter(m => fromTable.contains(m) && othersResolve)
          .map(m => s"Warning: Table '$m' not found in statistics, proceeding anyway")
      } else None
    warning.map { w =>
      val tree = parsedPlan.map(renderParsedTree(_)).getOrElse("")
      QueryReport("WARN",
        Seq("Continuing with optimization..."), tree, Nil, 0,
        None, None, None, None, Seq(w))
    }
  }

  // ------------------------------------------------------------------
  // transform log: diff analyzed vs optimized (reference optimizer.cpp:287-318)
  // ------------------------------------------------------------------

  private def collectExprs(p: LogicalPlan): Seq[Expression] =
    p.collect { case n => n.expressions.flatMap(e => e.collect { case x => x }) }.flatten

  private def scalarSubqueryCount(p: LogicalPlan): Int =
    collectExprs(p).count(_.isInstanceOf[ScalarSubquery])

  /** Constant expressions Catalyst has not yet folded: foldable non-literal
    * nodes (`1 = 1`, `CAST('1996-01-01' AS DATE)`, …). After the optimizer's
    * ConstantFolding runs, none survive — the analyzed-minus-optimized diff
    * is exactly what was folded (≙ the reference's `constant_fold` log of
    * `1=1` removal, `sqlopt.cpp:673-688`, generalized to every constant).
    */
  private def foldableExprCount(p: LogicalPlan): Int =
    collectExprs(p).count(e => e.foldable &&
      !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal])

  private def joinsWithoutCondition(p: LogicalPlan): Int =
    p.collect { case j: Join if j.condition.isEmpty => j }.size

  private def filtersDirectlyOverLeaves(p: LogicalPlan): Int =
    p.collect { case Filter(_, _: LeafNode) => 1 }.size

  private def leafOrder(p: LogicalPlan): Seq[String] =
    p.collect { case l: LeafNode => l.toString.takeWhile(_ != '\n') }

  /** Columns pruned by Catalyst's ColumnPruning: narrowing Project nodes
    * sitting directly above a leaf (looking through one Filter), which the
    * analyzed plan doesn't have — they materialize as a narrowed ReadSchema
    * in the physical scan.
    */
  private def prunedColumnCount(p: LogicalPlan): Int = {
    def leafBelow(n: LogicalPlan): Option[LeafNode] = n match {
      case l: LeafNode => Some(l)
      case Filter(_, child) => leafBelow(child)
      case _ => None
    }
    p.collect {
      case Project(list, child) if leafBelow(child).exists(_.output.size > list.size) =>
        leafBelow(child).get.output.size - list.size
    }.sum
  }

  /** Reference-style numbered transform log, derived by observing what
    * Catalyst's optimizer actually did to this plan.
    */
  def transformLog(analyzed: LogicalPlan, optimized: LogicalPlan): Seq[String] = {
    val entries = Seq.newBuilder[String]
    val commaJoins = joinsWithoutCondition(analyzed) - joinsWithoutCondition(optimized)
    if (commaJoins > 0)
      entries += s"comma_join_conversion: $commaJoins comma/cross join(s) converted to equi-joins"
    val subq = scalarSubqueryCount(analyzed) - scalarSubqueryCount(optimized)
    if (subq > 0)
      entries += s"subquery_to_join_conversion: $subq scalar subquery(ies) decorrelated to joins"
    val pushed = filtersDirectlyOverLeaves(optimized) - filtersDirectlyOverLeaves(analyzed)
    if (pushed > 0)
      entries += s"predicate_pushdown: $pushed filter(s) pushed to base relations"
    val pruned = prunedColumnCount(optimized) - prunedColumnCount(analyzed)
    if (pruned > 0)
      entries += s"projection_pushdown: $pruned column(s) pruned from scans"
    val folded = foldableExprCount(analyzed) - foldableExprCount(optimized)
    if (folded > 0)
      entries += s"constant_folding: $folded constant expression(s) folded"
    val (ao, oo) = (leafOrder(analyzed), leafOrder(optimized))
    if (ao.size == oo.size && ao.size > 1 && ao != oo)
      entries += "join_reordering: join order changed by cost-based optimizer"
    val log = entries.result()
    if (log.isEmpty) Seq("no transformations applied") else log.zipWithIndex.map {
      case (l, i) => s"${i + 1}. $l"
    }
  }

  /** Full transform log including the reference's closing summary line
    * (`optimizer.cpp:318`: "Selected best plan with cost: C"), the cost
    * being Catalyst's CBO statistics of the optimized plan (row estimate +
    * size in bytes). Its "Generated N execution plans" line has no
    * Catalyst counterpart: CBO join reorder keeps no count of the orders
    * it weighed.
    */
  def transformLog(qe: org.apache.spark.sql.execution.QueryExecution): Seq[String] = {
    val stats = qe.optimizedPlan.stats
    transformLog(qe.analyzed, qe.optimizedPlan) :+
      s"Selected best plan with cost: rows=${stats.rowCount.getOrElse("?")}, size=${stats.sizeInBytes} bytes"
  }

  // ------------------------------------------------------------------
  // rewritten SQL: un-parse the OPTIMIZED plan back to SQL text
  // (reference sqlopt.cpp:691-724 — pushed-down filters render as inline
  // views, join order is the optimizer's)
  // ------------------------------------------------------------------

  /** Expression → SQL with alias qualifiers REWRITTEN to the regenerated
    * FROM clause's relation aliases: original query aliases
    * (`c.c_acctbal`) must not leak, and since round 17 a reference whose
    * relation is in the active [[qualScope]] renders qualified by that
    * relation's rendered alias — which is what lets two relations in one
    * scope expose the same column name. References outside the map (the
    * current SELECT's own computed aliases, window columns addressed
    * through a subquery alias) stay unqualified.
    */
  private def exprSql(e: Expression): String = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      val named = renameScope.value.get(a.exprId.id)
        .map(n => a.withName(n).asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference])
        .getOrElse(a)
      qualScope.value.get(a.exprId.id) match {
        case Some(rel) => named.withQualifier(Seq(rel))
        case None => named.withQualifier(Nil)
      }
    // StringSplitSQL (what `split(str, delim)` analyzes to when element_at
    // consumes it) has no parseable .sql form — `stringsplitsql(...)` is
    // not a function. Render it back as the regex split it equals when the
    // delimiter is a literal with no regex metacharacters; other
    // delimiters keep the unparseable form and fail the runnable check
    // honestly downstream (round 15: found by the ratchet's new
    // executes-correctly sweep, q45)
    case s: org.apache.spark.sql.catalyst.expressions.StringSplitSQL =>
      s.delimiter match {
        case org.apache.spark.sql.catalyst.expressions.Literal(d: org.apache.spark.unsafe.types.UTF8String, org.apache.spark.sql.types.StringType)
            if d != null && d.toString.nonEmpty &&
              d.toString.forall(c => !"\\.[]{}()*+-?^$|".contains(c)) =>
          org.apache.spark.sql.catalyst.expressions.StringSplit(
            s.str, org.apache.spark.sql.catalyst.expressions.Literal(d.toString),
            org.apache.spark.sql.catalyst.expressions.Literal(-1))
        case _ => s
      }
  }.sql

  /** Plans whose expressions embed subquery fragments (correlated scalar
    * subqueries, EXISTS/IN leftovers, dynamic pruning) have no faithful
    * expression-level SQL — Catalyst's .sql renders them as the
    * non-function `scalarsubquery()` — so the un-parser declines them
    * (round 15: q32's ANY/ALL MIN/MAX rewrite shipped that lie until the
    * ratchet executed it). Round 16: UNCORRELATED scalar subqueries are
    * inlined as real `(SELECT …)` text first ([[inlineScalarSubqueries]]),
    * so this gate sees only the genuinely unrenderable leftovers.
    */
  private def hasSubqueryExpr(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))

  /** A pre-rendered SQL fragment carried through expression trees: its
    * .sql IS the text. Used only by [[inlineScalarSubqueries]]; never
    * evaluated.
    */
  private case class RawSqlExpr(rendered: String,
      dataType: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.Unevaluable {
    override def nullable: Boolean = true
    override def sql: String = rendered
  }

  /** Inline surviving UNCORRELATED scalar subqueries as real `(SELECT …)`
    * expression text (round 16): the optimizer decorrelates what it can,
    * but e.g. ANY/ALL's MIN/MAX rewrite legitimately keeps an
    * uncorrelated scalar subquery in the optimized plan, and the
    * round-15 gate declined the whole plan. Each subquery plan is its
    * own naming scope, so it renders through the full [[rewrittenSql]]
    * recursion (its ambiguity check runs per scope; a name shared with
    * the outer scope is legal SQL — inner scope shadows). A subquery
    * that does not render keeps its node and the [[hasSubqueryExpr]]
    * gate declines the plan as before — never a best-effort lie, and
    * the coverage ratchet EXECUTES every regenerated text, so a wrong
    * rendering cannot ship silently. Correlated leftovers (outer refs
    * have no qualifier story in the stripped rendering) stay declined.
    */
  private def inlineScalarSubqueries(p: LogicalPlan): LogicalPlan =
    p.transformAllExpressions {
      // MergeScalarSubqueries rewrites N sibling subqueries over the same
      // source into ONE struct-returning plan plus GetStructField
      // extractions per site — there is no SQL for the struct form, but
      // the UNMERGED per-site subquery is exactly what the user wrote:
      // re-narrow the merged global Aggregate to the one referenced
      // field and render that (the merge is a physical-sharing
      // optimization; row equality of the regenerated text is what the
      // ratchet executes)
      case gsf @ org.apache.spark.sql.catalyst.expressions.GetStructField(
            s: ScalarSubquery, ordinal, _)
          if s.outerAttrs.isEmpty && s.joinCond.isEmpty =>
        unmergedField(s.plan, ordinal).flatMap(rewrittenSql) match {
          case Some(sqlText) => RawSqlExpr(s"($sqlText)", gsf.dataType)
          case None => gsf
        }
      case s: ScalarSubquery if s.outerAttrs.isEmpty && s.joinCond.isEmpty =>
        rewrittenSql(s.plan) match {
          case Some(sqlText) => RawSqlExpr(s"($sqlText)", s.dataType)
          case None => s
        }
    }

  /** The single-field un-merge of a MergeScalarSubqueries plan:
    * `Project [named_struct(…) AS mergedValue] over Aggregate` narrowed
    * to ordinal's aggregate expression alone — a global one-row
    * aggregate, so dropping the sibling fields cannot change the kept
    * one. None for any other shape (the gate declines the plan).
    */
  private def unmergedField(plan: LogicalPlan, ordinal: Int): Option[LogicalPlan] =
    plan match {
      case Project(Seq(org.apache.spark.sql.catalyst.expressions.Alias(
            cns: org.apache.spark.sql.catalyst.expressions.CreateNamedStruct, _)),
          agg: Aggregate) if agg.groupingExpressions.isEmpty =>
        cns.valExprs.lift(ordinal).flatMap {
          case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            agg.aggregateExpressions.find(_.toAttribute.exprId == ar.exprId)
              .map(ne => agg.copy(aggregateExpressions = Seq(ne)))
          case _ => None
        }
      case _ => None
    }

  private def tableName(l: LeafNode): Option[String] = l match {
    case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      r.catalogTable.map(_.identifier.table)
    case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
      Some(r.tableMeta.identifier.table)
    case _ => None
  }

  /** Render a projection list; a ZERO-column project (COUNT(*) prunes every
    * column) must emit valid SQL — `SELECT 1`, preserving row count — not
    * the unparseable `SELECT  FROM`.
    */
  private def selectList(cols: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): String =
    if (cols.isEmpty) "1" else cols.map(exprSql).mkString(", ")

  /** Alias of a relation the regenerated SQL names itself: a prefix plus
    * its first output's exprId, deterministic per relation so the FROM
    * clause that renders it and the qualifier map that addresses it
    * ([[scopeRels]]) agree.
    */
  private def viewName(prefix: String, out: Seq[NamedExpression]): String =
    s"$prefix${out.headOption.map(_.exprId.id).getOrElse(0L)}"

  /** `VALUES (…), (…) AS alias(cols)` for a small all-atomic LocalRelation —
    * the faithful rendering of an inline table the optimizer has folded to
    * rows (q47's VALUES, a recursive CTE's edge list). An EMPTY relation
    * (what a provably-false filter folds to — the y-family's `WHERE FALSE`
    * schema oracles) has no VALUES form, so it renders as a typed-null
    * FROM-less SELECT under LIMIT 0 — same schema, zero rows, valid in FROM
    * position. None for non-atomic or oversized relations.
    */
  private def valuesSql(lr: LocalRelation, alias: String): Option[String] = {
    import org.apache.spark.sql.catalyst.util.quoteIfNeeded
    import org.apache.spark.sql.types._
    val atomic = lr.schema.forall(_.dataType match {
      case _: NumericType | _: StringType | BooleanType | DateType |
           _: TimestampType | TimestampNTZType => true
      case _ => false
    })
    if (!atomic || lr.data.size > 1000) None
    else if (lr.data.isEmpty) {
      val cols = lr.output.map(a =>
        s"CAST(NULL AS ${a.dataType.sql}) AS ${quoteIfNeeded(a.name)}").mkString(", ")
      Some(s"(SELECT $cols LIMIT 0) AS $alias")
    }
    else {
      val rows = lr.data.map { r =>
        lr.output.zipWithIndex.map { case (a, i) =>
          org.apache.spark.sql.catalyst.expressions.Literal(
            r.get(i, a.dataType), a.dataType).sql
        }.mkString("(", ", ", ")")
      }.mkString(", ")
      val cols = lr.output.map(a => quoteIfNeeded(a.name)).mkString(", ")
      Some(s"(VALUES $rows) AS $alias($cols)")
    }
  }

  /** The ReplicateRows Generate produced by Catalyst's RewriteIntersectAll
    * / RewriteExceptAll — a set-operation scope boundary: both branches
    * legally read the same table, and each branch is its own SELECT scope,
    * checked when it renders. */
  private def isReplicateSetOp(p: LogicalPlan): Boolean = p match {
    case g: Generate =>
      g.generator.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ReplicateRows]
    case _ => false
  }

  /** [Project]* over Window. */
  private def isWindowStack(p: LogicalPlan): Boolean = p match {
    case _: Window => true
    case Project(_, c) => isWindowStack(c)
    case _ => false
  }

  /** A pure column-pruning projection: every column passes through. */
  private def isPruning(cols: Seq[NamedExpression]): Boolean =
    cols.forall(_.isInstanceOf[AttributeReference])

  /** `[Project] [Filter] child`, as (projection, condition, child): a
    * subtree under its pushed-down projection and filter. Matches any plan.
    */
  private object ProjectFilter {
    def unapply(p: LogicalPlan): Some[(Option[Seq[NamedExpression]], Option[Expression], LogicalPlan)] = {
      val (cols, below) = p match {
        case Project(c, child) => (Some(c), child)
        case _ => (None, p)
      }
      below match {
        case Filter(c, child) => Some((cols, Some(c), child))
        case _ => Some((cols, None, below))
      }
    }
  }

  /** Where a subtree sits relative to the SELECT that renders it: that
    * SELECT's own head, the top of its FROM clause, or a join operand
    * below the top.
    */
  private sealed trait Pos
  private case object Head extends Pos
  private case object Top extends Pos
  private case object Operand extends Pos

  /** The one FROM-position rule: Some((alias, exposed columns)) when `p`
    * renders as its own `(SELECT …) AS alias` scope where it sits. Both
    * the FROM-clause renderer (rewrittenSql's `fromSql`) and the qualifier
    * map ([[scopeRels]]) ask it, so they cannot disagree.
    *
    * A set operation is one scope wherever it sits: its branches legally
    * re-read the same tables and are checked per branch. At a SELECT's head
    * every other node renders as that SELECT itself. In FROM position an
    * inline view is its own naming scope, rendered through the full
    * recursion: an aggregate (a decorrelated COUNT/SUM subquery, a
    * pre-aggregated CTE branch; a Filter over it is the HAVING family), a
    * window stack under its filter and projection (a windowed derivation
    * joined, filtered or re-aggregated), and a computed Project over a join
    * subtree (what decorrelating a correlated COUNT leaves between two
    * LeftOuter joins, q26's shape). A pure column-pruning Project over a
    * join stays transparent, and so does one over a filtered join at the
    * top of a FROM clause, whose WHERE it renders; as a join operand a
    * filtered join has no WHERE to land in, so there it is a view too.
    */
  private def inlineView(p: LogicalPlan, at: Pos): Option[(String, Seq[Attribute])] = {
    def view(prefix: String, out: Seq[Attribute] = p.output) = Some((viewName(prefix, out), out))
    p match {
      case g: Generate if isReplicateSetOp(g) => view("__setop", g.generatorOutput)
      case _: Union => view("__union")
      case _ if at == Head => None
      case Project(cols, _: Join) if !isPruning(cols) => view("__prj")
      case Project(cols, Filter(_, _: Join)) if at == Operand || !isPruning(cols) => view("__prj")
      case _: Aggregate | Filter(_, _: Aggregate) => view("__agg")
      case ProjectFilter(_, _, stack) if isWindowStack(stack) => view("__win")
      case _ => None
    }
  }

  /** A FROM leaf's alias: the table's name, `__loop<id>` for a recursive
    * loop and its refs, an exprId-suffixed name for VALUES and Range.
    * OneRowRelation is no FROM leaf: it names and exposes nothing.
    */
  private def leafAlias(l: LogicalPlan): Option[String] = l match {
    case ul: UnionLoop => Some(s"__loop${ul.id}")
    case ref: UnionLoopRef => Some(s"__loop${ref.loopId}")
    case lr: LocalRelation => Some(viewName("__values_", lr.output))
    case r: Range => Some(viewName("__range", r.output))
    case l: LeafNode => tableName(l)
    case _ => None
  }

  /** A relation a FROM clause names: a leaf with or without an alias
    * ([[leafAlias]]), or a recursive loop. */
  private def isFromLeaf(p: LogicalPlan): Boolean = p match {
    case _: OneRowRelation => false
    case _: UnionLoop | _: LeafNode => true
    case _ => false
  }

  /** The relations a rendered FROM clause exposes to its SELECT scope:
    * (relation alias, exposed (column name, exprId) pairs) — the shared
    * walk behind [[unambiguous]] (name-collision policy) and
    * [[fromTreeMap]] (qualified rendering). Inline views come from
    * [[inlineView]]; their internals are checked by the recursive call
    * that renders them. A leaf under a pushed-down projection exposes the
    * projected (possibly aliased) names, not the leaf's: NATURAL JOIN
    * aliases both sides' keys to one name (q18).
    */
  private def scopeRels(pl: LogicalPlan, at: Pos)
      : Seq[(Option[String], Seq[(String, Long)])] = {
    def expose(attrs: Seq[NamedExpression]) =
      attrs.map { a =>
        val id = a.toAttribute.exprId.id
        renameScope.value.getOrElse(id, a.name) -> id
      }
    inlineView(pl, at) match {
      case Some((alias, cols)) => Seq((Some(alias), expose(cols)))
      case None => pl match {
        case ProjectFilter(cols, _, leaf) if isFromLeaf(leaf) =>
          Seq((leafAlias(leaf), expose(cols.getOrElse(leaf.output))))
        case j: Join => j.children.flatMap(scopeRels(_, Operand))
        case other => other.children.flatMap(scopeRels(_, at))
      }
    }
  }

  /** A rendering is possible when every relation is named, relation names
    * are unique in their scope (a self-join rendered as `orders JOIN
    * orders` has no way to qualify), and no single relation exposes the
    * same column name twice (qualification cannot split those apart).
    * Cross-RELATION column collisions are fine: references render
    * qualified by their relation's alias ([[fromTreeMap]]).
    */
  private def unambiguous(p: LogicalPlan): Boolean = {
    val leaves = scopeRels(p, Head)
    val names = leaves.flatMap(_._1)
    names.distinct.size == leaves.size && leaves.forall { case (_, cols) =>
      cols.map(_._1).distinct.size == cols.size
    }
  }

  /** exprId → relation-alias map for the SELECT scope whose FROM clause
    * renders plan `p`: every attribute a relation exposes renders
    * qualified by that relation's alias, which is what lets two relations
    * legally expose the same column name (NATURAL JOIN's coalesced keys,
    * two distinct-aggregate views over the same table). Installed via
    * [[qualScope]] by each SELECT renderer right where its FROM subtree is
    * known; nested inline views install their own scope and the
    * DynamicVariable restores the outer one on return.
    */
  private def fromTreeMap(p: LogicalPlan): Map[Long, String] =
    scopeRels(p, Top).flatMap {
      case (Some(name), cols) => cols.map { case (_, id) => id -> name }
      case _ => Nil
    }.toMap

  /** The active SELECT scope's qualification map — consumed by
    * [[exprSql]]. Rendering is single-threaded per query, and
    * DynamicVariable.withValue nests/restores across inline-view
    * recursion.
    */
  private val qualScope =
    new scala.util.DynamicVariable[Map[Long, String]](Map.empty)

  /** exprId → synthesized column name, for recursive loops whose output
    * exposes DUPLICATE names (round 17: a `WITH RECURSIVE r(a, b) AS
    * (SELECT 0, 0 ...)` loop keeps the literal names "0", "0" in the
    * optimized UnionLoop — un-addressable as-is). The CTE column list
    * renames the loop's columns to `__c<i>`, and every reference — the
    * loop's own output and each UnionLoopRef's, mapped positionally —
    * renders the synthesized name. Populated per rewrittenSql call from
    * [[loopRenames]]; empty for plans without such loops, so ordinary
    * renders are untouched.
    */
  private val renameScope =
    new scala.util.DynamicVariable[Map[Long, String]](Map.empty)

  /** Synthesized names for every duplicate-named loop in `p` — the loop's
    * output attrs and each of its refs' outputs, positionally. */
  private def loopRenames(p: LogicalPlan): Map[Long, String] = {
    val m = scala.collection.mutable.Map[Long, String]()
    p.foreach {
      case ul: org.apache.spark.sql.catalyst.plans.logical.UnionLoop
          if ul.output.map(_.name).distinct.size != ul.output.size =>
        ul.output.zipWithIndex.foreach { case (a, i) => m(a.exprId.id) = s"__c$i" }
        ul.foreach {
          case ref: org.apache.spark.sql.catalyst.plans.logical.UnionLoopRef
              if ref.loopId == ul.id =>
            ref.output.zipWithIndex.foreach { case (a, i) => m(a.exprId.id) = s"__c$i" }
          case _ => ()
        }
      case _ => ()
    }
    m.toMap
  }

  /** Regenerated optimized SQL for the supported plan family:
    * [Limit] [Sort] (Project | Aggregate | Window stack | grouping-sets
    * Aggregate-over-Expand | set-operation tree) [Filter] join-tree. None
    * (and the CLI says so) for shapes with no faithful SQL rendering —
    * never a best-effort lie.
    *
    * It renders what the optimizer actually produces: Window nodes
    * un-parse to OVER clauses (staged `_w` projection columns are inlined
    * back), Expand+Aggregate un-parses to GROUP BY GROUPING SETS with
    * `shiftright(spark_grouping_id, k) & 1` bit extractions mapped back to
    * GROUPING(col), and the semi/anti-join + distinct shapes Catalyst
    * rewrites set operations into render back as INTERSECT / EXCEPT /
    * UNION [ALL]. PIVOT regenerates from the analyzer's
    * Project-over-pivotfirst-over-partial-Aggregate lowering, recursive
    * CTEs from UnionLoop/UnionLoopRef as a `WITH RECURSIVE` prefix, and
    * folded inline tables (LocalRelation) as `VALUES … AS name(cols)`.
    * Set-op branches and loop branches are independent SELECT scopes, so
    * the ambiguity check applies per branch, not to the whole tree (q38
    * reads `orders` three times, legally).
    */
  def rewrittenSql(optimized: LogicalPlan): Option[String] = qualScope.withValue(Map.empty) {
    renameScope.withValue(renameScope.value ++ loopRenames(optimized)) {
    // fresh qualification scope per SELECT-tree render: an inline view's
    // internals must never see — or qualify by — the ENCLOSING scope's
    // relation aliases; each renderer below installs its own map right
    // where its FROM subtree is known.
    // uncorrelated scalar subqueries render inline; anything the inliner
    // could not render keeps its PlanExpression and declines
    val inlined = inlineScalarSubqueries(optimized)
    if (hasSubqueryExpr(inlined)) return None

    // the optimizer keeps a recursive CTE as UnionLoop(anchor,
    // recursion)/UnionLoopRef. Rendering one contributes a `__loop<id>
    // (cols) AS ((anchor) UNION ALL (recursion))` definition HERE
    // (insertion-ordered, so a loop nested inside another loop's branch is
    // defined before its user), and the node renders as the bare name; the
    // final SQL is prefixed WITH RECURSIVE.
    val cteDefs = scala.collection.mutable.LinkedHashMap[Long, String]()
    // a FROM leaf's relation text and alias
    def leafRel(l: LogicalPlan): Option[(String, String)] = leafAlias(l).flatMap { alias =>
      val rel = l match {
        case ul: UnionLoop if !cteDefs.contains(ul.id) =>
          for (a <- branchSql(ul.anchor); r <- branchSql(ul.recursion)) yield {
            val cols = ul.output.map(o =>
              org.apache.spark.sql.catalyst.util.quoteIfNeeded(
                renameScope.value.getOrElse(o.exprId.id, o.name))).mkString(", ")
            cteDefs(ul.id) = s"$alias ($cols) AS (($a) UNION ALL ($r))"
            alias
          }
        case lr: LocalRelation => valuesSql(lr, alias)
        // Spark's range() TVF, which `FROM range(0, 15)` optimizes to;
        // numSlices is a parallelism hint, not semantics
        case r: Range => Some(s"range(${r.start}, ${r.end}, ${r.step}) AS $alias")
        case _ => Some(alias)
      }
      rel.map(_ -> alias)
    }
    def branchSql(pl: LogicalPlan): Option[String] =
      setOpSql(pl).orElse(if (unambiguous(pl)) body(pl) else None)
    // an aggregate with optional HAVING; having-condition references to agg
    // output aliases are re-expanded to the aggregate expression itself
    // (`HAVING count(1) >= 12`, the reference's always-regenerated form,
    // `optimizer.cpp:133-188`) — alias references aren't valid there in
    // standard SQL
    // `selectAggs` is what renders in the SELECT list (possibly pruned);
    // `allAggs` is the Aggregate node's FULL list — HAVING may reference an
    // aggregate alias the projection pruned (HAVING COUNT(*) with no count
    // in the SELECT), so alias expansion must see every alias, not just the
    // projected subset (a pruned alias would otherwise render as an
    // unresolvable quoted column).
    def aggregateSql(groups: Seq[Expression],
        selectAggs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
        allAggs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
        child: LogicalPlan, having: Option[Expression]): Option[String] = child match {
      // the optimizer stages computed group keys (`year(o_orderdate) AS
      // yr`) in a Project below the Aggregate; inline the definitions
      // back into the grouping/aggregate/having expressions and recurse —
      // the rendered SQL is the single SELECT the user wrote. Alias
      // exprIds are preserved so HAVING's alias expansion still matches.
      // Pure-pruning projects keep the fromSql path.
      case Project(pcols, pchild)
          if pcols.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias]) =>
        import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, NamedExpression}
        val defs = pcols.collect {
          case a: Alias => a.toAttribute.exprId -> a.child
        }.toMap
        def subst(e: Expression): Expression = e.transformUp {
          case ar: AttributeReference if defs.contains(ar.exprId) => defs(ar.exprId)
        }
        def substNamed(ne: NamedExpression): NamedExpression = ne match {
          case ar: AttributeReference if defs.contains(ar.exprId) =>
            Alias(subst(ar), ar.name)(exprId = ar.exprId)
          case a: Alias => Alias(subst(a.child), a.name)(exprId = a.exprId)
          case other => other
        }
        aggregateSql(groups.map(subst), selectAggs.map(substNamed),
          allAggs.map(substNamed), pchild, having.map(subst))
      case _ => qualScope.withValue(fromTreeMap(child)) { fromSql(child, Top).map { f =>
        val g = if (groups.isEmpty) "" else s" GROUP BY ${groups.map(exprSql).mkString(", ")}"
        val byId = allAggs.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.toAttribute.exprId -> a.child
        }.toMap
        val h = having.map { c =>
          val expanded = c.transform {
            case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference
                if byId.contains(ar.exprId) => byId(ar.exprId)
          }
          s" HAVING ${exprSql(expanded)}"
        }.getOrElse("")
        // a ZERO-output aggregate (outer consumer pruned every column but
        // still counts its rows — one per group) renders SELECT 1
        s"SELECT ${selectList(selectAggs)} FROM $f$g$h"
      } }
    }
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BitwiseAnd,
      Cast, EqualNullSafe, ExprId, Grouping, Lag, Lead, Literal, NTile, NamedExpression,
      ShiftRight, SortOrder, SpecifiedWindowFrame, WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression

    /** One OVER clause. Ranking/offset functions must NOT re-emit their
      * implied frame (the parser rejects an explicit frame there), and
      * Lag renders its user-facing `inputOffset` (the stored `offset` is
      * the negated internal form — emitting it would silently flip LAG
      * into LEAD on re-parse).
      */
    def overSql(we: WindowExpression): Option[String] = {
      val spec = we.windowSpec
      val part = if (spec.partitionSpec.isEmpty) ""
        else s"PARTITION BY ${spec.partitionSpec.map(exprSql).mkString(", ")}"
      val ord = if (spec.orderSpec.isEmpty) ""
        else s"ORDER BY ${spec.orderSpec.map(o => exprSql(o)).mkString(", ")}"
      def offsetArgs(in: Expression, off: Expression, dflt: Expression): Option[String] =
        (off, dflt) match {
          case (Literal(_, _), Literal(null, _)) => Some(s"${exprSql(in)}, ${exprSql(off)}")
          case (Literal(_, _), d) => Some(s"${exprSql(in)}, ${exprSql(off)}, ${exprSql(d)}")
          case _ => None
        }
      val (fnSql, withFrame) = we.windowFunction match {
        case ae: AggregateExpression => (Some(exprSql(ae)), true)
        case _: org.apache.spark.sql.catalyst.expressions.RowNumber => (Some("ROW_NUMBER()"), false)
        case _: org.apache.spark.sql.catalyst.expressions.Rank => (Some("RANK()"), false)
        case _: org.apache.spark.sql.catalyst.expressions.DenseRank => (Some("DENSE_RANK()"), false)
        case _: org.apache.spark.sql.catalyst.expressions.PercentRank => (Some("PERCENT_RANK()"), false)
        case _: org.apache.spark.sql.catalyst.expressions.CumeDist => (Some("CUME_DIST()"), false)
        case nt: NTile => (Some(s"NTILE(${exprSql(nt.buckets)})"), false)
        case l: Lag if !l.ignoreNulls =>
          (offsetArgs(l.input, l.inputOffset, l.default).map(a => s"LAG($a)"), false)
        case l: Lead if !l.ignoreNulls =>
          (offsetArgs(l.input, l.offset, l.default).map(a => s"LEAD($a)"), false)
        case _ => (None, false)
      }
      val frame = if (withFrame) spec.frameSpecification match {
        case f: SpecifiedWindowFrame => " " + f.sql
        case _ => ""
      } else ""
      fnSql.map(f => s"$f OVER (${Seq(part, ord).filter(_.nonEmpty).mkString(" ")}$frame)")
    }

    /** Window stack: [Project] (Window | Project)* FROM-able. Alias
      * definitions (window columns AND the optimizer's staged `_w`
      * projection columns) are collected downward and inlined into the
      * final select list, so the rendered SQL is the single SELECT the
      * user would write.
      */
    def windowSql(top: LogicalPlan): Option[String] = {
      def peel(p: LogicalPlan): (Map[ExprId, Expression], LogicalPlan) = p match {
        case w: Window =>
          val (m, b) = peel(w.child)
          (m ++ w.windowExpressions.collect {
            case a: Alias => a.toAttribute.exprId -> a.child }, b)
        case Project(cols, child) =>
          val (m, b) = peel(child)
          (m ++ cols.collect { case a: Alias => a.toAttribute.exprId -> a.child }, b)
        // WindowGroupLimit is the optimizer's rank-pushdown (rn <= k
        // evaluated before the full window) — pure optimization; the
        // Filter above reproduces its semantics, so it needs no SQL
        case wgl: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
          peel(wgl.child)
        case other => (Map.empty, other)
      }
      val (selectCols: Seq[NamedExpression], stack: LogicalPlan) = top match {
        case Project(cols, child) if isWindowStack(child) => (cols, child)
        case w: Window => (w.output, w)
        case _ => return None
      }
      val (defs, bottom) = peel(stack)
      def inline(e: Expression): Expression = {
        val once = e.transformUp {
          case ar: AttributeReference if defs.contains(ar.exprId) => defs(ar.exprId)
        }
        if (once.fastEquals(e)) e else inline(once)
      }
      // windows nested ANYWHERE inside an expression (round 17): a
      // z-score `(cnt - avg OVER w) / stddev OVER w`, a CASE over a LAG —
      // each WindowExpression renders through overSql and substitutes
      // back as pre-rendered text (the RawSqlExpr idiom the subquery
      // inliner uses), parenthesized so operator precedence survives the
      // re-parse; any unrenderable window function still declines the item
      def itemSql(e: Expression): Option[String] = {
        var ok = true
        val replaced = inline(e).transformUp {
          case we: WindowExpression => overSql(we) match {
            case Some(s) => RawSqlExpr(s"($s)", we.dataType)
            case None => ok = false; we
          }
        }
        if (!ok) None else Some(exprSql(replaced))
      }
      qualScope.withValue(fromTreeMap(bottom)) {
        val rendered = selectCols.map {
          case ar: AttributeReference if defs.contains(ar.exprId) =>
            itemSql(ar).map(s => s"$s AS ${ar.name}")
          case ar: AttributeReference => Some(exprSql(ar))
          case a: Alias => itemSql(a.child).map(s => s"$s AS ${a.name}")
          case _ => None
        }
        if (rendered.exists(_.isEmpty)) None
        else fromSql(bottom, Top).map(f => s"SELECT ${rendered.flatten.mkString(", ")} FROM $f")
      }
    }

    /** GROUP BY ROLLUP/CUBE/GROUPING SETS: the analyzer lowers all three to
      * Aggregate-over-Expand with a `spark_grouping_id` bit vector; the
      * Expand projections ARE the grouping sets (null literal = column not
      * in that set), so GROUPING SETS is the faithful canonical rendering.
      * GROUPING(col) comes back by recognizing the analyzer's own
      * `cast(shiftright(gid, m-1-i) & 1 as tinyint)` lowering.
      */
    def groupingSetsSql(agg: Aggregate): Option[String] = agg.child match {
      case ex: Expand =>
        val gidIdx = ex.output.indexWhere(_.name == "spark_grouping_id")
        if (gidIdx < 0) return None
        val gid = ex.output(gidIdx)
        val groupAttrs = agg.groupingExpressions.collect {
          case ar: AttributeReference if ar.exprId != gid.exprId => ar
        }
        val posOf = ex.output.map(_.exprId).zipWithIndex.toMap
        if (!groupAttrs.forall(ga => posOf.contains(ga.exprId))) return None
        def isNullLit(e: Expression): Boolean = e match {
          case Literal(null, _) => true
          case _ => false
        }
        // each grouping column's source expression: any projection that
        // keeps it (they all stage the same child expression)
        val sources: Map[ExprId, Expression] = groupAttrs.flatMap { ga =>
          ex.projections.flatMap { proj =>
            val e = proj(posOf(ga.exprId))
            if (isNullLit(e)) None else Some(e)
          }.headOption.map(ga.exprId -> _)
        }.toMap
        if (sources.size != groupAttrs.size) return None
        val sets = ex.projections.map(proj => groupAttrs.filter(ga =>
          !isNullLit(proj(posOf(ga.exprId)))))
        val m = groupAttrs.size
        def groupingColForBit(sh: Long): Option[Expression] =
          if (sh >= 0 && sh < m) sources.get(groupAttrs((m - 1 - sh).toInt).exprId) else None
        qualScope.withValue(fromTreeMap(ex.child)) {
        val renderedAggs = agg.aggregateExpressions.map { ne =>
          val replaced = (ne: Expression).transformUp {
            case Cast(BitwiseAnd(ShiftRight(g: AttributeReference, Literal(sh, _)),
                Literal(one, _)), org.apache.spark.sql.types.ByteType, _, _)
                if g.exprId == gid.exprId && String.valueOf(one) == "1" =>
              groupingColForBit(String.valueOf(sh).toLong) match {
                case Some(src) => Grouping(src)
                case None => g // left in place -> rejected below
              }
            case ar: AttributeReference if sources.contains(ar.exprId) => sources(ar.exprId)
          }
          val leaked = replaced.exists {
            case ar: AttributeReference =>
              ar.exprId == gid.exprId || groupAttrs.exists(_.exprId == ar.exprId)
            case _ => false
          }
          if (leaked) None else Some(exprSql(replaced))
        }
        if (renderedAggs.exists(_.isEmpty)) None
        else fromSql(ex.child, Top).map { f =>
          val setsSql = sets.map(s =>
            s"(${s.map(ga => exprSql(sources(ga.exprId))).mkString(", ")})").mkString(", ")
          s"SELECT ${renderedAggs.flatten.mkString(", ")} FROM $f GROUP BY GROUPING SETS ($setsSql)"
        }
        }
      case _ => None
    }

    def isGroupingSetsAgg(a: Aggregate): Boolean = a.groupingExpressions.exists {
      case ar: AttributeReference => ar.name == "spark_grouping_id"
      case _ => false
    }

    /** PIVOT (round 12): the analyzer lowers `PIVOT (agg [AS a] FOR col IN
      * (v…))` to Project(array extractions) over Aggregate(pivotfirst) over
      * Aggregate(partial per (groups, pivot col)). Recognize exactly that
      * stack and regenerate PIVOT syntax, with canonical aliases a0..aK for
      * multi-aggregate pivots (the analyzer's own output names embed the
      * unresolved-expression text, which has no SQL rendering). String
      * pivot columns only: non-string IN values name their output columns
      * through type-specific literal formatting a faithful regeneration
      * would have to reproduce bit-for-bit.
      */
    def pivotSql(top: Project): Option[String] = top match {
      case Project(projCols, Aggregate(_, aggs1, Aggregate(g2, aggs2, child, _), _)) =>
        import org.apache.spark.sql.catalyst.expressions.aggregate.PivotFirst
        import org.apache.spark.sql.catalyst.expressions.GetArrayItem
        import org.apache.spark.sql.catalyst.util.quoteIfNeeded
        val pivots: Seq[(ExprId, PivotFirst)] = aggs1.collect {
          case al @ Alias(AggregateExpression(pf: PivotFirst, _, _, _, _), _) =>
            al.toAttribute.exprId -> pf
        }
        if (pivots.isEmpty) return None
        val pf0 = pivots.head._2
        val pivotAttr = pf0.pivotColumn match {
          case ar: AttributeReference => ar
          case _ => return None
        }
        if (pivotAttr.dataType != org.apache.spark.sql.types.StringType) return None
        if (!pivots.forall { case (_, pf) =>
            pf.pivotColumn.semanticEquals(pf0.pivotColumn) &&
              pf.pivotColumnValues == pf0.pivotColumnValues }) return None
        val values = pf0.pivotColumnValues
        // each pivotfirst's value column is an alias of the partial
        // aggregate: its child is the user's aggregate expression
        val aggById = aggs2.collect { case al: Alias => al.toAttribute.exprId -> al }.toMap
        val valueAggs: Seq[Expression] = pivots.map { case (_, pf) =>
          pf.valueColumn match {
            case ar: AttributeReference => aggById.get(ar.exprId) match {
              case Some(al) => al.child
              case None => return None
            }
            case _ => return None
          }
        }
        val groupAttrs: Seq[AttributeReference] =
          g2.filterNot(_.semanticEquals(pivotAttr)).map {
            case ar: AttributeReference => ar
            case _ => return None
          }
        // pivot source projection: groups + pivot col + aggregate inputs —
        // PIVOT implicitly groups by every OTHER source column, so the
        // subquery must carry exactly these
        val inputs = scala.collection.mutable.LinkedHashMap[ExprId, AttributeReference]()
        (groupAttrs :+ pivotAttr).foreach(a => inputs(a.exprId) = a)
        valueAggs.flatMap(_.references.toSeq).foreach {
          case ar: AttributeReference => inputs.getOrElseUpdate(ar.exprId, ar)
          case _ => return None
        }
        val multi = pivots.size > 1
        val pivotItems = valueAggs.zipWithIndex.map { case (e, k) =>
          if (multi) s"${exprSql(e)} AS a$k" else exprSql(e)
        }.mkString(", ")
        val inSql = values.map(v =>
          Literal(v, pivotAttr.dataType).sql).mkString(", ")
        // the pivot operator's own output naming: `<value>` for a single
        // aggregate, `<value>_<alias>` for several
        def outName(vIdx: Int, k: Int): String = {
          val v = String.valueOf(values(vIdx))
          if (multi) s"${v}_a$k" else v
        }
        val arrIdx: Map[ExprId, Int] = pivots.map(_._1).zipWithIndex.toMap
        val groupOutIds = groupAttrs.map(_.exprId).toSet
        val rendered = projCols.map {
          case ar: AttributeReference if groupOutIds.contains(ar.exprId) =>
            Some(exprSql(ar))
          case a @ Alias(GetArrayItem(arr: AttributeReference, Literal(i, _), _), _)
              if arrIdx.contains(arr.exprId) =>
            val vIdx = String.valueOf(i).toInt
            if (vIdx < 0 || vIdx >= values.size) None
            else {
              val src = quoteIfNeeded(outName(vIdx, arrIdx(arr.exprId)))
              val tgt = quoteIfNeeded(a.name)
              Some(if (src == tgt) src else s"$src AS $tgt")
            }
          case _ => None
        }
        if (rendered.exists(_.isEmpty)) return None
        fromSql(child, Top).map { f =>
          s"SELECT ${rendered.flatten.mkString(", ")} FROM (SELECT ${inputs.values.map(exprSql).mkString(", ")} FROM $f) PIVOT ($pivotItems FOR ${quoteIfNeeded(pivotAttr.name)} IN ($inSql))"
        }
      case _ => None
    }

    def isPivotStack(p: Project): Boolean = p.child match {
      case Aggregate(_, aggs1, _: Aggregate, _) => aggs1.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.aggregate.PivotFirst => true
        case _ => false
      })
      case _ => false
    }

    // SELECT head: projection or aggregation, incl. the HAVING family
    // (Filter directly over Aggregate, optionally under a pruning Project)
    def body(n: LogicalPlan): Option[String] = n match {
      case a: Aggregate if isGroupingSetsAgg(a) => groupingSetsSql(a)
      case Project(cols, _: org.apache.spark.sql.catalyst.plans.logical.OneRowRelation) =>
        // a FROM-less SELECT (a recursive CTE's literal anchor)
        Some(s"SELECT ${selectList(cols)}")
      case p: Project if isPivotStack(p) => pivotSql(p)
      case p @ Project(_, child) if isWindowStack(child) => windowSql(p)
      case w: Window => windowSql(w)
      // filter ON a window column (latest-per-key's `rn = 1`): SQL can't
      // reference a window function in WHERE of the same SELECT, so the
      // stack renders as a subquery and the condition applies outside
      // — the shape the optimizer leaves for QUALIFY-style queries, with
      // any WindowGroupLimit pushdown skipped by peel
      case ProjectFilter(cols, Some(cond), stack) if isWindowStack(stack) =>
        windowSql(stack).map(inner => qualScope.withValue(
            stack.output.map(a => a.exprId.id -> "__win").toMap)(
          s"SELECT ${cols.fold("*")(selectList)} FROM ($inner) AS __win WHERE ${exprSql(cond)}"))
      case Filter(cond, Aggregate(groups, aggs, child, _)) =>
        aggregateSql(groups, aggs, aggs, child, Some(cond))
      case Project(cols, Filter(cond, Aggregate(groups, aggs, child, _)))
          if cols.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]) =>
        // pure column-pruning Project over HAVING: keep only the projected
        // aggregate expressions, in projected order
        val byId = aggs.map(a => a.toAttribute.exprId -> a).toMap
        val projected = cols.flatMap(c =>
          byId.get(c.asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference].exprId))
        if (projected.size == cols.size) aggregateSql(groups, projected, aggs, child, Some(cond))
        else None
      case Aggregate(groups, aggs, child, _) =>
        aggregateSql(groups, aggs, aggs, child, None)
      case Project(cols, child) => qualScope.withValue(fromTreeMap(child)) {
        fromSql(child, Top).map(f => s"SELECT ${selectList(cols)} FROM $f")
      }
      case other => qualScope.withValue(fromTreeMap(other)) {
        fromSql(other, Top).map(f => s"SELECT * FROM $f")
      }
    }
    /** Un-parse Catalyst's RewriteIntersectAll / RewriteExceptAll output
      * back to the set operation the user wrote (round 17). The rewrite is
      * a tagged union — EXCEPT ALL prepends `1L AS vcol` / `-1L AS vcol`,
      * INTERSECT ALL `(true, null)` / `(null, true)` vcol pairs — under an
      * Aggregate that sums/counts the tags, a Filter on the counts, and a
      * ReplicateRows Generate that re-expands each row to its multiplicity.
      * The literal tags identify the operator; the branches are the tag
      * Projects minus their tags (CollapseProject may have merged the tag
      * into the branch's own projection — dropping by position is exact
      * because the rewrite PREPENDS). Row equality of the regenerated text
      * is executed by the coverage ratchet, as everywhere.
      */
    def replicateRowsSetOp(g: Generate): Option[String] = {
      if (!isReplicateSetOp(g)) return None
      def unionOf(pl: LogicalPlan): Option[Union] = pl match {
        case u: Union => Some(u)
        case Project(_, c) => unionOf(c)
        case Filter(_, c) => unionOf(c)
        case Aggregate(_, _, c, _) => unionOf(c)
        case _ => None
      }
      unionOf(g.child).filter(_.children.size == 2).flatMap { u =>
        (u.children(0), u.children(1)) match {
          case (Project(c1, l), Project(c2, r)) =>
            def lit(ne: NamedExpression): Option[Any] = ne match {
              case Alias(Literal(v, _), _) => Some(v)
              case _ => None
            }
            val op: Option[(String, Int)] = (lit(c1.head), lit(c2.head)) match {
              case (Some(1L), Some(-1L)) => Some(("EXCEPT ALL", 1))
              case (Some(true), Some(null))
                  if c1.size >= 2 && c2.size >= 2 &&
                    lit(c1(1)).contains(null) && lit(c2(1)).contains(true) =>
                Some(("INTERSECT ALL", 2))
              case _ => None
            }
            op.flatMap { case (kw, nTags) =>
              for {
                ls <- branchSql(Project(c1.drop(nTags), l))
                rs <- branchSql(Project(c2.drop(nTags), r))
              } yield s"($ls) $kw ($rs)"
            }
          case _ => None
        }
      }
    }
    /** FROM-clause text for `n` at `at` (the top of a FROM clause or a join
      * operand): an inline view where [[inlineView]] says so, else a leaf
      * under its pushed-down projection and filter, a JOIN … ON chain, or
      * (at the top) a join under its WHERE. None for any node outside the
      * supported family.
      */
    def fromSql(n: LogicalPlan, at: Pos): Option[String] = inlineView(n, at) match {
      case Some((alias, _)) =>
        val view = n match {
          // the outer SELECT may carry computed columns CollapseProject
          // pushed above an INTERSECT ALL / EXCEPT ALL rewrite
          case g: Generate => replicateRowsSetOp(g)
          case u: Union => setOpSql(u)
          case _ => rewrittenSql(n)
        }
        view.map(s => s"($s) AS $alias")
      case None => n match {
        case ProjectFilter(cols, cond, leaf) if isFromLeaf(leaf) => leafRel(leaf).map { case (rel, alias) =>
          if (cols.isEmpty && cond.isEmpty) rel
          else s"(SELECT ${cols.fold("*")(selectList)} FROM $rel" +
            s"${cond.fold("")(c => s" WHERE ${exprSql(c)}")}) AS $alias"
        }
        case Join(left, right, joinType, cond, _) =>
          // Catalyst lowers IN-subquery, EXISTS and NOT IN to LeftSemi /
          // LeftAnti, and Spark SQL has native LEFT SEMI / LEFT ANTI JOIN
          // syntax — so the subquery families regenerate as the join the
          // optimizer actually chose, which is the transform-log story told
          // in SQL. ExistenceJoin (EXISTS inside a disjunction) has no SQL
          // join form and stays None.
          val kw = joinType match {
            case org.apache.spark.sql.catalyst.plans.Inner => Some("JOIN")
            case org.apache.spark.sql.catalyst.plans.LeftOuter => Some("LEFT JOIN")
            case org.apache.spark.sql.catalyst.plans.RightOuter => Some("RIGHT JOIN")
            case org.apache.spark.sql.catalyst.plans.FullOuter => Some("FULL JOIN")
            case org.apache.spark.sql.catalyst.plans.Cross => Some("CROSS JOIN")
            case org.apache.spark.sql.catalyst.plans.LeftSemi => Some("LEFT SEMI JOIN")
            case org.apache.spark.sql.catalyst.plans.LeftAnti => Some("LEFT ANTI JOIN")
            // LeftSingle is what a decorrelated scalar subquery becomes: a
            // LEFT JOIN whose right side the engine additionally PROVES has
            // at most one match per row (erroring otherwise). SQL has no
            // SINGLE syntax; LEFT JOIN is row-identical on every input where
            // the original query runs at all (a duplicate match would have
            // failed it), so this is the join the optimizer chose told in
            // SQL — the semi/anti precedent — and the ratchet executes the
            // regenerated text for row equality as with every rendering.
            // Documented trade-off: ERROR semantics differ — on data where
            // the right side has >1 match the original errors while the
            // regenerated LEFT JOIN silently duplicates rows; row equality
            // holds on every input where the original succeeds.
            case org.apache.spark.sql.catalyst.plans.LeftSingle => Some("LEFT JOIN")
            case _ => None
          }
          for {
            k <- kw
            ls <- fromSql(left, Operand)
            rs <- fromSql(right, Operand)
            // a condition-less OUTER join must not degrade to CROSS (a LEFT
            // JOIN of an empty right side keeps rows; CROSS returns none);
            // condition-less semi/anti (uncorrelated EXISTS) render bare —
            // Spark's grammar makes joinCriteria optional
            rendered <- cond match {
              case Some(c) => Some(s"$ls $k $rs ON ${exprSql(c)}")
              case None if k == "JOIN" || k == "CROSS JOIN" => Some(s"$ls CROSS JOIN $rs")
              case None if k == "LEFT SEMI JOIN" || k == "LEFT ANTI JOIN" =>
                Some(s"$ls $k $rs")
              case None => None
            }
          } yield rendered
        // a pure column-pruning Project over the join tree (Catalyst inserts
        // one below every join and aggregate): the SELECT list above governs
        // the output, so the node needs no SQL of its own
        case Project(cols, child @ (_: Join | Filter(_, _: Join))) if isPruning(cols) =>
          fromSql(child, at)
        case Filter(cond, j: Join) if at == Top =>
          fromSql(j, at).map(f => s"$f WHERE ${exprSql(cond)}")
        case _ => None
      }
    }
    /** Set operations, as the optimizer leaves them: UNION [ALL] as
      * [Distinct-]Union, INTERSECT/EXCEPT as distinct over a left-semi/
      * left-anti join whose condition null-safe-pairs every output column
      * (Catalyst's ReplaceIntersectWithSemiJoin / ReplaceExceptWithAntiJoin
      * shapes). Branches are independent SELECT scopes: each re-enters
      * setOpSql or the ambiguity-guarded body.
      */
    def setOpSql(p: LogicalPlan): Option[String] = {
      object DistinctOf {
        def unapply(pl: LogicalPlan): Option[LogicalPlan] = pl match {
          case Aggregate(g, a, child, _)
              if g.size == a.size && a.size == child.output.size &&
                a.forall(_.isInstanceOf[AttributeReference]) &&
                g.zip(a).forall { case (ge, ae) => ge.semanticEquals(ae) } &&
                a.map(_.asInstanceOf[AttributeReference].exprId) == child.output.map(_.exprId) =>
            Some(child)
          case _ => None
        }
      }
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(a, b) => conjuncts(a) ++ conjuncts(b)
        case x => Seq(x)
      }
      // INTERSECT/EXCEPT compare whole rows: every output column pair must
      // appear as one null-safe equality
      def pairsAllColumns(cond: Expression, l: LogicalPlan, r: LogicalPlan): Boolean = {
        val cs = conjuncts(cond)
        cs.size == l.output.size && l.output.zip(r.output).forall { case (lo, ro) =>
          cs.exists {
            case EqualNullSafe(a: AttributeReference, b: AttributeReference) =>
              (a.exprId == lo.exprId && b.exprId == ro.exprId) ||
                (a.exprId == ro.exprId && b.exprId == lo.exprId)
            case _ => false
          }
        }
      }
      def setOp(l: LogicalPlan, r: LogicalPlan, kw: String): Option[String] =
        for { ls <- peeledSql(l); rs <- peeledSql(r) } yield s"($ls) $kw ($rs)"
      def union(u: Union, kw: String): Option[String] = {
        val bs = u.children.map(peeledSql)
        Option.when(bs.forall(_.isDefined))(bs.flatten.map(b => s"($b)").mkString(kw))
      }
      def wholeRow(j: Join): Option[String] = j.condition.filter(pairsAllColumns(_, j.left, j.right))
        .flatMap(_ => j.joinType match {
          case org.apache.spark.sql.catalyst.plans.LeftSemi => Some("INTERSECT")
          case org.apache.spark.sql.catalyst.plans.LeftAnti => Some("EXCEPT")
          case _ => None
        })
      p match {
        case DistinctOf(u: Union) if !u.byName => union(u, " UNION ")
        case u: Union if !u.byName => union(u, " UNION ALL ")
        case DistinctOf(j: Join) => wholeRow(j).flatMap(setOp(j.left, j.right, _))
        // the branch-aliasing Project (e.g. `o_custkey AS k`) sits between
        // the distinct and the join; re-apply it to the LEFT side, whose
        // attributes it references
        case DistinctOf(Project(cols, j: Join)) =>
          wholeRow(j).flatMap(setOp(Project(cols, j.left), j.right, _))
        // a pure pass-through Project over a recognized INTERSECT ALL /
        // EXCEPT ALL rewrite IS the set operation
        case Project(cols, g: Generate) if isPruning(cols) => replicateRowsSetOp(g)
        case g: Generate => replicateRowsSetOp(g)
        case _ => None
      }
    }

    /** A SELECT with its own [ORDER BY] [LIMIT n [OFFSET m] | OFFSET m]
      * tail, peeled off and re-attached after the rendered body: the top
      * level, and each set-op branch (a per-leg top-k unioned with
      * another), where it lands inside the branch's parentheses. `LIMIT n
      * OFFSET m` optimizes to GlobalLimit n over Offset m over LocalLimit
      * n+m; the LocalLimit is the pushed prefetch bound, not user syntax,
      * so only n and m render.
      */
    def peeledSql(pl: LogicalPlan): Option[String] = {
      val (limitSql, p1) = pl match {
        case GlobalLimit(Literal(n, _), Offset(Literal(m, _), LocalLimit(_, c))) =>
          (s" LIMIT $n OFFSET $m", c)
        case GlobalLimit(Literal(n, _), LocalLimit(_, c)) => (s" LIMIT $n", c)
        case Offset(Literal(m, _), c) => (s" OFFSET $m", c)
        case other => ("", other)
      }
      // sort keys bind to this SELECT's own columns, never to the aliases
      // of a scope enclosing a set-op branch (a UNION in FROM position)
      def orderBy(order: Seq[SortOrder]) =
        qualScope.withValue(Map.empty)(s" ORDER BY ${order.map(exprSql).mkString(", ")}")
      val (orderSql, p2) = p1 match {
        case Sort(order, true, c, _) => (orderBy(order), c)
        // a projection ABOVE the sort (branch-tagging aliases like `'nf' AS
        // leg`): ORDER BY binds to the outer select, which is row-identical
        // — but only when every sort reference passes through the
        // projection unrenamed, else the rendered ORDER BY names a column
        // the outer scope no longer has
        case Project(cols, Sort(order, true, c, _))
            if order.flatMap(_.references.toSeq).forall(r => cols.exists {
              case ar: AttributeReference => ar.exprId == r.exprId
              case _ => false
            }) =>
          (orderBy(order), Project(cols, c))
        case other => ("", other)
      }
      branchSql(p2).map(b => s"$b$orderSql$limitSql")
    }

    peeledSql(inlined)
      .map(sql => if (cteDefs.isEmpty) sql
        else s"WITH RECURSIVE ${cteDefs.values.mkString(", ")} $sql")
    }
  }

  // ------------------------------------------------------------------
  // used pushed filters (≙ reference's used-index list, execution_plan.h:196-271)
  // ------------------------------------------------------------------

  /** One line per parquet scan whose predicates reached the file format as
    * pushed filters — the Spark analog of the reference CLI's "indexes
    * used" report. Read off the scan nodes of the executed plan in the
    * order the formatted EXPLAIN lists them: the main plan's scans left to
    * right (through AQE, query-stage and cached-relation wrappers), then
    * each subquery's, with a reused subquery or scan listed once. A scan
    * is named by its catalog table, `?` when it has none (a path read).
    * Under EXPLAIN nothing else plans physically, so a planning failure here
    * propagates and [[run]] reports an ERROR.
    */
  def pushedFilterReport(qe: org.apache.spark.sql.execution.QueryExecution): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.{BaseSubqueryExec, FileSourceScanExec,
      ReusedSubqueryExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = qe.executedPlan
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
    def scans(p: QueryPlan[_]): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case _: BaseSubqueryExec => Nil
      case s: FileSourceScanExec => if (seen.add(s)) Seq(s) else Nil
      case o => (o.children ++ o.innerChildren).flatMap(c => scans(c.asInstanceOf[QueryPlan[_]]))
    }
    // each subquery in plan pre-order, followed by the ones nested in it
    def subqueries(p: SparkPlan): Seq[BaseSubqueryExec] = p match {
      case a: AdaptiveSparkPlanExec => subqueries(a.executedPlan)
      case q: QueryStageExec => subqueries(q.plan)
      case _ =>
        p.expressions.flatMap(_.collect { case e: PlanExpression[_] => e.plan })
          .collect { case s: BaseSubqueryExec => s +: subqueries(s) }.flatten ++
          p.children.flatMap(subqueries)
    }
    (scans(root) ++ subqueries(root).flatMap {
      case _: ReusedSubqueryExec => Nil
      case s => scans(s.child)
    }).flatMap { s =>
      val fs = s.metadata.getOrElse("PushedFilters", "[]")
      val table = s.tableIdentifier.fold("?")(_.table)
      if (fs.isEmpty || fs == "[]") None
      else Some(s"used pushed filters ($table): $fs")
    }
  }

  // ------------------------------------------------------------------
  // plan tree with per-node estimates (reference execution_plan.h:247-261)
  // ------------------------------------------------------------------

  /** Indented plan tree with per-node `rows=`/`size=` from Catalyst CBO
    * statistics — the reference's `Project(rows=…, cost=…)` rendering with
    * Catalyst's numbers (SURVEY.md §7: document the mapping, don't fake
    * PostgreSQL constants).
    */
  def renderTree(p: LogicalPlan, indent: Int = 0): String = {
    val stats = p.stats
    val rows = stats.rowCount.map(_.toString).getOrElse("?")
    val line = " " * indent + s"${p.nodeName}(rows=$rows, size=${stats.sizeInBytes})"
    (line +: p.children.map(c => renderTree(c, indent + 2))).mkString("\n")
  }
}
