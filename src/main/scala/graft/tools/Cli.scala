package graft.tools

import scala.io.StdIn

import graft.engine.{GraftSession, QueryEngine}

/** Interactive SQL CLI — parity with the reference's primary entry point
  * (`engine/src/cli.cpp:63-326`): reads statements from stdin, prints the
  * transform log, the costed plan tree, and ` | `-separated rows with NULLs
  * rendered as `"NULL"`; `EXPLAIN` prefix shows the plan without executing;
  * DML is parsed and acknowledged only.
  *
  * Usage: runMain graft.tools.Cli [sfDir]   (then type SQL, `exit` to quit)
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.build(graft.engine.GraftSession.envCpus(8), "graft-cli")
    // ≙ reference startup stats harvest (statistics_manager.cpp): CBO row
    // counts + column stats make the plan tree print real row estimates
    println("harvesting table statistics (ANALYZE) ...")
    val t0 = System.nanoTime()
    val harvested = GraftSession.ensureAnalyzedCatalog(spark, sfDir)
    println(f"harvested ${harvested.size} tables in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    GraftSession.registerFunctions(spark)
    // ≙ cli.cpp:167-188: the startup table dump with row counts and
    // name-sorted columns + types, from the just-ANALYZEd catalog
    println(GraftSession.catalogListing(spark))
    println(s"graft SQL engine — tables from $sfDir — type SQL, 'exit' to quit")
    var line = ""
    while ({ line = Option(StdIn.readLine("sql> ")).getOrElse("exit"); line.trim != "exit" }) {
      if (line.trim.nonEmpty) {
        val rep = QueryEngine.run(spark, line)
        if (rep.syntaxError) {
          // ≙ cli.cpp:205-218: the styled syntax-error block. The hint
          // list is adapted to THIS engine (the reference warns about
          // UNION being unsupported; Spark supports it)
          println("\nQuery Type: Syntax Error")
          println("Issues Detected:")
          rep.error.foreach(e => println(s"  x $e"))
          println("\nSuggestions:")
          rep.suggestion.foreach(s => println(s"  - $s"))
          println("  - Check for an unbalanced parenthesis or a dangling clause")
          println("  - Ensure proper semicolon placement")
        } else rep.error.foreach(e => println(s"ERROR: $e"))
        // ≙ cli.cpp:228-243 warn-and-continue rendering
        rep.warnings.foreach(println)
        if (!rep.syntaxError) rep.suggestion.foreach(println)
        if (rep.transformLog.nonEmpty) {
          println("-- transform log --")
          rep.transformLog.foreach(println)
        }
        if (rep.planTree.nonEmpty) {
          println("-- plan --")
          println(rep.planTree)
        }
        rep.rewrittenSql.foreach { s =>
          println("-- rewritten SQL --")
          println(s)
        }
        if (rep.kind == "SELECT") {
          rep.rows.take(50).foreach(println)
          // rowCount == 51 is the truncation signal (QueryEngine fetches
          // at most 51 rows, executeTake(51) on the plan it reports; an
          // exact total would cost a second full run)
          if (rep.rowCount > 50) println("... (50+ rows)")
          else println(s"(${rep.rowCount} rows)")
        }
      }
    }
    spark.stop()
  }
}
