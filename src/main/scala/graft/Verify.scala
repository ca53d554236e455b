package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry entry's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only: an optional 3rd arg restricts the dump (and oracle_sql.json)
    // to comma-separated entry-name prefixes for fast local iteration; the
    // driver always invokes with exactly two args -> full dump
    val selected = SparkEntry.select(args.lift(2))
    val cpus = graft.engine.GraftSession.envCpus(16)
    val spark = graft.engine.GraftSession.build(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { e =>
      try e.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${e.name}")
      catch { case ex: Throwable =>
        System.err.println(s"[verify] ${e.name} failed: ${ex.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def json(m: Map[String, String]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val (texts, errors) = SparkEntry.oracles(spark, sfDir, selected)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(texts))
    // replay-generator failures become a visible artifact (the entry itself
    // is missing from oracle_sql.json); a CLEAN run must also delete any
    // stale file a prior failed run left in this outDir, or it would
    // falsely report the entry as still degraded
    if (errors.nonEmpty) Files.writeString(Paths.get(s"$outDir/oracle_errors.json"), json(errors))
    else Files.deleteIfExists(Paths.get(s"$outDir/oracle_errors.json"))
    spark.stop()
  }
}
