package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
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
    // a failed entry leaves no spark output, which check_oracle.py counts
    // as a FAIL; a fatal error (an OOM) ends the dump instead
    selected.foreach { e =>
      try e.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${e.name}")
      catch { case NonFatal(ex) =>
        System.err.println(s"[verify] ${e.name} failed: ${ex.getMessage}")
      }
    }
    val (texts, errors) = SparkEntry.oracles(spark, sfDir, selected)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.spaced(texts))
    // replay-generator failures become a visible artifact (the entry itself
    // is missing from oracle_sql.json); a CLEAN run must also delete any
    // stale file a prior failed run left in this outDir, or it would
    // falsely report the entry as still degraded
    if (errors.nonEmpty) Files.writeString(Paths.get(s"$outDir/oracle_errors.json"), Json.spaced(errors))
    else Files.deleteIfExists(Paths.get(s"$outDir/oracle_errors.json"))
    spark.stop()
  }
}
