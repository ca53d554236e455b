package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}
import graft.engine.GraftSession

/** Quiet-session adjudicator for sf1 band stamps (BENCH_NOTES protocol,
  * round 16): the official bench single-times heavy entries mid-sweep, so a
  * `regressed` stamp there is a hypothesis until re-timed on a quiet
  * machine. This main runs the named entries N times each against the sf1
  * directory under the exact bench conditions (GraftSession config, noop
  * materialization, recall probes off, cache cleared between runs) and
  * prints per-run wall + settled executor task ms + external-core
  * contention, so the minimum can be compared to `Bench.sf1Bands` directly.
  *
  * Usage: runMain graft.tools.QuietRetime d03_dedup_minhash,d05_ngram_jaccard [runs]
  * Env: SPARK_GRAFT_SF1_DIR (default benchdata/sf1).
  */
object QuietRetime {

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("d03_dedup_minhash,d05_ngram_jaccard")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = GraftSession.envCpus(32)
    val spark: SparkSession = GraftSession.build(cpus, "graft-quiet-retime")
    val listener = new Bench.TaskTimeListener
    spark.sparkContext.addSparkListener(listener)
    val sf1Dir = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "benchdata/sf1")).getAbsolutePath
    sys.props("graft.ann.recall") = "off"
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown entry $name"))
      (1 to runs).foreach { i =>
        Bench.externalCores()
        val t0 = Bench.settledTaskMs(listener)
        val start = System.nanoTime()
        fn(spark, sf1Dir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - start) / 1e9
        val ext = Bench.externalCores()
        val task = Bench.settledTaskMs(listener) - t0
        spark.catalog.clearCache()
        println(f"RETIME $name run=$i wall=$wall%.2f task_ms=$task ext_cores=$ext%.1f")
      }
    }
    spark.stop()
  }
}
