package graft.tools

import graft.SparkEntry
import graft.engine.{GraftSession, Measure, Telemetry}

/** Dev tool: for each named SparkEntry entry, print its formatted physical
  * plan, then one [[graft.engine.Measure]] line per run under the bench's
  * conditions (GraftSession config, noop materialization, recall probes
  * off, cache cleared between runs). A `TRACE` run's minimum compares
  * directly with `Bench.sf1Bands` when `dir` is the sf1 tier.
  *
  * Usage: runMain graft.tools.Trace <entry>[,<entry>...] [dir] [runs]
  * (dir defaults to benchdata/sf1, runs to 3)
  */
object Trace {

  /** `m`'s fields as `key=value` pairs, its error last when it failed. */
  def fields(m: Measure): String =
    f"wall_s=${m.wallS}%.3f jobs=${m.jobs} stages=${m.stages} tasks=${m.tasks} " +
      s"task_ms=${m.taskMs} shuffle_read_b=${m.shuffleReadB} " +
      s"shuffle_write_b=${m.shuffleWriteB} spill_b=${m.spillB} " +
      s"peak_task_mem_b=${m.peakTaskMemB} gc_ms=${m.gcMs} " +
      f"ext_cores=${m.extCores}%.1f" + m.error.fold("")(e => s" error=$e")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Trace <entry>[,<entry>...] [dir] [runs]")
    val entries = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq.map(SparkEntry.named)
    val dir = new java.io.File(args.lift(1).getOrElse("benchdata/sf1")).getAbsolutePath
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.build(GraftSession.envCpus(32), "graft-trace")
    SparkEntry.withoutRecall {
      entries.foreach { e =>
        e.build(spark, dir).explain("formatted")
        spark.catalog.clearCache()
        (1 to runs).foreach { i =>
          val m = Telemetry.measure(spark, e.name)(
            e.build(spark, dir).write.format("noop").mode("overwrite").save())
          spark.catalog.clearCache()
          println(s"TRACE ${m.label} run=$i ${fields(m)}")
        }
      }
    }
    spark.stop()
  }
}
