package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Telemetry

/** [[Telemetry.measure]]: exact counts the moment an action returns, even
  * behind a slow listener (the bus is drained, no settle loop), a
  * throwing body recorded rather than rethrown, and the peak task memory
  * scoped to one call.
  */
class TelemetrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("counts are exact right after the job, however busy the listener bus") {
    val sc = spark.sparkContext
    // another listener that takes 50 ms per task end: the bus delivers
    // events in order, so Telemetry's totals trail the job by ~50 ms per
    // task unless measure waits for the bus to drain
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50L)
    }
    sc.addSparkListener(slow)
    try (1 to 3).foreach { i =>
      // RDD jobs, so no adaptive re-planning changes the stage or task
      // count: one map stage of 3 tasks feeding one reduce stage of 2
      val m = Telemetry.measure(spark, s"shuffle-$i") {
        sc.parallelize(1 to 1000, 3).map(x => (x % 7, x.toLong)).reduceByKey(_ + _, 2).collect()
      }
      assert(m.ok, m.error)
      assert((m.jobs, m.stages, m.tasks) == ((1L, 2L, 5L)), m)
      assert(m.shuffleWriteB > 0 && m.shuffleReadB > 0, m)
      assert(m.taskMs >= 0 && m.wallS > 0, m)
    } finally sc.removeSparkListener(slow)
    val none = Telemetry.measure(spark, "no-jobs")(Seq.fill(1000)(1).sum)
    assert((none.jobs, none.stages, none.tasks, none.taskMs) == ((0L, 0L, 0L, 0L)), none)
  }

  test("a throwing body returns its error instead of throwing") {
    val m = Telemetry.measure(spark, "throws") {
      spark.sparkContext.parallelize(1 to 4, 2).collect()
      throw new IllegalStateException("planted failure")
    }
    assert(m.error.exists(_.contains("planted failure")), m)
    assert(!m.ok && m.jobs == 1L && m.tasks == 2L, m)
  }

  test("peak task memory is reset on each call") {
    import spark.implicits._
    val sorted = Telemetry.measure(spark, "sort") {
      spark.range(0, 200000, 1, 2).selectExpr("id % 997 AS k", "id")
        .groupBy("k").count().orderBy($"count".desc, $"k").collect()
    }
    assert(sorted.ok && sorted.peakTaskMemB > 0, sorted)
    val idle = Telemetry.measure(spark, "idle")(())
    assert(idle.peakTaskMemB == 0L && idle.tasks == 0L, idle)
  }
}
