package graft.engine

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** What one measured body cost: its wall time, and the jobs, stages and
  * tasks the context ran meanwhile with their executor run time, shuffle
  * and spill volume and peak per-task execution memory. `gcMs` is the
  * driver JVM's stop-the-world GC time over the body; `extCores` the CPU
  * demand of OTHER processes, in cores, averaged over the body (−1.0 where
  * the platform cannot say). A body that threw has its exception, as text,
  * in `error`.
  */
final case class Measure(label: String = "", wallS: Double = 0.0,
    jobs: Long = 0L, stages: Long = 0L, tasks: Long = 0L, taskMs: Long = 0L,
    shuffleReadB: Long = 0L, shuffleWriteB: Long = 0L, spillB: Long = 0L,
    peakTaskMemB: Long = 0L, gcMs: Long = 0L, extCores: Double = -1.0,
    error: Option[String] = None) {
  def ok: Boolean = error.isEmpty
}

/** The one metrics listener: registered once per SparkContext, it keeps
  * running totals, and [[measure]] reports their change over a body.
  */
object Telemetry {

  private final class Totals extends SparkListener {
    val jobs, stages, tasks, taskMs, shuffleReadB, shuffleWriteB, spillB, peakTaskMemB =
      new AtomicLong(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakTaskMemB.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
      }
    }
    def snapshot: Seq[Long] =
      Seq(jobs, stages, tasks, taskMs, shuffleReadB, shuffleWriteB, spillB).map(_.get)
  }

  private val byContext = new java.util.WeakHashMap[SparkContext, Totals]()

  private def totals(sc: SparkContext): Totals = byContext.synchronized {
    byContext.computeIfAbsent(sc, { c => val t = new Totals; c.addSparkListener(t); t })
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private val osBean = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }

  /** CPU demand of other processes, in cores, averaged since the previous
    * call: the bean's loads are interval averages between consecutive
    * reads, so one call resets the window and the next reads it. The
    * 1-minute load average cannot serve: a busy local executor keeps it
    * near the core count on a quiet machine.
    */
  private def externalCores(): Double = osBean.map { b =>
    val sysLoad = b.getCpuLoad
    val selfLoad = b.getProcessCpuLoad
    if (sysLoad < 0 || selfLoad < 0) -1.0
    else math.max(0.0, (sysLoad - selfLoad) * Runtime.getRuntime.availableProcessors())
  }.getOrElse(-1.0)

  /** Runs `body` and returns what it cost. A `NonFatal` exception from
    * `body` is caught into `error`. Task-end events trail an action's
    * return, so the totals are read only once the listener bus has
    * drained; if it does not drain in time this throws rather than
    * return a partial count. Counts are the change in context-wide
    * totals (streaming micro-batch jobs included), so calls must not
    * overlap; each call resets the peak task memory.
    */
  def measure(spark: SparkSession, label: String)(body: => Any): Measure = {
    val sc = spark.sparkContext
    val t = totals(sc)
    ListenerBusBridge.waitUntilEmpty(sc)
    t.peakTaskMemB.set(0L)
    val before = t.snapshot
    val gc0 = gcMillis()
    externalCores()
    val t0 = System.nanoTime()
    val error =
      try { body; None }
      catch { case NonFatal(e) => Some(e.toString) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val ext = externalCores()
    val gcMs = gcMillis() - gc0
    ListenerBusBridge.waitUntilEmpty(sc)
    val Seq(jobs, stages, tasks, taskMs, shufR, shufW, spill) =
      t.snapshot.zip(before).map { case (a, b) => a - b }
    Measure(label, wallS, jobs, stages, tasks, taskMs, shufR, shufW, spill,
      t.peakTaskMemB.get, gcMs, ext, error)
  }
}
