package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Times are epoch microseconds so spans derived from
  * Spark's own millisecond timestamps (planning phases, SQL executions)
  * share one clock with the spans the benchmark opens itself.
  */
final case class Span(id: Int, name: String, parent: Int, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans recorded around calls into the engine, kept in memory and written
  * out once at exit. A disabled tracer runs the body and records nothing,
  * so the untraced run pays no tracing cost.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  /** Run `body` inside a span. Jobs it submits carry the job group
    * `span-<id>`, which is how the execution listener attributes them.
    */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name)
      val start = nowUs
      try body
      finally {
        spans += Span(id, name, parent, start, nowUs)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "")
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record a span measured by someone else (a planning phase, a SQL
    * execution), clipped into its parent's interval.
    */
  def derived(name: String, parent: Span, startUs: Long, endUs: Long): Unit =
    if (enabled) {
      val s = math.max(startUs, parent.startUs)
      val e = math.min(endUs, parent.endUs)
      if (e > s) {
        spans += Span(nextId, name, parent.id, s, e)
        nextId += 1
      }
    }

  def lastClosed: Span = spans.last

  /** Self time per span: its duration minus the union of its children. */
  def selfUs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
          val from = math.max(a, hi)
          (acc + math.max(0L, b - from), math.max(hi, b))
        }._1
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** The innermost span containing `tUs` under `root`, or `root` itself. */
  def innermostAt(tUs: Long, root: Span): Int = {
    val inside = spans.filter(s => s.startUs <= tUs && tUs <= s.endUs && s.startUs >= root.startUs &&
      s.endUs <= root.endUs)
    if (inside.isEmpty) root.id else inside.minBy(_.durUs).id
  }

  def writeJsonl(path: String, runId: String, extra: Span => String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.sortBy(_.startUs).foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}${extra(s)}}""")
    } finally w.close()
  }
}

/** Scheduler-side counters, attributed to spans after the run: a job goes
  * to the span named by its job group, or, for jobs submitted from threads
  * the benchmark does not control (streaming micro-batches), to the
  * innermost span open at its start time.
  */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, group: Option[String], startUs: Long)
  final case class Task(stageId: Int, launchMs: Long, durMs: Long, runMs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stageJob = mutable.Map.empty[Int, Int]
  val stageSubmitMs = mutable.Map.empty[Int, Long]
  val stagesSubmitted = mutable.ArrayBuffer.empty[Int]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val sqlExec = mutable.Map.empty[Long, (Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(e.jobId, group, e.time * 1000L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagesSubmitted += e.stageInfo.stageId
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
      m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => sqlExec(s.executionId) = (s.time, -1L)
      case s: SparkListenerSQLExecutionEnd =>
        sqlExec.get(s.executionId).foreach { case (st, _) => sqlExec(s.executionId) = (st, s.time) }
      case _ =>
    }
  }
}

/** Micro-batch progress of every streaming query the engine runs. */
final class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
