package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalyst optimize + plan phases of every action the engine runs, with
  * their start times, so they can be placed inside the stage that ran them.
  */
final class PlanListener extends QueryExecutionListener {
  val phases = mutable.ArrayBuffer.empty[(Long, Long)]
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    Seq("optimization", "planning").flatMap(ph.get).foreach(p =>
      phases += ((p.startTimeMs * 1000L, p.durationMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Turns the traced pass's spans and listener records into the per-layer
  * metrics. Layer names follow the engine's modules.
  */
object Layers {
  /** Statements whose QueryEngine report was not a SELECT (traced pass). */
  var nonSelect = 0

  /** Child spans of one `QueryEngine.run` call, from the planning tracker
    * of the DataFrame it returns: parse+analyze, optimize, physical plan.
    */
  def catalystSpans(tracer: Tracer, stmt: Span, df: Option[DataFrame]): Unit =
    df.foreach { d =>
      val ph = d.queryExecution.tracker.phases
      for (a <- ph.get("analysis")) {
        val start = ph.get("parsing").map(_.startTimeMs).getOrElse(a.startTimeMs)
        tracer.derived("catalyst.parse_analyze", stmt, start * 1000L, a.endTimeMs * 1000L)
      }
      ph.get("optimization").foreach(p =>
        tracer.derived("catalyst.optimize", stmt, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      ph.get("planning").foreach(p =>
        tracer.derived("catalyst.plan", stmt, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
    }

  /** Listener record counts at the start of the traced pass. */
  final case class Marks(jobs: Int, stages: Int, tasks: Int, progress: Int, plans: Int)

  def marks(exec: ExecListener, stream: StreamListener, plan: PlanListener): Marks =
    exec.synchronized(stream.synchronized(plan.synchronized(
      Marks(exec.jobs.size, exec.stagesSubmitted.size, exec.tasks.size, stream.progress.size,
        plan.phases.size))))

  private var jobSpan: Map[Int, Int] = Map.empty

  /** Per-layer metrics of the traced pass. `root` is the pass span. */
  def rollup(tracer: Tracer, exec: ExecListener, stream: StreamListener, plan: PlanListener,
      m: Marks, buildMs: Double, analyzeMs: Double, tracedMs: Double, untracedMs: Double)
      : Seq[(String, Double)] = {
    val root = tracer.spans.find(_.name == "trace.pass").get
    // SQL executions inside a statement are its ≤51-row collect
    exec.synchronized(exec.sqlExec.toSeq).foreach { case (_, (st, en)) =>
      tracer.spans.filter(s => s.name == "stmt" && s.startUs <= st * 1000L && st * 1000L <= s.endUs)
        .foreach(s => tracer.derived("qe.collect", s, st * 1000L, math.max(st, en) * 1000L))
    }
    val byId = tracer.spans.map(s => s.id -> s).toMap
    def ancestors(id: Int): Iterator[Span] =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent))).takeWhile(_.isDefined).map(_.get)
    def under(id: Int, name: String => Boolean) = ancestors(id).exists(s => name(s.name))
    val self = tracer.selfUs
    val spans = tracer.spans.filter(s => s.startUs >= root.startUs && s.endUs <= root.endUs)
    def dur(p: String => Boolean) = spans.filter(s => p(s.name)).map(_.durUs).sum / 1000.0

    val jobs = exec.synchronized(exec.jobs.drop(m.jobs).toList)
    val tasks = exec.synchronized(exec.tasks.drop(m.tasks).toList)
    val stages = exec.synchronized(exec.stagesSubmitted.size - m.stages)
    val submit = exec.synchronized(exec.stageSubmitMs.toMap)
    val stageJob = exec.synchronized(exec.stageJob.toMap)
    jobSpan = jobs.map { j =>
      j.id -> j.group.filter(_.startsWith("span-")).map(_.drop(5).toInt)
        .getOrElse(tracer.innermostAt(j.startUs, root))
    }.toMap
    val buildJobs = jobs.filter(j => under(jobSpan(j.id), _ == "entry.build")).map(_.id).toSet
    val buildTaskMs = tasks.filter(t => stageJob.get(t.stageId).exists(buildJobs)).map(_.runMs).sum

    val progress = stream.synchronized(stream.progress.drop(m.progress).toList)
    def batchMs(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
    val lastPerQuery = progress.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    val planPhases = plan.synchronized(plan.phases.drop(m.plans).toList)
    val stages0 = spans.filter(_.name.startsWith("stage."))
    val entryPlanMs = planPhases.filter { case (st, _) =>
      stages0.exists(s => s.startUs <= st && st <= s.endUs)
    }.map(_._2).sum

    val passSelf = spans.map(s => self(s.id)).sum / 1000.0
    Seq(
      "session.build_ms" -> buildMs,
      "catalog.analyze_ms" -> analyzeMs,
      "entry.build_ms" -> dur(_ == "entry.build"),
      "entry.build_task_ms" -> buildTaskMs.toDouble,
      "entry.eager_jobs" -> buildJobs.size.toDouble,
      "entry.plan_ms" -> entryPlanMs.toDouble,
      "catalyst.parse_analyze_ms" -> dur(_ == "catalyst.parse_analyze"),
      "catalyst.optimize_ms" -> dur(_ == "catalyst.optimize"),
      "catalyst.plan_ms" -> dur(_ == "catalyst.plan"),
      "qe.report_ms" -> spans.filter(_.name == "stmt").map(s => self(s.id)).sum / 1000.0,
      "qe.collect_ms" -> dur(_ == "qe.collect"),
      "qe.non_select" -> nonSelect.toDouble,
      "dedup.wall_ms" -> dur(_.startsWith("stage.dedup/")),
      "ann.wall_ms" -> dur(_.startsWith("stage.ann/")),
      "text.wall_ms" -> dur(_.startsWith("stage.text/")),
      "pack.wall_ms" -> dur(_.startsWith("stage.pack/")),
      "stream.batches" -> progress.size.toDouble,
      "stream.add_batch_ms" -> batchMs("addBatch").toDouble,
      "stream.query_planning_ms" -> batchMs("queryPlanning").toDouble,
      "stream.wal_commit_ms" -> batchMs("walCommit").toDouble,
      "stream.commit_offsets_ms" -> batchMs("commitOffsets").toDouble,
      "stream.state_commit_ms" -> progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum.toDouble,
      "stream.state_rows" -> lastPerQuery.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble,
      "stream.state_mem_bytes" -> lastPerQuery.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum.toDouble,
      "stream.twin_check_ms" -> spans.filter(s => s.name == "entry.execute" &&
        under(s.id, _.startsWith("stage.stream/"))).map(_.durUs).sum / 1000.0,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_ms" -> tasks.map(_.runMs).sum.toDouble,
      "exec.sched_delay_ms" -> tasks.map(t => submit.get(t.stageId)
        .map(s => math.max(0L, t.launchMs - s)).getOrElse(0L)).sum.toDouble,
      "exec.max_task_ms" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.durMs).max.toDouble),
      "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
      "trace.wall_ms" -> tracedMs,
      "trace.untraced_wall_ms" -> untracedMs,
      "trace.overhead_ms" -> (tracedMs - untracedMs),
      "trace.self_sum_ratio" -> passSelf / tracedMs,
      "op.samples" -> stages0.size.max(spans.count(_.name == "stmt")).toDouble)
  }

  /** Per-span JSON fields for the spans file: self time, and the jobs and
    * task time attributed to the span itself.
    */
  def spanExtra(tracer: Tracer, exec: ExecListener): Span => String = {
    val self = tracer.selfUs
    val stageJob = exec.synchronized(exec.stageJob.toMap)
    val tasksBySpan = exec.synchronized(exec.tasks.toList)
      .flatMap(t => stageJob.get(t.stageId).flatMap(jobSpan.get).map(_ -> t.runMs))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val jobsBySpan = jobSpan.values.groupMapReduce(identity)(_ => 1)(_ + _)
    s => s""","self_us":${self(s.id)},"jobs":${jobsBySpan.getOrElse(s.id, 0)},""" +
      s""""task_ms":${tasksBySpan.getOrElse(s.id, 0L)}"""
  }
}
