package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing half of the benchmark: records spans and counters from the
  * standard Spark hooks, in memory, for the traced run only.
  *
  * Jobs are attributed to the query through the job group the harness
  * sets around each query; stages and tasks follow their job. Catalyst
  * executions carry no job group, so they go to the query whose window
  * holds their analysis start (one client, so windows never overlap).
  * Every event is appended as it arrives and aggregated once, after the
  * timed window, by [[Ledger.layers]].
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  import Ledger._

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val execs = new ConcurrentLinkedQueue[ExecEv]()
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStartMs.put(e.jobId, (e.time, group))
    e.stageIds.foreach(s => jobOfStage.put(s, group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStartMs.remove(e.jobId)).foreach { case (start, group) =>
      jobs.add(JobEv(e.jobId, group, start, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(StageEv(
      i.stageId, i.attemptNumber(), i.name,
      jobOfStage.getOrDefault(i.stageId, ""),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks,
      if (m == null) Metrics.zero else Metrics(
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)))
  }

  private def phases(qe: QueryExecution, func: String, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.get("analysis").orElse(ph.values.headOption)
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    execs.add(ExecEv(func, ok, start,
      ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe, func, ok = true)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe, func, ok = false)

  /** Per-layer totals for the given query windows, plus the span list. */
  def layers(windows: Seq[Window], cores: Int): (Map[String, Double], Seq[Span]) = {
    val byName = windows.map(w => w.id -> w).toMap
    def windowOf(ms: Long): Option[Window] =
      windows.find(w => ms >= w.startMs && ms <= w.endMs)
    // a job outside the group (a streaming query's own group, a pool
    // thread that never inherited it) goes to the window it started in
    def owner(group: String, startMs: Long) =
      byName.get(group).orElse(windowOf(startMs))
    val js = jobs.asScala.toSeq.flatMap(j => owner(j.group, j.startMs).map(j -> _))
    val ss = stages.asScala.toSeq.flatMap(s => owner(s.group, s.startMs).map(s -> _))
    val es = execs.asScala.toSeq.flatMap(e => windowOf(e.startMs).map(e -> _))
    // wall inside query windows during which no job of that query runs
    val gapS = windows.map { w =>
      val iv = js.collect { case (j, ww) if ww eq w =>
        (math.max(j.startMs, w.startMs), math.min(j.endMs, w.endMs)) }
        .sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (s, e) =>
        if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
        else ce = math.max(ce, e)
      }
      if (ce > cs) covered += ce - cs
      math.max(0L, (w.endMs - w.startMs) - covered) / 1e3
    }.sum
    val m = ss.map(_._1.m).foldLeft(Metrics.zero)(_ + _)
    val wall = windows.map(_.wallS).sum
    val mb = 1024.0 * 1024.0
    val totals = Map(
      "queries.build_s" -> windows.map(_.buildS).sum,
      "queries.materialize_s" -> windows.map(_.materializeS).sum,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_._1.tasks.toDouble).sum,
      "spark.driver_gap_s" -> gapS,
      "spark.task_s" -> m.taskS,
      "spark.task_cpu_s" -> m.cpuS,
      "spark.gc_s" -> m.gcS,
      "spark.cores_busy_frac" -> (if (wall > 0) m.taskS / (wall * cores) else 0.0),
      "spark.shuffle_write_mb" -> m.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> m.shuffleRead / mb,
      "spark.spill_mb" -> m.spill / mb,
      "catalyst.executions" -> es.size.toDouble,
      "catalyst.analysis_s" -> es.map(_._1.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> es.map(_._1.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> es.map(_._1.planningMs).sum / 1e3,
      "connections.read_mb" -> m.bytesRead / mb,
      "connections.write_mb" -> m.bytesWritten / mb)
    val spans = windows.flatMap { w =>
      val q = Span(s"q:${w.id}", "", "query", w.name, w.startMs, w.endMs,
        Map("pass" -> w.pass.toString))
      Seq(q,
        Span(s"b:${w.id}", q.id, "queries.build", w.name, w.startMs,
          w.startMs + math.round(w.buildS * 1e3), Map.empty),
        Span(s"m:${w.id}", q.id, "queries.materialize", w.name,
          w.endMs - math.round(w.materializeS * 1e3), w.endMs, Map.empty))
    } ++ js.map { case (j, w) =>
      Span(s"j:${j.id}", s"q:${w.id}", "spark.job", s"job ${j.id}",
        j.startMs, j.endMs, Map.empty)
    } ++ ss.map { case (s, w) =>
      Span(s"s:${s.id}.${s.attempt}", s"q:${w.id}", "spark.stage", s.name,
        s.startMs, s.endMs, Map("tasks" -> s.tasks.toString,
          "task_s" -> s.m.taskS.toString,
          "shuffle_write_bytes" -> s.m.shuffleWrite.toString))
    } ++ es.zipWithIndex.map { case ((e, w), i) =>
      Span(s"c:$i", s"q:${w.id}", "catalyst", e.func, e.startMs,
        e.startMs + e.analysisMs + e.optimizationMs + e.planningMs,
        Map("analysis_ms" -> e.analysisMs.toString,
          "optimization_ms" -> e.optimizationMs.toString,
          "planning_ms" -> e.planningMs.toString, "ok" -> e.ok.toString))
    }
    (totals, spans)
  }
}

object Ledger {
  final case class Metrics(taskS: Double, cpuS: Double, gcS: Double,
      shuffleWrite: Long, shuffleRead: Long, spill: Long,
      bytesRead: Long, bytesWritten: Long) {
    def +(o: Metrics): Metrics = Metrics(taskS + o.taskS, cpuS + o.cpuS,
      gcS + o.gcS, shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
      spill + o.spill, bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
  }
  object Metrics { val zero: Metrics = Metrics(0, 0, 0, 0, 0, 0, 0, 0) }

  final case class JobEv(id: Int, group: String, startMs: Long, endMs: Long)
  final case class StageEv(id: Int, attempt: Int, name: String, group: String,
      startMs: Long, endMs: Long, tasks: Int, m: Metrics)
  final case class ExecEv(func: String, ok: Boolean, startMs: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long)

  /** One timed query execution: `id` is the job group set around it. */
  final case class Window(id: String, name: String, pass: Int,
      startMs: Long, endMs: Long, wallS: Double, buildS: Double,
      materializeS: Double)

  final case class Span(id: String, parent: String, kind: String,
      name: String, startMs: Long, endMs: Long, attrs: Map[String, String])
}
