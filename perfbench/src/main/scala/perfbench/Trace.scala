package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrumentation, all of it outside the library:
  *
  *  - spans: the benchmark opens one around each call it makes into a
  *    layer (one timed operation) and keeps them in memory;
  *  - a SparkListener records every Spark job with its stages' task
  *    time, shuffle write and input bytes, and maps the job to
  *    the library module whose code submitted it, from the deepest
  *    library frame of the job's call site (falling back to the SQL
  *    execution's call site, then to the enclosing span's layer);
  *  - a QueryExecutionListener records the analysis + optimization +
  *    planning time of every query execution.
  *
  * Jobs and plans are assigned to the operation span that was open when
  * they started. */
object Trace {
  @volatile var on: Boolean = false

  /** Library modules a job can be attributed to; anything else is `bench`
    * (the benchmark's own generators and checks) or `other`. */
  val Modules: Seq[String] = Seq("incremental", "ops", "sinks", "sql", "snapshots", "ivm", "ext")

  final case class Span(id: Int, kind: String, layer: String, startMs: Long, endMs: Long,
                        wallS: Double)
  final case class Job(id: Int, opId: Int, startMs: Long, module: String, stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1
  }
  final case class Stage(tasks: Int, taskMs: Long, shuffleWrite: Long, input: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  // a stage re-listed by a later job is skipped there; it counts once, for
  // the first job that listed it
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, plan ms)

  private val FramePattern = """(?:^|/)((?:graft|perfbench)\.[\w.$]+)\(""".r

  /** The module of the deepest library (or benchmark) frame in a long-form
    * call site, if any. */
  def moduleOfSite(site: String): Option[String] =
    site.split('\n').iterator.flatMap(l => FramePattern.findFirstMatchIn(l.trim))
      .map(m => moduleOfClass(m.group(1))).nextOption()

  def moduleOfClass(c: String): String =
    if (c.startsWith("perfbench.")) "bench"
    else if (c.startsWith("graft.io.Sinks")) "sinks"
    else if (c.startsWith("graft.io.ViewMaintenance") || c.startsWith("graft.io.ChangeFeed")) "ivm"
    else if (c.startsWith("graft.io.")) "snapshots"
    else if (c.startsWith("graft.incremental.") || c.startsWith("graft.pipeline.TaxiJob")) "incremental"
    else if (c.startsWith("graft.ops.") || c.startsWith("graft.pipeline.")) "ops"
    else if (c.startsWith("graft.sql.")) "sql"
    else if (c.startsWith("graft.ext.") || c.startsWith("graft.functions.")) "ext"
    else "other"

  /** The operation span currently open (set on the client thread, read
    * through the job's local properties). */
  val OpProperty = "perfbench.op"

  final class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val props = Option(e.properties)
      val opId = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val fromExec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id.toLong))).flatMap(moduleOfSite)
      val module = moduleOfSite(site).filter(_ != "bench").orElse(fromExec).getOrElse("bench")
      e.stageIds.foreach(stageOwner.putIfAbsent(_, e.jobId))
      jobs.put(e.jobId, Job(e.jobId, opId, e.time, module, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      Option(i.taskMetrics).foreach { m =>
        stages.merge(i.stageId,
          Stage(i.numTasks, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead),
          (a, b) => Stage(a.tasks + b.tasks, a.taskMs + b.taskMs, a.shuffleWrite + b.shuffleWrite,
            a.input + b.input))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on => execSites.put(s.executionId, s.details)
      case _ =>
    }
  }

  /** Registered through `spark.sql.queryExecutionListeners`, so every
    * session the library forks reports too. */
  final class PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (on) {
      val ph = qe.tracker.phases
      val planPhases = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (planPhases.nonEmpty)
        plans.add((planPhases.map(_.startTimeMs).min, planPhases.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Per-operation breakdown, built from the records of one span. */
  final case class OpStats(span: Span, jobs: Int, stages: Int, tasks: Int, taskS: Double,
                           shuffleWriteMb: Double, inputMb: Double, gapS: Double, planS: Double,
                           byModule: Map[String, ModuleStats])
  final case class ModuleStats(jobs: Int, wallS: Double, taskS: Double, shuffleWriteMb: Double)

  private val Mb = 1024.0 * 1024.0

  /** Length of the union of closed intervals, in seconds. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1000.0
  }

  /** Waits for the listener bus, then breaks `span` down. A job belongs to
    * the span named in its local properties when that span was open at
    * the job's start; a job from a pooled thread with a stale property
    * falls back to the span open at its start time. */
  def statsOf(sc: SparkContext, span: Span): OpStats = {
    org.apache.spark.perfbench.Bus.drain(sc)
    def inside(s: Span, t: Long) = t >= s.startMs && t <= s.endMs
    val byId = spans.iterator.map(s => s.id -> s).toMap
    def owner(j: Job): Option[Int] =
      byId.get(j.opId).filter(inside(_, j.startMs))
        .orElse(spans.find(inside(_, j.startMs))).map(_.id)
    val js = jobs.values.asScala.toSeq.filter(j => owner(j).contains(span.id))
    val moduleOf = (j: Job) => if (j.module == "bench") span.layer else j.module
    def stagesOf(j: Job) = j.stageIds.filter(stageOwner.get(_) == j.id)
      .flatMap(id => Option(stages.get(id)))
    val iv = js.map(j => (j.startMs, if (j.endMs < 0) span.endMs else j.endMs))
    val byModule = js.groupBy(moduleOf).map { case (m, mj) =>
      val st = mj.flatMap(stagesOf)
      m -> ModuleStats(mj.size,
        unionS(mj.map(j => (j.startMs, if (j.endMs < 0) span.endMs else j.endMs))),
        st.map(_.taskMs).sum / 1000.0, st.map(_.shuffleWrite).sum / Mb)
    }
    val st = js.flatMap(stagesOf)
    val planS = plans.asScala.filter(p => inside(span, p._1)).map(_._2).sum / 1000.0
    OpStats(span, js.size, st.size, st.map(_.tasks).sum, st.map(_.taskMs).sum / 1000.0,
      st.map(_.shuffleWrite).sum / Mb, st.map(_.input).sum / Mb, math.max(0.0, span.wallS - unionS(iv)), planS, byModule)
  }

  /** Operation spans, each with its per-module breakdown as child
    * records, as JSON lines; written once when the run ends. */
  def jsonl(stats: Seq[OpStats]): String = stats.map { o =>
    val s = o.span
    val modules = Json.obj(o.byModule.toSeq.sortBy(_._1).map { case (m, ms) =>
      m -> Json.obj(Seq("jobs" -> ms.jobs.toString, "wall_s" -> Json.num(ms.wallS),
        "task_s" -> Json.num(ms.taskS), "shuffle_write_mb" -> Json.num(ms.shuffleWriteMb)))
    })
    Json.obj(Seq("id" -> s.id.toString, "kind" -> Json.str(s.kind), "layer" -> Json.str(s.layer),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString, "wall_s" -> Json.num(s.wallS),
      "jobs" -> o.jobs.toString, "stages" -> o.stages.toString, "tasks" -> o.tasks.toString,
      "task_s" -> Json.num(o.taskS), "driver_gap_s" -> Json.num(o.gapS),
      "plan_s" -> Json.num(o.planS), "modules" -> modules))
  }.mkString("", "\n", "\n")
}
