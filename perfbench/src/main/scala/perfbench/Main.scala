package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload in one process and prints, as its last two lines,
  * the report (every named figure, with its unit, and the run's context)
  * and the result object `{"correct", "attempted", "failed", "metrics"}`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> [--spans <file>] [--head <rev>] */
object Main {
  val Cores = 4
  val SetupReps = 3

  /** End-to-end metrics, printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "work_per_s" -> "1/s")

  private val ModuleMetrics = for {
    m <- Trace.Modules
    (k, u) <- Seq("jobs" -> "count", "wall_s" -> "s", "task_s" -> "s", "shuffle_write_mb" -> "MB")
  } yield s"$m.$k" -> u

  private val SqlKinds = Seq("insert", "merge", "delete", "point", "agg", "asof", "refresh")

  /** Per-layer metrics, printed by every traced run; 0 where the workload
    * does not run the layer. */
  val PerLayer: Seq[(String, String)] = ModuleMetrics ++ Seq(
    "driver.gap_s" -> "s", "driver.gap_share" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.busy_ratio" -> "ratio", "spark.shuffle_write_mb" -> "MB",
    "spark.input_mb" -> "MB", "sql.plan_s" -> "s") ++
    SqlKinds.map(k => s"sql.$k.jobs" -> "count") ++ Seq(
    "incremental.tracker_files" -> "count", "sinks.files_written" -> "count",
    "sinks.bytes_written_mb" -> "MB",
    "snapshots.versions" -> "count", "snapshots.live_files" -> "count",
    "snapshots.files_scanned_per_point" -> "ratio", "snapshots.write_amp" -> "ratio",
    "ivm.versions_applied" -> "count",
    "ext.lsh_candidates" -> "count", "ext.pairs" -> "count", "ext.precision" -> "ratio",
    "ext.recall" -> "ratio", "ext.cc_jobs" -> "count",
    "trace.attributed_share" -> "ratio", "trace.overhead_s" -> "s")

  /** Workload sizes: chosen so one run (warm-up, set-up three times, then
    * the measured loop) fits a fresh JVM in under a minute on 4 cores. The
    * trickle pool holds a new month for every 5 s of the loop, and at
    * least four. */
  def workload(name: String, h: Harness, seconds: Double): Workload = name match {
    case "taxi_trickle"    => new TaxiTrickle(h, backfill = 2, steps = math.max(4, (seconds / 5).toInt + 2),
                                              rows = 5000)
    case "lakehouse_mixed" => new Lakehouse(h, rows = 200000, files = 16, insertRows = 500,
                                            mergeKeys = 200, deleteKeys = 100,
                                            new CorpusDedup(h, docs = 5000, words = 40, pairs = 500))
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")
    val load0 = loadavg()

    val b = SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[Trace.PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) spark.sparkContext.addSparkListener(new Trace.JobListener)

    val h = new Harness(spark, seed, work)
    val w = workload(name, h, seconds)
    val g0 = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - g0) / 1e9
    val setups = h.run(w, SetupReps, seconds, traced)
    val ops = h.ops.toSeq

    val stats =
      if (traced) ops.filter(_.span.isDefined).map(o => o -> Trace.statsOf(spark.sparkContext, o.span.get))
      else Nil
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val values = Map(
          "setup_s" -> Stats.median(setups),
          "op_p50_s" -> Stats.median(w.opTimes(ops)),
          "work_per_s" -> ops.map(_.work).sum / ops.map(_.wallS).sum)
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val values = layerMetrics(w, ops, stats)
        opt.get("spans").foreach(p => Files.write(Paths.get(p),
          Trace.jsonl(stats.map(_._2)).getBytes(StandardCharsets.UTF_8)))
        PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    val report = w.report(ops) ++ Seq(("setup_s", Stats.median(setups), "s"),
      ("gen_s", genS, "s"), ("rss_peak_mb", Fs.rssPeakMb(), "MB"),
      ("error_rate", (ops.count(!_.ok) + h.finalFailures).toDouble / ops.size, "ratio"))
    val failed = ops.count(!_.ok) + h.finalFailures
    val context = Seq("workload" -> Json.str(name), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> (if (traced) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "git_head" -> Json.str(opt.getOrElse("head", "unknown")),
      "loadavg_1m_before" -> Json.num(load0), "loadavg_1m_after" -> Json.num(loadavg()),
      "step_cpu_s" -> h.stepCpuS.map(Json.num).mkString("[", ",", "]"),
      "step_jit_s" -> h.stepJitS.map(Json.num).mkString("[", ",", "]"),
      "gc_s" -> Json.num(gcSeconds()),
      "steps" -> (if (ops.isEmpty) "0" else (ops.map(_.step).max + 1).toString),
      "setup_runs_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "op_walls_s" -> Json.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> v.map(o => Json.num(o.wallS)).mkString("[", ",", "]") }),
      // jobs and tasks per operation type in the traced steps: these repeat
      // exactly across runs with the same seed
      "traced_counts" -> Json.obj(stats.groupBy(_._1.kind).toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.obj(Seq(
          "jobs" -> v.map(_._2.jobs).mkString("[", ",", "]"),
          "tasks" -> v.map(_._2.tasks).mkString("[", ",", "]")))
      }),
      "errors" -> h.errors.take(5).map(Json.str).mkString("[", ",", "]"))
    println(Json.obj(Seq("report" -> Json.metrics(report), "context" -> Json.obj(context))))
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> math.max(1, ops.size).toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics))))
    spark.stop()
  }

  /** Medians over traced steps of each step's per-layer totals. */
  def layerMetrics(w: Workload, ops: Seq[Op], stats: Seq[(Op, Trace.OpStats)]): Map[String, Double] = {
    val traced = stats.map(_._1)
    val steps = stats.groupBy(_._1.step).values.toSeq.map(_.map(_._2))
    def perStep(f: Seq[Trace.OpStats] => Double): Double =
      if (steps.isEmpty) 0.0 else Stats.median(steps.map(f))
    def module(m: String, f: Trace.ModuleStats => Double)(ss: Seq[Trace.OpStats]) =
      ss.flatMap(_.byModule.get(m)).map(f).sum
    def jobsOf(kind: String): Double = {
      val js = stats.filter(_._1.kind == kind).map(_._2.jobs.toDouble)
      if (js.isEmpty) 0.0 else Stats.median(js)
    }
    val wall = (ss: Seq[Trace.OpStats]) => ss.map(_.span.wallS).sum
    val task = (ss: Seq[Trace.OpStats]) => ss.map(_.taskS).sum
    val gap = (ss: Seq[Trace.OpStats]) => ss.map(_.gapS).sum
    val named = Trace.Modules.toSet
    val allTask = stats.map(_._2.taskS).sum
    val namedTask = stats.flatMap(_._2.byModule.filter(m => named(m._1)).values).map(_.taskS).sum
    val tracedSteps = traced.map(_.step).toSet
    val (on, off) = ops.partition(o => tracedSteps(o.step))
    val overhead =
      if (on.isEmpty || off.isEmpty) 0.0
      else Stats.median(w.opTimes(on)) - Stats.median(w.opTimes(off))
    val modules = for {
      m <- Trace.Modules
      (k, f) <- Seq[(String, Trace.ModuleStats => Double)]("jobs" -> (_.jobs.toDouble),
        "wall_s" -> (_.wallS), "task_s" -> (_.taskS), "shuffle_write_mb" -> (_.shuffleWriteMb))
    } yield s"$m.$k" -> perStep(module(m, f))
    modules.toMap ++ Map(
      "driver.gap_s" -> perStep(gap),
      "driver.gap_share" -> perStep(ss => gap(ss) / wall(ss)),
      "spark.jobs" -> perStep(_.map(_.jobs.toDouble).sum),
      "spark.stages" -> perStep(_.map(_.stages.toDouble).sum),
      "spark.tasks" -> perStep(_.map(_.tasks.toDouble).sum),
      "spark.task_s" -> perStep(task),
      "spark.busy_ratio" -> perStep(ss => task(ss) / (wall(ss) * Cores)),
      "spark.shuffle_write_mb" -> perStep(_.map(_.shuffleWriteMb).sum),
      "spark.input_mb" -> perStep(_.map(_.inputMb).sum),
      "sql.plan_s" -> perStep(_.map(_.planS).sum),
      "ext.cc_jobs" -> jobsOf("cc"),
      "trace.attributed_share" -> (if (allTask == 0) 0.0 else namedTask / allTask),
      "trace.overhead_s" -> overhead) ++
      SqlKinds.map(k => s"sql.$k.jobs" -> jobsOf(k)) ++
      w.layerExtras(ops)
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
  }

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split(" ").head.toDouble
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
