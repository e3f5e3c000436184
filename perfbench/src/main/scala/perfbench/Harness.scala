package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call into the library. `work` counts the units the operation
  * processed (rows, documents or statements). */
final case class Op(kind: String, step: Int, wallS: Double, ok: Boolean, work: Long,
                    span: Option[Trace.Span])

/** A workload: seeded inputs, a repeatable set-up, and a closed-loop step
  * that calls the library through [[Harness.timed]] and checks each
  * output with [[Harness.check]]. */
trait Workload {
  /** The latencies `op_p50_s` is the median of. */
  def opTimes(ops: Seq[Op]): Seq[Double]
  /** Writes the seeded inputs and warms the process up (untimed; once). */
  def generate(): Unit
  /** Builds the state the loop starts from, from the inputs, and runs one
    * warm-up step on it. Timed, several times per run; the last one's
    * state is kept. */
  def setup(rep: Int): Unit
  /** One closed-loop step. */
  def step(i: Int): Unit
  /** No more steps can run (the step's inputs are used up). */
  def exhausted: Boolean = false
  /** Checks on the final state; each failure is one failed operation. */
  def finish(): Unit = ()
  /** The workload's own end-to-end figures for the report: (name, value, unit). */
  def report(ops: Seq[Op]): Seq[(String, Double, String)]
  /** The workload's own layer figures for a traced run. */
  def layerExtras(ops: Seq[Op]): Map[String, Double] = Map.empty
}

final class Harness(val spark: SparkSession, val seed: Long, val work: String) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Operations run during set-up: timed, but not counted as attempted. */
  val setupOps = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]
  var finalFailures = 0
  /** Per step: process CPU seconds and JIT compilation seconds, to tell
    * a slow step's own work from the JVM still compiling around it. */
  val stepCpuS = mutable.ArrayBuffer.empty[Double]
  val stepJitS = mutable.ArrayBuffer.empty[Double]
  private var recording = false
  private var currentStep = -1
  private var nextId = 0

  /** Runs `body` as one timed operation. Failures are recorded, never
    * thrown: the run goes on and counts them. */
  def timed[T](kind: String, layer: String, work: Long)(body: => T): Option[T] = {
    nextId += 1
    val id = nextId
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, id.toString)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    sc.setLocalProperty(Trace.OpProperty, null)
    r.left.foreach { e =>
      errors += s"$kind (step $currentStep): ${e.toString.take(300)}"
      if (!recording) finalFailures += 1
    }
    if (recording) {
      val span = if (Trace.on) Some(Trace.Span(id, kind, layer, ms0, ms1, wall)) else None
      span.foreach(Trace.spans += _)
      ops += Op(kind, currentStep, wall, r.isRight, work, span)
    } else setupOps += Op(kind, -1, wall, r.isRight, work, None)
    r.toOption
  }

  /** Marks the last operation wrong when `ok` is false. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    errors += s"check failed (step $currentStep): $what"
    if (recording && ops.nonEmpty && ops.last.ok) ops(ops.size - 1) = ops.last.copy(ok = false)
    else if (!recording) finalFailures += 1
  }

  /** A final-state check; a failure counts as one failed operation. */
  def checkFinal(ok: Boolean, what: => String): Unit = if (!ok) {
    errors += s"final check failed: $what"
    finalFailures += 1
  }

  /** Times `reps` set-ups, then steps until `seconds` have passed, and at
    * least twice. In a traced run odd steps are traced and even steps are
    * not, so the difference is the tracing overhead; a traced run takes at
    * least three steps, so a traced step sits between two untraced ones.
    * Returns the set-up times. */
  def run(w: Workload, reps: Int, seconds: Double, traced: Boolean): Seq[Double] = {
    val setups = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    recording = true
    val t0 = System.nanoTime()
    val minSteps = if (traced) 3 else 2
    var i = 0
    while ((i < minSteps || (System.nanoTime() - t0) / 1e9 < seconds) && !w.exhausted) {
      currentStep = i
      Trace.on = traced && i % 2 == 1
      val c0 = Harness.cpu.getProcessCpuTime
      val j0 = Harness.jit.getTotalCompilationTime
      w.step(i)
      stepCpuS += (Harness.cpu.getProcessCpuTime - c0) / 1e9
      stepJitS += (Harness.jit.getTotalCompilationTime - j0) / 1e3
      // listener events arrive asynchronously: deliver the step's last ones
      // while `Trace.on` still has the step's value
      if (traced) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      i += 1
    }
    Trace.on = false
    recording = false
    currentStep = -1
    w.finish()
    setups
  }
}

object Harness {
  private val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the value,
    * its percentile and the sample count; None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((s(i), 100.0 * (i + 1) / s.size, s.size))
    }

  /** `<name>_tail_s` with its percentile and sample count, when defined. */
  def tailFigures(name: String, xs: Seq[Double]): Seq[(String, Double, String)] =
    tail(xs).toSeq.flatMap { case (v, p, n) =>
      Seq((s"${name}_tail_s", v, "s"), (s"${name}_tail_pct", p, "%"),
        (s"${name}_samples", n.toDouble, "count"))
    }
}

object Fs {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.delete)
  }

  /** Regular data files under `dir` (hidden `.`/`_` files excluded). */
  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
  }

  def bytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** Sum of an integer column over the CSV part files of a Spark CSV
    * output directory, read on the driver without Spark. */
  def csvColumnSum(dir: String, column: String): Long =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(f => f.getFileName.toString.startsWith("part-") && f.toString.endsWith(".csv"))
      .map { f =>
        val lines = Files.readAllLines(f).asScala.filter(_.nonEmpty)
        if (lines.isEmpty) 0L
        else {
          val idx = lines.head.split(",").indexOf(column)
          require(idx >= 0, s"$column not in ${lines.head}")
          lines.tail.map(_.split(",", -1)(idx).toLong).sum
        }
      }.sum

  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
