package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import graft.incremental.Incremental
import graft.pipeline.TaxiJob

/** The paper's job as the reference schedules it: each step lands one new
  * month and runs the job, then polls once with nothing new. Fixed
  * per-run cost dominates, and the raw directory and tracker grow through
  * the run.
  *
  * Generation ends with a warm-up in a scratch directory: a backfill (one
  * job over the first `backfill` months from a fresh state), then an idle
  * poll, so the measured jobs run past the steepest part of the JVM's
  * warm-up. Set-up brings the job up on a deployment that
  * already holds that backlog: it records the backlog in a fresh tracker
  * and watermark through the library's state API, then polls once, which
  * must find nothing new. */
final class TaxiTrickle(h: Harness, backfill: Int, steps: Int, rows: Int) extends Workload {
  private val spark = h.spark
  private val root = s"${h.work}/taxi"
  private val poolDir = s"$root/pool"
  private val raw = s"$root/raw"
  private val state = s"$root/state"
  private val out = s"$root/out"
  private var files: Seq[String] = Nil
  private var next = backfill
  private val sinkFiles = mutable.ArrayBuffer.empty[Double]
  private val sinkMb = mutable.ArrayBuffer.empty[Double]

  def opTimes(ops: Seq[Op]): Seq[Double] = ops.filter(_.kind == "job").map(_.wallS)

  def generate(): Unit = {
    files = Gen.taxiMonths(spark, h.seed, Gen.FirstMonth, backfill + steps, rows,
      s"$root/gen", poolDir)
    val warm = s"$root/warm"
    (0 until backfill).foreach(land(_, s"$warm/raw"))
    job("backfill", s"$warm/raw", s"$warm/state", s"$warm/out", backfill, backfill.toLong * rows)
    idlePoll(s"$warm/raw", s"$warm/state", s"$warm/out")
    Fs.delete(warm)
  }

  private def land(i: Int, dir: String): Unit = {
    val src = Paths.get(files(i))
    val dst = Paths.get(dir).resolve(src.getFileName)
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(System.currentTimeMillis())
  }

  def setup(rep: Int): Unit = {
    Seq(raw, state, out).foreach(Fs.delete)
    (0 until backfill).foreach(land(_, raw))
    h.timed("restore", "incremental", 0) {
      val backlog = Incremental.discover(spark, raw, "yellow_tripdata.*\\.parquet")
      Incremental.appendTracker(spark, state, backlog.map(_.path))
      Incremental.writeWatermark(spark, state, backlog.map(_.mtime).max)
    }
    idlePoll(raw, state, out)
    next = backfill
  }

  override def exhausted: Boolean = next >= files.size

  def step(i: Int): Unit = {
    land(next, raw)
    next += 1
    job("job", raw, state, out, 1, rows)
    idlePoll(raw, state, out)
  }

  /** One timed job over `raw`; checks status, the validated row count and
    * that the three metric tables counting trips agree on the total. */
  private def job(kind: String, raw: String, state: String, out: String,
                  expectFiles: Int, expectRows: Long): Unit = {
    val before = if (Trace.on) Fs.dataFiles(out) else Nil
    val res = h.timed(kind, "pipeline", expectRows) {
      TaxiJob.run(spark, raw, state, out, maxFiles = 100, clock = () => 42L)
    }
    res.foreach { r =>
      h.check(r.status == "success", s"$kind status ${r.status}")
      h.check(r.filesProcessed.size == expectFiles,
        s"$kind processed ${r.filesProcessed.size} files, expected $expectFiles")
      h.check(r.rowCounts.get("rows_validated").contains(expectRows),
        s"$kind rows_validated ${r.rowCounts.get("rows_validated")}, expected $expectRows")
      val latest = s"$out/processed/metrics/latest"
      val totals = Seq("hourly_demand", "payment_analysis", "monthly_summary")
        .map(n => Fs.csvColumnSum(s"$latest/$n.csv", "trip_count"))
      h.check(totals.distinct.size == 1 && totals.head > 0,
        s"$kind trip_count totals disagree: $totals")
      if (Trace.on) {
        val added = Fs.dataFiles(out).toSet -- before.toSet
        sinkFiles += added.size
        sinkMb += added.toSeq.map(Files.size).sum / (1024.0 * 1024.0)
      }
    }
  }

  /** One timed run with nothing new to process. */
  private def idlePoll(raw: String, state: String, out: String): Unit =
    h.timed("poll", "pipeline", 0) {
      TaxiJob.run(spark, raw, state, out, maxFiles = 100, clock = () => 42L)
    }.foreach(r => h.check(r.status == "all_files_processed", s"poll status ${r.status}"))

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val jobs = opTimes(ops)
    val polls = ops.filter(_.kind == "poll").map(_.wallS)
    val backfills = h.setupOps.filter(_.kind == "backfill")
    Seq(("trickle_job_p50_s", Stats.median(jobs), "s"),
      ("idle_poll_p50_s", Stats.median(polls), "s"),
      ("trickle_rows_per_s", ops.map(_.work).sum / ops.map(_.wallS).sum, "1/s"),
      ("backfill_cold_rows_per_s", backfills.map(_.work).sum / backfills.map(_.wallS).sum, "1/s")) ++
      Stats.tailFigures("trickle_job", jobs)
  }

  override def layerExtras(ops: Seq[Op]): Map[String, Double] = Map(
    // part files of the processed-files tracker: it gains one per run
    "incremental.tracker_files" -> Fs.dataFiles(s"$state/tracker").size.toDouble,
    "sinks.files_written" -> (if (sinkFiles.isEmpty) 0.0 else Stats.median(sinkFiles.toSeq)),
    "sinks.bytes_written_mb" -> (if (sinkMb.isEmpty) 0.0 else Stats.median(sinkMb.toSeq)))
}
