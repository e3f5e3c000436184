package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import graft.io.Snapshots

/** The driver-side model of the lakehouse table: every statement the
  * client applies is applied here too, so each read has an exact expected
  * answer. Untouched seed rows are recomputed from [[Gen]]'s formulas. */
final class TableModel(seed: Long, seedRows: Long) {
  val groups = 64
  val cnt = new Array[Long](groups)
  val sum = new Array[Long](groups)
  private val changed = mutable.LongMap.empty[(Int, Long)]
  private val gone = mutable.LongMap.empty[Unit]

  (0L until seedRows).foreach { k =>
    val g = Gen.g0(k, seed)
    cnt(g) += 1
    sum(g) += Gen.fare0(k, seed)
  }

  def present(k: Long): Boolean = changed.contains(k) || (k < seedRows && !gone.contains(k))
  def row(k: Long): (Int, Long) = changed.getOrElse(k, (Gen.g0(k, seed), Gen.fare0(k, seed)))

  private def drop(k: Long): Unit = if (present(k)) {
    val (g, f) = row(k)
    cnt(g) -= 1
    sum(g) -= f
  }

  def upsert(k: Long, g: Int, fare: Long): Unit = {
    drop(k)
    changed(k) = (g, fare)
    cnt(g) += 1
    sum(g) += fare
  }

  def delete(k: Long): Unit = if (present(k)) {
    drop(k)
    changed -= k
    gone(k) = ()
  }

  def totals: (Long, Long) = (cnt.sum, sum.sum)
}

/** One closed-loop client on a key-range-clustered snapshot table with a
  * materialized view over it. Each round: INSERT, MERGE (matched and new
  * keys), range DELETE, point SELECT, GROUP BY, VERSION AS OF, refresh_mv,
  * then one near-duplicate pass of `dedup` over a seeded corpus. Writes
  * and reads share the sql and snapshot layers, and versions pile up
  * through the run. */
final class Lakehouse(h: Harness, rows: Long, files: Int, insertRows: Int, mergeKeys: Int,
                      deleteKeys: Int, dedup: CorpusDedup) extends Workload {
  private val spark = h.spark
  private val cat = "lh"
  private val root = s"${h.work}/lake"
  private var table = ""
  private var view = ""
  private var model: TableModel = _
  private var seedRows = rows
  private var nextKey = rows
  private val rnd = new scala.util.Random(h.seed)
  private var lastRefreshVersion = 0L
  private val scanned = mutable.ArrayBuffer.empty[Double]
  private val applied = mutable.ArrayBuffer.empty[Double]
  private var dmlBytesAdded = 0L
  private var dmlRowsChanged = 0L
  private var rowBytes = 0.0

  spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
  spark.conf.set(s"spark.sql.catalog.$cat.root", root)

  /** Builds a table and its view from the seed rows, with a fresh model. */
  private def create(name: String, n: Long): Unit = {
    table = name
    view = s"${name}_mv"
    Snapshots.commitAppend(Gen.lakehouseRows(spark, h.seed, n, files), path,
      recordSchema = true, statsCols = Seq("id"))
    spark.sql(s"CALL $cat.system.create_mv('$view', '$table', 'id', 'g', 'fare')").collect()
    model = new TableModel(h.seed, n)
    seedRows = n
    nextKey = n
    lastRefreshVersion = Snapshots.currentVersion(spark, path)
  }

  /** Writes the corpus and warms the process up with one untimed round on
    * a table of its own, so the first measured round is not the one that
    * compiles every plan. */
  def generate(): Unit = {
    dedup.generate()
    create("warmup", rows / 10)
    round()
  }

  def setup(rep: Int): Unit = {
    create(s"t$rep", rows)
    rowBytes = liveBytes().toDouble / rows
  }

  def step(i: Int): Unit = round()

  /** A round's latency: the sum of its operations' times. */
  def opTimes(ops: Seq[Op]): Seq[Double] =
    ops.groupBy(_.step).values.map(_.map(_.wallS).sum).toSeq

  private def path = s"$root/$table"

  private def fileSize(p: String): Long = {
    val hp = new Path(p)
    val abs = if (hp.isAbsolute) hp else new Path(path, p)
    abs.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(abs).getLen
  }

  private def liveBytes(): Long = Snapshots.liveFiles(spark, path).map(fileSize).sum

  private def sql(kind: String)(text: String): Option[Array[Row]] =
    h.timed(kind, "sql", 1)(spark.sql(text).collect())

  /** A DML statement; in a traced step also the bytes it added. */
  private def dml(kind: String, changedRows: Long)(text: String): Unit = {
    val before = if (Trace.on) Snapshots.liveFiles(spark, path).toSet else Set.empty[String]
    sql(kind)(text)
    if (Trace.on) {
      dmlBytesAdded += (Snapshots.liveFiles(spark, path).toSet -- before).toSeq.map(fileSize).sum
      dmlRowsChanged += changedRows
    }
  }

  private def round(): Unit = {
    import spark.implicits._
    val v0 = Snapshots.currentVersion(spark, path)
    val totals0 = model.totals

    // INSERT a batch of new keys
    val ins = (0 until insertRows).map(j => (nextKey + j, rnd.nextInt(64), 1L + rnd.nextInt(9999)))
    nextKey += insertRows
    ins.toDF("id", "g", "fare").createOrReplaceTempView("ins_batch")
    dml("insert", ins.size)(s"INSERT INTO $cat.$table SELECT id, g, fare FROM ins_batch")
    ins.foreach { case (k, g, f) => model.upsert(k, g, f) }

    // MERGE: half the keys from one narrow window of seed keys, half new
    val window = 4L * mergeKeys
    val lo = (rnd.nextDouble() * (seedRows - window)).toLong
    val matched = rnd.shuffle((lo until lo + window).toVector).take(mergeKeys / 2)
    val fresh = (nextKey until nextKey + (mergeKeys - mergeKeys / 2)).toVector
    nextKey += fresh.size
    val src = (matched ++ fresh).map(k => (k, rnd.nextInt(64), 1L + rnd.nextInt(9999)))
    src.toDF("id", "g", "fare").createOrReplaceTempView("merge_src")
    dml("merge", src.size)(
      s"""MERGE INTO $cat.$table t USING merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    src.foreach { case (k, g, f) => model.upsert(k, g, f) }

    // range DELETE over seed keys
    val d0 = (rnd.nextDouble() * (seedRows - deleteKeys)).toLong
    val deleted = (d0 until d0 + deleteKeys).count(model.present)
    dml("delete", deleted)(s"DELETE FROM $cat.$table WHERE id >= $d0 AND id < ${d0 + deleteKeys}")
    (d0 until d0 + deleteKeys).foreach(model.delete)

    // point read
    val k = (rnd.nextDouble() * seedRows).toLong
    sql("point")(s"SELECT g, fare FROM $cat.$table WHERE id = $k").foreach { got =>
      val want = if (model.present(k)) Seq(model.row(k)) else Nil
      h.check(got.map(r => (r.getInt(0), r.getLong(1))).toSeq == want,
        s"point id=$k got ${got.toSeq} want $want")
    }
    if (Trace.on) graft.sql.GraftScanInfo.last.filter(_.total > 0)
      .foreach(i => scanned += i.candidates.toDouble / i.total)

    // group-by read: every group's count and sum, hence count(*) and sum(fare)
    sql("agg")(s"SELECT g, count(*) AS c, sum(fare) AS s FROM $cat.$table GROUP BY g")
      .foreach { got =>
        val m = got.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
        val want = (0 until model.groups).filter(model.cnt(_) > 0)
          .map(g => g -> (model.cnt(g), model.sum(g))).toMap
        h.check(m == want, s"group-by disagrees with the model")
      }

    // time travel to the version this round started from
    sql("asof")(s"SELECT count(*), sum(fare) FROM $cat.$table VERSION AS OF $v0").foreach { got =>
      val have = (got.head.getLong(0), got.head.getLong(1))
      h.check(have == totals0, s"VERSION AS OF $v0 gave $have, model $totals0")
    }

    // fold this round's versions into the materialized view
    sql("refresh")(s"CALL $cat.system.refresh_mv('$view')").foreach { got =>
      val now = Snapshots.currentVersion(spark, path)
      val n = got.head.getLong(1)
      h.check(n == now - lastRefreshVersion, s"refresh applied $n of ${now - lastRefreshVersion}")
      lastRefreshVersion = now
      if (Trace.on) applied += n.toDouble
    }

    dedup.pass()
  }

  override def finish(): Unit = {
    val mv = spark.sql(s"SELECT g, n_rows, sum_fare FROM $cat.$view").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = spark.sql(s"SELECT g, count(*), sum(fare) FROM $cat.$table GROUP BY g").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    h.checkFinal(mv == direct, "materialized view differs from a direct GROUP BY")
  }

  private def storageAmp: Double = Fs.bytes(path).toDouble / liveBytes()

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val dml = ops.filter(o => Set("insert", "merge", "delete")(o.kind)).map(_.wallS)
    val reads = ops.filter(o => Set("point", "agg", "asof")(o.kind)).map(_.wallS)
    val refresh = ops.filter(_.kind == "refresh").map(_.wallS)
    val statements = ops.filterNot(o => dedup.Kinds(o.kind))
    Seq(("dml_p50_s", Stats.median(dml), "s"), ("read_p50_s", Stats.median(reads), "s"),
      ("mv_refresh_p50_s", Stats.median(refresh), "s"),
      ("lakehouse_ops_per_s", statements.size / statements.map(_.wallS).sum, "1/s"),
      ("storage_amp", storageAmp, "ratio")) ++
      Stats.tailFigures("dml", dml) ++ Stats.tailFigures("read", reads) ++ dedup.report(ops)
  }

  override def layerExtras(ops: Seq[Op]): Map[String, Double] = Map(
    "snapshots.versions" -> Snapshots.versions(spark, path).size.toDouble,
    "snapshots.live_files" -> Snapshots.liveFiles(spark, path).size.toDouble,
    "snapshots.files_scanned_per_point" -> (if (scanned.isEmpty) 0.0 else Stats.median(scanned.toSeq)),
    "snapshots.write_amp" ->
      (if (dmlRowsChanged == 0) 0.0 else dmlBytesAdded / (dmlRowsChanged * rowBytes)),
    "ivm.versions_applied" -> (if (applied.isEmpty) 0.0 else Stats.median(applied.toSeq))) ++
    dedup.layerExtras()
}
