package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{LocalDate, YearMonth, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same bytes of input;
  * the library under test only ever sees the files these write. */
object Gen {

  /** Monthly `yellow_tripdata_YYYY-MM.parquet` files, one per month, each
    * with `rows` trips whose pickups fall inside the file's own month (so
    * filename validation keeps every row). Columns and dirt (nulls,
    * inverted drop-offs, component-sum mismatches) come from the
    * library's own `TaxiE2E.taxiFrame` derivation over a seeded `events`
    * frame. Returns the written file paths, oldest month first. */
  def taxiMonths(spark: SparkSession, seed: Long, first: YearMonth, months: Int,
                 rows: Int, scratch: String, outDir: String): Seq[String] = {
    val n = months.toLong * rows
    val startSec = monthBounds(first, months)
    val monthIdx = (col("id") / rows).cast("int")
    val start = element_at(typedLit(startSec.map(_._1)), monthIdx + 1)
    val len = element_at(typedLit(startSec.map(_._2)), monthIdx + 1)
    val events = spark.range(0, n, 1, 4).select(
      (col("id") + lit(seed % 1000000L * 10000000L)).as("event_id"),
      timestamp_seconds(start + floor(rand(seed) * len).cast("long")).as("ts"),
      (rand(seed + 1) * 100).as("value"))
    events.write.mode("overwrite").parquet(s"$scratch/events.parquet")
    val taxi = graft.queries.TaxiE2E.taxiFrame(spark, scratch)
      .withColumn("ym", date_format(col("tpep_pickup_datetime"), "yyyy-MM"))
    taxi.repartition(months, col("ym")).write.partitionBy("ym")
      .mode("overwrite").parquet(s"$scratch/stage")
    Files.createDirectories(Paths.get(outDir))
    val out = (0 until months).map { i =>
      val ym = first.plusMonths(i.toLong).toString
      val part = Files.list(Paths.get(s"$scratch/stage/ym=$ym")).toArray
        .map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith("part-"))
      require(part.length == 1, s"expected one file for $ym, got ${part.length}")
      val dst = Paths.get(s"$outDir/yellow_tripdata_$ym.parquet")
      Files.move(part.head, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toString
    }
    Fs.delete(scratch)
    out
  }

  private def monthBounds(first: YearMonth, months: Int): Seq[(Long, Long)] =
    (0 until months).map { i =>
      val ym = first.plusMonths(i.toLong)
      val s = ym.atDay(1).atStartOfDay().toEpochSecond(ZoneOffset.UTC)
      val e = ym.plusMonths(1).atDay(1).atStartOfDay().toEpochSecond(ZoneOffset.UTC)
      (s, e - s)
    }

  /** Lakehouse seed rows: keys `0 until rows`, a group and a fare in cents
    * that are pure functions of (key, seed), so a driver-side model can
    * recompute any original row without reading the table. */
  def g0(id: Long, seed: Long): Int = java.lang.Math.floorMod(id * 31L + seed, 64L).toInt
  def fare0(id: Long, seed: Long): Long = java.lang.Math.floorMod(id * 7919L + seed, 4999L) + 1L

  /** `files` contiguous key ranges, one per partition, so each data file
    * covers one narrow key range and zone maps on `id` can prune. */
  def lakehouseRows(spark: SparkSession, seed: Long, rows: Long, files: Int): DataFrame =
    spark.range(0, rows, 1, files).select(
      col("id"),
      pmod(col("id") * 31L + lit(seed), lit(64L)).cast("int").as("g"),
      (pmod(col("id") * 7919L + lit(seed), lit(4999L)) + 1L).as("fare"))

  /** A corpus of `docs` documents of `words` words each over a `vocab`-word
    * vocabulary, where the last `pairs` documents are copies of earlier
    * ones with one middle word replaced by a word outside the vocabulary.
    * Returns the rows and the planted (original, copy) id pairs. */
  def corpus(seed: Long, docs: Int, words: Int, vocab: Int, pairs: Int)
      : (Seq[(Long, String)], Set[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val base = docs - pairs
    val texts = Array.fill(base)(Array.fill(words)(s"w${rnd.nextInt(vocab)}"))
    val originals = rnd.shuffle((0 until base).toVector).take(pairs).sorted
    val planted = originals.zipWithIndex.map { case (orig, k) =>
      val copy = texts(orig).clone()
      copy(words / 2) = s"edit$k"
      (orig.toLong, (base + k).toLong) -> copy.mkString(" ")
    }
    val rowsOut = texts.indices.map(i => (i.toLong, texts(i).mkString(" "))) ++
      planted.map { case ((_, id), t) => (id, t) }
    (rowsOut, planted.map(_._1).toSet)
  }

  /** Month start date used by the taxi workloads. */
  val FirstMonth: YearMonth = YearMonth.from(LocalDate.of(2019, 1, 1))
}
