package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.ext.TextDedup

/** MinHash-LSH near-duplicate detection, then connected components, over a
  * synthetic corpus with a planted set of one-word-edit near-duplicates:
  * the benchmark's only load on the `ext` and `functions` modules. It runs
  * as one pass per [[Lakehouse]] round. */
final class CorpusDedup(h: Harness, docs: Int, words: Int, pairs: Int) {
  private val spark = h.spark
  private val dir = s"${h.work}/corpus"
  private var planted = Set.empty[(Long, Long)]
  private val found = mutable.ArrayBuffer.empty[Double]
  private val recall = mutable.ArrayBuffer.empty[Double]

  /** The kinds of the two timed operations of a pass. */
  val Kinds = Set("lsh", "cc")

  def generate(): Unit = {
    import spark.implicits._
    val (rows, p) = Gen.corpus(h.seed, docs, words, vocab = 5000, pairs)
    planted = p
    rows.toDF("id", "text").repartition(4).write.mode("overwrite").parquet(s"$dir/docs")
  }

  /** One pass: near-dup pairs (timed as `lsh`), then the components they
    * form (timed as `cc`). Both outputs are checked against the planted
    * set. Each is one operation of work. */
  def pass(): Unit = {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$dir/docs")
    val got = h.timed("lsh", "ext", 1) {
      TextDedup.minhashNearDups(corpus, col("id"), col("text"))
        .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    }
    got.foreach { g =>
      h.check(g == planted,
        s"near-dup pairs: ${g.size} found, ${(g intersect planted).size} of ${planted.size} planted")
      if (Trace.on) {
        found += g.size.toDouble
        recall += (g intersect planted).size.toDouble / planted.size
      }
    }
    val edges = got.getOrElse(Set.empty).toSeq.toDF("id_a", "id_b")
    h.timed("cc", "ext", 1) {
      TextDedup.connectedComponents(corpus.select("id"), col("id"), edges)
        .select(col("node"), col("comp")).as[(Long, Long)].collect().toMap
    }.foreach { comp =>
      h.check(comp.size == docs && planted.forall { case (a, b) => comp(a) == comp(b) } &&
        comp.values.toSet.size == docs - planted.size,
        s"components: ${comp.size} nodes, ${comp.values.toSet.size} components")
    }
  }

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val passes = ops.filter(o => Kinds(o.kind)).groupBy(_.step).values.map(_.map(_.wallS).sum).toSeq
    if (passes.isEmpty) Nil
    else Seq(("dedup_docs_per_s", docs * passes.size / passes.sum, "1/s"),
      ("dedup_pass_p50_s", Stats.median(passes), "s"))
  }

  def layerExtras(): Map[String, Double] = {
    val cand = TextDedup.lshCandidates(
      spark.read.parquet(s"$dir/docs").select(col("id"),
        TextDedup.minhashSignature(TextDedup.shingles(col("text"))).as("sig")),
      col("id"), col("sig")).count().toDouble
    val pairsFound = if (found.isEmpty) 0.0 else Stats.median(found.toSeq)
    Map("ext.lsh_candidates" -> cand, "ext.pairs" -> pairsFound,
      "ext.precision" -> (if (cand == 0) 0.0 else pairsFound / cand),
      "ext.recall" -> (if (recall.isEmpty) 0.0 else Stats.median(recall.toSeq)))
  }
}
