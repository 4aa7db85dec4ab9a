package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic corpora with the shape of the sf0.1 `documents` and
  * `embeddings` tables: 10-100 words drawn from a 30-word vocabulary,
  * five languages (en ~41 %), 20 sources, ~5 % near-duplicates (another
  * document's text plus " dup") and a few exact duplicates; 64-dim unit
  * embeddings with ten uniform labels. The same seed gives the same
  * rows; every text depends only on (seed, doc id, version), so deltas
  * regenerate single documents without touching the rest. */
object Corpus {

  val Vocab: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Words a BM25 query can hit (the tokenizer drops short words and
    * stopwords). */
  val QueryVocab: Vector[String] = Vocab.filter(w => w.length > 2 && w != "the")

  private val Langs = Vector("en" -> 0.41, "de" -> 0.14, "es" -> 0.15,
    "fr" -> 0.15, "zh" -> 0.15)

  val EmbeddingDim = 64

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 29) * 0x94D049BB133111EBL))

  /** Fresh text of document `id` at `version`. */
  def text(seed: Long, id: Long, version: Int): String = {
    val r = rng(seed, id, version, 1)
    val n = 10 + r.nextInt(91)
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
  }

  /** Text with the corpus duplicate structure: ~5 % of documents copy
    * another id's text and append " dup", ~0.2 % copy it verbatim. */
  def docText(seed: Long, id: Long, version: Int, idSpace: Long): String = {
    val r = rng(seed, id, version, 2)
    val u = r.nextDouble()
    if (u < 0.05 || u >= 0.998) {
      val other = r.nextLong(idSpace)
      val base = text(seed, if (other == id) (id + 1) % idSpace else other, 0)
      if (u < 0.05) base + " dup" else base
    } else text(seed, id, version)
  }

  def doc(seed: Long, id: Long, version: Int, idSpace: Long): Doc = {
    val t = docText(seed, id, version, idSpace)
    val u = rng(seed, id, 3).nextDouble()
    var acc = 0.0
    val lang = Langs.find { case (_, w) => acc += w; u < acc }.map(_._1).getOrElse("zh")
    Doc(id, t, lang, s"src${id % 20}", t.length.toLong)
  }

  def documents(seed: Long, n: Int): Vector[Doc] =
    Vector.tabulate(n)(i => doc(seed, i.toLong, 0, n.toLong))

  def embeddings(seed: Long, n: Int): Vector[Vec] =
    Vector.tabulate(n) { i =>
      val r = rng(seed, i.toLong, 4)
      val v = Array.fill(EmbeddingDim)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Vec(i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller from two uniforms in (0, 1]
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Zipf(s = 1.1) draw over `n` ranks (0-based). */
  def zipf(r: SplittableRandom, n: Int, s: Double = 1.1): Int = {
    val weights = (1 to n).map(k => 1.0 / math.pow(k, s))
    var u = r.nextDouble() * weights.sum
    var k = 0
    while (k < n - 1 && u >= weights(k)) { u -= weights(k); k += 1 }
    k
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`, the
    * layout `graft.Tables.load` reads. */
  def writeTables(spark: SparkSession, dir: String, seed: Long,
      nDocs: Int, nVecs: Int): Unit = {
    import spark.implicits._
    documents(seed, nDocs).toDF().repartition(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(seed, nVecs).toDF().repartition(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")
}
