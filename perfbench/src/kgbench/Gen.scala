package kgbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen

/** Seeded input generators. Every output is a pure function of its
  * arguments, so one seed always gives the same inputs.
  */
object Gen {

  private def rng(seed: Long, a: Long, stream: Int): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ (a * 1000003L + stream * 7919L))

  // ---- serve, queries: a `documents` table in the scale-dir layout ----

  /** Word-bag vocabulary of the registry's `documents` table. */
  private val vocab = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch"
  )
  private val langs = Vector("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  private def bagText(seed: Long, id: Long): String = {
    val r = rng(seed, id, 1)
    val n = 10 + r.nextInt(91)
    Iterator.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  /** Row `id` of an n-document table: 5% of rows are near-duplicates of
    * another row (its text plus a " dup" marker).
    */
  def document(seed: Long, n: Long, id: Long): (Long, String, String, String, Long) = {
    val r = rng(seed, id, 2)
    val text =
      if (n > 1 && r.nextDouble() < 0.05) {
        val other = (id + 1 + (r.nextLong() & Long.MaxValue) % (n - 1)) % n
        bagText(seed, other) + " dup"
      } else bagText(seed, id)
    var u = r.nextDouble()
    val lang = langs.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("en")
    (id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  /** Writes `<dir>/documents.parquet` with `n` rows. */
  def writeDocuments(spark: SparkSession, seed: Long, n: Long, dir: String, partitions: Int): Unit = {
    import spark.implicits._
    spark
      .range(0, n, 1, partitions)
      .as[Long]
      .map(id => document(seed, n, id))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode("overwrite")
      .parquet(s"$dir/documents.parquet")
  }

  // ---- serve, memory: add payloads and retrieve queries ----

  /** Text of `pages` CorpusGen pages starting at page `first`. */
  def memoryText(seed: Long, first: Long, pages: Int): String = {
    val cfg = CorpusGen.Config(nDocs = first + pages, seed = seed)
    (first until first + pages).map(id => CorpusGen.page(cfg, id).text).mkString(" ")
  }

  /** A retrieve query: the leading token of a pool entity's name. */
  def memoryQuery(r: Random): String =
    CorpusGen.entityName(r.nextInt(CorpusGen.Config().entityPoolSize)).split(" ").head
}
