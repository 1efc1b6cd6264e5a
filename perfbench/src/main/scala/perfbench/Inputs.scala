package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input derives from the fixture tables
  * and the seed alone, so one seed always yields the same inputs.
  */
object Inputs {
  /** Copy `c` of fixture document `d` gets id `c * DocShift + d`. */
  val DocShift = 1000000L
  /** Planted copy `j` of document `d` gets id `j * CopyShift + d`. */
  val CopyShift = 1000000000000L
  /** Seeded spellings per fixture word: the fixture corpus has 31 distinct
    * words, so unsalted documents are near-duplicates of each other by
    * accident; with this many spellings two documents share a token only
    * by chance.
    */
  val Spellings = 4096

  private def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` in base 26 as lower-case letters. */
  private def letters(n: Long): String = {
    val sb = new StringBuilder
    var v = n
    while ({ sb += ('a' + (v % 26).toInt).toChar; v /= 26; v > 0 }) ()
    sb.reverse.toString
  }

  /** Repeat the fixture words to at least 60, salt every occurrence with
    * a seeded spelling (the ScaleBench convention, per token instead of
    * per copy) and cut them into 10-word sentences, one per line: text
    * that passes every page gate of `Pipelines.pretrainCorpus`.
    */
  def sentenceText(seed: Long, id: Long, fixtureText: String): String = {
    val words = fixtureText.split(' ').filter(_.nonEmpty)
    val n = words.length * math.ceil(60.0 / words.length).toInt
    val tokens = (0 until n).map { i =>
      words(i % words.length) + letters(java.lang.Math.floorMod(mix(seed, id, i), Spellings.toLong))
    }
    tokens.grouped(10).map(_.mkString(" ") + ".").mkString("\n")
  }

  /** Sentence-shaped documents from the fixture `documents` table, copies
    * `0 until copies`, one partition per copy.
    */
  def corpus(fixtureDocs: DataFrame, seed: Long, copies: Long): DataFrame = {
    val spark = fixtureDocs.sparkSession
    val text = udf((id: Long, t: String) => sentenceText(seed, id, t))
    spark.range(0, copies, 1, copies.toInt).toDF("c")
      .crossJoin(broadcast(fixtureDocs.select("doc_id", "text", "lang")))
      .withColumn("doc_id", col("c") * DocShift + col("doc_id"))
      .select(col("doc_id"), text(col("doc_id"), col("text")).as("text"), col("lang"))
  }

  /** Planted near-duplicate clusters: a seeded `sharePct` percent of
    * `docs` each gain one to three copies that differ in bytes but not in
    * normalized tokens — doubled spaces, a repeated first token, or tabs.
    * Returns (documents with copies, truth: doc_id → cluster).
    */
  def plantClusters(docs: DataFrame, seed: Long, sharePct: Int): (DataFrame, DataFrame) = {
    val h = (tag: String) => pmod(xxhash64(lit(seed), lit(tag), col("doc_id")), lit(100L))
    val seeds = docs.filter(h("plant") < sharePct)
      .withColumn("n", (h("copies") % 3 + 1).cast("int"))
    val copies = seeds.withColumn("j", explode(sequence(lit(1), col("n"))))
      .select((col("j") * CopyShift + col("doc_id")).as("doc_id"),
        when(col("j") === 1, regexp_replace(col("text"), " ", "  "))
          .when(col("j") === 2, regexp_replace(col("text"), "^(\\S+) ", "$1 $1 "))
          .otherwise(regexp_replace(col("text"), " ", "\t")).as("text"),
        col("lang"), col("doc_id").as("cluster"))
    val truth = seeds.select(col("doc_id"), col("doc_id").as("cluster"))
      .unionByName(copies.select(col("doc_id"), col("cluster")))
    (docs.unionByName(copies.drop("cluster")), truth)
  }

  /** Key-shifted copies `copies` of the fixture `events` (ScaleBench's
    * fact-table convention) with a seeded `perMille` share of truncated,
    * unparseable `props`. Returns (events, planted-malformed predicate
    * over event_id).
    */
  def events(fixtureEvents: DataFrame, seed: Long, copies: Seq[Long], perMille: Int): (DataFrame, Column) = {
    val bad = pmod(xxhash64(lit(seed), lit("bad"), col("event_id")), lit(1000L)) < perMille
    val out = copies.map { c =>
      fixtureEvents.select((col("event_id") + c * 100000000L).as("event_id"), col("ts"),
        (col("user_id") + c * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .withColumn("props", when(bad, regexp_replace(col("props"), "\\}$", "")).otherwise(col("props")))
    (out, bad)
  }
}
