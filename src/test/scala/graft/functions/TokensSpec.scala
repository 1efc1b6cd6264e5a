package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bit-equality pins for the native tokenizer (optimization round 21):
  * [[TokensWs]] replaces the interpreted HOF form
  * (`filter(split(text, " "), t => t != "")`) that every text query's
  * scan rides — so the ONLY acceptable behavior is element-for-element
  * equality with that form on every boundary the regex split defines:
  * empties between consecutive spaces, leading/trailing spaces, other
  * whitespace NOT split on, non-ASCII bytes (a space can never occur
  * inside a multi-byte UTF-8 sequence — the byte-scan's correctness
  * argument), empty and all-space strings, and NULL.
  */
class TokensSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = Seq(
    "plain three tokens",
    "  leading and  double  spaces ",
    "trailing space ",
    " ",
    "     ",
    "",
    "single",
    "tab\tand\nnewline are not separators",
    "unicode é tokens naïve 日本語 emoji 🎉 mixed",
    "café… l'élève — mixed,punct. here",
    "a b c d e f g h i j k l m n o p",
    "x" * 5000 + " tail",
    null
  )

  private def df = fixtures.toDF("text")

  test("native tokens_ws equals the HOF split+filter form on every fixture") {
    val bad = df.select(
        graft.llm.Dedup.tokens(col("text")).as("a"),
        HofForms.tokensHof(col("text")).as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(bad == 0, "tokens_ws drifted from the HOF form")
  }

  test("native tokens_ws equals the HOF form on real corpus text") {
    val docs = graft.sources.Tables.load(spark, sf01, "documents")
    val bad = docs.select(
        graft.llm.Dedup.tokens(col("text")).as("a"),
        HofForms.tokensHof(col("text")).as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(bad == 0, "tokens_ws drifted from the HOF form on corpus text")
  }

  test("NULL text yields NULL, empty and all-space yield empty arrays") {
    val rows = df.select(col("text"), graft.llm.Dedup.tokens(col("text")).as("t"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1), "NULL text must yield NULL tokens")
      else if (r.getString(0).forall(_ == ' '))
        assert(r.getSeq[String](1).isEmpty, s"'${r.getString(0)}' must yield []")
    }
  }
}
