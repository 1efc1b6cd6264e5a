package graft.functions

import graft.SparkSpec
import graft.llm.TextAnalysis
import org.apache.spark.sql.functions._

/** Bit-equality pins for the native text-battery expressions
  * (optimization round 21): [[GopherTextFlags]], [[C4CleanLinesExpr]],
  * [[LinesNonEmpty]] and [[ParasNonEmpty]] replace interpreted HOF
  * chains inside oracle-hashed queries (ql37, ql45, ql48, ql50), so the
  * ONLY acceptable behavior is exact equality with the HOF forms —
  * pinned on adversarial fixtures (every marker and boundary each
  * battery tests: bullets, both ellipsis forms, '#' and mixed dot runs,
  * terminal punctuation, the javascript rule incl. case and the Turkish
  * İ lowercase trap, paragraph runs, non-ASCII tokens) AND on real
  * corpus text.
  */
class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = Seq(
    // length/word-len/alpha boundaries
    ("w " * 50).trim,
    ("w " * 49).trim,
    "aaa bbb ccc ddd",
    "aaaaaaaaaaa b",
    "12 34 56 a1 2b ## .. é ü 日本語 🎉 x9",
    // bullets and ellipsis (both forms), blank/space-only lines
    "- one\n* two\n• three\nplain\n   \nnext...\nmore…\n...\n…",
    "- a\n- b\n- c",
    // symbol battery: hashes, dot runs, unicode ellipsis merging
    "### x.y..z...w....v.....u…t.…s…",
    "a#b#c . .. ... .... ..... …. .…",
    // C4: terminal punctuation, word counts, javascript in any case
    "This line has five words.\nshort one.\nThis line mentions JavaScript today ok.\n" +
      "This line is kept because fine!\nNo terminal punctuation here five words\n" +
      "Ends with quote and five words.\"\nJAVASCRİPT in five caps words.",
    // paragraphs: runs of newlines, inner single newlines, trailing runs
    "para one line a\npara one line b\n\npara two\n\n\npara three\n\n",
    "\n\nleading sep\nstill para one",
    "a\nb",
    "  \n  ",
    " ",
    "",
    "x" * 4000 + " tail.",
    null
  ).toDF("text")

  private def pinEqual(native: org.apache.spark.sql.Column,
                       hof: org.apache.spark.sql.Column,
                       what: String): Unit = {
    val bad = fixtures.select(native.as("a"), hof.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(bad == 0, s"$what drifted from the HOF form on fixtures")
    val docs = graft.sources.Tables.load(spark, sf01, "documents")
    val badDocs = docs.select(native.as("a"), hof.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(badDocs == 0, s"$what drifted from the HOF form on corpus text")
  }

  test("native gopher flags equal the HOF battery (fixtures + corpus)") {
    pinEqual(TextAnalysis.gopherQualityFlags(col("text")),
      HofForms.gopherQualityFlagsHof(col("text")), "gopher_text_flags")
  }

  test("native c4 line cleaning equals the HOF battery (fixtures + corpus)") {
    pinEqual(TextAnalysis.c4CleanLines(col("text")),
      HofForms.c4CleanLinesHof(col("text")), "c4_clean_lines")
  }

  test("native lines equal the HOF split+trim+filter (fixtures + corpus)") {
    pinEqual(TextStats.linesNonEmpty(col("text")),
      filter(transform(split(col("text"), "\n"), l => trim(l)), l => l =!= ""),
      "lines_nonempty")
  }

  test("native paragraphs equal the HOF split+trim+filter (fixtures + corpus)") {
    pinEqual(TextStats.parasNonEmpty(col("text")),
      filter(transform(split(col("text"), "\n\n+"), p => trim(p)), p => p =!= ""),
      "paras_nonempty")
  }
}
