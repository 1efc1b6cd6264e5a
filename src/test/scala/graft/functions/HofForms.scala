package graft.functions

import graft.llm.{Dedup, Similarity}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reference higher-order-function forms of the fused native expressions:
  * interpreted Catalyst lambdas, slow but plainly correct. The library
  * runs the fused forms; the bit-equality specs (`MinHashSpec`,
  * `NativeSpec`, `NativeHofProps`, `TokensSpec`, `TextStatsSpec`) hold
  * each fused form to the reference here.
  */
object HofForms {

  /** `Dedup.tokens`: regex split + interpreted empty-filter. */
  def tokensHof(text: Column): Column = filter(split(text, " "), t => t =!= "")

  /** `Dedup.minHash`: two nested interpreted lambdas per (seed, token). */
  def minHashHof(tokensCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(tokensCol, t => xxhash64(i, t))))

  /** `Dedup.tokenIds64`: interpreted digest→hex→substring→parse per token. */
  def tokenIds64Hof(tokensCol: Column): Column =
    transform(tokensCol,
      t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"))

  /** `Dedup.minHash` over token ids (the long path). */
  def minHashHofLong(tokenIdsCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(tokenIdsCol, t => xxhash64(i, t))))

  /** `Dedup.minHashSimilarity`: two interpreted lambdas per slot. */
  def minHashSimilarityHof(mhA: Column, mhB: Column, numHashes: Int): Column =
    aggregate(zip_with(mhA, mhB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / numHashes

  /** `MinHash.bandHashes`: `bands` interpreted lambdas, each allocating an
    * r-element slice.
    */
  def bandHashesHof(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * lit(r) + 1, lit(r))))
  }

  /** `Dedup.simHashBits`: interpreted, 64× redundant hashing. */
  def simHashBitsHof(tokensCol: Column): Column = {
    val votes = aggregate(
      tokensCol,
      array((0 until 64).map(_ => lit(0L)): _*),
      (acc, t) => zip_with(acc,
        array((0 until 64).map(i =>
          when(xxhash64(t).bitwiseAND(lit(1L << i)) =!= 0, 1L).otherwise(-1L)): _*),
        (a, b) => a + b))
    transform(votes, v => when(v > 0, 1).otherwise(0))
  }

  /** `Similarity.cosine`: interpreted per element. */
  def cosineHof(a: Column, b: Column): Column =
    Similarity.dot(a, b) / (Similarity.norm(a) * Similarity.norm(b))

  /** `TextAnalysis.gopherQualityFlags`: interpreted lambdas + a regex
    * Matcher per token.
    */
  def gopherQualityFlagsHof(text: Column): Column = {
    val toks = tokensHof(text)
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")
    val nLines = size(lines).cast("long")
    val bullets = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•"))).cast("long")
    val ellipsis = size(filter(lines,
      l => l.endsWith("...") || l.endsWith("…"))).cast("long")
    val alphaToks = size(filter(toks, t => t.rlike("\\p{L}"))).cast("long")
    val hashes = (length(text) - length(translate(text, "#", ""))).cast("long")
    // '…' counts as an ellipsis symbol (Gopher counts both forms):
    // translate to '...' first, then count triples — on both engine and
    // oracle sides, so the flags stay bit-exact
    val dotsText = regexp_replace(text, "…", "...")
    val dots = floor((length(dotsText) -
      length(regexp_replace(dotsText, "\\.\\.\\.", ""))).cast("double") / 3.0).cast("long")
    struct(
      (nTok >= 50L && nTok <= 100000L).as("ok_length"),
      (nTok > 0L && sumLen >= nTok * 3L && sumLen <= nTok * 10L).as("ok_word_len"),
      ((hashes + dots) * 10L < nTok).as("ok_symbols"),
      (bullets * 10L <= nLines * 9L).as("ok_bullets"),
      (ellipsis * 10L <= nLines * 3L).as("ok_ellipsis"),
      (alphaToks * 5L >= nTok * 4L).as("ok_alpha"))
  }

  /** `TextAnalysis.c4CleanLines`: a nested interpreted lambda battery per
    * line.
    */
  def c4CleanLinesHof(text: Column, minWords: Int = 5): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")
    val kept = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")) &&
        size(filter(split(l, " "), t => t =!= "")) >= minWords &&
        !lower(l).contains("javascript"))
    concat_ws("\n", kept)
  }

  /** `TextAnalysis.winnowingFingerprints`: interpreted, O(n·window) slice
    * minima.
    */
  def winnowingFingerprintsHof(text: Column, k: Int = 5, window: Int = 4): Column = {
    val grams = Dedup.wordNgrams(text, k) // distinct word k-grams in doc order
    val hashes = transform(grams, g => xxhash64(g))
    val nWin = greatest(size(hashes) - (window - 1), lit(1))
    when(size(hashes) === 0, array().cast("array<bigint>"))
      .otherwise(array_distinct(transform(sequence(lit(1), nWin),
        i => array_min(slice(hashes, i, lit(window))))))
  }
}
