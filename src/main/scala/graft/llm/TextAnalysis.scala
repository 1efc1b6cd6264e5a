package graft.llm

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All pure Column
  * expressions (codegen'd, pushdown-friendly).
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(Dedup.tokens(text))

  /** BPE-ish subword-boundary token count: splits on whitespace AND
    * letter/digit/punctuation boundaries, the usual pre-tokenizer shape.
    */
  def tokenCountBpe(text: Column): Column =
    size(filter(split(text, "\\s+|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])|(?=[^a-z0-9\\s])"),
      t => t =!= ""))

  /** Match-based subword count (letter runs / digit runs / single
    * punctuation, case-folded) — same pre-tokenizer shape as
    * [[tokenCountBpe]] but expressed as a MATCH pattern with no
    * lookaround, so RE2-based engines (and the DuckDB oracle) compute the
    * identical number.
    */
  def tokenCountSubword(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Token-metering strategy for the budget operators (`Sampling
    * .shardByTokenBudget` / `takeByTokenBudget` callers): what "n_tokens"
    * MEANS. Whitespace is the oracle-checkable default; [[BpeTok]] loads
    * a published GPT-2-format merges file so budgets meter in the units
    * a training run actually consumes (`graft.functions.BpeVocab`).
    * Reference analog: the user-supplied transform fn
    * (reference/transform.go:26) — here it must be a scan-riding Column
    * so the count compiles into the same stage as the scan.
    */
  sealed trait Tokenizer extends Serializable { def count(text: Column): Column }

  /** Whitespace tokens — cheap, language-agnostic, DuckDB-mirrorable. */
  case object WhitespaceTok extends Tokenizer {
    def count(text: Column): Column = tokenCountWs(text)
  }

  /** Subword-boundary runs (regex approximation, oracle-mirrorable). */
  case object SubwordTok extends Tokenizer {
    def count(text: Column): Column = tokenCountSubword(text)
  }

  /** Real byte-BPE counts from a loaded merges table — the fused native
    * expression rides the scan like every other counter.
    */
  final case class BpeTok(vocab: graft.functions.BpeVocab) extends Tokenizer {
    def count(text: Column): Column =
      graft.functions.Native.bpeTokenCount(text, vocab)
  }

  /** Token count under the chosen metering strategy. */
  def tokenCount(text: Column, tokenizer: Tokenizer = WhitespaceTok): Column =
    tokenizer.count(text)

  /** Byte-BPE tokenize-to-ids — the id-shard emission step at the end of
    * a training-data pipeline: `ARRAY<INT>` token ids under a loaded
    * (merges.txt, vocab.json) pair ([[graft.functions.BpeEncoder]]), as a
    * scan-riding fused expression. Counting meters budgets; THIS emits
    * the units a training run actually reads.
    */
  def tokenIdsBpe(text: Column, encoder: graft.functions.BpeEncoder): Column =
    graft.functions.Native.bpeEncode(text, encoder)

  /** Byte-BPE DETOKENIZE — the exact inverse of [[tokenIdsBpe]], closing
    * the tokenizer lifecycle: `ARRAY<INT>` ids back to text through the
    * id vocabulary and the reversible GPT-2 byte alphabet
    * ([[graft.functions.BpeDecodeIds]]). What a pipeline uses to inspect
    * its id shards (spot-check packed sequences, render eval samples)
    * without carrying a text copy alongside; unknown ids surface as
    * U+FFFD, never silently dropped.
    */
  def textFromTokenIds(ids: Column, encoder: graft.functions.BpeEncoder): Column =
    graft.functions.Native.bpeDecode(ids, encoder)

  /** Tiny per-language stopword profiles for the n-gram/stopword heuristic.
    * Deterministic and self-contained (no model files).
    */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "est", "pour"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "人", "有", "他", "这")
  )

  /** Language-ID heuristic: argmax over per-language stopword hit counts;
    * `und` when nothing matches. Ties break by language code (deterministic).
    */
  def langId(text: Column): Column = {
    val toks = Dedup.tokens(lower(text))
    val scored = stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(array_intersect(toks, array(words.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = sort_array(array(scored: _*), asc = false).getItem(0)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Model-based language ID — the [[linearTextScore]] plumbing widened
    * to ONE weight table per language (load any published linear
    * lid model's per-language token weights; `weightsFromTsv` per
    * language, or one DataFrame with a `lang` column as here), scored in
    * a single explode + broadcast join + argmax. Supersedes the
    * [[langId]] stopword heuristic whenever real weights are available:
    * same join shape, real model.
    *
    * Semantics: per-language score = Σ weight(token) over the document's
    * lowercased whitespace tokens, summed as DECIMAL(18,6) (exact and
    * associative — the distributed partial-sum order cannot change the
    * result, so the emitted scores hash-match an external oracle
    * bit-for-bit). `pred_lang` is the argmax language when its score is
    * positive, `und` otherwise (no token matched, or best score ≤ 0);
    * ties break to the lexicographically GREATER code — the same
    * deterministic convention as [[langId]]. Emitted `score` is the best
    * language's score as DOUBLE (0.0 when no token matched any weight
    * row).
    *
    * Scale shape: weights are a classic broadcast dim (≤ a few hundred k
    * rows per language); tokens explode off the scan, both aggregations
    * combine map-side, and only narrow (id, lang, decimal) rows shuffle.
    */
  def langIdLinear(docs: DataFrame, idCol: String, textCol: String,
                   weights: DataFrame): DataFrame = {
    val w = broadcast(weights.select(col("lang").as("_w_lang"),
      col("token").as("_w_tok"), col("weight").cast("decimal(18,6)").as("_w")))
    val scored = docs
      .select(col(idCol), explode(Dedup.tokens(lower(col(textCol)))).as("_tok"))
      .join(w, col("_tok") === col("_w_tok"))
      .groupBy(col(idCol), col("_w_lang"))
      .agg(sum(col("_w")).as("_score"))
    // argmax via struct max: decimal compare is exact, ties fall through
    // to the lang field — larger code wins, deterministically
    val best = scored.groupBy(col(idCol))
      .agg(max(struct(col("_score"), col("_w_lang"))).as("_best"))
      .select(col(idCol), col("_best._w_lang").as("_lang"),
        col("_best._score").as("_score"))
    docs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_score") > 0, col("_lang")).otherwise(lit("und")).as("pred_lang"),
        coalesce(col("_score").cast("double"), lit(0.0)).as("score"))
  }

  /** Quality score in [0,1]: blended length band, alphabetic ratio,
    * mean-word-length band and stopword presence — the classic cheap
    * pre-filter for web-scale corpora.
    */
  def qualityScore(text: Column): Column = {
    val toks = Dedup.tokens(text)
    val nTok = size(toks).cast("double")
    val len = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^\\p{L} ]", "")).cast("double")
    val alphaRatio = when(len > 0, alpha / len).otherwise(0.0)
    val meanWordLen = when(nTok > 0, (len - (nTok - 1)) / nTok).otherwise(0.0)
    val lenBand = when(nTok >= 10 && nTok <= 100000, 1.0)
      .when(nTok >= 3, 0.5).otherwise(0.0)
    val wordBand = when(meanWordLen >= 2 && meanWordLen <= 12, 1.0).otherwise(0.3)
    round((lenBand * 0.4) + (alphaRatio * 0.3) + (wordBand * 0.3), 4)
  }

  /** Duplicate-line fraction (Gopher-style repetition signal): the share
    * of non-blank (trimmed) lines that repeat an earlier line. 0.0 for
    * blank or single-line documents. Pure Column expression — rides the
    * scan, no shuffle.
    */
  def dupLineFrac(text: Column): Column = {
    val lines = graft.functions.TextStats.linesNonEmpty(text)
    when(size(lines) <= 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(lines)).cast("double") / size(lines).cast("double"))
  }

  /** Most-frequent-token fraction per document (the other classic
    * repetition signal: a page that is 40% one token is boilerplate).
    * DISTRIBUTED shape — explode + two partial-agg groupBys — rather than
    * a per-row O(n·distinct) array scan: the explode rides the scan and
    * both aggregations combine map-side, so per-document token
    * cardinality never hits a single executor thread quadratically.
    * Zero-token documents are absent from the result; callers left-join
    * and coalesce to 0.0.
    */
  def topTokenFrac(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("_tok"))
      .groupBy(col(idCol), col("_tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg((max("_c").cast("double") / sum("_c").cast("double")).as("top_token_frac"))

  /** Sliding token-window chunking — the context-window pre-pass of an
    * embedding/RAG pipeline: each document becomes overlapping chunks of
    * `chunkSize` whitespace tokens starting every `stride` tokens (the
    * HF-tokenizers "overflow with stride" convention: the last chunk may
    * be shorter; a document of ≤ chunkSize tokens is one chunk; empty
    * documents produce none). Output `(id, chunk_id, chunk_text)`.
    *
    * Pure explode over a scan-riding projection: tokens are split once
    * per document, chunks are slices of that one array — no shuffle, no
    * self-join, size growth bounded by ~chunkSize/stride. All arithmetic
    * is integer (the chunk count is an exact integer ceil), so the chunk
    * set is bit-reproducible in the DuckDB oracle (`ql28`).
    */
  def chunkTokenWindows(docs: DataFrame, idCol: String, textCol: String,
                        chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    val toks = Dedup.tokens(col(textCol))
    docs.select(col(idCol), toks.as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      // exact integer ceil((n - chunkSize)/stride) + 1 for n > chunkSize:
      // the doubles stay exact far beyond any real token count (< 2^52)
      .withColumn("_nc", when(col("_n") <= chunkSize, lit(1))
        .otherwise(((col("_n") - chunkSize + (stride - 1)) / stride).cast("int") + 1))
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0), col("_nc") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("_toks"), col("chunk_id") * stride + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** Per-document distinctive terms — the TF-IDF-family vocabulary signal
    * of a training-data pipeline: each document's top-`m` terms ranked by
    * `tf · N / df` (term frequency scaled by inverse document frequency).
    * The score is the exact-ratio form rather than `tf · ln(N/df)`: the
    * ranking is identical (ln is monotone in N/df and tf>0), but
    * multiply + one correctly-rounded IEEE division is bit-reproducible
    * across engines, which `ln` is not — so the whole operator
    * oracle-checks by hash (`ql25_tfidf`) instead of within-epsilon.
    *
    * Scale shape: tf agg shuffles on (doc,term); df agg + join shuffle on
    * term (vocabulary-sized, the standard inverted-index shape — hot
    * stopword terms stay bounded because df rows are one per (doc,term),
    * already deduplicated by the tf agg); final rank is a per-document
    * window, bounded by each doc's distinct-term count. N is a scalar
    * broadcast, never a driver collect.
    */
  def distinctiveTerms(docs: DataFrame, idCol: String, textCol: String,
                       m: Int = 3): DataFrame = {
    // (doc, term, tf) rows come straight off the scan via the fused
    // term-count generator — the per-document aggregation needs no
    // shuffle, so the relational form's first corpus-sized Exchange
    // (explode → groupBy(id, term)) disappears. Document frequency is a
    // COUNT window over the term partitioning instead of a separate
    // agg + join: one Exchange on term serves both df and the score, and
    // the per-doc rank window then prunes map-side (WindowGroupLimit)
    // before the only other corpus-scale Exchange. Requires one row per
    // id (the prefix-sum convention): duplicate ids would count df per
    // row, where the relational form merged them per (id, term).
    val tf = docs.select(col(idCol).as("_did"),
      graft.functions.Generators.termCounts(col(textCol)).as(Seq("term", "tf")))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val n = docs.agg(count_distinct(col(idCol)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_did")).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= m)
      .select(col("_did").as(idCol), col("rank"), col("term"), col("score"))
  }

  /** Reference relational form of [[distinctiveTerms]] (explode →
    * (id, term) agg → df agg → join) — kept for the equivalence spec; its
    * extra Exchange is the measured cost the generator form removes.
    */
  def distinctiveTermsRelational(docs: DataFrame, idCol: String, textCol: String,
                                 m: Int = 3): DataFrame = {
    val tf = docs.select(col(idCol).as("_did"), explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy(col("_did"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count_distinct(col(idCol)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_did")).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= m)
      .select(col("_did").as(idCol), col("rank"), col("term"), col("score"))
  }

  /** BM25 sparse retrieval: for each query, the top-`k` documents by
    * Okapi BM25 (Robertson/Spärck Jones; the lexical-retrieval baseline
    * every training-data pipeline runs — BM25-based decontamination,
    * eval-set leakage sweeps, retrieval-augmented data selection) —
    * a beyond-reference LLM-surface row; the scoring model is the
    * published Okapi formula.
    *
    * Per (query q, doc d): `score = Σ_{t ∈ distinct(q)} idf(t) ·
    * tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf(t) = log10(1 + (N − df + 0.5)/(df + 0.5))` — log10 instead of
    * the classic ln scales every score by the constant 1/ln 10, so
    * rankings are identical and the idf rides the repo's log10 oracle
    * bridge (the ql54/ql57 convention). Query term frequency is ignored
    * (distinct query terms — the standard short-query form). `N` counts
    * ALL docs (empty ones too); `avgdl = Σ dl / N` with dl = token count.
    *
    * HASH-EXACT float discipline (the lmScore convention): each term's
    * contribution is IEEE double arithmetic (deterministic given (tf, df,
    * dl, N, sum_dl) — all exact integers) rounded to DECIMAL(18,6); the
    * per-(query, doc) SUM runs in DECIMAL, so partition order can never
    * change the result, and the final top-k compares DECIMAL exactly
    * (ties → ascending doc id).
    *
    * PLAN: postings (did, dl, term, tf) ride the scan via the fused
    * term-count generator (per-doc aggregation needs no shuffle — and
    * the document TEXT never enters an Exchange); a broadcast semi-join
    * against the DISTINCT query vocabulary prunes posting lists BEFORE
    * anything shuffles, so every Exchange after the scan is
    * matched-postings-sized, not corpus-sized. df is a PARTIAL-COMBINING
    * count agg over the pruned postings, broadcast back — deliberately
    * NOT [[distinctiveTerms]]'s COUNT-window-over-term: a window must
    * co-locate a term's ENTIRE posting list in one task, and a stopword
    * in one query would turn that into a single-task hot partition at
    * corpus scale, where the agg's map-side combine ships one partial
    * count per task per term (valid because the generator emits exactly
    * one row per (doc, term)). The df branch costs one extra
    * column-pruned corpus scan — the buy-out of the hot-term window.
    * Queries then fan out by a second broadcast join, DECIMAL
    * contributions aggregate on (query, doc), and the per-query rank
    * window prunes map-side (WindowGroupLimit). Corpus stats (N, Σ dl)
    * are one scalar-agg scan, broadcast. At 100 TB the corpus is touched
    * by exactly three column-pruned scans and zero corpus-sized
    * shuffles, with no single-task partition anywhere. Requires one row
    * per doc id (the [[distinctiveTerms]] prefix-sum convention) and a
    * query set that is dim-sized (it is broadcast twice).
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
               idCol: String, textCol: String,
               queryIdCol: String, queryTextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, 0 <= b <= 1; got k1=$k1 b=$b")
    // the output MUST have 4 distinct names or every downstream select is
    // ambiguous (decontamination keys docs and queries both 'doc_id')
    require(Seq(queryIdCol, "rank", idCol, "score").distinct.size == 4,
      s"bm25TopK: output columns ($queryIdCol, rank, $idCol, score) must be " +
        "distinct — rename idCol/queryIdCol on the way in")
    // rename BY NAME, never positionally: search's contract is its output
    // NAMES (queryIdCol, rank, id, score) — a toDF here would silently
    // mislabel all four columns if a refactor ever reordered them
    Bm25Index.search(Bm25Index.build(docs, idCol, textCol),
      queries, queryIdCol, queryTextCol, k, k1, b)
      .select(col(queryIdCol), col("rank"), col("id").as(idCol), col("score"))
  }

  /** Persistable BM25 inverted index — the build-once/serve-many
    * lifecycle for lexical retrieval (the [[Similarity.KnnGraph]] /
    * [[Dedup.BandIndex]] / [[Similarity.IvfIndex]] persistence
    * convention applied to [[bm25TopK]]'s internals): `postings`
    * (term, id, tf, dl) plus the scalar `stats` frame (n_docs, Σ dl).
    * Building the index IS the expensive half of every BM25 query —
    * tokenizing 100 TB of text — so a crawl that serves many query
    * batches builds once, [[Bm25Index.save]]s, and every later
    * [[Bm25Index.search]] reads narrow posting rows without ever
    * touching document text again.
    *
    * INCREMENTAL: BM25's sufficient statistics are all additive —
    * postings union, df re-counts from the union, N and Σ dl add — so
    * [[Bm25Index.append]] absorbs a batch at BATCH cost and is
    * spec-pinned EXACTLY equal to rebuilding on the union (the lmMerge
    * convention; no tolerance, unlike KnnGraph.insert).
    */
  final case class Bm25Index(postings: DataFrame, stats: DataFrame)

  object Bm25Index {
    def build(docs: DataFrame, idCol: String, textCol: String): Bm25Index =
      Bm25Index(
        // dl comes FROM the generator (r21): as a separate size(tokens)
        // projection the optimizer hoisted it ABOVE the generate and
        // re-tokenized the document once per POSTING row; the generator
        // already holds the total (dl = sum of tf), so every document
        // tokenizes exactly once for the postings branch
        docs.select(col(idCol).as("id"),
          graft.functions.Generators.termCountsWithDl(col(textCol))
            .as(Seq("term", "tf", "dl")))
          .select(col("term"), col("id"), col("tf"), col("dl")),
        docs.agg(count(lit(1)).as("n_docs"),
          sum(size(Dedup.tokens(col(textCol)))).as("sum_dl")))

    /** The [[bm25TopK]] pipeline from index frames: broadcast query-vocab
      * prune, partial-combining df agg broadcast back, DECIMAL
      * contributions, map-side-pruned rank window. Output:
      * (queryIdCol, rank, id, score).
      */
    def search(index: Bm25Index, queries: DataFrame,
               queryIdCol: String, queryTextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
      require(k >= 1, s"k must be >= 1, got $k")
      require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, 0 <= b <= 1; got k1=$k1 b=$b")
      require(!Set("rank", "id", "score").contains(queryIdCol),
        s"Bm25Index.search: queryIdCol '$queryIdCol' collides with a fixed " +
          "output column (rank, id, score) — rename it on the way in")
      val qterms = queries.select(col(queryIdCol).as("_qid"),
        explode(array_distinct(Dedup.tokens(col(queryTextCol)))).as("term"))
      val qvocab = broadcast(qterms.select(col("term")).distinct())
      val dfreq = index.postings.join(qvocab, Seq("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val wQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_qid")).orderBy(col("score_d").desc, col("id"))
      index.postings
        .join(qvocab, Seq("term"))
        .join(broadcast(dfreq), Seq("term"))
        .join(broadcast(qterms), Seq("term"))
        .crossJoin(broadcast(index.stats))
        // every factor below is IEEE double arithmetic over exact
        // integers, written with explicit parentheses so the DuckDB
        // oracle evaluates the same expression tree bit-for-bit; log10
        // is the one libm bridge, absorbed by the DECIMAL(18,6)
        // rounding (ql54 convention)
        .withColumn("idf", log10(lit(1.0) +
          ((col("n_docs").cast("double") - col("df").cast("double")) + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))))
        .withColumn("tfn",
          (col("tf").cast("double") * lit(k1 + 1.0)) /
            (col("tf").cast("double") + lit(k1) *
              (lit(1.0 - b) + (lit(b) * col("dl").cast("double")) /
                (col("sum_dl").cast("double") / col("n_docs").cast("double")))))
        .withColumn("contrib", (col("idf") * col("tfn")).cast("decimal(18,6)"))
        .groupBy(col("_qid"), col("id"))
        .agg(sum(col("contrib")).as("score_d"))
        .withColumn("rank", row_number().over(wQ))
        .filter(col("rank") <= k)
        .select(col("_qid").as(queryIdCol), col("rank"),
          col("id"), col("score_d").cast("double").as("score"))
    }

    /** Absorb a batch at batch cost: postings union, stats add. EXACT —
      * `search(append(build(A), B)) == search(build(A ∪ B))` row for row
      * (spec-pinned): df re-counts over the unioned postings and every
      * other statistic is additive. `batch` ids must be disjoint from
      * the indexed corpus (the build-side unique-id convention) — the
      * guard probes the BATCH's raw id column (never its text — probing
      * `add.postings` would re-tokenize the batch AND miss an empty-text
      * re-delivery) against the index's posting ids; a re-delivered doc
      * that was all-empty-text on the INDEX side has no posting to
      * collide with and only double-counts N (documented boundary — the
      * index stores no docless id list).
      */
    def append(index: Bm25Index, batch: DataFrame,
               idCol: String, textCol: String,
               checkDisjoint: Boolean = true,
               broadcastIdLimit: Long = 1000000L): Bm25Index = {
      val add = build(batch, idCol, textCol)
      if (checkDisjoint) {
        // membership probe shaped for a 100 TB index: broadcast the
        // batch's (dim-sized) id set and STREAM the index's column-pruned
        // posting ids through it — ONE narrow scan, zero index-side
        // Exchange. (The previous right-side-distinct form reshuffled the
        // entire index to answer a yes/no question.) Measured at 10× in
        // ScaleBench's bm25_append row. The broadcast is size-guarded
        // (`broadcastIdLimit`): a bulk backfill pushed through the append
        // API (a rebuild-scale "batch") must not collect a multi-GB id
        // set to the driver, so past the limit the probe falls back to
        // the shuffle semi-join — index-sized work for an index-sized
        // batch, and the sizing count itself is batch-cost (spec-pinned:
        // both probe shapes raise on a re-delivered id)
        val ids = batch.select(col(idCol).as("id")).distinct()
        val indexIds = index.postings.select(col("id"))
        val dup =
          (if (ids.limit(math.min(broadcastIdLimit + 1, Int.MaxValue.toLong).toInt)
              .count() <= broadcastIdLimit)
            indexIds.join(broadcast(ids), Seq("id"), "left_semi")
          else ids.join(indexIds, Seq("id"), "left_semi"))
            .limit(1).collect()
        require(dup.isEmpty,
          s"Bm25Index.append: batch re-delivers already-indexed id ${dup.headOption.map(_.get(0)).getOrElse("")} " +
            "— appending it would double-count df/N; dedup the batch first")
      }
      Bm25Index(
        index.postings.unionByName(add.postings),
        index.stats.unionByName(add.stats)
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("sum_dl")).as("sum_dl")))
    }

    /** The takedown half of [[append]] — retract documents at
      * REMOVED-SET cost (the [[Pipelines.removeCrawlBatch]] /
      * `lmSubtract` convention brought to the lexical index): postings
      * die by an id anti-join, N retreats by the removed-doc count and
      * Σ dl by the removed docs' summed lengths — BOTH recovered from
      * the index's own postings (one column-pruned semi-join scan; the
      * index is the source of truth, so the caller needs no text).
      * EXACT: `remove(build(A ∪ B), ids(B)) == build(A)` row for row
      * (spec-pinned — BM25's statistics are additive, so subtraction is
      * closed). Ids never indexed subtract nothing and are silently
      * ignored (idempotent replay, the removeCrawlBatch contract).
      *
      * BOUNDARY (documented): a doc indexed with EMPTY text has no
      * posting rows, so its N contribution cannot be recovered from
      * postings and survives removal — the same docless-id boundary
      * append's guard documents; real corpora gate empty docs out
      * before indexing.
      */
    def remove(index: Bm25Index, removeIds: DataFrame,
               broadcastIdLimit: Long = 1000000L): Bm25Index = {
      require(removeIds.columns.length == 1,
        s"Bm25Index.remove expects a single id column, got ${removeIds.columns.length} " +
          s"(${removeIds.columns.mkString(", ")}) — select the id column first")
      require(broadcastIdLimit >= 0,
        s"broadcastIdLimit must be >= 0, got $broadcastIdLimit")
      val ids = removeIds.toDF("id").select(col("id")).distinct()
      // takedown lists are dim-sized and broadcast; a rebuild-scale
      // "removal" falls back to the shuffle joins (the append guard's
      // size-guarded pattern — never collect a multi-GB id set). The
      // probe asks for limit+1 rows; clamp BEFORE adding one so a
      // Long.MaxValue limit can't overflow the probe negative
      val probe = (math.min(broadcastIdLimit, Int.MaxValue.toLong - 1) + 1).toInt
      val fits = ids.limit(probe).count() <= broadcastIdLimit
      val idSide = if (fits) broadcast(ids) else ids
      // sufficient statistics of the REMOVED docs, from the index itself:
      // dl repeats per posting row of a doc, so per-doc first(dl) then sum
      val removed = index.postings.join(idSide, Seq("id"), "left_semi")
        .groupBy(col("id")).agg(first(col("dl")).as("dl"))
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_gone"),
          coalesce(sum(col("dl")), lit(0L)).as("dl_gone"))
      Bm25Index(
        // the USING-key join fronts `id`; restore build's canonical
        // (term, id, tf, dl) order so save layouts never depend on
        // whether an index passed through a removal
        index.postings.join(idSide, Seq("id"), "left_anti")
          .select(col("term"), col("id"), col("tf"), col("dl")),
        index.stats.crossJoin(removed)
          .select((col("n_docs") - col("n_gone")).as("n_docs"),
            (col("sum_dl") - col("dl_gone")).as("sum_dl")))
    }

    /** Plain parquet layout: `path/postings` + `path/stats`. */
    def save(index: Bm25Index, path: String): Unit = {
      index.postings.write.mode("overwrite").parquet(s"$path/postings")
      index.stats.write.mode("overwrite").parquet(s"$path/stats")
    }

    def load(spark: org.apache.spark.sql.SparkSession, path: String): Bm25Index =
      Bm25Index(spark.read.parquet(s"$path/postings"),
        spark.read.parquet(s"$path/stats"))

    /** Bucketed + sorted on `term` through the catalog
      * ([[graft.sources.Bucketing]]): a loaded bucketed index gives the
      * per-search df aggregation a plan whose scan ALREADY satisfies the
      * term distribution — no Exchange (spec-asserted), the
      * [[Dedup.BandIndex.saveBucketed]] convention.
      */
    def saveBucketed(index: Bm25Index, table: String, path: String,
                     numBuckets: Int = 64): Unit = {
      graft.sources.Bucketing.writeBucketed(index.postings, table,
        s"$path/postings", Seq("term"), numBuckets, Seq("term"))
      index.stats.write.mode("overwrite").parquet(s"$path/stats")
    }

    /** Survives a fresh application: the catalog entry is re-registered
      * from the `_bucketspec` sidecar when absent
      * ([[graft.sources.Bucketing.readBucketedOrRegister]]), so the
      * nightly build-elsewhere/serve-here split works without a shared
      * metastore.
      */
    def loadBucketed(spark: org.apache.spark.sql.SparkSession,
                     table: String, path: String): Bm25Index =
      Bm25Index(graft.sources.Bucketing.readBucketedOrRegister(
          spark, table, s"$path/postings"),
        spark.read.parquet(s"$path/stats"))
  }

  /** PMI collocations — phrase mining (the word2vec-phrases /
    * tokenizer-vocabulary step: which adjacent word pairs co-occur far
    * more than chance). Per bigram (a, b) with `cnt_ab ≥ minCount`:
    *
    *   pmi = log10( (cnt_ab / T_bi) / ((cnt_a / T_uni) · (cnt_b / T_uni)) )
    *
    * with T_bi = total bigram positions, T_uni = total tokens, and
    * cnt_a/cnt_b unigram occurrence counts — all exact integers off two
    * generator scans, so the one libm bridge is the final log10
    * (DECIMAL(18,6)-rounded, the ql54 convention). Top-`topK` by
    * (pmi DESC — compared as the rounded DECIMAL, ties → gram ASC).
    *
    * Scale shape: bigram and unigram counts are map-side-combinable aggs
    * over scan-riding generators (the corpus never shuffles — only
    * vocabulary-sized count tables do); the minCount cut prunes the
    * bigram table BEFORE its two unigram joins; totals broadcast; the
    * tail is a bounded TakeOrdered.
    */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long = 5L, topK: Int = 100): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = Dedup.tokens(col(textCol))
    val bi = docs.select(explode(
      graft.functions.Ngrams.wordNgramsJoin(toks, 2)).as("gram"))
    val uni = docs.select(explode(toks).as("tok"))
    val biCnt = bi.groupBy(col("gram")).agg(count(lit(1)).as("cnt_ab"))
    val uniCnt = uni.groupBy(col("tok")).agg(count(lit(1)).as("cnt_tok"))
    val tBi = bi.agg(count(lit(1)).as("t_bi"))
    val tUni = uni.agg(count(lit(1)).as("t_uni"))
    biCnt.filter(col("cnt_ab") >= minCount)
      .withColumn("tok_a", substring_index(col("gram"), " ", 1))
      .withColumn("tok_b", substring_index(col("gram"), " ", -1))
      .join(uniCnt.select(col("tok").as("tok_a"), col("cnt_tok").as("cnt_a")), Seq("tok_a"))
      .join(uniCnt.select(col("tok").as("tok_b"), col("cnt_tok").as("cnt_b")), Seq("tok_b"))
      .crossJoin(broadcast(tBi))
      .crossJoin(broadcast(tUni))
      .withColumn("pmi", log10(
        (col("cnt_ab").cast("double") / col("t_bi").cast("double")) /
          ((col("cnt_a").cast("double") / col("t_uni").cast("double")) *
            (col("cnt_b").cast("double") / col("t_uni").cast("double"))))
        .cast("decimal(18,6)"))
      .orderBy(col("pmi").desc, col("gram"))
      .limit(topK)
      .select(col("gram"), col("cnt_ab"), col("cnt_a"), col("cnt_b"),
        col("pmi").cast("double").as("pmi"))
  }

  /** Contact-info signals — the PII pre-scrub pass of a training-data
    * pipeline. Counting and redaction use lookaround-free patterns so
    * RE2-based engines (the DuckDB oracle) match identically.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // explicit whitespace class: Java's \s includes \x0B, RE2's does not —
  // [^\s] would make engine and oracle disagree on text containing a
  // vertical tab between two URLs
  val UrlPattern = "https?://[^ \\t\\n\\x0B\\f\\r]+"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def urlCount(text: Column): Column = regexp_count(text, lit(UrlPattern))

  /** Redact URLs first (a URL may embed an `@` userinfo that the email
    * pattern would half-match), then emails.
    */
  def redactContacts(text: Column): Column =
    regexp_replace(regexp_replace(text, UrlPattern, "<URL>"), EmailPattern, "<EMAIL>")

  /** Dotted-quad IPv4 with exact octet ranges (0–255), word-bounded. \b
    * is the ASCII word boundary in BOTH Java regex and RE2, so engine and
    * oracle agree. IPv6 needs a real parser (':'-ambiguity with times and
    * ratios) — documented boundary, same as [[stripHtml]]'s.
    */
  val IpPattern =
    "\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b"

  /** NANP-shaped phone numbers: optional `+1` country code, then
    * 3-3-4 digits with `-`/`.`/space separators or a parenthesized area
    * code. Deliberately CONSERVATIVE — the loose published patterns
    * (any 7+ digit run) redact order ids and timestamps wholesale; a
    * corpus needing locale-specific formats supplies its own pattern to
    * [[redactPii]]. The leading `\b` sits on the digit alternative only
    * (`(` and `+` are non-word chars, a boundary there would require a
    * preceding word char and never match).
    */
  val PhonePattern =
    "(\\+1[-. ])?(\\([0-9]{3}\\)[ ]?|\\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\\b"

  def ipCount(text: Column): Column = regexp_count(text, lit(IpPattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhonePattern))

  /** Full PII redaction battery (the Dolma/CCNet pre-release scrub):
    * URLs → emails → IPv4 → phones, in that order (URLs can embed
    * emails/IPs; IPs must be consumed before the phone pattern sees
    * digit-dot runs). Each class gets its own sentinel token so
    * downstream token-count deltas attribute redactions per class. The
    * `redacted` field of [[piiScrub]] — one fused scan-riding expression,
    * no shuffle at any scale; its parity with the four-pass
    * `regexp_replace` chain is spec-pinned (`RepetitionSpec`).
    */
  def redactPii(text: Column,
      emailPattern: String = EmailPattern, ipPattern: String = IpPattern,
      phonePattern: String = PhonePattern): Column =
    piiScrub(text, emailPattern, ipPattern, phonePattern).getField("redacted")

  /** Fused PII battery: counts AND redaction in one traversal per class
    * ([[graft.functions.PiiScrub]] — the relational form pays seven
    * regex walks per row for the same four classes; bit-exact parity
    * with the staged columns is spec-pinned). Returns
    * STRUCT<n_emails, n_ips, n_phones, redacted>; `redacted` is
    * [[redactPii]] and each count is taken on the text with earlier
    * classes already substituted (the ql46 staging convention).
    */
  def piiScrub(text: Column,
      emailPattern: String = EmailPattern, ipPattern: String = IpPattern,
      phonePattern: String = PhonePattern): Column =
    graft.functions.PiiScrub(text, UrlPattern, emailPattern, ipPattern, phonePattern)

  /** SQL facade: `pii_scrub(text)` with the default pattern battery
    * (the patterns live here, not in `functions` — registration follows
    * them).
    */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pii_scrub", exprs => new graft.functions.PiiScrub(exprs.head,
        UrlPattern, EmailPattern, IpPattern, PhonePattern), "scala_udf")
    // composed from built-ins, so it registers as a SQL scalar function
    // (the expression-builder path mangles Column-API lambda variables);
    // the body interpolates SentencePattern so the two forms cannot drift
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION split_sentences(t STRING)
         |RETURNS ARRAY<STRING>
         |RETURN filter(transform(regexp_extract_all(t, '$SentencePattern', 0),
         |  s -> trim(s)), s -> s != '')""".stripMargin)
  }

  /** Control characters stripped by [[normalizeText]]: C0 controls plus
    * DEL, EXCEPT tab/newline/CR (document structure worth keeping until a
    * later layout-aware pass). Explicit hex ranges so the Java-regex
    * engine and the RE2-based DuckDB oracle read the identical class.
    */
  val ControlCharPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Text normalization battery — the standard first cleaning pass of a
    * training-data pipeline, in fixed order: (1) Unicode NFC canonical
    * composition ([[graft.functions.TextNorm.nfcNormalize]], native
    * codegen'd expression — decomposed accents otherwise defeat exact and
    * MinHash dedup because "é" != "e"+U+0301 byte-wise), (2) strip
    * C0/DEL control characters except tab/newline/CR, (3) collapse
    * horizontal-whitespace runs to one space, (4) trim spaces. Pure
    * column expressions: rides the scan, stays in one WholeStageCodegen
    * span, no shuffle at any scale.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.TextNorm.nfcNormalize(text), ControlCharPattern, ""),
      "[ \\t]+", " "))

  /** HTML/XML tag strip — the markup-removal step that runs before
    * [[normalizeText]] on crawled corpora. Tags become a single space
    * (not ""): `a<br>b` must tokenize as two words, and the following
    * normalization collapses any runs. The pattern is RE2-compatible (no
    * lookaround) so the DuckDB oracle strips identically; it deliberately
    * does NOT attempt entity decoding or script-content removal — that is
    * a parser's job, not a regex's (documented boundary).
    */
  def stripHtml(text: Column): Column =
    regexp_replace(text, "<[^>]*>", " ")

  /** Rule-based sentence segmentation: maximal runs ending in terminal
    * punctuation (`.!?`, runs kept — "wait..." is one sentence), plus a
    * trailing fragment with no terminal punctuation; segments trimmed,
    * empties dropped. The granularity between [[c4CleanLines]]' lines and
    * [[graft.llm.Dedup.dropDuplicateParagraphs]]' paragraphs — the unit
    * sentence-level filters and dedup build on.
    *
    * RE2-compatible BY DESIGN (alternation of character-class runs, no
    * lookaround — the [[stripHtml]] discipline) so the Q-L59 oracle
    * replays the split identically. Deliberately NOT abbreviation-aware
    * ("Dr. Smith" splits) — that needs a language model, not a regex;
    * documented boundary shared with every published rule-based splitter.
    * Scan-riding Column expression: no shuffle at any scale.
    */
  val SentencePattern = "[^.!?]+[.!?]+|[^.!?]+"
  def sentences(text: Column): Column =
    filter(transform(regexp_extract_all(text, lit(SentencePattern), lit(0)),
      s => trim(s)), s => s =!= "")

  /** Gopher-style quality rules (Rae et al., the published web-corpus
    * filter battery) as a struct of per-rule booleans — callers compose
    * their own gate (`ok_length AND ok_alpha ...`) or keep the flags as
    * audit columns. EVERY ratio threshold is evaluated in INTEGER
    * arithmetic (count·10 < n instead of count/n < 0.1): bit-exact in any
    * engine, no float division to diverge in the last ulp — which is what
    * lets the full flag set hash-match the DuckDB oracle (Q-L37).
    * Pure Column expressions riding the scan; no shuffle.
    *
    * Rules: token count in [50, 100000]; mean word length in [3, 10];
    * symbol-to-word ratio ('#' + '...' with the Unicode ellipsis '…'
    * translated to '...' first) < 0.1; ≤90% of lines bullet-started;
    * ≤30% of lines ellipsis-ended ('...' or '…'); ≥80% of tokens contain
    * an alphabetic character.
    */
  def gopherQualityFlags(text: Column): Column =
    graft.functions.TextStats.gopherFlags(text)

  /** Gopher REPETITION battery (the published filter's other half —
    * [[gopherQualityFlags]] covers the quality rules): per-document
    * duplicate-line / duplicate-paragraph fractions (count and character
    * forms) plus word-n-gram repetition — top-n-gram character fraction
    * for small n, duplicated-n-gram character fraction for large n
    * (reference analog: the pipeline quality stages; rules per Rae et al.
    * 2021 Table A1 as implemented by the public DataTrove/Dolma filters).
    *
    * Two shapes, each where it wins. Lines/paragraphs explode off the
    * scan and aggregate by (doc, md5(item)) with map-side combine — the
    * shuffle moves 16-byte digests, never the paragraph text. The n-gram
    * stats stay INSIDE each document's row: per n, (hash, len) pairs are
    * sorted and folded in one linear pass — O(G log G) on the scan, no
    * shuffle at all, and never the O(L²) exists-earlier array walk (a
    * pathological 10^6-token document costs a sort, not a quadratic
    * scan). Every output is an exact integer (counts and character
    * sums): the DuckDB oracle replays them bit-for-bit (Q-L45).
    *
    * Definitions (matching the public implementations): duplicates of an
    * item = occurrences beyond the first, Σ(c−1); duplicate chars =
    * Σ(c−1)·len(item); top-n-gram chars = max over grams of
    * len(gram)·count — count-1 grams included, ties resolved by the max
    * itself (deterministic, where Counter.most_common is
    * insertion-ordered); duplicated-n-gram chars = Σ over grams with
    * c ≥ 2 of len(gram)·c (overlap-unaware, the Dolma simplification —
    * ExactSubstr-style overlap accounting lives in
    * [[Dedup.removeRepeatedSpans]]). Char-fraction denominators are
    * len(text), per the published code. Lines split on '\n', paragraphs
    * on blank lines ('\n\n+'), both trimmed with empties dropped.
    */
  def gopherRepetitionStats(docs: DataFrame, idCol: String, textCol: String,
      topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): DataFrame = {
    require((topNs ++ dupNs).forall(_ >= 2), "n-gram sizes must be >= 2")
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))

    // md5 group keys here too: a duplicated PARAGRAPH can be most of a
    // document — the shuffle moves 16-byte digests plus one length, never
    // the paragraph text itself
    def dupStats(arr: Column, pfx: String): DataFrame =
      base.select(col("doc_id"), explode(arr).as("item"))
        .groupBy(col("doc_id"), md5(col("item")).as("k"))
        .agg(count(lit(1)).as("c"), max(length(col("item"))).cast("long").as("len"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as(s"n_$pfx"),
          sum(col("c") - 1L).as(s"dup_$pfx"),
          sum((col("c") - 1L) * col("len")).as(s"dup_${pfx}_chars"))

    // native line/paragraph arrays (TextStatsSpec pins both against the
    // HOF split+trim+filter forms) — the explode/agg shape is unchanged
    val lineArr = graft.functions.TextStats.linesNonEmpty(col("text"))
    val paraArr = graft.functions.TextStats.parasNonEmpty(col("text"))
    val lines = dupStats(lineArr, "lines")
    val paras = dupStats(paraArr, "paras")

    // The n-gram stats never leave the document's own row: one fused
    // native expression ([[graft.functions.GopherGramStats]], real
    // codegen) computes every n's numerators in primitive arrays riding
    // the scan — ZERO shuffle. Every gram of a doc is born in that doc's
    // row, so a corpus-wide hash-agg (measured 4× slower at sf0.1, and
    // an HOF sort-and-fold form 9×) would only exchange rows to compute
    // groups that never span documents.
    val gstats = graft.functions.GramStats.gopherGramStats(
      Dedup.tokens(col("text")), topNs, dupNs)
    val gramCols =
      topNs.zipWithIndex.map { case (n, ix) =>
        element_at(col("_gs"), ix + 1).as(s"top${n}gram_chars") } ++
        dupNs.zipWithIndex.map { case (n, ix) =>
          element_at(col("_gs"), topNs.size + ix + 1).as(s"dup${n}gram_chars") }
    val withGrams = base
      .select(col("doc_id"), length(col("text")).cast("long").as("text_chars"),
        gstats.as("_gs"))
      .select(Seq(col("doc_id"), col("text_chars")) ++ gramCols: _*)

    val statCols = Seq("n_lines", "dup_lines", "dup_lines_chars",
      "n_paras", "dup_paras", "dup_paras_chars")
    statCols.foldLeft(
      withGrams.join(lines, Seq("doc_id"), "left")
        .join(paras, Seq("doc_id"), "left")) { (d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L)))
    }
  }

  /** Boolean flags over [[gopherRepetitionStats]] output at the paper's
    * Table A1 thresholds (dup-line 0.30, dup-para 0.30, both char forms
    * 0.20; top-{2,3,4}-gram 0.20/0.18/0.16; dup-{5..10}-gram 0.15 down to
    * 0.10) — ALL as exact integer arithmetic (value·b ≤ denom·a for a
    * threshold a/b), so no float fraction is ever materialized and the
    * flag battery is bit-identical across engines. Empty documents pass
    * every rule (0 ≤ 0).
    */
  def gopherRepetitionFlags(stats: DataFrame,
      topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): DataFrame = {
    // threshold fractions a/b from the paper, exact
    val topT = Map(2 -> ((1L, 5L)), 3 -> ((9L, 50L)), 4 -> ((4L, 25L)))
    val dupT = Map(5 -> ((3L, 20L)), 6 -> ((7L, 50L)), 7 -> ((13L, 100L)),
      8 -> ((3L, 25L)), 9 -> ((11L, 100L)), 10 -> ((1L, 10L)))
    require(topNs.forall(topT.contains) && dupNs.forall(dupT.contains),
      "no published threshold for the requested n")
    val t = col("text_chars")
    val withBase = stats
      .withColumn("ok_dup_lines", col("dup_lines") * 10L <= col("n_lines") * 3L)
      .withColumn("ok_dup_paras", col("dup_paras") * 10L <= col("n_paras") * 3L)
      .withColumn("ok_dup_line_chars", col("dup_lines_chars") * 5L <= t)
      .withColumn("ok_dup_para_chars", col("dup_paras_chars") * 5L <= t)
    val withTop = topNs.foldLeft(withBase) { (d, n) =>
      val (a, b) = topT(n)
      d.withColumn(s"ok_top${n}gram", col(s"top${n}gram_chars") * b <= t * a)
    }
    dupNs.foldLeft(withTop) { (d, n) =>
      val (a, b) = dupT(n)
      d.withColumn(s"ok_dup${n}gram", col(s"dup${n}gram_chars") * b <= t * a)
    }
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2): keep only lines
    * that end in a terminal punctuation mark (`.` `!` `?` `"`), carry at
    * least `minWords` whitespace words, and do not mention "javascript"
    * (case-insensitive); survivors re-join with '\n'. Pure scan-riding
    * column expression — the line battery runs inside the row, nothing
    * shuffles. The paper's three-sentence-span dedup is corpus-wide and
    * lives in [[Dedup.dropDuplicateParagraphs]] /
    * [[Dedup.removeRepeatedSpans]]; its bad-words page filter is a
    * caller-supplied list (same broadcast-dim shape as
    * [[filterByDomainBlocklist]]).
    */
  def c4CleanLines(text: Column, minWords: Int = 5): Column =
    graft.functions.TextStats.c4CleanLines(text, minWords)

  /** C4 page-level flags over the [[c4CleanLines]] output: at least
    * `minSentences` sentences survive cleaning (terminal-punctuation
    * marks as the sentence proxy — `translate`-based, bit-exact), no
    * curly brace anywhere in the RAW page (the code filter), and no
    * "lorem ipsum" (case-insensitive). Booleans, not a verdict — the
    * caller composes its keep rule, as with [[gopherQualityFlags]].
    */
  def c4DocFlags(text: Column, minSentences: Int = 3): Column = {
    val cleaned = c4CleanLines(text)
    val sentMarks = length(cleaned) - length(translate(cleaned, ".!?", ""))
    struct(
      (sentMarks >= minSentences).as("ok_sentences"),
      (!text.contains("{")).as("ok_no_braces"),
      (!lower(text).contains("lorem ipsum")).as("ok_no_lorem"))
  }

  /** URL canonicalization — the crawl-pipeline identity step: two raw
    * URLs that differ only in case of scheme/host, `www.` prefix, default
    * port, fragment, tracking parameters (`utm_*`, `fbclid`, `gclid`) or
    * a trailing slash must collapse to one canonical form BEFORE URL
    * dedup / per-domain caps. Pure RE2-compatible regex composition (no
    * lookaround) so the DuckDB oracle canonicalizes identically
    * (Q-L36). Strings without a `scheme://` prefix pass through trimmed
    * (canonicalizing a non-URL would corrupt it). Entity decoding,
    * punycode and percent-normalization are a parser's job — the same
    * documented boundary as [[stripHtml]].
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    // default ports are SCHEME-conditional (http://h:443 is a distinct
    // resource from http://h); "(www\.)+" strips repeated prefixes so the
    // operator stays idempotent on "www.www." hosts
    val noPort = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    // trailing dot is the legal FQDN-absolute form of the SAME host
    // ("example.com." ≡ "example.com") — and, unstripped, it lets a URL
    // walk straight past a domain blocklist (urlDomain's last-two-labels
    // anchor can't match a host ending in '.')
    val host = regexp_replace(regexp_replace(noPort, "\\.+$", ""), "^(www\\.)+", "")
    val rest0 = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)", 1)
    // tracking params out, then tidy the separators they leave behind
    val rest1 = regexp_replace(rest0, "([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&]*", "$1")
    val rest2 = regexp_replace(regexp_replace(rest1, "\\?&", "?"), "&&+", "&")
    val rest3 = regexp_replace(rest2, "[?&]+$", "")
    // drop ALL trailing slashes (idempotent: '/a//' → '/a' in one pass,
    // not '/a/' then '/a' across two), preserving a lone '/'
    val stripped = regexp_replace(rest3, "/+$", "")
    val rest = when(stripped === "" && rest3.startsWith("/"), lit("/"))
      .otherwise(stripped)
    when(scheme === "", trim(url))
      .otherwise(concat(scheme, lit("://"), host, rest))
  }

  /** Lowercased host of a URL — scheme-default port (:80 for http, :443
    * for https) and repeated "www." prefixes stripped, '' for non-URLs.
    * The host rules are IDENTICAL to [[canonicalizeUrl]]'s (same regexes),
    * so grouping by host agrees with grouping by canonical URL prefix.
    */
  def urlHost(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val noPort = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    // same trailing-dot rule as canonicalizeUrl (blocklist-bypass guard)
    regexp_replace(regexp_replace(noPort, "\\.+$", ""), "^(www\\.)+", "")
  }

  /** Registrable domain by the LAST-TWO-LABELS heuristic ('' when the
    * host has fewer than two labels or the value is not a URL). Documented
    * boundary: multi-label public suffixes (co.uk, com.au) aggregate
    * WRONG here (every co.uk site collapses into one "domain") — use
    * [[registrableDomain]] (the PSL matcher) when that matters; this
    * column remains the list-free approximation for quick passes.
    */
  def urlDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Public-Suffix-List registrable domain of a URL ('' for non-URLs,
    * public-suffix-only hosts, and IPv4 literals) — the correct
    * aggregation key for per-site crawl stats where last-two-labels
    * breaks (co.uk, com.au, *.ck wildcards, !city.kobe.jp exceptions).
    * Host extraction is [[urlHost]]'s (same canonicalization family);
    * matching is [[graft.functions.Psl]]'s native expression — the rule
    * dim rides the task binary, the column stays in the scan's codegen
    * stage, no join or shuffle. Default rules are the embedded subset;
    * pass a [[graft.functions.PslRules]] built from the full published
    * list at fleet scale.
    */
  def registrableDomain(url: Column,
                        rules: graft.functions.PslRules = graft.functions.Psl.Default): Column =
    graft.functions.Psl.registrableDomain(urlHost(url), rules)

  /** [[domainStats]] keyed by the PSL [[registrableDomain]] — identical
    * one-pass bounded-key aggregation shape, correct on multi-label
    * public suffixes.
    */
  def domainStatsPsl(docs: DataFrame, urlCol: String, textCol: String,
                     rules: graft.functions.PslRules = graft.functions.Psl.Default): DataFrame =
    docs.groupBy(registrableDomain(col(urlCol), rules).as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountWs(col(textCol)).cast("long")).as("n_tokens"))

  /** Per-domain corpus stats — the "how much of my crawl is each site"
    * pass that precedes per-domain caps ([[Sampling.perGroup]]) and
    * blocklist decisions: one hash aggregation riding the scan, grouped
    * by [[urlDomain]] (bounded key space: the web's domain count, not its
    * page count). Emits (domain, n_docs, n_tokens).
    */
  def domainStats(docs: DataFrame, urlCol: String, textCol: String): DataFrame =
    docs.groupBy(urlDomain(col(urlCol)).as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountWs(col(textCol)).cast("long")).as("n_tokens"))

  /** Domain blocklist filter (the UT1/adult-list shape of crawl
    * pipelines): LEFT ANTI join of the docs' [[urlDomain]] against a
    * USER-SUPPLIED single-column `domain` DataFrame. Join shape, not an
    * `isin` literal: published blocklists run to millions of rows — a
    * classic broadcast dim at 100 TB, and no million-entry literal in the
    * plan. Keeps every input column.
    */
  def filterByDomainBlocklist(docs: DataFrame, urlCol: String,
                              blocklist: DataFrame): DataFrame = {
    val b = broadcast(blocklist.select(col("domain").as("_bl_domain")))
    docs.withColumn("_domain", urlDomain(col(urlCol)))
      .join(b, col("_domain") === col("_bl_domain"), "left_anti")
      .drop("_domain")
  }

  /** Space-joined word n-gram array over a token array (empty when the
    * document is shorter than n, or the array is NULL) — the feature
    * generator fasttext-class filters pair with their unigram bag.
    * Fused expression ([[graft.functions.Ngrams.wordNgramsJoin]] — the
    * interpreted `transform`/`element_at` HOF it replaces profiled at
    * ~80% of Q-L41, see the expression's scaladoc); the coalesce keeps
    * the HOF's NULL-input → empty-array convention.
    */
  private def wordNgrams(toks: Column, n: Int): Column =
    coalesce(graft.functions.Ngrams.wordNgramsJoin(toks, n),
      array().cast("array<string>"))

  /** Linear bag-of-words text score — the PLUMBING of fasttext-class
    * quality classifiers (the CCNet/LLaMA-pipeline filter): score =
    * bias + Σ weight(token), with the weight table USER-SUPPLIED as a
    * DataFrame (load a published model's linearized weights however you
    * like — `weightsFromTsv` reads the obvious `token\tweight` format).
    * Join shape, not a map literal: tokens explode off the scan and
    * broadcast-join the weights dim — at 100 TB a 100k-word table is a
    * classic broadcast dim, and no 100k-entry literal bloats the plan.
    *
    * Weights are summed as DECIMAL(18,6): decimal addition is exact and
    * associative, so the distributed partial-sum ORDER cannot change the
    * result — which is what lets a float-scoring operator hash-match the
    * DuckDB oracle bit for bit (Q-L38). The emitted score is DOUBLE (the
    * money-column convention).
    */
  def linearTextScore(docs: DataFrame, idCol: String, textCol: String,
                      weights: DataFrame, bias: Double = 0.0,
                      ngramMax: Int = 1): DataFrame = {
    // ngramMax = 2 adds word bigrams to the feature bag (fasttext-class
    // filters ship bigram features); the weight table simply carries
    // space-joined n-gram rows alongside its unigram rows — same
    // broadcast dim, same exact-DECIMAL summation
    require(ngramMax >= 1 && ngramMax <= 4, s"ngramMax must be in [1,4], got $ngramMax")
    val w = broadcast(weights.select(col("token").as("_w_tok"),
      col("weight").cast("decimal(18,6)").as("_w")))
    val toks = Dedup.tokens(col(textCol))
    val feats = (2 to ngramMax).foldLeft(toks)((acc, n) =>
      concat(acc, wordNgrams(toks, n)))
    // Deliberately occurrence-level (explode → probe → partial-sum), NOT a
    // (doc, feature, n) bag pre-aggregation before the dim join. Measured
    // at sf0.1/local[32] (2026-08-13, quiet machine, min of 2×2 runs): the
    // bag shape is 10–15% SLOWER (ql38 0.54→0.73 s, ql41 3.46→3.86 s,
    // ql43 3.41→3.59 s) — its groupBy(doc, feature) adds a real Exchange
    // where this shape has none (broadcast probe and per-doc partial sum
    // both live in the scan's codegen stage; the only shuffle carries
    // ~one partial row per doc). At 100 TB that bag exchange would be a
    // full shuffle of the tokenized corpus, so the occurrence shape also
    // wins asymptotically, not just at bench SF.
    docs.select(col(idCol), explode_outer(feats).as("_tok"))
      .join(w, col("_tok") === col("_w_tok"), "left")
      .groupBy(col(idCol))
      .agg((coalesce(sum(col("_w")), lit(0).cast("decimal(18,6)"))
        + lit(bias).cast("decimal(18,6)")).cast("double").as("score"))
  }

  /** `token\tweight` loader for [[linearTextScore]] (the format published
    * linear text classifiers serialize to).
    */
  def weightsFromTsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("sep", "\t").schema("token STRING, weight DOUBLE").csv(path)
      .filter($"token".isNotNull && $"weight".isNotNull)
  }

  /** Content fingerprint (md5 of the raw text). */
  def contentFingerprint(text: Column): Column = md5(text.cast("binary"))

  /** Rolling hash over the token stream (order-sensitive, unlike the
    * token-set signature): left fold chaining xxhash64(acc, token) — a
    * cheap document-identity fingerprint robust to whitespace
    * normalization. Chained hashing instead of polynomial multiply keeps
    * ANSI mode happy (no Long overflow) with the same mixing quality.
    */
  def rollingTokenHash(text: Column): Column =
    aggregate(Dedup.tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken): hash every k-gram,
    * keep each sliding window's minimum — a position-robust document
    * sketch whose overlap estimates shared content even under edits.
    * Pure higher-order functions: k-gram hashes via chained xxhash64 over
    * word k-grams, per-window minima via transform+slice, distinct to the
    * final sketch set.
    */
  def winnowingFingerprints(text: Column, k: Int = 5, window: Int = 4): Column =
    graft.functions.Winnow.fingerprints(Dedup.tokens(text), k, window)

  /** Bigram language-model scoring with STUPID BACKOFF — the CCNet-style
    * perplexity filter (Wenzek et al., "CCNet: Extracting High Quality
    * Monolingual Datasets from Web Crawl Data", LREC 2020; backoff from
    * Brants et al., "Large Language Models in Machine Translation",
    * EMNLP 2007). Per token position i with context c = token(i-1)
    * (BOS marker `<s>` at i = 1):
    *
    *   logp(i) = lm(c, t)                 when the bigram is in the table
    *           = backoff + lm('', t)      bigram miss, unigram hit
    *           = backoff + oov            both miss
    *
    * The LM is USER-SUPPLIED as a (context, token, logp) DataFrame —
    * unigram rows carry context = '' (the flat projection of an ARPA
    * 2-gram model; `lmFromTsv` loads the obvious TSV). Join shape, not a
    * map literal: positions explode off the scan and broadcast-join the
    * model dim twice (bigram on (context, token), unigram on token) — a
    * published 5M-entry bigram table is a classic broadcast dim at
    * 100 TB, and the per-position rows never carry the text.
    *
    * Log-probs are summed as DECIMAL(18,6) (exact, associative — the
    * [[linearTextScore]] discipline), so the distributed partial-sum
    * order cannot change the result and the operator hash-matches the
    * DuckDB oracle bit for bit (Q-L43). Output: (id, n_tokens,
    * sum_logp DOUBLE, perplexity DOUBLE) where perplexity =
    * 10^(-sum_logp / n_tokens) — the bucket key CCNet thresholds on
    * (oracle rows hash the exact columns; perplexity is the float
    * convenience).
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
              lm: DataFrame, backoff: Double = -0.4,
              oov: Double = -6.0,
              groupCols: Seq[String] = Nil): DataFrame = {
    // `groupCols` selects the per-group model (CCNet: one LM per
    // language): both broadcast dims carry the group key and every probe
    // matches it, so a document only ever scores against its own
    // language's model — same join shape, wider key.
    val big = broadcast(lm.filter(col("context") =!= "")
      .select(groupCols.map(c => col(c).as(s"_b_$c")) ++ Seq(
        col("context").as("_b_ctx"), col("token").as("_b_tok"),
        col("logp").cast("decimal(18,6)").as("_b_lp")): _*))
    val uni = broadcast(lm.filter(col("context") === "")
      .select(groupCols.map(c => col(c).as(s"_u_$c")) ++ Seq(
        col("token").as("_u_tok"),
        col("logp").cast("decimal(18,6)").as("_u_lp")): _*))
    val toks = Dedup.tokens(col(textCol))
    // (context, token) per position, BOS-marked — built inside the scan
    // stage so only narrow pair rows reach the joins. The pair at
    // position i is exactly the i-th word BIGRAM of ("<s>" +: tokens),
    // so the fused n-gram expression generates all positions in one pass
    // (the interpreted per-position element_at HOF this replaces was the
    // dominant cost — see wordNgrams); tokens cannot contain spaces
    // (they are the output of a space split), so splitting the gram at
    // its first space recovers (ctx, tok) unambiguously. Token-less docs
    // fall out naturally: ["<s>"] has no bigram; a NULL text stays one
    // null pair row through explode_outer, as before.
    val pairGrams = graft.functions.Ngrams.wordNgramsJoin(
      concat(array(lit("<s>")), toks), 2)
    val zero = lit(0).cast("decimal(18,6)")
    // Occurrence-level probes, not a (doc, ctx, tok, n) bag pre-agg — same
    // measured decision as [[linearTextScore]] (the bag's extra Exchange
    // costs more than the probe savings at every scale; see the comment
    // there for the sf0.1 numbers).
    val bigCond = (col("_ctx") === col("_b_ctx") && col("_tok") === col("_b_tok")) +:
      groupCols.map(c => col(c) === col(s"_b_$c"))
    val uniCond = (col("_tok") === col("_u_tok")) +:
      groupCols.map(c => col(c) === col(s"_u_$c"))
    docs.select(col(idCol) +: groupCols.map(col) :+ explode_outer(pairGrams).as("_g"): _*)
      .select(col(idCol) +: groupCols.map(col) ++: Seq(
        substring_index(col("_g"), " ", 1).as("_ctx"),
        substring_index(col("_g"), " ", -1).as("_tok")): _*)
      .join(big, bigCond.reduce(_ && _), "left")
      .join(uni, uniCond.reduce(_ && _), "left")
      .withColumn("_lp", coalesce(col("_b_lp"),
        lit(backoff).cast("decimal(18,6)")
          + coalesce(col("_u_lp"), lit(oov).cast("decimal(18,6)"))))
      .groupBy(col(idCol) +: groupCols.map(col): _*)
      .agg(
        count(col("_tok")).as("n_tokens"),
        coalesce(sum(when(col("_tok").isNotNull, col("_lp"))), zero)
          .cast("double").as("sum_logp"))
      .withColumn("perplexity",
        when(col("n_tokens") > 0, pow(lit(10.0), -col("sum_logp") / col("n_tokens"))))
  }

  /** [[lmScore]] against TWO models in ONE corpus pass — the
    * likelihood-ratio probe importance-based data selection needs
    * (DSIR-shape, see [[Pipelines.dsirSelect]]): per document,
    * `log_w = Σ logp_target(pos) − Σ logp_raw(pos)` with each position
    * scored by the stupid-backoff rule under its own model. Running
    * [[lmScore]] twice would scan the corpus twice AND pay an (id)-keyed
    * join of two corpus-sized score frames; here the positions explode
    * once and probe FOUR broadcast dims (target/raw × bigram/unigram),
    * so the only corpus-sized flow is the one narrow position stream
    * into the per-doc aggregation. Both sums are DECIMAL(18,6)-exact and
    * the difference is computed in DECIMAL (partition order can never
    * move a weight). Output: (id, n_tokens, logp_target, logp_raw,
    * log_w) — all three scores DOUBLE casts of exact decimals.
    */
  def lmScoreRatio(docs: DataFrame, idCol: String, textCol: String,
                   lmTarget: DataFrame, lmRaw: DataFrame,
                   backoff: Double = -0.4, oov: Double = -6.0): DataFrame = {
    def dims(lm: DataFrame, tag: String) = (
      broadcast(lm.filter(col("context") =!= "").select(
        col("context").as(s"_b_ctx_$tag"), col("token").as(s"_b_tok_$tag"),
        col("logp").cast("decimal(18,6)").as(s"_b_lp_$tag"))),
      broadcast(lm.filter(col("context") === "").select(
        col("token").as(s"_u_tok_$tag"),
        col("logp").cast("decimal(18,6)").as(s"_u_lp_$tag"))))
    val (bigT, uniT) = dims(lmTarget, "t")
    val (bigR, uniR) = dims(lmRaw, "r")
    def lp(tag: String) = coalesce(col(s"_b_lp_$tag"),
      lit(backoff).cast("decimal(18,6)")
        + coalesce(col(s"_u_lp_$tag"), lit(oov).cast("decimal(18,6)")))
    val pairGrams = graft.functions.Ngrams.wordNgramsJoin(
      concat(array(lit("<s>")), Dedup.tokens(col(textCol))), 2)
    val zero = lit(0).cast("decimal(18,6)")
    docs.select(col(idCol), explode_outer(pairGrams).as("_g"))
      .select(col(idCol),
        substring_index(col("_g"), " ", 1).as("_ctx"),
        substring_index(col("_g"), " ", -1).as("_tok"))
      .join(bigT, col("_ctx") === col("_b_ctx_t") && col("_tok") === col("_b_tok_t"), "left")
      .join(uniT, col("_tok") === col("_u_tok_t"), "left")
      .join(bigR, col("_ctx") === col("_b_ctx_r") && col("_tok") === col("_b_tok_r"), "left")
      .join(uniR, col("_tok") === col("_u_tok_r"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("_tok")).as("n_tokens"),
        coalesce(sum(when(col("_tok").isNotNull, lp("t"))), zero).as("_sum_t"),
        coalesce(sum(when(col("_tok").isNotNull, lp("r"))), zero).as("_sum_r"))
      .select(col(idCol), col("n_tokens"),
        col("_sum_t").cast("double").as("logp_target"),
        col("_sum_r").cast("double").as("logp_raw"),
        (col("_sum_t") - col("_sum_r")).cast("double").as("log_w"))
  }

  /** Bigram LM ESTIMATION — the training half of the CCNet perplexity
    * filter (the model [[lmScore]] consumes, so the published
    * train-on-clean / score-the-crawl loop closes inside the engine
    * instead of requiring an externally-shipped ARPA file). Maximum
    * likelihood over the SAME position pairs lmScore scores: per position
    * i the pair is (context = token(i-1) with BOS `<s>` at i = 1,
    * token = token(i)), generated by the fused bigram expression inside
    * the scan stage.
    *
    * Output rows (the [[lmFromTsv]] / [[lmScore]] contract plus exact
    * evidence columns):
    *   - bigram rows: (context, token, cnt = #(c,t) positions,
    *     ctx_total = #positions with that context) — MLE denominator is
    *     the context's position count, so sum(cnt) per context equals
    *     ctx_total at minCount = 1 (spec-pinned);
    *   - unigram rows: (context = '', token, cnt = occurrences,
    *     ctx_total = corpus token count) — the backoff distribution.
    *   - `logp` = log10(cnt / ctx_total), the DOUBLE convenience column
    *     lmScore joins on (oracle rows hash the exact integer evidence;
    *     float log is engine-specific in the last ulp).
    *
    * `minCount` prunes rare n-grams BEFORE emit — vocabulary pruning is
    * what keeps a crawl-scale model broadcastable (the denominators stay
    * un-pruned MLE totals, the standard count-cutoff convention).
    *
    * Scale shape: pair generation rides the scan's codegen stage into
    * ONE map-side-combinable bigram-count agg — the only corpus-sized
    * input anywhere; context totals, unigram counts and the corpus total
    * are vocabulary-sized re-aggregations of that table (a position
    * belongs to exactly one pair, so bigram counts are a sufficient
    * statistic), its Exchange reused across branches. The
    * bigram⋈context-total join shuffles only compact vocab tables and
    * the corpus token total is a broadcast (the [[distinctiveTerms]]
    * convention).
    */
  def lmEstimate(docs: DataFrame, textCol: String,
                 minCount: Long = 1L,
                 groupCols: Seq[String] = Nil): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    def g = groupCols.map(col)
    val toks = Dedup.tokens(col(textCol))
    val pairGrams = graft.functions.Ngrams.wordNgramsJoin(
      concat(array(lit("<s>")), toks), 2)
    // tokens are space-split output, so the gram's first space splits
    // (ctx, tok) unambiguously — the lmScore decoding, verbatim.
    // `groupCols` (e.g. the language column) partitions the corpus into
    // independent models — the CCNet one-LM-per-language convention —
    // by simply widening every agg/join key; the Exchanges stay
    // vocabulary-sized per group.
    val pairs = docs.select(g :+ explode(pairGrams).as("_g"): _*)
      .select(g ++ Seq(substring_index(col("_g"), " ", 1).as("_ctx"),
        substring_index(col("_g"), " ", -1).as("_tok")): _*)
    // ONE corpus pass: every position appears in exactly one (ctx, tok)
    // pair, so the bigram-count table is a sufficient statistic — context
    // totals, unigram counts and the corpus total are all vocabulary-sized
    // re-aggregations of `big` (its Exchange is reused across the
    // branches), never a second scan of the corpus.
    val big = pairs.groupBy(g ++ Seq(col("_ctx"), col("_tok")): _*)
      .agg(count(lit(1)).as("cnt"))
    val ctxTot = big.groupBy(g :+ col("_ctx"): _*)
      .agg(sum(col("cnt")).as("ctx_total"))
    val bigrams = big.join(ctxTot, groupCols :+ "_ctx")
      .select(g ++ Seq(col("_ctx").as("context"), col("_tok").as("token"),
        col("cnt"), col("ctx_total")): _*)
    val uni = big.groupBy(g :+ col("_tok"): _*).agg(sum(col("cnt")).as("cnt"))
    // corpus token total: a 1-row broadcast ungrouped, a per-group
    // broadcast dim otherwise
    val unigrams = (if (groupCols.isEmpty)
      uni.crossJoin(broadcast(big.agg(sum(col("cnt")).as("ctx_total"))))
    else
      uni.join(broadcast(big.groupBy(g: _*).agg(sum(col("cnt")).as("ctx_total"))),
        groupCols))
      .select(g ++ Seq(lit("").as("context"), col("_tok").as("token"),
        col("cnt"), col("ctx_total")): _*)
    bigrams.unionByName(unigrams)
      .filter(col("cnt") >= minCount)
      .withColumn("logp", log10(col("cnt").cast("double") / col("ctx_total")))
  }

  /** INCREMENTAL model maintenance — the BandIndex/KnnGraph.insert
    * lifecycle convention applied to LMs: MLE counts are additive, so a
    * model estimated on an arriving batch merges into an existing model
    * without re-reading the old corpus. Row counts add per
    * (group, context, token); denominators add per (group, context) — a
    * context present in only one side keeps its total. Exact contract
    * (spec-pinned): `lmMerge(lmEstimate(A), lmEstimate(B)) ==
    * lmEstimate(A ∪ B)` at minCount = 1; merging PRUNED models is
    * approximate (pruned tail counts are unrecoverable — the standard
    * trade, documented not hidden).
    *
    * Scale: both inputs are vocabulary-sized model tables — every agg
    * and join here is model-sized, never corpus-sized.
    */
  def lmMerge(a: DataFrame, b: DataFrame,
              groupCols: Seq[String] = Nil): DataFrame = {
    val keyCols = groupCols ++ Seq("context", "token")
    def slim(m: DataFrame) = m.select(keyCols.map(col) :+ col("cnt"): _*)
    val cnt = slim(a).unionByName(slim(b))
      .groupBy(keyCols.map(col): _*).agg(sum(col("cnt")).as("cnt"))
    def totals(m: DataFrame) = m
      .select((groupCols :+ "context").map(col) :+ col("ctx_total"): _*)
      .distinct()
    val tot = totals(a).unionByName(totals(b))
      .groupBy((groupCols :+ "context").map(col): _*)
      .agg(sum(col("ctx_total")).as("ctx_total"))
    cnt.join(tot, groupCols :+ "context")
      .select(keyCols.map(col) ++ Seq(col("cnt"), col("ctx_total")): _*)
      .withColumn("logp", log10(col("cnt").cast("double") / col("ctx_total")))
  }

  /** INCREMENTAL model maintenance, the delete half (takedown sweeps /
    * right-to-be-forgotten): MLE counts are additive over documents, so
    * the model of a REMOVED sub-corpus subtracts exactly. Exact contract
    * (spec-pinned, the [[lmMerge]] mirror):
    * `lmSubtract(lmEstimate(A ∪ B), lmEstimate(B)) == lmEstimate(A)` for
    * disjoint doc sets at minCount = 1 — rows whose count reaches zero
    * drop, `ctx_total` is recomputed as the per-(group, context) sum of
    * the surviving counts (exactly what lmEstimate computes at
    * minCount = 1; subtracting a PRUNED model is approximate the same
    * way merging one is — documented, not hidden). A subtrahend count
    * exceeding the minuend's raises loudly (`raise_error` riding the
    * one model-sized agg): it means `b` was never merged into `a`, and
    * silently clamping would desynchronize every downstream score.
    * DETECTION IS PARTIAL: counts are the only evidence available, so
    * only OVER-subtraction is catchable — a wrong `b` whose per-key
    * counts all happen to fit under the minuend's subtracts cleanly and
    * yields a silently corrupted model. Full membership verification is
    * impossible from count tables; keep provenance outside the model.
    *
    * Scale: both inputs are vocabulary-sized model tables — every agg
    * and join here is model-sized, never corpus-sized.
    */
  def lmSubtract(a: DataFrame, b: DataFrame,
                 groupCols: Seq[String] = Nil): DataFrame = {
    val keyCols = groupCols ++ Seq("context", "token")
    def slim(m: DataFrame, sign: Int) =
      m.select(keyCols.map(col) :+ (col("cnt") * lit(sign)).as("cnt"): _*)
    val cnt = slim(a, 1).unionByName(slim(b, -1))
      .groupBy(keyCols.map(col): _*).agg(sum(col("cnt")).as("cnt"))
      .withColumn("cnt",
        when(col("cnt") < 0, raise_error(concat(
          lit("lmSubtract: negative count for ("),
          concat_ws(", ", keyCols.map(col): _*),
          lit(") — the subtrahend model was never merged into the minuend"))))
          .otherwise(col("cnt")))
      .filter(col("cnt") > 0)
    val tot = cnt.groupBy((groupCols :+ "context").map(col): _*)
      .agg(sum(col("cnt")).as("ctx_total"))
    cnt.join(tot, groupCols :+ "context")
      .select(keyCols.map(col) ++ Seq(col("cnt"), col("ctx_total")): _*)
      .withColumn("logp", log10(col("cnt").cast("double") / col("ctx_total")))
  }

  /** Persist a model in the [[lmFromTsv]] TSV format (context\ttoken\t
    * logp; distributed write — the [[graft.sources.CsvSink]] path with a
    * tab separator). `lmFromTsv(lmSaveTsv'd path)` scores identically
    * (spec-pinned): doubles round-trip through their shortest repr, and
    * the loader's `na.fill` restores the unigram rows' empty context.
    */
  def lmSaveTsv(lm: DataFrame, path: String): Unit =
    lm.select(col("context"), col("token"), col("logp"))
      .write.mode("overwrite").option("sep", "\t").csv(path)

  /** `context\ttoken\tlogp` loader for [[lmScore]] (unigram rows carry an
    * empty context field — the flat TSV projection of an ARPA 2-gram
    * model's 1-gram and 2-gram sections).
    */
  def lmFromTsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("sep", "\t")
      .schema("context STRING, token STRING, logp DOUBLE").csv(path)
      .filter($"token".isNotNull && $"logp".isNotNull)
      .na.fill("", Seq("context"))
  }

  /** Stage bundle: attach all standard text-analysis columns. */
  def analyze(name: String, textCol: String): Stage =
    Stage(StageId(name)) { df =>
      df.withColumn("n_tokens_ws", tokenCountWs(col(textCol)))
        .withColumn("n_tokens_bpe", tokenCountBpe(col(textCol)))
        .withColumn("pred_lang", langId(col(textCol)))
        .withColumn("quality", qualityScore(col(textCol)))
        .withColumn("fingerprint", contentFingerprint(col(textCol)))
    }
}
