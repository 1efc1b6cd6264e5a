package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Named end-to-end compositions of the library's measured pieces — the
  * same pattern as [[Dedup.semanticDedup]] (IVF → clusters → keep-best),
  * one level up: the whole published pre-training corpus recipe in one
  * call. Every stage is individually oracle-checked or spec-pinned
  * elsewhere; these entry points pin that they COMPOSE (`PipelinesSpec`)
  * and give a user the one-call baseline a reference user expects.
  */
object Pipelines {

  /** The baseline pre-training corpus pass, in the published order
    * (C4 → Gopher quality + repetition → PII scrub → MinHash fuzzy
    * dedup keep-best → CCNet per-language percentile buckets):
    *
    *  1. `normalizeText` (NFC, control strip, whitespace collapse).
    *  2. Page gates on the RAW normalized page: ALL of
    *     `gopherQualityFlags`, `gopherRepetitionFlags` and `c4DocFlags`
    *     must hold (a brace or "lorem ipsum" on a line the line rules
    *     would drop still condemns the page). The batteries ride the
    *     scan (the repetition n-gram half is the fused native
    *     expression); one narrow broadcast join brings the
    *     line/paragraph stats back. Survivors then optionally pass the
    *     C4 line rules (`c4CleanLines` — off for corpora that are not
    *     sentence-shaped).
    *  3. `redactPii` on survivors (URLs → emails → IPv4 → phones).
    *  4. Fuzzy dedup: `minHashLshCandidates` at `minJaccard`, clusters
    *     resolved by pointer jumping, one survivor per cluster by
    *     highest `qualityScore` (ties → min id).
    *  5. `percentileBuckets` per `langCol` on the quality score
    *     (head = best third); `dropTail = true` applies the CCNet cut.
    *
    * Emits (id, lang, redacted text, n_tokens, score, bucket) — feed
    * the survivors to [[Sampling.packTokenSequences]] /
    * [[TextAnalysis.tokenIdsBpe]] for the id-shard emission step.
    *
    * Scale posture is inherited, not re-invented: every stage here is
    * the measured operator (scan-riding batteries, banded LSH — never
    * all-pairs, O(log n) pointer jumping, and the percentile stage's
    * per-language sort boundary is documented on
    * [[Sampling.percentileBuckets]] with the approx form as the
    * full-crawl alternative).
    *
    * `hashedTokenIds` switches the MinHash stage onto md5-derived 60-bit
    * token ids ([[Dedup.tokenIds64]]) instead of raw token strings —
    * identical dedup semantics (a 2^-60 collision only ever MERGES two
    * tokens) on the closed-form hash basis that makes the whole pipeline
    * replayable by an external SQL oracle (the Q-L6 technique, applied
    * here so Q-L50 hash-checks end to end), and cheaper at scale: each
    * of the 64 slot hashes drops from multi-block string hashing to one
    * 8-byte block.
    */
  /** The gate prefix shared by [[pretrainCorpus]] and the incremental
    * [[appendCrawlBatch]] — steps 1–3 of the recipe: normalize → page
    * gates (persisted cut) → repetition semi-join → optional C4 line
    * clean → PII scrub → quality score (persisted cut). Returns
    * (staged rows, the persisted handles) so the caller owns the cache
    * lifecycle.
    */
  private def stageDocs(docs: DataFrame, idCol: String, textCol: String,
                        useC4Lines: Boolean): (DataFrame, Seq[DataFrame]) = {
    // 1. normalize. The C4 LINE rules apply to survivors AFTER the page
    // gates — the gates must see the RAW page (a brace or "lorem ipsum"
    // on a line the line rules would drop still condemns the page, per
    // the paper and c4DocFlags' contract; ok_sentences already counts
    // sentences post-clean internally).
    val normed = docs.withColumn(textCol, TextAnalysis.normalizeText(col(textCol)))

    // 2. page gates — flag columns ride the scan; repetition stats join
    // back narrow
    val q = TextAnalysis.gopherQualityFlags(col(textCol))
    val c4 = TextAnalysis.c4DocFlags(col(textCol))
    // PERSISTED: the gates close the pipeline's expensive prefix (NFC +
    // two flag batteries over the FULL corpus) and shrink it; everything
    // downstream re-reads the survivors several times — the repetition
    // branch + its semi-join, both sides of the banded signature
    // self-join, the cluster joins, the bucket window. Without the cut
    // each re-derivation re-ran the whole prefix: measured 66 s → 6 s at
    // sf0.1. MEMORY_AND_DISK so a large survivor set spills, not OOMs;
    // released deterministically by pretrainCorpus when `materialize` is
    // on.
    val qualityOk = normed
      .withColumn("_q", q).withColumn("_c4", c4)
      .filter(col("_q.ok_length") && col("_q.ok_word_len") && col("_q.ok_symbols") &&
        col("_q.ok_bullets") && col("_q.ok_ellipsis") && col("_q.ok_alpha") &&
        col("_c4.ok_sentences") && col("_c4.ok_no_braces") && col("_c4.ok_no_lorem"))
      .drop("_q", "_c4")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repFlags = TextAnalysis.gopherRepetitionFlags(
      TextAnalysis.gopherRepetitionStats(qualityOk, idCol, textCol))
    val repOkIds = repFlags.filter(
      repFlags.columns.filter(_.startsWith("ok_")).map(col).reduce(_ && _))
      .select(col("doc_id").as(idCol))
    val gated = qualityOk.join(repOkIds, Seq(idCol), "left_semi")
    val lined =
      if (useC4Lines) gated.withColumn(textCol, TextAnalysis.c4CleanLines(col(textCol)))
      else gated

    // 3. PII scrub + score over the cached survivors. The STAGED rows are
    // the second persisted boundary (optimization round 22 — guide §5
    // "cache when reused AND recompute is expensive"): downstream reads
    // them repeatedly — the LSH banding side, keep-best's THREE survivor
    // joins, the bucket window, and (incrementally) the lm/nb trainers —
    // and each uncached read re-ran the repetition semi-join + the C4
    // line battery + four redactPii regex passes + the quality score on
    // top of the gate cache (the tools/Probe-measured majority of the
    // pipeline's final pass). Survivor-sized like the gate cut,
    // MEMORY_AND_DISK so a large survivor set spills instead of OOMing.
    val scrubbed = lined
      .withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
      .withColumn("score", TextAnalysis.qualityScore(col(textCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (scrubbed, Seq(scrubbed, qualityOk))
  }

  /** Step 5 of the recipe (shared with [[emitPretrainCorpus]]):
    * per-language thirds on the quality score + token counts.
    */
  private def bucketStage(deduped: DataFrame, idCol: String, textCol: String,
                          langCol: String, dropTail: Boolean): DataFrame = {
    // percentileBuckets is ascending (CCNet's convention: LOW perplexity
    // = head); qualityScore is high = good, so rank its negation to keep
    // head = best third
    val bucketed = Sampling.percentileBuckets(
      deduped.withColumn("_badness", -col("score")), langCol, "_badness", idCol)
      .drop("_badness")
      .withColumn("n_tokens", TextAnalysis.tokenCountWs(col(textCol)).cast("long"))
    if (dropTail) bucketed.filter(col("bucket") =!= "tail") else bucketed
  }

  def pretrainCorpus(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", langCol: String = "lang",
                     useC4Lines: Boolean = true,
                     minJaccard: Double = 0.7,
                     dropTail: Boolean = false,
                     materialize: Boolean = true,
                     hashedTokenIds: Boolean = false,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val (scrubbed, gateCaches) = stageDocs(docs, idCol, textCol, useC4Lines)

    // 4. fuzzy dedup, keep the best-scored copy (maxBucketSize df-cuts
    // saturated signature buckets — mass-duplicated crawl boilerplate —
    // the Dedup.capBandBuckets contract; default uncapped = exact)
    val pairs = Dedup.minHashLshCandidates(scrubbed, idCol, textCol,
      minJaccard = minJaccard, hashedTokenIds = hashedTokenIds,
      maxBucketSize = maxBucketSize)
    val deduped = Dedup.dedupKeepBest(scrubbed, idCol, pairs, "score")

    // 5. per-language buckets
    val result = bucketStage(deduped, idCol, textCol, langCol, dropTail)
    // `materialize` (default): compute the survivors eagerly
    // (localCheckpoint) and RELEASE the hidden intermediate cache —
    // disk-resident persisted blocks are NOT LRU-evicted, so a lazy
    // return would leak one survivor-set copy per call for the life of
    // the app. Pass materialize = false to keep the pipeline lazy and
    // own the `qualityOk` cache lifecycle yourself (the 100 TB calling
    // convention: write the result to parquet, then clear the cache).
    if (materialize) {
      val out = result.localCheckpoint(true)
      gateCaches.foreach(_.unpersist(blocking = false))
      out
    } else result
  }

  /** Parameters pinned per incremental corpus state — signatures, pair
    * thresholds and token bases from different parameter sets never
    * compare (the [[Dedup.BandIndex]] contract), so they travel WITH the
    * state instead of being re-passed per call.
    */
  final case class CrawlParams(idCol: String = "doc_id", textCol: String = "text",
                               langCol: String = "lang", useC4Lines: Boolean = true,
                               minJaccard: Double = 0.7,
                               hashedTokenIds: Boolean = false,
                               numHashes: Int = 64, bands: Int = 8,
                               maxBucketSize: Int = Int.MaxValue)

  /** The incremental pre-training corpus state — everything a crawl
    * pipeline must carry between batches so that NO batch ever re-reads
    * old corpus text:
    *
    *  - `staged`: gated + scrubbed + scored rows so far (the
    *    [[pretrainCorpus]] step-1..3 output) — the only corpus-sized
    *    frame, and it is only ever UNIONED, never recomputed;
    *  - `index`: [[Dedup.BandIndex]] rows of `staged` (~0.5 KB/doc) —
    *    what arriving batches dedup against;
    *  - `pairs`: the accumulated near-dup candidate pairs (narrow
    *    (doc_a, doc_b) rows) — the dedup cluster evidence;
    *  - `langModel`: per-language bigram LM of `staged`
    *    ([[TextAnalysis.lmEstimate]] at minCount = 1, advanced by
    *    [[TextAnalysis.lmMerge]] — model-sized work per batch);
    *  - `nbModel`: language NB classifier of `staged`
    *    ([[Classify.nbTrain]] on `langCol`, advanced by
    *    [[Classify.nbMerge]]).
    *
    * At fleet scale each frame is written to parquet between batches —
    * [[CrawlState.save]] / [[CrawlState.load]] own that round trip
    * (the index via [[Dedup.BandIndex.saveBucketed]] when `indexTable`
    * is given, so per-batch band joins are index-Exchange-free), with
    * the write-then-release cache discipline built in; the case class
    * is the in-session view of that layout. The embedding-side sibling
    * ([[Similarity.KnnGraph.insert]]) composes the same way when the
    * caller maintains a vector index alongside — it is not part of this
    * text-only state.
    *
    * CACHE LIFECYCLE: each staging pass persists its gate boundary (the
    * pretrainCorpus `materialize = false` convention — the caller owns
    * the cache). The handles accumulate in `gateCaches`; call
    * [[CrawlState.release]] once the state frames are written to
    * parquet (or no longer needed) — disk-resident persisted blocks are
    * NOT LRU-evicted, so dropping the state without releasing leaks one
    * survivor-set copy per staging pass for the life of the app.
    */
  final case class CrawlState(params: CrawlParams, staged: DataFrame,
                              index: DataFrame, pairs: DataFrame,
                              langModel: DataFrame, nbModel: DataFrame,
                              gateCaches: Seq[DataFrame] = Nil) {
    /** Unpersist every gate cache this state (and its ancestors)
      * created. Call AFTER materializing/writing whatever you need —
      * the state's lazy frames recompute from scratch afterwards.
      */
    def release(): Unit = gateCaches.foreach(_.unpersist(blocking = false))

    /** Persist every frame to parquet under `path` (the nightly-crawl
      * layout the class doc describes) and RELEASE the gate caches —
      * writes materialize everything the caches fed, so save owns the
      * write-then-release discipline the prose used to delegate to the
      * caller. `indexTable`: when given, the index is written bucketed +
      * sorted on (band, bh) via [[Dedup.BandIndex.saveBucketed]] so every
      * later append's band join reads it Exchange-free; the table name
      * travels in the meta frame, so [[CrawlState.load]] needs only the
      * path. Round-trip contract (spec-pinned in `PipelinesSpec`):
      * `load(save(state))` then `appendCrawlBatch` / `emitPretrainCorpus`
      * equals the in-memory chain row-for-row.
      */
    def save(path: String, indexTable: Option[String] = None): Unit = {
      // CUT LINEAGE FIRST (eager localCheckpoint via [[checkpoint]]):
      // the nightly loop this API exists for loads from `path`, appends,
      // and saves BACK to `path` — but a frame whose lazy lineage still
      // READS `path/staged` cannot mode(overwrite) the same path (Spark
      // refuses: "Cannot overwrite a path that is also being read
      // from"). After the cut every frame reads cluster-resident blocks,
      // so same-path saves work; checkpoint() also owns the gate-cache
      // release, and the checkpoint blocks are context-cleaned once the
      // cut state goes unreachable at return. Spec-pinned: the full
      // load → append → save-to-the-SAME-path → load loop round-trips.
      val cut = checkpoint()
      val spark = cut.staged.sparkSession
      cut.staged.write.mode("overwrite").parquet(s"$path/staged")
      indexTable match {
        case Some(tbl) => Dedup.BandIndex.saveBucketed(cut.index, tbl, s"$path/index")
        case None      => cut.index.write.mode("overwrite").parquet(s"$path/index")
      }
      cut.pairs.write.mode("overwrite").parquet(s"$path/pairs")
      cut.langModel.write.mode("overwrite").parquet(s"$path/lang_model")
      cut.nbModel.write.mode("overwrite").parquet(s"$path/nb_model")
      import spark.implicits._
      Seq((params.idCol, params.textCol, params.langCol, params.useC4Lines,
        params.minJaccard, params.hashedTokenIds, params.numHashes,
        params.bands, params.maxBucketSize, indexTable.orNull))
        .toDF("id_col", "text_col", "lang_col", "use_c4_lines", "min_jaccard",
          "hashed_token_ids", "num_hashes", "bands", "max_bucket_size",
          "index_table")
        .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    }

    /** The in-session sibling of [[save]]: eagerly compute every frame
      * (localCheckpoint — cluster-resident blocks, not durable parquet)
      * and release the gate caches, cutting both the lineage chains and
      * the `gateCaches` growth a long-running append session accrues.
      *
      * CADENCE: [[appendCrawlBatch]] already cuts the model frames
      * eagerly (the exponential merge-chain hazard — see its doc), so
      * what accrues between checkpoints is the LINEAR growth of the
      * staged/index/pairs chains (one batch staging chain per append,
      * the index referenced by both the union and the next pair join)
      * plus one pinned gate cache per append. A modest cadence (the
      * spec pins every 3 over a 12-append session) keeps analysis cost
      * and cache count flat. Production crawls that [[save]] between
      * batches get the cut for free — depth never exceeds 1.
      */
    def checkpoint(): CrawlState = {
      val out = copy(
        staged = staged.localCheckpoint(true),
        index = index.localCheckpoint(true),
        pairs = pairs.localCheckpoint(true),
        langModel = langModel.localCheckpoint(true),
        nbModel = nbModel.localCheckpoint(true),
        gateCaches = Nil)
      release()
      out
    }
  }

  object CrawlState {
    /** Reassemble a [[CrawlState]] from a [[CrawlState.save]] layout:
      * params come from the meta frame, the index reads bucketed (via
      * the catalog table recorded at save time) or plain, and
      * `gateCaches` starts empty — parquet frames have nothing pinned.
      */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): CrawlState = {
      val meta = spark.read.parquet(s"$path/meta").head()
      val params = CrawlParams(
        idCol = meta.getAs[String]("id_col"),
        textCol = meta.getAs[String]("text_col"),
        langCol = meta.getAs[String]("lang_col"),
        useC4Lines = meta.getAs[Boolean]("use_c4_lines"),
        minJaccard = meta.getAs[Double]("min_jaccard"),
        hashedTokenIds = meta.getAs[Boolean]("hashed_token_ids"),
        numHashes = meta.getAs[Int]("num_hashes"),
        bands = meta.getAs[Int]("bands"),
        // states saved before round 18 lack the column — uncapped is
        // the exact-semantics default they were built with
        maxBucketSize =
          if (meta.schema.fieldNames.contains("max_bucket_size"))
            meta.getAs[Int]("max_bucket_size")
          else Int.MaxValue)
      // path-aware loadBucketed: a fresh application's in-memory catalog
      // has no `index_table` entry — re-register from the _bucketspec
      // sidecar so the nightly load → append → save loop works across
      // app restarts, not just same-session (ADVICE r15)
      val index = Option(meta.getAs[String]("index_table")) match {
        case Some(tbl) => Dedup.BandIndex.loadBucketed(spark, tbl, s"$path/index")
        case None      => spark.read.parquet(s"$path/index")
      }
      CrawlState(params, spark.read.parquet(s"$path/staged"), index,
        spark.read.parquet(s"$path/pairs"),
        spark.read.parquet(s"$path/lang_model"),
        spark.read.parquet(s"$path/nb_model"))
    }
  }

  /** Build the initial [[CrawlState]] from a first corpus — the same
    * staging prefix as [[pretrainCorpus]], with the pair set derived
    * from the index it will keep (so `pairs` is definitionally the
    * [[Dedup.minHashLshCandidates]] set of the staged corpus).
    */
  def initCrawlState(docs: DataFrame,
                     params: CrawlParams = CrawlParams()): CrawlState = {
    import params._
    val (staged, gateCaches) = stageDocs(docs, idCol, textCol, useC4Lines)
    val index = Dedup.BandIndex.build(staged, idCol, textCol,
      numHashes, bands, hashedTokenIds)
    val pairs = Dedup.minHashLshCandidatesFromIndex(index, numHashes, minJaccard,
        maxBucketSize, bands)
      .select(col("doc_a"), col("doc_b"))
    CrawlState(params, staged, index, pairs,
      TextAnalysis.lmEstimate(staged.select(col(langCol), col(textCol)),
        textCol, minCount = 1L, groupCols = Seq(langCol)),
      Classify.nbTrain(staged, langCol, textCol),
      gateCaches = gateCaches)
  }

  /** Advance the corpus state by one crawl batch at BATCH cost — the
    * incremental lifecycle entry (VERDICT r11–r13 carried ask). Work per
    * call: the staging gates run over the BATCH only; the batch is
    * signed and banded ([[Dedup.BandIndex.build]]) and its new pairs
    * come from ONE band join against the narrow index
    * ([[Dedup.minHashLshCandidatesAgainst]] — cross + within-batch;
    * old text is never re-read, old signatures never recomputed); the
    * models advance by [[TextAnalysis.lmMerge]] / [[Classify.nbMerge]]
    * at model-sized cost. Old state frames are referenced, not
    * recomputed.
    *
    * MODEL FRAMES ARE EAGERLY CUT (localCheckpoint) per append, and the
    * corpus-sized frames stay lazy. The asymmetry is structural, not
    * stylistic: the merges reference the prior model 2–3× (counts,
    * doc dims, totals), so a lazy merge chain's optimizer tree grows
    * ~3^appends — by append ~5 the ANALYZER is the bottleneck (measured:
    * minutes of catalyst time, then OOM, on 1-row toy batches). Cutting
    * the model each append costs exactly the model-sized job the
    * contract already budgets and keeps every later append flat. The
    * staged/index/pairs chains grow only linearly per append and are
    * bounded by the caller's [[CrawlState.save]]/[[CrawlState.checkpoint]]
    * cadence.
    *
    * EXACT convergence contract (spec-pinned in `PipelinesSpec`):
    *
    * `emitPretrainCorpus(appendCrawlBatch(initCrawlState(A), B))
    *    == pretrainCorpus(A ∪ B)`           (ids disjoint, same params)
    *
    * and `langModel == lmEstimate(staged(A ∪ B))`, `nbModel ==
    * nbTrain(staged(A ∪ B))` — each by the already-pinned union
    * contracts of its increment primitive (BandIndex union,
    * lmMerge/nbMerge additivity).
    */
  /** `assumeDisjointIds = true` (default) keeps the corpus-sized frames
    * fully lazy (the model cut above is the only eager work) and
    * trusts the documented precondition that batch ids never repeat
    * state ids; pass `false` to pay ONE eager id-narrow intersect check
    * that raises on overlap — a crawl re-delivering an existing doc_id
    * would otherwise make the convergence contract silently diverge
    * (both copies survive keep-best; the self-pair is suppressed by the
    * `a.id < b.id` predicates).
    */
  def appendCrawlBatch(state: CrawlState, batch: DataFrame,
                       assumeDisjointIds: Boolean = true): CrawlState = {
    import state.params._
    val (stagedBatch, batchGateCaches) = stageDocs(batch, idCol, textCol, useC4Lines)
    // signed and banded exactly ONCE: the same banded frame is the pair
    // join's new side AND the index increment
    val newIdx = Dedup.BandIndex.build(stagedBatch, idCol, textCol,
      numHashes, bands, hashedTokenIds)
    if (!assumeDisjointIds) {
      // Row.get + String.valueOf, not getLong: idCol's type is the
      // caller's (CrawlParams.idCol is configurable) — the validation
      // path must report the overlap, not throw its own ClassCastException
      val dups = state.index.select(col("id"))
        .intersect(newIdx.select(col("id"))).limit(5)
        .collect().map(r => String.valueOf(r.get(0)))
      require(dups.isEmpty,
        s"appendCrawlBatch: batch re-delivers state ids ${dups.mkString(", ")}" +
          " — the convergence contract needs disjoint ids (dedup or re-key the batch)")
    }
    val newPairs = Dedup.minHashLshCandidatesAgainstIndex(newIdx, state.index,
      numHashes, minJaccard, withinNew = true, maxBucketSize = maxBucketSize)
      .select(col("doc_a"), col("doc_b"))
    CrawlState(state.params,
      staged = state.staged.unionByName(stagedBatch),
      index = state.index.unionByName(newIdx),
      pairs = state.pairs.unionByName(newPairs),
      // eager model cut (see the class doc): the merge references its
      // left side 2-3x, so a lazy chain grows ~3^appends — the cut keeps
      // every later append flat at exactly the model-sized job the
      // contract budgets (and warms gateCache for the staged union)
      langModel = TextAnalysis.lmMerge(state.langModel,
        TextAnalysis.lmEstimate(stagedBatch.select(col(langCol), col(textCol)),
          textCol, minCount = 1L, groupCols = Seq(langCol)),
        groupCols = Seq(langCol)).localCheckpoint(true),
      nbModel = Classify.nbMerge(state.nbModel,
        Classify.nbTrain(stagedBatch, langCol, textCol)).localCheckpoint(true),
      gateCaches = state.gateCaches ++ batchGateCaches)
  }

  /** Retract documents from the corpus state at REMOVED-SET cost — the
    * lifecycle's delete half (takedowns / right-to-be-forgotten sweeps,
    * the other real fleet requirement beside [[appendCrawlBatch]]).
    * Work per call: staged/index narrow by one id anti-join each, pairs
    * by two (either endpoint removed kills the pair — its dedup evidence
    * is gone with the doc); the models retreat by
    * [[TextAnalysis.lmSubtract]] / [[Classify.nbSubtract]] — counts are
    * pure sums over documents, so subtraction is EXACT, at model-sized
    * cost plus one semi-join to re-read only the removed rows' text.
    *
    * EXACT convergence contract (spec-pinned in `PipelinesSpec`, the
    * [[appendCrawlBatch]] convention):
    *
    * `removeCrawlBatch(state(A ∪ B), ids(B)) == initCrawlState(A)`
    *
    * frame for frame — staging gates are per-doc (staged/index rows of A
    * are untouched by B's presence), banding is a pure pairwise function
    * (a surviving pair collides iff it collided without B), and the
    * subtraction contracts close the models. Ids absent from the state
    * (never crawled, or already gated out) subtract nothing — the sweep
    * can replay its takedown list idempotently.
    */
  def removeCrawlBatch(state: CrawlState, removeIds: DataFrame): CrawlState = {
    import state.params._
    val ids = removeIds.select(col(idCol)).distinct()
    // only the REMOVED rows' text is re-read — the model subtrahends
    val removedStaged = state.staged.join(ids, Seq(idCol), "left_semi")
    CrawlState(state.params,
      staged = state.staged.join(ids, Seq(idCol), "left_anti"),
      index = state.index.join(ids.withColumnRenamed(idCol, "id"), Seq("id"), "left_anti"),
      pairs = state.pairs
        .join(ids.select(col(idCol).as("doc_a")), Seq("doc_a"), "left_anti")
        .join(ids.select(col(idCol).as("doc_b")), Seq("doc_b"), "left_anti"),
      // same eager model cut as appendCrawlBatch — the subtractions
      // reference their left side 2-3x, the 3^calls lazy-chain hazard
      langModel = TextAnalysis.lmSubtract(state.langModel,
        TextAnalysis.lmEstimate(removedStaged.select(col(langCol), col(textCol)),
          textCol, minCount = 1L, groupCols = Seq(langCol)),
        groupCols = Seq(langCol)).localCheckpoint(true),
      nbModel = Classify.nbSubtract(state.nbModel,
        Classify.nbTrain(removedStaged, langCol, textCol)).localCheckpoint(true),
      gateCaches = state.gateCaches)
  }

  /** The [[pretrainCorpus]] result view of a [[CrawlState]]: keep-best
    * dedup over the accumulated pair evidence + per-language buckets.
    * Survivor-narrow work (cluster joins on ids, the bucket window on
    * (id, lang, score) rows) — corpus TEXT is only touched to emit the
    * surviving rows themselves.
    */
  def emitPretrainCorpus(state: CrawlState, dropTail: Boolean = false): DataFrame = {
    import state.params._
    val deduped = Dedup.dedupKeepBest(state.staged, idCol, state.pairs, "score")
    bucketStage(deduped, idCol, textCol, langCol, dropTail)
  }

  /** The CCNet language-model filter, end to end (Wenzek et al., LREC
    * 2020): train one bigram LM PER LANGUAGE on a clean reference corpus
    * ([[TextAnalysis.lmEstimate]] grouped by `langCol` — the paper's
    * per-language Wikipedia models), score every document against its
    * own language's model ([[TextAnalysis.lmScore]], stupid backoff),
    * and split each language into head/middle/tail perplexity thirds
    * ([[Sampling.percentileBuckets]] — head = lowest perplexity, the
    * paper's keep set). `dropTail` applies the cut.
    *
    * The ranking score is mean negative log-prob (`-sum_logp/n_tokens` —
    * perplexity's log, monotone-identical ordering without the pow);
    * token-less documents score 0 by convention and rank with the
    * nulls-last discipline documented on percentileBuckets.
    *
    * Scale posture is inherited: vocabulary-sized model Exchanges
    * (lmEstimate), the model as a broadcast dim probed by scan-exploded
    * position pairs (lmScore — text never shuffles), and the bucket
    * stage's per-language sort boundary documented on percentileBuckets
    * with the approx form as the full-crawl alternative. Every stage is
    * oracle-checked alone; the composition itself is driver-replayable
    * end to end (Q-L57) because all three stages are closed-form.
    */
  def ccnetPerplexityBuckets(docs: DataFrame, reference: DataFrame,
                             idCol: String = "doc_id", textCol: String = "text",
                             langCol: String = "lang", minCount: Long = 1L,
                             backoff: Double = -0.4, oov: Double = -6.0,
                             dropTail: Boolean = false,
                             approxCuts: Boolean = false): DataFrame = {
    val model = TextAnalysis.lmEstimate(
      reference.select(col(langCol), col(textCol)), textCol, minCount,
      groupCols = Seq(langCol))
    val scored = TextAnalysis.lmScore(docs, idCol, textCol, model, backoff, oov,
      groupCols = Seq(langCol))
      .withColumn("score",
        when(col("n_tokens") > 0, -col("sum_logp") / col("n_tokens"))
          .otherwise(lit(0.0)))
    // `approxCuts` is the full-crawl path: per-language approx-percentile
    // cut VALUES as a broadcast dim — no per-language sort Exchange (the
    // boundary documented on Sampling.percentileBuckets); CCNet itself
    // cuts by value, so this is the paper's own semantics. The exact rank
    // form stays the oracle-checkable default.
    val bucketed =
      if (approxCuts)
        Sampling.percentileBucketsApprox(scored, langCol, "score")
          .select(col(idCol), col(langCol), col("n_tokens"), col("score"),
            col("bucket"))
      else
        Sampling.percentileBuckets(scored, langCol, "score", idCol)
          .select(col(idCol), col(langCol), col("n_tokens"), col("score"),
            col("rank_in_group"), col("n_group"), col("bucket"))
    if (dropTail) bucketed.filter(col("bucket") =!= "tail") else bucketed
  }

  /** Importance-resampled data selection — the DSIR shape (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every raw document by how much more likely a
    * TARGET-distribution model finds it than a RAW-distribution model,
    * then sample without replacement by Gumbel-top-k. Here the two
    * feature models are the engine's bigram LMs (the paper's hashed
    * n-gram multinomials approximate exactly this bigram likelihood
    * ratio; [[TextAnalysis.lmEstimate]]'s minCount pruning is the
    * broadcast-size bound that hashing buys there), so the whole loop is
    * the CCNet machinery pointed at selection instead of filtering:
    *
    *   log w(x) = logp_target(x) − logp_raw(x)     (one-pass
    *              [[TextAnalysis.lmScoreRatio]], DECIMAL-exact)
    *   key(x)   = log w(x) + g(x),  top-n by (key, id)
    *
    * GUMBEL-TOP-K, EXACTLY, FROM THE HASH DRAW: the noise is
    * `g = −log10(−log10(u))` with `u = (pmod(xxhash64(id), 10^6) + 0.5)
    * / 10^6` — the engine's reproducible-uniform convention
    * ([[Sampling.sampleByRates]]). Since −log10(−log10 u) =
    * (G + ln ln 10) / ln 10 for G = −ln(−ln u) (a TRUE standard Gumbel
    * draw when u is uniform), and log w here is log BASE 10 (= ln w /
    * ln 10), the key is an affine map `(ln w + G + c) / ln 10` of the
    * paper's ln-scale Gumbel key — top-n is IDENTICAL. Ranking compares
    * the DECIMAL(18,6)-rounded key (exact, engine-independent), ties →
    * ascending id.
    *
    * Scale: the models are vocabulary-sized broadcast dims; scoring is
    * one corpus scan into narrow position probes ([[TextAnalysis
    * .lmScoreRatio]]); the hash draw rides the aggregated (id, log_w)
    * rows. `limit(n)` plans as a map-side-bounded TakeOrdered — fine up
    * to driver-merge of n × partitions rows; for fleet-scale budgets
    * select by THRESHOLD instead: feed `key` to
    * [[Sampling.percentileBucketsApprox]] (broadcast value cuts, no
    * per-group sort) and keep the head share — the ql47b path.
    *
    * Output: the n selected (id, n_tokens, log_w, score) rows, score =
    * the rounded Gumbel key as DOUBLE.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, n: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 minCount: Long = 1L,
                 backoff: Double = -0.4, oov: Double = -6.0): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val lmT = TextAnalysis.lmEstimate(target.select(col(textCol)), textCol, minCount)
    val lmR = TextAnalysis.lmEstimate(raw.select(col(textCol)), textCol, minCount)
    TextAnalysis.lmScoreRatio(raw, idCol, textCol, lmT, lmR, backoff, oov)
      .withColumn("score_d",
        (col("log_w") + Sampling.hashGumbel10(col(idCol))).cast("decimal(18,6)"))
      .orderBy(col("score_d").desc, col(idCol))
      .limit(n)
      .select(col(idCol), col("n_tokens"), col("log_w"),
        col("score_d").cast("double").as("score"))
  }
}
