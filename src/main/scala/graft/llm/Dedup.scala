package graft.llm

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star ops
  * beyond the reference inventory — `SURVEY.md §2.3` LLM rows).
  *
  * Scale design: every variant is *candidate generation by key equality*
  * (exact hash, MinHash band, SimHash band) so the only shuffle is a
  * groupBy/join on a short key — never an O(n²) cross join. All hashing is
  * seeded & deterministic (`xxhash64`), expressed in Catalyst higher-order
  * functions (codegen'd, no UDFs).
  */
object Dedup {

  /** Exact dedup on a column set — hash-partitioned `dropDuplicates`. */
  def exact(name: String, cols: String*): Stage =
    Stage(StageId(name))(_.dropDuplicates(cols))

  /** Normalized token array of a text column — the fused native
    * tokenizer (`functions/Tokens.scala` `TokensWs`, one byte pass, real
    * codegen); the test-side `HofForms.tokensHof` is the reference HOF
    * form it must bit-match (`TokensSpec`). Tokenization rides the scan of every text query, so
    * the interpreted `filter` lambda here was the widest per-row cost in
    * the LLM surface (optimization round 21).
    */
  def tokens(text: Column): Column = graft.functions.Tokens.tokensWs(text)

  /** Canonical token-set signature: md5 of the sorted distinct tokens
    * joined — two docs share it iff their token *sets* are identical
    * (Q-L5's declared `sig = md5(sorted distinct tokens)`). Hashing before
    * the join means the shuffle key is 16 bytes instead of a
    * document-sized string — at 100 TB that is most of the shuffle volume.
    */
  def tokenSetSignature(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " ").cast("binary"))

  /** All pairs (a.id < b.id) with identical token sets: signature
    * equality join — one shuffle on the 16-byte signature, blowup bounded
    * by duplicate-group sizes.
    */
  def exactTokenSetPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), tokenSetSignature(col(textCol)).as("sig"))
    // shuffle_hash so both sides share ONE Exchange(hashpartitioning(sig))
    // via AQE reuse: the sort+md5 signature chain computes once, not once
    // per side (see candidatePairsFromBands for the full argument)
    val a = sigs.hint("shuffle_hash").as("a")
    val b = sigs.hint("shuffle_hash").as("b")
    a.join(b, col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
  }

  /** MinHash signature: `numHashes` independent permutations simulated by
    * seeded xxhash64; entry i = min over tokens of h_i(token). Computed by
    * the fused native expression (`functions/MinHash.scala`) — one loop
    * per row instead of two nested interpreted lambdas per (seed, token);
    * the test-side `HofForms.minHashHof` is the reference HOF form it must
    * bit-match.
    */
  def minHash(tokensCol: Column, numHashes: Int): Column =
    graft.functions.MinHash.signature(tokensCol, numHashes)

  /** 64-bit token ids from md5: the first 15 hex digits (60 bits) of
    * md5(token) parsed as a BIGINT — computable identically in any SQL
    * engine (`CAST('0x'||substr(md5(t),1,15) AS BIGINT)` in DuckDB), which
    * is the whole point: minhashing fixed 8-byte ids instead of
    * variable-length strings makes every downstream hash a single
    * closed-form XXH64 block, so the Q-L6 candidate set is
    * oracle-checkable end to end. Collisions (2^-60-scale) only ever MERGE
    * two tokens — strictly rarer than the minhash approximation itself.
    * Cheaper at scale, too: the md5 cost amortizes over all `numHashes`
    * slot hashes, each of which drops from multi-block string hashing to
    * one 8-byte block.
    */
  def tokenIds64(tokensCol: Column): Column =
    graft.functions.MinHash.md5TokenIds64(tokensCol)

  /** Estimated Jaccard similarity from two MinHash signatures — fused
    * native agreement count (the test-side `HofForms.minHashSimilarityHof`
    * is the interpreted reference it must bit-match).
    */
  def minHashSimilarity(mhA: Column, mhB: Column, numHashes: Int): Column =
    graft.functions.MinHash.agreement(mhA, mhB).cast("double") / numHashes

  /** MinHash + LSH banding candidate pairs: signatures are cut into
    * `bands` bands of `numHashes/bands` rows; docs colliding in ANY band
    * become a candidate pair. Probability of collision ≈ 1-(1-j^r)^b — the
    * standard S-curve; with (64, 16) the knee sits near j≈0.5.
    *
    * Returns (doc_a, doc_b, est_jaccard ≥ `minJaccard`). Guaranteed to
    * contain every identical NON-EMPTY-token-set pair (identical
    * signatures collide in every band) — the Q-L5 superset contract.
    * Token-less documents (empty/whitespace-only text) have no MinHash
    * signature and are excluded from banding; route them through
    * [[exactTokenSetPairs]] (which pairs them via md5("")) or an
    * exact-hash dedup first.
    */
  def minHashLshCandidates(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 64, bands: Int = 8,
                           minJaccard: Double = 0.0,
                           hashedTokenIds: Boolean = false,
                           maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = bandedSignatures(df, idCol, textCol, numHashes, bands, hashedTokenIds)
    // (1) score INSIDE the band join (fused agreement expression — 64
    //     comparisons per collision), THEN dedup: a pair colliding in k
    //     bands is scored k≤bands times cheaply, and the pair-dedup
    //     Exchange carries (doc_a, doc_b, est) at ~24 B/row instead of
    //     both 64-slot signatures at ~1 KB/row. (An earlier HOF-scored
    //     form had to dedup FIRST — interpreted scoring of k-fold
    //     duplicates was a 9M-row, 70x slowdown — at the price of
    //     shuffling the signatures; the fused expression removes the
    //     dilemma.) Identical signatures ⇒ identical est per pair, so
    //     dedup-after-scoring keeps an arbitrary but equal survivor.
    // (2) default bands=8 → r=8: collision prob j^8 per band keeps the
    //     S-curve knee near j≈0.75 — candidates stay near-duplicates
    //     instead of exploding quadratically on small-vocabulary corpora.
    val scored = candidatePairsFromBands(banded, numHashes, maxBucketSize, bands)
    // no threshold → no filter: callers that prune est_jaccard then pay
    // nothing for scoring (an always-true filter would block column pruning)
    if (minJaccard > 0) scored.filter(col("est_jaccard") >= minJaccard) else scored
  }

  /** Candidate pairs over an existing [[BandIndex]] table — the same
    * band self-join + fused scoring tail as [[minHashLshCandidates]],
    * entered from persisted `(id, mh, band, bh)` rows instead of text
    * (so `minHashLshCandidates(docs) ==
    * minHashLshCandidatesFromIndex(BandIndex.build(docs))` by
    * construction — they share this code). The incremental-lifecycle
    * building block: a state that carries its index derives the pair
    * set without ever re-signing.
    */
  def minHashLshCandidatesFromIndex(index: DataFrame, numHashes: Int = 64,
                                    minJaccard: Double = 0.0,
                                    maxBucketSize: Int = Int.MaxValue,
                                    bands: Int = 8): DataFrame = {
    val scored = candidatePairsFromBands(index, numHashes, maxBucketSize, bands)
    if (minJaccard > 0) scored.filter(col("est_jaccard") >= minJaccard) else scored
  }

  /** Shared banding projection: `(id, mh, bha, band, bh)` — one row per
    * (doc, band), `bha` = the signature's band-hash ARRAY (fused
    * [[graft.functions.BandHashes]] — one loop per doc, round 22),
    * `(band, bh)` = posexplode(bha). The join key of every LSH candidate
    * path and the ROW FORMAT of [[BandIndex]]. Carrying `bha` (bands × 8
    * bytes next to the ~numHashes × 8-byte signature) is what lets the
    * uncapped pair tail keep one collision row per pair with an O(bands)
    * array comparison instead of re-hashing both signatures per
    * collision row — the measured ql53 round-21 regression.
    */
  private def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                               numHashes: Int, bands: Int,
                               hashedTokenIds: Boolean = false): DataFrame = {
    // hashedTokenIds: minhash md5-derived 8-byte ids instead of the raw
    // strings — identical banding/scoring semantics on an
    // oracle-expressible hash basis (see [[tokenIds64]])
    val toks =
      if (hashedTokenIds) tokenIds64(tokens(col(textCol)))
      else tokens(col(textCol))
    bandedFromTokens(df.select(col(idCol).as("id"), toks.as("toks")),
      numHashes, bands)
  }

  /** Banding tail over an already-projected `(id, toks)` frame: callers
    * that hold the token basis (e.g. shingle ids) band it directly
    * instead of round-tripping through a text column.
    */
  private def bandedFromTokens(projected: DataFrame,
                               numHashes: Int, bands: Int): DataFrame =
    projected
      .filter(size(col("toks")) > 0)
      .withColumn("mh", minHash(col("toks"), numHashes))
      .withColumn("bha", graft.functions.MinHash.bandHashes(col("mh"), bands))
      .select(col("id"), col("mh"), col("bha"), posexplode(col("bha")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")

  /** Candidate-pair join over a banded-signature table: band-key
    * collisions scored inside the join (see [[minHashLshCandidates]] for
    * the why), deduped to one `(doc_a, doc_b, est_jaccard)` row per pair.
    */
  /** Arrival-rank df-cut of saturated (band, bh) SIGNATURE buckets — the
    * [[graft.sources.Multimodal]] perceptual `maxBucketSize` convention
    * on the text axis, and the batch twin of the streaming
    * [[graft.streaming.Stateful]] bucket caps (round 18): a corpus full
    * of mass-duplicated or near-empty documents collapses whole band
    * buckets onto one key, and the banded self-join goes quadratic in
    * them (`StreamStateBench` measured a 100.2× pair blowup at 10× on
    * exactly this construction). Keep each bucket's first
    * `maxBucketSize` rows in id order, drop later arrivals; the rank
    * window hash-partitions on (band, bh) — the SAME distribution the
    * pair self-join needs — so the window's Exchange IS the join's
    * (zero added shuffles, the Multimodal capBuckets argument). Cuts are
    * observable via the `lsh.bucket_cut` signal, never silent.
    * Contracts (spec-pinned): capped pairs ⊆ uncapped; a cap at or above
    * the largest bucket returns the EXACT uncapped result.
    *
    * Round 19: the rank window runs over a MAP-SIDE PRE-CUT
    * ([[graft.analytics.BucketCap.capByRank]] — VERDICT r18 #1): each
    * input partition keeps only its own first-cap ids per (band, bh)
    * BEFORE the Exchange, bounding the saturated bucket's reducer input
    * at cap × numPartitions rows — byte-identical output and drop
    * metric (`BucketCapSpec`).
    */
  private def capBandBuckets(banded: DataFrame, maxBucketSize: Int,
                             stage: String): DataFrame =
    if (maxBucketSize == Int.MaxValue) banded
    else {
      require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
      bridgeDfCut(banded.sparkSession)
      graft.analytics.BucketCap.capByRank(banded, Seq("band", "bh"), Seq("id"),
        maxBucketSize, lshCutObserveName(stage))
    }

  private def candidatePairsFromBands(banded0: DataFrame,
                                      numHashes: Int,
                                      maxBucketSize: Int = Int.MaxValue,
                                      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the local first-band rule needs every agreeing band's collision row
    // (uncapped) AND the banding's own band-hash arrays on the rows; a
    // legacy persisted index without `bha` takes the dropDuplicates tail,
    // which is banding-agnostic — so a wrong `bands` argument can no
    // longer silently drop pairs (ADVICE r21 #1)
    val localFirstBand =
      maxBucketSize == Int.MaxValue && banded0.columns.contains("bha")
    // the capped/legacy tail never reads `bha` — don't ship it through
    // the cap window's Exchange
    val banded = capBandBuckets(
      if (localFirstBand) banded0 else dropIfPresent(banded0, "bha"),
      maxBucketSize, "minHashLshCandidates")
    // shuffle_hash, not the planner's default broadcast: both sides of
    // the self-join then want the SAME Exchange(hashpartitioning(band,
    // bh)) and AQE reuses it, so the signature chain (tokenize → ids →
    // minhash) computes ONCE for the pair stage instead of once per
    // side — broadcast materializes the build side as a SECOND full
    // compute of the chain, and at 100 TB the banded table outgrows any
    // broadcast threshold anyway. No sort: SHJ hashes the narrow
    // (band, bh) key; signatures ride the exchange exactly once (the
    // BandIndex row format).
    val a = banded.hint("shuffle_hash").as("a")
    val b = banded.hint("shuffle_hash").as("b")
    val joined = a.join(b,
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
    // A pair colliding in k bands exits the join k times as IDENTICAL
    // rows. UNCAPPED, every agreeing band's collision row exists, so each
    // row can decide locally whether ITS band is the pair's first
    // agreeing band and only that one survive — the same one-row-per-pair
    // result as the old dropDuplicates, minus its Exchange + two
    // HashAggregates over every collision row (the measured majority of
    // ql6 after the scan; guide §2.4 "remove shuffles outright"). The
    // comparison is O(bands) over the CARRIED band-hash arrays
    // ([[graft.functions.FirstEqualSlot]]) — round 21 re-hashed both full
    // signatures per collision row (up to 2×numHashes XXH64 calls), the
    // measured ql53 regression. CAPPED, a cut bucket may have dropped the
    // first-agreeing band's row, so the local rule could discard a pair
    // the join still found — keep the dedup there (equivalence
    // spec-pinned uncapped in `MinHashSpec`).
    if (localFirstBand)
      joined
        .filter(col("a.band") ===
          graft.functions.MinHash.firstEqualSlot(col("a.bha"), col("b.bha")))
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
          minHashSimilarity(col("a.mh"), col("b.mh"), numHashes).as("est_jaccard"))
    else
      joined
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
          minHashSimilarity(col("a.mh"), col("b.mh"), numHashes).as("est_jaccard"))
        .dropDuplicates("doc_a", "doc_b")
  }

  /** `drop` that tolerates the column's absence (legacy banded frames). */
  private def dropIfPresent(df: DataFrame, c: String): DataFrame =
    if (df.columns.contains(c)) df.drop(c) else df

  /** Persistable LSH band index — the INCREMENTAL entry to the near-dup
    * pipeline. A 100 TB corpus is not re-signed on every ingest: build the
    * banded signature table once, persist it, and dedup each arriving
    * batch against it with [[minHashLshCandidatesAgainst]]; append the
    * batch's own rows ([[build]] on the batch) afterwards. The batch
    * analog of the streaming `Stateful.minHashLshCandidatePairsStream`
    * bucket state (reference analog: stateful connectors carrying state
    * across calls, `reference/circuitbreaker.go:100-115`).
    *
    * Scale: the index is `bands` rows per doc carrying the 64-slot
    * signature (~0.5 KB/doc at the defaults) — a small fraction of corpus
    * text. For repeated incremental joins, persist it with
    * [[BandIndex.saveBucketed]] (bucketed + sorted on the (band, bh)
    * join key) so every per-batch band join co-locates without
    * reshuffling the index side — spec-pinned to plan exactly one
    * batch-side Exchange (`BucketingSpec`).
    */
  object BandIndex {
    /** `(id, mh, band, bh)` rows for a corpus (same parameters MUST be
      * used for every increment — signatures from different
      * numHashes/bands never collide correctly).
      */
    def build(df: DataFrame, idCol: String, textCol: String,
              numHashes: Int = 64, bands: Int = 8,
              hashedTokenIds: Boolean = false): DataFrame = {
      require(numHashes % bands == 0, "bands must divide numHashes")
      // hashedTokenIds must match the batch runs this index will be
      // unioned with — signatures on different token bases never agree
      bandedSignatures(df, idCol, textCol, numHashes, bands, hashedTokenIds)
    }
    def save(index: DataFrame, path: String): Unit =
      index.write.mode("overwrite").parquet(path)
    def load(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
      spark.read.parquet(path)

    /** Bucketed persistence — the fleet-scale layout the class doc
      * promises: the index written bucketed AND sorted on the
      * (band, bh) join key, so every later
      * [[minHashLshCandidatesAgainst]] run reads the index with the band
      * join's distribution requirement already satisfied — NO index-side
      * Exchange, only the (small) arriving batch hashes into place
      * (spec-pinned via `Bucketing.isShuffleFree`). One write amortizes
      * over every future increment. Bucketing metadata lives in the
      * catalog, so reads go through `table`, not the path.
      */
    def saveBucketed(index: DataFrame, table: String, path: String,
                     numBuckets: Int = 64): Unit =
      graft.sources.Bucketing.writeBucketed(index, table, path,
        bucketCols = Seq("band", "bh"), numBuckets = numBuckets,
        sortCols = Seq("band", "bh"))
    def loadBucketed(spark: org.apache.spark.sql.SparkSession,
                     table: String): DataFrame =
      graft.sources.Bucketing.readBucketed(spark, table)

    /** [[loadBucketed]] that survives a fresh application (the nightly
      * load → append → save loop's real entry): when `table` died with
      * the previous app's in-memory catalog, re-register it over the
      * files at `path` from the `_bucketspec` sidecar
      * ([[graft.sources.Bucketing.readBucketedOrRegister]]) — the band
      * join stays index-Exchange-free across restarts.
      */
    def loadBucketed(spark: org.apache.spark.sql.SparkSession,
                     table: String, path: String): DataFrame =
      graft.sources.Bucketing.readBucketedOrRegister(spark, table, path)
  }

  /** Candidate pairs INTRODUCED by a new batch against an indexed corpus:
    * cross pairs (one side new, one side indexed) plus — by default — the
    * batch's internal pairs. With disjoint ids and equal parameters, the
    * union contract holds exactly (spec-pinned):
    *
    * `minHashLshCandidates(old ∪ new) ==`
    * `minHashLshCandidates(old) ∪ minHashLshCandidatesAgainst(new, BandIndex.build(old))`
    *
    * so a pipeline that dedups increment-by-increment converges to the
    * same candidate set as a from-scratch batch run — without ever
    * re-reading old text. Same narrow-shuffle shape as the batch path:
    * score with the fused agreement expression inside the band join, then
    * dedup (doc_a, doc_b, est) at ~24 B/row.
    */
  def minHashLshCandidatesAgainst(newDocs: DataFrame, idCol: String, textCol: String,
                                  index: DataFrame, numHashes: Int = 64, bands: Int = 8,
                                  minJaccard: Double = 0.0,
                                  withinNew: Boolean = true,
                                  hashedTokenIds: Boolean = false,
                                  maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // hashedTokenIds: MUST match the index's build setting (and the batch
    // runs the union contract compares against) — mixed bases silently
    // produce disjoint signatures and zero cross candidates
    val nb = bandedSignatures(newDocs, idCol, textCol, numHashes, bands, hashedTokenIds)
    minHashLshCandidatesAgainstIndex(nb, index, numHashes, minJaccard, withinNew,
      maxBucketSize)
  }

  /** The index-vs-index core of [[minHashLshCandidatesAgainst]]: cross
    * pairs between a NEW banded table and an existing one, plus
    * (optionally) the new table's internal pairs. Callers that already
    * hold the batch's [[BandIndex]] rows (the incremental
    * [[graft.llm.Pipelines.appendCrawlBatch]]) enter here so the batch
    * is signed and banded exactly ONCE — re-deriving signatures from
    * text per consumer is the avoidable corpus-scale compute this split
    * exists to prevent.
    */
  def minHashLshCandidatesAgainstIndex(newIndex: DataFrame, index: DataFrame,
                                       numHashes: Int = 64,
                                       minJaccard: Double = 0.0,
                                       withinNew: Boolean = true,
                                       maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // the cap applies to EACH side independently (a saturated INDEX
    // bucket — a crawl state full of silence-class text — otherwise
    // pairs every batch arrival against its whole membership: m_index ×
    // m_batch cross pairs per bucket). The exact union contract vs a
    // from-scratch batch run holds at the default (uncapped) setting
    // ONLY: capped, the index keeps its first-cap ids per bucket while
    // a union run would rank old and new ids together.
    // the local first-band rule (candidatePairsFromBands) applies here
    // too when uncapped and BOTH frames carry their band-hash arrays: a
    // cross/intra pair's collision rows exist for every agreeing band,
    // so `a.band === first_equal_slot(a.bha, b.bha)` keeps exactly one —
    // and cross (one old id) and intra (both new) are disjoint pair
    // sets, so with both deduped locally the union needs NO
    // dropDuplicates Exchange at all. A legacy index without `bha`
    // keeps the dedup tail (banding-agnostic — ADVICE r21 #1).
    val localFirstBand = maxBucketSize == Int.MaxValue &&
      newIndex.columns.contains("bha") && index.columns.contains("bha")
    val nb = capBandBuckets(
      if (localFirstBand) newIndex else dropIfPresent(newIndex, "bha"),
      maxBucketSize, "minHashLshCandidatesAgainst")
    val a = nb.as("a")
    val b = capBandBuckets(
      if (localFirstBand) index else dropIfPresent(index, "bha"),
      maxBucketSize, "minHashLshCandidatesAgainst").as("b")
    // least/greatest = the batch form's a.id < b.id orientation, reachable
    // from either side of the cross join
    val crossJoined = a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") =!= col("b.id"))
    val cross = (if (localFirstBand)
        crossJoined.filter(col("a.band") ===
          graft.functions.MinHash.firstEqualSlot(col("a.bha"), col("b.bha")))
      else crossJoined)
      .select(least(col("a.id"), col("b.id")).as("doc_a"),
        greatest(col("a.id"), col("b.id")).as("doc_b"),
        minHashSimilarity(col("a.mh"), col("b.mh"), numHashes).as("est_jaccard"))
    val x = nb.as("x")
    val y = nb.as("y")
    val intraJoined = x.join(y, col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.id") < col("y.id"))
    val intra = (if (localFirstBand)
        intraJoined.filter(col("x.band") ===
          graft.functions.MinHash.firstEqualSlot(col("x.bha"), col("y.bha")))
      else intraJoined)
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        minHashSimilarity(col("x.mh"), col("y.mh"), numHashes).as("est_jaccard"))
    val unioned = if (withinNew) cross.union(intra) else cross
    val scored =
      if (localFirstBand) unioned else unioned.dropDuplicates("doc_a", "doc_b")
    if (minJaccard > 0) scored.filter(col("est_jaccard") >= minJaccard) else scored
  }

  /** SimHash (64-bit, Charikar): per token hash, each bit votes ±1; the
    * sign vector packs into a bit array. Near-dup candidates collide on a
    * 16-bit band (≈ Hamming distance ≤ 3 across 4 bands guarantee).
    * Fused native expression (`functions/MinHash.scala` `SimHashBits64`):
    * one hash per token instead of one per (token, bit); the test-side
    * `HofForms.simHashBitsHof` is the HOF reference it must bit-match.
    */
  def simHashBits(tokensCol: Column): Column =
    graft.functions.MinHash.simHashBits(tokensCol)

  /** SimHash band candidates: `bands` bands × 64/`bands` bits (default
    * 4 × 16 ≈ Hamming ≤ 3 guarantee). `tokensOf` swaps the tokenization
    * (e.g. fixed-width token surrogates — the Q-L52 oracle maps tokens to
    * 8-byte md5 prefixes so every token hash is one closed-form XXH64
    * block); signatures from different tokenizations never compare, same
    * contract as BandIndex's parameter pinning.
    *
    * Scale boundary, now self-defending (the [[Similarity.autoPlanes]]
    * discipline): a b-bit band key collides RANDOMLY at rate 2^-b per
    * band, so expected noise pairs ≈ bands · n²/2^(b+1) — quadratic in
    * corpus size once n approaches 2^b, which made the old fixed 4 × 16
    * default a moderate-corpus tool (n ≲ 10⁵) that silently degraded
    * beyond it. The DEFAULT now derives `bands` from the corpus size via
    * [[autoBands]] (`bands = 0` sentinel; one metadata-cheap `count()`
    * unless the caller passes `corpusSize`), widening the band key as n
    * grows — 8 × 8-bit on tiny corpora, 4 × 16 to n ≈ 32k, 2 × 32-bit
    * (≈ Hamming ≤ 1, noise-free to n ≈ 10⁹) beyond — so noise pairs per
    * doc stay O(1) at any n. The manual knob remains for callers pinning
    * a specific S-curve (e.g. an oracle replay). Past n ≈ 4·10⁹ even
    * 2 × 32 accumulates noise; there prefer [[minHashLshCandidates]] —
    * its band key is a 16-slot signature slice whose collisions are
    * driven by actual Jaccard similarity, not key width, which is why it
    * is this library's primary near-dup path.
    */
  def simHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        tokensOf: Column => Column = tokens,
                        bands: Int = 0,
                        corpusSize: Option[Long] = None,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val b0 =
      if (bands == 0) autoBands(math.max(corpusSize.getOrElse(df.count()), 1L))
      else bands
    require(b0 > 0 && 64 % b0 == 0, s"bands must divide 64, got $b0")
    val withBits = df
      .select(col(idCol).as("id"), tokensOf(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("bits", simHashBits(col("toks")))
    // fused banding over the bit vector (one loop — the hashInt chain of
    // xxhash64 over ARRAY<INT> slices, bit-equality spec-pinned) + the
    // carried band-hash array for the uncapped local pair dedup below
    // (the candidatePairsFromBands design, round 22)
    val uncapped = maxBucketSize == Int.MaxValue
    val withBha = withBits
      .withColumn("bha", graft.functions.MinHash.bandHashes(col("bits"), b0))
    val exploded = withBha
      .select(col("id") +: (if (uncapped) Seq(col("bha")) else Nil) :+
        posexplode(col("bha")): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val banded = capBandBuckets(exploded, maxBucketSize, "simHashCandidates")
    // shuffle_hash → one reused Exchange for both sides: the simhash
    // bit-vote chain computes once, not once per side (see
    // candidatePairsFromBands)
    val a = banded.hint("shuffle_hash").as("a")
    val b = banded.hint("shuffle_hash").as("b")
    val joined = a.join(b,
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
    // uncapped: one collision row per pair survives LOCALLY (first
    // agreeing band — every agreeing band's row exists), removing the
    // dropDuplicates Exchange + HashAggregates over the collision rows;
    // capped buckets keep the dedup (candidatePairsFromBands argument)
    if (uncapped)
      joined
        .filter(col("a.band") ===
          graft.functions.MinHash.firstEqualSlot(col("a.bha"), col("b.bha")))
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
    else
      joined
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
  }

  /** SimHash `bands` sized for the corpus (the [[Similarity.autoPlanes]]
    * sibling): the LARGEST band count (= widest Hamming tolerance) whose
    * RANDOM band-key collisions stay ≤ `targetNoisePerDoc` expected
    * pairs per doc — bands · n / 2^(64/bands + 1) ≤ target, checked in
    * exact integer arithmetic (no floating logs: a 1-ulp wobble at a
    * power-of-two corpus size must not flip the derivation between
    * machines). Derives 8 × 8-bit to n = 64·target, 4 × 16-bit to
    * n = 32768·target, 2 × 32-bit beyond; floored at 2 bands (1 band =
    * exact-signature equality, no tolerance — past the 2-band bound
    * (n ≈ 4·10⁹) SimHash banding over a 64-bit signature is the wrong
    * tool; use [[minHashLshCandidates]]).
    */
  def autoBands(corpusSize: Long, targetNoisePerDoc: Long = 1L): Int = {
    require(corpusSize > 0 && targetNoisePerDoc > 0, "need positive sizes")
    Seq(8, 4, 2).find { b =>
      val w = 64 / b
      // bands·n ≤ target·2^(w+1); w+1 ≤ 33 so the shift fits a Long
      corpusSize <= (targetNoisePerDoc << (w + 1)) / b
    }.getOrElse(2)
  }

  /** Character n-gram (shingle) set of a text column. Guarded for short
    * inputs: Spark's `sequence(1, 0)` counts DOWN, so an unguarded range
    * would emit index 0 and crash `substr`/`slice`.
    */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), length(text) - (n - 1)),
          i => text.substr(i, lit(n)))))

  /** Exact n-gram Jaccard similarity between two token arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** N-gram Jaccard near-dup: MinHash-LSH candidates re-scored with exact
    * word-shingle Jaccard — candidates by banding, exactness by re-check;
    * the scale-safe shape (no cross join). The banding knobs pass through
    * to [[minHashLshCandidates]] (the RESULT depends on them: a true
    * high-Jaccard pair the banding never collides is absent — the
    * documented LSH recall trade, so Q-L53's oracle replays the identical
    * candidate set via `hashedTokenIds`).
    *
    * The signature is computed over the document's SHINGLE-id stream, not
    * its tokens: banding must estimate the same n-gram similarity the
    * re-score measures, or candidate volume decouples from output volume.
    * Measured on the templated sf0.1 corpus: token-set banding produced
    * 1.5M candidate pairs that reduced to 25 trigram-similar survivors —
    * a 28 s pair-rescore join; shingle banding keeps candidates ∝ true
    * near-dups. Shingles ride everywhere as md5-derived 8-byte ids (the
    * tokenIds64 argument: a 2^-60-scale collision could only merge two
    * shingles — strictly rarer than the LSH approximation itself), and
    * the ids themselves ARE the minhash basis: the shingle pipeline
    * (tokenize → n-grams → md5 ids) is projected ONCE and banded
    * directly — no pseudo-text round trip, no second md5 pass — which is
    * also what makes the candidate set closed-form replayable (the
    * oracle minhashes `id60(shingle)` with the same XXH64 chain).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        numHashes: Int = 64, bands: Int = 8,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val shingleIds = tokenIds64(wordNgrams(col(textCol), n))
    val shingled = df.select(col(idCol).as("id"), shingleIds.as("sh"))
    val banded = bandedFromTokens(
      shingled.select(col("id"), col("sh").as("toks")), numHashes, bands)
    val cands = candidatePairsFromBands(banded, numHashes, maxBucketSize, bands)
    // Both rescore join-backs consume the SAME unrenamed (id, sh)
    // projection keyed on id, so their Exchanges canonicalize
    // identically and AQE plans the second as a ReusedExchange — the
    // tokenize → wordNgrams → md5 → tokenIds64 chain runs exactly TWICE
    // (banding + one join-back) instead of three times. Renaming the
    // columns BEFORE the join (the old shape) made the two subtrees
    // distinct and re-ran the chain per join-back — at 100 TB the
    // largest avoidable compute multiplier in the dedup family.
    // Machine-checked: PlanShapeSpec's shuffle_hash-family test pins the
    // finalized adaptive plan at <=2 corpus scans with >=1 ReusedExchange
    // (the ql54 stage-dedup convention).
    val sa = shingled.as("sa")
    val sb = shingled.as("sb")
    cands
      .join(sa, col("doc_a") === col("sa.id"))
      .join(sb, col("doc_b") === col("sb.id"))
      .withColumn("jaccard", jaccard(col("sa.sh"), col("sb.sh")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** EXACT Jaccard similarity join via an inverted index: explode
    * word-n-gram shingles, equi-join on the shingle, count common shingles
    * per pair, jaccard = inter/(|A|+|B|-inter). Only pairs sharing at
    * least one shingle ever materialize — the all-pairs cross join with
    * array intersections is O(docs²) regardless of similarity; this is
    * O(Σ per-shingle pairings), the standard exact set-similarity-join
    * shape.
    *
    * Skew at 100 TB: ubiquitous shingles ("of the") are hot join keys
    * whose pairings approach O(docs²) on their own. `maxShingleDocFreq`
    * drops shingles appearing in more than that many documents BEFORE the
    * join — with it set the result is APPROXIMATE (similarity computed on
    * the surviving shingle sets, which can under- or over-state the true
    * Jaccard; near-duplicates at high thresholds share mostly rare
    * shingles, so the distortion concentrates in low-similarity pairs).
    *
    * GUARDED BY DEFAULT ([[DefaultMaxShingleDocFreq]]): a shingle must
    * appear in more than 10k documents before the cut touches it, so on
    * corpora below that df the default result is still exact — but on the
    * corpus sizes where the unguarded join's Σdf² blows up (measured 24–29 s
    * at a mere 50k synthetic docs; quadratic beyond), the hot keys are
    * dropped before they can. The cap bounds any one shingle's pairings at
    * cap² ≈ 10^8 partial-agg rows — shuffle-survivable; unbounded is not.
    * Pass `maxShingleDocFreq = None` to explicitly opt in to the unguarded
    * exact join (safe only when the corpus df distribution is known), or
    * use [[jaccardSimilarityJoinPrefix]] — exact at any scale when the df
    * tail is heavy. Mirrors the reference's safe-by-default wrapper
    * philosophy (reference/ratelimiter.go:27-43: the guarded form is the
    * default; the footgun is the explicit variant).
    */
  val DefaultMaxShingleDocFreq = 10000L

  /** Observed-metric name prefix for the df-cut (suffix = a per-call
    * sequence number — Spark rejects duplicate observed-metric names in
    * one query).
    */
  private[graft] val DfCutMetric = "graft.jaccard.df_cut"
  private val dfCutSeq = new java.util.concurrent.atomic.AtomicLong()
  /** Observed-metric prefix for the batch LSH band-bucket cut
    * ([[capBandBuckets]]) — forwarded by the same once-per-session
    * bridge listener as the jaccard df-cut.
    */
  private[graft] val LshBucketCutMetric = "graft.lsh.bucket_cut"
  private val lshBucketCutSeq = new java.util.concurrent.atomic.AtomicLong()
  /** Fresh observe-node name for an LSH-family bucket cut — shared with
    * other modules' band joins (the hyperplane tables and IVF cells in
    * [[graft.llm.Similarity]]) so every cut forwards through ONE bridge.
    * `stage` (no dots) rides the name — the bridge parses it back so the
    * signal attributes the cut to the operator that fired it (ADVICE
    * r18: a hardcoded label misattributed embedding-axis cuts).
    */
  private[graft] def lshCutObserveName(stage: String): String = {
    require(!stage.contains('.'), s"stage must not contain dots: $stage")
    s"$LshBucketCutMetric.$stage.${lshBucketCutSeq.incrementAndGet()}"
  }
  /** Register the cut-forwarding listener for callers outside this file. */
  private[graft] def bridgeCuts(spark: org.apache.spark.sql.SparkSession): Unit =
    bridgeDfCut(spark)
  // weak keys: sessions come and go in long-lived drivers (newSession per
  // job/tenant); a strong set would pin every stopped session AND its
  // registered listener for the life of the JVM
  private val dfCutBridged = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  /** Sessions carrying a df-cut bridge — the listener-hygiene audit hook:
    * repeated jaccard calls on one session must register exactly one.
    */
  private[graft] def dfCutBridgedCount: Int = dfCutBridged.size()

  /** Bridge df-cut observed metrics → [[graft.core.SignalBus.global]] +
    * a WARN log, once per session (idempotent). The metric rides the
    * existing shingle-df aggregate as a `CollectMetrics` node — no extra
    * job, no extra shuffle, counts computed during whatever action the
    * caller runs — so the approximation the cut introduces is OBSERVABLE
    * at exactly zero plan cost: a `jaccard.df_cut` signal fires only when
    * shingles were actually dropped.
    */
  private def bridgeDfCut(spark: org.apache.spark.sql.SparkSession): Unit =
    if (dfCutBridged.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        private def forward(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(DfCutMetric)) {
              val dropped = if (row.isNullAt(0)) 0L else row.getLong(0)
              if (dropped > 0L) {
                val fields = Map(
                  "dropped_shingles" -> dropped.toString,
                  "dropped_occurrences" -> (if (row.isNullAt(1)) "0" else row.getLong(1).toString),
                  "max_shingle_doc_freq" -> (if (row.isNullAt(2)) "?" else row.getLong(2).toString))
                SignalBus.global.emit(Signal(Signals.JaccardDfCut,
                  StageId("jaccardSimilarityJoin"), fields))
                org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
                  s"jaccardSimilarityJoin df-cut dropped ${fields("dropped_shingles")} hot " +
                    s"shingles (${fields("dropped_occurrences")} occurrences, cap " +
                    s"${fields("max_shingle_doc_freq")}): similarities are approximate")
              }
            } else if (name.startsWith(LshBucketCutMetric)) {
              val dropped = if (row.isNullAt(0)) 0L else row.getLong(0)
              if (dropped > 0L) {
                // name = <prefix>.<stage>.<seq> — parse the originating
                // stage back out so embedding-axis cuts (hyperplane
                // tables, IVF cells) attribute correctly (ADVICE r18)
                val rest = name.drop(LshBucketCutMetric.length + 1)
                val stage = rest.lastIndexOf('.') match {
                  case -1 => "minHashLshCandidates"
                  case i  => rest.substring(0, i)
                }
                val fields = Map(
                  "dropped_rows" -> dropped.toString,
                  "max_bucket_size" -> (if (row.isNullAt(1)) "?" else row.getInt(1).toString))
                SignalBus.global.emit(Signal(Signals.LshBucketCut,
                  StageId(stage), fields))
                org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
                  s"lsh bucket cut in $stage dropped ${fields("dropped_rows")} banded rows " +
                    s"past cap ${fields("max_bucket_size")}: saturated buckets have partial recall")
              }
            }
          }
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit = forward(qe)
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               error: Exception): Unit = ()
      })
    }

  def jaccardSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 2, threshold: Double = 0.5,
                            maxShingleDocFreq: Option[Long] = Some(DefaultMaxShingleDocFreq)): DataFrame = {
    val sh0 = df.select(col(idCol).as("_jid"),
      explode(wordNgrams(col(textCol), n)).as("g"))
    val sh = maxShingleDocFreq match {
      case Some(cap) =>
        // df-cut: one extra agg + semi join, removes the hot keys entirely.
        // The cut is observable (advice: no silent approximation): dropped
        // shingle / occurrence counts ride the agg as observed metrics and
        // surface as a `jaccard.df_cut` signal when nonzero.
        bridgeDfCut(df.sparkSession)
        val dfs = sh0.groupBy(col("g")).agg(count(lit(1)).as("_df"))
          .observe(s"$DfCutMetric.${dfCutSeq.incrementAndGet()}",
            sum(when(col("_df") > cap, 1L).otherwise(0L)).as("dropped_shingles"),
            sum(when(col("_df") > cap, col("_df")).otherwise(0L)).as("dropped_occurrences"),
            max(lit(cap)).as("cap"))
        val rare = dfs.filter(col("_df") <= cap).select("g")
        sh0.join(rare, Seq("g"), "left_semi")
      case None => sh0
    }
    val inter = sh.select(col("_jid").as("doc_a"), col("g"))
      .join(sh.select(col("_jid").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("_inter"))
    jaccardFromIntersections(sh, inter, threshold)
  }

  /** Shared scoring tail of [[jaccardSimilarityJoin]] and
    * [[jaccardSimilarityJoinPrefix]] — ONE implementation so the two
    * spec-pinned-equal paths cannot drift: sizes join + exact ratio +
    * threshold filter over per-pair intersection counts.
    */
  private def jaccardFromIntersections(sh: DataFrame, inter: DataFrame,
                                       threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("_jid")).agg(count(lit(1)).as("_n"))
    inter
      .join(sizes.select(col("_jid").as("doc_a"), col("_n").as("_na")), Seq("doc_a"))
      .join(sizes.select(col("_jid").as("doc_b"), col("_n").as("_nb")), Seq("doc_b"))
      .withColumn("jaccard",
        col("_inter").cast("double") / (col("_na") + col("_nb") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact Jaccard join with PREFIX FILTERING (the AllPairs/SSJoin
    * technique from the public set-similarity-join literature: Bayardo,
    * Ma & Srikant, WWW'07; Chaudhuri, Ganti & Kaushik, ICDE'06). Under a
    * global rarest-first shingle order, two sets with J ≥ t MUST share
    * their smallest common shingle inside each side's first
    * |s| − ⌈t·|s|⌉ + 1 shingles, so only those PREFIX shingles are
    * indexed and joined. Hot (high-df) shingles sort to the back and
    * never enter the index — exactly the shingles whose co-occurrence
    * lists explode quadratically on low-entropy corpora — and candidates
    * are then verified with an exact intersection count restricted to
    * candidate pairs (cost linear in candidates, not in co-occurrence).
    * Result is EXACTLY [[jaccardSimilarityJoin]] (spec-pinned).
    *
    * WHEN TO USE WHICH (measured): prefix filtering pays when shingle
    * document-frequency is heavy-tailed (real text: most shingles are
    * near-unique, prefixes collapse the index). On a low-entropy corpus
    * where every shingle is hot — the synthetic fixture's ~40-word
    * vocabulary — the prefix barely shrinks while the rank windows,
    * candidate distinct and verification joins add three shuffles:
    * measured 111 s vs the plain form's 41 s through the same dump path
    * at sf0.1. The plain inverted index with its single partial-agg
    * count shuffle wins there; pick by corpus df skew.
    */
  def jaccardSimilarityJoinPrefix(df: DataFrame, idCol: String, textCol: String,
                                  n: Int = 2, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = df.select(col(idCol).as("_jid"),
      explode(wordNgrams(col(textCol), n)).as("g"))
    val dfreq = sh.groupBy(col("g")).agg(count(lit(1)).as("_df"))
    // per-doc rarity rank; one shuffle on the doc id, tiny per-doc sorts
    val w = Window.partitionBy("_jid").orderBy(col("_df"), col("g"))
    val pos = sh.join(dfreq, Seq("g")).select(col("_jid"), col("g"),
      row_number().over(w).as("_pos"),
      count(lit(1)).over(Window.partitionBy("_jid")).as("_n"))
    // EPSILON-HARDENED bounds: t·n can overshoot an exactly-integral
    // product in doubles (e.g. 0.07·100 = 7.000000000000001 → ceil 8,
    // one prefix slot too few → silently dropped true pairs; 86 such
    // (t, n) combos exist for 3-decimal thresholds under 500 shingles).
    // The nudge is RELATIVE (fp error in t·n scales as t·n·2⁻⁵²; an
    // absolute 1e-9 stops covering it past t·n ≈ 4.5e6, i.e. multi-MB
    // documents) plus a small absolute floor for tiny products. Nudging
    // down before ceil / the comparison only ever LENGTHENS the prefix
    // or ADMITS a borderline candidate — safe direction; exact
    // verification below discards any extras.
    def nudged(tn: Column): Column = tn * lit(1.0 - 1e-12) - lit(1e-9)
    val prefix = pos.filter(
      col("_pos") <= col("_n") - ceil(nudged(lit(threshold) * col("_n"))) + 1)
    val cand = prefix.select(col("_jid").as("doc_a"), col("g"), col("_n").as("_na"))
      .join(prefix.select(col("_jid").as("doc_b"), col("g"), col("_n").as("_nb")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      // length filter: J ≥ t forces min(|a|,|b|) ≥ t·max(|a|,|b|)
      .filter(least(col("_na"), col("_nb")).cast("double") >=
        nudged(lit(threshold) * greatest(col("_na"), col("_nb")).cast("double")))
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact verification over candidates only
    val inter = cand
      .join(sh.select(col("_jid").as("doc_a"), col("g")), Seq("doc_a"))
      .join(sh.select(col("_jid").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("_inter"))
    jaccardFromIntersections(sh, inter, threshold)
  }

  /** Train/test DECONTAMINATION — flag corpus documents sharing at least
    * `minShared` distinct word n-grams with any benchmark document: the
    * standard pre-training hygiene step (benchmark text leaking into the
    * corpus inflates eval scores, so matching docs are quarantined before
    * training). Same inverted-index shape as [[jaccardSimilarityJoin]]
    * (explode n-grams, equi-join on the gram, count per doc). The
    * benchmark side is tiny relative to a 100 TB corpus, so its distinct
    * gram set broadcasts by default — the corpus side streams through a
    * broadcast hash join with NO shuffle; only the per-doc count
    * aggregates (partial + final) shuffle the few matching doc ids.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 5,
                    minShared: Long = 1,
                    broadcastBenchmark: Boolean = true): DataFrame = {
    val cg = corpus.select(col(idCol).as("_did"),
      explode(wordNgrams(col(textCol), n)).as("g"))
    val bg0 = benchmark.select(explode(wordNgrams(col(textCol), n)).as("g")).distinct()
    val bg = if (broadcastBenchmark) broadcast(bg0) else bg0
    cg.join(bg, Seq("g"))
      .groupBy(col("_did")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("_did").as(idCol), col("n_shared"))
  }

  /** Corpus-wide PARAGRAPH dedup (the C4-style span removal): every
    * distinct trimmed non-blank paragraph survives exactly ONCE, at its
    * first global occurrence ordered by (doc id, position); all later
    * occurrences are removed and documents are reassembled from their
    * surviving paragraphs in original order (documents left empty drop
    * out). Plan: one explode, one partial-agg argmin per paragraph, one
    * reassembly agg — no window over the full paragraph corpus, so the
    * per-key state is O(1) and both aggregations combine map-side.
    */
  def dropDuplicateParagraphs(docs: DataFrame, idCol: String, textCol: String,
                              sep: String = "\n"): DataFrame = {
    // sep is a literal separator, not a regex — quote it for split()
    // (an unquoted "." or "|" would split on every character / position)
    val paras = docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("_idx", "_p")))
      .withColumn("_p", trim(col("_p")))
      .filter(col("_p") =!= "")
      // 16-byte BINARY shuffle key instead of the document-sized
      // paragraph string (the tokenSetSignature convention): the argmin
      // groupBy and the join back both key on the hash, so most of the
      // shuffle volume is the hash, not the text. The unhex matters —
      // bare md5() is a 32-char hex string, double the key bytes.
      // 128-bit md5 ⇒ collisions negligible even at 10^11 paragraphs
      // (xxhash64 would collide at that scale).
      .withColumn("_h", unhex(md5(col("_p").cast("binary"))))
    val first = paras.groupBy(col("_h"))
      .agg(min(struct(col(idCol).as("_fid"), col("_idx").as("_fidx"))).as("_f"))
    val kept = paras.join(first, Seq("_h"))
      .filter(col(idCol) === col("_f._fid") && col("_idx") === col("_f._fidx"))
    kept.groupBy(col(idCol))
      .agg(graft.functions.Ngrams.joinOrdered(
        collect_list(struct(col("_idx"), col("_p"))), sep).as("text_dedup"))
  }

  /** Per-source boilerplate line removal — the C4-style cleaning pass:
    * a line (trimmed) appearing in more than `maxLineDf` DISTINCT
    * documents of the SAME source is navigation/footer boilerplate and is
    * stripped from every document of that source; everything else is
    * reassembled in original order. Documents reduced to nothing come
    * back as empty text (never silently dropped — the caller decides).
    *
    * Scale shape: line identity shuffles as a 16-byte md5 of
    * (source, trimmed line), not the line text (the tokenSetSignature
    * convention); the doc-frequency agg and the anti join both key on it.
    * Empty/whitespace lines never enter the frequency agg (they are
    * everywhere by construction and must survive reassembly). One
    * explode → one agg → one anti join → one ordered reassembly agg; no
    * window over the corpus.
    */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, maxLineDf: Long,
                       sep: String = "\n"): DataFrame = {
    val lines = docs
      .select(col(idCol), col(sourceCol).as("_src"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("_idx", "_l")))
      .withColumn("_lt", trim(col("_l")))
      // `sep` as the in-hash separator: a line cannot contain the very
      // separator it was split on, so (src, line) identity is unambiguous
      // even for sources embedding spaces -- and the literal stays
      // printable in plan dumps (a NUL here turned PLANS.md binary)
      .withColumn("_h",
        unhex(md5(concat(col("_src"), lit(sep), col("_lt")).cast("binary"))))
    val hot = lines.filter(col("_lt") =!= "")
      .groupBy(col("_h")).agg(count_distinct(col(idCol)).as("_df"))
      .filter(col("_df") > maxLineDf).select("_h")
    val kept = lines.join(hot, Seq("_h"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(graft.functions.Ngrams.joinOrdered(
        collect_list(struct(col("_idx"), col("_l"))), sep).as("text_clean"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Semantic dedup (the SemDeDup recipe, Abbas et al.): embedding-space
    * near-duplicates — paraphrases, re-renders, translations-of-self that
    * share no exact tokens — found via the corpus-growth-safe IVF
    * candidate path, resolved into clusters (pointer jumping), one
    * survivor kept per cluster (best `scoreCol`, ties → min id). A named
    * composition of the measured pieces: `Similarity.ivfNearDupPairs`
    * (cells ∝ corpus, nprobe recall) → [[duplicateClusters]] →
    * [[dedupKeepBest]] — each with its own oracle/spec evidence; this
    * entry point pins that they COMPOSE (`ClusterSpec`).
    */
  def semanticDedup(df: DataFrame, idCol: String, scoreCol: String,
                    index: graft.llm.Similarity.IvfIndex,
                    threshold: Double, nprobe: Int = 2,
                    maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val pairs = graft.llm.Similarity
      .ivfNearDupPairs(df, idCol, index, threshold, nprobe, maxBucketSize)
      .select(col("doc_a"), col("doc_b"))
    dedupKeepBest(df, idCol, pairs, scoreCol)
  }

  /** Winnowing-sketch near-duplicate pairs — the MOSS resemblance
    * (Schleimer/Wilkerson/Aiken): document similarity estimated from the
    * overlap of winnowing fingerprints instead of full shingle sets, so
    * the join input is SKETCH-sized (≈ tokens/window distinct 8-byte
    * longs per doc), not corpus-token-sized — the sub-linear sibling of
    * [[jaccardSimilarityJoin]] for edit-robust plagiarism/boilerplate
    * pair detection. Resemblance = |A∩B| / |A∪B| over sketch sets,
    * thresholded.
    *
    * Shape: fingerprints explode off the scan (fused `Winnow`
    * expression), inverted-index equi-self-join on the 8-byte value,
    * ONE partial+final count Exchange per surviving pair; document text
    * never shuffles. `maxDf` optionally drops fingerprints shared by
    * more than `maxDf` documents BEFORE the join (ubiquitous boilerplate
    * sketches are the hot keys at crawl scale) — the df-cut changes the
    * denominator consistently (both sketch sizes count only surviving
    * fingerprints), so scores stay well-defined and deterministic.
    */
  def winnowingNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, window: Int = 4,
                            threshold: Double = 0.5,
                            maxDf: Long = Long.MaxValue): DataFrame = {
    val fp0 = docs.select(col(idCol).as("_id"),
      explode(graft.llm.TextAnalysis.winnowingFingerprints(
        col(textCol), k, window)).as("_fp"))
    val fp = if (maxDf == Long.MaxValue) fp0 else {
      val hot = fp0.groupBy(col("_fp")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDf).select(col("_fp"))
      fp0.join(hot, Seq("_fp"), "left_anti")
    }
    val sizes = fp.groupBy(col("_id")).agg(count(lit(1)).as("_sz"))
    // shuffle_hash → the fingerprint explode computes once for both
    // sides of the intersection self-join (reused Exchange; see
    // candidatePairsFromBands). The `sizes` aggregate still scans
    // separately — its shuffle key (_id) differs from the join's (_fp).
    val inter = fp.hint("shuffle_hash").as("a").join(fp.hint("shuffle_hash").as("b"),
        col("a._fp") === col("b._fp") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("doc_a"), col("b._id").as("doc_b"))
      .agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.select(col("_id").as("doc_a"), col("_sz").as("_sza")), "doc_a")
      .join(sizes.select(col("_id").as("doc_b"), col("_sz").as("_szb")), "doc_b")
      .withColumn("resemblance", col("_inter").cast("double") /
        (col("_sza") + col("_szb") - col("_inter")))
      .filter(col("resemblance") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("resemblance"))
  }

  /** Semantic train/test DECONTAMINATION — the embedding-space form of
    * [[decontaminate]]: drop every corpus row whose cosine similarity to
    * ANY benchmark vector reaches `threshold`, catching paraphrased or
    * re-rendered eval items that share no exact n-grams with the
    * benchmark text (the gap the token-overlap form cannot see).
    *
    * Scale shape mirrors the n-gram form's broadcast-dim design: the
    * corpus buckets ONCE by nearest IVF centroid (a scan-riding
    * assignment — cells ∝ corpus, the ql30 growth-safety argument) and
    * the BENCHMARK side (an eval suite — thousands of rows, never a
    * crawl) explodes to its `nprobe` closest buckets and broadcasts, so
    * the corpus never shuffles for the probe join; exact cosine is
    * scored in-join, and only narrow contaminated ids reach the
    * LEFT ANTI subtraction. Recall follows the IVF contract: a
    * contaminated row is found when any of the benchmark's nprobe
    * buckets covers the row's assigned cell (exact clones share their
    * nearest centroid, so clone recall is certain — the Q-L55 oracle
    * construction).
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String,
                            index: graft.llm.Similarity.IvfIndex,
                            threshold: Double, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1 && nprobe <= index.k,
      s"nprobe must be in [1, ${index.k}], got $nprobe")
    val c = corpus.select(col(idCol), col("embedding"))
      .withColumn("_bucket", index.assignment(col("embedding")))
    val b = broadcast(benchmark.select(col("embedding").as("_b_emb"))
      .withColumn("_bucket", explode(index.probes(col("_b_emb"), nprobe))))
    val contaminated = c.join(b, Seq("_bucket"))
      .filter(graft.llm.Similarity.cosine(col("embedding"), col("_b_emb"))
        >= threshold)
      .select(col(idCol)).distinct()
    // BROADCAST the contaminated ids (the filterByDomainBlocklist anti-join
    // convention): contamination is bounded by benchmark-similar rows — a
    // tiny fraction of any real corpus — and without the hint the LEFT
    // ANTI plans as a SortMergeJoin that shuffles the ENTIRE corpus
    // (embeddings included) on the id key, the exact full-corpus Exchange
    // this operator exists to avoid (observed in the sf0.001 plan audit).
    corpus.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Repeated-SPAN removal — the distributed analog of suffix-array
    * "ExactSubstr" training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): any `spanTokens`-token
    * window whose exact text occurs ≥ `minCount` times ACROSS THE CORPUS
    * is boilerplate/contamination mass; every token covered by at least
    * one repeated window is dropped and the survivors reassemble in
    * order. Catches what document- and paragraph-level dedup miss:
    * license headers, navigation chrome and quoted passages embedded
    * inside otherwise-unique documents.
    *
    * A suffix array finds maximal repeats on one machine; the relational
    * form trades that for fixed-length windows (the published follow-ups
    * do the same at cluster scale): corpus-linear window table, 16-byte
    * md5 span keys (never span text) through the df aggregate, coverage
    * as a DIFFERENCE ARRAY (+1 at span start, -1 at end) cum-summed by a
    * per-document window — parallel across docs, no corpus-wide window
    * anywhere. Cost: windows ≈ total tokens; every join/agg keys on the
    * hash or (id, pos) — all linear shapes.
    *
    * md5 (not xxhash64) span keys keep the operator ORACLE-EXPRESSIBLE:
    * the Q-L35 DuckDB oracle replays the identical pipeline.
    *
    * Byte-fidelity boundary: the operator works in TOKEN space, so
    * `text_clean` is the surviving tokens re-joined with single spaces —
    * whitespace runs collapse even in documents that contained no
    * repeated span (unlike [[dropDuplicateParagraphs]]/[[stripBoilerplate]],
    * which reassemble original segments). Run it before, not after, any
    * byte-exact fingerprinting.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int = 20, minCount: Long = 2): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("_tk"))
    val wins = spanWindowHashes(toks, idCol, spanTokens)
    // the remove-ALL cut: every occurrence of a corpus-frequent window
    val hot = wins.groupBy(col("_h"))
      .agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= minCount).select("_h")
    val starts = wins.join(hot, Seq("_h")).select(col(idCol), col("_pos"))
    removeAtStarts(toks, starts, idCol, spanTokens)
  }

  /** Shared window stage of the two span-removal forms: one row per
    * window start — (id, pos, 16-byte binary span hash). Span grams come
    * from the fused n-gram expression (one pass — the interpreted
    * per-window slice+join HOF was the same cost class the bigram
    * scoring fix measured at 80%); `unhex(md5(...))` runs in the
    * codegen'd projection AFTER the explode, and the unhex matters: a
    * bare `md5()` is a 32-char HEX STRING, double the bytes in every
    * gram Exchange and join-back key (round-16 review finding).
    */
  private def spanWindowHashes(toks: DataFrame, idCol: String,
                               spanTokens: Int): DataFrame =
    toks.filter(size(col("_tk")) >= spanTokens)
      .select(col(idCol),
        posexplode(graft.functions.Ngrams.wordNgramsJoin(col("_tk"), spanTokens))
          .as(Seq("_pos", "_g")))
      .select(col(idCol), col("_pos"),
        unhex(md5(col("_g").cast("binary"))).as("_h"))

  /** Shared tail of the two span-removal forms: coverage + reassembly run
    * INSIDE one fused expression over the original token array
    * ([[graft.functions.Ngrams.removeSpans]] — the difference-array
    * prefix sum the relational form computed with a per-doc window): the
    * only rows that ride an Exchange are the cut's span STARTS (one
    * small int list per affected doc). The pre-round-7 shape shuffled
    * every corpus token twice — a per-doc window sort plus a
    * collect_list regroup — which at 100 TB is two corpus-sized
    * shuffles doing per-document work the scan projection can do.
    */
  private def removeAtStarts(toks: DataFrame, starts: DataFrame,
                             idCol: String, spanTokens: Int): DataFrame = {
    val startsByDoc = starts.groupBy(col(idCol))
      .agg(collect_list(col("_pos")).as("_sp"))
    toks.join(startsByDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(
        graft.functions.Ngrams.removeSpans(col("_tk"), col("_sp"), spanTokens),
        lit("")).as("text_clean"))
  }

  /** CROSS-DOCUMENT duplicated-span removal with KEEP-FIRST semantics —
    * the ExactSubstr recipe of Lee et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better") at fixed window granularity:
    * a `spanTokens`-token window shared by ≥ 2 DISTINCT documents is a
    * verbatim cross-doc duplicate; the minimum-id document carrying it
    * (the "keeper") keeps its text verbatim, and every other document
    * loses the covered tokens. [[removeRepeatedSpans]] is the
    * remove-ALL-occurrences sibling (corpus-frequency cut, no survivor);
    * this form preserves exactly one copy of the duplicated content —
    * what a training corpus wants (the information survives once, the
    * gradient-skewing repeats go).
    *
    * Exactness note: a shared window IS a shared `spanTokens`-token
    * substring, so this finds precisely the duplicates ExactSubstr finds
    * at threshold = spanTokens, located by window membership rather than
    * a suffix array — runs of longer overlap are covered by their
    * overlapping windows. Per-gram keep-first means a document can be
    * keeper for one span and lose another (documented; the spec pins it).
    * Output text is the space-joined surviving token stream (whitespace
    * normalizes — the [[removeRepeatedSpans]] convention), docs shorter
    * than `spanTokens` pass through (normalized), emptied docs keep `''`.
    *
    * Scale shape (all corpus-linear, NO pairwise joins anywhere): windows
    * ride the scan via the fused n-gram expression and only (id, pos,
    * 16-byte md5) rows reach the ONE gram Exchange; "≥ 2 distinct docs +
    * keeper" is `min(id) < max(id)` — a single partial-combining agg,
    * deliberately NOT count-distinct (no Expand, no second shuffle);
    * non-keeper starts join back on the 16-byte hash (the ql35 hot-join
    * shape) and coverage + reassembly run inside the fused
    * difference-array expression, so the only per-doc regroup ships one
    * small int list per AFFECTED doc. Worst-case total work is
    * O(spanTokens × corpus tokens) with uniform keys — no hot-key
    * quadratic blowup is possible because occurrences never pair.
    */
  def removeCrossDocSpans(docs: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int = 20): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("_tk"))
    val wins = spanWindowHashes(toks, idCol, spanTokens)
    // the KEEP-FIRST cut: ≥2 distinct docs (min < max — one
    // partial-combining agg, no count-distinct Expand), keeper exempt
    val dup = wins.groupBy(col("_h"))
      .agg(min(col(idCol)).as("_keeper"), max(col(idCol)).as("_mx"))
      .filter(col("_mx") > col("_keeper"))
      .select(col("_h"), col("_keeper"))
    val starts = wins.join(dup, Seq("_h"))
      .filter(col(idCol) =!= col("_keeper"))
      .select(col(idCol), col("_pos"))
    removeAtStarts(toks, starts, idCol, spanTokens)
  }

  /** Duplicate-cluster resolution: given candidate pairs (doc_a, doc_b),
    * assign every doc the minimum id reachable through the pair graph
    * (connected components) — the survivor selection step a real dedup
    * pipeline needs after candidate generation.
    *
    * Each iteration combines edge propagation (my label = min of my and my
    * neighbors' labels) with POINTER JUMPING (then follow my label's label),
    * so chain depth halves per round and convergence is O(log diameter):
    * the default 16 iterations cover any graph a 2^16-deep chain could
    * produce. The superseded label generation is unpersisted each round and
    * lineage is cut by localCheckpoint every few rounds (without it the
    * plan doubles per iteration). Throws if `maxIters` is hit before the
    * fixpoint — silently returning split clusters would keep extra
    * "survivors" with no warning.
    *
    * Returns (id, cluster) for every id appearing in `pairs`.
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 16): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // undirected edge list, both directions
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist(lvl)
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), col("src")).as("cluster"))
      .select(col("id"), least(col("cluster"), col("id")).as("cluster"))
      .persist(lvl)
    // no edges → no clusters: skip the loop's per-iteration jobs (a
    // pipeline whose dedup stage finds nothing still paid them — pure
    // scheduling overhead on an empty frame)
    if (labels.isEmpty) {
      edges.unpersist(blocking = false)
      val out = labels.localCheckpoint(true)
      labels.unpersist(blocking = false)
      return out
    }
    var i = 0
    var converged = false
    try {
    while (i < maxIters && !converged) {
      // (1) edge propagation: min over my own and my neighbors' labels
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("cluster", "ncluster"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("ncluster")).as("ncluster"))
      val propagated = labels.join(neighborLabels, Seq("id"), "left")
        .select(col("id"), least(col("cluster"), coalesce(col("ncluster"), col("cluster"))).as("cluster"))
      // (2) pointer jumping: follow my label's own label (join labels
      // against labels) — this is what turns O(diameter) into O(log)
      val parents = propagated.select(col("id").as("p_id"), col("cluster").as("p_cluster"))
      val jumped = propagated.join(parents, propagated("cluster") === parents("p_id"), "left")
        .select(propagated("id"),
          least(propagated("cluster"), coalesce(col("p_cluster"), propagated("cluster"))).as("cluster"))
      // cut lineage every 4 rounds; persist otherwise
      val next =
        if (i % 4 == 3) jumped.localCheckpoint(true)
        else jumped.persist(lvl)
      // fixpoint check: one action per iteration (count of changed labels)
      val changed = next.join(labels.withColumnRenamed("cluster", "old"), "id")
        .filter(col("cluster") =!= col("old")).count()
      labels.unpersist(blocking = false) // release the superseded generation
      labels = next
      converged = changed == 0
      i += 1
    }
    } catch {
      // a failed iteration (or interrupt) must not strand the persisted
      // edge/label generations in the cache for the life of the app
      case t: Throwable =>
        labels.unpersist(blocking = false)
        edges.unpersist(blocking = false)
        throw t
    }
    edges.unpersist(blocking = false)
    if (!converged) {
      labels.unpersist(blocking = false)
      throw new IllegalStateException(
        s"duplicateClusters: no fixpoint after $maxIters iterations " +
          s"(graph diameter > 2^$maxIters is implausible; check the pair input)")
    }
    // MATERIALIZE-THEN-RELEASE (the ql50b/CrawlState.save discipline):
    // returning the persisted generation pins a MEMORY_AND_DISK cache
    // for the life of the app PER CALL — every keep-best dedup
    // (ql42/ql50/ql63, emitPretrainCorpus) would leak one cluster cache
    // per invocation. The converged labels are pair-ids-sized and
    // already computed (the fixpoint count ran them), so the eager
    // localCheckpoint is one small job and the cache entry dies here.
    val out = labels.localCheckpoint(true)
    labels.unpersist(blocking = false)
    out
  }

  /** Keep one survivor per duplicate cluster: the minimum doc id. Docs not
    * in any pair survive untouched.
    */
  /** Contract: `pairs` ids must be drawn from `df` — a cluster whose MIN
    * id is absent from `df` (pairs built on a superset, df pre-filtered
    * afterwards) loses ALL its members here (everyone is a "loser" of an
    * absent winner), where [[dedupKeepBest]] keeps the best PRESENT row.
    * Generate pairs from the frame you dedup, or use keep-best.
    */
  def dedupKeepFirst(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
    val losers = clusters.filter(col("id") =!= col("cluster")).select(col("id"))
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** QUALITY-AWARE survivor selection: per duplicate cluster keep the row
    * with the highest `scoreCol` (ties → minimum id), instead of
    * [[dedupKeepFirst]]'s blind min-id — what a real pipeline wants when a
    * quality signal exists (keep the cleanest copy, drop the rest). Docs
    * not in any pair survive untouched. Two partial-combining aggregations
    * (max score per cluster, then min id among the max-score rows) — both
    * map-side combine, no windows, so per-cluster state is O(1) at any
    * cluster size.
    */
  def dedupKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
                    scoreCol: String): DataFrame = {
    val clusters = duplicateClusters(pairs)
    // nothing clustered → everyone survives; skip three join/agg jobs.
    // Match the join path's column order (USING join puts idCol first) so
    // the output schema does not depend on whether duplicates were found,
    // and release the persisted empty labels frame we are discarding
    if (clusters.isEmpty) {
      clusters.unpersist(blocking = false)
      return df.select(col(idCol) +:
        df.columns.filterNot(_ == idCol).map(col).toSeq: _*)
    }
    val withCluster = df
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("_cl", coalesce(col("cluster"), col(idCol))) // singleton = own cluster
    // round 21 (guide §3.1): both survivor joins key the FULL-WIDTH
    // corpus rows against tiny per-cluster aggregates ((_cl, score) /
    // (_cl, id) — bounded by the cluster count, ~16 B rows); the default
    // SortMergeJoin sorted the wide side twice for nothing. shuffle_hash
    // builds the aggregate side per partition and STREAMS the wide rows
    // — identical rows out, two wide-side Sorts gone.
    val bestScore = withCluster.groupBy(col("_cl"))
      .agg(max(col(scoreCol)).as("_ms")).hint("shuffle_hash")
    // null-safe <=>: a cluster whose scores are ALL null must still keep
    // a survivor (min id) — plain === would silently drop the whole group
    val keep = withCluster.join(bestScore, Seq("_cl"))
      .filter(col(scoreCol) <=> col("_ms"))
      .groupBy(col("_cl")).agg(min(col(idCol)).as("_keep")).hint("shuffle_hash")
    withCluster.join(keep, Seq("_cl"))
      .filter(col(idCol) === col("_keep"))
      .drop("_cl", "cluster", "_keep")
  }

  /** URL-level dedup — the crawl-identity step BEFORE any content dedup:
    * one survivor per CANONICAL url ([[TextAnalysis.canonicalizeUrl]]
    * collapses case/www/port/fragment/tracking-param/slash variants), the
    * highest-`scoreCol` copy winning with ties → minimum id (the
    * [[dedupKeepBest]] discipline, keyed by the canonical form instead
    * of pair clusters — re-crawls of one page need no similarity join at
    * all). Rows with a NULL url survive untouched (no identity to
    * collapse on).
    *
    * ONE-PASS shape (VERDICT r11 #3 — the two-agg + union form scanned
    * the corpus FOUR times, re-running the ~10-regex canonicalization
    * chain on every scan): the winner per canonical url is a SINGLE
    * partial-combining aggregation over a narrow (curl, score, id)
    * projection — `max(struct(score, -id))` encodes "max score, ties →
    * min id" in one lexicographic struct ordering (a null score sorts
    * below any value, so mixed groups pick a scored row and all-null
    * groups still keep their min-id survivor) — then ONE join-back
    * selects survivors, so the canonicalization chain runs exactly TWICE
    * (winner derivation + join-back; shape-gated ≤2 scans,
    * `PlanShapeSpec`). O(1) per-key agg state, no windows; the agg
    * Exchange carries only (curl, score, id), and the join-back is the
    * operator's one full-row hash join (the winner dim broadcasts below
    * the threshold; keyed beyond it).
    *
    * `idCol` must be NUMERIC, non-null and (for longs) above
    * `Long.MinValue` — the tie-break negates it. LOUD-GUARDED (the
    * nbTrain raise_error convention, ADVICE r13): a NULL id would make
    * the group's winner `_keep` NULL and the join-back filter would then
    * silently drop the ENTIRE canonical-url group (every copy of that
    * page, not just the bad row), and `-Long.MinValue` overflows back to
    * `Long.MinValue`, silently inverting the min-id tie-break. Both now
    * raise at execution instead.
    */
  def dedupByCanonicalUrl(df: DataFrame, idCol: String, urlCol: String,
                          scoreCol: String): DataFrame = {
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"dedupByCanonicalUrl: $idCol must be numeric (the keep-best tie-break " +
        s"negates it), got ${df.schema(idCol).dataType.sql}")
    val keyed = df.withColumn("_curl",
      graft.llm.TextAnalysis.canonicalizeUrl(col(urlCol)))
    // the guard rides the one id read inside the winner aggregation, so
    // it costs nothing extra and cannot be pruned away from the path
    // whose correctness it protects. The overflow bound is the id TYPE's
    // own MinValue (negating Int.MinValue overflows at integer width —
    // comparing only against Long.MinValue would miss it)
    import org.apache.spark.sql.types._
    val negOverflow = df.schema(idCol).dataType match {
      case LongType => Some(lit(Long.MinValue))
      case IntegerType => Some(lit(Int.MinValue))
      case ShortType => Some(lit(Short.MinValue))
      case ByteType => Some(lit(Byte.MinValue))
      case _ => None // fractional types negate without overflow
    }
    val badId = negOverflow.foldLeft(col(idCol).isNull)((c, m) => c || col(idCol) === m)
    val guardedId = when(badId,
      raise_error(concat(
        lit(s"dedupByCanonicalUrl: $idCol must be non-null and above the id " +
          "type's MinValue (the keep-best tie-break negates it), got "),
        coalesce(col(idCol).cast("string"), lit("NULL"))))
        .cast(df.schema(idCol).dataType))
      .otherwise(col(idCol))
    val keep = keyed.filter(col("_curl").isNotNull)
      .groupBy(col("_curl"))
      .agg(max(struct(col(scoreCol).as("_s"), (-guardedId).as("_ni"))).as("_w"))
      .select(col("_curl"), (-col("_w._ni")).as("_keep"))
    // LEFT join: null-curl rows have no join partner (null keys never
    // match) and pass the isNull arm untouched; every non-null curl has
    // exactly one winner row
    keyed.join(keep, Seq("_curl"), "left")
      .filter(col("_curl").isNull || col(idCol) === col("_keep"))
      .drop("_curl", "_keep")
  }

  /** Word n-gram (shingle) array (same short-input guard as charNgrams).
    * DISTINCT in first-occurrence order — shingle-SET semantics for the
    * Jaccard/decontamination family. Gram generation is the fused
    * [[graft.functions.Ngrams.wordNgramsJoin]] expression (the
    * interpreted transform/slice/array_join HOF it replaces profiled at
    * ~80% of the bigram scoring wall-clock — `BASELINE.md` round 10);
    * `array_distinct` preserves the HOF's first-occurrence order.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(graft.functions.Ngrams.wordNgramsJoin(toks, n)))
  }
}
