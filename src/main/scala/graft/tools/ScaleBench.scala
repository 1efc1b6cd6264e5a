package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof harness (VERDICT r2 #8): synthesize a `copies`× corpus from
  * sf0.1 (≈ sf1 at the default 10) and measure per-query scaling factors
  * for the heavy headline queries. Sub-linear-in-time / linear-in-work is
  * the pass bar — a query whose runtime grows faster than the data signals
  * a shuffle or candidate blowup that would kill it at 100 TB.
  *
  * Scaling preserves per-key densities instead of duplicating rows
  * verbatim:
  *  - fact tables shift their keys per copy (orders/customer/lineitem/
  *    events), so joins keep constant fan-out per key and as-of windows
  *    keep constant candidate sets — output grows linearly;
  *  - documents salt every token per copy, so MinHash/token dedup finds no
  *    cross-copy duplicates (verbatim copies would inflate candidate pairs
  *    quadratically and measure data pathology, not the operator).
  *
  * Usage: runMain graft.tools.ScaleBench [baseDir] [outDir] [copies]
  * Prints one JSON line: per-query seconds at 1x and Nx + the time ratio.
  */
object ScaleBench {

  val queries: Seq[String] = Seq(
    "qa1_grouped_agg", "qw2_running_sum", "qj2_join_3way",
    "qx1_asof_join", "ql5_token_set_dups", "ql6_minhash_candidates",
    "ql1_exact_dedup", "ql8_quality", "ql16_jaccard_pairs",
    // corpus-wide round-3 ops: benchmark slice stays fixed (only copy 0
    // has doc_id < 10) while the corpus grows — the realistic shape
    "ql19_decontaminate", "ql20_paragraph_dedup",
    // ANN surface (round 5): a FIXED query set (vec_id < 10 lives only in
    // copy 0) against a corpus growing 10x — LSH/IVF bucket occupancy and
    // the near-dup self-join grow linearly; the k-bounded aggregate tails
    // must keep the shuffles flat
    "ql11_ann_topk", "ql12_ivf_topk", "ql14_embedding_neardup",
    // round-6 ops: token salting keeps cross-copy text disjoint, so the
    // tfidf vocabulary and boilerplate line-df tables grow linearly while
    // chunking stays a pure map; the quantized ANN query set is fixed
    // (vec_id < 10 lives only in copy 0) against a 10x corpus
    "ql25_tfidf", "ql28_token_chunks", "ql29_boilerplate", "ql27_quantized_topk",
    // ql65: the PQ sibling of ql27 — fixed query set (vec_id < 10, copy 0
    // only) ADC-scored against a 10x corpus of 16-byte codes; train is a
    // bounded 2048-sample TakeOrdered + driver Lloyd, encode+score ride
    // the scan, so the row must track the scan near-linearly
    "ql65_pq_topk",
    // ql66: the composed IVFPQ layout — the IVF bucket join prunes the
    // ADC scoring to nprobe/k of the corpus, so the row must track the
    // scan like ql65 while doing strictly less pair work per candidate
    "ql66_ivfpq_topk",
    // ql67: BM25 retrieval — postings ride the scan, the query-vocab
    // prune bounds every Exchange by matched posting lists (which grow
    // linearly with the corpus for a fixed query set), so the row must
    // track the scan near-linearly; a super-linear ratio would mean the
    // df agg or the (query, doc) agg stopped pruning
    "ql67_bm25_topk",
    // ql68: DSIR selection — position probes and both model estimations
    // grow with the corpus but stay map-side-combinable; the models are
    // vocab-sized broadcasts and the tail is bounded TakeOrdered, so the
    // row must track the scan near-linearly (a super-linear ratio would
    // mean a model dim outgrew its broadcast or the agg stopped
    // combining)
    "ql68_dsir_select",
    // ql69: E-S weighted sampling — scan-riding key + one rank-window
    // Exchange whose WindowGroupLimit bounds every task to nPerGroup
    // rows, so the row must track the scan
    "ql69_weighted_sample",
    // qm4: frame slicing is a pure scan-riding projection (container
    // synthesis + substring per sampled frame), so the row must track
    // the corpus scan with zero shuffle growth
    "qm4_frame_sample",
    // qm5: the ragged sibling — element_at + substring over the same
    // Generate; the per-frame index adds two narrow array columns to the
    // projection and nothing to any Exchange, so the row must track qm4
    "qm5_frame_sample_ragged",
    // qm6: in-plan WAV synthesis through the real RIFF parser + the
    // codegen'd audiohash64 — per-row work (260 XXH64 chains + the RIFF
    // parse per doc), must track the corpus scan with zero shuffle growth
    "qm6_audio_fingerprint",
    // qm7: in-plan AVI synthesis through the real container walker +
    // ragged slice — per-row work, must track the corpus scan
    "qm7_avi_demux",
    // qm8: the banded frame-hash join — media ids are base·2(+1)
    // (collision-free at the 10x id range), per-video frame hashes are
    // id-derived so cross-copy candidates are noise-level; the chain
    // must scale ~linearly like qm3
    "qm8_video_neardup",
    // ql70: PMI collocations — generator count aggs grow with the
    // corpus but partial-combine into vocab-sized tables, so the row
    // must track the scan
    "ql70_collocations",
    // round-7 scale evidence: ql30 (IVF cells ∝ n — the growth-safety
    // flagship) and ql32 (auto-derived planes) are the two designed fixes
    // for ql14's fixed-planes super-linear; ql22/ql26 are budget/cap ops
    // whose SELECTED set stays bounded while the scanned corpus grows;
    // qx11 is a pure one-agg histogram that must stay near-flat
    "ql30_ivf_neardup", "ql32_neardup_autoplanes", "ql22_mix_budget",
    "ql26_source_cap", "qx11_histogram",
    // NN-Descent graph build: O(n·buildK²·dim) per iteration by design —
    // the measured row demonstrates the full-graph build (the query's
    // oracle slice filters to planted clones, but the GRAPH is built over
    // the whole corpus)
    "ql34_knn_descent",
    // repeated-span removal: window table ~ total tokens, md5-keyed df
    // agg + per-doc coverage window — everything linear in corpus tokens
    "ql35_repeated_spans",
    // round-8 ops: ql39 = descent build (iters=1) + beam search for a
    // FIXED query set over the growing corpus; ql41/ql43/ql44 are
    // scan-riding join-agg shapes (token/bigram/LM-position explode +
    // broadcast dims) that must stay linear; ql42 composes the ql30
    // IVF candidates through pointer-jumping clusters — the growth-safe
    // SemDeDup path end to end
    "ql39_graph_search", "ql41_linear_bigram", "ql42_semantic_dedup",
    "ql43_lm_score", "ql44_domain_stats",
    // ql45: the fused per-doc n-gram battery plus md5-keyed line/para
    // aggs — pure corpus-linear work, must scale ~flat in time at 10×
    "ql45_gopher_repetition",
    // ql47: the exact rank form's per-language sort — the DOCUMENTED
    // skew boundary; the measured row shows what the sort costs as the
    // corpus grows (the approx form is the 100 TB path)
    "ql47_percentile_buckets",
    // ql49: two-phase prefix sum + bounded span explode — linear
    "ql49_pack_sequences",
    // ql50: the composed pipeline — its cost is the gate prefix scanning
    // the growing corpus (survivor set fixed), so time must grow ~with
    // the scan, never with pairs/clusters
    "ql50_pretrain_pipeline",
    // the 100 TB calling convention for the same pipeline: materialize =
    // false, survivors WRITTEN to parquet (a real sink, not noop), caller
    // clears the cache — and the harness asserts no cached blocks outlive
    // the run (the lifecycle PipelinesSpec pins at unit scale)
    "ql50_pretrain_sink",
    // round-10 rows: ql51 is a fused scan-riding sketch (must stay ~flat);
    // ql52's banded self-join carries the corpus's duplicate structure —
    // candidate volume, not runtime, is the scale story (BASELINE.md
    // band-width A/B); ql53's shingle-level banding must keep candidates
    // ∝ true near-dups as the corpus grows (the token-banded form it
    // replaced measured 28 s at 1× — BASELINE.md)
    "ql51_winnowing", "ql52_simhash_candidates", "ql53_ngram_jaccard",
    // round-11: incremental graph maintenance — a FIXED 200-vector batch
    // (vec_id < 200 lives only in copy 0) inserted into a graph built
    // over the growing remainder; the graph BUILD is setup (untimed,
    // cached per dir) — the measured work is placement beam search +
    // affected-set refinement, which must scale with the batch and the
    // narrow corpus edge table, never with a rebuild
    "knn_insert",
    // ql54: n-gram counting — every Exchange carries vocabulary rows (one
    // per distinct n-gram after partial agg), so time tracks the scan and
    // the vocab growth; token salting makes each copy's vocab disjoint
    // (worst case for the agg tables — a real corpus grows sub-linearly)
    "ql54_lm_estimate",
    // ql55: FIXED benchmark (vec_id < 20 lives only in copy 0) broadcast
    // against a growing corpus — probe-join work is corpus-linear (cells
    // ∝ corpus keeps per-bucket density constant), anti-join ids narrow
    "ql55_semantic_decon",
    // ql56: broadcast rate dim + scan-riding copy explode — must stay
    // ~flat per row (output grows with the corpus, work is one scan)
    "ql56_mixture_sample",
    // ql57: LM train + score + bucket — model aggs vocabulary-sized,
    // scoring probes broadcast dims, the per-language sort is the
    // documented boundary; time must track the scan, never pairs
    "ql57_ccnet_buckets",
    // ql58: component explode + (group, pos) agg — Exchange rows ∝
    // groups × dim, so time tracks the scan as the corpus grows
    "ql58_mean_embedding",
    // ql61: NB train + classify — count aggs vocabulary-sized, scoring
    // probes broadcast model dims; time must track the scan
    "ql61_nb_classify",
    // ql62: sketch-sized inverted-index join — token salting keeps
    // cross-copy sketches disjoint, so pairs track true near-dups
    "ql62_winnow_pairs",
    // ql63: canonical-key aggs — O(1) per-key state, time tracks the scan
    "ql63_url_dedup",
    // round-14 rows (VERDICT r13 #4 — the six argued-not-measured ops):
    // qx13: splittable text scan + from_csv projection — the round-trip
    // (write + parse) is the cost; must track bytes, never worse
    "qx13_csv_roundtrip",
    // qt5: struct-min first-row-per-key — partial agg sends <=1 row per
    // key per task into ONE keyed Exchange; keys grow linearly (per-copy
    // user shift), so time must track the scan
    "qt5_first_seen",
    // ql44b: PSL longest-match rides the scan (rule dim in the task
    // binary), ONE bounded registrable-domain agg — near-flat per row
    "ql44b_domain_stats_psl",
    // ql59: RE2 sentence extraction + posexplode riding the scan — pure
    // per-row work, linear
    "ql59_sentences",
    // ql60: token-explode count agg with vocabulary-sized Exchanges —
    // token salting makes each copy's vocab disjoint (worst case for the
    // count tables, the ql54 argument)
    "ql60_nb_train",
    // qm3: the banded perceptual pair join — media ids are bit-shifted
    // (collision-free at the 10x id range), per-copy pixel hashes are
    // independent so cross-copy candidates are noise-level; fixture
    // synthesis (1,152 XXH64 pixels/image) dominates the row and is
    // itself per-row work, so the whole chain must scale ~linearly
    "qm3_perceptual_neardup",
    // incremental pretrain lifecycle: a FIXED batch (doc_id < 500, copy 0
    // only) appended to a crawl state whose frames live ON PARQUET (the
    // production layout; building them is untimed setup). The timed work
    // is the batch gates + ONE band join against the narrow index + the
    // model merges — old corpus TEXT is never re-read, so time must track
    // the batch plus narrow index/model scans, never the corpus re-stage
    // that pretrainCorpus(union) would pay
    // ql71: cross-doc span removal — window hashes ride the scan, the
    // keeper cut is one partial-combining min/max agg, coverage is the
    // fused difference-array; salted copies share no cross-copy grams,
    // so work (and the within-copy organic dup sets) grows linearly —
    // a super-linear ratio would mean the gram join stopped pruning
    "ql71_crossdoc_spans",
    "pretrain_append",
    // image_decode: REAL PNG bytes (setup-generated from the documents
    // ids, planted 2x-upscale + brightness re-encodes) through
    // decodeImage's mapPartitions codec boundary + dHash — the decode
    // throughput row (MB/s/core in the detail object) the 100 TB sizing
    // needs; per-row work, must scale ~linearly
    "image_decode",
    // image_dedup: the one-call dedupImagesPerceptual over the same real
    // PNGs — decode + banded pair join + keep-best end to end; pairs
    // track planted copies (ids are collision-free at any scale), so the
    // row must track the decode scan, never pairs
    "image_dedup",
    // audio_decode: REAL WAV bytes (setup-generated, planted 4x-volume +
    // stereo re-encodes) through decodeWavPcm's RIFF parser + the
    // codegen'd audiohash64 — the audio decode-throughput row; per-row
    // work, must scale ~linearly
    "audio_decode",
    // audio_dedup: the one-call dedupAudioPerceptual over the same WAVs —
    // parse + banded pair join + keep-best end to end; pairs track the
    // planted copies, so the row must track the decode scan
    "audio_dedup",
    // nightly_loop: the COMPOSED nightly lifecycle against a 10x
    // on-parquet CrawlState — load -> append(fixed batch) -> takedown
    // (fixed id list) -> write the advanced evidence + batch-sized
    // staged delta + model snapshots to a real parquet sink. Per-phase
    // walls in the detail object. Production appends write batch
    // partitions, never a corpus rewrite (the bm25_append argument), so
    // the row must track batch + narrow index/model scans — far under 10
    "nightly_loop",
    // bm25_append: a FIXED batch (500 docs) absorbed into an on-parquet
    // BM25 index built from the remainder (setup, untimed — a production
    // index exists before any batch arrives). Timed work: the
    // disjointness guard's ONE column-pruned id scan of the index
    // (streamed against the broadcast batch-id set — no index-side
    // Exchange), the batch's own postings build (tokenize 500 docs), and
    // the stats add. The index-sized term is a narrow scan, so the 10×
    // ratio must stay far under 10 — a ratio near 10 would mean an
    // index-sized shuffle crept back into the append path
    "bm25_append",
    // the delete half: a FIXED takedown list (500 ids) retracted from the
    // same on-parquet state. The timed work is the model subtraction
    // (model-sized aggs) plus ONE column-pruned semi-join scan of staged
    // to re-read only the removed rows' text — so time tracks the narrow
    // staged scan, never a re-stage; the anti-join narrows are lazy
    // projections the next consumer pays
    "pretrain_remove",
    // bm25_remove: the lexical-index takedown — a FIXED 500-id list
    // retracted from the same on-parquet index bm25_append uses (setup,
    // untimed). Timed work: ONE column-pruned semi-join recovers the
    // removed docs' (N, Σdl) from the index's own postings, the
    // anti-join narrows the postings, stats subtract — index-sized terms
    // are narrow scans, so the 10× ratio must stay far under 10
    "bm25_remove",
    // qm10: image near-dup by shared tile hashes — in-plan grid
    // synthesis, per-tile dHash (a Generate + aggregate-of-substrings
    // projection riding the scan), then the banded shared-tile join; ids
    // are base·4(+1) (collision-free at the 10x id range) and pixels are
    // id-derived, so cross-copy candidates are noise-level — the chain
    // must scale ~linearly like qm8/qm9 (its temporal siblings)
    "qm10_image_tile_neardup",
    // qm13: strided tile near-dup — qm10's chain at hop = tile/2 (9 vs
    // 4 tiles/image, the priced hop-factor row growth); planted pairs
    // are id-keyed so the chain must scale ~linearly like qm10
    "qm13_image_tile_strided",
    // qm12: exact area-average resize — in-plan grid synthesis through
    // the codegen'd resize projection (one scan, no shuffles beyond the
    // harness sort); must scale ~linearly with the corpus
    "qm12_resize_gray",
    // qm11: video soundtrack near-dup — in-plan two-stream AVI synthesis
    // through the real hdrl walk + wb-span concat + PCM downmix, then the
    // qm9 segment chain; ids are base·2(+1) and samples are id-derived,
    // so cross-copy candidates are noise-level — must scale ~linearly
    // like qm9 (same join family, same synthesis dominance)
    "qm11_video_soundtrack_neardup",
    // qm14: rate-normalized audio near-dup — the qm9 chain with the
    // codegen'd resample in the decode projection; rows are id-keyed so
    // the chain must scale ~linearly like qm9/qm11
    "qm14_audio_rate_neardup",
    // qm15: RGB resize — the qm12 scan-riding projection with 3x the
    // synthesized bytes per doc; must scale ~linearly like qm12
    "qm15_resize_rgb",
    // qm16: crop-robust video near-dup — the qm10 tile chain behind the
    // AVI demux with a frame axis (8 tiles/video + 4/crop); ~linear
    "qm16_video_tile_neardup",
    // qm17: pooled embedding — the qm15 scan-riding projection with the
    // pooling aggregates + one explode; must scale ~linearly like qm15
    "qm17_pooled_embedding",
    // qm9: segment-level audio near-dup — in-plan WAV synthesis through
    // the real RIFF parser, windowed segment hashes (a Generate +
    // substring projection riding the scan), then the banded
    // shared-segment join; ids are base·2(+1) (collision-free at the 10x
    // id range) and per-clip samples are id-derived, so cross-copy
    // candidates are noise-level — the chain must scale ~linearly like
    // qm8 (its frame-axis sibling)
    "qm9_audio_neardup",
    // perceptual_cap: the BOUNDED-BUCKET row VERDICT r17 #1 names — real
    // PNGs with 10% planted SOLID-COLOR images (every solid image, any
    // gray level, dHashes to the same all-zero signature: block means are
    // equal so every comparison bit is 0 — the black-frame/silence
    // saturation a real crawl is full of). The timed run is the one-call
    // dedupImagesPerceptual with maxBucketSize = 4: the df-cut bounds the
    // saturated bucket to its first 4 arrivals, so pairs and wall-clock
    // must track the corpus (~linear), while the UNCAPPED pair count in
    // the detail object grows ~quadratically in the solid set (the
    // StreamStateBench 100.2x blowup, now measured on the BATCH path)
    "perceptual_cap",
    // audio_segment_dedup: the one-call dedupAudioBySegments over the
    // SAME real-WAV fixture audio_dedup uses — decode + windowed segment
    // hashes (7 windows/clip at 2000/1000 over the 8000-sample clips) +
    // banded shared-segment join + keep-best end to end; planted
    // re-levels/stereo re-encodes are sample-stream-identical so every
    // window realigns; pairs track the planted copies, so the row must
    // track the decode scan like audio_dedup
    "audio_segment_dedup",
    // lsh_cap: the perceptual_cap construction on the TEXT axis — every
    // 10th doc's text replaced in-plan by ONE shared boilerplate string
    // (the mass-duplicate class; the plant survives the 10x token
    // salting, so the hot bucket grows with the corpus: 500 -> 5,000
    // members in one signature bucket per band). Timed run =
    // minHashLshCandidates with maxBucketSize = 8: pairs and wall-clock
    // must track the corpus; the UNCAPPED pair counts in the detail
    // object grow ~quadratically in the hot set
    "lsh_cap",
    // emb_cap: the same construction on the EMBEDDING axis — every 10th
    // vector replaced in-plan by ONE constant vector (the failed-encode /
    // default-embedding class: identical vectors collide in EVERY
    // hyperplane table at ANY planes, so auto-planes occupancy math
    // cannot bound the bucket). Timed run = cosineNearDupPairsAuto with
    // maxBucketSize = 8: wall-clock must track the corpus; uncapped pair
    // counts in the detail grow ~quadratically in the hot set
    "emb_cap",
    // ivf_cap: the IVF-cell sibling of emb_cap — the same 10% constant
    // vectors all share ONE nearest centroid at any k (cells bound
    // ORGANIC occupancy only), so the within-cell self-join goes
    // quadratic in the hot set. Index train is SETUP (cached per dir —
    // a production index exists before any dedup pass); timed run =
    // ivfNearDupPairs with maxBucketSize = 8
    "ivf_cap")

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale10x"
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated subset (re-measure single rows
    // without paying the full battery)
    val queries = if (args.length > 3) {
      val want = args(3).split(',').toSet
      this.queries.filter(want.contains)
    } else this.queries
    // the 1x baseline is REWRITTEN through the same writer as the Nx
    // corpus: the driver-generated sf dirs are single pandas-written files
    // whose scan parallelism differs from Spark-written multi-file output —
    // timing against them would measure file layout, not data scaling
    val base1x = s"$out-1x"
    val cpus = graft.GraftSession.cpus()
    val spark = graft.GraftSession.local(cpus)

    if (!new java.io.File(s"$out/_DONE").exists()) generate(spark, base, out, copies)
    if (!new java.io.File(s"$base1x/_DONE").exists()) generate(spark, base, base1x, 1)

    // ql50 with a WRITTEN sink: the pipeline stays lazy (materialize =
    // false — the caller owns the cache lifecycle), survivors land in
    // parquet, then the caller clears the cache. The MEANINGFUL assertion
    // is the precondition: the write must have left the gate cache
    // populated (proving the lazy form really hands the caller a cache to
    // manage — if a refactor silently stopped persisting, the 66 s → 6 s
    // recompute fan-out would return unnoticed). Checking isEmpty AFTER
    // clearCache would be vacuously true.
    def runSink(dir: String): Unit = {
      // isolate before the write so the populated-cache postcondition is
      // attributable to THIS pipeline, not a cached-block leak from an
      // earlier query in the battery (mirrors PipelinesSpec's isolation)
      spark.sqlContext.clearCache()
      val docs = graft.sources.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.llm.Pipelines.pretrainCorpus(docs, materialize = false)
        .write.mode("overwrite").parquet(s"$out-sink")
      require(!spark.sharedState.cacheManager.isEmpty,
        "ql50_pretrain_sink: the lazy pipeline no longer persists its gate boundary")
      spark.sqlContext.clearCache()
    }

    // knn_insert: the graph BUILD over the scaled remainder is SETUP
    // (cached per dir, untimed — a production graph exists before any
    // batch arrives); the measured run is insert() of the fixed batch.
    // Edges are persisted so timed runs don't re-derive the build.
    val insertSetups = scala.collection.mutable.Map[String,
      (graft.llm.Similarity.KnnGraph, DataFrame, DataFrame)]()
    def knnInsertSetup(dir: String) = insertSetups.getOrElseUpdate(dir, {
      val emb = graft.sources.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val batch = emb.filter(col("vec_id") < 200)
      // corpus deliberately NOT persisted: runSink's battery-isolation
      // clearCache would drop the cache anyway depending on row order,
      // making the measurement order-dependent — and at fleet scale the
      // embedding-fetch joins DO read the corpus table, so parquet scans
      // inside the timing are the honest shape
      val corpus = emb.filter(col("vec_id") >= 200)
      val n = corpus.count()
      val g = graft.llm.Similarity.KnnGraph.build(corpus, k = 8, dim = 64,
        iters = 1, corpusSize = Some(n))
      (g, corpus, batch)
    })
    def runKnnInsert(dir: String): Unit = {
      val (g, corpus, batch) = knnInsertSetup(dir)
      g.insert(batch, corpus, refineIters = 1, batchSize = Some(200L))
        .edges.write.format("noop").mode("overwrite").save()
    }

    // pretrain_append: state frames are materialized to parquet ONCE per
    // dir (setup, untimed — a production crawl state exists on disk
    // before any batch arrives); the timed run appends the fixed batch
    // and noop-writes the advanced evidence frames (pairs + both
    // models — the new index/staged rows are the batch's own, computed
    // on the pairs path). clearCache bounds the per-call gate persists.
    def appendState(dir: String): (graft.llm.Pipelines.CrawlState, DataFrame) = {
      val docs = graft.sources.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val batch = docs.filter(col("doc_id") < 500)
      // state lives under /tmp keyed by the source dir — never beside
      // read-only corpora (the warm pass runs against /root/testdata)
      val stateDir = s"/tmp/graft_crawlstate${dir.replace('/', '_')}"
      if (!new java.io.File(s"$stateDir/_DONE").exists()) {
        val st = graft.llm.Pipelines.initCrawlState(docs.filter(col("doc_id") >= 500))
        st.staged.write.mode("overwrite").parquet(s"$stateDir/staged")
        st.index.write.mode("overwrite").parquet(s"$stateDir/index")
        st.pairs.write.mode("overwrite").parquet(s"$stateDir/pairs")
        st.langModel.write.mode("overwrite").parquet(s"$stateDir/lm")
        st.nbModel.write.mode("overwrite").parquet(s"$stateDir/nb")
        spark.sqlContext.clearCache()
        new java.io.File(s"$stateDir/_DONE").createNewFile()
      }
      (graft.llm.Pipelines.CrawlState(graft.llm.Pipelines.CrawlParams(),
        spark.read.parquet(s"$stateDir/staged"),
        spark.read.parquet(s"$stateDir/index"),
        spark.read.parquet(s"$stateDir/pairs"),
        spark.read.parquet(s"$stateDir/lm"),
        spark.read.parquet(s"$stateDir/nb")), batch)
    }
    def runAppend(dir: String): Unit = {
      val (st, batch) = appendState(dir)
      val st2 = graft.llm.Pipelines.appendCrawlBatch(st, batch)
      st2.pairs.write.format("noop").mode("overwrite").save()
      st2.langModel.write.format("noop").mode("overwrite").save()
      st2.nbModel.write.format("noop").mode("overwrite").save()
      spark.sqlContext.clearCache()
    }

    // bm25_append: the index over the scaled remainder is SETUP (built
    // and parqueted once per dir, untimed); the timed run appends the
    // fixed 500-doc batch — guard probe + batch postings + stats add —
    // and noop-writes the batch-sized evidence frames (the production
    // append writes exactly the batch's postings as a new partition;
    // noop-writing the full union would time an index rewrite no real
    // append performs)
    val bm25Setups = scala.collection.mutable.Map[String,
      (graft.llm.TextAnalysis.Bm25Index, DataFrame)]()
    def bm25Setup(dir: String) = bm25Setups.getOrElseUpdate(dir, {
      val docs = graft.sources.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") < 500)
      val idxDir = s"/tmp/graft_bm25idx${dir.replace('/', '_')}"
      if (!new java.io.File(s"$idxDir/_DONE").exists()) {
        graft.llm.TextAnalysis.Bm25Index.save(
          graft.llm.TextAnalysis.Bm25Index.build(
            docs.filter(col("doc_id") >= 500), "doc_id", "text"), idxDir)
        new java.io.File(s"$idxDir/_DONE").createNewFile()
      }
      (graft.llm.TextAnalysis.Bm25Index.load(spark, idxDir), batch)
    })
    def runBm25Append(dir: String): Unit = {
      val (idx, batch) = bm25Setup(dir)
      val appended = graft.llm.TextAnalysis.Bm25Index.append(
        idx, batch, "doc_id", "text") // guard probe collects eagerly here
      appended.stats.write.format("noop").mode("overwrite").save()
      graft.llm.TextAnalysis.Bm25Index.build(batch, "doc_id", "text")
        .postings.write.format("noop").mode("overwrite").save()
    }

    // bm25_remove: reuses bm25_append's on-parquet index; the takedown
    // list is the indexed half of the append fixture's id space. The
    // advanced frames noop-write — stats force the semi-join recovery,
    // postings force the anti-join narrow.
    def runBm25Remove(dir: String): Unit = {
      val (idx, _) = bm25Setup(dir)
      val ids = graft.sources.Tables.load(spark, dir, "documents")
        .select(col("doc_id").as("id"))
        .filter(col("id") >= 500 && col("id") < 1000)
      val rem = graft.llm.TextAnalysis.Bm25Index.remove(idx, ids)
      rem.stats.write.format("noop").mode("overwrite").save()
      rem.postings.write.format("noop").mode("overwrite").save()
    }

    // image rows: REAL PNG bytes, setup-generated once per dir (untimed —
    // a production corpus arrives encoded; generation is the fixture).
    // Planted copies mirror qm3: every 3rd id a 2x nearest-neighbor
    // upscale, every 5th a +10 brightness shift — both dHash-invariant by
    // the uniform-block argument (72/144 divide by 9, 64/128 by 8;
    // pixel values stay <= 209 so brightness never clamps), so the dedup
    // really collapses re-encodes of the same picture.
    val imageSetups = scala.collection.mutable.Map[String, (String, Long, Long)]()
    def imageSetup(dir: String): (String, Long, Long) =
      imageSetups.getOrElseUpdate(dir, {
        val path = s"/tmp/graft_images${dir.replace('/', '_')}"
        if (!new java.io.File(s"$path/_DONE").exists()) {
          generateImages(spark, dir, path)
          new java.io.File(s"$path/_DONE").createNewFile()
        }
        val agg = spark.read.parquet(path)
          .agg(count(lit(1)), sum(length(col("bytes")))).head()
        (path, agg.getLong(0), agg.getLong(1))
      })
    def runImageDecode(dir: String): Unit = {
      val (path, _, _) = imageSetup(dir)
      val media = spark.read.parquet(path).select(col("media_id"), col("bytes"))
      val dec = graft.sources.Multimodal.decodeImage(media, "bytes")
      dec.select(col("media_id"),
          graft.sources.Multimodal.dHash64(col("gray"), col("width"), col("height"))
            .as("dh"))
        .write.format("noop").mode("overwrite").save()
    }
    def runImageDedup(dir: String): Unit = {
      val (path, n, _) = imageSetup(dir)
      val media = spark.read.parquet(path)
      graft.sources.Multimodal.dedupImagesPerceptual(media, "media_id", "bytes",
        "score", corpusSize = Some(n))
        .write.format("noop").mode("overwrite").save()
    }

    // audio rows: real WAV fixtures, setup-generated once per dir
    val audioSetups = scala.collection.mutable.Map[String, (String, Long, Long)]()
    def audioSetup(dir: String): (String, Long, Long) =
      audioSetups.getOrElseUpdate(dir, {
        val path = s"/tmp/graft_audio${dir.replace('/', '_')}"
        if (!new java.io.File(s"$path/_DONE").exists()) {
          generateAudio(spark, dir, path)
          new java.io.File(s"$path/_DONE").createNewFile()
        }
        val agg = spark.read.parquet(path)
          .agg(count(lit(1)), sum(length(col("bytes")))).head()
        (path, agg.getLong(0), agg.getLong(1))
      })
    def runAudioDecode(dir: String): Unit = {
      val (path, _, _) = audioSetup(dir)
      val media = spark.read.parquet(path).select(col("media_id"), col("bytes"))
      graft.sources.Multimodal.decodeWavPcm(media, "bytes")
        .select(col("media_id"),
          graft.sources.Multimodal.audioHash64(col("pcm")).as("ah"))
        .write.format("noop").mode("overwrite").save()
    }
    def runAudioDedup(dir: String): Unit = {
      val (path, n, _) = audioSetup(dir)
      val media = spark.read.parquet(path)
      graft.sources.Multimodal.dedupAudioPerceptual(media, "media_id", "bytes",
        "score", corpusSize = Some(n))
        .write.format("noop").mode("overwrite").save()
    }
    def runAudioSegDedup(dir: String): Unit = {
      val (path, n, _) = audioSetup(dir)
      val media = spark.read.parquet(path)
      graft.sources.Multimodal.dedupAudioBySegments(media, "media_id", "bytes",
        "score", windowSamples = 2000, hopSamples = 1000, corpusSize = Some(n))
        .write.format("noop").mode("overwrite").save()
    }

    // lsh_cap: the documents table with every 10th doc's text replaced
    // in-plan by one shared boilerplate string — no fixture needed
    def lshCapDocs(dir: String): DataFrame =
      graft.sources.Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0,
            lit("this exact boilerplate body repeats across the whole crawl " +
              "verbatim every time"))
            .otherwise(col("text")).as("text"))
    def runLshCap(dir: String): Unit =
      graft.llm.Dedup.minHashLshCandidates(lshCapDocs(dir), "doc_id", "text",
          maxBucketSize = 8)
        .write.format("noop").mode("overwrite").save()

    // emb_cap: the embeddings table with every 10th vector replaced
    // in-plan by one constant vector — identical across the salted
    // copies, so the hot hyperplane bucket grows with the corpus
    val embCapConst = array((1 to 64).map(j =>
      lit((((j * 13) % 17) - 8).toFloat / 8f)): _*)
    // per-dir cached (ADVICE r18): the corpus count is SETUP — it exists
    // precisely so cosineNearDupPairsAuto skips its own sizing pass, and
    // paying it inside the timed window made emb_cap measure a full
    // extra scan per iteration
    val embCapSetups = scala.collection.mutable.Map[String, (DataFrame, Long)]()
    def embCapVecs(dir: String): (DataFrame, Long) =
      embCapSetups.getOrElseUpdate(dir, {
        val emb = graft.sources.Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"),
            when(pmod(col("vec_id"), lit(10)) === 0, embCapConst)
              .otherwise(col("embedding")).as("embedding"))
        (emb, emb.count())
      })
    def runEmbCap(dir: String): Unit = {
      val (emb, n) = embCapVecs(dir)
      graft.llm.Similarity.cosineNearDupPairsAuto(emb, "vec_id",
          threshold = 0.9, dim = 64, corpusSize = Some(n), maxBucketSize = 8)
        .write.format("noop").mode("overwrite").save()
    }
    // ivf_cap: index trained once per dir over the planted frame (setup,
    // untimed); k ∝ √n — the ql30 assignment/pair-work optimum
    val ivfCapSetups = scala.collection.mutable.Map[String,
      (DataFrame, Long, graft.llm.Similarity.IvfIndex)]()
    def ivfCapSetup(dir: String) = ivfCapSetups.getOrElseUpdate(dir, {
      val (emb, n) = embCapVecs(dir)
      val k = math.max(16, math.min(1024, 2 * math.ceil(math.sqrt(n.toDouble)).toInt))
      (emb, n, graft.llm.Similarity.IvfIndex.train(emb, "vec_id", k = k))
    })
    def runIvfCap(dir: String): Unit = {
      val (emb, _, index) = ivfCapSetup(dir)
      graft.llm.Similarity.ivfNearDupPairs(emb, "vec_id", index,
          threshold = 0.9, maxBucketSize = 8)
        .write.format("noop").mode("overwrite").save()
    }

    // perceptual_cap: saturated-bucket fixture (real PNGs, 10% solid
    // color), setup-generated once per dir like the image rows
    val satSetups = scala.collection.mutable.Map[String, (String, Long)]()
    def satSetup(dir: String): (String, Long) = satSetups.getOrElseUpdate(dir, {
      val path = s"/tmp/graft_satimages${dir.replace('/', '_')}"
      if (!new java.io.File(s"$path/_DONE").exists()) {
        generateSaturatedImages(spark, dir, path)
        new java.io.File(s"$path/_DONE").createNewFile()
      }
      (path, spark.read.parquet(path).count())
    })
    // bands pinned to 4 so the band structure is IDENTICAL at 1x and 10x:
    // the only variable across scales is the bucket cap's effect (auto
    // bands would widen at 10x and conflate two mechanisms)
    def runPerceptualCap(dir: String): Unit = {
      val (path, _) = satSetup(dir)
      val media = spark.read.parquet(path)
      graft.sources.Multimodal.dedupImagesPerceptual(media, "media_id", "bytes",
        "score", bands = 4, maxBucketSize = 4)
        .write.format("noop").mode("overwrite").save()
    }

    // nightly_loop: state built + saved once per dir via the REAL
    // CrawlState.save API (untimed — the production state exists on disk
    // before any nightly run); the timed loop is load -> append ->
    // takedown -> evidence/delta/model writes. Phases keep their own
    // minima across the min-of-2 runs.
    val nightlySetups = scala.collection.mutable.Map[String, String]()
    def nightlySetup(dir: String): String = nightlySetups.getOrElseUpdate(dir, {
      val stateDir = s"/tmp/graft_nightly${dir.replace('/', '_')}"
      if (!new java.io.File(s"$stateDir/_DONE").exists()) {
        val docs = graft.sources.Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        graft.llm.Pipelines.initCrawlState(docs.filter(col("doc_id") >= 1500))
          .save(stateDir)
        spark.sqlContext.clearCache()
        new java.io.File(s"$stateDir/_DONE").createNewFile()
      }
      stateDir
    })
    val nightlyPhases = scala.collection.mutable.Map[(String, String), Double]()
    def runNightly(dir: String): Unit = {
      val stateDir = nightlySetup(dir)
      val scratch = s"/tmp/graft_nightly_out${dir.replace('/', '_')}"
      val docs = graft.sources.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val batch = docs.filter(col("doc_id") < 500)
      def phase[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        val sec = (System.nanoTime() - t0) / 1e9
        val k = (dir, name)
        nightlyPhases(k) = math.min(nightlyPhases.getOrElse(k, Double.MaxValue), sec)
        r
      }
      val st = phase("load") {
        graft.llm.Pipelines.CrawlState.load(spark, stateDir)
      }
      // append: the advanced evidence frames force (pairs = ONE band join
      // against the narrow index; models = model-sized merges), and the
      // BATCH's staged rows land in a real parquet sink — production
      // appends write batch partitions, never a corpus rewrite
      val st2 = phase("append") {
        val s2 = graft.llm.Pipelines.appendCrawlBatch(st, batch)
        s2.pairs.write.format("noop").mode("overwrite").save()
        s2.staged.filter(col("doc_id") < 500).write.mode("overwrite")
          .parquet(s"$scratch/staged_delta")
        s2
      }
      // takedown: a fixed 500-id retraction — models retreat by exact
      // subtraction (ONE column-pruned semi-join re-reads only the
      // removed rows' text), pairs die by anti-join
      val st3 = phase("takedown") {
        val ids = docs.filter(col("doc_id") >= 1500 && col("doc_id") < 2000)
          .select(col("doc_id"))
        val s3 = graft.llm.Pipelines.removeCrawlBatch(st2, ids)
        s3.pairs.write.format("noop").mode("overwrite").save()
        s3
      }
      // model snapshots to a real sink (vocab-sized writes)
      phase("save_models") {
        st3.langModel.write.mode("overwrite").parquet(s"$scratch/lm")
        st3.nbModel.write.mode("overwrite").parquet(s"$scratch/nb")
      }
      spark.sqlContext.clearCache()
    }

    // pretrain_remove: retract a fixed takedown list from the on-parquet
    // state (the setup appendState already built); the advanced evidence
    // frames noop-write like runAppend — pairs force the anti-join
    // narrows, the models force the subtraction (model aggs + ONE
    // column-pruned semi-join scan of staged for the removed rows' text)
    def runRemove(dir: String): Unit = {
      val (st, _) = appendState(dir)
      val ids = st.staged.select(col("doc_id")).filter(col("doc_id") < 1000)
      val st2 = graft.llm.Pipelines.removeCrawlBatch(st, ids)
      st2.pairs.write.format("noop").mode("overwrite").save()
      st2.langModel.write.format("noop").mode("overwrite").save()
      st2.nbModel.write.format("noop").mode("overwrite").save()
      spark.sqlContext.clearCache()
    }

    // warm plan shapes (codegen/classloading is per-shape, not per-size)
    for (q <- queries)
      if (q == "ql50_pretrain_sink") runSink("/root/testdata/sf0.001")
      else if (q == "knn_insert") runKnnInsert("/root/testdata/sf0.001")
      else if (q == "pretrain_append") runAppend("/root/testdata/sf0.001")
      else if (q == "bm25_append") runBm25Append("/root/testdata/sf0.001")
      else if (q == "pretrain_remove") runRemove("/root/testdata/sf0.001")
      else if (q == "bm25_remove") runBm25Remove("/root/testdata/sf0.001")
      else if (q == "image_decode") runImageDecode("/root/testdata/sf0.001")
      else if (q == "image_dedup") runImageDedup("/root/testdata/sf0.001")
      else if (q == "audio_decode") runAudioDecode("/root/testdata/sf0.001")
      else if (q == "audio_dedup") runAudioDedup("/root/testdata/sf0.001")
      else if (q == "audio_segment_dedup") runAudioSegDedup("/root/testdata/sf0.001")
      else if (q == "perceptual_cap") runPerceptualCap("/root/testdata/sf0.001")
      else if (q == "lsh_cap") runLshCap("/root/testdata/sf0.001")
      else if (q == "emb_cap") runEmbCap("/root/testdata/sf0.001")
      else if (q == "ivf_cap") runIvfCap("/root/testdata/sf0.001")
      else if (q == "nightly_loop") runNightly("/root/testdata/sf0.001")
      else graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()

    // pay the graph builds BEFORE the timed loop (the batch's graph
    // exists before the batch arrives — timing must cover insert only)
    if (queries.contains("knn_insert")) { knnInsertSetup(base1x); knnInsertSetup(out) }
    // likewise the crawl states: the parquet state build is setup, and
    // paying it inside sample 1 would burn one of the two min-of-2
    // samples on a corpus-scale write
    if (queries.contains("pretrain_append") || queries.contains("pretrain_remove")) {
      appendState(base1x); appendState(out)
    }
    if (queries.contains("bm25_append") || queries.contains("bm25_remove")) {
      bm25Setup(base1x); bm25Setup(out)
    }
    // encoded fixtures / on-parquet state are setup: generate BEFORE the
    // timed loop so sample 1 never pays a corpus-scale encode or write
    if (queries.contains("image_decode") || queries.contains("image_dedup")) {
      imageSetup(base1x); imageSetup(out)
    }
    if (queries.contains("audio_decode") || queries.contains("audio_dedup") ||
        queries.contains("audio_segment_dedup")) {
      audioSetup(base1x); audioSetup(out)
    }
    if (queries.contains("perceptual_cap")) { satSetup(base1x); satSetup(out) }
    if (queries.contains("emb_cap")) { embCapVecs(base1x); embCapVecs(out) }
    // the IVF index is setup: train BEFORE the timed loop so sample 1
    // never pays the Lloyd iterations
    if (queries.contains("ivf_cap")) { ivfCapSetup(base1x); ivfCapSetup(out) }
    if (queries.contains("nightly_loop")) {
      nightlySetup(base1x); nightlySetup(out)
      // the warm pass above timed nothing at this dir yet — clear the
      // phase minima it recorded at sf0.001 only (keyed by dir, so no-op)
    }

    // MAX-TASK evidence (VERDICT r18 #1): the map-side bucket pre-cut
    // claims the saturated bucket's single reducer task stays bounded —
    // flat wall-clock alone can hide a straggler behind 31 idle cores,
    // so record the longest task of each timed sample and report it for
    // the cap rows (maxtask_sec_* in the detail objects)
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong()
    // named so it can be REMOVED after the timed loop (ADVICE r19: an
    // anonymous listener re-registered on every scale() call accumulates
    // across runs in one session)
    val maxTaskListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null) {
          val d = e.taskInfo.duration
          var cur = maxTaskMs.get()
          while (d > cur && !maxTaskMs.compareAndSet(cur, d)) cur = maxTaskMs.get()
        }
    }
    spark.sparkContext.addSparkListener(maxTaskListener)
    val maxTaskSec = scala.collection.mutable.Map[(String, String), Double]()
    val timeMin = scala.collection.mutable.Map[(String, String), Double]()
    def time(q: String, dir: String): Double =
      (1 to 2).map { _ =>
        maxTaskMs.set(0L)
        val t0 = System.nanoTime()
        if (q == "ql50_pretrain_sink") runSink(dir)
        else if (q == "knn_insert") runKnnInsert(dir)
        else if (q == "pretrain_append") runAppend(dir)
        else if (q == "bm25_append") runBm25Append(dir)
        else if (q == "pretrain_remove") runRemove(dir)
        else if (q == "bm25_remove") runBm25Remove(dir)
        else if (q == "image_decode") runImageDecode(dir)
        else if (q == "image_dedup") runImageDedup(dir)
        else if (q == "audio_decode") runAudioDecode(dir)
        else if (q == "audio_dedup") runAudioDedup(dir)
        else if (q == "audio_segment_dedup") runAudioSegDedup(dir)
        else if (q == "perceptual_cap") runPerceptualCap(dir)
        else if (q == "lsh_cap") runLshCap(dir)
        else if (q == "emb_cap") runEmbCap(dir)
        else if (q == "ivf_cap") runIvfCap(dir)
        else if (q == "nightly_loop") runNightly(dir)
        else graft.SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // keep the max-task of the FASTEST sample (the one the row reports)
        val k = (q, dir)
        if (sec <= timeMin.getOrElse(k, Double.MaxValue)) {
          maxTaskSec(k) = maxTaskMs.get() / 1e3
          timeMin(k) = sec
        }
        sec
      }.min

    // loadavg bookends, as Bench stamps them: residual machine load is
    // diagnosable from the artifact itself
    val loadStart = graft.Bench.loadavg()
    val rows = queries.map { q =>
      val t1 = time(q, base1x)
      val tN = time(q, out)
      (q, t1, tN, tN / t1)
    }
    // the timed loop is over — everything below is untimed evidence
    // gathering, whose tasks must not overwrite the recorded maxima
    spark.sparkContext.removeSparkListener(maxTaskListener)
    // per-row detail objects: image decode throughput (the number the
    // 100 TB sizing needs) and the nightly loop's phase breakdown
    val details = scala.collection.mutable.ListBuffer.empty[String]
    if (rows.exists(_._1 == "image_decode")) {
      val (_, n1, b1) = imageSetup(base1x)
      val (_, nN, bN) = imageSetup(out)
      val tN = rows.find(_._1 == "image_decode").get._3
      val mbpsCore = bN / 1e6 / tN / cpus
      details += f""""image_decode_detail":{"images_1x":$n1,"mb_1x":${b1 / 1e6}%.1f,"images_${copies}x":$nN,"mb_${copies}x":${bN / 1e6}%.1f,"decode_mb_per_sec_per_core_${copies}x":$mbpsCore%.2f}"""
    }
    if (rows.exists(_._1 == "audio_decode")) {
      val (_, n1, b1) = audioSetup(base1x)
      val (_, nN, bN) = audioSetup(out)
      val tN = rows.find(_._1 == "audio_decode").get._3
      val mbpsCore = bN / 1e6 / tN / cpus
      details += f""""audio_decode_detail":{"clips_1x":$n1,"mb_1x":${b1 / 1e6}%.1f,"clips_${copies}x":$nN,"mb_${copies}x":${bN / 1e6}%.1f,"decode_mb_per_sec_per_core_${copies}x":$mbpsCore%.2f}"""
    }
    if (rows.exists(_._1 == "perceptual_cap")) {
      // pair-volume evidence (UNTIMED — decode once per dir, then count
      // candidates on the narrow hash frame): the uncapped count is the
      // quadratic saturated-bucket blowup the cap exists to bound; the
      // capped count must track the corpus. Solid-image and planted-pair
      // tallies make the fixture's structure auditable from the artifact.
      def capDetail(dir: String, tag: String): String = {
        val (path, _) = satSetup(dir)
        val media = spark.read.parquet(path).select(col("media_id"), col("bytes"))
        val dec = graft.sources.Multimodal.decodeImage(media, "bytes")
        val hashes = dec.select(col("media_id"),
            graft.sources.Multimodal.dHash64(col("gray"), col("width"), col("height"))
              .as("dh"))
          .persist()
        val solid = hashes.filter(col("dh") === 0L).count()
        val uncapped = graft.sources.Multimodal.perceptualNearDupPairs(
          hashes, "media_id", "dh", bands = 4).count()
        val capped = graft.sources.Multimodal.perceptualNearDupPairs(
          hashes, "media_id", "dh", bands = 4, maxBucketSize = 4).count()
        hashes.unpersist()
        s""""solid_$tag":$solid,"pairs_uncapped_$tag":$uncapped,"pairs_capped_$tag":$capped"""
      }
      def mt(dir: String, tag: String): String =
        f""""maxtask_sec_$tag":${maxTaskSec.getOrElse(("perceptual_cap", dir), -1.0)}%.2f"""
      details += s""""perceptual_cap_detail":{${capDetail(base1x, "1x")},${capDetail(out, s"${copies}x")},${mt(base1x, "1x")},${mt(out, s"${copies}x")}}"""
    }
    if (rows.exists(_._1 == "lsh_cap")) {
      // pair-volume evidence (UNTIMED): uncapped = the quadratic hot-set
      // blowup; capped must track the corpus. The hot count makes the
      // planted structure auditable from the artifact.
      def lshDetail(dir: String, tag: String): String = {
        val docs = lshCapDocs(dir)
        val hot = docs.filter(pmod(col("doc_id"), lit(10)) === 0).count()
        val uncapped = graft.llm.Dedup.minHashLshCandidates(docs, "doc_id", "text").count()
        val capped = graft.llm.Dedup.minHashLshCandidates(docs, "doc_id", "text",
          maxBucketSize = 8).count()
        s""""hot_$tag":$hot,"pairs_uncapped_$tag":$uncapped,"pairs_capped_$tag":$capped"""
      }
      def lshMt(dir: String, tag: String): String =
        f""""maxtask_sec_$tag":${maxTaskSec.getOrElse(("lsh_cap", dir), -1.0)}%.2f"""
      details += s""""lsh_cap_detail":{${lshDetail(base1x, "1x")},${lshDetail(out, s"${copies}x")},${lshMt(base1x, "1x")},${lshMt(out, s"${copies}x")}}"""
    }
    if (rows.exists(_._1 == "emb_cap")) {
      def embDetail(dir: String, tag: String): String = {
        val (emb, n) = embCapVecs(dir)
        val hot = emb.filter(pmod(col("vec_id"), lit(10)) === 0).count()
        val uncapped = graft.llm.Similarity.cosineNearDupPairsAuto(emb, "vec_id",
          threshold = 0.9, dim = 64, corpusSize = Some(n)).count()
        val capped = graft.llm.Similarity.cosineNearDupPairsAuto(emb, "vec_id",
          threshold = 0.9, dim = 64, corpusSize = Some(n), maxBucketSize = 8).count()
        s""""hot_$tag":$hot,"pairs_uncapped_$tag":$uncapped,"pairs_capped_$tag":$capped"""
      }
      def embMt(dir: String, tag: String): String =
        f""""maxtask_sec_$tag":${maxTaskSec.getOrElse(("emb_cap", dir), -1.0)}%.2f"""
      details += s""""emb_cap_detail":{${embDetail(base1x, "1x")},${embDetail(out, s"${copies}x")},${embMt(base1x, "1x")},${embMt(out, s"${copies}x")}}"""
    }
    if (rows.exists(_._1 == "ivf_cap")) {
      def ivfDetail(dir: String, tag: String): String = {
        val (emb, _, index) = ivfCapSetup(dir)
        val hot = emb.filter(pmod(col("vec_id"), lit(10)) === 0).count()
        val uncapped = graft.llm.Similarity.ivfNearDupPairs(emb, "vec_id", index,
          threshold = 0.9).count()
        val capped = graft.llm.Similarity.ivfNearDupPairs(emb, "vec_id", index,
          threshold = 0.9, maxBucketSize = 8).count()
        s""""hot_$tag":$hot,"pairs_uncapped_$tag":$uncapped,"pairs_capped_$tag":$capped"""
      }
      def ivfMt(dir: String, tag: String): String =
        f""""maxtask_sec_$tag":${maxTaskSec.getOrElse(("ivf_cap", dir), -1.0)}%.2f"""
      details += s""""ivf_cap_detail":{${ivfDetail(base1x, "1x")},${ivfDetail(out, s"${copies}x")},${ivfMt(base1x, "1x")},${ivfMt(out, s"${copies}x")}}"""
    }
    if (nightlyPhases.nonEmpty) {
      def ph(dir: String, tag: String): String =
        Seq("load", "append", "takedown", "save_models").map { p =>
          f""""${p}_$tag":${nightlyPhases.getOrElse((dir, p), -1.0)}%.2f"""
        }.mkString(",")
      details += s""""nightly_loop_detail":{${ph(base1x, "1x")},${ph(out, s"${copies}x")}}"""
    }
    val json = rows.map { case (q, t1, tN, r) =>
      f""""$q":{"sec_1x":$t1%.2f,"sec_${copies}x":$tN%.2f,"ratio":$r%.2f}"""
    }.mkString("{", ",",
      details.map("," + _).mkString +
        s""","copies":$copies,"loadavg_start":"$loadStart","loadavg_end":"${graft.Bench.loadavg()}"}""")
    println(json)
    spark.stop()
  }

  /** REAL WAV fixture: one 8,000-sample (0.5 s at 16 kHz) mono 16-bit
    * clip per document id, plus planted re-encodes (4× volume for every
    * 3rd id — sample magnitudes stay ≤ 8,000 so ×4 never clips, and the
    * energy-envelope hash is exactly invariant under integer volume
    * scaling; an L=R stereo re-encode for every 5th id — the mono
    * downmix averages to the identical sample stream, so the hash is
    * byte-equal). Sample values are a per-(id, i) avalanche hash, so
    * distinct ids are independent. media_id = id·4 + variant (the qm3
    * convention). Spec-pinned in `AudioSpec`'s fixture test; generation
    * is SETUP, not measurement.
    */
  def generateAudio(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    val ids = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      it.flatMap { id =>
        val n = 8000
        def sample(i: Int): Int = {
          var h = id * 2654435761L + i.toLong * 1315423911L
          h ^= h >>> 33; h *= -49064778989728563L; h ^= h >>> 33
          (((h % 16001) + 16001) % 16001).toInt - 8000 // [-8000, 8000]
        }
        def clip(scale: Int, stereo: Boolean): Array[Byte] = {
          val ch = if (stereo) 2 else 1
          val dataLen = n * 2 * ch
          val bos = new java.io.ByteArrayOutputStream(44 + dataLen)
          def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
          def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
          def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
          ascii("RIFF"); le32(36 + dataLen); ascii("WAVE")
          ascii("fmt "); le32(16); le16(1); le16(ch); le32(16000)
          le32(16000 * ch * 2); le16(ch * 2); le16(16)
          ascii("data"); le32(dataLen)
          var i = 0
          while (i < n) {
            val s = sample(i) * scale
            var c = 0
            while (c < ch) { le16(s & 0xffff); c += 1 }
            i += 1
          }
          bos.toByteArray
        }
        val rows = scala.collection.mutable.ArrayBuffer((id * 4, clip(1, stereo = false)))
        if (id % 3 == 0) rows += ((id * 4 + 1, clip(4, stereo = false)))
        if (id % 5 == 0) rows += ((id * 4 + 2, clip(1, stereo = true)))
        rows
      }
    }.toDF("media_id", "bytes")
      .withColumn("score", pmod(col("media_id"), lit(997)).cast("double"))
    media.repartition(32).write.mode("overwrite").parquet(out)
  }

  /** REAL encoded-image fixture: one 72×64 grayscale-content PNG per
    * document id, plus planted re-encodes (2× nearest-neighbor upscale
    * for every 3rd id, +10 brightness for every 5th — both exactly
    * dHash-invariant: uniform blocks, no clamping). Pixel values are a
    * per-(id, x, y) hash, so distinct ids are independent and the corpus
    * grows linearly with no cross-copy similarity. media_id = id·4 +
    * variant (the qm3 collision-free convention). Encoding runs inside
    * mapPartitions (the codec boundary) and is SETUP, not measurement.
    */
  def generateImages(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    val ids = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { id =>
        def png(w: Int, h: Int, scale: Int, bright: Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var hsh = id * 1315423911L + (x / scale).toLong * 2654435761L +
                (y / scale).toLong * 97531L
              hsh ^= hsh >>> 33
              hsh *= -49064778989728563L // xxhash-style avalanche constant
              hsh ^= hsh >>> 33
              val v = (((hsh % 200) + 200) % 200).toInt + bright // <= 209
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        val rows = scala.collection.mutable.ArrayBuffer(
          (id * 4, png(72, 64, 1, 0)))
        if (id % 3 == 0) rows += ((id * 4 + 1, png(144, 128, 2, 0)))
        if (id % 5 == 0) rows += ((id * 4 + 2, png(72, 64, 1, 10)))
        rows
      }
    }.toDF("media_id", "bytes")
      .withColumn("score", pmod(col("media_id"), lit(997)).cast("double"))
    media.repartition(32).write.mode("overwrite").parquet(out)
  }

  /** Saturated-bucket fixture for the `perceptual_cap` row: one PNG per
    * document id. Every 10th id is a SOLID-COLOR image (gray level varies
    * by id, but every solid image of any level dHashes to the all-zero
    * signature — equal block means make every comparison bit 0), so 10%
    * of the corpus lands in ONE (band, slice) bucket per band: the
    * black-frame/solid-thumbnail saturation VERDICT r17 #1 names. The
    * rest are avalanche-textured (independent hashes), with a planted
    * dHash-invariant 2x upscale for every 3rd non-solid id (36 and 72
    * divide by 9, 32 and 64 by 8 — uniform blocks) so capped recall on
    * NON-saturated buckets stays auditable. media_id = id·4 (+1 for the
    * upscale); generation is SETUP, not measurement.
    */
  def generateSaturatedImages(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    val ids = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { id =>
        def png(w: Int, h: Int, scale: Int, solid: Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = if (solid >= 0) solid else {
                var hsh = id * 1315423911L + (x / scale).toLong * 2654435761L +
                  (y / scale).toLong * 97531L
                hsh ^= hsh >>> 33
                hsh *= -49064778989728563L
                hsh ^= hsh >>> 33
                (((hsh % 200) + 200) % 200).toInt
              }
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        if (id % 10 == 0)
          Seq((id * 4, png(36, 32, 1, ((id * 31) % 200).toInt)))
        else {
          val rows = scala.collection.mutable.ArrayBuffer(
            (id * 4, png(36, 32, 1, -1)))
          if (id % 3 == 0) rows += ((id * 4 + 1, png(72, 64, 2, -1)))
          rows
        }
      }
    }.toDF("media_id", "bytes")
      .withColumn("score", pmod(col("media_id"), lit(997)).cast("double"))
    media.repartition(32).write.mode("overwrite").parquet(out)
  }

  /** Build the scaled corpus. Key shifts are far above any real id range. */
  def generate(spark: SparkSession, base: String, out: String, copies: Int): Unit = {
    import graft.sources.Tables
    def stack(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val src = Tables.load(spark, base, name)
      val scaled = (0 until copies).map(i => f(src, i)).reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    val K = 100000000L // per-copy key shift
    stack("customer", (d, i) => d
      .withColumn("c_custkey", col("c_custkey") + lit(i * K)))
    stack("orders", (d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * 10 * K))
      .withColumn("o_custkey", col("o_custkey") + lit(i * K)))
    stack("lineitem", (d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * 10 * K)))
    // events: loadEvents surfaces ts (micros) + ts_ns (long); write ts as
    // the raw ns long so Tables.load round-trips on the scaled dir
    stack("events", (d, i) => d
      .select(
        (col("event_id") + lit(i * 10 * K)).as("event_id"),
        col("ts_ns").as("ts"),
        (col("user_id") + lit(i * K)).as("user_id"),
        col("event_type"), col("value"), col("props")))
    // documents: salt every token per copy → no cross-copy similarity
    stack("documents", (d, i) => d
      .withColumn("doc_id", col("doc_id") + lit(i * 10 * K))
      .withColumn("text",
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1c$i")))
    // embeddings: id shift + FRESH deterministic pseudo-random vectors for
    // copies > 0 (verbatim copies would hand every query 9 exact dups and
    // give the >=0.8 near-dup join a quadratic-in-copies output — data
    // pathology, not operator scaling; fresh vectors keep cross-copy
    // cosines near 0 so the corpus just grows)
    stack("embeddings", (d, i) => {
      val shifted = d.withColumn("vec_id", col("vec_id") + lit(i * 10 * K))
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        transform(sequence(lit(1), lit(64)),
          j => ((pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000000L))
            .cast("double") / 1000000.0) - 0.5).cast("float")))
    })
    // small dims copied verbatim (unused by the scale queries, kept so the
    // dir is a complete table set)
    for (t <- Seq("region", "nation", "supplier", "part"))
      Tables.load(spark, base, t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    new java.io.File(s"$out/_DONE").createNewFile()
  }
}
