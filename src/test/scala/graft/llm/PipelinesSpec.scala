package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Pipelines.pretrainCorpus]] — the end-to-end composition: every gate
  * individually proven elsewhere; here the pipeline must route the right
  * documents through the right fate in one call.
  */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  // 60-token sentence-shaped doc with a doc-specific vocabulary (no
  // cross-doc token overlap → no spurious MinHash candidates)
  private def goodDoc(i: Int): String =
    (0 until 5).map { s =>
      (1 to 12).map(j => s"w${i}x${s}y$j").mkString(" ") + "."
    }.mkString(" ")

  test("pretrainCorpus routes junk out, dedups near-copies, buckets survivors") {
    val d1 = goodDoc(1)
    // near-dup of d1: one word changed → est_jaccard ≈ 0.97
    val d2 = d1.replace("w1x0y1", "changed")
    val pii = "Contact someone@example.org for details. " + goodDoc(7)
    val repetitive = Array.fill(20)("The quick brown fox jumps.").mkString(" ")
    val lorem = "Lorem ipsum dolor sit amet consectetur. " + goodDoc(8)
    // brace on a line the LINE rules would drop (no terminal punct):
    // the page gate must still see it on the raw page and reject
    val hiddenBrace = "code { x = 1\n" + goodDoc(9)
    val docs = (Seq(
      (1L, d1, "en"), (2L, d2, "en"), (3L, goodDoc(3), "en"),
      (4L, "tiny doc.", "en"), (5L, lorem, "en"), (6L, repetitive, "en"),
      (7L, pii, "en"), (8L, hiddenBrace, "en")) ++
      (10 to 15).map(i => (i.toLong, goodDoc(i), "en")))
      .toDF("doc_id", "text", "lang")

    val out = Pipelines.pretrainCorpus(docs)
    val ids = out.select("doc_id").as[Long].collect().toSet
    // junk out: short (4), lorem (5), repetitive (6), hidden brace (8)
    assert(!ids.contains(4L) && !ids.contains(5L) && !ids.contains(6L) &&
      !ids.contains(8L))
    // near-dup pair collapsed to ONE survivor — the better-scored copy
    // ("changed" is all-letters, so d2's alpha ratio edges out d1's)
    assert(ids.contains(2L) && !ids.contains(1L))
    // the rest survive, and nothing else
    assert(ids == Set(2L, 3L, 7L, 10L, 11L, 12L, 13L, 14L, 15L))

    // PII redacted in the emitted text
    val t7 = out.filter(col("doc_id") === 7L).select("text").as[String].head()
    assert(t7.contains("<EMAIL>") && !t7.contains("someone@example.org"))

    // buckets cover thirds, and head is the BEST-scored third
    val buckets = out.select("bucket").as[String].collect().toSet
    assert(buckets == Set("head", "middle", "tail"))
    val byBucket = out.groupBy("bucket").agg(min("score").as("lo"), max("score").as("hi"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(byBucket("head")._1 >= byBucket("tail")._2,
      s"head scores must dominate tail: $byBucket")

    // deterministic across partitionings
    val out2 = Pipelines.pretrainCorpus(docs.repartition(7))
    assert(rowsOf(out.select("doc_id", "bucket", "n_tokens")) ==
      rowsOf(out2.select("doc_id", "bucket", "n_tokens")))

    // dropTail applies the CCNet cut
    val kept = Pipelines.pretrainCorpus(docs, dropTail = true)
      .select("bucket").as[String].collect().toSet
    assert(kept == Set("head", "middle"))
  }

  test("ccnetPerplexityBuckets: per-language train -> score -> thirds, closed-form") {
    // reference trains the models; 'en' reference vocabulary is {the, cat}
    val ref = Seq(("en", "the cat"), ("en", "the cat"), ("de", "der hund"))
      .toDF("lang", "text")
    // corpus: an in-distribution en doc (every bigram a model hit, low
    // mean neg-logp), an OOV-heavy en doc (backoff everywhere, high),
    // a middling one, and a token-less doc (score 0 by convention)
    val docs = Seq(
      (1L, "en", "the cat"),
      (2L, "en", "zz qq ww"),
      (3L, "en", "the zz"),
      (4L, "en", ""),
      (5L, "de", "der hund"),
      (6L, "de", "der zz"),
      (7L, "de", "qq ww"))
      .toDF("doc_id", "lang", "text")
    val out = Pipelines.ccnetPerplexityBuckets(docs, ref).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getString(6)))).toMap
    // doc 1: logp(<s>,the)=log10(2/2)=0, logp(the,cat)=log10(2/2)=0 -> score 0
    assert(out(1L)._1 == 2L && math.abs(out(1L)._2) < 1e-9)
    // doc 4: token-less -> score 0 exactly
    assert(out(4L)._1 == 0L && out(4L)._2 == 0.0)
    // doc 2: every position backoff+oov (-6.4) -> score 6.4
    assert(math.abs(out(2L)._2 - 6.4) < 1e-9)
    // en ranking: {1 (0), 4 (0, id tiebreak), 3, 2} -> 4 docs, thirds:
    // rank1=head, rank2=middle(2*3<=4*2), ranks 3,4=tail... verify order
    assert(out(1L)._3 == "head")
    assert(out(2L)._3 == "tail")
    // de: its own model scores its own reference exactly, independent of en
    assert(math.abs(out(5L)._2) < 1e-9)
    assert(out(5L)._3 == "head")
    // dropTail removes the tail bucket only
    val cut = Pipelines.ccnetPerplexityBuckets(docs, ref, dropTail = true)
    assert(cut.filter(col("bucket") === "tail").count() == 0)
    assert(cut.count() == out.values.count(_._3 != "tail"))
  }

  test("ccnetPerplexityBuckets approxCuts agrees with the exact form on continuous scores") {
    val ref = Seq(("en", "the cat"), ("en", "the dog ran")).toDF("lang", "text")
    // distinct OOV/hit mixes per doc -> continuous, untied scores
    val docs = (1 to 12).map(i =>
      (i.toLong, "en", ("the cat " * (i % 4 + 1)) + ("zz " * (i % 3)) + s"w$i"))
      .toDF("doc_id", "lang", "text")
    val exact = Pipelines.ccnetPerplexityBuckets(docs, ref)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    val approx = Pipelines.ccnetPerplexityBuckets(docs, ref, approxCuts = true)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    // value cuts == rank cuts away from ties; allow the documented
    // boundary row but require broad agreement
    val agree = exact.keys.count(k => exact(k) == approx(k))
    assert(agree >= exact.size - 2, s"only $agree/${exact.size} agree")
    assert(approx.values.toSet.subsetOf(Set("head", "middle", "tail")))
  }

  test("appendCrawlBatch converges exactly to the from-scratch union run") {
    // A: the initial corpus — good docs + junk the gates must drop, and
    // an internal near-dup pair (20 ~ 21)
    val a1 = goodDoc(20)
    val docsA = (Seq(
      (20L, a1, "en"), (21L, a1.replace("w20x0y1", "changed"), "en"),
      (22L, "tiny doc.", "en"),
      (23L, Array.fill(20)("The quick brown fox jumps.").mkString(" "), "en")) ++
      (30 to 36).map(i => (i.toLong, goodDoc(i), if (i % 2 == 0) "en" else "de")))
      .toDF("doc_id", "text", "lang")
    // B: the arriving batch — a CROSS near-dup of an A doc (40 ~ 30), a
    // within-batch near-dup pair (41 ~ 42), junk, and fresh docs
    val b1 = goodDoc(41)
    val docsB = (Seq(
      (40L, goodDoc(30).replace("w30x0y1", "altered"), "en"),
      (41L, b1, "de"), (42L, b1.replace("w41x0y1", "changed"), "de"),
      (43L, "Lorem ipsum dolor sit amet. " + goodDoc(43), "en")) ++
      (50 to 54).map(i => (i.toLong, goodDoc(i), if (i % 2 == 0) "en" else "de")))
      .toDF("doc_id", "text", "lang")

    spark.sqlContext.clearCache()
    val incremental = Pipelines.appendCrawlBatch(Pipelines.initCrawlState(docsA), docsB)
    val scratch = Pipelines.initCrawlState(docsA.unionByName(docsB))

    // every state frame equals its from-scratch twin: the staged corpus,
    // the band index (compared on the join key — mh rides both), the
    // accumulated pair evidence, and both incremental models
    assert(rowsOf(incremental.staged) == rowsOf(scratch.staged))
    assert(rowsOf(incremental.index.select("id", "band", "bh")) ==
      rowsOf(scratch.index.select("id", "band", "bh")))
    assert(rowsOf(incremental.pairs) == rowsOf(scratch.pairs))
    assert(rowsOf(incremental.langModel) == rowsOf(scratch.langModel))
    assert(rowsOf(incremental.nbModel) == rowsOf(scratch.nbModel))

    // and the emitted corpus equals pretrainCorpus(A ∪ B) — the headline
    // convergence contract: dedup collapses the cross pair (40 vs 30) and
    // the batch-internal pair (41 vs 42) exactly as the union run does
    val emitted = Pipelines.emitPretrainCorpus(incremental)
    val union = Pipelines.pretrainCorpus(docsA.unionByName(docsB), materialize = false)
    assert(rowsOf(emitted) == rowsOf(union))
    // sanity on the fixture: both near-dup pairs really collapsed
    val ids = emitted.select("doc_id").as[Long].collect().toSet
    assert(Seq(Set(20L, 21L), Set(30L, 40L), Set(41L, 42L))
      .forall(p => p.intersect(ids).size == 1),
      s"each near-dup pair must keep exactly one survivor: $ids")
    // junk gated out of both sides
    assert(!ids.contains(22L) && !ids.contains(23L) && !ids.contains(43L))

    // cache lifecycle: TWO persisted boundaries per staging pass (gate
    // cut + staged rows, round 22), all released by release() — dropping
    // the state without it would leak non-evictable survivor-set copies
    // per batch for the life of the app
    assert(incremental.gateCaches.size == 4 && scratch.gateCaches.size == 2)
    incremental.release(); scratch.release()

    // the disjoint-ids precondition is loud on request: a batch
    // re-delivering a state id raises instead of silently double-keeping
    val st0 = Pipelines.initCrawlState(docsA)
    val e = intercept[IllegalArgumentException] {
      Pipelines.appendCrawlBatch(st0, docsA.limit(3), assumeDisjointIds = false)
    }
    assert(e.getMessage.contains("re-delivers"))
    st0.release()
    spark.sqlContext.clearCache()
  }

  test("two successive appends equal one union run (multi-batch convergence)") {
    val base = (60 to 64).map(i => (i.toLong, goodDoc(i), "en")).toDF("doc_id", "text", "lang")
    val b1 = (70 to 72).map(i => (i.toLong, goodDoc(i), "en")).toDF("doc_id", "text", "lang")
    // second batch carries a near-dup reaching BACK to the first batch
    val b2 = (Seq((80L, goodDoc(70).replace("w70x0y1", "altered"), "en")) ++
      (81 to 82).map(i => (i.toLong, goodDoc(i), "en"))).toDF("doc_id", "text", "lang")
    spark.sqlContext.clearCache()
    val st = Pipelines.appendCrawlBatch(
      Pipelines.appendCrawlBatch(Pipelines.initCrawlState(base), b1), b2)
    val all = base.unionByName(b1).unionByName(b2)
    assert(rowsOf(Pipelines.emitPretrainCorpus(st)) ==
      rowsOf(Pipelines.pretrainCorpus(all, materialize = false)))
    assert(rowsOf(st.pairs) == rowsOf(Pipelines.initCrawlState(all).pairs))
    spark.sqlContext.clearCache()
  }

  test("removeCrawlBatch converges exactly to initCrawlState on the complement corpus") {
    import spark.implicits._
    // A: survivors + junk; B: the batch to retract, carrying a CROSS
    // near-dup of an A doc (so removal must also retract pair evidence)
    val docsA = (Seq((22L, "tiny doc.", "en")) ++
      (30 to 36).map(i => (i.toLong, goodDoc(i), if (i % 2 == 0) "en" else "de")))
      .toDF("doc_id", "text", "lang")
    val docsB = (Seq((40L, goodDoc(30).replace("w30x0y1", "altered"), "en")) ++
      (50 to 53).map(i => (i.toLong, goodDoc(i), if (i % 2 == 0) "en" else "de")))
      .toDF("doc_id", "text", "lang")
    spark.sqlContext.clearCache()
    // checkpoint() the input state: every comparison below re-derives the
    // remove frames, and without the lineage cut the nested staging
    // chains blow the driver heap (each rowsOf recompiles the whole
    // init→append→remove plan) — this is also the production shape: a
    // takedown sweep runs against a SAVED state, not a live lazy chain
    val full = Pipelines.appendCrawlBatch(Pipelines.initCrawlState(docsA), docsB)
      .checkpoint()
    // the takedown list: all of B, an id the gates dropped (22), and an
    // id never crawled (999) — idempotent-sweep semantics
    val ids = (docsB.select("doc_id").as[Long].collect().toSeq ++ Seq(22L, 999L))
      .toDF("doc_id")
    val removed = Pipelines.removeCrawlBatch(full, ids)
    val scratch = Pipelines.initCrawlState(docsA).checkpoint()
    assert(rowsOf(removed.staged) == rowsOf(scratch.staged))
    assert(rowsOf(removed.index.select("id", "band", "bh")) ==
      rowsOf(scratch.index.select("id", "band", "bh")))
    assert(rowsOf(removed.pairs) == rowsOf(scratch.pairs))
    assert(rowsOf(removed.langModel) == rowsOf(scratch.langModel))
    assert(rowsOf(removed.nbModel) == rowsOf(scratch.nbModel))
    assert(rowsOf(Pipelines.emitPretrainCorpus(removed)) ==
      rowsOf(Pipelines.emitPretrainCorpus(scratch)))
    // fixture sanity: the cross pair really existed before the removal
    assert(full.pairs.count() > scratch.pairs.count())
    // partial removal works too: retracting HALF of B equals the state
    // built from A plus the other half
    val keep = docsB.filter(col("doc_id") >= 51L)
    val partial = Pipelines.removeCrawlBatch(full,
      docsB.filter(col("doc_id") < 51L).select("doc_id"))
    val direct = Pipelines.appendCrawlBatch(Pipelines.initCrawlState(docsA), keep)
      .checkpoint()
    assert(rowsOf(partial.staged) == rowsOf(direct.staged))
    assert(rowsOf(partial.pairs) == rowsOf(direct.pairs))
    assert(rowsOf(partial.langModel) == rowsOf(direct.langModel))
    assert(rowsOf(partial.nbModel) == rowsOf(direct.nbModel))
    spark.sqlContext.clearCache()
  }

  test("CrawlState.save/load round-trips: the loaded state appends and emits like the in-memory one") {
    import spark.implicits._
    val docsA = (30 to 36).map(i => (i.toLong, goodDoc(i), if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val docsB = (Seq((40L, goodDoc(30).replace("w30x0y1", "altered"), "en")) ++
      (50 to 52).map(i => (i.toLong, goodDoc(i), "en"))).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("crawl_state").toString
    spark.sqlContext.clearCache()
    // maxBucketSize = 7 ≥ every bucket here (7 docs), so semantics stay
    // exact while the FIELD itself is pinned through the meta round-trip
    val params = Pipelines.CrawlParams(hashedTokenIds = true, numHashes = 32,
      bands = 4, maxBucketSize = 7)
    Pipelines.initCrawlState(docsA, params).save(s"$dir/plain")
    // save owns write-then-release: no cached blocks survive it
    assert(spark.sharedState.cacheManager.isEmpty,
      "save must release the gate caches after writing")
    val loaded = Pipelines.CrawlState.load(spark, s"$dir/plain")
    assert(loaded.params == params, "params must travel with the state")
    val viaDisk = Pipelines.appendCrawlBatch(loaded, docsB)
    val inMem = Pipelines.appendCrawlBatch(Pipelines.initCrawlState(docsA, params), docsB)
      .checkpoint() // lineage cut (the removeCrawlBatch-test heap argument)
    assert(rowsOf(viaDisk.staged) == rowsOf(inMem.staged))
    assert(rowsOf(viaDisk.index.select("id", "band", "bh")) ==
      rowsOf(inMem.index.select("id", "band", "bh")))
    assert(rowsOf(viaDisk.pairs) == rowsOf(inMem.pairs))
    assert(rowsOf(viaDisk.langModel) == rowsOf(inMem.langModel))
    assert(rowsOf(viaDisk.nbModel) == rowsOf(inMem.nbModel))
    assert(rowsOf(Pipelines.emitPretrainCorpus(viaDisk)) ==
      rowsOf(Pipelines.emitPretrainCorpus(inMem)))
    viaDisk.release()
    // THE NIGHTLY LOOP ITSELF: load from a path, append, save back to
    // the SAME path (what the save scaladoc prescribes) — without the
    // eager pre-write lineage cut this throws "Cannot overwrite a path
    // that is also being read from"; then the re-loaded state must equal
    // the chain
    val looped = Pipelines.appendCrawlBatch(
      Pipelines.CrawlState.load(spark, s"$dir/plain"), docsB)
    looped.save(s"$dir/plain")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the same-path save must still release every cache")
    val reloaded = Pipelines.CrawlState.load(spark, s"$dir/plain")
    assert(rowsOf(reloaded.staged) == rowsOf(inMem.staged))
    assert(rowsOf(reloaded.pairs) == rowsOf(inMem.pairs))
    assert(rowsOf(Pipelines.emitPretrainCorpus(reloaded)) ==
      rowsOf(Pipelines.emitPretrainCorpus(inMem)))
    reloaded.release()
    // the bucketed layout: index through the catalog, same chain result
    spark.sql("DROP TABLE IF EXISTS crawl_idx_spec")
    Pipelines.initCrawlState(docsA, params)
      .save(s"$dir/bucketed", indexTable = Some("crawl_idx_spec"))
    val loadedB = Pipelines.CrawlState.load(spark, s"$dir/bucketed")
    val viaBucket = Pipelines.appendCrawlBatch(loadedB, docsB)
    val inMem2 = Pipelines.appendCrawlBatch(Pipelines.initCrawlState(docsA, params), docsB)
      .checkpoint()
    assert(rowsOf(viaBucket.pairs) == rowsOf(inMem2.pairs))
    assert(rowsOf(Pipelines.emitPretrainCorpus(viaBucket)) ==
      rowsOf(Pipelines.emitPretrainCorpus(inMem2)))
    viaBucket.release()
    // FRESH-APPLICATION path (ADVICE r15): the in-memory catalog dies
    // with the app — drop the table and load again; the index must
    // re-register from the _bucketspec sidecar and the chain still match
    spark.sql("DROP TABLE crawl_idx_spec")
    val loadedFresh = Pipelines.CrawlState.load(spark, s"$dir/bucketed")
    assert(spark.catalog.tableExists("crawl_idx_spec"),
      "load must re-register the bucketed index table in a fresh catalog")
    val viaFresh = Pipelines.appendCrawlBatch(loadedFresh, docsB)
    assert(rowsOf(viaFresh.pairs) == rowsOf(inMem2.pairs))
    assert(rowsOf(Pipelines.emitPretrainCorpus(viaFresh)) ==
      rowsOf(Pipelines.emitPretrainCorpus(inMem2)))
    // and the restarted app's nightly loop CLOSES: save back over the
    // re-registered external table (saveAsTable overwrite must coexist
    // with the CREATE TABLE ... LOCATION entry load just made), reload,
    // chain still equal
    viaFresh.save(s"$dir/bucketed", indexTable = Some("crawl_idx_spec"))
    val reloadedFresh = Pipelines.CrawlState.load(spark, s"$dir/bucketed")
    assert(rowsOf(reloadedFresh.pairs) == rowsOf(inMem2.pairs))
    assert(rowsOf(Pipelines.emitPretrainCorpus(reloadedFresh)) ==
      rowsOf(Pipelines.emitPretrainCorpus(inMem2)))
    viaFresh.release()
    reloadedFresh.release()
    spark.sql("DROP TABLE IF EXISTS crawl_idx_spec")
    spark.sqlContext.clearCache()
  }

  test("CrawlState.load defaults maxBucketSize uncapped for states saved before the field existed") {
    import spark.implicits._
    val docs = (60 to 64).map(i => (i.toLong, goodDoc(i), "en"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("crawl_legacy").toString
    Pipelines.initCrawlState(docs).save(dir)
    // rewrite the meta frame WITHOUT the round-18 column — the on-disk
    // shape every pre-existing production state has
    val meta = spark.read.parquet(s"$dir/meta").drop("max_bucket_size")
    val rows = meta.collect().toSeq
    val schema = meta.schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/meta")
    val loaded = Pipelines.CrawlState.load(spark, dir)
    assert(loaded.params.maxBucketSize == Int.MaxValue,
      "a legacy state must load with the exact (uncapped) semantics it was built with")
  }

  test("CrawlState.load converts an index saved before bha, and the append matches the current format (ADVICE r22 #2)") {
    val docsA = (70 to 75).map(i => (i.toLong, goodDoc(i), "en"))
      .toDF("doc_id", "text", "lang")
    val docsB = (Seq((80L, goodDoc(70).replace("w70x0y1", "altered"), "en")) ++
      (81 to 82).map(i => (i.toLong, goodDoc(i), "en"))).toDF("doc_id", "text", "lang")
    // non-default bands: the conversion must band at the state's own setting
    val params = Pipelines.CrawlParams(numHashes = 32, bands = 4)
    val dir = java.nio.file.Files.createTempDirectory("crawl_pre_bha").toString
    Pipelines.initCrawlState(docsA, params).save(s"$dir/current")
    Pipelines.initCrawlState(docsA, params).save(s"$dir/legacy")
    // rewrite the index WITHOUT bha — the on-disk shape of every state
    // saved before the band-hash arrays existed
    val index = spark.read.parquet(s"$dir/legacy/index").drop("bha")
    val rows = index.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), index.schema)
      .write.mode("overwrite").parquet(s"$dir/legacy/index")
    assert(!spark.read.parquet(s"$dir/legacy/index").columns.contains("bha"))
    val legacy = Pipelines.appendCrawlBatch(
      Pipelines.CrawlState.load(spark, s"$dir/legacy"), docsB)
    val current = Pipelines.appendCrawlBatch(
      Pipelines.CrawlState.load(spark, s"$dir/current"), docsB)
    val pairs = rowsOf(current.pairs)
    assert(pairs.contains(Seq(70L, 80L)), s"the planted near-dup must pair: $pairs")
    assert(rowsOf(legacy.pairs) == pairs)
    assert(rowsOf(legacy.index) == rowsOf(current.index))
    legacy.release()
    current.release()
  }

  test("checkpoint() bounds gateCaches across a 12-append session (no unbounded growth)") {
    import spark.implicits._
    spark.sqlContext.clearCache()
    var state = Pipelines.initCrawlState(
      Seq((0L, goodDoc(0), "en")).toDF("doc_id", "text", "lang"))
    var maxCaches = state.gateCaches.size
    // checkpoint every 3 appends — the cadence the checkpoint() scaladoc
    // prescribes: the model frames are already cut per append (the
    // exponential merge-chain hazard lives in appendCrawlBatch itself),
    // so the cadence bounds the LINEAR staged/index/pairs chain growth
    // and the gate-cache count. The session END is a checkpoint (12 % 3
    // == 0) — only then is "no cached blocks remain" a fair assertion:
    // between checkpoints the live appends legitimately pin their gate
    // caches (that is the point of the cadence bound)
    (1 to 12).foreach { i =>
      state = Pipelines.appendCrawlBatch(state,
        Seq((i.toLong, goodDoc(i), "en")).toDF("doc_id", "text", "lang"))
      maxCaches = math.max(maxCaches, state.gateCaches.size)
      if (i % 3 == 0) {
        state = state.checkpoint()
        assert(state.gateCaches.isEmpty, "checkpoint must clear the cache handles")
      }
    }
    // the session never held more than init + one checkpoint interval
    // (two persisted boundaries per staging pass since round 22)
    assert(maxCaches <= 8, s"gateCaches grew to $maxCaches — unbounded growth")
    assert(spark.sharedState.cacheManager.isEmpty,
      "every gate cache must be unpersisted after the final checkpoint")
    // and the checkpointed chain still converges to the from-scratch run
    val all = (0 to 12).map(i => (i.toLong, goodDoc(i), "en")).toDF("doc_id", "text", "lang")
    assert(rowsOf(Pipelines.emitPretrainCorpus(state)) ==
      rowsOf(Pipelines.pretrainCorpus(all, materialize = false)))
    spark.sqlContext.clearCache()
  }

  test("written-sink lifecycle leaves no cached blocks behind (100 TB calling convention)") {
    val docs = ((1 to 8).map(i => (i.toLong, goodDoc(i), "en"))).toDF("doc_id", "text", "lang")
    // materialize = true (default): the pipeline owns the cache and must
    // have released it by return — a leak keeps one survivor-set copy
    // pinned per call for the life of the app
    spark.sqlContext.clearCache() // isolate from other suites' leftovers
    Pipelines.pretrainCorpus(docs).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "materialize=true must unpersist its gate cache before returning")
    // materialize = false: the caller writes the survivors to a REAL sink
    // and then clears the cache — the production shape ScaleBench measures.
    // The meaningful half is the PREcondition: the write leaves the gate
    // cache populated (the lazy form really does hand the caller a cache
    // to manage; asserting isEmpty after clearCache would be vacuous)
    val dir = java.nio.file.Files.createTempDirectory("ql50-sink").toString
    val lazyOut = Pipelines.pretrainCorpus(docs, materialize = false)
    lazyOut.write.mode("overwrite").parquet(dir)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "materialize=false must leave the gate cache for the caller to release")
    spark.sqlContext.clearCache()
    // and the sink holds the survivors (same set a materialized run emits)
    val written = spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
    val direct = Pipelines.pretrainCorpus(docs).select("doc_id").as[Long].collect().toSet
    assert(written == direct)
  }
}
