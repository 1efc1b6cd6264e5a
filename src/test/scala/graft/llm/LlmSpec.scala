package graft.llm

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("chunkTokenWindows: overlap, short-doc, and empty-doc contracts") {
    val corpus = Seq(
      (1L, "a b c d e f g"), // 7 tokens, size 3 stride 2 -> 3 chunks
      (2L, "x y"),           // <= size -> exactly one whole chunk
      (3L, "  "),            // no tokens -> no chunks
      (4L, "p q r")          // == size -> one chunk
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokenWindows(corpus, "doc_id", "text", chunkSize = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, 0, "a b c"), (1L, 1, "c d e"), (1L, 2, "e f g"),
      (2L, 0, "x y"),
      (4L, 0, "p q r")))
  }

  test("stripBoilerplate removes high-df lines per source, keeps order, never drops docs") {
    val corpus = Seq(
      (1L, "sa", "nav\nalpha\nfooter"),
      (2L, "sa", "nav\nbeta\nfooter"),
      (3L, "sa", "nav\ngamma\nfooter"),
      (4L, "sa", "nav\nfooter"),          // all boilerplate -> empty text
      (5L, "sb", "nav\ndelta")            // same line, other source, df=1 -> kept
    ).toDF("doc_id", "source", "text")
    val out = Dedup.stripBoilerplate(corpus, "doc_id", "text", "source", maxLineDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "alpha", 2L -> "beta", 3L -> "gamma",
      4L -> "",
      5L -> "nav\ndelta"))
  }

  test("distinctiveTerms ranks a document's unique term above shared stopwords") {
    val corpus = Seq(
      (1L, "zebra zebra the the"),
      (2L, "quark quark the the"),
      (3L, "lemur lemur the the")).toDF("doc_id", "text")
    val out = TextAnalysis.distinctiveTerms(corpus, "doc_id", "text", m = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val top = out.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    assert(top == Map(1L -> "zebra", 2L -> "quark", 3L -> "lemur"))
    // score = tf·N/df exactly: zebra tf=2 df=1 N=3 → 6.0; the tf=2 df=3 → 2.0
    val zebra = out.find(t => t._1 == 1L && t._3 == "zebra").get
    assert(zebra._4 == 6.0)
    val the1 = out.find(t => t._1 == 1L && t._3 == "the").get
    assert(the1._2 == 2 && the1._4 == 2.0)
  }

  test("collocations: hand-computed PMI, minCount prune, topK boundary order") {
    val corpus = ((1 to 5).map(i => (i.toLong, "alpha beta")) :+
      (6L, "alpha gamma beta")).toDF("doc_id", "text")
    // T_bi = 7 (5 + 2), T_uni = 13; cnt(alpha)=6, cnt(beta)=6, cnt(gamma)=1
    val out = TextAnalysis.collocations(corpus, "text", minCount = 5L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // only "alpha beta" survives the minCount=5 cut
    assert(out.map(_._1).toSeq == Seq("alpha beta"))
    val expected = BigDecimal(
      math.log10((5.0 / 7.0) / ((6.0 / 13.0) * (6.0 / 13.0))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head == ("alpha beta", 5L, 6L, 6L, expected))
    // at minCount=1 all three bigrams emit; the rarer pair ranks higher
    // (PMI rewards co-occurrence beyond chance, not raw frequency)
    val all = TextAnalysis.collocations(corpus, "text", minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getDouble(4))).toMap
    assert(all.keySet == Set("alpha beta", "alpha gamma", "gamma beta"))
    assert(all("alpha gamma") > all("alpha beta"),
      "a once-only pair of a rare token must out-PMI the frequent pair")
    // topK caps deterministically
    assert(TextAnalysis.collocations(corpus, "text", 1L, topK = 2).count() == 2)
  }

  test("distinctiveTerms generator form equals the relational reference on the fixture") {
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val fused = rowsOf(TextAnalysis.distinctiveTerms(corpus, "doc_id", "text", m = 3))
    val rel = rowsOf(TextAnalysis.distinctiveTermsRelational(corpus, "doc_id", "text", m = 3))
    assert(fused == rel)
  }

  test("explode_term_counts merges per-doc occurrences with no shuffle and handles edge inputs") {
    import spark.implicits._
    val rows = Seq((1L, "a b a  a c"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select($"id", graft.functions.Generators.termCounts($"text").as(Seq("term", "tf")))
    val got = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 3L), (1L, "b", 1L), (1L, "c", 1L)))
    // the whole (id, term, tf) projection rides the scan: no Exchange
    assert(!rows.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("termCounts withDl emits the document's total token count = size(tokens) on every row") {
    import spark.implicits._
    // fixture + real corpus: dl must equal size(Dedup.tokens(text)) for
    // every generated row (the r21 BM25 build contract — dl from the
    // generator replaces the hoisted per-posting size(tokens) projection)
    val fixture = Seq((1L, "a b a  a c"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").limit(200)
    for (docs <- Seq(fixture, corpus)) {
      val bad = docs.select(
          size(Dedup.tokens($"text")).as("expect"),
          graft.functions.Generators.termCountsWithDl($"text").as(Seq("term", "tf", "dl")))
        .filter($"dl" =!= $"expect").count()
      assert(bad == 0, "generator dl drifted from size(tokens)")
    }
    // per-doc sum of tf equals dl (the identity the emission relies on)
    val sums = fixture.select($"doc_id",
        graft.functions.Generators.termCountsWithDl($"text").as(Seq("term", "tf", "dl")))
      .groupBy($"doc_id", $"dl").agg(sum($"tf").as("s"))
      .filter($"s" =!= $"dl").count()
    assert(sums == 0)
  }

  test("sentences splits on terminal-punctuation runs, keeps fragments, drops empties") {
    import spark.implicits._
    val got = Seq(
      "One. Two! Three?", "No terminal punctuation here",
      "Ellipsis... then more.", "!!!", "", "Dr. Smith went. Home.")
      .toDF("text")
      .select(col("text"), TextAnalysis.sentences(col("text")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(got("One. Two! Three?") == List("One.", "Two!", "Three?"))
    assert(got("No terminal punctuation here") == List("No terminal punctuation here"))
    assert(got("Ellipsis... then more.") == List("Ellipsis...", "then more."))
    // punctuation-only and empty docs emit nothing
    assert(got("!!!") == Nil && got("") == Nil)
    // the documented abbreviation boundary: "Dr." is its own segment
    assert(got("Dr. Smith went. Home.") == List("Dr.", "Smith went.", "Home."))
  }

  test("dedupByCanonicalUrl keeps the best copy per canonical form; null urls pass") {
    import spark.implicits._
    val docs = Seq(
      // same page in three crawl spellings: highest score wins
      (1L, "HTTPS://WWW.Example.com:443/a?utm_source=x", 5.0),
      (2L, "https://example.com/a", 9.0),
      (3L, "https://example.com/a/", 7.0),
      // tie on score -> min id survives
      (4L, "http://site.org/b", 3.0), (5L, "http://site.org/b", 3.0),
      // null url: no identity, survives untouched
      (6L, null.asInstanceOf[String], 0.0)
    ).toDF("doc_id", "url", "score")
    val kept = Dedup.dedupByCanonicalUrl(docs, "doc_id", "url", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 6L))
    // output schema matches the input (no helper columns leak)
    assert(Dedup.dedupByCanonicalUrl(docs, "doc_id", "url", "score")
      .columns.toSeq == docs.columns.toSeq)
  }

  test("dedupByCanonicalUrl raises loudly on NULL ids and Long.MinValue (no silent group drop)") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // a NULL id inside a url group used to make the group's winner NULL,
    // silently dropping EVERY copy of that page from the output
    val withNull = Seq(
      (java.lang.Long.valueOf(1L), "https://example.com/a", 5.0),
      (null.asInstanceOf[java.lang.Long], "https://example.com/a", 9.0)
    ).toDF("doc_id", "url", "score")
    val e1 = intercept[Exception] {
      Dedup.dedupByCanonicalUrl(withNull, "doc_id", "url", "score").collect()
    }
    assert(msgs(e1).exists(_.contains("non-null")), s"unexpected: ${e1.getMessage}")
    // -MinValue overflows back to MinValue at the id's OWN width,
    // inverting the min-id tie-break — loud, not wrong, for long AND int
    val minVal = Seq(
      (Long.MinValue, "https://example.com/a", 3.0),
      (2L, "https://example.com/a", 3.0)
    ).toDF("doc_id", "url", "score")
    val e2 = intercept[Exception] {
      Dedup.dedupByCanonicalUrl(minVal, "doc_id", "url", "score").collect()
    }
    assert(msgs(e2).exists(_.contains("MinValue")), s"unexpected: ${e2.getMessage}")
    val minInt = Seq(
      (Int.MinValue, "https://example.com/a", 3.0),
      (2, "https://example.com/a", 3.0)
    ).toDF("doc_id", "url", "score")
    val e3 = intercept[Exception] {
      Dedup.dedupByCanonicalUrl(minInt, "doc_id", "url", "score").collect()
    }
    assert(msgs(e3).exists(_.contains("MinValue")), s"unexpected: ${e3.getMessage}")
  }

  test("minhash-LSH candidates are a superset of exact token-set pairs (Q-L5 contract)") {
    val exact = rowsOf(Dedup.exactTokenSetPairs(docs, "doc_id", "text"))
    val cands = rowsOf(Dedup.minHashLshCandidates(docs, "doc_id", "text")
      .select("doc_a", "doc_b"))
    assert(exact.subsetOf(cands),
      s"missing ${exact.diff(cands).size} exact pairs from ${cands.size} candidates")
    assert(exact.nonEmpty, "fixture should contain at least one exact dup pair")
  }

  test("minHashLshCandidates maxBucketSize df-cuts mass-duplicated docs; under-cap buckets keep full recall") {
    // 40 docs with IDENTICAL text (every band bucket saturates — the
    // mass-duplicate / boilerplate-only class) + a cold identical pair in
    // its own buckets + a singleton
    val hotText = "the quick brown fox jumps over the lazy dog again"
    val coldText = "completely different words entirely unique content here now"
    val corpus = ((1L to 40L).map(i => (i, hotText)) ++
      Seq((201L, coldText), (202L, coldText), (900L, "singleton text island alone")))
      .toDF("doc_id", "text")
    def pairs(maxBucketSize: Int): Set[(Long, Long)] =
      Dedup.minHashLshCandidates(corpus, "doc_id", "text",
        maxBucketSize = maxBucketSize).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Int.MaxValue)
    val capped = pairs(5)
    // batchCut ⊆ full, always
    assert(capped.subsetOf(full), s"cut emitted pairs the uncapped form lacks: ${capped -- full}")
    // arrival-rank semantics: the hot buckets keep their first 5 ids' pairs
    val hotPrefix = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSet
    assert(capped == hotPrefix + ((201L, 202L)),
      s"expected first-5 hot pairs + the cold under-cap pair at full recall, got $capped")
    // pair volume is bounded by cap²/2 per bucket, not corpus²
    assert(full.size == 40 * 39 / 2 + 1)
    // a cap at/above the largest bucket is EXACTLY the uncapped result
    assert(pairs(40) == full, "cap >= max bucket must change nothing")
    intercept[IllegalArgumentException](
      Dedup.minHashLshCandidates(corpus, "doc_id", "text", maxBucketSize = 0).collect())
    // the SimHash sibling rides the same helper: same contracts
    def shPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shFull = shPairs(Dedup.simHashCandidates(corpus, "doc_id", "text", bands = 4))
    val shCapped = shPairs(Dedup.simHashCandidates(corpus, "doc_id", "text", bands = 4,
      maxBucketSize = 5))
    assert(shCapped.subsetOf(shFull))
    assert(shCapped == hotPrefix + ((201L, 202L)),
      s"simhash cut must keep the same first-5 prefix + cold pair, got $shCapped")
  }

  test("incremental LSH cap: a saturated INDEX bucket pairs each batch arrival against only its first-cap ids") {
    // the appendCrawlBatch shape: a crawl state whose index holds 50
    // identical docs (the silence class), a 2-doc batch of the same text
    val hotText = "every crawl is full of this exact boilerplate text body"
    val indexed = (1L to 50L).map(i => (i, hotText)).toDF("doc_id", "text")
    val batch = Seq((1001L, hotText), (1002L, hotText)).toDF("doc_id", "text")
    val index = Dedup.BandIndex.build(indexed, "doc_id", "text")
    def pairs(maxBucketSize: Int): Set[(Long, Long)] =
      Dedup.minHashLshCandidatesAgainst(batch, "doc_id", "text", index,
        maxBucketSize = maxBucketSize).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Int.MaxValue)
    assert(full.size == 2 * 50 + 1, s"uncapped cross must pair both batch docs with all 50: ${full.size}")
    val capped = pairs(5)
    assert(capped.subsetOf(full))
    // index buckets keep ids 1..5; batch buckets (2 members) are under-cap
    val want = (for (i <- 1L to 5L; b <- Seq(1001L, 1002L)) yield (i, b)).toSet + ((1001L, 1002L))
    assert(capped == want, s"expected first-5 index ids x batch + intra pair, got $capped")
    // cap >= every bucket == exactly uncapped (the union contract's home)
    assert(pairs(50) == full)
  }

  test("LSH bucket cap: the rank window's Exchange IS the band join's — zero added shuffles; cuts signal") {
    import graft.core.{SignalBus, Signals}
    def stats(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val finalSection = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(finalSection.contains("isFinalPlan=true"), "adaptive plan did not finalize")
      "Exchange hashpartitioning".r.findAllIn(finalSection).size
    }
    // adjacent ids share text so pairs EXIST (an empty result lets AQE
    // collapse the plan to EmptyRelation — the MultimodalSpec argument)
    val corpus = (1L to 200L).map(i => (i, s"shared body of copy number ${i / 2} here"))
      .toDF("doc_id", "text")
    val plain = stats(Dedup.minHashLshCandidates(corpus, "doc_id", "text"))
    val capped = stats(Dedup.minHashLshCandidates(corpus, "doc_id", "text",
      maxBucketSize = 10))
    // r21: the UNCAPPED tail dedups pairs with the local first-band
    // filter (zero shuffles); the capped tail must keep the
    // (doc_a, doc_b) dedup Exchange (a cut bucket can drop the first
    // agreeing band's row) — so capping costs exactly ONE more Exchange,
    // and the rank window itself still adds zero (it shares the band
    // join's)
    assert(capped == plain + 1,
      s"cap shuffle shape drifted: $plain uncapped vs $capped capped " +
        "(want capped = uncapped + the retained pair-dedup Exchange only)")
    // observability: lsh.bucket_cut fires iff rows were dropped (caps
    // 33/34 unique to this test — the df-cut signal convention)
    def sigs(cap: String) = SignalBus.global.emitted(Signals.LshBucketCut)
      .filter(_.fields.get("max_bucket_size").contains(cap))
    val hot = (1L to 50L).map(i => (i, "all fifty docs share this exact text"))
      .toDF("doc_id", "text")
    Dedup.minHashLshCandidates(hot, "doc_id", "text", maxBucketSize = 33).count()
    Dedup.minHashLshCandidates(hot.limit(5), "doc_id", "text", maxBucketSize = 34).count()
    // the observed-metric bridge forwards asynchronously (listener bus)
    val deadline = System.currentTimeMillis() + 30000
    while (sigs("33").isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    val fired = sigs("33")
    assert(fired.nonEmpty, "a saturating run must emit lsh.bucket_cut")
    // 50 identical docs × 8 bands, 33 kept per bucket → 17 dropped per band
    assert(fired.last.fields("dropped_rows").toLong == 8L * 17L)
    assert(sigs("34").isEmpty, "an under-cap run must stay silent")
  }

  test("removeRepeatedSpans drops only tokens covered by a corpus-repeated window") {
    val span = "a b c d e f" // 6 tokens, spanTokens=5 -> 2 windows inside
    val docs = Seq(
      (1L, s"$span x1 y1"), // shares the span with doc 2
      (2L, s"$span x2 y2"),
      (3L, "totally different words here indeed"), // untouched
      (4L, span)) // reduced to nothing -> ''
      .toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
      spanTokens = 5, minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "x1 y1")
    assert(out(2L) == "x2 y2")
    assert(out(3L) == "totally different words here indeed")
    assert(out(4L) == "")
  }

  test("removeCrossDocSpans keeps the duplicated span in the MIN-id doc only (ExactSubstr keep-first)") {
    val span = "a b c d e f" // 6 tokens, spanTokens=5 -> 2 windows inside
    val docs = Seq(
      (1L, s"$span x1 y1"), // keeper: the minimum id sharing the span
      (2L, s"$span x2 y2"), // loses the span
      (3L, "totally different words here indeed"), // untouched
      (4L, span)) // non-keeper, reduced to nothing -> ''
      .toDF("doc_id", "text")
    val out = Dedup.removeCrossDocSpans(docs, "doc_id", "text", spanTokens = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == s"$span x1 y1", "the keeper keeps the span verbatim")
    assert(out(2L) == "x2 y2")
    assert(out(3L) == "totally different words here indeed")
    assert(out(4L) == "")
    // within-doc repetition alone is NOT cross-doc (removeRepeatedSpans'
    // territory): a solo doc repeating its own span stays whole
    val solo = Dedup.removeCrossDocSpans(
      Seq((7L, s"$span $span")).toDF("doc_id", "text"), "doc_id", "text",
      spanTokens = 5).collect()
    assert(solo.head.getString(1) == s"$span $span")
    // per-gram keep-first: a doc can be keeper of one span and lose another
    val mixed = Dedup.removeCrossDocSpans(Seq(
      (10L, "p q r s t u"), // keeper of span A
      (11L, "v w x y z k"), // keeper of span B
      (12L, "p q r s t u v w x y z k")) // loses BOTH -> ''
      .toDF("doc_id", "text"), "doc_id", "text", spanTokens = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mixed(10L) == "p q r s t u")
    assert(mixed(11L) == "v w x y z k")
    assert(mixed(12L) == "")
  }

  test("canonicalizeUrl collapses case/www/port/fragment/tracking/trailing-slash variants") {
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/a/?utm_source=x&id=7&utm_campaign=y#frag",
      "https://example.com/a/?id=7",            // already canonical
      "http://Site.org:80/dir/",
      "https://a.com/x?utm_a=1&fbclid=2",       // all params tracking -> none left
      "https://a.com/",                          // root slash kept
      "not a url")
    val got = urls.toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    assert(got(0) == "https://example.com/a/?id=7")
    assert(got(1) == got(0)) // the two variants collapse to ONE identity
    assert(got(2) == "http://site.org/dir")
    assert(got(3) == "https://a.com/x")
    assert(got(4) == "https://a.com/")
    assert(got(5) == "not a url")
  }

  test("canonicalizeUrl keeps NON-default ports (http on 443 is a distinct resource)") {
    val got = Seq("http://h.com:443/a", "https://h.com:80/a", "ftp://h.com:80/a")
      .toDF("u").select(TextAnalysis.canonicalizeUrl(col("u")))
      .collect().map(_.getString(0))
    assert(got(0) == "http://h.com:443/a")
    assert(got(1) == "https://h.com:80/a")
    assert(got(2) == "ftp://h.com:80/a")
  }

  test("canonicalizeUrl is idempotent (canonical of canonical is itself)") {
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/a/?utm_source=x&id=7#f",
      "http://Site.org:80/dir/", "https://a.com/", "plain text",
      "https://www.www.example.com/a", // repeated prefix must strip fully
      "http://h.org/a//", "https://h.org//", "http://h.org/a///b/") // multi-slash tails
    val once = urls.toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u")).as("c1"))
    val twice = once.select(col("c1"),
      TextAnalysis.canonicalizeUrl(col("c1")).as("c2"))
    assert(twice.filter(col("c1") =!= col("c2")).count() == 0)
  }

  test("linearTextScore sums broadcast weights exactly; empty docs get the bias") {
    val weights = Seq(("good", 1.5), ("bad", -2.0)).toDF("token", "weight")
    val docs = Seq(
      (1L, "good good bad"), // 1.5 + 1.5 - 2.0 + bias
      (2L, "unknown words only"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.linearTextScore(docs, "doc_id", "text", weights, bias = 0.25)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.25, 2L -> 0.25, 3L -> 0.25))
  }

  test("weightsFromTsv loads the published token\\tweight format") {
    val f = java.io.File.createTempFile("weights", ".tsv")
    try {
      val w = new java.io.PrintWriter(f, "UTF-8")
      w.println("good\t1.5"); w.println("bad\t-2.0"); w.close()
      val loaded = TextAnalysis.weightsFromTsv(spark, f.getPath)
      val m = loaded.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(m == Map("good" -> 1.5, "bad" -> -2.0))
    } finally f.delete()
  }

  test("gopherQualityFlags: each synthetic violator fails exactly its rule") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ") // 60 clean tokens
    val rows = Seq(
      (1L, base),                              // all pass
      (2L, "- a\n- b\n- c\n- d"),              // bullets fail
      (3L, "tiny doc"),                        // length fail
      (4L, (1 to 60).map(_ => "1").mkString(" "))) // alpha + word-len fail
      .toDF("id", "text")
    val f = rows.select(col("id"), TextAnalysis.gopherQualityFlags(col("text")).as("q"))
      .select(col("id"), col("q.*")).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(4), r.getBoolean(6))).toMap
    // (ok_length, ok_bullets, ok_alpha)
    assert(f(1L) == ((true, true, true)))
    assert(f(2L)._2 == false)
    assert(f(3L)._1 == false)
    assert(f(4L)._3 == false)
  }

  test("hashed-token-id candidates keep the superset contract and near-identical recall") {
    // the md5-id hash basis (the ql6 oracle path) changes WHICH borderline
    // pairs band together, never the exact-duplicate guarantee: identical
    // token sets still produce identical signatures
    val exact = rowsOf(Dedup.exactTokenSetPairs(docs, "doc_id", "text"))
    val hashed = rowsOf(Dedup.minHashLshCandidates(docs, "doc_id", "text",
      hashedTokenIds = true).select("doc_a", "doc_b"))
    assert(exact.subsetOf(hashed),
      s"missing ${exact.diff(hashed).size} exact pairs from ${hashed.size} hashed-id candidates")
  }

  test("minhash pair dedup: UNCAPPED plans no (doc_a,doc_b) Exchange; capped keeps it narrow") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(walk)
    }
    def dedupExchanges(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeLike] = {
      df.collect()
      walk(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeLike => e
      }.filter(_.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case a: Attribute => a.name }.toSet == Set("doc_a", "doc_b")
        case _ => false
      })
    }
    // r21: the uncapped tail dedups with the LOCAL first-band filter —
    // the (doc_a, doc_b) Exchange must be GONE from the plan entirely
    assert(dedupExchanges(Dedup.minHashLshCandidates(docs, "doc_id", "text")).isEmpty,
      "uncapped candidates must not shuffle for the pair dedup (first-band filter)")
    // the CAPPED tail keeps the dedup Exchange (a cut bucket can drop the
    // first agreeing band's row) — and it must stay narrow: scoring
    // happens BEFORE it, so ~24 B/row, never two 1 KB signature arrays
    val capped = dedupExchanges(Dedup.minHashLshCandidates(docs, "doc_id", "text",
      maxBucketSize = 1 << 20))
    assert(capped.nonEmpty, "expected the pair-dedup Exchange in the capped plan")
    capped.foreach { e =>
      val wide = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(wide.isEmpty,
        s"signature arrays ${wide.map(_.name).mkString(",")} ride the pair-dedup shuffle:\n$e")
    }
  }

  test("minhash similarity estimates true jaccard within tolerance") {
    val pairs = Seq(
      ("a b c d e f g h", "a b c d e f g h", 1.0), // identical
      ("a b c d", "e f g h", 0.0) // disjoint
    ).toDF("t1", "t2", "truth")
    val est = pairs.select(
      Dedup.minHashSimilarity(
        Dedup.minHash(Dedup.tokens(col("t1")), 64),
        Dedup.minHash(Dedup.tokens(col("t2")), 64), 64).as("est"),
      col("truth"))
    est.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.2)
    }
  }

  test("simhash: identical docs collide, dissimilar docs differ") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words about spark engines and pipelines qq ww ee rr tt yy")
    ).toDF("doc_id", "text")
    val cands = rowsOf(Dedup.simHashCandidates(df, "doc_id", "text"))
    assert(cands.contains(Seq(1L, 2L)))
    assert(!cands.contains(Seq(1L, 3L)) || !cands.contains(Seq(2L, 3L)))
  }

  test("wider simhash bands only shrink the candidate set (scale knob containment)") {
    // a 32-bit band collision implies both of its 16-bit halves collide,
    // so bands=2 candidates are a subset of bands=4 — the documented
    // noise-vs-guarantee trade is monotone, never a different pair set
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(200)
    val wide = rowsOf(Dedup.simHashCandidates(docs, "doc_id", "text", bands = 2))
    val base = rowsOf(Dedup.simHashCandidates(docs, "doc_id", "text", bands = 4))
    assert(wide.subsetOf(base), s"bands=2 must be ⊆ bands=4; extra: ${wide -- base}")
    // identical docs collide on EVERY band at any width — never lost
    import spark.implicits._
    val twins = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(rowsOf(Dedup.simHashCandidates(twins, "doc_id", "text", bands = 2))
      .contains(Seq(1L, 2L)))
  }

  test("simhash auto-banding keeps random band collisions O(1) per doc as the corpus grows") {
    // derivation pins: thresholds are exact integer arithmetic
    assert(Dedup.autoBands(1) == 8 && Dedup.autoBands(64) == 8)
    assert(Dedup.autoBands(65) == 4 && Dedup.autoBands(32768) == 4)
    assert(Dedup.autoBands(32769) == 2 && Dedup.autoBands(1L << 40) == 2)
    // the driver corpora both derive the 4 x 16 banding the ql52 oracle
    // replays — the registry row runs the DEFAULT and stays hash-green
    assert(Dedup.autoBands(500) == 4 && Dedup.autoBands(5000) == 4)
    // the noise bound itself: for every derived b, bands·n ≤ 2^(w+1) ⇒
    // expected random pairs/doc ≤ 1 — up to the documented 2-band floor
    for (n <- Seq(1L, 10L, 1000L, 100000L, 10000000L, 1L << 31)) {
      val b = Dedup.autoBands(n)
      assert(b * n <= (1L << (64 / b + 1)), s"noise bound violated at n=$n (bands=$b)")
    }
    // empirical: token-disjoint random corpora straddling the first
    // threshold (auto = 8 bands at n=60, 4 bands at n=600). With no true
    // near-dups every candidate is band-key noise; the derived widths
    // keep it O(1)/doc at BOTH sizes where a fixed 8-band setting would
    // grow it 10x (0.9 → 9 expected pairs/doc at an 8-bit key)
    val rnd = new scala.util.Random(7)
    def corpus(n: Int) = (1 to n).map(i =>
      (i.toLong, (1 to 30).map(_ => rnd.alphanumeric.take(10).mkString).mkString(" ")))
      .toDF("doc_id", "text")
    for (n <- Seq(60, 600)) {
      val pairs = Dedup.simHashCandidates(corpus(n), "doc_id", "text").count()
      assert(pairs.toDouble / n <= 3.0,
        s"auto-banded noise pairs/doc ${pairs.toDouble / n} at n=$n exceeds the O(1) bound")
    }
  }

  test("jaccardSimilarityJoin equals the all-pairs array-intersect reference") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(100)
    val joined = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text",
        n = 2, threshold = 0.2)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9).as("j"))
    val sh = docs.select(col("doc_id"), Dedup.wordNgrams(col("text"), 2).as("sh"))
    val ref = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        col("doc_a") < col("doc_b"))
      .withColumn("j", round(Dedup.jaccard(col("sh_a"), col("sh_b")), 9))
      .filter(col("j") >= 0.2)
      .select(col("doc_a"), col("doc_b"), col("j"))
    assert(rowsOf(joined) == rowsOf(ref))
    assert(ref.count() > 0, "fixture should contain similar pairs at 0.2")
  }

  test("prefix-filtered jaccard join equals the plain inverted-index join exactly") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(200)
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val plain = rowsOf(Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", n = 2, threshold = t)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9)))
      val pref = rowsOf(Dedup.jaccardSimilarityJoinPrefix(docs, "doc_id", "text", n = 2, threshold = t)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9)))
      assert(pref == plain, s"prefix filter diverged at threshold $t")
    }
    assert(Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .count() > 0, "fixture should contain pairs at 0.5")
  }

  test("prefix jaccard survives fp-boundary thresholds (0.07·100 overshoots in doubles)") {
    // |a| = 100 bigrams, |b| = 7 bigrams fully contained in a:
    // J = 7/(100+7-7) = 0.07 exactly, and b's shared shingles are a's
    // RAREST-last (df 2 vs 1), landing at prefix position 94 — one slot
    // inside the true prefix (100-7+1=94) but outside the fp-overshot one
    // (ceil(0.07·100)=8 → 93). Without the epsilon hardening this true
    // pair is silently dropped by BOTH the prefix and the length filter.
    val a = (1 to 101).map(i => s"t$i").mkString(" ")
    val b = (94 to 101).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val plain = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", n = 2, threshold = 0.07)
    val pref = Dedup.jaccardSimilarityJoinPrefix(docs, "doc_id", "text", n = 2, threshold = 0.07)
    assert(plain.count() == 1, "construction must produce the boundary pair")
    assert(pref.count() == 1, "prefix filter dropped the boundary pair (fp ceil overshoot)")
  }

  test("jaccardSimilarityJoin DEFAULT guards against hot-shingle blowup (opt-in for unguarded)") {
    // 10.5k docs all sharing one ubiquitous bigram: unguarded exact would
    // materialize ~55M pairs from that single join key; the default df cap
    // (10k) must drop it before the join, leaving zero shared shingles
    val hot = spark.range(10500).select(
      col("id").as("doc_id"),
      concat(lit("hot hot u"), col("id"), lit("a u"), col("id"), lit("b")).as("text"))
    val guarded = Dedup.jaccardSimilarityJoin(hot, "doc_id", "text", n = 2, threshold = 0.1)
    assert(guarded.count() == 0, "default cap failed to drop the >10k-df shingle")
    // below the cap the default is still EXACT: same fixture at 100 docs
    val small = hot.limit(100)
    val dflt = rowsOf(Dedup.jaccardSimilarityJoin(small, "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9)))
    val exact = rowsOf(Dedup.jaccardSimilarityJoin(small, "doc_id", "text", n = 2,
      threshold = 0.1, maxShingleDocFreq = None)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9)))
    assert(dflt == exact && exact.nonEmpty,
      "sub-cap corpora must be unaffected by the default guard")
  }

  test("jaccardSimilarityJoin df-cut drops hot shingles and stays a subset-ish approximation") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(100)
    // cap 1 = every shared shingle is dropped → no pairs survive
    val capped = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text",
      n = 2, threshold = 0.01, maxShingleDocFreq = Some(1L))
    assert(capped.count() == 0)
    // a generous cap equals exact (no shingle exceeds it)
    val loose = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text",
      n = 2, threshold = 0.2, maxShingleDocFreq = Some(1000000L))
    val exact = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text",
      n = 2, threshold = 0.2)
    assert(loose.count() == exact.count())
  }

  test("df-cut drops are observable: jaccard.df_cut fires iff shingles were dropped") {
    import graft.core.{SignalBus, Signals}
    def sigs(cap: String) = SignalBus.global.emitted(Signals.JaccardDfCut)
      .filter(_.fields.get("max_shingle_doc_freq").contains(cap))
    // caps 9999/17 are unique to this test, so concurrent/prior guarded
    // joins (which use the 10000 default) can't pollute the counts
    val small = spark.range(50).select(col("id").as("doc_id"),
      concat(lit("u"), col("id"), lit("a u"), col("id"), lit("b")).as("text"))
    Dedup.jaccardSimilarityJoin(small, "doc_id", "text", n = 2, threshold = 0.1,
      maxShingleDocFreq = Some(9999L)).count()
    val hot = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("hot hot u"), col("id")).as("text"))
    Dedup.jaccardSimilarityJoin(hot, "doc_id", "text", n = 2, threshold = 0.1,
      maxShingleDocFreq = Some(17L)).count()
    // observed-metric delivery is async via the listener bus (ordered, so
    // the hot run's signal arriving implies the small run's would have)
    val deadline = System.currentTimeMillis() + 30000
    while (sigs("17").isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    val fired = sigs("17")
    assert(fired.nonEmpty, "df-cut dropped shingles but no jaccard.df_cut signal fired")
    val f = fired.last.fields
    // the only >17-df bigram is "hot hot" (df=200): 1 shingle, 200 occurrences
    assert(f("dropped_shingles").toLong == 1L)
    assert(f("dropped_occurrences").toLong == 200L)
    assert(sigs("9999").isEmpty, "a cut that dropped nothing must stay silent")
  }

  test("incremental LSH dedup equals the from-scratch batch run (union contract)") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val fresh = docs.filter(col("doc_id") % 3 === 0)
    val batch = rowsOf(Dedup.minHashLshCandidates(docs, "doc_id", "text")
      .select("doc_a", "doc_b"))
    // index persists through parquet — the load side must candidate-match
    val dir = java.nio.file.Files.createTempDirectory("bandindex").toString
    Dedup.BandIndex.save(Dedup.BandIndex.build(old, "doc_id", "text"), dir)
    val loaded = Dedup.BandIndex.load(spark, dir)
    val oldPairs = rowsOf(Dedup.minHashLshCandidates(old, "doc_id", "text")
      .select("doc_a", "doc_b"))
    val newPairs = rowsOf(Dedup.minHashLshCandidatesAgainst(fresh, "doc_id", "text", loaded)
      .select("doc_a", "doc_b"))
    assert(oldPairs ++ newPairs == batch,
      "increment-by-increment must converge to the from-scratch candidate set")
    // the increment genuinely contributes both cross and intra pairs
    val crossOnly = rowsOf(Dedup.minHashLshCandidatesAgainst(fresh, "doc_id", "text", loaded,
      withinNew = false).select("doc_a", "doc_b"))
    assert(crossOnly.nonEmpty && crossOnly.subsetOf(newPairs) && (newPairs -- crossOnly).nonEmpty)
  }

  test("a band index without bha fails loudly at every candidate entry; BandIndex.upgrade converts it") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val fresh = docs.filter(col("doc_id") % 3 === 0)
    val current = Dedup.BandIndex.build(old, "doc_id", "text", numHashes = 32, bands = 4)
    // the row format every index had before the band-hash arrays
    val legacy = current.drop("bha")
    def named(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("BandIndex.upgrade"), e.getMessage)
    }
    named(Dedup.minHashLshCandidatesFromIndex(legacy, numHashes = 32, bands = 4))
    named(Dedup.minHashLshCandidatesFromIndex(legacy, numHashes = 32, bands = 4,
      maxBucketSize = 5))
    named(Dedup.minHashLshCandidatesAgainst(fresh, "doc_id", "text", legacy,
      numHashes = 32, bands = 4))
    named(Dedup.minHashLshCandidatesAgainstIndex(legacy, current, numHashes = 32,
      maxBucketSize = 5))
    val upgraded = Dedup.BandIndex.upgrade(legacy, 4)
    assert(upgraded.columns.toSeq == Seq("id", "mh", "bha", "band", "bh"))
    assert(rowsOf(upgraded) == rowsOf(current))
    assert(Dedup.BandIndex.upgrade(current, 4) eq current,
      "an index in the current format must pass through untouched")
    // a wrong banding fails the query instead of silently losing pairs
    val wrong = intercept[Exception](Dedup.BandIndex.upgrade(legacy, 8).collect())
    assert(Iterator.iterate[Throwable](wrong)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("does not match the banding")),
      wrong.toString)
    val pairs = rowsOf(Dedup.minHashLshCandidatesAgainst(fresh, "doc_id", "text", current,
      numHashes = 32, bands = 4).select("doc_a", "doc_b"))
    assert(pairs.nonEmpty)
    assert(rowsOf(Dedup.minHashLshCandidatesAgainst(fresh, "doc_id", "text", upgraded,
      numHashes = 32, bands = 4).select("doc_a", "doc_b")) == pairs)
  }

  test("word/char ngrams and jaccard") {
    val df = Seq(Tuple1("a b c d")).toDF("t")
    val grams = df.select(Dedup.wordNgrams(col("t"), 2).as("g")).head().getSeq[String](0)
    assert(grams == Seq("a b", "b c", "c d"))
    val ch = df.select(Dedup.charNgrams(col("t"), 3).as("g")).head().getSeq[String](0)
    assert(ch.contains("a b") && ch.size == 5)
    val j = Seq(("a b c", "b c d")).toDF("x", "y")
      .select(Dedup.jaccard(Dedup.tokens(col("x")), Dedup.tokens(col("y"))))
      .head().getDouble(0)
    assert(math.abs(j - 0.5) < 1e-9) // {b,c} / {a,b,c,d}
  }

  test("ngram jaccard pairs finds real near-dups only") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")
    ).toDF("doc_id", "text")
    val pairs = rowsOf(Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 2, threshold = 0.8)
      .select("doc_a", "doc_b"))
    assert(pairs == Set(Seq(1L, 2L)))
  }

  test("cosine is 1 for identical and 0 for orthogonal vectors (float64)") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    ).toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(sims(0) - 1.0) < 1e-12 && math.abs(sims(1)) < 1e-12)
  }

  test("lsh topk self-bucket recall vs brute force is reasonable") {
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val exact = rowsOf(Similarity.bruteForceTopK(queries, corpus, 3)
      .select("query_id", "neighbor_id"))
    // random (unclustered) embeddings are LSH's worst case; 4 planes with
    // multi-probe scans ~5/16 of the corpus — recall well above that floor
    // indicates the bucketing is actually informative
    val approx = rowsOf(Similarity.lshTopK(queries, corpus, 3, planes = 4, dim = 64)
      .select("query_id", "neighbor_id"))
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low for 4-plane multi-probe LSH")
  }

  test("lshTopK without the query broadcast hint returns the same rows") {
    // the escape hatch for bulk query sets: no broadcast hint → both sides
    // shuffle on the bucket key; results must be identical
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val hinted = rowsOf(Similarity.lshTopK(queries, corpus, 3, planes = 4, dim = 64)
      .select("query_id", "rank", "neighbor_id"))
    val shuffled = rowsOf(Similarity.lshTopK(queries, corpus, 3, planes = 4, dim = 64,
      broadcastQueries = false).select("query_id", "rank", "neighbor_id"))
    assert(hinted == shuffled)
  }

  test("lshTopK bounded-aggregate tail equals the window form, embeddings pruned pre-shuffle") {
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val agg = Similarity.lshTopK(queries, corpus, 3, planes = 4, dim = 64)
    val aggRows = rowsOf(agg.select(col("query_id").cast("long"),
      col("rank").cast("int"), col("neighbor_id").cast("long"), col("sim")))
    val window = rowsOf(Similarity.lshTopKWindow(queries, corpus, 3, planes = 4, dim = 64)
      .select(col("query_id").cast("long"),
        col("rank").cast("int"), col("neighbor_id").cast("long"), col("sim")))
    assert(aggRows == window)
    // the point of the refactor: a map-side partial top-k combine OF THIS
    // AGGREGATE (a bare "partial_" would also match some other aggregate's
    // partial phase), and no embedding column surviving into any Exchange.
    // Since the in-aggregate id dedup landed there is exactly ONE shuffle
    // in the whole tail — the k-bounded partial→final Exchange.
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkbysim"), s"no partial TopKBySim phase in:\n$plan")
    assertNoEmbeddingInExchange(agg)
  }

  test("bounded-aggregate top-k equals the window form, with partial combine") {
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val window = rowsOf(Similarity.bruteForceTopK(queries, corpus, 3)
      .select(col("query_id").cast("long"), col("rank").cast("int"), col("neighbor_id").cast("long")))
    val agg = Similarity.bruteForceTopKAgg(queries, corpus, 3)
    val aggRows = rowsOf(agg
      .select(col("query_id").cast("long"), col("rank").cast("int"), col("neighbor_id").cast("long")))
    assert(aggRows == window)
    // the point of the aggregate form: partial (map-side) combine — the
    // plan must show the two-phase object hash aggregate of THIS aggregate
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"no object agg in:\n$plan")
    assert(plan.contains("partial_topkbysim"), s"no partial TopKBySim phase in:\n$plan")
  }

  test("topK tail preserves string candidate ids (no silent long coercion)") {
    // an earlier tail cast the candidate id to long, nulling string/UUID
    // ids; the typed tail must return them intact with lexicographic ties
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") < 50)
      .select(concat(lit("doc-"), format_string("%03d", col("vec_id"))).as("neighbor_id"),
        col("embedding"))
    val got = Similarity.bruteForceTopKAgg(
      queries.withColumn("query_id", col("query_id").cast("string")), corpus, 3)
    assert(got.schema("neighbor_id").dataType == org.apache.spark.sql.types.StringType)
    val rows = got.collect()
    assert(rows.length == 15 && rows.forall(_.getString(2).startsWith("doc-")))
    // and the unsupported-type guard fails fast instead of nulling
    val bad = corpus.withColumn("neighbor_id", array(col("neighbor_id")))
    val err = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopKAgg(queries, bad, 3, excludeSelf = false)
    }
    assert(err.getMessage.contains("must be integral or string"))
  }

  test("multi-table LSH recovers perturbed near-dups a single table misses") {
    // planted PERTURBED twins (cosine ≈ 0.85, not clones): w = v + 0.62·u
    // with fresh gaussian u gives E[cos] = 1/sqrt(1+0.62²) ≈ 0.85. At
    // planes=8 a single table collides with prob ≈ (1-θ/π)^8 ≈ 0.21;
    // four OR-ed tables lift that to ≈ 0.61 — the recall the round-4
    // verdict flagged as missing. Random non-twin pairs sit near cos 0
    // and never reach the threshold, so recall is directly countable.
    val dim = 64
    val nPairs = 200
    val rnd = new scala.util.Random(42)
    val rows = (0 until nPairs).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val u = Array.fill(dim)(rnd.nextGaussian())
      val w = v.zip(u).map { case (x, y) => x + 0.62 * y }
      Seq((2L * i, v.map(_.toFloat)), (2L * i + 1, w.map(_.toFloat)))
    }
    val df = rows.toDF("vec_id", "embedding")
    def recall(tables: Int): Double = {
      val found = rowsOf(Similarity.cosineNearDupPairs(df, "vec_id", threshold = 0.75,
        planes = 8, dim = dim, tables = tables).select("doc_a", "doc_b"))
      (0 until nPairs).count(i => found.contains(Seq(2L * i, 2L * i + 1))).toDouble / nPairs
    }
    val single = recall(1)
    val multi = recall(4)
    assert(multi > single, s"multi-table recall $multi not above single-table $single")
    assert(multi >= 0.4, s"multi-table recall $multi below the 4-table S-curve floor")
  }

  test("embedding cap: identical vectors saturate every table; maxBucketSize keeps the first-cap prefix") {
    // 40 IDENTICAL embeddings (the failed-encode / default-vector class:
    // they collide in EVERY table at ANY planes — the ql32 recall
    // property turned quadratic) + a cold identical pair + a singleton
    val dim = 8
    val hotVec = Array(1f, 2f, -1f, 0.5f, 3f, -2f, 1f, 0.25f)
    val coldVec = Array(-3f, 1f, 2f, -0.5f, 1f, 4f, -1f, 2f)
    val loneVec = Array(0.1f, -7f, 2f, 3f, -1f, 0.2f, 5f, -2f)
    val df = ((1L to 40L).map(i => (i, hotVec)) ++
      Seq((201L, coldVec), (202L, coldVec), (900L, loneVec)))
      .toDF("vec_id", "embedding")
    def pairs(maxBucketSize: Int): Set[(Long, Long)] =
      Similarity.cosineNearDupPairs(df, "vec_id", threshold = 0.999,
        planes = 8, dim = dim, tables = 4, maxBucketSize = maxBucketSize)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Int.MaxValue)
    assert(full.size == 40 * 39 / 2 + 1, s"uncapped must pair the hot set + cold pair: ${full.size}")
    val capped = pairs(5)
    assert(capped.subsetOf(full))
    val hotPrefix = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSet
    assert(capped == hotPrefix + ((201L, 202L)),
      s"expected first-5 hot pairs + the cold under-cap pair at full recall, got $capped")
    assert(pairs(40) == full, "cap >= max bucket must change nothing")
    intercept[IllegalArgumentException](
      Similarity.cosineNearDupPairs(df, "vec_id", 0.999, 8, dim,
        maxBucketSize = 0).collect())
  }

  test("IVF cap: identical vectors share one nearest cell; maxBucketSize keeps the first-cap prefix") {
    // well-separated clusters so Lloyd gives each its own centroid:
    // 40 identical hot vectors, a far-away identical cold pair, a lone
    // vector; nprobe = 1 keeps membership = exactly the nearest cell
    val dim = 8
    val hotVec = Array(10f, 10f, 0f, 0f, 0f, 0f, 0f, 0f)
    val coldVec = Array(0f, 0f, -10f, 10f, 0f, 0f, 0f, 0f)
    val loneVec = Array(0f, 0f, 0f, 0f, 10f, -10f, 0f, 0f)
    val df = ((1L to 40L).map(i => (i, hotVec)) ++
      Seq((201L, coldVec), (202L, coldVec), (900L, loneVec)))
      .toDF("vec_id", "embedding")
    val index = Similarity.IvfIndex.train(df, "vec_id", k = 4)
    def pairs(maxBucketSize: Int): Set[(Long, Long)] =
      Similarity.ivfNearDupPairs(df, "vec_id", index, threshold = 0.999,
        nprobe = 1, maxBucketSize = maxBucketSize)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(Int.MaxValue)
    assert(full.size == 40 * 39 / 2 + 1, s"uncapped must pair the hot cell + cold pair: ${full.size}")
    val capped = pairs(5)
    assert(capped.subsetOf(full))
    val hotPrefix = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSet
    assert(capped == hotPrefix + ((201L, 202L)),
      s"expected first-5 hot pairs + the cold under-cap pair at full recall, got $capped")
    assert(pairs(40) == full, "cap >= max cell must change nothing")
  }

  test("autoPlanes keeps bucket occupancy ~constant as the corpus grows") {
    // target 1024/bucket: below target -> floor; 1M rows -> 2^10 buckets
    assert(Similarity.autoPlanes(1000) == 4)
    assert(Similarity.autoPlanes(1L << 20) == 10)
    assert(Similarity.autoPlanes(1L << 30) == 20)
    // 10x corpus adds ~log2(10) ≈ 3-4 planes (8-16x the buckets): the
    // fixed-planes quadratic (ql14's measured 3.48x at 10x) becomes
    // near-linear pair work with no caller retuning
    val p1 = Similarity.autoPlanes(100000)
    val p10 = Similarity.autoPlanes(1000000)
    assert(p10 - p1 >= 3 && p10 - p1 <= 4)
    assert(Similarity.autoPlanes(Long.MaxValue, targetBucket = 1) == 48) // pMax clamp
  }

  test("IVF near-dup pairs: clones exact at nprobe=1, perturbed twins recovered at nprobe=2") {
    // corpus-growth-safe near-dup: cell count is the trained k (scales
    // with the corpus), recall comes from multi-assignment, not from a
    // fixed 2^planes bucketing
    val dim = 64
    val nPairs = 200
    val rnd = new scala.util.Random(7)
    val rows = (0 until nPairs).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val u = Array.fill(dim)(rnd.nextGaussian())
      val w = v.zip(u).map { case (x, y) => x + 0.62 * y } // cos ≈ 0.85 twin
      Seq((2L * i, v.map(_.toFloat)), (2L * i + 1, w.map(_.toFloat)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val index = Similarity.IvfIndex.train(df, "vec_id", k = 16)

    // exact clones share their nearest centroid by construction: nprobe=1
    // finds every planted clone pair even in the coarsest setting
    val clones = df.unionByName(df.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val exactFound = rowsOf(Similarity.ivfNearDupPairs(clones, "vec_id", index,
      threshold = 0.99, nprobe = 1).select("doc_a", "doc_b"))
    (0L until 20L).foreach { i =>
      assert(exactFound.contains(Seq(i, i + 1000000L)), s"clone pair of $i missed")
    }

    // perturbed twins: multi-assignment lifts recall over single-assignment
    def recall(nprobe: Int): Double = {
      val found = rowsOf(Similarity.ivfNearDupPairs(df, "vec_id", index,
        threshold = 0.75, nprobe = nprobe).select("doc_a", "doc_b"))
      (0 until nPairs).count(i => found.contains(Seq(2L * i, 2L * i + 1))).toDouble / nPairs
    }
    val single = recall(1)
    val multi = recall(3)
    assert(multi >= single, s"multi-probe recall $multi below single $single")
    assert(multi >= 0.5, s"nprobe=3 recall $multi below floor")
  }

  test("language id classifies stopword-bearing text, und otherwise") {
    val df = Seq(
      ("the cat and the dog was in the house", "en"),
      ("el perro y la casa de los gatos", "es"),
      ("der hund und die katze ist von den", "de"),
      ("zz yy xx ww vv", "und")
    ).toDF("text", "expected")
    val out = df.select(TextAnalysis.langId(col("text")).as("got"), col("expected"))
    out.collect().foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("token counts: whitespace vs bpe-ish") {
    val df = Seq(Tuple1("hello world42 foo-bar")).toDF("t")
    val r = df.select(
      TextAnalysis.tokenCountWs(col("t")).as("ws"),
      TextAnalysis.tokenCountBpe(col("t")).as("bpe")).head()
    assert(r.getInt(0) == 3)
    assert(r.getInt(1) >= 5) // hello, world, 42, foo, -, bar
  }

  test("rolling token hash is whitespace-normalization invariant") {
    val df = Seq(("a  b   c", "a b c")).toDF("x", "y")
    val r = df.select(
      TextAnalysis.rollingTokenHash(col("x")),
      TextAnalysis.rollingTokenHash(col("y"))).head()
    assert(r.getLong(0) == r.getLong(1))
  }

  test("decontaminate flags corpus docs sharing n-grams with the benchmark, via broadcast") {
    val corpus = Seq((10L, "a b c d e"), (11L, "x y z w v")).toDF("doc_id", "text")
    val bench = Seq((1L, "c d e f g")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 3)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L)) // shares "c d e"; doc 11 is clean
    // the benchmark side must broadcast — the corpus side never shuffles
    // for the join at 100 TB
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("dropDuplicateParagraphs keeps the first global occurrence, reassembles in order") {
    val df = Seq(
      (1L, "intro\nbody one\nfooter"),
      (2L, "intro\nbody two\nfooter"),
      (3L, "intro")
    ).toDF("doc_id", "text")
    val got = Dedup.dropDuplicateParagraphs(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "intro\nbody one\nfooter", // first occurrences all survive
      2L -> "body two"))               // shared intro/footer removed
    // doc 3 lost its only paragraph → dropped entirely
  }

  test("dupLineFrac counts repeated trimmed non-blank lines") {
    val df = Seq(
      ("a\na\nb", 1.0 - 2.0 / 3.0),  // one repeat of three lines
      ("a\n  a  \n\nb", 1.0 - 2.0 / 3.0), // trim + blank-line removal
      ("single line", 0.0),
      ("", 0.0)
    ).toDF("text", "expected")
    df.select(TextAnalysis.dupLineFrac(col("text")).as("got"), col("expected"))
      .collect().foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12, r.toString))
  }

  test("topTokenFrac finds the dominant token; zero-token docs are absent") {
    val df = Seq((1L, "a a a b"), (2L, "x y"), (3L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.topTokenFrac(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.75, 2L -> 0.5)) // doc 3 has no tokens → absent
  }

  test("contact counts and redaction") {
    val df = Seq(Tuple1(
      "mail me at a.b+c@test-site.org or see https://x.org/a?b=1 and http://y.io end")
    ).toDF("text")
    val r = df.select(
      TextAnalysis.emailCount(col("text")).as("e"),
      TextAnalysis.urlCount(col("text")).as("u"),
      TextAnalysis.redactContacts(col("text")).as("red")).head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 2)
    assert(r.getString(2) == "mail me at <EMAIL> or see <URL> and <URL> end")
    // URL userinfo must not half-survive as an email after redaction
    val cred = Seq(Tuple1("go https://user@host.example/path now")).toDF("text")
    assert(cred.select(TextAnalysis.redactContacts(col("text"))).head().getString(0)
      == "go <URL> now")
  }

  test("quality score is bounded and favors normal text") {
    val df = Seq(
      ("the quick brown fox jumps over the lazy dog again and again today ok", "good"),
      ("x", "bad")
    ).toDF("text", "kind")
    val scores = df.select(col("kind"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores("good") > scores("bad"))
    assert(scores.values.forall(v => v >= 0 && v <= 1))
  }
}
