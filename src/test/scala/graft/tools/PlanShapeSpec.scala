package graft.tools

import graft.SparkSpec

/** The plan-regression gate: [[PlanAudit.shapes]] asserted against the
  * ACTUAL physical plans at sf0.001 (the same dir PlanAudit documents, so
  * join-strategy choices match PLANS.md). Counting is string-level over
  * `executedPlan.toString` — AQE prints the initial tree without
  * executing, and shuffle Exchanges print as `Exchange <partitioning>`
  * while `BroadcastExchange`/`ReusedExchange` are distinct tokens (the
  * FormatsSpec compactTo counter's convention).
  */
class PlanShapeSpec extends SparkSpec {

  private val shuffleLine = """(?m)^[\s+:*-]*Exchange """.r

  test("every audited plan shape holds: shuffle budget, required and forbidden operators") {
    val failures = PlanAudit.shapes.toSeq.sortBy(_._1).flatMap { case (name, shape) =>
      try {
        val qe = graft.SparkEntry.queries(name)(spark, sf).queryExecution
        val plan = qe.executedPlan.toString
        val shuffles = shuffleLine.findAllIn(plan).size
        val over =
          if (shuffles > shape.maxShuffles)
            Seq(s"$name: $shuffles shuffles > budget ${shape.maxShuffles}")
          else Nil
        // scan budget: "FileScan parquet" occurrences — the ql63 class of
        // claim ("the expensive scan-riding projection runs at most N
        // times") machine-checked like the shuffle budget
        val scans = "FileScan parquet".r.findAllIn(plan).size
        val overScans =
          if (scans > shape.maxScans)
            Seq(s"$name: $scans parquet scans > budget ${shape.maxScans}")
          else Nil
        val missing = shape.require.filterNot(plan.contains)
          .map(op => s"$name: required operator $op absent")
        val present = shape.forbid.filter(plan.contains)
          .map(op => s"$name: forbidden operator $op present")
        val optimized = qe.optimizedPlan.toString
        val notOnce = shape.once.flatMap { tok =>
          val n = java.util.regex.Pattern.quote(tok).r.findAllIn(optimized).size
          if (n == 1) Nil else Seq(s"$name: $tok occurs $n times in the optimized plan, not once")
        }
        over ++ overScans ++ missing ++ present ++ notOnce
      } catch {
        case e: Exception => Seq(s"$name: failed to plan: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("noWideShuffle shapes: no embedding/binary column in any executed Exchange") {
    for ((name, shape) <- PlanAudit.shapes.toSeq.sortBy(_._1) if shape.noWideShuffle)
      assertNoEmbeddingInExchange(graft.SparkEntry.queries(name)(spark, sf))
  }

  test("ql50's lazy form persists boundaries that downstream branches share") {
    // the registry query localCheckpoints (materialize = true), which
    // collapses the plan to an ExistingRDD scan — the persist-cut claim
    // is only visible on the lazy form, so gate it directly: the corpus
    // gate prefix closes at a cached boundary read by the repetition
    // branch AND (round 22) the scrubbed/scored STAGED rows close at a
    // second one read by the dedup self-join sides and the bucket window
    // — never the raw scan chain. A refactor that silently drops the
    // persists returns the measured 10x recompute fan-out (66 s -> 6 s
    // at sf0.1, BASELINE.md).
    spark.sqlContext.clearCache()
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("lang"))
    val lazyPipe = graft.llm.Pipelines.pretrainCorpus(docs, materialize = false)
    try {
      assert(!spark.sharedState.cacheManager.isEmpty,
        "pretrainCorpus(materialize=false) no longer persists its gate boundary")
      val plan = lazyPipe.queryExecution.executedPlan.toString
      val cacheReads = "InMemoryTableScan".r.findAllIn(plan).size
      assert(cacheReads >= 2,
        s"expected >=2 InMemoryTableScan readers of the shared gate cache, got $cacheReads")
    } finally spark.sqlContext.clearCache()
  }

  test("ql50b's lazy incremental chain never cross-joins and buckets through the one window") {
    // the registry query localCheckpoints (materialize-then-release, the
    // r14 ADVICE gate-cache-leak fix), which collapses its plan to an
    // ExistingRDD scan — so gate the shape claims on the LAZY chain the
    // prose describes: init + append + emit, never a cross join, the one
    // per-language bucket window present
    spark.sqlContext.clearCache()
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("lang"))
    val even = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(2)) === 0)
    val odd = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(2)) =!= 0)
    val state = graft.llm.Pipelines.appendCrawlBatch(
      graft.llm.Pipelines.initCrawlState(even), odd)
    try {
      val plan = graft.llm.Pipelines.emitPretrainCorpus(state)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        "the incremental chain must never cross-join")
      assert(plan.contains("Window ["),
        "the per-language bucket window is absent from the lazy chain")
    } finally {
      state.release()
      spark.sqlContext.clearCache()
    }
  }

  /** Executed-plan stats under AQE: run the query, split the finalized
    * adaptive plan at `== Initial Plan ==` and count "FileScan parquet" /
    * "ReusedExchange" tokens in the FINAL section — the ql54 stage-dedup
    * convention, generalized so every "the Exchange is reused, the chain
    * computes once" claim gets a machine check instead of a comment.
    */
  private def finalPlanStats(name: String): (Int, Int) = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.collect() // force execution so AQE finalizes and dedupes stages
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(finalSection.contains("isFinalPlan=true"),
      s"$name: adaptive plan did not finalize")
    ("FileScan parquet".r.findAllIn(finalSection).size,
      "ReusedExchange".r.findAllIn(finalSection).size)
  }

  test("ql54's four static aggregation branches dedupe to ONE scan at runtime") {
    // the static plan prints four Generate+scan subtrees; the claim is
    // that AQE dedupes the identical bigram-count shuffle stages, so the
    // corpus is scanned ONCE and the other three branches read
    // ReusedExchange — assert on the finalized adaptive plan
    val (scans, reused) = finalPlanStats("ql54_lm_estimate")
    assert(scans == 1, s"expected ONE corpus scan in the final plan, got $scans")
    assert(reused >= 3, s"expected >=3 reused bigram-count stages, got $reused")
  }

  test("ql68's 13 static lmEstimate scans dedupe to <=5 at runtime") {
    // the audited prose claims the two model-estimation subtrees inherit
    // ql54's AQE stage dedup — inheriting the construction does not
    // inherit the machine check, so pin it on THIS query's finalized
    // plan: 13 static scans collapse to <=5 with >=4 ReusedExchange
    val (scans, reused) = finalPlanStats("ql68_dsir_select")
    assert(scans <= 5, s"expected <=5 scans in the final plan, got $scans")
    assert(reused >= 4, s"expected >=4 reused model stages, got $reused")
  }

  test("ql70's twice-referenced unigram-count stage dedupes at runtime") {
    // 5 static scans (bigram count + total, unigram count x2 + total);
    // the duplicated unigram-count subtree must read ReusedExchange
    val (scans, reused) = finalPlanStats("ql70_collocations")
    assert(scans <= 4, s"expected <=4 scans in the final plan, got $scans")
    assert(reused >= 1, s"expected the unigram-count stage reused, got $reused")
  }

  test("shuffle_hash self-join family: both sides share ONE reused Exchange at runtime") {
    // the r13 shuffle_hash conversion's whole point: the signature /
    // decode chain below the pair join computes ONCE because the two
    // join sides canonicalize to the same Exchange and AQE reuses it.
    // The static gate cannot see this (ReusedExchange only exists in the
    // finalized adaptive plan), and an unchecked comment claiming it is
    // how r13 shipped a phantom gate — so each conversion pins its
    // measured (scan budget, >=1 reuse) here. A rename/hint change that
    // breaks canonicalization re-runs the chain per side and goes red.
    val budgets = Seq(
      // banding scan + ONE rescore join-back scan (the second join-back
      // reads the ReusedExchange) — the chain computes 2x, not 3x
      "ql53_ngram_jaccard" -> 2,
      // single scan: the md5-set projection feeds both join sides via
      // the reused Exchange
      "ql5_token_set_dups" -> 1,
      "ql52_simhash_candidates" -> 1,
      // sketch scan + pair-count join-back scan
      "ql62_winnow_pairs" -> 2,
      // three fixture branches (orig/upscale/brightness) each scan the
      // docs table; the pair stage's banded self-join reads ONE reused
      // Exchange so the decode+hash never runs per side
      "qm3_perceptual_neardup" -> 3,
      // two fixture branches (orig/trimmed copy) scan the docs table;
      // the segment-banded self-join reads ONE reused Exchange so the
      // WAV parse + window hashing never runs per side
      "qm9_audio_neardup" -> 2)
    val failures = budgets.flatMap { case (q, maxScans) =>
      val (scans, reused) = finalPlanStats(q)
      val over = if (scans > maxScans)
        Seq(s"$q: $scans corpus scans > budget $maxScans") else Nil
      val noReuse = if (reused < 1)
        Seq(s"$q: no ReusedExchange in the final plan — the shared " +
          "Exchange stopped canonicalizing and the chain now computes per join side") else Nil
      over ++ noReuse
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every shape key is a registered query with an audit claim") {
    val unknown = PlanAudit.shapes.keySet -- graft.SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"shapes for unregistered queries: $unknown")
    val unclaimed = PlanAudit.shapes.keySet -- PlanAudit.audited.map(_._1).toSet
    assert(unclaimed.isEmpty,
      s"machine shapes need a matching prose claim in PlanAudit.audited: $unclaimed")
  }
}
