package perfbench

import graft.SparkEntry
import graft.core.ErrorChannel
import graft.llm.{Dedup, Pipelines, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One benchmark workload. A closed loop with one client thread calls
  * `pass` until the run's seconds are spent.
  */
trait Workload {
  /** Inputs the program receives: name → (rows, bytes). */
  val inputs = mutable.LinkedHashMap.empty[String, (Long, Long)]

  /** Generate the inputs and build the persisted state from scratch. */
  def prepare(c: Ctx): Unit

  /** Record the rows and bytes of every input; untimed. */
  def stampInputs(c: Ctx): Unit

  /** Untimed warm-up at the measured scale: class loading, code
    * generation, JIT and any in-process memo caches.
    */
  def warm(c: Ctx): Unit

  /** One pass of the workload's unit of work. Appends the latency of each
    * client request to `requests` and returns (pass wall seconds, input
    * items absorbed).
    */
  def pass(c: Ctx, m: Meter, requests: mutable.ArrayBuffer[Double]): (Double, Long)

  /** Compare the outputs with what the generator knows; untimed. */
  def check(c: Ctx): Unit

  /** Traced run only: per-layer measurements outside the timed loop. */
  def breakdown(c: Ctx): Unit = ()

  /** Per-layer metrics this workload measures (beyond driver/exec/cache). */
  def layerNames: Seq[String] = Nil

  protected def stamp(c: Ctx, name: String, path: String): Unit =
    inputs(name) = (c.spark.read.parquet(path).count(), c.du(path))

  /** Parquet writer cost alone: re-write `path` minus a bare scan of it. */
  protected def writerCost(c: Ctx, path: String): Double = {
    val scratch = c.dir("rewrite")
    val scan = Stats.medianTime(3)(c.noop(c.spark.read.parquet(path)))
    val write = Stats.medianTime(3)(c.spark.read.parquet(path).write.mode("overwrite").parquet(scratch))
    c.rm(scratch)
    math.max(0.0, write - scan)
  }
}

object Workloads {
  val all: Map[String, () => Workload] = Map(
    "battery" -> (() => new Battery),
    "etl_events" -> (() => new EtlEvents))
}

/** Registry queries from `graft.Bench.headline`, each forced through the
  * `noop` sink, one pass per loop in a seeded order over the sf0.1
  * fixture tables as they are.
  */
object Battery {
  /** Headline rows that write scratch state outside the working
    * directory; neither the battery nor the survey runs them.
    */
  val WritesOutside = Set("qx12_jsonl_roundtrip", "qx13_csv_roundtrip", "ql67b_bm25_serve")
  /** Scale at which outputs are checked against the DuckDB reference
    * SQL: at sf0.1 the reference takes minutes on several rows; sf0.01 is
    * the scale of the repository's own oracle gate.
    */
  val OracleScale = "sf0.01"
  val FixtureTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Rows over all fixture tables at scale `dir`. */
  def rows(c: Ctx, dir: String): Long =
    FixtureTables.map(t => c.spark.read.parquet(s"$dir/$t.parquet").count()).sum

  /** One query through the `noop` sink: its wall, failures included. */
  def runQuery(c: Ctx, m: Meter, q: String, dir: String, label: String): Double = {
    val t0 = System.nanoTime()
    c.attempt(label) {
      val df = m.compose(SparkEntry.queries(q)(c.spark, dir))
      m.action(c.noop(df))
    }
    val s = Stats.secsSince(t0)
    m.flush()
    c.release(m)
    s
  }

  /** Two-scale fit, t = fixed + per-row × rows: (fixed s, per-row s). */
  def fit(big: Double, small: Double, nBig: Double, nSmall: Double): (Double, Double) = {
    val perRow = math.max(0.0, (big - small) / (nBig - nSmall))
    (math.min(big, math.max(0.0, big - perRow * nBig)), perRow)
  }
}

final class Battery extends Workload {
  import Battery._

  /** The slice of the headline battery that `survey.py` chose by
    * measurement (results/battery_survey.json): every multi-action row,
    * then the rows that bring the slice's fixed share, jobs and actions
    * per query closest to the whole battery's, within the pass budget.
    */
  val queries: Seq[String] = Seq(
    "ql42_semantic_dedup", "qc1_sequence", "ql51_winnowing", "qs1_topk", "ql13_ngram_terms",
    "qm4_frame_sample", "ql7_token_count", "ql59_sentences")
  /** Noop passes at the measured scale after the oracle pass. */
  val WarmPasses = 1

  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sf(c: Ctx, s: String) = s"${c.data}/$s"

  def prepare(c: Ctx): Unit = c.rm(c.dir("battery_out"))

  def stampInputs(c: Ctx): Unit =
    inputs("sf0.1") = (rows(c, sf(c, "sf0.1")), FixtureTables.map(t => c.du(s"${sf(c, "sf0.1")}/$t.parquet")).sum)

  /** Warm-up: a first pass at `OracleScale` writes each result as parquet
    * for the launcher's DuckDB oracle check, then `WarmPasses` noop passes
    * at the measured scale.
    */
  def warm(c: Ctx): Unit = {
    val out = c.dir("battery_out")
    c.detail("oracle_scale") = OracleScale
    queries.foreach { q =>
      c.attempt(s"oracle $q") {
        SparkEntry.queries(q)(c.spark, sf(c, OracleScale)).write.mode("overwrite").parquet(s"$out/$q")
      }
      c.release(new Meter(None))
    }
    val oracle = SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(oracle)(org.json4s.DefaultFormats))
    for (_ <- 1 to WarmPasses; q <- queries)
      runQuery(c, new Meter(None), q, sf(c, "sf0.1"), s"warm $q")
  }

  def pass(c: Ctx, m: Meter, requests: mutable.ArrayBuffer[Double]): (Double, Long) = {
    var wall = 0.0
    c.rng.shuffle(queries).foreach { q =>
      val s = runQuery(c, m, q, sf(c, "sf0.1"), q)
      if (c.trace.isEmpty) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
      requests += s
      wall += s
    }
    (wall, queries.size.toLong)
  }

  /** Outputs are compared with the DuckDB oracle by the launcher; this
    * records the per-query times of the timed loop.
    */
  def check(c: Ctx): Unit =
    c.detail("per_query_s") = perQuery.map { case (q, ts) => q -> ts.toSeq }.toMap

  override def layerNames: Seq[String] = Seq("fit.fixed_share", "fit.per_row_ns", "sources.scan_s")

  override def breakdown(c: Ctx): Unit = {
    // two-scale fit: per query, t = fixed + per_row × input rows, from
    // the timed sf0.1 medians and one noop pass at sf0.01
    val small = sf(c, "sf0.01")
    val tSmall = queries.map(q => q -> runQuery(c, new Meter(None), q, small, s"fit $q")).toMap
    val nSmall = rows(c, small).toDouble
    val nBig = inputs("sf0.1")._1.toDouble
    val fits = queries.map { q =>
      val big = Stats.median(perQuery(q).toSeq)
      val (fixed, perRow) = fit(big, tSmall(q), nBig, nSmall)
      (fixed, perRow, big)
    }
    c.layers("fit.fixed_share") = fits.map(_._1).sum / fits.map(_._3).sum
    c.layers("fit.per_row_ns") = fits.map(_._2).sum * 1e9
    c.detail("fit") = queries.zip(fits).map { case (q, (a, b, t)) =>
      q -> Map("sf0.1_s" -> t, "sf0.01_s" -> tSmall(q), "fixed_s" -> a, "per_row_ns" -> b * 1e9)
    }.toMap
    c.layers("sources.scan_s") =
      Stats.medianTime(3)(FixtureTables.foreach(t => c.noop(c.spark.read.parquet(s"${sf(c, "sf0.1")}/$t.parquet"))))
  }
}

/** The text-kernel and near-duplicate layers, timed on a generated corpus
  * in the `etl_events` traced run: `Copies` sentence-shaped salted copies
  * of the sf0.1 documents with planted near-duplicate clusters. Kernels
  * run over the whole corpus; candidates and keep-best over copy 0 and
  * its planted duplicates.
  */
object CorpusLayers {
  val Copies = 4L
  val SharePct = 10
  val names: Seq[String] = Seq(
    "functions.scan_s", "functions.tokens_s", "functions.minhash_s", "functions.band_hashes_s",
    "functions.pii_scrub_s", "functions.gopher_flags_s", "functions.c4_lines_s",
    "llm.candidates_s", "llm.candidate_pairs", "llm.pair_yield", "llm.keep_best_s")

  def measure(c: Ctx, w: Workload): Unit = {
    val path = c.dir("corpus")
    val fixture = graft.sources.Tables.load(c.spark, s"${c.data}/sf0.1", "documents")
    val (planted, truth) = Inputs.plantClusters(Inputs.corpus(fixture, c.seed, Copies), c.seed, SharePct)
    planted.write.mode("overwrite").parquet(path)
    truth.write.mode("overwrite").parquet(c.dir("corpus_truth"))
    val docs = c.spark.read.parquet(path)
    w.inputs("corpus") = (docs.count(), c.du(path))
    val text = col("text")
    def time(df: org.apache.spark.sql.DataFrame): Double = Stats.medianTime(3)(c.noop(df))
    def kernel(cols: org.apache.spark.sql.Column*): Double = time(docs.select(col("doc_id") +: cols: _*))
    // a kernel's time net of its bare scan; a kernel that does not rise
    // above the scan is left unset, so it is listed as not measured
    def net(name: String, t: Double, base: Double): Unit = if (t > base) c.layers(name) = t - base
    val scan = kernel(text)
    c.layers("functions.scan_s") = scan
    net("functions.tokens_s", kernel(Dedup.tokens(text)), scan)
    net("functions.minhash_s", kernel(Dedup.minHash(Dedup.tokens(text), 64)), scan)
    net("functions.pii_scrub_s", kernel(TextAnalysis.piiScrub(text)), scan)
    net("functions.gopher_flags_s", kernel(TextAnalysis.gopherQualityFlags(text)), scan)
    net("functions.c4_lines_s", kernel(TextAnalysis.c4CleanLines(text)), scan)
    // band hashes over stored signatures, net of scanning them
    docs.select(col("doc_id"), Dedup.minHash(Dedup.tokens(text), 64).as("sig"))
      .write.mode("overwrite").parquet(c.dir("corpus_sigs"))
    val sigs = c.spark.read.parquet(c.dir("corpus_sigs"))
    net("functions.band_hashes_s",
      time(sigs.select(col("doc_id"), graft.functions.MinHash.bandHashes(col("sig"), 8))), time(sigs))

    // candidates and keep-best over copy 0, normalized, scored and cached
    // once so each call is timed on its own
    val copy0 = col("doc_id") % Inputs.CopyShift < Inputs.DocShift
    val staged = docs.filter(copy0).withColumn("text", TextAnalysis.normalizeText(text))
      .withColumn("score", TextAnalysis.qualityScore(col("text"))).cache()
    val stagedRows = staged.count()
    var all = 0L
    c.layers("llm.candidates_s") = Stats.medianTime(3) {
      all = Dedup.minHashLshCandidates(staged, "doc_id", "text").count()
    }
    val pairs = Dedup.minHashLshCandidates(staged, "doc_id", "text", minJaccard = 0.7).cache()
    val kept = pairs.count()
    c.layers("llm.candidate_pairs") = all.toDouble
    c.layers("llm.pair_yield") = if (all == 0) 0.0 else kept.toDouble / all
    c.layers("llm.keep_best_s") = Stats.medianTime(3)(c.noop(Dedup.dedupKeepBest(staged, "doc_id", pairs, "score")))

    // planted copies share their original's normalized tokens: every pair
    // inside a cluster is a candidate at Jaccard 1, and keep-best leaves
    // one document per cluster
    val clusters = c.spark.read.parquet(c.dir("corpus_truth")).filter(copy0)
    val sizes = clusters.groupBy("cluster").count().collect().map(_.getLong(1))
    val expectedPairs = sizes.map(n => n * (n - 1) / 2).sum
    c.expect(kept == expectedPairs, s"corpus: $kept candidate pairs at Jaccard >= 0.7, planted $expectedPairs")
    val survivors = Dedup.dedupKeepBest(staged, "doc_id", pairs, "score").select("doc_id")
    val expectedRows = stagedRows - (sizes.sum - sizes.length)
    val n = survivors.count()
    c.expect(n == expectedRows, s"corpus: keep-best left $n documents, expected $expectedRows")
    val split = clusters.join(survivors, "doc_id")
      .groupBy("cluster").count().filter(col("count") =!= 1).count()
    c.expect(split == 0, s"corpus: $split planted clusters kept more than one document")
    c.release(new Meter(None))
  }
}

/** A pipz-style row pipeline over key-shifted batches of events with
  * planted malformed `props`. Each batch is one client request: one
  * `Pipeline.run` into that batch's good and dead-letter parquet sinks.
  */
final class EtlEvents extends Workload {
  import graft.combinators._
  import graft.runtime.Pipeline
  import graft.stages._

  val Batches = 2
  /** Key-shifted copies of the fixture events (100,000 rows each) per batch. */
  val CopiesPerBatch = 1
  val PerMille = 20
  private val planted = mutable.Map.empty[Int, Long]

  private def in(c: Ctx, b: Int) = c.dir(s"events_in/batch=$b")
  private def good(c: Ctx, b: Int) = c.dir(s"events_good/batch=$b")
  private def dead(c: Ctx, b: Int) = c.dir(s"events_dead/batch=$b")
  private def rows(c: Ctx, path: String) = c.spark.read.parquet(path).count()

  def prepare(c: Ctx): Unit = {
    Seq("events_in", "events_good", "events_dead", "users").map(c.dir).foreach(c.rm)
    val fixture = graft.sources.Tables.load(c.spark, s"${c.data}/sf0.1", "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    for (b <- 0 until Batches) {
      val copies = (0 until CopiesPerBatch).map(i => (b * CopiesPerBatch + i).toLong)
      val (events, bad) = Inputs.events(fixture, c.seed, copies, PerMille)
      events.write.mode("overwrite").parquet(in(c, b))
      planted(b) = c.spark.read.parquet(in(c, b)).filter(bad).count()
    }
    c.spark.read.parquet(c.dir("events_in")).select(col("user_id").as("uid")).distinct()
      .withColumn("seg", concat(lit("s"), pmod(xxhash64(lit(c.seed), col("uid")), lit(5L))))
      .write.mode("overwrite").parquet(c.dir("users"))
  }

  def stampInputs(c: Ctx): Unit = {
    stamp(c, "events", c.dir("events_in"))
    stamp(c, "users", c.dir("users"))
  }

  private def pipeline(c: Ctx): Pipeline = {
    val users = c.spark.read.parquet(c.dir("users"))
    val k = get_json_object(col("props"), "$.k")
    Pipeline("etl_events", Sequence("etl")(
      Apply("parse_props", k.isNull, "props has no k")("k" -> k.cast("int")),
      Fallback("amount", "amount")(col("value"), col("k").cast("double")),
      Mutate("cap_amount", col("amount") > 500.0)("amount" -> lit(500.0)),
      Enrich.lookup("segment", users, col("user_id") === col("uid"))(
        "segment" -> coalesce(col("seg"), lit("none"))),
      Switch("weight", col("event_type"))(
        "click" -> Transform("w_click")("weight" -> lit(1.0)),
        "view" -> Transform("w_view")("weight" -> lit(0.2)),
        "purchase" -> Transform("w_purchase")("weight" -> lit(5.0))),
      Filter("big", col("amount") > 100.0, Transform("flag_big")("big" -> lit(true))),
      Concurrent.reduced("scores", (_, outs) =>
        outs(0).join(outs(1).select(col("event_id"), col("score_log")), Seq("event_id")))(
        Transform("score_lin")("score_lin" -> coalesce(col("weight"), lit(0.1)) * col("amount")),
        Transform("score_log")("score_log" -> log1p(col("amount"))))))
  }

  def warm(c: Ctx): Unit = pass(c, new Meter(None), mutable.ArrayBuffer.empty)

  def pass(c: Ctx, m: Meter, requests: mutable.ArrayBuffer[Double]): (Double, Long) = {
    var wall = 0.0
    for (b <- 0 until Batches) {
      val t0 = System.nanoTime()
      c.attempt(s"etl_events batch $b") {
        val p = pipeline(c)
        val out = m.timed("runtime.plan_s")(m.compose(p.plan(c.spark.read.parquet(in(c, b)))))
        m.timed("runtime.run_s")(p.run(c.spark) {
          m.action {
            ErrorChannel.good(out).write.mode("overwrite").parquet(good(c, b))
            ErrorChannel.dead(out).write.mode("overwrite").parquet(dead(c, b))
          }
        })
        m.named("combinators.shared_cache_bytes") =
          m.named.getOrElse("combinators.shared_cache_bytes", 0.0) + c.held()._2
        p.close()
      }
      m.flush()
      c.release(m)
      val s = Stats.secsSince(t0)
      requests += s
      wall += s
    }
    (wall, inputs("events")._1)
  }

  def check(c: Ctx): Unit = for (b <- 0 until Batches) {
    val n = rows(c, in(c, b))
    val g = rows(c, good(c, b))
    val d = rows(c, dead(c, b))
    c.expect(g + d == n, s"etl_events batch $b: $g good + $d dead != $n input rows")
    c.expect(d == planted(b), s"etl_events batch $b: $d dead letters, planted ${planted(b)} malformed")
    c.detail(s"dead_letters_batch_$b") = d
  }

  override def layerNames: Seq[String] = Seq("runtime.plan_s", "runtime.run_s",
    "core.dead_letter_share", "combinators.shared_cache_bytes",
    "sources.scan_s", "sources.write_s", "sources.bytes_written", "sources.write_amp") ++
    CorpusLayers.names

  override def breakdown(c: Ctx): Unit = {
    val n = inputs("events")._1
    c.layers("core.dead_letter_share") = rows(c, c.dir("events_dead")).toDouble / n
    c.layers("sources.scan_s") = Stats.medianTime(3)(c.noop(c.spark.read.parquet(c.dir("events_in"))))
    c.layers("sources.write_s") = writerCost(c, c.dir("events_good")) + writerCost(c, c.dir("events_dead"))
    val written = (c.du(c.dir("events_good")) + c.du(c.dir("events_dead"))).toDouble
    c.layers("sources.bytes_written") = written
    c.layers("sources.write_amp") = written / inputs("events")._2
    CorpusLayers.measure(c, this)
  }
}
