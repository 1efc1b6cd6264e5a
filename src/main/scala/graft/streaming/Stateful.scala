package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Custom stateful streaming operators (`SURVEY.md §2.3` StatefulStage):
  * `mapGroupsWithState` wrappers carrying explicit per-key state — the
  * data-parallel home of reference-style cross-call state (the breaker's
  * failure counts, the limiter's token level: `SURVEY.md §1.3`).
  *
  * State lives in the state store (checkpointable, partitioned by key);
  * nothing accumulates on the driver.
  */
object Stateful {

  /** Generic keyed fold: per key, state `S` evolves by `update` for every
    * batch of values; emits the updated state each trigger.
    */
  def keyedFold[K: Encoder, V, S: Encoder, O: Encoder](
      ds: Dataset[V], key: V => K, init: S, timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())(
      update: (S, Iterator[V]) => S)(
      emit: (K, S) => O)(implicit kvEnc: Encoder[(K, S)]): Dataset[O] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(key)
      .mapGroupsWithState[S, O](timeout) { (k: K, values: Iterator[V], state: GroupState[S]) =>
        val next = update(state.getOption.getOrElse(init), values)
        state.update(next)
        emit(k, next)
      }
  }

  /** Running per-key count — the canonical stateful example. */
  def runningCounts[V](ds: Dataset[V], key: V => Long): Dataset[(Long, Long)] = {
    import ds.sparkSession.implicits._
    keyedFold[Long, V, Long, (Long, Long)](ds, key, 0L) { (s, vs) =>
      s + vs.size
    } { (k, s) => (k, s) }
  }

  val updateMode: OutputMode = OutputMode.Update()

  /** First-seen filter on the `transformWithState` API (the arbitrary-state
    * successor to mapGroupsWithState): per key a ValueState flag with
    * optional TTL — each key's first row passes, later rows drop. This is
    * streaming exact dedup with BOUNDED state: TTL expiry caps the store
    * at (distinct keys per TTL window), the property that keeps it alive
    * at 100 TB/day key cardinalities where an unbounded "seen" set dies.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  final class FirstSeen[K, V](ttl: TTLConfig)
      extends StatefulProcessor[K, V, V] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, ttl)

    override def handleInputRows(key: K, rows: Iterator[V],
                                 timers: TimerValues): Iterator[V] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); rows.take(1) }
  }

  /** Streaming exact dedup by `key` via [[FirstSeen]]. */
  def firstSeen[K: Encoder, V: Encoder](ds: Dataset[V], key: V => K,
                                        ttl: TTLConfig = TTLConfig.NONE): Dataset[V] =
    // timeModeFor, not TimeMode.None(): a value-level TTL under
    // TimeMode.None throws at stream start (Spark validates the pair),
    // which would make the documented state-bound knob unusable
    ds.groupByKey(key).transformWithState(
      new FirstSeen[K, V](ttl), timeModeFor(ttl), OutputMode.Update())

  /** BATCH-PARITY form of [[firstSeen]]: the first row per key under an
    * EXPLICIT total order (`orderCols`, e.g. event time + a unique
    * tiebreak) — exactly what the streaming operator emits when rows
    * arrive in that order (spec-pinned in `StatefulSpec`; the Q-T5
    * driver oracle replays it as row_number = 1). "First" needs the
    * explicit order because streaming arrival order is not a replayable
    * batch concept. `orderCols` should totally order rows WITHIN a key
    * (e.g. event time + a unique tiebreak): when it does not, the
    * payload columns break the remaining ties lexicographically — still
    * deterministic, but not any arrival order a stream would produce.
    *
    * Shape at scale: ONE aggregation — lexicographic
    * `min(struct(order ++ payload))` is map-side combinable, so ≤ 1 row
    * per key per map task enters the shuffle; no corpus-wide
    * row_number window (the window form shuffles every event). Struct
    * ordering is not hash-aggregable, so the physical form is a
    * partial+final SortAggregate pair — the sorts are per map
    * partition, never a global sort (plan pinned in PLANS.md).
    */
  def firstSeenBatch(df: org.apache.spark.sql.DataFrame,
                     keyCols: Seq[String], orderCols: Seq[String],
                     payloadCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(orderCols.nonEmpty, "firstSeenBatch needs a total order")
    val carried = orderCols ++ payloadCols
    df.groupBy(keyCols.map(col): _*)
      .agg(min(struct(carried.map(col): _*)).as("_first"))
      .select(keyCols.map(col) ++
        carried.map(c => col(s"_first.$c").as(c)): _*)
  }

  /** Watermark-bounded streaming dedup over the given columns — the
    * built-in form when duplicates arrive within the watermark delay
    * (state evicts with the watermark; the TTL-free bounded alternative
    * to [[firstSeen]]).
    */
  def dedupWithinWatermark(ds: Dataset[org.apache.spark.sql.Row], tsCol: String,
                           delay: String, cols: Seq[String]): Dataset[org.apache.spark.sql.Row] =
    ds.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(cols)

  // ------------------------------------------- streaming MinHash near-dup
  // The reference keeps cross-call state inside stateful connectors
  // (reference/circuitbreaker.go:100-115 holds failure counts across
  // calls); the data-parallel analog is keyed state in the state store —
  // these two processors are that pattern applied to the near-dup sketch.

  /** Per-document MERGEABLE MinHash sketch state: documents arrive in
    * token CHUNKS (continuous ingest of large/partial docs); per key the
    * running min vector folds each chunk in via the same seed chain as the
    * batch `MinHashSignature` expression, so after a doc's last chunk the
    * emitted signature is bit-identical to the batch signature of the
    * concatenated tokens — min is associative/commutative, so batch
    * split points and arrival order are immaterial. O(numHashes) state
    * per in-flight document.
    */
  final class MinHashSketchState(numHashes: Int)
      extends StatefulProcessor[Long, (Long, Seq[String]), (Long, Seq[Long])] {
    @transient private var mins: org.apache.spark.sql.streaming.ValueState[Seq[Long]] = _
    @transient private lazy val seeds = graft.functions.MinHash.seeds(numHashes)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      mins = getHandle.getValueState[Seq[Long]]("mins",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]](),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Seq[String])],
                                 timers: TimerValues): Iterator[(Long, Seq[Long])] = {
      val cur =
        if (mins.exists()) mins.get().toArray
        else Array.fill(numHashes)(Long.MaxValue)
      rows.foreach { case (_, toks) =>
        graft.functions.MinHash.updateMins(cur, toks.iterator, seeds)
      }
      val out = cur.toIndexedSeq
      mins.update(out)
      // Emission parity with the batch signature/sketch: a doc whose
      // chunks so far were ALL empty has no signature yet — emit null
      // (what `MinHashSignature` returns for an empty token array), not
      // the [Long.MaxValue × k] sentinel, so downstream banding can
      // filter it exactly like the batch path filters null signatures.
      // The STATE keeps the sentinel so later non-empty chunks fold in.
      Iterator.single((key, if (cur.forall(_ == Long.MaxValue)) null else out))
    }
  }

  /** Streaming sketch accumulation over `(docId, tokenChunk)` rows; emits
    * the updated signature each trigger (update mode) — the LAST emission
    * per doc is its complete signature.
    */
  def minHashSketchStream(ds: Dataset[(Long, Seq[String])],
                          numHashes: Int = 64): Dataset[(Long, Seq[Long])] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new MinHashSketchState(numHashes), TimeMode.None(), OutputMode.Update())
  }

  /** The (time mode, output mode) pair a TTL choice implies: value-level
    * TTL needs the processing-time clock; TTL-free processors stay on
    * TimeMode.None.
    */
  private def timeModeFor(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()

  /** LSH bucket membership state: keyed by `(band, bandHash)`, the state
    * is the doc ids already seen in the bucket; each newly-arriving doc
    * emits one candidate pair per existing member (a<b normalized), then
    * joins the membership. After any prefix of the stream the emitted
    * pair set equals the batch `Dedup.minHashLshCandidates` pair set over
    * the documents ingested so far (spec-pinned) — the same banding
    * collision semantics, incrementally.
    *
    * BOUNDED STATE (the batch family's `maxDf` hot-key-cut convention,
    * [[graft.llm.Dedup.jaccardSimilarityJoin]], applied to the stream —
    * the reference never lets cross-call state grow unbounded either:
    * the limiter's bucket is capped by burst, reference/ratelimiter.go:82-94):
    * once a bucket holds `maxBucketSize` members it is SATURATED — later
    * arrivals are dropped (no pairs, no membership; logged once per
    * trigger), so per-bucket state and per-arrival work are both bounded
    * at the cap. A saturated bucket is band-collision noise by
    * construction: real near-dup clusters are small, hot buckets are
    * ubiquitous-content artifacts (the same argument that lets batch
    * `maxDf` drop hot shingles). Spec-pinned recall contract
    * (`StatefulSpec`): with cap C, the emitted pair set sits between the
    * df-cut batch result and the uncut batch result —
    * `batchPairs(buckets with ≤ C members) ⊆ streamed(C) ⊆ batchPairs` —
    * because a bucket that never exceeds C is replayed exactly, and a
    * saturated bucket emits only its first-C prefix pairs (each a real
    * uncut-batch pair). `ttl` additionally expires members by processing
    * time (RocksDB value TTL), capping state at (members per TTL window)
    * for unbounded corpora: pairs emit only between docs whose bucket
    * residencies overlap — the replay-window recall trade, spec-pinned.
    */
  final class LshBucketPairs(maxBucketSize: Int = Int.MaxValue,
                             ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[(Int, Long), (Int, Long, Long), (Long, Long)] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members", Encoders.scalaLong, ttl)

    override def handleInputRows(key: (Int, Long), rows: Iterator[(Int, Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long)] = {
      val existing = scala.collection.mutable.LinkedHashSet.empty[Long]
      val it = members.get()
      while (it.hasNext) existing += it.next()
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var warned = false
      rows.foreach { case (_, _, id) =>
        if (!existing.contains(id)) { // idempotent under doc replays
          if (existing.size >= maxBucketSize) {
            if (!warned) {
              logger.warn(s"LshBucketPairs: bucket $key saturated at " +
                s"$maxBucketSize members — dropping arrivals (df-cut)")
              warned = true
            }
          } else {
            existing.foreach(e => out += (if (e < id) (e, id) else (id, e)))
            existing += id
            members.appendValue(id)
          }
        }
      }
      out.iterator
    }
  }

  /** Streaming MinHash-LSH candidate pairs over `(docId, text)` rows:
    * signature + banding are the SAME stateless expressions as the batch
    * `Dedup.minHashLshCandidates` (fused `MinHashSignature`, banded
    * xxhash64 slices), so a bucket key here is a bucket key there; the
    * stateful tail emits pairs as buckets fill. Candidate pairs may emit
    * once per colliding band — compare as sets or dedup downstream,
    * exactly like the batch path's pre-score `dropDuplicates`.
    *
    * Unbounded-corpus knobs (see [[LshBucketPairs]] for the pinned
    * contracts): `maxBucketSize` df-cuts saturated buckets at the cap;
    * `ttl` expires membership by processing time.
    */
  def minHashLshCandidatePairsStream(docs: Dataset[(Long, String)],
                                     numHashes: Int = 64,
                                     bands: Int = 8,
                                     maxBucketSize: Int = Int.MaxValue,
                                     ttl: TTLConfig = TTLConfig.NONE): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    val r = numHashes / bands
    val banded = docs.toDF("id", "text")
      .select(col("id"), graft.llm.Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("mh", graft.functions.MinHash.signature(col("toks"), numHashes))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("mh"), b * lit(r) + 1, lit(r))))))
      .select(col("pos").cast("int").as("band"), col("col").as("bh"), col("id"))
      .as[(Int, Long, Long)]
    banded.groupByKey(row => (row._1, row._2)).transformWithState(
      new LshBucketPairs(maxBucketSize, ttl), timeModeFor(ttl), OutputMode.Update())
  }

  /** Bucket membership with the member's FULL 64-bit hash in state, so
    * arrivals score the EXACT Hamming distance against every existing
    * member in-processor and only pairs within `maxHamming` emit — the
    * streaming tail of [[graft.sources.Multimodal.perceptualNearDupPairs]]
    * (same state-size argument as [[LshBucketPairs]]: per-bucket member
    * lists ride the state store at 16 bytes/member; occupancy follows
    * the batch operator's band-width noise math).
    *
    * BOUNDED STATE: same `maxBucketSize` df-cut + `ttl` eviction
    * contracts as [[LshBucketPairs]] (spec-pinned in `StatefulSpec`) — a
    * hot band bucket here is logo-class repeated media / near-constant
    * images, exactly the content a crawl wants cut, and without the cap
    * it degrades to O(n) state and O(n²) pair emission per bucket.
    */
  final class PerceptualBucketPairs(maxHamming: Int,
                                    maxBucketSize: Int = Int.MaxValue,
                                    ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[(Int, Long), (Int, Long, Long, Long), (Long, Long, Int)] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[(Long, Long)]("members",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), ttl)

    override def handleInputRows(key: (Int, Long), rows: Iterator[(Int, Long, Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Int)] = {
      val existing = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
      val it = members.get()
      while (it.hasNext) existing += it.next()
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      var warned = false
      rows.foreach { case (_, _, id, h) =>
        // idempotency keys on the full (id, hash) MEMBER, not the id: a
        // replay of the same row is dropped, but a re-delivery of an id
        // with a DIFFERENT hash (re-encoded media) still scores against
        // the bucket — the batch operator bands both rows, and keying on
        // id alone silently lost exactly the re-encode pairs this
        // operator exists to catch. Self-pairs (same id, both hashes in
        // the bucket) are suppressed like the batch a.id < b.id form.
        if (!existing.contains((id, h))) {
          if (existing.size >= maxBucketSize) {
            if (!warned) {
              logger.warn(s"PerceptualBucketPairs: bucket $key saturated at " +
                s"$maxBucketSize members — dropping arrivals (df-cut)")
              warned = true
            }
          } else {
            existing.foreach { case (eid, eh) =>
              if (eid != id) {
                val hd = java.lang.Long.bitCount(h ^ eh)
                if (hd <= maxHamming)
                  out += (if (eid < id) (eid, id, hd) else (id, eid, hd))
              }
            }
            existing += ((id, h))
            members.appendValue((id, h))
          }
        }
      }
      out.iterator
    }
  }

  /** Streaming perceptual near-dup pairs over `(mediaId, dHash64)` rows —
    * the crawl-ingest twin of the batch
    * [[graft.sources.Multimodal.perceptualNearDupPairs]]: the banding
    * projection is the SAME slice function
    * ([[graft.sources.Multimodal.hashSlices]] — a bucket key here is a
    * bucket key there by construction), and the stateful tail emits exact
    * Hamming-scored pairs as buckets fill. Pairs may emit once per
    * colliding band — compare as sets or dedup downstream, the
    * [[minHashLshCandidatePairsStream]] contract. NULL hashes
    * (undecodable media) never enter a bucket, matching batch.
    *
    * Unbounded-corpus knobs (see [[LshBucketPairs]] for the pinned
    * contracts): `maxBucketSize` df-cuts saturated buckets at the cap;
    * `ttl` expires membership by processing time.
    */
  def perceptualNearDupPairsStream(media: Dataset[(Long, Long)],
                                   bands: Int = 4,
                                   maxHamming: Int = 3,
                                   maxBucketSize: Int = Int.MaxValue,
                                   ttl: TTLConfig = TTLConfig.NONE): Dataset[(Long, Long, Int)] = {
    import media.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val slices = graft.sources.Multimodal.hashSlices(col("h"), bands)
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    val banded = media.toDF("id", "h")
      .filter(col("h").isNotNull)
      .select(col("id"), col("h"), posexplode(slices))
      .select(col("pos").cast("int").as("band"), col("col").as("bh"),
        col("id"), col("h"))
      .as[(Int, Long, Long, Long)]
    banded.groupByKey(row => (row._1, row._2)).transformWithState(
      new PerceptualBucketPairs(maxHamming, maxBucketSize, ttl),
      timeModeFor(ttl), OutputMode.Update())
  }

  /** Streaming FRAME/SEGMENT-axis near-dup candidates over
    * `(item, position, hash64)` rows — the crawl-ingest twin of the
    * front half of
    * [[graft.sources.Multimodal.videoNearDupPairsFromHashes]] /
    * `audioNearDupPairsFromHashes` (round 18, the VERDICT r17 #3
    * pattern promoted to a first-class surface): positions fold into a
    * composite id (`item * posLimit + position`), the generic
    * [[perceptualNearDupPairsStream]] banding + bucket state emits
    * matches as buckets fill, and the output decodes back to
    * `(item_a, pos_a, item_b, pos_b, hamming)` with same-item matches
    * dropped (composite ids would pair a video's own frames; the batch
    * operator's item-level `a < b` never does) and pairs oriented
    * `item_a < item_b`.
    *
    * The per-pair `minShared` aggregation is the BATCH TAIL
    * ([[frameAxisSharedCounts]]): candidate frame pairs accumulate
    * across triggers (sink them from `foreachBatch`), and the tail
    * counts DISTINCT position pairs over the accumulated table — pairs
    * may emit once per colliding band (the
    * [[minHashLshCandidatePairsStream]] contract), which the tail's
    * distinct absorbs. Spec-pinned equal to the batch operator's shared
    * counts after replay (`StatefulSpec`).
    *
    * Bounded state: same `maxBucketSize` df-cut + `ttl` eviction knobs
    * as every bucket stream — a hot bucket here is black frames /
    * silence windows, exactly the saturation the batch `maxBucketSize`
    * cuts. `posLimit` must exceed every position (guarded in-plan via
    * `raise_error`, since a silently wrapped composite id would
    * mis-attribute frames across items); items must be non-negative and
    * under `Long.MaxValue / posLimit` (same guard).
    */
  def frameAxisNearDupPairsStream(segs: Dataset[(Long, Int, Long)],
                                  bands: Int = 4,
                                  maxHamming: Int = 3,
                                  posLimit: Long = 1L << 21,
                                  maxBucketSize: Int = Int.MaxValue,
                                  ttl: TTLConfig = TTLConfig.NONE): Dataset[(Long, Int, Long, Int, Int)] = {
    import segs.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    require(posLimit >= 2, s"posLimit must be >= 2, got $posLimit")
    val maxItem = Long.MaxValue / posLimit
    val composite = segs.toDF("item", "pos", "h")
      .select(
        when(col("item") < 0L || col("item") >= maxItem,
          raise_error(concat(lit(s"frameAxisNearDupPairsStream: item out of [0, $maxItem): "),
            col("item").cast("string"))))
          .when(col("pos") < 0 || col("pos") >= posLimit,
            raise_error(concat(lit(s"frameAxisNearDupPairsStream: position out of [0, $posLimit): "),
              col("pos").cast("string"))))
          .otherwise(col("item") * posLimit + col("pos")).as("cid"),
        col("h"))
      .as[(Long, Long)]
    perceptualNearDupPairsStream(composite, bands, maxHamming, maxBucketSize, ttl)
      .toDF("cid_a", "cid_b", "hamming")
      // `div`, not `/`: Column./ on longs is DOUBLE division, which goes
      // inexact past 2^53 — a composite id near the item bound would
      // decode to the wrong item
      .select(expr(s"cid_a div ${posLimit}L").as("item_a"),
        pmod(col("cid_a"), lit(posLimit)).cast("int").as("pos_a"),
        expr(s"cid_b div ${posLimit}L").as("item_b"),
        pmod(col("cid_b"), lit(posLimit)).cast("int").as("pos_b"),
        col("hamming"))
      .filter(col("item_a") =!= col("item_b"))
      .select(
        when(col("item_a") < col("item_b"), col("item_a")).otherwise(col("item_b")).as("item_a2"),
        when(col("item_a") < col("item_b"), col("pos_a")).otherwise(col("pos_b")).as("pos_a2"),
        when(col("item_a") < col("item_b"), col("item_b")).otherwise(col("item_a")).as("item_b2"),
        when(col("item_a") < col("item_b"), col("pos_b")).otherwise(col("pos_a")).as("pos_b2"),
        col("hamming"))
      .toDF("item_a", "pos_a", "item_b", "pos_b", "hamming")
      .as[(Long, Int, Long, Int, Int)]
  }

  /** The batch tail of [[frameAxisNearDupPairsStream]]: per-item-pair
    * shared counts over ACCUMULATED candidate frame pairs (any frame
    * with `item_a, pos_a, item_b, pos_b` columns — e.g. the parquet sink
    * a `foreachBatch` appends to). Counts DISTINCT matched position
    * pairs (band re-emissions and trigger replays collapse — one
    * partial-combining `collect_set` agg, the
    * [[graft.sources.Multimodal.videoNearDupPairsFromHashes]] tail
    * shape) and cuts at `minShared`. Output:
    * `(item_a, item_b, shared_positions)`.
    */
  def frameAxisSharedCounts(framePairs: org.apache.spark.sql.DataFrame,
                            minShared: Int = 1): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    framePairs
      .groupBy(col("item_a"), col("item_b"))
      .agg(size(collect_set(struct(col("pos_a"), col("pos_b"))))
        .cast("long").as("shared_positions"))
      .filter(col("shared_positions") >= minShared)
  }
}
