package graft.streaming

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StatefulSpec extends SparkSpec {
  import spark.implicits._

  test("mapGroupsWithState accumulates per-key state across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val counts = Stateful.runningCounts[(Long, String)](stream.toDS(), _._1)
      .toDF("user_id", "n")
    val q = counts.writeStream.format("memory").queryName("stateful_counts")
      .outputMode("update").start()
    try {
      stream.addData((1L, "a"), (1L, "b"), (2L, "c"))
      q.processAllAvailable()
      stream.addData((1L, "d"), (3L, "e"))
      q.processAllAvailable()
      // update mode emits one row per key per batch; the LAST emission per
      // key carries the accumulated state
      val last = spark.table("stateful_counts")
        .groupBy("user_id").agg(max("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    } finally q.stop()
  }

  test("transformWithState firstSeen dedups across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[(Long, String)]
    val deduped = Stateful.firstSeen[Long, (Long, String)](stream.toDS(), _._1)
      .toDF("k", "v")
    val q = deduped.writeStream.format("memory").queryName("first_seen")
      .outputMode("update").start()
    try {
      stream.addData((1L, "a"), (1L, "dup-in-batch"), (2L, "b"))
      q.processAllAvailable()
      stream.addData((1L, "dup-across-batch"), (3L, "c"))
      q.processAllAvailable()
      val rows = spark.table("first_seen")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("firstSeen over a ts-ordered replay equals firstSeenBatch (the Q-T5 batch-parity contract)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val ev = Tables.load(spark, sf, "events")
        .select($"user_id", $"event_type", $"ts_ns", $"event_id", $"value")
      // the batch form's explicit order IS the replay's arrival order
      val sorted = ev.orderBy($"ts_ns", $"event_id")
        .as[(Long, String, Long, Long, Double)].collect().toSeq
      val stream = MemoryStream[(Long, String, Long, Long, Double)]
      val deduped = Stateful.firstSeen[(Long, String), (Long, String, Long, Long, Double)](
        stream.toDS().coalesce(1), v => (v._1, v._2))
        .toDF("user_id", "event_type", "ts_ns", "event_id", "value")
      val q = deduped.writeStream.format("memory").queryName("qt5_parity")
        .outputMode("update").start()
      try {
        // several micro-batches: cross-batch keys must stay deduped
        sorted.grouped(400).foreach { chunk =>
          stream.addData(chunk)
          q.processAllAvailable()
        }
        val streaming = spark.table("qt5_parity")
          .collect().map(_.toSeq).toSet
        val batch = Stateful.firstSeenBatch(ev,
          Seq("user_id", "event_type"), Seq("ts_ns", "event_id"), Seq("value"))
          .collect().map(_.toSeq).toSet
        assert(streaming == batch)
      } finally q.stop()
    }
  }

  private def withRocksDb(body: => Unit): Unit = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming MinHash sketch over chunked docs equals the batch signature") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val stream = MemoryStream[(Long, Seq[String])]
      val sigs = Stateful.minHashSketchStream(stream.toDS(), numHashes = 16)
        .toDF("doc_id", "sig")
      val got = scala.collection.concurrent.TrieMap.empty[Long, Seq[Long]]
      // update mode re-emits per trigger; the LAST emission per doc wins
      val q = sigs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got(r.getLong(0)) = r.getSeq[Long](1))
        }.start()
      try {
        stream.addData((1L, Seq("a", "b")), (2L, Seq("x")))
        q.processAllAvailable()
        stream.addData((1L, Seq("c")), (2L, Seq("y", "z")))
        q.processAllAvailable()
      } finally q.stop()
      val want = Seq((1L, "a b c"), (2L, "x y z")).toDF("doc_id", "text")
        .select(col("doc_id"), graft.llm.Dedup.minHash(
          graft.llm.Dedup.tokens(col("text")), 16).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got.toMap == want,
        "chunk-accumulated streaming signature must be bit-identical to batch")
    }
  }

  test("streamed LSH candidate pairs equal batch minHashLshCandidates after replay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val docs = Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      val (b1, b2) = docs.splitAt(docs.length / 2)
      val stream = MemoryStream[(Long, String)]
      val pairs = Stateful.minHashLshCandidatePairsStream(stream.toDS())
        .toDF("doc_a", "doc_b")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
        }.start()
      try {
        stream.addData(b1: _*)
        q.processAllAvailable()
        stream.addData(b2: _*)
        q.processAllAvailable()
      } finally q.stop()
      val want = graft.llm.Dedup.minHashLshCandidates(
        docs.toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == want,
        s"streamed ${got.size} pairs != batch ${want.size}")
      assert(want.nonEmpty, "fixture should produce candidate pairs")
    }
  }

  test("streaming perceptual near-dup pairs equal the batch operator after replay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      // 120 independent pseudo-random hashes + planted re-encodes: every
      // 3rd id gets a copy with ONE bit flipped (Hamming 1 — a band must
      // collide by pigeonhole at bands=4, maxHamming=3)
      val base = (1 to 120).map(i => (i.toLong, new scala.util.Random(i).nextLong()))
      val flips = base.filter(_._1 % 3 == 0)
        .map { case (id, h) => (id + 10000L, h ^ (1L << (id % 64).toInt)) }
      // id 7 RE-DELIVERED with a different hash (a near-copy of id 60's):
      // batch bands both rows of the id, so the stream must score the
      // re-delivery too — keying idempotency on id alone lost this pair
      val redelivered = Seq((7L, base(59)._2 ^ 1L))
      val rows = base ++ flips ++ redelivered
      val (b1, b2) = (base ++ flips).splitAt(rows.length / 2)
      val stream = MemoryStream[(Long, Long)]
      val pairs = Stateful.perceptualNearDupPairsStream(stream.toDS())
        .toDF("doc_a", "doc_b", "hamming")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Int)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getLong(0), r.getLong(1), r.getInt(2))))
        }.start()
      try {
        stream.addData(b1: _*)
        q.processAllAvailable()
        stream.addData(b2: _*)
        q.processAllAvailable()
        stream.addData(redelivered: _*)
        q.processAllAvailable()
      } finally q.stop()
      val want = graft.sources.Multimodal.perceptualNearDupPairs(
        rows.toDF("id", "h"), "id", "h", bands = 4, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == want,
        s"streamed ${got.size} pairs != batch ${want.size}")
      // every planted flip found (organic collisions, if any, are in both)
      assert(want.size >= flips.size, s"only ${want.size} pairs for ${flips.size} plants")
      // the re-delivered hash really paired across ids
      assert(want.contains((7L, 60L, 1)), s"re-delivery pair missing from $want")
    }
  }

  test("capped LSH bucket state df-cuts a hot bucket at maxBucketSize (batchCut ⊆ streamed ⊆ batchUncut)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      // 8 docs with IDENTICAL text — every band bucket goes hot; fed in
      // TWO micro-batches split exactly at the cap, so which members a
      // cap of 4 admits is deterministic without pinning in-batch order
      // (batch 1 all fit, batch 2 all drop)
      val hotText = "the quick brown fox jumps over the lazy dog again"
      val hot = (1 to 8).map(i => (i.toLong, hotText))
      // a cold identical pair arriving AFTER saturation — its bucket has
      // 2 members, far under the cap, so the df-cut contract says its
      // pair must still emit (batchCut ⊆ streamed)
      val coldText = "completely different words entirely unique content here now"
      val cold = Seq((101L, coldText), (102L, coldText))
      val stream = MemoryStream[(Long, String)]
      val pairs = Stateful.minHashLshCandidatePairsStream(
        stream.toDS(), maxBucketSize = 4).toDF("doc_a", "doc_b")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
        }.start()
      try {
        // ONE doc per trigger (ADVICE r18): Spark does not guarantee
        // row order per key after the shuffle into the stateful
        // operator, so feeding 4 docs in one trigger made "which 4 the
        // cap admits" order-dependent — per-row triggers make arrival
        // order = id order by construction, which the batch-equality
        // pin below depends on
        hot.take(4).foreach { d => stream.addData(d); q.processAllAvailable() }
        stream.addData(hot.drop(4): _*) // saturated — all dropped
        q.processAllAvailable()
        stream.addData(cold: _*)
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val streamed = got.asScala.toSet
      val hotPrefix = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toSet
      // saturated buckets emit EXACTLY their first-cap prefix pairs —
      // proof the membership stopped growing at the cap (a 5th member
      // would have paired with the 6th..8th arrivals; none did)
      assert(streamed == hotPrefix + ((101L, 102L)),
        s"expected prefix pairs + cold pair, got $streamed")
      // streamed ⊆ uncut batch over the same replay
      val uncut = graft.llm.Dedup.minHashLshCandidates(
        (hot ++ cold).toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed.subsetOf(uncut), s"streamed pairs not in batch: ${streamed -- uncut}")
      // and the BATCH maxBucketSize form (round 18) equals the streamed
      // result EXACTLY on this replay: the stream admits in arrival
      // order, the batch rank window in id order — identical here by
      // construction, so the two caps pin each other
      val batchCut = graft.llm.Dedup.minHashLshCandidates(
        (hot ++ cold).toDF("doc_id", "text"), "doc_id", "text", maxBucketSize = 4)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchCut == streamed,
        s"batch cap $batchCut != streamed cap $streamed on the id-ordered replay")
    }
  }

  // TimeMode.ProcessingTime (what value TTL requires) keeps the query
  // triggering micro-batches so timers can fire — processAllAvailable
  // never settles under that churn, so TTL tests poll for the POSITIVE
  // emission instead (absence is then implied by set equality: the
  // pair proving batch N processed arrives after every earlier batch)
  private def pollUntil(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
    assert(cond, s"timed out waiting for $what")
  }

  test("firstSeen with a value TTL starts and re-emits after eviction") {
    // the TTL knob must be USABLE: passing a non-NONE TTL requires
    // TimeMode.ProcessingTime (a TTL under TimeMode.None throws at
    // stream start — the bug class this pin exists for); after the TTL
    // lapses, a re-delivered key is first-seen again. Processing-time TTL
    // runs from the first batch's START, so the TTL must outlast that
    // batch plus the next one's start: a cold first batch (classloading,
    // codegen, RocksDB open) took 4.9 s on a loaded 4-core machine
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val stream = MemoryStream[(Long, String)]
      val out = Stateful.firstSeen[Long, (Long, String)](stream.toDS(), _._1,
        ttl = org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofSeconds(10))).toDF("id", "payload")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String)]()
      val q = out.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
        }.start()
      import scala.jdk.CollectionConverters._
      try {
        stream.addData((1L, "a"))
        pollUntil(got.contains((1L, "a")), "the first delivery of key 1")
        stream.addData((1L, "b")) // within TTL — suppressed as a dup
        Thread.sleep(12500) // let the 10s value TTL lapse
        stream.addData((1L, "c")) // state evicted — first-seen again
        pollUntil(got.contains((1L, "c")), "the post-eviction re-delivery")
      } finally q.stop()
      assert(got.asScala.toSet == Set((1L, "a"), (1L, "c")),
        s"firstSeen TTL emissions wrong: ${got.asScala.toSet}")
    }
  }

  test("TTL evicts LSH bucket membership — pairs emit only within overlapping residencies") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val text = "shared near duplicate text for ttl eviction checks here"
      val stream = MemoryStream[(Long, String)]
      val pairs = Stateful.minHashLshCandidatePairsStream(
        stream.toDS(), ttl = org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofSeconds(2))).toDF("doc_a", "doc_b")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
        }.start()
      import scala.jdk.CollectionConverters._
      try {
        stream.addData((1L, text), (2L, text))
        pollUntil(got.contains((1L, 2L)), "the within-window pair (1,2)")
        Thread.sleep(4500) // let the 2s value TTL lapse
        stream.addData((3L, text)) // members 1, 2 expired — no cross pair
        stream.addData((4L, text)) // 3 resident — (3,4) pairs
        pollUntil(got.contains((3L, 4L)), "the post-eviction pair (3,4)")
      } finally q.stop()
      // (3,4) emitted only after 3's arrival processed, so the absence of
      // every cross-window pair is a settled fact, not a race
      assert(got.asScala.toSet == Set((1L, 2L), (3L, 4L)),
        s"TTL window pairs wrong: ${got.asScala.toSet}")
    }
  }

  test("capped perceptual bucket state df-cuts a hot bucket at maxBucketSize") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      // 7 media rows with the SAME hash (logo-class repeated media) fed
      // in two micro-batches split at the cap; cap 3 → pairs among the
      // first batch's 3 only
      val h0 = 0x1234abcd5678ef90L
      val stream = MemoryStream[(Long, Long)]
      val pairs = Stateful.perceptualNearDupPairsStream(
        stream.toDS(), maxBucketSize = 3).toDF("doc_a", "doc_b", "hamming")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Int)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getLong(0), r.getLong(1), r.getInt(2))))
        }.start()
      try {
        stream.addData((1 to 3).map(i => (i.toLong, h0)): _*)
        q.processAllAvailable()
        stream.addData((4 to 7).map(i => (i.toLong, h0)): _*)
        q.processAllAvailable()
        // a cold near-dup pair post-saturation: its buckets hold 2
        // members — pairs must still emit (batchCut ⊆ streamed)
        stream.addData((201L, 0x0f0f0f0f0f0f0f0fL), (202L, 0x0f0f0f0f0f0f0f0eL))
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val streamed = got.asScala.toSet
      val hotPrefix = (for (a <- 1L to 3L; b <- (a + 1) to 3L) yield (a, b, 0)).toSet
      assert(streamed == hotPrefix + ((201L, 202L, 1)),
        s"expected prefix pairs + cold pair, got $streamed")
    }
  }

  test("TTL evicts perceptual bucket membership") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val h0 = 0x7777000011112222L
      val stream = MemoryStream[(Long, Long)]
      val pairs = Stateful.perceptualNearDupPairsStream(
        stream.toDS(), ttl = org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofSeconds(2))).toDF("doc_a", "doc_b", "hamming")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Int)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getLong(0), r.getLong(1), r.getInt(2))))
        }.start()
      import scala.jdk.CollectionConverters._
      try {
        stream.addData((1L, h0), (2L, h0 ^ 1L))
        pollUntil(got.contains((1L, 2L, 1)), "the within-window pair (1,2)")
        Thread.sleep(4500)
        stream.addData((3L, h0))
        stream.addData((4L, h0 ^ 2L))
        pollUntil(got.contains((3L, 4L, 1)), "the post-eviction pair (3,4)")
      } finally q.stop()
      assert(got.asScala.toSet == Set((1L, 2L, 1), (3L, 4L, 1)),
        s"TTL window pairs wrong: ${got.asScala.toSet}")
    }
  }

  test("dropDuplicatesWithinWatermark removes dups arriving inside the delay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = Stateful.dedupWithinWatermark(
      stream.toDS().toDF("ts", "doc_id"), "ts", "10 minutes", Seq("doc_id"))
    val q = deduped.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      stream.addData((ts(0), 7L), (ts(1), 7L), (ts(2), 8L))
      q.processAllAvailable()
      stream.addData((ts(3), 7L), (ts(4), 9L)) // dup of 7 within watermark
      q.processAllAvailable()
      val ids = spark.table("wm_dedup").select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(7L, 8L, 9L))
    } finally q.stop()
  }

  test("audio hashes stream through the generic perceptual bucket operator (whole-clip axis)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      // REAL WAV bytes → decodeWavPcm → audioHash64 produce the (id,
      // hash) rows; the stream op is generic over any 64-bit signature,
      // which this pin makes a contract instead of an accident (VERDICT
      // r17 next-round #3). Every 3rd clip has a 2x-volume re-encode —
      // hash-identical by the AudioSpec invariance pin.
      def wav(samples: Array[Short]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
        def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
        def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
        ascii("RIFF"); le32(36 + samples.length * 2); ascii("WAVE")
        ascii("fmt "); le32(16); le16(1); le16(1); le32(16000)
        le32(32000); le16(2); le16(16); ascii("data"); le32(samples.length * 2)
        samples.foreach(s => le16(s & 0xffff))
        bos.toByteArray
      }
      def tone(seed: Long, scale: Int): Array[Short] =
        Array.tabulate[Short](260)(i => (((i * 31 + seed) % 89 - 44) * scale).toShort)
      val media = ((1L to 30L).map(id => (id, wav(tone(id, 1)))) ++
        (1L to 30L).filter(_ % 3 == 0).map(id => (id + 1000L, wav(tone(id, 2)))))
        .toDF("media_id", "bytes")
      val hashes = graft.sources.Multimodal.decodeWavPcm(media, "bytes")
        .select(col("media_id"),
          graft.sources.Multimodal.audioHash64(col("pcm")).as("ah"))
        .as[(Long, Long)].collect().toSeq
      val stream = MemoryStream[(Long, Long)]
      val pairs = Stateful.perceptualNearDupPairsStream(stream.toDS())
        .toDF("doc_a", "doc_b", "hamming")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
        }.start()
      try {
        val (b1, b2) = hashes.splitAt(hashes.length / 2)
        stream.addData(b1: _*)
        q.processAllAvailable()
        stream.addData(b2: _*)
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val want = graft.sources.Multimodal.perceptualNearDupPairs(
        hashes.toDF("id", "h"), "id", "h", bands = 4, maxHamming = 3)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.asScala.toSet == want, s"streamed ${got.size} != batch ${want.size}")
      assert(want.size >= 10, s"every planted re-level must pair: $want")
    }
  }

  test("frame/segment axes stream first-class; the batch tail recovers shared counts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      // The FRAME-axis streaming surface (video qm8 / audio segments):
      // frameAxisNearDupPairsStream folds (item, position, hash) into
      // composite ids through the generic bucket operator — candidates
      // emit at frame level as buckets fill, decoded and oriented with
      // same-item matches dropped — and frameAxisSharedCounts runs the
      // per-pair minShared aggregation as a batch tail over the
      // accumulated candidates. This pin is the
      // `shared count == batch operator` contract.
      // 8 items × 3 positions; items 1/2 share positions 0 and 1; item 3
      // shares position 2 with item 1 (below a minShared=2 cut)
      def h(item: Long, pos: Int): Long = (item * 31L + pos) * 0x9e3779b97f4a7c15L
      val rows = (1L to 8L).flatMap { item =>
        (0 to 2).map { pos =>
          val hash =
            if (item == 2L && pos <= 1) h(1L, pos)
            else if (item == 3L && pos == 2) h(1L, 2)
            else h(item, pos)
          (item, pos, hash)
        }
      }
      val stream = MemoryStream[(Long, Int, Long)]
      val pairs = Stateful.frameAxisNearDupPairsStream(stream.toDS(),
        bands = 4, maxHamming = 0)
        .toDF("item_a", "pos_a", "item_b", "pos_b", "hamming")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int, Long, Int)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add(
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))))
        }.start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        stream.addData(b1: _*); q.processAllAvailable()
        stream.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      // the operator already dropped same-item matches and oriented
      // item_a < item_b — the pins that used to live in the hand-rolled
      // tail
      val emitted = got.asScala.toSet
      assert(emitted.forall { case (ia, _, ib, _) => ia < ib },
        s"pairs must orient item_a < item_b: $emitted")
      val shared = Stateful.frameAxisSharedCounts(
        emitted.toSeq.toDF("item_a", "pos_a", "item_b", "pos_b"), minShared = 2)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val want = graft.sources.Multimodal.videoNearDupPairsFromHashes(
        rows.toDF("media_id", "frame_idx", "dhash"),
        "media_id", bands = 4, maxHamming = 0, minSharedFrames = 2)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(shared == want,
        s"streamed tail $shared != batch operator $want")
      assert(want == Map((1L, 2L) -> 2L), s"planted pair must survive the cut: $want")
    }
  }

  test("image TILES stream through frameAxisNearDupPairsStream (spatial axis — the qm10 contract)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      // real tile hashes from imageTileHashes: a base image and its
      // bottom-half crop (pixel-identical bottom tiles) + a distinct
      // image — the streamed candidates + batch tail must equal the
      // batch operator exactly (the audio whole-clip pin's sibling)
      def grid(seed: Long, w: Int, h: Int): Array[Byte] =
        Array.tabulate(w * h) { p =>
          var hs = seed * 2654435761L + (p % w).toLong * 1315423911L + (p / w).toLong * 97531L
          hs ^= hs >>> 33; hs *= -49064778989728563L; hs ^= hs >>> 33
          ((((hs % 200) + 200) % 200) + 1).toByte
        }
      val base = grid(7L, 36, 32)
      val media = Seq((1L, base, 36, 32),
        (2L, base.slice(16 * 36, 32 * 36), 36, 16), (3L, grid(9L, 36, 32), 36, 32))
        .toDF("media_id", "gray", "w", "h")
      val tiles = graft.sources.Multimodal.imageTileHashes(media, "media_id",
          "gray", "w", "h", tileW = 18, tileH = 16)
        .select("media_id", "tile_idx", "thash")
        .as[(Long, Int, Long)].collect().toSeq
      val stream = MemoryStream[(Long, Int, Long)]
      val pairs = Stateful.frameAxisNearDupPairsStream(stream.toDS(),
        bands = 4, maxHamming = 0)
        .toDF("item_a", "pos_a", "item_b", "pos_b", "hamming")
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int, Long, Int)]()
      val q = pairs.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add(
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))))
        }.start()
      try {
        val (b1, b2) = tiles.splitAt(tiles.length / 2)
        stream.addData(b1: _*); q.processAllAvailable()
        stream.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val shared = Stateful.frameAxisSharedCounts(
        got.asScala.toSeq.toDF("item_a", "pos_a", "item_b", "pos_b"), minShared = 2)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val want = graft.sources.Multimodal.imageNearDupPairsByTilesFromHashes(
        tiles.toDF("media_id", "tile_idx", "thash"), "media_id",
        bands = 4, maxHamming = 0, minSharedTiles = 2)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(shared == want, s"streamed tail $shared != batch operator $want")
      assert(want == Map((1L, 2L) -> 2L), s"the crop's 2 tiles must survive the cut: $want")
    }
  }

  test("frameAxisNearDupPairsStream: out-of-range items/positions raise instead of wrapping") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      // a silently wrapped composite id would mis-attribute frames
      // across items — the guard must be loud, in-plan
      def run(rows: (Long, Int, Long)*): Unit = {
        val stream = MemoryStream[(Long, Int, Long)]
        val q = Stateful.frameAxisNearDupPairsStream(stream.toDS(),
            bands = 4, posLimit = 8L)
          .writeStream.outputMode("update").format("noop").start()
        try {
          stream.addData(rows: _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      run((1L, 7, 42L)) // in range: fine
      def chainHas(t: Throwable, want: String): Boolean =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .exists(c => Option(c.getMessage).exists(_.contains(want)))
      val e1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        run((1L, 8, 42L))) // pos == posLimit
      assert(chainHas(e1, "position out of"), s"unexpected failure: $e1")
      val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        run((-1L, 0, 42L))) // negative item
      assert(chainHas(e2, "item out of"), s"unexpected failure: $e2")
    }
  }

  test("approx_count_distinct lands within 5% of exact (Q-A2 bench contract)") {
    val orders = Tables.load(spark, sf, "orders")
    val exact = orders.agg(countDistinct(col("o_custkey"))).head().getLong(0)
    val approx = orders.agg(approx_count_distinct(col("o_custkey"))).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("guardedForeachBatch runs micro-batches under a circuit breaker") {
    import graft.combinators.CircuitBreaker
    import scala.concurrent.duration._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val breaker = CircuitBreaker("stream_cb", failureThreshold = 3, resetTimeout = 1.minute)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val stream = MemoryStream[Long]
    val writer = StreamRunner.guardedForeachBatch(
      stream.toDS().toDF().writeStream, body => breaker.run(body)) { (batch, _) =>
      seen.addAndGet(batch.count())
    }
    val q = writer.start()
    try {
      stream.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(seen.get() == 3)
      assert(breaker.state == CircuitBreaker.Closed)
    } finally q.stop()
  }
}
