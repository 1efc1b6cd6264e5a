package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("joins between co-bucketed tables run without any shuffle exchange") {
    val dir = Files.createTempDirectory("buckets").toString
    val orders = (1L to 2000L).map(i => (i, i % 100)).toDF("o_id", "o_cust")
    val items = (1L to 6000L).map(i => (i % 2000 + 1, i)).toDF("i_oid", "i_id")
    Bucketing.writeBucketed(orders, "b_orders", s"$dir/orders",
      Seq("o_id"), numBuckets = 8, sortCols = Seq("o_id"))
    Bucketing.writeBucketed(items, "b_items", s"$dir/items",
      Seq("i_oid"), numBuckets = 8, sortCols = Seq("i_oid"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // forbid broadcast so the join would otherwise need two exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = Bucketing.readBucketed(spark, "b_orders")
        .join(Bucketing.readBucketed(spark, "b_items"), col("o_id") === col("i_oid"))
      assert(Bucketing.isShuffleFree(joined),
        s"expected no Exchange:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 6000)
      // same result as the unbucketed join
      val plain = orders.join(items, col("o_id") === col("i_oid"))
      assert(plain.count() == 6000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_items")
    }
  }

  test("BandIndex.saveBucketed: incremental band joins read the index without an Exchange") {
    val dir = Files.createTempDirectory("bandidx").toString
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    val old = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val idx = graft.llm.Dedup.BandIndex.build(old, "doc_id", "text")
    graft.llm.Dedup.BandIndex.saveBucketed(idx, "b_bandindex", s"$dir/idx",
      numBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val loaded = graft.llm.Dedup.BandIndex.loadBucketed(spark, "b_bandindex")
      // the layout really is (band, bh): bucket-key agg needs no shuffle
      assert(Bucketing.isShuffleFree(
        loaded.groupBy("band", "bh").agg(count(lit(1)).as("n"))))
      // the incremental join's shape: ONE Exchange total — the arriving
      // batch hashes into the index's bucketing; the index side reads
      // straight from its buckets
      val batchBands = graft.llm.Dedup.BandIndex.build(batch, "doc_id", "text")
      val joined = batchBands.as("a").join(loaded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      val plan = joined.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"expected exactly the batch-side Exchange:\n$plan")
      // and candidate parity with the in-memory index
      val viaBucketed = rowsOf(graft.llm.Dedup.minHashLshCandidatesAgainst(
        batch, "doc_id", "text", loaded).select("doc_a", "doc_b"))
      val viaMem = rowsOf(graft.llm.Dedup.minHashLshCandidatesAgainst(
        batch, "doc_id", "text", idx).select("doc_a", "doc_b"))
      assert(viaBucketed == viaMem && viaBucketed.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS b_bandindex")
    }
  }

  test("BandIndex.upgrade keeps a bucketed pre-bha index Exchange-free on the index side") {
    val dir = Files.createTempDirectory("bandidx_pre_bha").toString
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    val old = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val idx = graft.llm.Dedup.BandIndex.build(old, "doc_id", "text")
    graft.llm.Dedup.BandIndex.saveBucketed(idx.drop("bha"), "b_bandindex_pre_bha",
      s"$dir/idx", numBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val upgraded = graft.llm.Dedup.BandIndex.upgrade(
        graft.llm.Dedup.BandIndex.loadBucketed(spark, "b_bandindex_pre_bha"), 8)
      assert(Bucketing.isShuffleFree(
        upgraded.groupBy("band", "bh").agg(count(lit(1)).as("n"))),
        "the conversion must keep the (band, bh) bucketing")
      val batchBands = graft.llm.Dedup.BandIndex.build(batch, "doc_id", "text")
      val joined = batchBands.as("a").join(upgraded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      val plan = joined.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"expected exactly the batch-side Exchange:\n$plan")
      val viaUpgraded = rowsOf(graft.llm.Dedup.minHashLshCandidatesAgainst(
        batch, "doc_id", "text", upgraded).select("doc_a", "doc_b"))
      val viaMem = rowsOf(graft.llm.Dedup.minHashLshCandidatesAgainst(
        batch, "doc_id", "text", idx).select("doc_a", "doc_b"))
      assert(viaUpgraded == viaMem && viaUpgraded.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS b_bandindex_pre_bha")
    }
  }

  test("readBucketedOrRegister: a dropped catalog entry re-registers from the sidecar (fresh-application path)") {
    val dir = Files.createTempDirectory("bandidx_fresh").toString
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    val old = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val idx = graft.llm.Dedup.BandIndex.build(old, "doc_id", "text")
    graft.llm.Dedup.BandIndex.saveBucketed(idx, "b_bandindex_fresh", s"$dir/idx",
      numBuckets = 8)
    val viaCatalog = rowsOf(graft.llm.Dedup.minHashLshCandidatesAgainst(
      batch, "doc_id", "text",
      graft.llm.Dedup.BandIndex.loadBucketed(spark, "b_bandindex_fresh"))
      .select("doc_a", "doc_b"))
    // simulate a fresh application: the default in-memory catalog dies
    // with the app, so the table name resolves to nothing
    spark.sql("DROP TABLE b_bandindex_fresh")
    assert(!spark.catalog.tableExists("b_bandindex_fresh"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val reloaded = graft.llm.Dedup.BandIndex.loadBucketed(
        spark, "b_bandindex_fresh", s"$dir/idx")
      assert(spark.catalog.tableExists("b_bandindex_fresh"),
        "load must re-register the external bucketed table")
      // the re-registered spec is HONORED, not just recorded: the
      // bucket-key agg plans with no Exchange
      assert(Bucketing.isShuffleFree(
        reloaded.groupBy("band", "bh").agg(count(lit(1)).as("n"))),
        "re-registered bucketing must satisfy the (band, bh) distribution")
      assert(rowsOf(graft.llm.Dedup.minHashLshCandidatesAgainst(
        batch, "doc_id", "text", reloaded).select("doc_a", "doc_b")) == viaCatalog)
      // idempotent when the entry exists (the same-session path)
      assert(rowsOf(graft.llm.Dedup.BandIndex.loadBucketed(
        spark, "b_bandindex_fresh", s"$dir/idx")) == rowsOf(reloaded))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS b_bandindex_fresh")
    }
    // sidecar-less layout (predates the sidecar): falls back to a plain
    // parquet read — correct rows, no catalog entry
    val plainDir = s"$dir/plain"
    idx.write.mode("overwrite").parquet(plainDir)
    val fallback = Bucketing.readBucketedOrRegister(spark, "b_no_such_table", plainDir)
    assert(!spark.catalog.tableExists("b_no_such_table"))
    assert(rowsOf(fallback.select("id", "band", "bh")) ==
      rowsOf(idx.select("id", "band", "bh")))
  }

  test("readBucketedOrRegister: a stale catalog entry at a DIFFERENT path fails loudly") {
    val dir = Files.createTempDirectory("bucket_stale").toString
    val a = (1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
    val b = (1L to 50L).map(i => (i, i * 3)).toDF("k", "v")
    Bucketing.writeBucketed(a, "b_stale_check", s"$dir/a", Seq("k"), numBuckets = 4)
    try {
      // same path: the existing entry is validated and served
      assert(Bucketing.readBucketedOrRegister(spark, "b_stale_check", s"$dir/a")
        .count() == 100)
      // normalization variants of the SAME location still pass
      assert(Bucketing.readBucketedOrRegister(spark, "b_stale_check", s"$dir/a/")
        .count() == 100)
      // a different dataset behind the same name: loud failure — the r16
      // ADVICE hole was this case silently serving the OLD table's rows
      b.write.mode("overwrite").parquet(s"$dir/b")
      val e = intercept[IllegalArgumentException] {
        Bucketing.readBucketedOrRegister(spark, "b_stale_check", s"$dir/b").count()
      }
      assert(e.getMessage.contains("stale registration"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS b_stale_check")
  }

  test("aggregation on the bucket key also skips the exchange") {
    val dir = Files.createTempDirectory("buckets2").toString
    val events = (1L to 3000L).map(i => (i % 50, i)).toDF("user_id", "v")
    Bucketing.writeBucketed(events, "b_events", s"$dir/events",
      Seq("user_id"), numBuckets = 4)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val agg = Bucketing.readBucketed(spark, "b_events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      assert(Bucketing.isShuffleFree(agg),
        s"expected no Exchange:\n${agg.queryExecution.executedPlan}")
      assert(agg.count() == 50)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS b_events")
    }
  }
}
