package graft.functions

import graft.SparkSpec
import graft.llm.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

class MinHashSpec extends SparkSpec {
  import spark.implicits._

  test("native signature is bit-exact vs the HOF reference on real docs") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(200)
      .select(Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val both = docs.select(
      Dedup.minHash(col("toks"), 64).as("native"),
      HofForms.minHashHof(col("toks"), 64).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() == 200)
  }

  test("long-token signature is bit-exact vs the HOF reference (the ql6 oracle basis)") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(200)
      .select(Dedup.tokenIds64(Dedup.tokens(col("text"))).as("ids"))
      .filter(size(col("ids")) > 0)
    val both = docs.select(
      Dedup.minHash(col("ids"), 64).as("native"),
      HofForms.minHashHofLong(col("ids"), 64).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() == 200)
  }

  test("tokenIds64 parses the first 15 md5 hex digits as a positive long") {
    // md5("hello") = 5d41402abc4b2a7... -> 0x5d41402abc4b2a7
    val id = Seq(Seq("hello")).toDF("toks")
      .select(Dedup.tokenIds64(col("toks")).getItem(0)).head().getLong(0)
    assert(id == 0x5d41402abc4b2a7L, s"got $id")
    assert(id == 419982666956583591L) // the DuckDB-side parse of the same hex
  }

  test("single-token and repeated-token arrays hash deterministically") {
    val df = Seq(Seq("alpha"), Seq("alpha", "alpha"), Seq("alpha", "beta"))
      .toDF("toks")
    val sigs = df.select(Dedup.minHash(col("toks"), 8).as("s"))
      .as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1)) // set semantics: duplicates don't change mins
    assert(sigs(0) != sigs(2))
    assert(sigs.forall(_.length == 8))
  }

  test("empty token arrays yield a null signature (HOF parity)") {
    val df = Seq(Seq.empty[String]).toDF("toks")
    val out = df.select(Dedup.minHash(col("toks"), 8).as("sig"))
    assert(out.filter(col("sig").isNotNull).count() == 0)
  }

  test("null tokens contribute the per-seed prefix hash (bit-exact vs HOF)") {
    val df = Seq(
      Seq("alpha", null, "beta"),
      Seq(null, null),          // all-null: HOF yields the seeds vector
      Seq("gamma")
    ).toDF("toks")
    val both = df.select(
      Dedup.minHash(col("toks"), 16).as("native"),
      HofForms.minHashHof(col("toks"), 16).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("signature is nullable even over a non-nullable tokens column") {
    // IsNull over the signature must survive optimization: a wrong
    // nullable=false would let Catalyst fold the filter away
    val df = Seq("", "a b").toDF("text")
      .select(split(col("text"), " ").as("toks"))
      .select(Dedup.minHash(filter(col("toks"), t => t =!= "").as("ne"), 8).as("sig"))
    assert(df.filter(col("sig").isNull).count() == 1)
  }

  test("minhash_agreement counts null slots as non-agreement (HOF === parity)") {
    // SQL-registered, so arbitrary ARRAY<BIGINT> with nulls is reachable —
    // not just MinHashSignature output (which has no null slots). The HOF
    // form's `when(a === b, 1).otherwise(0)` yields 0 whenever either side
    // is null, INCLUDING null vs null; an unguarded getLong would unbox
    // null to 0 and count null-vs-null and null-vs-0 as agreement.
    Native.register(spark)
    val q = "array(1L, CAST(NULL AS BIGINT), 3L, CAST(NULL AS BIGINT), 0L), " +
      "array(1L, CAST(NULL AS BIGINT), 4L, 2L, CAST(NULL AS BIGINT))"
    val native = spark.sql(s"SELECT minhash_agreement($q)").head().getInt(0)
    val hof = spark.sql(
      s"SELECT aggregate(zip_with($q, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
      .head().getInt(0)
    assert(native == 1, "only the 1L==1L slot agrees")
    assert(native == hof)
  }

  test("native winnowing fingerprints are bit-exact vs the HOF reference") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(200)
    val both = docs.select(
      graft.llm.TextAnalysis.winnowingFingerprints(col("text"), 5, 4).as("native"),
      HofForms.winnowingFingerprintsHof(col("text"), 5, 4).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // degenerate shapes: shorter than k, exactly k, shorter than window
    val edge = Seq("one two", "a b c d e", "a b c d e f").toDF("text")
    val e = edge.select(
      graft.llm.TextAnalysis.winnowingFingerprints(col("text"), 5, 4).as("native"),
      HofForms.winnowingFingerprintsHof(col("text"), 5, 4).as("hof"))
    assert(e.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("fused md5 token ids are bit-exact vs the HOF reference (incl. null tokens)") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(200)
      .select(Dedup.tokens(col("text")).as("toks"))
    val both = docs.select(
      Dedup.tokenIds64(col("toks")).as("native"),
      HofForms.tokenIds64Hof(col("toks")).as("hof"))
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0)
    // null tokens map to null ids on both forms
    import spark.implicits._
    val withNull = Seq(Tuple1(Seq("a", null, "b"))).toDF("toks")
    val r = withNull.select(Dedup.tokenIds64(col("toks")).as("native"),
      HofForms.tokenIds64Hof(col("toks")).as("hof")).head()
    assert(r.getSeq[Any](0) == r.getSeq[Any](1))
    assert(r.getSeq[Any](0)(1) == null)
  }

  test("native SimHash bits are bit-exact vs the HOF reference on real docs") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(200)
      .select(Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val both = docs.select(
      Dedup.simHashBits(col("toks")).as("native"),
      HofForms.simHashBitsHof(col("toks")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() == 200)
  }

  test("minhash_first_band replays the banding's xxhash64-over-slice chain exactly") {
    // the ONLY acceptable semantics: firstBand(a, b) == the minimum band
    // index where xxhash64(slice(a)) == xxhash64(slice(b)) — the band
    // join's own collision condition (the pair-dedup replacement's
    // correctness argument)
    val bands = 8
    val r = 8
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(300)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id").as("id"), Dedup.minHash(col("toks"), 64).as("mh"))
    val a = docs.as("a")
    val b = docs.as("b")
    val ref = (0 until bands).map { i =>
      when(xxhash64(slice(col("a.mh"), i * r + 1, r)) ===
        xxhash64(slice(col("b.mh"), i * r + 1, r)), lit(i)).otherwise(lit(bands))
    }.reduce(least(_, _))
    val refFirst = when(ref === bands, lit(-1)).otherwise(ref)
    val pairs = a.crossJoin(b).filter(col("a.id") < col("b.id"))
      .select(
        MinHash.firstBand(col("a.mh"), col("b.mh"), bands).as("native"),
        refFirst.as("ref"))
    assert(pairs.filter(not(col("native") <=> col("ref"))).count() == 0)
    // identical signatures agree on band 0; the fixture has few organic
    // collisions, so also plant one guaranteed hit
    val self = docs.select(
      MinHash.firstBand(col("mh"), col("mh"), bands).as("fb"))
    assert(self.filter(col("fb") =!= 0).count() == 0)
  }

  test("band_hashes is bit-exact vs the xxhash64-over-slice HOF (long and int bases)") {
    // the fused banding projection must replay the band join's exact
    // collision keys: xxhash64(slice(sig, b*r+1, r)) per band, fold from
    // seed 42, null slots skipped
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(300)
      .select(Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    for (bands <- Seq(4, 8, 16)) {
      val sigs = docs.select(Dedup.minHash(col("toks"), 64).as("mh"))
      val both = sigs.select(
        MinHash.bandHashes(col("mh"), bands).as("native"),
        HofForms.bandHashesHof(col("mh"), 64, bands).as("hof"))
      assert(both.filter(col("native") =!= col("hof")).count() == 0,
        s"bands=$bands long basis")
    }
    // INT basis (the simhash bit vectors): xxhash64 over ARRAY<INT>
    // slices chains hashInt per element
    val bits = docs.select(Dedup.simHashBits(col("toks")).as("bits"))
    for (bands <- Seq(4, 8)) {
      val w = 64 / bands
      val hof = transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("bits"), b * w + 1, lit(w))))
      val both = bits.select(
        MinHash.bandHashes(col("bits"), bands).as("native"), hof.as("hof"))
      assert(both.filter(col("native") =!= col("hof")).count() == 0,
        s"bands=$bands int basis")
    }
  }

  test("first_equal_slot over carried band hashes equals minhash_first_band") {
    val bands = 8
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(300)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id").as("id"), Dedup.minHash(col("toks"), 64).as("mh"))
      .withColumn("bha", MinHash.bandHashes(col("mh"), bands))
    val a = docs.as("a")
    val b = docs.as("b")
    val pairs = a.crossJoin(b).filter(col("a.id") < col("b.id"))
      .select(
        MinHash.firstEqualSlot(col("a.bha"), col("b.bha")).as("fes"),
        MinHash.firstBand(col("a.mh"), col("b.mh"), bands).as("fb"))
    assert(pairs.filter(not(col("fes") <=> col("fb"))).count() == 0)
    // identical arrays agree at slot 0
    val self = docs.select(MinHash.firstEqualSlot(col("bha"), col("bha")).as("s"))
    assert(self.filter(col("s") =!= 0).count() == 0)
  }

  test("mixed-parameter banded frames fail loudly (no silent pair drop)") {
    // ADVICE r21: a length mismatch on the dedup-critical path must raise,
    // not produce a filterable value
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L))).toDF("x", "y")
    val ex = intercept[Exception] {
      df.select(MinHash.firstEqualSlot(col("x"), col("y"))).collect()
    }
    assert(ex.getMessage != null)
    // non-divisible signature length raises too
    val ex2 = intercept[Exception] {
      Seq(Tuple1(Seq(1L, 2L, 3L))).toDF("mh")
        .select(MinHash.bandHashes(col("mh"), 2)).collect()
    }
    assert(ex2.getMessage != null)
  }

  test("first_equal_slot fails loudly on a NULL band-hash array (no silent pair drop)") {
    // ADVICE r22 #1: a NULL result makes `a.band === first_equal_slot(...)`
    // NULL, and the band-join filter would drop the pair without a word
    // a range, not a local relation, so the filter runs in generated code
    val df = spark.range(2).select(
      when(col("id") === 0, array(lit(1L), lit(2L))).as("x"),
      array(lit(1L), lit(2L)).as("y"))
    for ((a, b) <- Seq((col("x"), col("y")), (col("y"), col("x")))) {
      val ex = intercept[Exception] {
        df.filter(lit(0) === MinHash.firstEqualSlot(a, b)).collect()
      }
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("NULL band-hash array")), ex)
    }
    // the interpreted path raises too
    val interpreted = FirstEqualSlot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(null, ArrayType(LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1L)), ArrayType(LongType)))
    intercept[IllegalArgumentException](interpreted.eval())
    assert(!interpreted.nullable)
  }

  test("first-band filtered candidates equal the dropDuplicates form (uncapped)") {
    // the candidatePairsFromBands rewrite's end-to-end pin: one row per
    // (doc_a, doc_b) with the identical est_jaccard, exactly the old
    // dedup's result set
    val docs = graft.sources.Tables.load(spark, sf, "documents").limit(400)
      .select(col("doc_id"), col("text"))
    // plant exact duplicates (collide in EVERY band) and a shared-prefix
    // family (collide in some bands) so multi-band collisions are real
    val dups = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val corpus = docs.unionByName(dups)
    val viaFilter = Dedup.minHashLshCandidates(corpus, "doc_id", "text")
    val viaDedup = {
      // the capped path (cap >= any bucket size) IS the old dropDuplicates
      // tail — spec-pinned exact-uncapped-equality at a huge cap
      Dedup.minHashLshCandidates(corpus, "doc_id", "text",
        maxBucketSize = 1000000)
    }
    val f = viaFilter.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val d = viaDedup.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(f == d, s"filter form ${f.size} pairs vs dedup form ${d.size}")
    assert(f.nonEmpty, "fixture must produce candidate pairs")
  }
}
