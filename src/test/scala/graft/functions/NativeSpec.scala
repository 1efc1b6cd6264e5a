package graft.functions

import graft.SparkSpec
import graft.llm.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

class NativeSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine matches the HOF reference bit-for-bit on real embeddings") {
    val emb = Tables.load(spark, sf, "embeddings").limit(50)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id"))
    val diff = pairs.select(
      Native.cosineSimilarity(col("a"), col("b")).as("native"),
      HofForms.cosineHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof")) // bit-exact: same fold order
      .count()
    assert(diff == 0)
  }

  test("native dot matches HOF dot") {
    val df = Seq((Array(1.5f, -2.0f, 3.0f), Array(0.5f, 4.0f, -1.0f))).toDF("a", "b")
    val r = df.select(
      Native.dotProduct(col("a"), col("b")).as("n"),
      Similarity.dot(col("a"), col("b")).as("h")).head()
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("SQL registration exposes the signature functions") {
    Native.register(spark)
    val r = spark.sql(
      "SELECT size(minhash_signature(array('a','b'), 8)) m, " +
      "size(simhash_bits(array('a','b'))) s, " +
      "hyperplane_signature(array(cast(1.0 as float), cast(-1.0 as float)), 4, 2) h").head()
    assert(r.getInt(0) == 8)
    assert(r.getInt(1) == 64)
    // value pinned by the Column-face bit-exactness specs; here just typed
    assert(!r.isNullAt(2))
    val ag = spark.sql(
      "SELECT minhash_agreement(minhash_signature(array('a','b'), 8), " +
      "minhash_signature(array('a','b'), 8)) a").head()
    assert(ag.getInt(0) == 8) // identical signatures agree on every slot
  }

  test("SQL registration exposes cosine_similarity and dot_product") {
    Native.register(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(array(cast(1.0 as float), cast(0.0 as float)), array(cast(1.0 as float), cast(0.0 as float))) c, " +
      "dot_product(array(cast(2.0 as float)), array(cast(3.0 as float))) d").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 6.0)
  }

  test("native hyperplane signature is bit-exact vs the Column tree on real embeddings") {
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    val diff = emb.select(
      Native.hyperplaneSignature(col("embedding"), 8, 64).as("native"),
      Similarity.hyperplaneSignatureTree(col("embedding"), 8, 64).as("tree"))
      .filter(col("native") =!= col("tree"))
      .count()
    assert(diff == 0)
  }

  test("planeOffset tables are bit-exact vs the tree and mutually independent") {
    // table t of the multi-table LSH draws planes [t*p, (t+1)*p) — the
    // offset form must match the tree at the same offset, and different
    // offsets must actually produce different bucketings (independence)
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    for (off <- Seq(8, 24)) {
      val diff = emb.select(
        Native.hyperplaneSignature(col("embedding"), 8, 64, off).as("native"),
        Similarity.hyperplaneSignatureTree(col("embedding"), 8, 64, off).as("tree"))
        .filter(col("native") =!= col("tree")).count()
      assert(diff == 0, s"offset $off diverged from the tree form")
    }
    val same = emb.select(
      Native.hyperplaneSignature(col("embedding"), 8, 64, 0).as("t0"),
      Native.hyperplaneSignature(col("embedding"), 8, 64, 8).as("t1"))
      .filter(col("t0") === col("t1")).count()
    // 200 random vectors agreeing on all 8 independent bits has p ≈ 200/256;
    // ALL of them agreeing means the offset is ignored
    assert(same < 20, s"$same/200 signatures identical across offsets — tables not independent")
  }

  test("native hyperplane signature is bit-exact at production dim 768") {
    // The tree form at 16x768 = 12288 Column nodes cannot even be CONVERTED
    // to expressions (StackOverflow in ColumnNode conversion) — the cliff
    // the fused expr removes. Reference here is a driver-side fold with the
    // identical xxhash64 chain and double accumulation order.
    val rows = (0 until 20).map { r =>
      (r.toLong, Array.tabulate(768)(i => ((r * 31 + i * 7) % 97 - 48) / 48.0f))
    }
    def expected(emb: Array[Float], planes: Int, dim: Int): Long = {
      import org.apache.spark.sql.catalyst.expressions.XXH64
      var sig = 0L
      for (p <- 0 until planes) {
        val hp = XXH64.hashInt(p, 42L)
        var d = 0.0
        for (i <- 0 until dim) {
          val coeff =
            java.lang.Math.floorMod(XXH64.hashInt(i, hp), 1000000L).toDouble / 1000000.0 - 0.5
          d += emb(i).toDouble * coeff
        }
        if (d >= 0) sig |= 1L << p
      }
      sig
    }
    val got = rows.toDF("id", "embedding")
      .select(col("id"), Native.hyperplaneSignature(col("embedding"), 16, 768).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, emb) => assert(got(id) == expected(emb, 16, 768)) }
  }

  test("hyperplane signature: short and null-element arrays bucket to 0, null array to null") {
    val df = Seq(
      (1L, Some(Array(1.0f, 2.0f))),          // shorter than dim
      (2L, None: Option[Array[Float]])        // null embedding
    ).toDF("id", "embedding")
    val out = df.select(col("id"),
      Native.hyperplaneSignature(col("embedding"), 4, 4).as("sig")).collect()
    assert(out.find(_.getLong(0) == 1L).get.getLong(1) == 0L)
    assert(out.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("nearest_centroids handles production k=1024 and matches a driver reference") {
    // the literal-struct Column form would need ~65k literal nodes here
    val k = 1024
    val dim = 64
    val cents = Array.tabulate(k)(c => Array.tabulate(dim)(i => ((c * 13 + i * 7) % 31 - 15) / 15.0f))
    val embs = (0 until 10).map(r => (r.toLong, Array.tabulate(dim)(i => ((r * 5 + i * 3) % 17 - 8) / 8.0f)))
    def reference(e: Array[Float], nprobe: Int): Seq[Int] = {
      val sims = cents.map { cent =>
        var dot = 0.0; var nx = 0.0; var ny = 0.0
        for (i <- 0 until dim) {
          dot += e(i).toDouble * cent(i).toDouble
          nx += e(i).toDouble * e(i).toDouble; ny += cent(i).toDouble * cent(i).toDouble
        }
        val s = dot / (math.sqrt(nx) * math.sqrt(ny))
        if (s.isNaN) -2.0 else s
      }
      Array.range(0, k).sortWith((a, b) => sims(a) > sims(b) || (sims(a) == sims(b) && a < b))
        .take(nprobe).toSeq
    }
    val got = embs.toDF("id", "embedding")
      .select(col("id"), Native.nearestCentroids(col("embedding"), cents, 5).as("probes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    embs.foreach { case (id, e) => assert(got(id) == reference(e, 5)) }
  }

  test("type check rejects non-float-array input") {
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b") // double arrays
    val e = intercept[Exception] {
      df.select(Native.cosineSimilarity(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<float>")
      || e.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
