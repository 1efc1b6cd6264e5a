package graft.llm

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ARRAY<FLOAT>`).
  *
  * Float64 accumulation in index order (the Q-L4 determinism contract):
  * `aggregate(zip_with(...))` folds sequentially left-to-right, unlike
  * SIMD/pairwise BLAS summation — deterministic across partitionings.
  *
  * Scale path: brute force is the exactness baseline (broadcast the query
  * set, never the corpus); the LSH variant buckets by random-hyperplane
  * signature so the per-bucket search is local to a shuffle partition.
  *
  * COLUMN CONVENTION: every query-side API here reads the vector from a
  * column named `embedding` (a missing column fails loudly at analysis,
  * never silently). Corpora keyed differently go through
  * [[withEmbedding]] on the way in — a guarded rename, not a per-API
  * parameter forest; the training entries ([[IvfIndex.train]],
  * [[PqCodebook.train]], [[meanEmbedding]]) take an explicit `embCol`
  * because their sampling happens inside.
  */
object Similarity {

  /** Adapter for frames whose vector column is not named `embedding` —
    * the object-level column convention made callable:
    * `Similarity.bruteForceTopKAgg(withEmbedding(q, "vec"),
    * withEmbedding(c, "vec"), ...)`. Raises loudly when `embCol` is
    * absent or when a DIFFERENT `embedding` column already exists
    * (renaming beside it would silently shadow).
    */
  def withEmbedding(df: DataFrame, embCol: String): DataFrame = {
    if (embCol == "embedding") return df
    require(df.columns.contains(embCol),
      s"withEmbedding: column '$embCol' not found (have: ${df.columns.mkString(", ")})")
    require(!df.columns.contains("embedding"),
      s"withEmbedding: an 'embedding' column already exists alongside '$embCol' — drop one first")
    df.withColumnRenamed(embCol, "embedding")
  }

  /** Float64 dot product, sequential in index order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Default cosine: the fused native codegen expression
    * ([[graft.functions.Native]]) — identical float64 index-order
    * semantics, ~10x less per-row overhead than the interpreted HOF chain.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Native.cosineSimilarity(a, b)

  /** Exact top-k neighbors of each query row against the corpus.
    *
    * `queries` must be small (it is broadcast); the corpus streams —
    * cost O(|corpus|·|queries|·dim) with no shuffle of the corpus until
    * the final per-query top-k (a window over k·|queries| rows after a
    * partial per-partition filter would be the next optimization).
    * Ties break toward the lower corpus id (deterministic).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     queryId: String = "query_id", corpusId: String = "neighbor_id",
                     excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(queryId), col("embedding").as("q_emb")))
    val c = corpus.select(col(corpusId), col("embedding").as("c_emb"))
    val joined = c.crossJoin(q)
    val filtered = if (excludeSelf) joined.filter(col(queryId) =!= col(corpusId)) else joined
    val scored = filtered.withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col(queryId)).orderBy(col("sim").desc, col(corpusId).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("sim"))
  }

  /** Exact top-k via a BOUNDED partial aggregate instead of a window: each
    * map task forwards at most k candidates per query into the shuffle
    * (`functions/Aggregators.TopKBySim`), versus the window form's shuffle
    * of every scored row. Same results as [[bruteForceTopK]] (spec-pinned);
    * the 100 TB choice whenever k ≪ corpus/partition.
    */
  def bruteForceTopKAgg(queries: DataFrame, corpus: DataFrame, k: Int,
                        queryId: String = "query_id", corpusId: String = "neighbor_id",
                        excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(queryId), col("embedding").as("q_emb")))
    val c = corpus.select(col(corpusId), col("embedding").as("c_emb"))
    val joined = c.crossJoin(q)
    val filtered = if (excludeSelf) joined.filter(col(queryId) =!= col(corpusId)) else joined
    val scored = filtered.withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    topKAggTail(scored, k, queryId, corpusId)
  }

  /** Symmetric per-vector int8 quantization: q[i] = round(x[i] · 127 /
    * max|x|), the classic shrink-the-embedding-column step. A quantized
    * corpus is 4x narrower than float32 in every scan, broadcast, shuffle
    * and cache — at 100 TB the embedding column IS most of the byte
    * volume, so this is the difference between a broadcast that fits and
    * one that doesn't. Cosine is scale-invariant, so similarity workloads
    * don't even need to keep the scale; pair with
    * [[graft.functions.CosineSimilarityInt8]], whose integer dot/norm
    * accumulation is exactly reproducible (no float summation order).
    * All-zero vectors quantize to all-zero (no divide-by-zero).
    */
  def quantizeInt8(emb: Column): Column = {
    val maxabs = array_max(transform(emb, x => abs(x))).cast("double")
    when(maxabs.isNull || maxabs === 0.0,
      transform(emb, _ => lit(0).cast("tinyint")))
      .otherwise(transform(emb,
        x => round(x.cast("double") * (lit(127.0) / maxabs)).cast("tinyint")))
  }

  /** Stored-scale variant for workloads where the scale does NOT cancel
    * (dot-product scoring, L2 distance, vector reconstruction): a struct
    * of the per-vector inverse scale and the int8 codes. Cosine users
    * should prefer the scale-free [[quantizeInt8]].
    */
  def quantizeInt8WithScale(emb: Column): Column = {
    val maxabs = array_max(transform(emb, x => abs(x))).cast("double")
    struct(
      when(maxabs.isNull || maxabs === 0.0, lit(0.0))
        .otherwise(maxabs / 127.0).as("inv_scale"),
      quantizeInt8(emb).as("q"))
  }

  /** Reconstruction: codes × inv_scale, back to float. Max per-component
    * error is inv_scale/2 (half a quantization step) — spec-bounded.
    */
  def dequantizeInt8(qs: Column): Column =
    transform(qs.getField("q"),
      b => (b.cast("double") * qs.getField("inv_scale")).cast("float"))

  /** Exact-over-quantized top-k: [[bruteForceTopKAgg]] with both sides
    * int8-quantized and scored by the integer-arithmetic cosine. Identical
    * vectors quantize identically (sim = the maximal self-value), so
    * ranking quality degrades only with quantization error (~1e-2 on
    * organic pairs, spec-bounded). Same bounded TopKBySim tail: at most k
    * narrow (queryId, corpusId, sim) rows per query enter the shuffle.
    */
  def int8TopKAgg(queries: DataFrame, corpus: DataFrame, k: Int,
                  queryId: String = "query_id", corpusId: String = "neighbor_id",
                  excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(queryId), quantizeInt8(col("embedding")).as("q_q")))
    val c = corpus.select(col(corpusId), quantizeInt8(col("embedding")).as("c_q"))
    val joined = c.crossJoin(q)
    val filtered = if (excludeSelf) joined.filter(col(queryId) =!= col(corpusId)) else joined
    val scored = filtered.withColumn("sim",
      graft.functions.Native.cosineSimilarityInt8(col("q_q"), col("c_q")))
    topKAggTail(scored, k, queryId, corpusId)
  }

  /** Random-hyperplane LSH signature (`planes` bits): bit p is the sign of
    * dot(v, r_p) where r_p is a deterministic pseudo-random unit-free
    * direction derived from xxhash64(p, i) — no stored model, identical
    * across runs/engines. Fused native expression
    * ([[graft.functions.HyperplaneSignature]]): the Column-tree reference
    * form below builds planes x dim nodes, which at production embedding
    * dims (768-4096) exceeds codegen limits and interprets a 100k-node
    * tree per row.
    */
  def hyperplaneSignature(emb: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    graft.functions.Native.hyperplaneSignature(emb, planes, dim, planeOffset)

  /** Reference (Column-tree) form — kept for the bit-exactness spec. */
  def hyperplaneSignatureTree(emb: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val contribs = (0 until dim).map { i =>
        // pseudo-random coefficient in [-0.5, 0.5) from (plane, index)
        val coeff = (pmod(xxhash64(lit(planeOffset + p), lit(i)), lit(1000000L)).cast("double") / 1000000.0) - 0.5
        element_at(emb, i + 1).cast("double") * coeff
      }
      val d = contribs.reduce(_ + _)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** Shared ranking tail for the candidate-generation top-k paths: project
    * to (queryId, corpusId, sim) FIRST — at production dims the embeddings
    * are ~3 KB/row and must never ride a shuffle once scored — then rank
    * with the bounded [[graft.functions.Aggregators.TopKBySim]] partial
    * aggregate. The aggregate's buffer both caps at k AND dedups candidate
    * ids (multi-probe/multi-table re-encounters of the same pair carry an
    * identical recomputed sim, so max-sim-per-id dedup is exact), so the
    * ONLY shuffle in the tail is the k-bounded partial→final Exchange —
    * each map task forwards at most k narrow rows per query. An earlier
    * form paid a dedicated `dropDuplicates(query, candidate)` Exchange
    * (narrow columns but unbounded row count) before ranking; folding the
    * dedup into the aggregate deleted that whole shuffle.
    *
    * The candidate id keeps its input type: integral ids ride the
    * aggregate as long and are cast back on output; string ids use the
    * string-keyed aggregate directly. Anything else fails fast — a silent
    * `cast("long")` used to null out string/UUID ids.
    */
  private def topKAggTail(scored: DataFrame, k: Int,
                          queryId: String, corpusId: String): DataFrame = {
    import org.apache.spark.sql.types._
    val narrow = scored.select(col(queryId), col(corpusId), col("sim"))
    val idType = narrow.schema(corpusId).dataType
    val (topk, idIn, idOut) = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        (udaf(graft.functions.Aggregators.TopKBySim.ofLong(k),
          org.apache.spark.sql.Encoders.product[(Double, Long)]),
          col(corpusId).cast("long"),
          (c: Column) => c.cast(idType))
      case StringType =>
        (udaf(graft.functions.Aggregators.TopKBySim.ofString(k),
          org.apache.spark.sql.Encoders.product[(Double, String)]),
          col(corpusId),
          (c: Column) => c)
      case other => throw new IllegalArgumentException(
        s"topK candidate id column '$corpusId' must be integral or string, got ${other.sql}")
    }
    narrow
      .groupBy(col(queryId))
      .agg(topk(col("sim"), idIn).as("top"))
      .select(col(queryId), posexplode(col("top")))
      .select(col(queryId), (col("pos") + 1).cast("int").as("rank"),
        idOut(col("col._2")).as(corpusId), col("col._1").as("sim"))
  }

  /** Reference window-form tail (kept for the agg ≡ window pin in
    * `LlmSpec`/`IvfSpec`): same dedup, ranked by a row_number window —
    * shuffles every scored row, embeddings and all.
    */
  private def topKWindowTail(scored: DataFrame, k: Int,
                             queryId: String, corpusId: String): DataFrame = {
    val deduped = scored.dropDuplicates(queryId, corpusId)
    val w = Window.partitionBy(col(queryId)).orderBy(col("sim").desc, col(corpusId).asc)
    deduped.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("sim"))
  }

  /** LSH-bucketed candidates for [[lshTopK]]: corpus bucketed by signature,
    * queries probe their own bucket (+ each 1-bit flip).
    *
    * `broadcastQueries = true` (the default) hints the query side into a
    * broadcast hash join — right whenever the query set is dimension-table
    * sized. For query sets too large to broadcast (bulk kNN of one corpus
    * against another) pass false: both sides then shuffle on the 8-byte
    * bucket key — still never an all-pairs join.
    */
  private def lshCandidates(queries: DataFrame, corpus: DataFrame,
                            planes: Int, dim: Int,
                            queryId: String, corpusId: String,
                            multiProbe: Boolean,
                            broadcastQueries: Boolean = true,
                            excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(corpusId), col("embedding").as("c_emb"))
      .withColumn("bucket", hyperplaneSignature(col("c_emb"), planes, dim))
    val qSig = queries.select(col(queryId), col("embedding").as("q_emb"))
      .withColumn("sig", hyperplaneSignature(col("q_emb"), planes, dim))
    // multi-probe: the query probes its own bucket plus each 1-bit flip
    val probes =
      if (!multiProbe) qSig.withColumn("bucket", col("sig"))
      else qSig.withColumn("bucket",
        explode(array((col("sig") +: (0 until planes)
          .map(p => col("sig").bitwiseXOR(lit(1L << p)))): _*)))
    val q = if (broadcastQueries) broadcast(probes) else probes
    val joined = c.join(q, Seq("bucket"))
    // excludeSelf drops id-equal pairs — correct for self-search, WRONG
    // when query and corpus ids are independent namespaces (the
    // bruteForce* siblings expose the same switch)
    val kept = if (excludeSelf) joined.filter(col(queryId) =!= col(corpusId)) else joined
    kept.withColumn("sim", cosine(col("q_emb"), col("c_emb")))
  }

  /** Approximate top-k: candidates limited to query's LSH bucket (and its
    * single-bit-flip neighbor buckets for recall), then exact cosine +
    * bounded-aggregate rank ([[topKAggTail]] — embeddings are dropped
    * before any shuffle). Trades recall for pruning the corpus scan to
    * matching buckets — the 100 TB path where brute force is impossible.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int, dim: Int,
              queryId: String = "query_id", corpusId: String = "neighbor_id",
              multiProbe: Boolean = true, broadcastQueries: Boolean = true,
              excludeSelf: Boolean = true): DataFrame =
    topKAggTail(lshCandidates(queries, corpus, planes, dim, queryId, corpusId, multiProbe,
      broadcastQueries, excludeSelf), k, queryId, corpusId)

  /** Window-form [[lshTopK]] — reference for the agg ≡ window spec pin. */
  def lshTopKWindow(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int, dim: Int,
                    queryId: String = "query_id", corpusId: String = "neighbor_id",
                    multiProbe: Boolean = true): DataFrame =
    topKWindowTail(lshCandidates(queries, corpus, planes, dim, queryId, corpusId, multiProbe),
      k, queryId, corpusId)

  /** IVF (inverted-file) coarse quantizer: k-means centroids trained on a
    * BOUNDED deterministic sample (first `sampleSize` by id — never the
    * full corpus on the driver), Lloyd iterations in plain Scala, float64.
    * Assignment/probing run distributed against broadcast centroid
    * literals through the native cosine expression.
    *
    * The IVF contract at 100 TB: corpus is bucketed once (one shuffle /
    * write), queries probe `nprobe` of `k` buckets — a k/nprobe-fold scan
    * reduction with recall controlled by nprobe.
    */
  final case class IvfIndex(centroids: Seq[Array[Float]]) {
    def k: Int = centroids.size

    /** Persist the trained quantizer (one row per centroid) so a corpus
      * bucketed once can be probed by later jobs without retraining — the
      * production IVF lifecycle: train → save → assign+write corpus →
      * N query jobs `IvfIndex.load`. Centroid count is `k` (≤ thousands),
      * so the table is trivially small.
      */
    def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      centroids.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("centroid_id", "embedding")
        .repartition(1).write.mode("overwrite").parquet(path)
    }

    // one shared matrix for the native expression; NaN-proofing (zero-norm
    // vectors rank below every real similarity) and the ties-to-lower-id
    // order live inside NearestCentroids. The earlier literal-struct
    // Column form cost O(k·dim) plan nodes per reference — unusable at
    // production k (1024 × dim 768 ≈ 800k literals); the matrix-as-field
    // expression has no k ceiling short of executor math itself.
    @transient private lazy val matrix: Array[Array[Float]] = centroids.toArray

    /** Column: index of the nearest centroid (deterministic ties → lower). */
    def assignment(emb: Column): Column =
      element_at(graft.functions.Native.nearestCentroids(emb, matrix, 1), 1)

    /** Columns: the `nprobe` nearest centroid ids for a query vector. */
    def probes(emb: Column, nprobe: Int): Column =
      graft.functions.Native.nearestCentroids(emb, matrix, nprobe)
  }

  object IvfIndex {
    /** Load a quantizer persisted by [[IvfIndex.save]] — centroid order
      * (= bucket ids) is restored from `centroid_id`, so assignments of an
      * already-bucketed corpus stay valid.
      */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
      val rows = spark.read.parquet(path)
        .orderBy(col("centroid_id"))
        .collect() // bounded by k — the same driver-size class as training
        .map(r => r.getSeq[Float](1).toArray)
      require(rows.nonEmpty, s"no centroids at $path")
      IvfIndex(rows.toIndexedSeq)
    }

    /** Deterministic training: sample = `sampleSize` rows in xxhash64(id)
      * order (id tie-break) — deterministic like first-N-by-id but UNBIASED
      * (ingestion order often correlates with content; hash order doesn't).
      * Bounded driver work: orderBy+limit plans as TakeOrdered, never a
      * full sort. Init = first k sample vectors; fixed Lloyd iterations,
      * float64.
      */
    def train(corpus: DataFrame, idCol: String, k: Int,
              sampleSize: Int = 2048, iters: Int = 8,
              embCol: String = "embedding"): IvfIndex = {
      val sample = corpus.orderBy(xxhash64(col(idCol)), col(idCol)).limit(sampleSize)
        .select(col(embCol)).collect()
        .map(_.getSeq[Float](0).toArray)
      require(sample.length >= k, s"need >= $k sample vectors")
      var cents = sample.take(k).map(_.map(_.toDouble))
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](cents(0).length))
        val counts = new Array[Int](k)
        sample.foreach { v =>
          var best = 0
          var bestSim = Double.MinValue
          var i = 0
          while (i < k) {
            val s = cosineScalar(v, cents(i))
            if (s > bestSim) { bestSim = s; best = i }
            i += 1
          }
          counts(best) += 1
          var d = 0
          while (d < v.length) { sums(best)(d) += v(d); d += 1 }
        }
        cents = cents.zipWithIndex.map { case (c, i) =>
          if (counts(i) == 0) c else sums(i).map(_ / counts(i))
        }
      }
      IvfIndex(cents.map(_.map(_.toFloat)))
    }

    private def cosineScalar(a: Array[Float], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i).toDouble * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  /** Product-quantization codebook (Jégou/Douze/Schmid 2011): `m`
    * per-subspace k-means codebooks over contiguous `dim/m`-dim slices,
    * trained exactly like [[IvfIndex]] — a BOUNDED deterministic
    * hash-ordered sample on the driver, fixed Lloyd iterations (L2, the
    * paper's quantization objective), float64 accumulation — then
    * encode/score run distributed through fused native expressions
    * ([[graft.functions.PqEncode]] / [[graft.functions.PqQueryTables]] /
    * [[graft.functions.PqAdcCosine]]).
    *
    * The PQ contract at 100 TB: the corpus is encoded ONCE to `m` bytes
    * per vector (16× narrower than float32 at d=64, m=16 — 4d/m× in
    * general), later jobs score CODES through per-query lookup tables
    * (ADC: `m` adds + lookups per pair instead of a d-dim dot) and the
    * raw embeddings never leave their parquet. Composes with the IVF
    * coarse quantizer ([[ivfPqTopK]]) into the inverted-file+PQ layout
    * every production ANN system (FAISS IVFPQ lineage) runs.
    */
  final case class PqCodebook(centroids: Array[Array[Array[Float]]]) {
    require(centroids.nonEmpty && centroids.forall(_.nonEmpty),
      "PqCodebook needs >= 1 centroid per subspace")
    def m: Int = centroids.length
    def ksub: Int = centroids(0).length
    def dim: Int = centroids.map(_(0).length).sum

    /** Column: `ARRAY<BYTE>` code (m bytes) of an `ARRAY<FLOAT>` embedding. */
    def encode(emb: Column): Column =
      graft.functions.Native.pqEncode(emb, centroids)

    /** Column: the per-query ADC tables (dots + query norm) — compute on
      * the QUERY side, before any join, never per pair.
      */
    def queryTables(emb: Column): Column =
      graft.functions.Native.pqQueryTables(emb, centroids)

    /** Column: ADC cosine of (query tables, corpus code). */
    def adcCosine(tables: Column, codes: Column): Column =
      graft.functions.Native.pqAdcCosine(tables, codes, centroids)

    /** Driver-side reconstruction of a code — the spec/debug face. */
    def reconstruct(code: Array[Int]): Array[Float] = {
      require(code.length == m, s"code length ${code.length} != m=$m")
      code.zipWithIndex.flatMap { case (c, j) => centroids(j)(c) }
    }

    /** Persist (one row per (subspace, centroid)) — the IVF lifecycle:
      * train → save → encode+write corpus once → N query jobs `load`.
      */
    def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      (for (j <- centroids.indices; c <- centroids(j).indices)
        yield (j, c, centroids(j)(c))).toDF("sub_id", "centroid_id", "embedding")
        .repartition(1).write.mode("overwrite").parquet(path)
    }
  }

  object PqCodebook {
    def load(spark: org.apache.spark.sql.SparkSession, path: String): PqCodebook = {
      val rows = spark.read.parquet(path)
        .orderBy(col("sub_id"), col("centroid_id"))
        .collect() // bounded by m*ksub — the training-size driver class
      require(rows.nonEmpty, s"no PQ centroids at $path")
      PqCodebook(rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2
        .map(_.getSeq[Float](2).toArray).toArray).toArray)
    }

    /** Deterministic training: the [[IvfIndex.train]] sample discipline
      * (xxhash64(id)-ordered TakeOrdered — bounded, unbiased, never a
      * full sort) with per-subspace Lloyd under L2. Empty clusters keep
      * their previous centroid. `dim % m == 0` required — PQ's contiguous
      * equal slices.
      */
    def train(corpus: DataFrame, idCol: String, m: Int, ksub: Int,
              sampleSize: Int = 2048, iters: Int = 8,
              embCol: String = "embedding"): PqCodebook = {
      val sample = corpus.orderBy(xxhash64(col(idCol)), col(idCol)).limit(sampleSize)
        .select(col(embCol)).collect()
        .map(_.getSeq[Float](0).toArray)
      require(sample.length >= ksub, s"need >= $ksub sample vectors, got ${sample.length}")
      val dim = sample(0).length
      require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m")
      val dsub = dim / m
      val books = Array.tabulate(m) { j =>
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
        var cents = sub.take(ksub).map(_.map(_.toDouble))
        for (_ <- 1 to iters) {
          val sums = Array.fill(ksub)(new Array[Double](dsub))
          val counts = new Array[Int](ksub)
          sub.foreach { v =>
            var best = 0
            var bestDist = Double.MaxValue
            var c = 0
            while (c < ksub) {
              var d = 0.0
              var i = 0
              while (i < dsub) {
                val dl = v(i) - cents(c)(i); d += dl * dl; i += 1
              }
              if (d < bestDist) { bestDist = d; best = c }
              c += 1
            }
            counts(best) += 1
            var i = 0
            while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          }
          cents = cents.zipWithIndex.map { case (c, i) =>
            if (counts(i) == 0) c else sums(i).map(_ / counts(i))
          }
        }
        cents.map(_.map(_.toFloat))
      }
      PqCodebook(books)
    }
  }

  /** PQ-ADC approximate top-k over an ALREADY-ENCODED corpus — the
    * production entry point: `codes` is (corpusId, `codeCol` ARRAY<BYTE>)
    * written once by `corpus.select(id, codebook.encode(embedding))`;
    * this job never touches raw corpus embeddings. Queries compute their
    * ADC tables once each (broadcast — the [[int8TopKAgg]] small-query
    * convention), every (query, code) pair scores with m adds + lookups,
    * and the bounded [[graft.functions.Aggregators.TopKBySim]] tail keeps
    * the only Exchange at ≤ k narrow rows per query per map task.
    */
  def pqTopKOnCodes(queries: DataFrame, codes: DataFrame, codebook: PqCodebook, k: Int,
                    queryId: String = "query_id", corpusId: String = "neighbor_id",
                    codeCol: String = "pq_code", excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(queryId),
      codebook.queryTables(col("embedding")).as("_pq_t")))
    val joined = codes.select(col(corpusId), col(codeCol)).crossJoin(q)
    val kept = if (excludeSelf) joined.filter(col(queryId) =!= col(corpusId)) else joined
    val scored = kept.withColumn("sim",
      codebook.adcCosine(col("_pq_t"), col(codeCol)))
    topKAggTail(scored, k, queryId, corpusId)
  }

  /** [[pqTopKOnCodes]] with the encode fused in — the one-job form. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, codebook: PqCodebook, k: Int,
             queryId: String = "query_id", corpusId: String = "neighbor_id",
             excludeSelf: Boolean = true): DataFrame =
    pqTopKOnCodes(queries,
      corpus.select(col(corpusId), codebook.encode(col("embedding")).as("pq_code")),
      codebook, k, queryId, corpusId, excludeSelf = excludeSelf)

  /** IVFPQ: the FAISS-lineage composition — IVF coarse quantizer prunes
    * the candidate set to `nprobe` of `k` cells, PQ-ADC scores the
    * survivors against 16×-compressed codes. At 100 TB this is THE
    * serving layout: corpus bucketed + encoded once (narrow (id, bucket,
    * m-byte code) rows), each query job scans nprobe/k of the corpus and
    * never reads a raw embedding.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, ivf: Similarity.IvfIndex,
                codebook: PqCodebook, topK: Int, nprobe: Int,
                queryId: String = "query_id", corpusId: String = "neighbor_id",
                broadcastQueries: Boolean = true, excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(corpusId),
      ivf.assignment(col("embedding")).as("bucket"),
      codebook.encode(col("embedding")).as("pq_code"))
    val q0 = queries.select(col(queryId),
      codebook.queryTables(col("embedding")).as("_pq_t"),
      explode(ivf.probes(col("embedding"), nprobe)).as("bucket"))
    val q = if (broadcastQueries) broadcast(q0) else q0
    val joined = c.join(q, Seq("bucket"))
    val kept = if (excludeSelf) joined.filter(col(queryId) =!= col(corpusId)) else joined
    val scored = kept.withColumn("sim", codebook.adcCosine(col("_pq_t"), col("pq_code")))
    topKAggTail(scored, topK, queryId, corpusId)
  }

  /** IVF candidates for [[ivfTopK]]: corpus bucketed by nearest centroid,
    * broadcast queries probe their `nprobe` closest buckets.
    */
  private def ivfCandidates(queries: DataFrame, corpus: DataFrame,
                            index: Similarity.IvfIndex, nprobe: Int,
                            queryId: String, corpusId: String,
                            broadcastQueries: Boolean = true,
                            excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(corpusId), col("embedding").as("c_emb"))
      .withColumn("bucket", index.assignment(col("c_emb")))
    val q0 = queries.select(col(queryId), col("embedding").as("q_emb"))
      .withColumn("bucket", explode(index.probes(col("q_emb"), nprobe)))
    // same escape hatch as the LSH path: drop the hint for bulk query sets
    val q = if (broadcastQueries) broadcast(q0) else q0
    val joined = c.join(q, Seq("bucket"))
    // same namespace switch as lshCandidates
    val kept = if (excludeSelf) joined.filter(col(queryId) =!= col(corpusId)) else joined
    kept.withColumn("sim", cosine(col("q_emb"), col("c_emb")))
  }

  /** IVF approximate top-k: corpus bucketed by nearest centroid; each query
    * probes its `nprobe` closest buckets; exact cosine + bounded-aggregate
    * rank ([[topKAggTail]] — embeddings are dropped before any shuffle)
    * within the probed subset. Scan cost ≈ (nprobe/k) × brute force.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, index: Similarity.IvfIndex,
              topK: Int, nprobe: Int,
              queryId: String = "query_id", corpusId: String = "neighbor_id",
              broadcastQueries: Boolean = true, excludeSelf: Boolean = true): DataFrame =
    topKAggTail(ivfCandidates(queries, corpus, index, nprobe, queryId, corpusId,
      broadcastQueries, excludeSelf), topK, queryId, corpusId)

  /** Window-form [[ivfTopK]] — reference for the agg ≡ window spec pin. */
  def ivfTopKWindow(queries: DataFrame, corpus: DataFrame, index: Similarity.IvfIndex,
                    topK: Int, nprobe: Int,
                    queryId: String = "query_id", corpusId: String = "neighbor_id"): DataFrame =
    topKWindowTail(ivfCandidates(queries, corpus, index, nprobe, queryId, corpusId),
      topK, queryId, corpusId)

  /** Embedding-cosine near-duplicate pairs with MULTI-TABLE (banded)
    * hyperplane LSH — the OR-amplification `minHashLshCandidates` uses
    * (`Dedup.scala` banding): `tables` independent signature tables (table
    * t draws its hyperplanes at planeOffset t·planes from the same
    * deterministic hash family), a pair is a candidate if it collides in
    * ANY table, candidates are exact-cosine re-scored and thresholded,
    * then deduped across tables. Collision probability rises from
    * (1-θ/π)^planes to 1-(1-(1-θ/π)^planes)^tables — the S-curve that
    * recovers recall for near-but-not-identical pairs (cosine ≈ 0.85)
    * that a single table misses with probability growing in `planes`.
    *
    * Scale shape: per table one self-equi-join on the 8-byte bucket key —
    * never an all-pairs join; scoring happens inside each table's join
    * (embeddings at hand, no re-join) and only the narrow thresholded
    * (doc_a, doc_b, sim) rows reach the cross-table dedup shuffle.
    * `tables = 1` is the historical single-table form (recall floor for
    * the spec that pins multi-table above it).
    *
    * SIZE `planes` WITH THE CORPUS: scored pairs are Σ bucket_size² over
    * 2^planes buckets, so at fixed planes the work grows QUADRATICALLY in
    * corpus size (measured: 3.5× time at 10× data with planes=4 —
    * `BASELINE.md` round-5 ScaleBench). Pick planes ≈ log2(n / target
    * bucket size) — e.g. 16–24 planes for 10^8–10^10 docs — and let
    * `tables` recover the recall the finer bucketing costs.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, threshold: Double,
                         planes: Int, dim: Int, tables: Int = 4,
                         maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val base = df.select(col(idCol).as("id"), col("embedding"))
    val perTable = (0 until tables).map { tbl =>
      val sig = capTableBuckets(base.withColumn("bucket",
        hyperplaneSignature(col("embedding"), planes, dim, planeOffset = tbl * planes)),
        maxBucketSize, "cosineNearDupPairs")
      val a = sig.as("a")
      val b = sig.as("b")
      a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .withColumn("sim", cosine(col("a.embedding"), col("b.embedding")))
        .filter(col("sim") >= threshold)
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"), col("sim"))
    }
    // identical (a,b) re-scored in >1 colliding table carries an identical
    // sim — the dedup is on the narrow projected rows only
    perTable.reduce(_.unionByName(_)).dropDuplicates("doc_a", "doc_b")
  }

  /** Arrival-rank df-cut of a saturated hyperplane bucket — the
    * [[graft.llm.Dedup]] `capBandBuckets` convention on the EMBEDDING
    * axis (round 18): identical vectors (failed-encode zeros, default
    * embeddings, exact re-encodes of the same content) collide in EVERY
    * table at ANY planes — the very property the ql32 recall oracle pins
    * — so the occupancy math that keeps organic buckets ≈ targetBucket
    * cannot bound them, and each table's self-join goes quadratic in the
    * identical set. Keep each bucket's first `maxBucketSize` ids, drop
    * later arrivals; the rank window hash-partitions on `bucket` — the
    * join's own key — so capping adds ZERO shuffles. Cuts forward
    * through the shared `lsh.bucket_cut` bridge, never silent.
    */
  private def capTableBuckets(sig: DataFrame, maxBucketSize: Int,
                              stage: String): DataFrame =
    if (maxBucketSize == Int.MaxValue) sig
    else {
      require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
      graft.llm.Dedup.bridgeCuts(sig.sparkSession)
      // round 19: map-side pre-cut before the rank window (VERDICT r18
      // #1) — the saturated bucket's reducer input is bounded at
      // cap x numPartitions, byte-identical output (BucketCapSpec).
      // Round 20 (ADVICE r19): these rows carry the FULL embedding
      // vector (several KB to tens of KB at dim 768-4096), so the
      // map-side buffer gets a tight byte budget — the sampled-width
      // flush turns it into a hard bound, not a row-count guess
      graft.analytics.BucketCap.capByRank(sig, Seq("bucket"), Seq("id"),
        maxBucketSize, graft.llm.Dedup.lshCutObserveName(stage),
        maxTrackedBytes = 16L << 20)
    }

  /** `planes` sized for the corpus: ceil(log2(n / targetBucket)), clamped
    * to [pMin, pMax]. Keeps expected bucket occupancy ≈ `targetBucket` as
    * the corpus grows, so within-bucket pair work stays ~linear in n
    * (Σ bucket² ≈ n·targetBucket) instead of quadratic at fixed planes —
    * the measured ql14 trap (3.48× time at 10× data with planes=4,
    * `BASELINE.md`). pMax 48 leaves the signature comfortably inside the
    * 64-bit bucket key.
    */
  def autoPlanes(corpusSize: Long, targetBucket: Long = 1024L,
                 pMin: Int = 4, pMax: Int = 48): Int = {
    require(corpusSize > 0 && targetBucket > 0, "need positive sizes")
    // integer arithmetic throughout: Math.log is only 1-ulp accurate, and
    // a 1-ulp wobble at an exact power of two would derive planes±1 —
    // machine-dependent bucket assignments. ceil(log2(ceil(n/target))) =
    // 64 - nlz(ratio - 1) is bit-stable everywhere.
    val ratio = (corpusSize + targetBucket - 1) / targetBucket
    val needed =
      if (ratio <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(ratio - 1L)
    math.min(pMax, math.max(pMin, needed))
  }

  /** [[cosineNearDupPairs]] with `planes` derived from the corpus size —
    * the no-retuning entry point: callers pass the row count they already
    * track (or let the operator `count()` once — one cheap scan against a
    * self-join that dwarfs it). `tables` still provides the multi-table
    * OR-amplification recall; the planted-clone oracle (ql32) pins that
    * exact-duplicate recall is unaffected by the derived planes (identical
    * vectors collide in every table at ANY planes).
    */
  def cosineNearDupPairsAuto(df: DataFrame, idCol: String, threshold: Double,
                             dim: Int, tables: Int = 4,
                             targetBucket: Long = 1024L,
                             corpusSize: Option[Long] = None,
                             maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // max(n, 1): an EMPTY corpus derives pMin planes and every bucket
    // join is empty — the operator returns an empty pair set instead of
    // autoPlanes throwing on 0 (siblings like duplicateClusters also
    // no-op on empty input)
    val n = math.max(corpusSize.getOrElse(df.count()), 1L)
    cosineNearDupPairs(df, idCol, threshold, autoPlanes(n, targetBucket), dim, tables,
      maxBucketSize)
  }

  /** Exact k-NN graph: every corpus vector's top-k cosine neighbors —
    * the bulk corpus-vs-corpus form of the top-k family (every row is a
    * query, so there is no small side to broadcast). O(n²·dim) scoring by
    * construction: this is the exactness BASELINE for graph quality
    * specs and the re-scoring tool for bounded subsets; at corpus scale
    * use [[knnGraphDescent]]. Same bounded TopKBySim tail — only narrow
    * (id, neighbor, sim) rows ever shuffle.
    */
  def knnGraphExact(corpus: DataFrame, k: Int, idCol: String = "vec_id",
                    maxRows: Long = 100000L): DataFrame = {
    // escape hatch, not a tuning knob: the cartesian is the point of this
    // operator (exactness baseline / bounded re-scoring), but reaching it
    // ACCIDENTALLY with a corpus-sized input must fail fast instead of
    // scheduling n² work. The limit+count probe reads at most maxRows+1
    // rows — negligible against the cartesian it guards.
    val probe = corpus.limit((maxRows + 1L).min(Int.MaxValue.toLong).toInt).count()
    require(probe <= maxRows,
      s"knnGraphExact is O(n^2): corpus exceeds maxRows=$maxRows; " +
        "use knnGraphDescent for corpus-scale graphs, or raise maxRows explicitly")
    // Spread the streamed side across the session's shuffle parallelism
    // BEFORE the n² blowup (optimization round 21, guide §2.5/§2.6): the
    // bounded corpus typically arrives as one or two scan partitions
    // (one small file / one row group), so the cartesian's n² cosine
    // work — and the top-k aggregation over it — otherwise runs on 1-2
    // cores while the rest idle; the partial ObjectHashAggregate then
    // also holds EVERY query's buffer in those tasks, tripping the
    // >128-group sort fallback (tools/Probe: numTasksFallBacked>0). The
    // round-robin exchange moves only the ≤maxRows input rows — O(n)
    // bytes to parallelize O(n²) compute, favorable at ANY scale of this
    // bounded operator — and drops groups-per-task under the hash-agg
    // threshold.
    val lanes = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val a = corpus.repartition(lanes)
      .select(col(idCol).as("query_id"), col("embedding").as("q_emb"))
    val b = corpus.select(col(idCol).as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = a.crossJoin(b)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    topKAggTail(scored, k, "query_id", "neighbor_id")
  }

  /** Approximate k-NN graph by NN-DESCENT (Dong et al., WWW'11 — the
    * graph-construction half of the HNSW/NSG family, re-expressed as
    * relational iterations): start from LSH-bucket neighbors, then
    * repeatedly try each node's neighbors-of-neighbors — "a neighbor of
    * my neighbor is likely my neighbor" — keeping the best k by exact
    * cosine. Everything is deterministic: hyperplane init, exact fused
    * scoring, ties to the lower id, and the TopKBySim dedup absorbs
    * re-encountered candidates.
    *
    * Scale shape per iteration: edges are NARROW (id, id) rows — the
    * 2-hop candidate join is id-only (≤ k² candidates per node);
    * embeddings are fetched by two equi-joins against the corpus (at
    * fleet scale: co-partition the corpus by id ONCE and both fetches
    * reuse that partitioning), scored in-join, and dropped before the
    * k-bounded ranking shuffle. Total work per iteration O(n·k²·dim) —
    * independent of n², which is the entire point vs [[knnGraphExact]].
    * Graph quality rises with `iters` and `buildK`, and DEPENDS ON THE
    * CORPUS: clustered/organic data converges fast (recall@3 ≥ 0.8 at
    * iters = 2, spec-pinned vs the exact baseline), while
    * structure-free uniform-random vectors are the adversarial case —
    * the neighbor-of-my-neighbor signal NN-Descent exploits barely
    * exists there (measured at 10×/20k random vectors: recall@10
    * 0.09 init → 0.24/0.59/0.85/0.93 at iters 1–4 with the default
    * buildK, or 0.87 at iters = 2 with buildK = 64 — `BASELINE.md`
    * round-8 recall table; on such data raise `iters` first (the
    * cheaper lever), or prefer the IVF/LSH query paths which don't
    * rely on graph locality).
    *
    * Exact-duplicate certainty (the oracle hook): identical vectors
    * share every LSH bucket, so a clone pair is already a candidate at
    * init, scores 1.0, and can never be evicted from a top-k — planted
    * clones are provably each other's top-1 at ANY iters (Q-L34 pins
    * this end to end; Q-L33 is the exact-graph baseline).
    */
  def knnGraphDescent(corpus: DataFrame, k: Int, dim: Int,
                      idCol: String = "vec_id",
                      iters: Int = 2, initPlanes: Int = 0,
                      buildK: Int = 0,
                      corpusSize: Option[Long] = None): DataFrame = {
    require(iters >= 0 && k >= 1, "need iters >= 0 and k >= 1")
    // building at a degree below the requested k silently truncates the
    // output (the graph can never hold more than buildK neighbors)
    require(buildK <= 0 || buildK >= k,
      s"knnGraphDescent: buildK=$buildK < k=$k would truncate the output graph")
    // NN-Descent quality comes from the BUILD degree, not the output k:
    // each iteration explores ~(2·buildK)^2 two-hop candidates per node,
    // so a small k starves the search (Dong et al. build at K and
    // truncate). Default: build at max(4k, 16), emit top-k at the end.
    val bk = if (buildK > 0) buildK else math.max(4 * k, 16)
    val ids = corpus.select(col(idCol).as("id"), col("embedding"))
    // initPlanes = 0 (default) sizes the init buckets from the corpus —
    // Σ bucket² ≈ n·targetBucket keeps the init join linear in n (the
    // autoPlanes growth-safety argument; a fixed init would re-create the
    // ql14 quadratic inside this operator)
    // corpusSize: same count-skipping escape hatch as knnGraphSearch /
    // cosineNearDupPairsAuto (callers at scale track the row count);
    // max(_, 1) makes an empty corpus produce an empty graph, not a throw
    val planes =
      if (initPlanes > 0) initPlanes
      else autoPlanes(math.max(corpusSize.getOrElse(ids.count()), 1L), targetBucket = 256L)
    // init: within-bucket neighbors across two independent plane sets
    // (identical vectors collide in every table; near vectors in most)
    val sig = (0 until 2).map { t =>
      ids.withColumn("bucket",
        hyperplaneSignature(col("embedding"), planes, dim, planeOffset = t * planes))
    }
    val initScored = sig.map { s =>
      s.as("a").join(s.as("b"), col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))
        .withColumn("sim", cosine(col("a.embedding"), col("b.embedding")))
        .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"), col("sim"))
    }.reduce(_.unionByName(_))
    // each iteration's graph is a PERSISTED narrow (id, id) table — n·k
    // rows; the previous iteration is released as soon as the next is
    // materialized (the final one backs the returned plan)
    var graph = topKAggTail(initScored, bk, "query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 1 to iters) {
      val edges = graph.select(col("query_id").as("a"), col("neighbor_id").as("b"))
      // undirected: explore through in-neighbors too (Dong et al.'s
      // reverse-neighbor trick — without it hub nodes never propagate)
      val und = edges.unionByName(
        edges.select(col("b").as("a"), col("a").as("b")))
      val twoHop = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("y.b").as("b"))
        .filter(col("a") =!= col("b"))
      val cand = und.unionByName(twoHop)
      val scored = cand
        .join(ids.select(col("id"), col("embedding").as("q_emb")), col("a") === col("id"))
        .drop("id")
        .join(ids.select(col("id"), col("embedding").as("c_emb")), col("b") === col("id"))
        .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
        .select(col("a").as("query_id"), col("b").as("neighbor_id"), col("sim"))
      val next = topKAggTail(scored, bk, "query_id", "neighbor_id")
        .select(col("query_id"), col("neighbor_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before releasing the previous iteration
      graph.unpersist(blocking = false)
      graph = next
    }
    // re-score the final edges so callers get (query, rank, neighbor, sim)
    // in the same shape as every other top-k tail
    val fin = graph
      .join(ids.select(col("id"), col("embedding").as("q_emb")), col("query_id") === col("id"))
      .drop("id")
      .join(ids.select(col("id"), col("embedding").as("c_emb")), col("neighbor_id") === col("id"))
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    // materialize the narrow result (it IS the product — n·k rows) with a
    // truncated lineage, then release the last iteration's cache: without
    // this the final graph would stay persisted for the session lifetime
    // with no handle to release it (the Race/Contest winner-cache problem,
    // but on a plain function with no close()). ContextCleaner frees the
    // checkpoint blocks when the returned Dataset is garbage-collected.
    val out = topKAggTail(fin, k, "query_id", "neighbor_id")
      .localCheckpoint(true)
    graph.unpersist(blocking = false)
    out
  }

  /** Query-time BEAM SEARCH over a built k-NN graph — the serving half of
    * the ANN-graph family (HNSW/NSG query phase, re-expressed as bounded
    * relational hops): [[knnGraphDescent]] builds the neighborhood graph
    * once; this entry point answers top-k queries against it with recall
    * that LSH/IVF bucketing alone can't reach at the same candidate
    * budget, because each hop follows exact-neighbor edges instead of
    * re-drawing hash buckets.
    *
    * Shape per query: ENTRY candidates from two independent hyperplane
    * tables (identical vectors collide in both — the planted-clone
    * certainty below), scored exactly in-join; then `hops` rounds of
    * frontier → out-edges expansion, each scored exactly and re-ranked by
    * the k-bounded [[graft.functions.Aggregators.TopKBySim]] aggregate to
    * the beam width. Everything that shuffles is NARROW (query, candidate,
    * sim) — embeddings enter only through the two equi-joins against the
    * corpus (the same fetch shape as the graph build; co-partition the
    * corpus by id once and every hop reuses it) and are dropped before
    * each ranking Exchange. Per-hop work is O(nq · beam · outdeg · dim) —
    * independent of corpus size, which is the point of serving from a
    * graph.
    *
    * Exact-duplicate certainty (the oracle hook, ql11's construction):
    * a corpus clone of a query vector shares the query's signature in
    * EVERY plane table, so it is an entry candidate at hop 0 with
    * sim ≈ 1.0 computed on identical bytes — it can never be evicted by
    * an organic candidate, independent of the graph content and of
    * `hops`. Organic recall uplift from the graph hops is spec-pinned
    * (`KnnGraphSpec`): beam search over the descent graph must reach at
    * least single-table LSH recall at an equal candidate budget.
    *
    * `graph` is any (query_id, neighbor_id) edge table —
    * [[knnGraphDescent]] output, [[knnGraphExact]] output, or a persisted
    * edge table read back from parquet (the production lifecycle: build
    * once, serve many).
    */
  def knnGraphSearch(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
                     k: Int, dim: Int,
                     queryIdCol: String = "query_id", idCol: String = "vec_id",
                     beam: Int = 0, hops: Int = 2,
                     entryPlanes: Int = 0,
                     corpusSize: Option[Long] = None,
                     excludeSelf: Boolean = true): DataFrame = {
    require(hops >= 0 && k >= 1, "need hops >= 0 and k >= 1")
    val bw = if (beam > 0) beam else math.max(2 * k, 16)
    val ids = corpus.select(col(idCol).as("id"), col("embedding"))
    val planes =
      if (entryPlanes > 0) entryPlanes
      else autoPlanes(math.max(corpusSize.getOrElse(ids.count()), 1L), targetBucket = 256L)
    val qs = queries.select(col(queryIdCol).as("q"), col("embedding").as("q_emb"))
    val edges = graph.select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    // entry: two plane tables (OR-amplified), queries broadcast into the
    // bucket join — the query set is the dimension side of graph serving
    val entryScored = (0 until 2).map { tbl =>
      val c = ids.withColumn("bucket",
        hyperplaneSignature(col("embedding"), planes, dim, planeOffset = tbl * planes))
      val q = broadcast(qs.withColumn("bucket",
        hyperplaneSignature(col("q_emb"), planes, dim, planeOffset = tbl * planes)))
      val entry = c.join(q, Seq("bucket"))
      // namespace switch (see lshCandidates): self-search excludes the
      // query's own id; cross-corpus search must not
      (if (excludeSelf) entry.filter(col("q") =!= col("id")) else entry)
        .withColumn("sim", cosine(col("q_emb"), col("embedding")))
        .select(col("q"), col("id").as("cand"), col("sim"))
    }.reduce(_.unionByName(_))
    // the frontier is tiny (nq · beam narrow rows) but feeds two branches
    // per hop — persist each round, release the previous one (the
    // knnGraphDescent iteration pattern)
    var frontier = topKAggTail(entryScored, bw, "q", "cand")
      .select(col("q"), col("cand"), col("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 1 to hops) {
      val expand0 = frontier.select(col("q"), col("cand"))
        .join(edges, col("cand") === col("src"))
        .select(col("q"), col("dst").as("cand"))
      // dedup BEFORE the embedding fetch: a candidate reached through
      // several frontier nodes must be fetched and scored once
      val expand = (if (excludeSelf) expand0.filter(col("q") =!= col("cand")) else expand0)
        .dropDuplicates("q", "cand")
      val scored = expand
        .join(ids.select(col("id"), col("embedding").as("c_emb")), col("cand") === col("id"))
        .drop("id")
        .join(broadcast(qs), Seq("q"))
        .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
        .select(col("q"), col("cand"), col("sim"))
      // kept candidates carry their already-exact sims; only the expansion
      // is scored. TopKBySim dedups re-encounters (identical sims) in-agg.
      val next = topKAggTail(frontier.unionByName(scored), bw, "q", "cand")
        .select(col("q"), col("cand"), col("sim"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count()
      frontier.unpersist(blocking = false)
      frontier = next
    }
    val out = topKAggTail(frontier, k, "q", "cand")
      .select(col("q").as(queryIdCol), col("rank"),
        col("cand").as("neighbor_id"), col("sim"))
      .localCheckpoint(true)
    frontier.unpersist(blocking = false)
    out
  }

  /** Persistable k-NN graph — the [[IvfIndex]] / `Dedup.BandIndex`
    * lifecycle applied to the most expensive artifact of the three: the
    * descent build is O(n·k²·dim) PER ITERATION, so a graph built once
    * must be servable by any number of later query jobs without
    * rebuilding. `edges` is the n·k narrow (query_id, rank, neighbor_id,
    * sim) table; the meta row pins the build parameters — `dim` feeds
    * [[Similarity.knnGraphSearch]] directly, (k, buildK, iters) travel so
    * an audit can tell which build produced the artifact.
    */
  final case class KnnGraph(edges: DataFrame, k: Int, buildK: Int,
                            iters: Int, dim: Int) {
    /** Two parquet tables under `path`: `edges` (distributed write — the
      * graph is corpus-sized) and a single-row `meta`.
      */
    def save(path: String): Unit = {
      edges.write.mode("overwrite").parquet(s"$path/edges")
      writeMeta(path)
    }

    /** Bucketed edge persistence: edges written bucketed+sorted on
      * `query_id` — the out-edge side of every [[knnGraphSearch]] hop
      * expansion (`frontier.cand === edges.src`) and of
      * [[KnnGraph.insert]]'s 2-hop reads then comes pre-partitioned, so
      * only the (small) frontier/batch side hashes. One write, every
      * serving job amortizes. Bucketing metadata lives in the catalog:
      * load via [[KnnGraph.loadBucketed]] with the same table name.
      */
    def saveBucketed(table: String, path: String, numBuckets: Int = 64): Unit = {
      graft.sources.Bucketing.writeBucketed(edges, table, s"$path/edges",
        bucketCols = Seq("query_id"), numBuckets = numBuckets,
        sortCols = Seq("query_id"))
      writeMeta(path)
    }

    private def writeMeta(path: String): Unit = {
      val spark = edges.sparkSession
      import spark.implicits._
      Seq((k, buildK, iters, dim)).toDF("k", "build_k", "iters", "dim")
        .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    }

    /** Serve top-k queries over this graph ([[Similarity.knnGraphSearch]]
      * with the stored `dim`) — identical for a just-built and a loaded
      * graph (spec-pinned in `KnnGraphSpec`).
      */
    def search(queries: DataFrame, corpus: DataFrame, topK: Int,
               queryIdCol: String = "query_id", idCol: String = "vec_id",
               beam: Int = 0, hops: Int = 2, entryPlanes: Int = 0,
               corpusSize: Option[Long] = None,
               excludeSelf: Boolean = true): DataFrame =
      knnGraphSearch(queries, corpus, edges, topK, dim, queryIdCol, idCol,
        beam, hops, entryPlanes, corpusSize, excludeSelf)

    /** INCREMENTAL graph maintenance — the batch-vs-index lifecycle
      * (`Dedup.BandIndex.minHashLshCandidatesAgainst`'s union contract)
      * for the graph artifact: a 100 TB graph built once must absorb an
      * arriving batch without the O(n·buildK²·dim)-per-iteration rebuild.
      * Cost is ∝ BATCH, not corpus: per refinement iteration the 2-hop
      * expansion joins the batch-sized affected edge set against the
      * corpus's NARROW n·k edge table (at fleet scale: keep `edges`
      * bucketed by id and the expansion join co-locates), and embeddings
      * enter only through equi-joins, scored in-join and dropped before
      * the k-bounded ranking shuffle — the [[knnGraphDescent]] shape
      * restricted to the nodes the batch can change.
      *
      * Three candidate seeds, all scored with exact cosine:
      *  1. PLACEMENT — each new doc beam-searched against the existing
      *     graph at the build degree (`buildK`): "where would this node
      *     live" (the HNSW-style insert descent, relationally).
      *  2. REVERSE placement — every placement edge flipped, so the old
      *     nodes a new doc landed next to become candidates to ADOPT it
      *     (without this, new docs are findable but never found FROM).
      *  3. BATCH-INTERNAL — LSH-bucket pairs among the new docs alone
      *     (a batch of near-identical crawl re-fetches must dedup
      *     against itself, not just the old corpus; identical vectors
      *     collide in every table — the planted-clone certainty).
      * Old nodes untouched by any seed keep their edges verbatim; the
      * affected set (new docs + reverse-placement targets) is refined by
      * `refineIters` NN-Descent rounds reading the full union graph for
      * 2-hop candidates, then re-cut to top-k.
      *
      * `corpus` is the ORIGINAL corpus this graph was built over (the
      * graph artifact stores no embeddings); `newDocs` must carry ids
      * disjoint from it and embeddings of the stored `dim`. Recall on
      * the union is spec-pinned within tolerance of a from-scratch
      * rebuild (`KnnGraphSpec`).
      */
    def insert(newDocs: DataFrame, corpus: DataFrame,
               idCol: String = "vec_id",
               refineIters: Int = 1, hops: Int = 2,
               entryPlanes: Int = 0,
               corpusSize: Option[Long] = None,
               batchSize: Option[Long] = None): KnnGraph = {
      require(refineIters >= 0, "need refineIters >= 0")
      val newIds = newDocs.select(col(idCol).as("id"), col("embedding"))
      // fail fast on the disjointness precondition (the topKAggTail
      // id-type convention): an overlapping id would place on itself at
      // sim 1.0, adopt itself, and duplicate embedding rows through the
      // refinement joins — silent graph corruption. limit(1) bounds the
      // probe: it short-circuits at the first collision.
      val overlap = newIds.select(col("id"))
        .join(corpus.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .limit(1).count()
      require(overlap == 0,
        s"KnnGraph.insert: batch ids must be disjoint from the corpus ('$idCol' overlaps)")
      val ids = corpus.select(col(idCol).as("id"), col("embedding"))
        .unionByName(newIds)
      // 1. placement: beam search the existing graph at the BUILD degree
      val placed = knnGraphSearch(
        newDocs.select(col(idCol).as("query_id"), col("embedding")),
        corpus, edges, buildK, dim, "query_id", idCol,
        beam = math.max(2 * buildK, 16), hops = hops,
        entryPlanes = entryPlanes, corpusSize = corpusSize,
        excludeSelf = false)
        .select(col("query_id").as("a"), col("neighbor_id").as("b"), col("sim"))
      // 2. reverse placement: candidate adoption edges for old nodes
      val reversed = placed.select(col("b").as("a"), col("a").as("b"), col("sim"))
      // 3. batch-internal: bucket pairs among the new docs (plane count
      // sized to the BATCH — the union's plane count would overshatter a
      // small batch into singleton buckets and starve seeds 3 of pairs)
      val bPlanes =
        if (entryPlanes > 0) entryPlanes
        else autoPlanes(math.max(batchSize.getOrElse(newIds.count()), 1L),
          targetBucket = 256L)
      val batchScored = (0 until 2).map { t =>
        val s = newIds.withColumn("bucket",
          hyperplaneSignature(col("embedding"), bPlanes, dim, planeOffset = t * bPlanes))
        s.as("a").join(s.as("b"), col("a.bucket") === col("b.bucket") &&
            col("a.id") =!= col("b.id"))
          .withColumn("sim", cosine(col("a.embedding"), col("b.embedding")))
          .select(col("a.id").as("a"), col("b.id").as("b"), col("sim"))
      }.reduce(_.unionByName(_))
      // affected old nodes enter refinement with their CURRENT edges (the
      // descent seed the verdict asks for — no re-derivation from LSH)
      val affectedOld = reversed.select(col("a").as("id")).distinct()
      val oldSeed = edges.join(affectedOld, col("query_id") === col("id"))
        .select(col("query_id").as("a"), col("neighbor_id").as("b"), col("sim"))
      val seed = placed.unionByName(batchScored).unionByName(reversed)
        .unionByName(oldSeed)
      val oldEdges = edges.select(col("query_id").as("a"), col("neighbor_id").as("b"))
      var aff = topKAggTail(seed, buildK, "a", "b")
        .select(col("a"), col("b"), col("sim"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      for (_ <- 1 to refineIters) {
        val affEdges = aff.select(col("a"), col("b"))
        // 2-hop candidates through the union graph (old + in-progress),
        // undirected (the descent's reverse-neighbor trick)
        val nbr = oldEdges.unionByName(affEdges)
        val und = nbr.unionByName(nbr.select(col("b").as("a"), col("a").as("b")))
        val twoHop = affEdges.as("x").join(und.as("y"), col("x.b") === col("y.a"))
          .select(col("x.a").as("a"), col("y.b").as("b"))
          .filter(col("a") =!= col("b"))
        val cand = affEdges.unionByName(twoHop).dropDuplicates("a", "b")
        val scored = cand
          .join(ids.select(col("id"), col("embedding").as("q_emb")), col("a") === col("id"))
          .drop("id")
          .join(ids.select(col("id"), col("embedding").as("c_emb")), col("b") === col("id"))
          .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
          .select(col("a"), col("b"), col("sim"))
        val next = topKAggTail(scored, buildK, "a", "b")
          .select(col("a"), col("b"), col("sim"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        aff.unpersist(blocking = false)
        aff = next
      }
      val affQ = aff.select(col("a").as("id")).distinct()
      val keptOld = edges.join(affQ, col("query_id") === col("id"), "left_anti")
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      val affTop = topKAggTail(aff, k, "a", "b")
        .select(col("a").as("query_id"), col("rank"),
          col("b").as("neighbor_id"), col("sim"))
      val out = keptOld.unionByName(affTop).localCheckpoint(true)
      aff.unpersist(blocking = false)
      KnnGraph(out, k, buildK, iters, dim)
    }
  }

  object KnnGraph {
    /** Build via [[knnGraphDescent]] and capture the parameters the
      * artifact must carry (the resolved build degree included).
      */
    def build(corpus: DataFrame, k: Int, dim: Int, idCol: String = "vec_id",
              iters: Int = 2, initPlanes: Int = 0, buildK: Int = 0,
              corpusSize: Option[Long] = None): KnnGraph = {
      val bk = if (buildK > 0) buildK else math.max(4 * k, 16)
      KnnGraph(knnGraphDescent(corpus, k, dim, idCol, iters, initPlanes, bk,
        corpusSize), k, bk, iters, dim)
    }

    /** Restore a graph persisted by [[KnnGraph.save]]. */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): KnnGraph =
      fromMeta(spark, path, spark.read.parquet(s"$path/edges"))

    /** Restore a graph persisted by [[KnnGraph#saveBucketed]] — edges
      * come back through the catalog with their bucketing intact. In a
      * fresh application (the in-memory catalog died with the writer's
      * app) the table is re-registered from the `_bucketspec` sidecar
      * ([[graft.sources.Bucketing.readBucketedOrRegister]]).
      */
    def loadBucketed(spark: org.apache.spark.sql.SparkSession,
                     table: String, path: String): KnnGraph =
      fromMeta(spark, path, graft.sources.Bucketing.readBucketedOrRegister(
        spark, table, s"$path/edges"))

    private def fromMeta(spark: org.apache.spark.sql.SparkSession,
                         path: String, edges: DataFrame): KnnGraph = {
      val m = spark.read.parquet(s"$path/meta").collect() // 1 row by contract
      require(m.length == 1, s"expected exactly one meta row at $path/meta, got ${m.length}")
      KnnGraph(edges,
        m(0).getAs[Int]("k"), m(0).getAs[Int]("build_k"),
        m(0).getAs[Int]("iters"), m(0).getAs[Int]("dim"))
    }
  }

  /** IVF-bucketed near-dup pairs — the CORPUS-GROWTH-SAFE path of the
    * near-dup family. The hyperplane form above buckets into a FIXED
    * 2^planes cells, so per-bucket membership (and the within-bucket
    * pair count) grows with the corpus — the measured super-linear case
    * in `BASELINE.md` (ql14 at 10×) unless `planes` is re-tuned per run.
    * Here the cell count is the trained `index.k`, chosen ∝ corpus size
    * (k ≈ n / target_bucket), so per-bucket pairs stay bounded as the
    * corpus grows with NO parameter re-tuning of the operator itself.
    *
    * Recall comes from MULTI-ASSIGNMENT (`nprobe` ≥ 2): each vector joins
    * its `nprobe` nearest cells — the IVF analog of multi-table OR
    * -amplification; a true near-dup pair (cosine ≥ threshold) has nearly
    * parallel vectors whose probe sets overlap with high probability.
    * Candidates are scored exactly in-join (fused expression) and
    * thresholded BEFORE the narrow (doc_a, doc_b, sim) dedup, mirroring
    * [[cosineNearDupPairs]]: re-encounters in overlapping cells carry an
    * identical sim, so dedup-after-score is exact and no embedding rides
    * the dedup Exchange.
    */
  /** Per-group MEAN EMBEDDING (centroid pooling): chunk→document pooling
    * (one vector per doc from its chunk vectors), cluster centroids over
    * an assignment column, class prototypes for prototype-based data
    * curation. Returns (group, n_vectors, centroid ARRAY<DOUBLE>).
    *
    * Determinism: per-component sums run in DECIMAL(28,12) (float32
    * inputs cast exactly except ties at the 12th decimal — a float's
    * finite binary expansion virtually never lands there), so the
    * distributed partial-sum ORDER cannot change the result and the mean
    * (one IEEE double division per component at the end) hash-matches
    * the Q-L58 oracle. 16 integer digits of headroom ⇒ safe past 1e15
    * vectors per group.
    *
    * Scale shape: posexplode to (group, pos, v) rides the scan; ONE
    * partial+final agg on (group, pos) — dim rows per group in the
    * Exchange, embeddings themselves never shuffle whole; the final
    * per-group assembly carries dim narrow rows. NULL/empty embeddings
    * contribute nothing (posexplode drops them).
    */
  def meanEmbedding(df: DataFrame, groupCol: String,
                    embCol: String = "embedding"): DataFrame = {
    val comps = df.select(col(groupCol).as("_g"),
      posexplode(col(embCol)).as(Seq("_pos", "_v")))
    val sums = comps.groupBy(col("_g"), col("_pos"))
      .agg(sum(col("_v").cast("decimal(28,12)")).as("_s"),
        count(lit(1)).as("_n"))
    // ragged-dimension guard (ADVICE r11): mixed embedding lengths within
    // a group give every position a different denominator — a
    // plausible-looking but ill-defined centroid. Vectors are contiguous
    // prefixes of positions, so ANY length mix makes per-position counts
    // unequal; min(_n) == max(_n) is therefore a complete detector, and it
    // rides the existing final aggregate at zero extra shuffle. raise_error
    // fires lazily at execution (the loud-error discipline — scoring a
    // malformed group as a plausible number is the failure mode this
    // operator exists to avoid).
    // the guard rides BOTH output columns: anchored only to n_vectors,
    // column pruning of n_vectors (select(groupCol, "centroid")) deleted
    // the raise_error and re-enabled silent ill-defined centroids
    // (ADVICE r13) — a malformed group must error no matter which output
    // the caller keeps
    def raggedGuard(castTo: String) =
      when(min(col("_n")) =!= max(col("_n")),
        raise_error(concat(lit("meanEmbedding: ragged embedding dimensions in group "),
          col("_g").cast("string"))).cast(castTo))
    sums.groupBy(col("_g"))
      .agg(
        raggedGuard("long").otherwise(max(col("_n"))).as("n_vectors"),
        raggedGuard("array<double>").otherwise(transform(
          array_sort(collect_list(struct(col("_pos"),
            (col("_s").cast("double") / col("_n")).as("_m")))),
          x => x("_m"))).as("centroid"))
      .select(col("_g").as(groupCol), col("n_vectors"), col("centroid"))
  }

  def ivfNearDupPairs(df: DataFrame, idCol: String, index: IvfIndex,
                      threshold: Double, nprobe: Int = 2,
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(nprobe >= 1 && nprobe <= index.k,
      s"nprobe must be in [1, ${index.k}], got $nprobe")
    // maxBucketSize: the capTableBuckets contract on the IVF cell key —
    // cells ∝ corpus bound ORGANIC occupancy, but identical vectors
    // (failed encodes, defaults) all share one nearest centroid at any
    // k, so the within-cell self-join goes quadratic in them exactly
    // like a saturated hyperplane bucket. First-cap ids per probed cell.
    val assigned = capTableBuckets(
      df.select(col(idCol).as("id"), col("embedding"))
        .withColumn("bucket", explode(index.probes(col("embedding"), nprobe))),
      maxBucketSize, "ivfNearDupPairs")
    val a = assigned.as("a")
    val b = assigned.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("sim", cosine(col("a.embedding"), col("b.embedding")))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"), col("sim"))
      .dropDuplicates("doc_a", "doc_b")
  }
}
