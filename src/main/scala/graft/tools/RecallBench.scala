package graft.tools

import org.apache.spark.sql.functions._

/** NN-Descent recall at 10× (VERDICT r7 #7): the graph build's quality
  * claim ("2–3 iterations reach ~0.9 recall@k") is spec-pinned at test
  * scale (`KnnGraphSpec`); this harness measures it on the ScaleBench
  * 10× corpus, where each copy carries FRESH pseudo-random vectors (no
  * clone pathology — organic recall is the hard case).
  *
  * Method: build the descent graph over the full 10× corpus, take a
  * deterministic hash-ordered sample of query nodes, compute their EXACT
  * top-k by bounded brute force (sample × corpus — the sample bound keeps
  * the cartesian at |S|·n, not n²), and report mean
  * |descent(q) ∩ exact(q)| / k per iteration count.
  *
  * Usage: runMain graft.tools.RecallBench [baseDir] [outDir] [copies]
  *   [sampleN] [k] [maxIters]
  * Prints one JSON line with recall@k for iters = 0..maxIters.
  */
object RecallBench {

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale10x"
    val copies = if (args.length > 2) args(2).toInt else 10
    val sampleN = if (args.length > 3) args(3).toInt else 200
    val k = if (args.length > 4) args(4).toInt else 10
    val maxIters = if (args.length > 5) args(5).toInt else 2
    val buildK = if (args.length > 6) args(6).toInt else 0 // 0 = operator default

    val spark = graft.GraftSession.local(graft.GraftSession.cpus())

    if (!new java.io.File(s"$out/_DONE").exists())
      ScaleBench.generate(spark, base, out, copies)

    val corpus = spark.read.parquet(s"$out/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()

    // deterministic sample: hash order is stable across runs/partitionings
    val sample = corpus.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleN)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sample.count()

    val exact = graft.llm.Similarity
      .bruteForceTopKAgg(sample, corpus, k, corpusId = "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    val rows = (0 to maxIters).map { iters =>
      val t0 = System.nanoTime()
      val g = graft.llm.Similarity.knnGraphDescent(corpus, k, dim = 64,
        iters = iters, buildK = buildK)
      val approx = g.join(broadcast(sample.select(col("query_id"))), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"))
        .collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = exact.toSeq.map { case (q, ex) =>
        approx.getOrElse(q, Set.empty[Long]).intersect(ex).size.toDouble / ex.size
      }
      (iters, recall.sum / recall.size, sec)
    }
    val json = rows.map { case (i, r, s) =>
      f""""iters_$i":{"recall_at_$k":$r%.4f,"build_sec":$s%.1f}"""
    }.mkString("{", ",", s""","n":$n,"sample":$sampleN,"k":$k,"copies":$copies}""")
    println(json)
    spark.stop()
  }
}
