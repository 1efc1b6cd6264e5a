package graft.tools

import org.apache.spark.sql.functions._

/** Measured evidence for the streaming twins' bounded-state contract
  * (VERDICT r15 #2): replay the sf0.1 corpus — and a 10× VERBATIM copy of
  * it — through `Stateful.minHashLshCandidatePairsStream`, with and
  * without `maxBucketSize`, and record what the RocksDB state store and
  * the pair emission actually did.
  *
  * VERBATIM copies on purpose (the opposite of ScaleBench's salted
  * corpus): identical text means identical signatures means the SAME
  * (band, bh) bucket keys across copies — the hot-bucket pathology the
  * cap exists to defend against. Salting would measure a corpus where
  * every bucket stays near-singleton and the cap never binds; verbatim
  * duplication drives every bucket to `copies` members, so
  *  - UNCAPPED: per-bucket membership grows `copies`× and pair emission
  *    grows ~`copies²`× — the quadratic blowup;
  *  - CAPPED at C < copies: membership (state rows) is bounded at C per
  *    bucket and pair emission at C(C−1)/2 per bucket.
  * Recall accounting (the spec-pinned prefix contract): a capped bucket
  * emits exactly its first-C-arrivals pairs, so each duplicate cluster
  * keeps its first C members connected and later re-deliveries are the
  * df-cut loss — both pair totals are printed so the trade is in the
  * artifact.
  *
  * Metrics per run: total emitted pairs, max state rows
  * (`stateOperators.numRowsTotal`), state bytes
  * (`stateOperators.stateMemory` / RocksDB SST size), max and mean
  * trigger latency, wall seconds. Both corpora are rewritten through the
  * same Spark writer into equal file counts, and `maxFilesPerTrigger`
  * is sized for ~10 micro-batches each, so trigger structure is
  * comparable and the measurement is data scaling, not file layout.
  *
  * Usage: runMain graft.tools.StreamStateBench [baseDir] [workDir] [copies] [cap]
  * Prints one JSON line.
  */
object StreamStateBench {
  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft_streamstate"
    val copies = if (args.length > 2) args(2).toInt else 10
    val cap = if (args.length > 3) args(3).toInt else 4
    val filesPerCopy = 32
    val spark = graft.GraftSession.local(graft.GraftSession.cpus())
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    // corpora: 1x rewritten (equal file layout), Nx verbatim (id shift only)
    val docs = graft.sources.Tables.load(spark, base, "documents")
      .select(col("doc_id"), col("text"))
    val K = 1000000000L
    def gen(dir: String, n: Int): Unit =
      if (!new java.io.File(s"$dir/_DONE").exists()) {
        (0 until n).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * K)))
          .reduce(_ unionByName _)
          .repartition(n * filesPerCopy)
          .write.mode("overwrite").parquet(s"$dir/documents")
        new java.io.File(s"$dir/_DONE").createNewFile()
      }
    val dir1x = s"$work-1x"
    val dirNx = s"$work-${copies}x"
    gen(dir1x, 1)
    gen(dirNx, copies)

    def run(dir: String, nCopies: Int, bucketCap: Int): Map[String, Double] = {
      val ckpt = java.nio.file.Files.createTempDirectory("ssb_ckpt").toString
      val pairs = new java.util.concurrent.atomic.AtomicLong()
      val src = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", math.max(1, nCopies * filesPerCopy / 10))
        .parquet(s"$dir/documents")
        .as[(Long, String)]
      val out = graft.streaming.Stateful.minHashLshCandidatePairsStream(
        src, maxBucketSize = bucketCap)
      val t0 = System.nanoTime()
      val q = out.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
          pairs.addAndGet(batch.count()): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val stateRows = progs.map(_.stateOperators.head.numRowsTotal).max
      val stateBytes = progs.map(_.stateOperators.head.memoryUsedBytes).max
      val triggerMs = progs.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.longValue()))
      Map(
        "pairs" -> pairs.get().toDouble,
        "state_rows" -> stateRows.toDouble,
        "state_bytes" -> stateBytes.toDouble,
        "triggers" -> progs.length.toDouble,
        "max_trigger_ms" -> triggerMs.max.toDouble,
        "mean_trigger_ms" -> triggerMs.sum.toDouble / triggerMs.length,
        "wall_sec" -> wall)
    }

    val loadStart = graft.Bench.loadavg()

    // warm the plan shape once (codegen/classloading), untimed
    run(dir1x, 1, Int.MaxValue)

    val grid = Seq(
      ("r1x_uncapped", dir1x, 1, Int.MaxValue),
      (s"r1x_cap$cap", dir1x, 1, cap),
      (s"r${copies}x_uncapped", dirNx, copies, Int.MaxValue),
      (s"r${copies}x_cap$cap", dirNx, copies, cap))
    val rows = grid.map { case (name, dir, n, c) => name -> run(dir, n, c) }
    val json = rows.map { case (name, m) =>
      val fields = m.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")
      s""""$name":{$fields}"""
    }.mkString("{", ",",
      s""","copies":$copies,"cap":$cap,"loadavg_start":"$loadStart","loadavg_end":"${graft.Bench.loadavg()}"}""")
    println(json)
    spark.stop()
  }
}
