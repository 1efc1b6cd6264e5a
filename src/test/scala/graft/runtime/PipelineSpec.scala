package graft.runtime

import graft.SparkSpec
import graft.core._
import graft.combinators.{Filter, Sequence}
import graft.stages.{Apply, Transform}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq((1, "5"), (2, "x"), (3, "7")).toDF("id", "raw")

  private def parsePipe = Pipeline("numbers", Sequence("seq")(
    Apply("parse", errWhen = expr("try_cast(raw AS INT)").isNull, msg = "not a number")(
      "n" -> expr("try_cast(raw AS INT)")),
    Transform("double")("n" -> (col("n") * 2))
  ))

  test("failFast surfaces the dead-letter path as a typed exception (apply.go:44-55)") {
    val e = intercept[PipelineException](parsePipe.failFast(df))
    assert(e.path == "seq -> parse")
    assert(e.msg == "not a number")
    assert(e.getMessage == "numbers -> seq -> parse failed: not a number")
  }

  test("failFast tags timeout dead letters in the exception message") {
    val timedOut = ErrorChannel.markWhere(df, StageId("deadline"),
      col("id") === 2, lit("too slow"), timeout = true)
    val p = Pipeline("t", Stage.identity("id"))
    val e = intercept[PipelineException](p.failFast(timedOut))
    assert(e.getMessage.endsWith("too slow [timeout]"))
  }

  test("failFast returns healthy rows when nothing is dead") {
    val clean = Seq((1, "5"), (2, "6")).toDF("id", "raw")
    val out = parsePipe.failFast(clean)
    assert(rowsOf(out.select("id", "n")) == Set(Seq(1, 10), Seq(2, 12)))
  }

  test("run stamps the job group and emits lifecycle signals") {
    SignalBus.global.clear()
    val p = parsePipe
    val n = p.run(spark)(ErrorChannel.good(p.plan(df)).count())
    assert(n == 2)
    assert(SignalBus.global.emitted(Signals.PipelineStarted).size == 1)
    assert(SignalBus.global.emitted(Signals.PipelineCompleted).size == 1)
  }

  test("planJson exports the stage tree") {
    val json = parsePipe.planJson
    assert(json.contains("\"kind\":\"Pipeline\""))
    assert(json.contains("\"name\":\"parse\""))
  }

  // --- input spread: a one-row-group batch must not run on one core ---

  private def parquet(tag: String)(write: String => Unit): String = {
    val path = java.nio.file.Files.createTempDirectory(tag).toString + "/in"
    write(path)
    path
  }

  private def events = spark.range(0, 4000, 1, 4).select(col("id"),
    when(col("id") % 50 === 0, lit("""{"j":1}"""))
      .otherwise(to_json(struct(col("id").as("k")))).as("props"))

  /** One parquet file, one row group: a single split. */
  private lazy val oneFile = parquet("spread_one")(events.coalesce(1).write.parquet(_))
  /** One file per core: already as many splits as `defaultParallelism`. */
  private lazy val fourFiles = parquet("spread_four")(events.write.parquet(_))

  private def spreadPipe(bus: SignalBus) = {
    val k = get_json_object(col("props"), "$.k")
    new Pipeline(StageId("spread"), Sequence("etl")(
      Apply("parse", k.isNull, "props has no k")("k" -> k.cast("int")),
      Filter("big", col("k") > 3000, Transform("flag")("big" -> lit(true)))), bus)
  }

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    """(?m)^[\s+:*-]*Exchange """.r.findAllIn(df.queryExecution.executedPlan.toString).size

  /** Row counts of the Filter's first observed action on `bus`. */
  private def filterCounts(bus: SignalBus)(action: => Unit): Map[String, String] = {
    bus.clear()
    action
    val deadline = System.currentTimeMillis + 10000
    def rows = bus.emitted(Signals.FilterPassed).filter(_.fields.get("phase").contains("rows"))
    while (System.currentTimeMillis < deadline && rows.isEmpty) Thread.sleep(100)
    rows.map(_.fields.filter(_._1.startsWith("rows_"))).headOption.getOrElse(Map.empty)
  }

  private val MinPartition = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Run `body` with AQE's minimum partition size, the spread's floor, set. */
  private def withMinPartition[A](bytes: Long)(body: => A): A = {
    val prev = spark.conf.get(MinPartition)
    spark.conf.set(MinPartition, bytes.toString)
    try body finally spark.conf.set(MinPartition, prev)
  }

  test("plan spreads a single-split file input over every core with the same results") {
    val spreadBus = new SignalBus(logCapacity = 64)
    val directBus = new SignalBus(logCapacity = 64)
    val p = spreadPipe(spreadBus)
    val in = spark.read.parquet(oneFile)
    assert(in.rdd.getNumPartitions == 1)
    // the test file is a few KB: a one-byte floor lets it spread
    val spread = withMinPartition(1)(p.plan(in))
    val direct = RowSignals.scoped(directBus)(p.root(in))
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(direct.rdd.getNumPartitions == 1)

    RowSignals.attach(spark, directBus)
    try {
      val spreadCounts = filterCounts(spreadBus)(
        p.run(spark)(spread.write.format("noop").mode("overwrite").save()))
      val directCounts = filterCounts(directBus)(
        direct.write.format("noop").mode("overwrite").save())
      assert(spreadCounts.nonEmpty && spreadCounts == directCounts)
    } finally {
      p.detachRowSignals(spark)
      RowSignals.detach(spark, directBus)
    }
    val good = rowsOf(ErrorChannel.good(spread))
    assert(good.size == 4000 - 80)
    assert(good == rowsOf(ErrorChannel.good(direct)))
    def deadLetters(df: org.apache.spark.sql.DataFrame) =
      rowsOf(ErrorChannel.dead(df).select(col("id"), col("_err.path"), col("_err.msg")))
    assert(deadLetters(spread).size == 80)
    assert(deadLetters(spread) == deadLetters(direct))
    assert(deadLetters(spread).forall(_(1).asInstanceOf[scala.collection.Seq[String]].last == "parse"))
  }

  test("plan leaves inputs with enough splits, an exchange or no file scan as they are") {
    val p = spreadPipe(new SignalBus(logCapacity = 64))
    val inputs = Seq(
      "four splits" -> spark.read.parquet(fourFiles),
      "an exchange" -> spark.read.parquet(oneFile).repartition(2),
      "no file scan" -> events.coalesce(1))
    // a one-byte floor: only the plan's shape keeps these inputs as they are
    for ((what, in) <- inputs) withMinPartition(1) {
      assert(Pipeline.spread(in) eq in, what)
      assert(exchanges(p.plan(in)) == exchanges(p.root(in)), what)
    }
    assert(withMinPartition(1)(exchanges(p.plan(spark.read.parquet(oneFile)))) ==
      exchanges(p.root(spark.read.parquet(oneFile))) + 1)
  }

  test("plan spreads no input smaller than AQE's minimum partition size") {
    val in = spark.read.parquet(oneFile)
    val bytes = new java.io.File(oneFile).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(bytes > 0 && bytes < (1L << 20)) // below the 1 MB default
    assert(Pipeline.spread(in) eq in)
    withMinPartition(bytes + 1)(assert(Pipeline.spread(in) eq in))
    withMinPartition(bytes)(assert(Pipeline.spread(in).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism))
  }

  test("run materializes the shared input of a joining Concurrent reducer before its actions") {
    import graft.combinators.Concurrent
    val p = Pipeline("fan", Concurrent.reduced("scores", (_, outs) =>
      outs(0).join(outs(1).select(col("id"), col("b")), Seq("id")))(
      Transform("a")("a" -> col("id") * 2),
      Transform("b")("b" -> (col("id") + 1))))
    // cached partitions per RDD cached since `before`, so caches other
    // specs are still releasing do not count
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    def cached = spark.sparkContext.getRDDStorageInfo
      .filter(i => i.numCachedPartitions > 0 && !before(i.id)).map(_.numCachedPartitions).toSeq
    try {
      val out = p.plan(spark.range(0, 1000, 1, 4).toDF())
      assert(cached.isEmpty, "plan runs no job")
      val (atStart, n) = p.run(spark)((cached, out.count()))
      assert(atStart == Seq(4), "the shared input is cached before the body's first action")
      assert(n == 1000)
    } finally p.close()
  }
}
