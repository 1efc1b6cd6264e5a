package graft.runtime

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** C16 Pipeline — semantic wrapper + runner (`pipeline.go:33-100`): gives
  * the stage graph a stable pipeline UUID and stamps each run with a fresh
  * execution UUID via the Spark job group, so listener events / the Spark UI
  * correlate to (pipeline, run) exactly as the reference correlates signals
  * via context values (`pipeline.go:52-56`).
  */
final class Pipeline(val id: StageId, val root: Stage, val bus: SignalBus = SignalBus.global) {
  val pipelineUuid: java.util.UUID = id.uuid

  /** Lazily compose the plan (no action). Composition runs inside this
    * pipeline's [[RowSignals.scoped]] scope, so routing stages attach
    * row-count observations tagged with THIS bus — and stages composed
    * outside any pipeline attach none (no CollectMetrics barrier in plain
    * plans; see RowSignals for why that matters for pushdown).
    *
    * The input is first spread over the session by [[Pipeline.spread]]
    * when it is a narrow plan over file scans with fewer splits than
    * `defaultParallelism` and at least one AQE minimum partition (1 MB by
    * default) of files. Spark cannot split a parquet row group, so a
    * batch written as one row group otherwise runs every stage of the
    * pipeline as a single task on one core. Any other input keeps its plan.
    * The shared inputs of joining `Concurrent` reducers composed here are
    * kept for [[run]] to materialize.
    */
  def plan(df: DataFrame): DataFrame =
    graft.combinators.Fanout.collectReduced(unmaterialized) {
      RowSignals.scoped(bus)(root(Pipeline.spread(df)))
    }

  /** Shared inputs of `Concurrent` reducers composed by [[plan]] and not
    * yet materialized by [[run]].
    */
  private val unmaterialized = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def planTree: PlanNode = PlanNode("Pipeline", id, Seq(root.plan))
  def planJson: String = planTree.toJson

  /** Run an action under this pipeline's job group with a per-run UUID.
    *
    * Before `body`, the run materializes, one job each, the shared input
    * of every `Concurrent` reducer that [[plan]] composed and that joins
    * its branches. Such a join is a self-join of the shared cache. Planned
    * before the cache exists, AQE sizes both sides from the cache's
    * estimate and re-plans as soon as the first of the two cache stages
    * finishes, so which side it broadcasts depends on which stage reports
    * first: on the etl_events benchmark it broadcast the 100,000-row wide
    * side (a 16.8 MB hash relation, left in the block manager until a
    * garbage collection lets Spark's cleaner drop it) in about a third of
    * the batches. Materialized, the cache has its real size, and every
    * action of the run plans the join the same way.
    */
  def run[A](spark: SparkSession)(body: => A): A = {
    val runUuid = java.util.UUID.randomUUID()
    val sc = spark.sparkContext
    sc.setJobGroup(s"$pipelineUuid/$runUuid", id.name, interruptOnCancel = true)
    RowSignals.attach(spark, bus) // row-level routing signals (idempotent)
    bus.emit(Signals.PipelineStarted, id, "run" -> runUuid.toString)
    val t0 = System.nanoTime()
    try {
      var shared = unmaterialized.poll()
      while (shared != null) { shared.count(); shared = unmaterialized.poll() }
      val a = body
      bus.emit(Signals.PipelineCompleted, id,
        "run" -> runUuid.toString,
        "nanos" -> (System.nanoTime() - t0).toString)
      a
    } catch {
      case t: Throwable =>
        bus.emit(Signals.PipelineFailed, id, "run" -> runUuid.toString, "error" -> String.valueOf(t.getMessage))
        throw t
    } finally sc.clearJobGroup()
  }

  /** Fail-fast gate (`apply.go:44-55` analog, `SURVEY.md §7.4.2`): checked
    * ONCE per action rather than per stage so laziness survives. Returns the
    * healthy rows; throws if any dead letters exist.
    */
  def failFast(df: DataFrame): DataFrame = {
    val out = plan(df)
    if (!ErrorChannel.hasChannel(out)) out
    else {
      val firstDead = ErrorChannel.dead(out)
        .select(col(s"${ErrorChannel.ColName}.path"), col(s"${ErrorChannel.ColName}.msg"),
          col(s"${ErrorChannel.ColName}.timeout"), col(s"${ErrorChannel.ColName}.canceled"))
        .head(1)
      firstDead.headOption.foreach { row =>
        val path = row.getSeq[String](0).mkString(" -> ")
        val kind =
          if (!row.isNullAt(2) && row.getBoolean(2)) " [timeout]"
          else if (!row.isNullAt(3) && row.getBoolean(3)) " [canceled]"
          else ""
        throw new PipelineException(id, path, String.valueOf(row.getString(1)) + kind)
      }
      ErrorChannel.good(out)
    }
  }

  def close(): Unit = { unmaterialized.clear(); root.close() }

  /** Release the row-signal bridge registered by [[run]] for this
    * pipeline's bus — the teardown for per-pipeline buses on a long-lived
    * session (no-op if never run). Separate from [[close]] because
    * several pipelines may legitimately share one bus.
    */
  def detachRowSignals(spark: SparkSession): Unit = RowSignals.detach(spark, bus)
}

/** Job-level failure carrying the stage path — the `Error[T]` message shape
  * (`error.go:31-52`): "pipeline -> stage failed: msg".
  */
final class PipelineException(val pipeline: StageId, val path: String, val msg: String)
    extends RuntimeException(s"${pipeline.name} -> $path failed: $msg")

object Pipeline {
  def apply(name: String, root: Stage): Pipeline = new Pipeline(StageId(name), root)

  /** `df` repartitioned round-robin to `defaultParallelism` when it is a
    * narrow plan (no exchange) whose leaves are all file scans yielding
    * fewer splits in total than that and holding at least
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
    * default) of files; otherwise `df` itself. A smaller input is less
    * than one partition by AQE's own measure and does not repay the
    * shuffle: on `local[4]` the etl_events pipeline over a one-file batch
    * of 14 KB took 12% longer spread, while one of 90 KB broke even. The
    * by-number repartition is deliberate: AQE never coalesces it, while
    * a rebalance would be coalesced straight back to one partition. Its
    * single exchange moves the input once. An input with enough splits,
    * an exchange, or a non-file leaf (a cache, a local relation, a
    * stream) is never touched, so nothing changes for large inputs.
    */
  private[runtime] def spread(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val width = df.sparkSession.sparkContext.defaultParallelism
      val plan = df.queryExecution.executedPlan
      val leaves = plan.collectLeaves()
      val scans = leaves.collect { case s: FileSourceScanExec => s }
      val narrow = scans.nonEmpty && scans.size == leaves.size &&
        !plan.exists(_.isInstanceOf[Exchange])
      def big = scans.map(_.selectedPartitions.totalFileSize).sum >=
        df.sparkSession.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      // every non-empty file is at least one split: count splits only
      // when there are fewer files than cores
      def fewSplits = scans.map(_.selectedPartitions.totalNumberOfFiles).sum < width &&
        scans.map(_.inputRDD.getNumPartitions).sum < width
      if (narrow && big && fewSplits) df.repartition(width) else df
    }
}
