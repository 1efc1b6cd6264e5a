package graft.runtime

import graft.core.{Signal, SignalBus, StageId}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side observability bridge (`SURVEY.md §1.1` Signals row): query
  * completions/failures surface on the engine's SignalBus with the same
  * event-name discipline as the reference's capitan signals, correlated to
  * the pipeline via the job group set by [[Pipeline.run]].
  */
object Listeners {
  val QueryCompleted = "query.completed"
  val QueryFailed = "query.failed"

  /** Every node of a physical plan with its depth, in pre-order. AQE
    * wraps the final plan in leaf nodes (`AdaptiveSparkPlanExec`,
    * `QueryStageExec`, `ReusedExchangeExec`) that `TreeNode.foreach` will
    * not enter; this walk enters them. Each node appears once: a reused
    * exchange (or AQE stage reuse) points at a subtree that is ALSO
    * reachable at its original position, and walking it twice would
    * double-count its metrics.
    */
  def planNodes(plan: SparkPlan): Seq[(Int, SparkPlan)] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = Seq.newBuilder[(Int, SparkPlan)]
    def walk(p: SparkPlan, depth: Int): Unit = if (seen.add(p)) {
      out += depth -> p
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case _                        => Nil
      }
      (inner ++ p.children).foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    out.result()
  }

  /** Sum a named SQL metric over the executed plan tree — shuffle volume
    * and row counts per completed query, the numbers a capacity planner
    * actually watches (a query whose shuffle bytes jump 10× between
    * releases regressed its plan, whatever the wall-clock says).
    */
  private def planMetric(qe: QueryExecution, names: Set[String]): Long =
    planNodes(qe.executedPlan).iterator
      .flatMap(_._2.metrics.collect { case (k, m) if names.contains(k) => m.value }).sum

  /** Attach a QueryExecutionListener forwarding to `bus`. Returns the
    * listener so callers can detach it (`spark.listenerManager.unregister`).
    */
  def attach(spark: SparkSession, bus: SignalBus = SignalBus.global): QueryExecutionListener = {
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        bus.emit(Signal(QueryCompleted, StageId(funcName), Map(
          "durationNs" -> durationNs.toString,
          "jobGroup" -> String.valueOf(qe.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id")),
          "shuffleBytesWritten" -> planMetric(qe, Set("shuffleBytesWritten", "bytesWritten")).toString,
          "shuffleRecordsWritten" -> planMetric(qe, Set("shuffleRecordsWritten", "recordsWritten")).toString,
          "outputRows" -> planMetric(qe, Set("numOutputRows")).toString
        )))
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
        bus.emit(Signal(QueryFailed, StageId(funcName), Map(
          "error" -> String.valueOf(error.getMessage).take(256)
        ), severity = Signal.Error))
    }
    spark.listenerManager.register(l)
    l
  }
}
