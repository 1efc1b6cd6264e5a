package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.runtime.Listeners
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a registry query's time goes, action by action and operator by
  * operator.
  *
  * Per query: warm its plan shape on the sibling `sf0.001` directory of
  * `sfDir` (codegen and classloading are per-shape one-time costs), then
  * run it `samples` times (default 3) into the noop sink. Each run prints
  * its wall time and, for every action it ran (a composite query runs
  * several: persist cuts, fixpoint counts, checkpoints, the final write),
  * the action's duration, name and root node. After the last run come the
  * formatted executed plan of its last action and every non-zero
  * SQLMetric per node. Both are read from the QueryExecutions the
  * listener saw, not from the input frame: `df.write` plans and runs its
  * own QueryExecution, so the input frame's plan holds no metrics.
  *
  * Usage: sbt -error "runMain graft.tools.Probe <sfDir> <q1,q2,...> [samples]"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val samples = if (args.length > 2) args(2).toInt else 3
    val warmDir = new java.io.File(
      new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001").getPath
    val spark = GraftSession.local(GraftSession.cpus())

    val actions = new LinkedBlockingQueue[(String, QueryExecution, Long)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add((funcName, qe, durationNs))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    // the listener bus delivers asynchronously: take actions until none
    // has arrived for half a second
    def drain(): Seq[(String, QueryExecution, Long)] =
      Iterator.continually(actions.poll(500, TimeUnit.MILLISECONDS)).takeWhile(_ != null).toSeq
    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally {
        // fan-out stages persist their shared input; drop it between runs,
        // a failed run's too
        spark.sqlContext.clearCache()
      }
    }

    for (name <- names) try {
      run(name, warmDir)
      drain()
      var last: Option[QueryExecution] = None
      for (i <- 1 to samples) {
        val sec = run(name, sfDir)
        val ran = drain()
        println(f"== $name run $i: $sec%.3f s ($sfDir)")
        ran.foreach { case (funcName, qe, ns) =>
          val root = qe.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan.nodeName
            case p => p.nodeName
          }
          println(f"  ${ns / 1e9}%8.3f s  $funcName%-18s root=$root")
        }
        last = ran.lastOption.map(_._2).orElse(last)
      }
      last.foreach { qe =>
        println(s"== $name executed plan of the last action")
        println(qe.explainString(FormattedMode))
        println(s"== $name non-zero SQLMetrics per node")
        Listeners.planNodes(qe.executedPlan).foreach { case (depth, node) =>
          val ms = node.metrics.toSeq.filter(_._2.value > 0).sortBy(_._1)
            .map { case (k, m) => s"$k=${m.value}" }
          if (ms.nonEmpty) println(s"  ${"  " * depth}${node.nodeName}: ${ms.mkString(", ")}")
        }
      }
    } catch {
      case t: Throwable =>
        println(s"== $name failed: ${Bench.firstLine(t)}")
        drain() // the failed query's actions are not the next query's
    }
    spark.stop()
  }
}
