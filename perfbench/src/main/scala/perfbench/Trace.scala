package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver and executor counters for one operation. Times are seconds. */
final class Counters {
  var actions, jobs, stages, tasks = 0L
  var analysisS, optimizationS, planningS = 0.0
  var taskRunS, taskCpuS, gcS, taskWaitS = 0.0
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L

  def add(o: Counters): Unit = {
    actions += o.actions; jobs += o.jobs; stages += o.stages; tasks += o.tasks
    analysisS += o.analysisS; optimizationS += o.optimizationS; planningS += o.planningS
    taskRunS += o.taskRunS; taskCpuS += o.taskCpuS; gcS += o.gcS; taskWaitS += o.taskWaitS
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
  }
}

/** The traced run's listener: a `SparkListener` for jobs, stages and task
  * metrics plus a `QueryExecutionListener` for actions and `qe.tracker`
  * phase times. One client thread drives the session, so everything the
  * listener sees between two `take()` calls belongs to one operation.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var cur = new Counters
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  def attach(): Unit = {
    synchronized { cur = new Counters }
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Counters since the previous call, after the bus has drained. */
  def take(): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { val c = cur; cur = new Counters; c }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { cur.jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val submitted: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmitMs.put(e.stageInfo.stageId, submitted)
    synchronized { cur.stages += 1 }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val submitted = Option(stageSubmitMs.get(e.stageId)).map(_.longValue)
      .getOrElse(e.taskInfo.launchTime)
    synchronized {
      cur.tasks += 1
      cur.taskWaitS += math.max(0L, e.taskInfo.launchTime - submitted) / 1e3
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      cur.taskRunS += m.executorRunTime / 1e3
      cur.taskCpuS += m.executorCpuTime / 1e9
      cur.gcS += m.jvmGCTime / 1e3
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    cur.actions += 1
    cur.analysisS += Trace.phaseS(qe, "analysis")
    cur.optimizationS += Trace.phaseS(qe, "optimization")
    cur.planningS += Trace.phaseS(qe, "planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object Trace {
  /** Seconds `qe` spent in planning phase `name` (whole milliseconds). */
  def phaseS(qe: QueryExecution, name: String): Double =
    qe.tracker.phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
}
