package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linearly interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      s(lo) + (s(pos.ceil.toInt) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); with ten samples or fewer, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (100.0, s.last)
    else { val i = s.size - 11; (100.0 * (i + 1) / s.size, s(i)) }
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median wall time of `reps` runs of `body`. */
  def medianTime(reps: Int)(body: => Unit): Double =
    median((1 to reps).map { _ => val t0 = System.nanoTime(); body; secsSince(t0) })
}

/** Per-pass layer accounting: time in graft calls that return frames
  * (compose), time in actions, jobs launched while composing, listener
  * counters, and persisted RDDs still alive after each release point.
  * A returned frame was analysed while it was composed, where no listener
  * sees it, so its `qe.tracker` analysis phase is read here.
  */
final class Meter(trace: Option[Trace]) {
  val counters = new Counters
  var composeS, actionS = 0.0
  var eagerJobs = 0L
  var heldRdds, heldBytes = 0L
  val named = mutable.LinkedHashMap.empty[String, Double]

  def compose[A](body: => A): A = {
    trace.foreach(t => counters.add(t.take()))
    val t0 = System.nanoTime()
    val a = body
    composeS += Stats.secsSince(t0)
    trace.foreach { t =>
      val c = t.take()
      eagerJobs += c.jobs
      counters.add(c)
      a match {
        case d: Dataset[_] => counters.analysisS += Trace.phaseS(d.queryExecution, "analysis")
        case _ =>
      }
    }
    a
  }

  def action[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally actionS += Stats.secsSince(t0)
  }

  /** Add the wall time of `body` to the per-layer timer `name`. */
  def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally named(name) = named.getOrElse(name, 0.0) + Stats.secsSince(t0)
  }

  def flush(): Unit = trace.foreach(t => counters.add(t.take()))
}

/** One run's shared state: the session, the seeded RNG, failures and
  * the measurements the workload reports.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val traced: Boolean, val data: String, val work: String, val cores: Int) {
  val rng = new scala.util.Random(seed)
  private val born = System.nanoTime()
  var trace: Option[Trace] = None
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val mismatches = mutable.ArrayBuffer.empty[String]

  /** Run one operation; a throw is recorded as a failure, never hidden. */
  def attempt[A](label: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failures += label -> (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)
        None
    }
  }

  def expect(ok: Boolean, what: => String): Unit = if (!ok) mismatches += what

  /** Progress on stderr, with seconds since the run started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${Stats.secsSince(born)}%7.1f s] $msg")

  def dir(name: String): String = s"$work/$name"

  /** Persisted RDDs alive now: (count, memory + disk bytes). */
  def held(): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  /** Record what an operation left persisted, then drop it all so the
    * next operation starts from the same state.
    */
  def release(m: Meter): Unit = {
    val (n, b) = held()
    m.heldRdds += n
    m.heldBytes += b
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes of all files under `path`. */
  def du(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  def rm(path: String): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new java.io.File(path))
  }
}
