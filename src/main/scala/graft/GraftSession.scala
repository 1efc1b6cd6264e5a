package graft

import org.apache.spark.sql.SparkSession

/** The one way every main (and the test suite) starts Spark, so the
  * verified engine and the benchmarked engine are the same engine: one
  * shuffle width per core, UTC session time, adaptive execution on, no
  * UI, one log level. A caller sets only what is its own (the streaming
  * state store, say) on the returned session.
  */
object GraftSession {

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Cores for a main's session: `SPARK_GRAFT_CPUS`, else every core of
    * the machine. `env` is the environment lookup (a parameter so the
    * fallback is testable).
    */
  def cpus(env: String => Option[String] = sys.env.get): Int =
    env("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
}
