package graft.tools

/** Replicates the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"SMOKE entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
  }
}
