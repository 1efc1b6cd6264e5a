package graft
import graft.core.PlanNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names for a targeted dump
    // (the driver passes two args — full dump — so this is builder-only)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(GraftSession.cpus())
    dump(spark, sfDir, outDir, SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))))
    // PlanNode.escape covers backslash, quote and ALL control chars: a tab
    // or CR in an oracle query would otherwise make the JSON unreadable
    // and silently zero the correctness check
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s""""${PlanNode.escape(k)}": "${PlanNode.escape(v)}"""" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write each query's rows to `$outDir/<name>` as one parquet file. A
    * query that throws is named on stderr, in `$outDir/failed.json`
    * (`{name: "Class: first line of message"}`, `{}` when none failed) and
    * in one stdout summary line, and the dump goes on to the next query.
    * Returns the failures.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> Bench.firstLine(e))
      }
    }
    Files.writeString(Paths.get(s"$outDir/failed.json"), Bench.failedJson(failed))
    println(s"[verify] ${queries.size} queries, ${failed.size} failed" +
      (if (failed.isEmpty) "" else failed.map(_._1).mkString(": ", ", ", "")))
    failed
  }
}
