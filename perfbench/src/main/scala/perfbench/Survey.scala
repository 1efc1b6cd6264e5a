package perfbench

/** Survey of the headline battery, from which `Battery.queries` is
  * chosen by measurement (`survey.py` does the choosing).
  *
  * Every `graft.Bench.headline` row that stays inside the working
  * directory runs once untraced at sf0.1 (warm-up), then twice traced at
  * sf0.1 and twice at sf0.01. Per row it records the median walls, the
  * per-run actions, jobs, stages and tasks, and the two-scale fit. A last
  * pass writes each row's output at `Battery.OracleScale` under
  * `--outputs`, with the reference SQL, for timing the DuckDB check.
  *
  * Usage: perfbench.Survey --work DIR --cores K --out FILE --outputs DIR
  */
object Survey {
  val Reps = 2

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new java.io.File(args("work")).getAbsolutePath
    val cores = args("cores").toInt
    val spark = Main.session(work, cores)
    val c = new Ctx(spark, 0L, 0, true, Main.fixtureRoot(spark), work, cores)
    val big = s"${c.data}/sf0.1"
    val small = s"${c.data}/sf0.01"
    val queries = graft.Bench.headline.filterNot(Battery.WritesOutside)

    queries.foreach(q => Battery.runQuery(c, new Meter(None), q, big, s"warm $q"))
    c.log("warmed up")
    val trace = new Trace(spark)
    trace.attach()
    c.trace = Some(trace)
    def runs(dir: String): Map[String, Seq[(Double, Meter)]] =
      (1 to Reps).flatMap { _ =>
        queries.map { q =>
          val m = new Meter(c.trace)
          q -> (Battery.runQuery(c, m, q, dir, q) -> m)
        }
      }.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2) }
    val atBig = runs(big)
    c.log("sf0.1 done")
    val atSmall = runs(small)
    c.log("sf0.01 done")
    trace.detach()
    c.trace = None

    val outputs = args("outputs")
    queries.foreach { q =>
      c.attempt(s"oracle $q") {
        graft.SparkEntry.queries(q)(spark, s"${c.data}/${Battery.OracleScale}")
          .write.mode("overwrite").parquet(s"$outputs/$q")
      }
      c.release(new Meter(None))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outputs/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(graft.SparkEntry.oracleSql)(org.json4s.DefaultFormats))

    val failed = c.failures.map(_._1.split(' ').last).toSet
    val nBig = Battery.rows(c, big).toDouble
    val nSmall = Battery.rows(c, small).toDouble
    val rows = queries.filterNot(failed).map { q =>
      val ms = atBig(q).map(_._2)
      def per(f: Meter => Double) = ms.map(f).sum / ms.size
      val tBig = Stats.median(atBig(q).map(_._1))
      val tSmall = Stats.median(atSmall(q).map(_._1))
      val (fixed, perRow) = Battery.fit(tBig, tSmall, nBig, nSmall)
      q -> Map("sf0.1_s" -> tBig, "sf0.01_s" -> tSmall, "actions" -> per(_.counters.actions.toDouble),
        "jobs" -> per(_.counters.jobs.toDouble), "stages" -> per(_.counters.stages.toDouble),
        "tasks" -> per(_.counters.tasks.toDouble), "eager_jobs" -> per(_.eagerJobs.toDouble),
        "compose_s" -> per(_.composeS), "fixed_s" -> fixed, "per_row_ns" -> perRow * 1e9)
    }
    val out = Map(
      "cores" -> cores, "fixtures" -> c.data, "reps" -> Reps, "oracle_scale" -> Battery.OracleScale,
      "not_run" -> Battery.WritesOutside.toSeq.sorted,
      "failed" -> c.failures.map { case (op, msg) => Map("op" -> op, "error" -> msg) },
      "rows" -> rows.toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats))
    spark.stop()
  }
}
