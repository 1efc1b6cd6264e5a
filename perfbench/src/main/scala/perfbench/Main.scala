package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry: one workload, one seed, one run.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *        --work DIR --cores K
  *
  * Prints one line `PERFBENCH_RESULT {json}` on stdout with the
  * end-to-end metrics (measured with tracing off), the per-layer metrics
  * (traced run only), failures, output mismatches and the run stamp.
  */
object Main {
  /** Setup repetitions whose median goes into `setup_s`. */
  val SetupReps = 3

  final case class Loop(passWalls: Seq[Double], requests: Seq[Double], items: Long,
                        retainedMb: Seq[Double], meters: Seq[Meter]) {
    def e2e: Map[String, Double] = Map(
      "pass_s" -> Stats.median(passWalls),
      "op_p50_s" -> Stats.median(requests))
  }

  /** Closed loop, one pass after another, for `seconds` (at least one
    * pass of each kind). With a trace, every other pass runs traced, so
    * the untraced and traced passes see the same JVM warm-up and machine
    * drift. Returns (untraced passes, traced passes).
    */
  private def loop(c: Ctx, w: Workload, seconds: Int, trace: Option[Trace]): (Loop, Loop) = {
    val walls, requests, retained = Seq.fill(2)(mutable.ArrayBuffer.empty[Double])
    val meters = mutable.ArrayBuffer.empty[Meter]
    val items = Array(0L, 0L)
    val t0 = System.nanoTime()
    var i = 0
    while (walls(0).isEmpty || (trace.nonEmpty && walls(1).isEmpty) ||
           Stats.secsSince(t0) < seconds) {
      val k = if (trace.nonEmpty && i % 2 == 1) 1 else 0
      if (k == 1) { trace.get.attach(); c.trace = trace }
      val m = new Meter(c.trace)
      val (wall, n) = w.pass(c, m, requests(k))
      if (k == 1) { trace.get.detach(); c.trace = None; meters += m }
      walls(k) += wall
      items(k) += n
      retained(k) += retainedHeapMb()
      i += 1
    }
    (Loop(walls(0).toSeq, requests(0).toSeq, items(0), retained(0).toSeq, Nil),
      Loop(walls(1).toSeq, requests(1).toSeq, items(1), retained(1).toSeq, meters.toSeq))
  }

  /** Heap in use right after a full collection, between passes: what the
    * program keeps from one request to the next. Resident memory cannot
    * show this, since the collector's heap sizing sets it.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024)
  }

  /** Layer metrics every workload reports from its traced loop. */
  val traceLayers: Seq[String] = Seq("driver.compose_s", "driver.eager_jobs", "driver.actions",
    "driver.jobs", "driver.stages", "driver.tasks", "driver.analysis_s", "driver.optimization_s",
    "driver.planning_s", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.task_wait_s",
    "exec.slot_util", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "cache.held_rdds", "cache.held_bytes",
    "trace.overhead.pass_s", "trace.overhead.op_p50_s")

  /** Per-pass means of the traced loop's layer counters. */
  private def layers(c: Ctx, l: Loop): Unit = {
    val n = l.meters.size.toDouble
    val k = new Counters
    l.meters.foreach(m => k.add(m.counters))
    def per(f: Meter => Double) = l.meters.map(f).sum / n
    val compose = per(_.composeS)
    val action = per(_.actionS)
    Seq(
      "driver.compose_s" -> compose,
      "driver.eager_jobs" -> per(_.eagerJobs.toDouble),
      "driver.actions" -> k.actions / n, "driver.jobs" -> k.jobs / n,
      "driver.stages" -> k.stages / n, "driver.tasks" -> k.tasks / n,
      "driver.analysis_s" -> k.analysisS / n, "driver.optimization_s" -> k.optimizationS / n,
      "driver.planning_s" -> k.planningS / n,
      "exec.task_run_s" -> k.taskRunS / n, "exec.task_cpu_s" -> k.taskCpuS / n,
      "exec.gc_s" -> k.gcS / n, "exec.task_wait_s" -> k.taskWaitS / n,
      "exec.slot_util" -> k.taskRunS / n / ((compose + action) * c.cores),
      "exec.shuffle_write_bytes" -> k.shuffleWriteBytes / n,
      "exec.shuffle_read_bytes" -> k.shuffleReadBytes / n,
      "exec.spill_bytes" -> k.spillBytes / n,
      "cache.held_rdds" -> per(_.heldRdds.toDouble), "cache.held_bytes" -> per(_.heldBytes.toDouble)
    ).foreach { case (name, v) => c.layers(name) = v }
    l.meters.flatMap(_.named.keys).distinct.foreach { name =>
      c.layers(name) = per(_.named.getOrElse(name, 0.0))
    }
    c.detail("traced_wall_s_per_pass") = l.passWalls.sum / n
    c.detail("traced_compose_plus_action_s_per_pass") = compose + action
  }

  private def loadavg(): String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")).getOrElse("")

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** `local[cores]` with every scratch path under `work`. */
  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The fixture root that the program's own smoke entry reads from. */
  def fixtureRoot(spark: SparkSession): String = {
    val f = new java.net.URI(graft.SparkEntry.entry(spark).inputFiles.head).getPath
    f.substring(0, f.indexOf("/sf0.001/"))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.all(args("workload"))()
    val work = new java.io.File(args("work")).getAbsolutePath
    val cores = args("cores").toInt
    val loadStart = loadavg()

    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val startS = Stats.secsSince(t0)
    val c = new Ctx(spark, args("seed").toLong, args("seconds").toInt, args("trace") == "1",
      fixtureRoot(spark), work, cores)
    val sessionS = Stats.secsSince(t0)

    c.log("session started")
    val prepS = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      workload.prepare(c)
      Stats.secsSince(t)
    }
    c.log(s"prepared: $prepS")
    workload.stampInputs(c)
    val tw = System.nanoTime()
    workload.warm(c)
    c.log("warmed up")
    val warmS = Stats.secsSince(tw)
    val setupS = sessionS + Stats.median(prepS) + warmS

    val (plain, traced) =
      loop(c, workload, if (c.traced) 2 * c.seconds else c.seconds,
        if (c.traced) Some(new Trace(spark)) else None)
    c.log(s"timed loop: ${plain.passWalls} traced: ${traced.passWalls}")
    c.e2e ++= plain.e2e
    c.e2e("setup_s") = setupS
    if (c.traced) {
      layers(c, traced)
      // overhead: how much worse each end-to-end metric reads with tracing on
      traced.e2e.foreach { case (name, v) => c.layers(s"trace.overhead.$name") = v / c.e2e(name) - 1 }
      workload.breakdown(c)
      c.log("breakdown done")
      // every per-layer name appears in every traced result; a layer this
      // workload does not exercise reads 0 and is listed as not measured
      val all = (traceLayers ++ Workloads.all.values.flatMap(_().layerNames)).distinct
      val missing = all.filterNot(c.layers.contains)
      missing.foreach(n => c.layers(n) = 0.0)
      c.detail("layers_not_measured") = missing
    }
    workload.check(c)
    c.e2e("retained_heap_mb") = plain.retainedMb.max
    c.detail("peak_rss_mb") = peakRssMb()
    c.detail("retained_heap_mb_per_pass") = plain.retainedMb

    c.detail("setup") = Map("session_s" -> sessionS, "spark_start_s" -> startS, "prepare_s" -> prepS, "warm_s" -> warmS)
    c.detail("pass_walls_s") = plain.passWalls
    c.detail("items_per_s") = plain.items / plain.passWalls.sum
    c.detail("requests") = plain.requests.size
    if (plain.requests.size > 10) c.detail("op_tail") = Map(
      "percentile" -> Stats.tail(plain.requests)._1, "s" -> Stats.tail(plain.requests)._2)
    val stamp = Map(
      "workload" -> args("workload"), "seed" -> c.seed, "seconds" -> c.seconds,
      "cpus" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
      "defaultParallelism" -> spark.sparkContext.defaultParallelism,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "inputs" -> workload.inputs.map { case (k, (r, b)) => k -> Map("rows" -> r, "bytes" -> b) }.toMap,
      "fixtures" -> c.data,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
    val result = Map(
      "attempted" -> c.attempted, "failed" -> c.failures.size,
      "failures" -> c.failures.map { case (op, msg) => Map("op" -> op, "error" -> msg) },
      "mismatches" -> c.mismatches,
      "e2e" -> c.e2e, "layers" -> c.layers, "detail" -> c.detail, "stamp" -> stamp)
    println("PERFBENCH_RESULT " + org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
    spark.stop()
  }
}
