package graft.combinators

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.{Executors, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future, Promise}
import scala.util.{Failure, Success, Try}

/** Driver-side fan-out machinery shared by the parallel connectors
  * (C2 Concurrent, C3 Race, C4 Contest, C14 WorkerPool, C15 Scaffold).
  *
  * The reference clones the input per branch for isolation
  * (`concurrent.go:180`); DataFrames are immutable so isolation is free —
  * what we add is a `persist` on the shared input so N branch *jobs* don't
  * re-read the source N times. Branch jobs run under their own Spark job
  * group so losers can be cancelled (`race.go:120-123` → `cancelJobGroup`).
  *
  * Scale note: everything here fans out *jobs*, never rows; no branch
  * result is collected to the driver — reducers stay in Catalyst.
  */
object Fanout {
  /** Bounded pool for branch-job submission; daemon threads so the JVM can
    * exit. Sized generously — branches block on Spark actions, not CPU.
    */
  private[combinators] def pool(n: Int): ExecutionContextExecutorService =
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(
        n,
        (r: Runnable) => {
          val t = new Thread(r); t.setDaemon(true); t
        }
      )
    )

  /** Persist the shared fan-out input (MEMORY_AND_DISK: at 100 TB the
    * branches must be able to spill, `SURVEY.md §7.4.6`).
    */
  def share(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  private[combinators] val reduced = new scala.util.DynamicVariable[Option[java.util.Queue[DataFrame]]](None)

  /** Compose `body`, adding to `into` every shared input that a lazy
    * [[Concurrent]] reducer composed in it joins. A runner materializes
    * them before its actions (see `runtime.Pipeline.run`).
    */
  def collectReduced[A](into: java.util.Queue[DataFrame])(body: => A): A =
    reduced.withValue(Some(into))(body)

  /** Tracks a stage's persisted fan-out inputs so `close()` can release
    * them — without this, long-lived drivers accumulate cached inputs
    * across applications (round-1 defect #7).
    */
  final class Tracker {
    private val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def share(df: DataFrame): DataFrame = { val p = Fanout.share(df); persisted.add(p); p }
    /** Register an ALREADY-persisted frame (e.g. a race winner cached by
      * its branch job) for release at close().
      */
    def track(df: DataFrame): DataFrame = { persisted.add(df); df }
    def release(): Unit = {
      var d = persisted.poll()
      while (d != null) { d.unpersist(blocking = false); d = persisted.poll() }
    }
  }
}

/** C2 Concurrent — run all branch stages against (a shared persist of) the
  * same input (`concurrent.go:127-250`).
  *
  *  - With a reducer: the reducer is *plan algebra* (join branch outputs on
  *    a key / union + agg) so the whole fan-out stays one lazy Catalyst
  *    query — `apply` composes, nothing executes (`concurrent.go:219-247`).
  *  - Without a reducer the reference runs branches for their side effects
  *    and returns the original input (`concurrent.go:222`): `runEffects`
  *    submits each branch action in parallel on the driver and returns the
  *    input unchanged; failures are collected, not raised (all branches run
  *    regardless of failures).
  */
final case class Concurrent(
    id: StageId,
    branches: Seq[Stage],
    reducer: Option[(DataFrame, Seq[DataFrame]) => DataFrame] = None,
    persistInput: Boolean = true
) extends Stage {
  private val sharedInputs = new Fanout.Tracker

  def apply(df: DataFrame): DataFrame = {
    if (branches.isEmpty) return df // concurrent.go:137-139
    // lazy composition: the persist is consumed at the caller's action, so
    // its release ties to close(), not to this call
    val shared = if (persistInput) sharedInputs.share(df) else df
    val outs = branches.map(_(shared))
    SignalBus.global.emit(Signals.ConcurrentCompleted, id, "branches" -> branches.size.toString)
    reducer match {
      case Some(r) =>
        val out = r(shared, outs)
        // a join over branches of the shared input is a self-join of its cache
        if (persistInput && out.queryExecution.analyzed.exists(_.isInstanceOf[Join]))
          Fanout.reduced.value.foreach(_.add(shared))
        ErrorChannel.prependPath(out, id)
      case None => shared
    }
  }

  /** No-reducer execution: run each branch's `action` in parallel, return
    * input; branch errors returned, not thrown (`concurrent.go:186-197`).
    */
  def runEffects(df: DataFrame, action: DataFrame => Unit = _.foreach(_ => ())): Seq[Try[Unit]] = {
    if (branches.isEmpty) return Nil
    val shared = if (persistInput) Fanout.share(df) else df
    val ec = Fanout.pool(branches.size)
    try {
      val fs = branches.map(b => Future(action(b(shared)))(ec))
      fs.map(f => Try(Await.result(f, Duration.Inf)))
    } finally {
      ec.shutdown()
      // all branch actions completed — the shared cache has served its purpose
      if (persistInput) shared.unpersist(blocking = false)
    }
  }

  override def plan: PlanNode = PlanNode("Concurrent", id, branches.map(_.plan))
  override def close(): Unit = { sharedInputs.release(); branches.foreach(_.close()) }
}

object Concurrent {
  def apply(name: String)(branches: Stage*): Concurrent =
    Concurrent(StageId(name), branches)
  def reduced(name: String, reducer: (DataFrame, Seq[DataFrame]) => DataFrame)(
      branches: Stage*
  ): Concurrent = Concurrent(StageId(name), branches, Some(reducer))
}

/** C3 Race — speculative execution: run branch jobs in parallel, first
  * *success* wins, losers are cancelled via their job group
  * (`race.go:66-159`). Necessarily eager (a winner only exists at runtime),
  * so this is a runner, not plan algebra. Cancellation is best-effort —
  * losers may complete (same caveat as Go ctx cancellation,
  * `timeout.go:25-27`).
  */
final case class Race(id: StageId, branches: Seq[Stage]) extends Stage {

  // the winner stays persisted for the caller to compose on; close()
  // owns its release (the shared input and losers are released in run)
  private val winnerCaches = new Fanout.Tracker

  /** Lazy composition (used when Race wraps pure plans and the caller wants
    * one query): first branch's plan. Semantically valid ONLY when branch
    * plans are deterministic and failure-free — then all branches "win"
    * identically and the first is as good as any. The assertion rejects the
    * obvious misuse (wrapping nondeterministic plans and expecting runtime
    * racing); genuinely fallible or timing-dependent branches need `run`.
    */
  def apply(df: DataFrame): DataFrame = {
    require(branches.nonEmpty, "race needs at least one branch")
    val out = branches.head(df)
    require(out.queryExecution.analyzed.deterministic,
      s"race ${id.name}: lazy composition requires a deterministic branch plan — use run() instead")
    out
  }

  /** Eager first-success-wins over materialized branch jobs. */
  def run(df: DataFrame): DataFrame = {
    require(branches.nonEmpty, "race needs at least one branch")
    val shared = Fanout.share(df)
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val ec = Fanout.pool(branches.size)
    val done = Promise[(Int, DataFrame)]()
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      branches.zipWithIndex.foreach { case (b, i) =>
        Future {
          val group = s"${id.name}-branch-$i"
          sc.setJobGroup(group, s"race branch $i", interruptOnCancel = true)
          try {
            val out = b(shared).persist(StorageLevel.MEMORY_AND_DISK)
            out.count() // materialize: the "finish line"
            if (done.trySuccess((i, out))) {
              SignalBus.global.emit(Signals.RaceWinner, id, "winner" -> b.id.name)
              // cancel the stragglers (race.go:120-123)
              branches.indices.filter(_ != i).foreach { j =>
                sc.cancelJobGroup(s"${id.name}-branch-$j")
                SignalBus.global.emit(Signals.RaceLost, id, "loser" -> branches(j).id.name)
              }
            } else {
              // CacheManager keys cached data by PLAN: when two branches
              // build the SAME plan (racing one plan against itself is
              // legitimate), the loser's release would evict the WINNER's
              // cache entry — skip it when the decided winner shares this
              // branch's plan
              val winner = done.future.value.flatMap(_.toOption).map(_._2)
              val samePlan = winner.exists(
                _.queryExecution.analyzed.sameResult(out.queryExecution.analyzed))
              if (!samePlan) out.unpersist(blocking = false)
            }
          } catch {
            case t: Throwable =>
              errs.add(t)
              if (failures.incrementAndGet() == branches.size)
                done.tryFailure(new RuntimeException(
                  s"race ${id.name}: all ${branches.size} branches failed", t))
          } finally sc.clearJobGroup()
        }(ec)
      }
      // winner is materialized in its own cache (released at close);
      // shared input is released in the finally — also on failure paths
      winnerCaches.track(Await.result(done.future, Duration.Inf)._2)
    } finally {
      shared.unpersist(blocking = false)
      ec.shutdown()
    }
  }

  override def plan: PlanNode = PlanNode("Race", id, branches.map(_.plan))
  override def close(): Unit = { winnerCaches.release(); branches.foreach(_.close()) }
}

object Race {
  def apply(name: String)(branches: Stage*): Race = Race(StageId(name), branches)
}

/** C4 Contest — Race plus a winner predicate: first branch whose completed
  * result satisfies `condition` wins (`contest.go:73-190`); none qualifying
  * → error (`contest.go:174-189`). The predicate runs on the driver against
  * the branch's DataFrame (typically a cheap agg like `count == expected`),
  * never a full collect.
  */
final case class Contest(
    id: StageId,
    condition: DataFrame => Boolean,
    branches: Seq[Stage]
) extends Stage {
  private val winnerCaches = new Fanout.Tracker

  /** Lazy composition: the deterministic analog of the runtime contest —
    * branches are checked in declaration order and the first whose plan
    * meets `condition` is returned; none qualifying → error, mirroring
    * `run`'s no-winner contract (`contest.go:174-189`). Unlike Race, the
    * winner predicate CANNOT be deferred (returning branch 1 unchecked
    * would silently hand back a non-qualifying result), so `condition` is
    * evaluated here, driver-side, branch by branch — "lazy" refers to the
    * returned plan, which stays uncached and composable. Each branch must
    * be deterministic (same require as `Race.apply`): a nondeterministic
    * plan could qualify at check time and produce different rows when the
    * composed query finally runs.
    */
  def apply(df: DataFrame): DataFrame = {
    require(branches.nonEmpty, "contest needs at least one branch")
    val it = branches.iterator.map { b =>
      val out = b(df)
      require(out.queryExecution.analyzed.deterministic,
        s"contest ${id.name}: lazy composition requires deterministic branch plans — use run() instead")
      (b, out)
    }
    it.collectFirst { case (b, out) if condition(out) =>
      SignalBus.global.emit(Signals.ContestWinner, id, "winner" -> b.id.name)
      out
    }.getOrElse {
      SignalBus.global.emit(Signals.ContestNoWinner, id)
      throw new RuntimeException(s"contest ${id.name}: no branch met the condition")
    }
  }

  def run(df: DataFrame): DataFrame = {
    require(branches.nonEmpty, "contest needs at least one branch")
    val shared = Fanout.share(df)
    val sc = df.sparkSession.sparkContext
    val ec = Fanout.pool(branches.size)
    val done = Promise[(Int, DataFrame)]()
    val settled = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      branches.zipWithIndex.foreach { case (b, i) =>
        Future {
          val group = s"${id.name}-branch-$i"
          sc.setJobGroup(group, s"contest branch $i", interruptOnCancel = true)
          val qualified = Try {
            val out = b(shared).persist(StorageLevel.MEMORY_AND_DISK)
            out.count()
            (out, condition(out))
          }
          // same plan-keyed-cache rule as Race: never release a frame
          // whose plan the decided winner shares
          def releaseUnlessWinnerPlan(out: DataFrame): Unit = {
            val winner = done.future.value.flatMap(_.toOption).map(_._2)
            val samePlan = winner.exists(
              _.queryExecution.analyzed.sameResult(out.queryExecution.analyzed))
            if (!samePlan) out.unpersist(blocking = false)
          }
          qualified match {
            case Success((out, true)) =>
              if (done.trySuccess((i, out))) {
                SignalBus.global.emit(Signals.ContestWinner, id, "winner" -> b.id.name)
                branches.indices.filter(_ != i).foreach(j =>
                  sc.cancelJobGroup(s"${id.name}-branch-$j"))
              } else releaseUnlessWinnerPlan(out)
            case Success((out, false)) =>
              releaseUnlessWinnerPlan(out)
              if (settled.incrementAndGet() == branches.size) {
                SignalBus.global.emit(Signals.ContestNoWinner, id)
                done.tryFailure(new RuntimeException(
                  s"contest ${id.name}: no branch met the condition")) // contest.go:174-189
              }
            case Failure(t) =>
              if (settled.incrementAndGet() == branches.size) {
                SignalBus.global.emit(Signals.ContestNoWinner, id)
                done.tryFailure(new RuntimeException(
                  s"contest ${id.name}: no branch met the condition", t))
              }
          }
          sc.clearJobGroup()
        }(ec)
      }
      winnerCaches.track(Await.result(done.future, Duration.Inf)._2)
    } finally {
      shared.unpersist(blocking = false)
      ec.shutdown()
    }
  }

  override def plan: PlanNode = PlanNode("Contest", id, branches.map(_.plan))
  override def close(): Unit = { winnerCaches.release(); branches.foreach(_.close()) }
}

object Contest {
  def apply(name: String, condition: DataFrame => Boolean)(branches: Stage*): Contest =
    Contest(StageId(name), condition, branches)
}

/** C14 WorkerPool — all branches run, but at most `workers` concurrently
  * (semaphore gate, `workerpool.go:127-153`); waits for all; first error
  * wins (`workerpool.go:178-188`); returns original input. Optional
  * per-task deadline ([[withTimeout]], `workerpool.go:34,156-161,238-243`):
  * the clock starts when a worker slot picks the task up (the reference
  * applies the timeout ctx AFTER semaphore acquisition, never to queue
  * wait), and an expired task cancels its Spark jobs and surfaces as the
  * pool's first-error.
  */
final case class WorkerPool(id: StageId, workers: Int, branches: Seq[Stage],
                            taskTimeout: Option[FiniteDuration] = None) extends Stage {
  private val sharedInputs = new Fanout.Tracker

  /** Per-task deadline, the reference's `WithTimeout` builder
    * (`workerpool.go:238-243`).
    */
  def withTimeout(limit: FiniteDuration): WorkerPool = copy(taskTimeout = Some(limit))

  def apply(df: DataFrame): DataFrame = df

  def run(df: DataFrame, action: DataFrame => Unit = _.foreach(_ => ())): DataFrame = {
    if (branches.isEmpty) return df
    if (branches.size > workers)
      SignalBus.global.emit(Signals.WorkerPoolSaturated, id,
        "workers" -> workers.toString, "queued" -> (branches.size - workers).toString)
    // callers keep composing on the returned shared frame (the Q-C14
    // shape), so the persist is released at close(), not here
    val shared = sharedInputs.share(df)
    val ec = Fanout.pool(workers) // fixed pool of `workers` == semaphore
    try {
      val fs = branches.map { b =>
        Future {
          taskTimeout match {
            // deadline measured from HERE — a worker thread has the task
            case Some(limit) =>
              Timeout(StageId(s"${id.name}.${b.id.name}"), limit)
                .run(shared.sparkSession)(action(b(shared)))
            case None => action(b(shared))
          }
        }(ec)
      }
      val results = fs.map(f => Try(Await.result(f, Duration.Inf)))
      results.collectFirst { case Failure(t) => t }.foreach(t => throw t)
      shared
    } finally ec.shutdown()
  }

  override def plan: PlanNode = PlanNode("WorkerPool", id, branches.map(_.plan))
  override def close(): Unit = { sharedInputs.release(); branches.foreach(_.close()) }
}

object WorkerPool {
  def apply(name: String, workers: Int)(branches: Stage*): WorkerPool =
    WorkerPool(StageId(name), workers, branches)
}

/** C15 Scaffold — fire-and-forget: launch branch actions detached from the
  * caller (`scaffold.go:69-107`); they outlive the call, errors are
  * swallowed (`scaffold.go:91-94`); input returned immediately.
  */
final case class Scaffold(id: StageId, branches: Seq[Stage]) extends Stage {
  @volatile private var inflight: Seq[Future[Unit]] = Nil
  private val sharedInputs = new Fanout.Tracker

  def apply(df: DataFrame): DataFrame = df

  def run(df: DataFrame, action: DataFrame => Unit = _.foreach(_ => ())): DataFrame = {
    if (branches.isEmpty) return df
    // detached branches may still be running when run() returns, so the
    // persist can only be released at close()
    val shared = sharedInputs.share(df)
    val ec = Fanout.pool(branches.size)
    inflight = branches.map { b =>
      SignalBus.global.emit(Signals.ScaffoldLaunched, id, "branch" -> b.id.name)
      Future(action(b(shared)))(ec).recover { case _ => () }(ec)
    }
    ec.shutdown() // pool drains in the background; daemon threads
    shared
  }

  /** Test hook: wait for detached branches (the reference's tests do the
    * same with sync channels).
    */
  def awaitQuiescence(timeout: Duration = 2.minutes): Unit =
    inflight.foreach(f => Try(Await.ready(f, timeout)))

  override def plan: PlanNode = PlanNode("Scaffold", id, branches.map(_.plan))
  override def close(): Unit = { sharedInputs.release(); branches.foreach(_.close()) }
}

object Scaffold {
  def apply(name: String)(branches: Stage*): Scaffold =
    Scaffold(StageId(name), branches)
}
