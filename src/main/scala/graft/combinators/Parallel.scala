package graft.combinators

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.Executors
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future, Promise}
import scala.util.{Failure, Try}

/** Driver-side fan-out machinery shared by the parallel connectors
  * (C2 Concurrent, C3 Race, C4 Contest, C14 WorkerPool, C15 Scaffold).
  *
  * The reference clones the input per branch for isolation
  * (`concurrent.go:180`); DataFrames are immutable so isolation is free —
  * what we add is a `persist` on the shared input so N branch *jobs* don't
  * re-read the source N times. Branch jobs run under their own Spark job
  * group so losers can be cancelled (`race.go:120-123` → `cancelJobGroup`).
  * Race and Contest are one first-winner runner ([[firstWinner]]) and one
  * lazy first-qualifying-branch path ([[firstLazy]]), differing only in
  * what qualifies a branch and in their signals.
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

  /** Lazy composition for Race and Contest: the first branch whose plan
    * `qualifies`, checked in declaration order. Every branch checked must
    * be deterministic — a nondeterministic plan could qualify at check
    * time and produce different rows when the composed query finally runs.
    */
  private[combinators] def firstLazy(kind: String, id: StageId, branches: Seq[Stage], df: DataFrame)(
      qualifies: DataFrame => Boolean): Option[(Stage, DataFrame)] = {
    require(branches.nonEmpty, s"$kind needs at least one branch")
    branches.iterator.map { b =>
      val out = b(df)
      require(out.queryExecution.analyzed.deterministic,
        s"$kind ${id.name}: lazy composition requires deterministic branch plans — use run() instead")
      (b, out)
    }.find { case (_, out) => qualifies(out) }
  }

  /** The eager runner behind `Race.run` and `Contest.run`: share the
    * input, run each branch in its own job group, persist and count its
    * output, and declare the first output that `qualifies` the winner
    * (`won(i)`), cancelling the other branches. The winner stays persisted
    * for the caller and is tracked in `winners` for close(); every other
    * branch output is released, including one whose count or `qualifies`
    * threw, and the shared input once every branch has finished. When every
    * branch settles without a winner the run fails with
    * `noWinner(last failure, if the last branch to settle threw)`.
    */
  private[combinators] def firstWinner(kind: String, id: StageId, branches: Seq[Stage], df: DataFrame,
                                       winners: Tracker)(qualifies: DataFrame => Boolean)(
      won: Int => Unit, noWinner: Option[Throwable] => Throwable): DataFrame = {
    require(branches.nonEmpty, s"$kind needs at least one branch")
    val shared = share(df)
    val sc = df.sparkSession.sparkContext
    val ec = pool(branches.size)
    val done = Promise[DataFrame]()
    val winner = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    val settled, finished = new java.util.concurrent.atomic.AtomicInteger(0)
    def group(i: Int) = s"${id.name}-branch-$i"
    // CacheManager keys cached data by PLAN: when two branches build the
    // SAME plan (racing one plan against itself is legitimate), a loser's
    // release would evict the WINNER's cache entry — skip it when the
    // decided winner shares this branch's plan
    def release(out: DataFrame): Unit =
      if (!Option(winner.get).exists(_.queryExecution.analyzed.sameResult(out.queryExecution.analyzed)))
        out.unpersist(blocking = false)
    def settle(failure: Option[Throwable]): Unit =
      if (settled.incrementAndGet() == branches.size) done.tryFailure(noWinner(failure))
    try {
      branches.zipWithIndex.foreach { case (b, i) =>
        Future {
          sc.setJobGroup(group(i), s"$kind branch $i", interruptOnCancel = true)
          var out: DataFrame = null
          try {
            out = b(shared).persist(StorageLevel.MEMORY_AND_DISK)
            out.count() // materialize: the "finish line"
            if (qualifies(out) && winner.compareAndSet(null, out)) {
              // signals and cancels go out before run() returns the winner
              won(i)
              branches.indices.filter(_ != i).foreach(j => sc.cancelJobGroup(group(j)))
              done.success(out)
            } else { release(out); settle(None) }
          } catch {
            case t: Throwable => Option(out).foreach(release); settle(Some(t))
          } finally {
            sc.clearJobGroup()
            // the shared input goes after every branch has released its
            // output: uncaching it re-plans the caches built on it, which
            // would put back a loser released at the same moment
            if (finished.incrementAndGet() == branches.size) shared.unpersist(blocking = false)
          }
        }(ec)
      }
      winners.track(Await.result(done.future, Duration.Inf))
    } finally ec.shutdown()
  }

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
  // owns its release (the runner releases the shared input and losers)
  private val winnerCaches = new Fanout.Tracker

  /** Lazy composition: the first branch's plan. Valid ONLY when branch
    * plans are deterministic and failure-free — then every branch "wins"
    * identically; fallible or timing-dependent branches need `run`.
    */
  def apply(df: DataFrame): DataFrame =
    Fanout.firstLazy("race", id, branches, df)(_ => true).get._2

  /** Eager first-success-wins over materialized branch jobs. */
  def run(df: DataFrame): DataFrame =
    Fanout.firstWinner("race", id, branches, df, winnerCaches)(_ => true)(
      won = i => {
        SignalBus.global.emit(Signals.RaceWinner, id, "winner" -> branches(i).id.name)
        // the stragglers are cancelled (race.go:120-123)
        branches.indices.filter(_ != i).foreach(j =>
          SignalBus.global.emit(Signals.RaceLost, id, "loser" -> branches(j).id.name))
      },
      noWinner = last => new RuntimeException(
        s"race ${id.name}: all ${branches.size} branches failed", last.orNull))

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

  /** Lazy composition: the first deterministic branch whose plan meets
    * `condition`, in declaration order; none qualifying → error, as in
    * `run`. `condition` runs here, driver-side (returning branch 1
    * unchecked could hand back a non-qualifying result); "lazy" refers to
    * the returned plan, which stays uncached and composable.
    */
  def apply(df: DataFrame): DataFrame =
    Fanout.firstLazy("contest", id, branches, df)(condition) match {
      case Some((b, out)) =>
        SignalBus.global.emit(Signals.ContestWinner, id, "winner" -> b.id.name)
        out
      case None => throw noWinner(None)
    }

  def run(df: DataFrame): DataFrame =
    Fanout.firstWinner("contest", id, branches, df, winnerCaches)(condition)(
      won = i => SignalBus.global.emit(Signals.ContestWinner, id, "winner" -> branches(i).id.name),
      noWinner = noWinner)

  private def noWinner(last: Option[Throwable]): Throwable = {
    SignalBus.global.emit(Signals.ContestNoWinner, id)
    new RuntimeException(s"contest ${id.name}: no branch met the condition", last.orNull) // contest.go:174-189
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
