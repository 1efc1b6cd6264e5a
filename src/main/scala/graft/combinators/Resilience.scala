package graft.combinators

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import scala.concurrent.duration._
import scala.concurrent.{Await, Future, TimeoutException}
import scala.util.control.NonFatal
import scala.util.{Failure, Success, Try}

/** Resilience connectors live on the *job tier* (`SURVEY.md §7.4.1`): pipz
  * wraps a per-item call; the data-parallel analog wraps a Spark *action*
  * (or a streaming micro-batch). Wrapped success must be transparent —
  * identical result to the unwrapped run (`retry.go:85-89`,
  * `timeout.go:128-130`, `circuitbreaker.go:184-215`) — which is exactly
  * what the Q-C8..C15 oracle rows pin.
  */

/** C8 Retry — re-run the same body up to `maxAttempts` with the same input
  * (`retry.go:63-143`). Input is the same by construction here: DataFrames
  * are immutable plans, so every attempt replays the identical query.
  */
final case class Retry(id: StageId, maxAttempts: Int) {
  require(maxAttempts >= 1, "maxAttempts must be >= 1")

  def run[A](body: => A): A =
    Retry.attempts(id, maxAttempts)(body)(
      attempt = n => SignalBus.global.emit(Signals.RetryAttempt, id, "attempt" -> n.toString),
      exhausted = () => SignalBus.global.emit(Signals.RetryExhausted, id, "attempts" -> maxAttempts.toString))
}

object Retry {
  def apply(name: String, maxAttempts: Int): Retry = Retry(StageId(name), maxAttempts)

  /** The attempt loop shared by Retry and Backoff: run `body` up to
    * `maxAttempts` times, calling `attempt(n)` before attempt n; when every
    * attempt throws, call `exhausted()` and fail with the last error
    * (`retry.go:119-142`).
    */
  private[combinators] def attempts[A](id: StageId, maxAttempts: Int)(body: => A)(
      attempt: Int => Unit, exhausted: () => Unit = () => ()): A = {
    var last: Throwable = null
    var n = 0
    while (n < maxAttempts) {
      n += 1
      attempt(n)
      try return body
      catch { case NonFatal(t) => last = t }
    }
    exhausted()
    throw new RuntimeException(s"${id.name}: exhausted $maxAttempts attempts", last)
  }

  /** Row-tier recovery: replay a stage over its dead-letter rows up to
    * `maxAttempts` times, unioning recovered rows back — the per-row analog
    * of re-calling Process with the original input.
    */
  def recoverDeadLetters(stage: Stage, df: DataFrame, maxAttempts: Int): DataFrame = {
    var out = stage(df)
    var attempt = 1
    while (attempt < maxAttempts) {
      attempt += 1
      val dead = ErrorChannel.dead(out).drop(ErrorChannel.ColName)
      val retried = stage(dead)
      out = ErrorChannel.goodKeep(out).unionByName(retried, allowMissingColumns = true)
    }
    out
  }
}

/** C9 Backoff — Retry with exponential delay d, 2d, 4d… between attempts
  * (`backoff.go:58-130`); no sleep after the final attempt
  * (`backoff.go:83`); clock injectable (`backoff.go:200-213`).
  */
final case class Backoff(
    id: StageId,
    maxAttempts: Int,
    baseDelay: FiniteDuration,
    clock: Clock = Clock.System
) {
  require(maxAttempts >= 1, "maxAttempts must be >= 1")

  def run[A](body: => A): A = {
    var delay = baseDelay
    // the wait comes before each retry, so none follows the last attempt (backoff.go:83)
    Retry.attempts(id, maxAttempts)(body)(attempt = n => if (n > 1) {
      SignalBus.global.emit(Signals.BackoffWaiting, id, "delayMs" -> delay.toMillis.toString)
      clock.sleep(delay.toMillis)
      delay = delay * 2 // backoff.go:85-98
    })
  }
}

object Backoff {
  def apply(name: String, maxAttempts: Int, baseDelay: FiniteDuration): Backoff =
    Backoff(StageId(name), maxAttempts, baseDelay)
}

/** C10 Timeout — hard deadline on an action (`timeout.go:61-154`): run the
  * body on a separate thread, await with the deadline, cancel the job group
  * on expiry. Cancellation is best-effort, like Go ctx (`timeout.go:25-27`).
  */
final case class Timeout(id: StageId, limit: FiniteDuration) {
  def run[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val group = s"${id.name}-${java.util.UUID.randomUUID()}"
    val ec = Fanout.pool(1)
    try {
      val f = Future {
        sc.setJobGroup(group, id.name, interruptOnCancel = true)
        try body
        finally sc.clearJobGroup()
      }(ec)
      try Await.result(f, limit)
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          SignalBus.global.emit(Signals.TimeoutExceeded, id, "limitMs" -> limit.toMillis.toString)
          throw new java.util.concurrent.TimeoutException(
            s"${id.name}: exceeded ${limit.toMillis}ms deadline") // Error{Timeout:true} analog
      }
    } finally ec.shutdown()
  }

  /** Row-tier analog of `Error{Timeout: true}` (`error.go:18-26`): run
    * `body`'s plan under the deadline; on expiry the *input* rows come back
    * as dead letters flagged `timeout = true` (triage via
    * `ErrorChannel.isTimeout`) instead of the job failing. The job-cancel
    * path sets `canceled = true` the same way when the body is interrupted
    * by an external job-group cancel.
    */
  def runOrDeadLetters(df: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val out = body(df)
    def deadLetters(msg: String, timeout: Boolean = false, canceled: Boolean = false): DataFrame = {
      out.unpersist(blocking = false) // partial blocks of the dead attempt
      ErrorChannel.markWhere(df, id, lit(true), lit(msg), timeout, canceled)
    }
    try {
      // materialize under the deadline; ON SUCCESS the returned frame is
      // left persisted (that cache IS the materialization the deadline
      // paid for) — callers unpersist() when done with it
      run(df.sparkSession) {
        out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
        out
      }
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        deadLetters(s"exceeded ${limit.toMillis}ms deadline", timeout = true)
      case e: org.apache.spark.SparkException if e.getMessage != null && e.getMessage.contains("cancelled") =>
        deadLetters("job canceled", canceled = true)
    }
  }
}

object Timeout {
  def apply(name: String, limit: FiniteDuration): Timeout = Timeout(StageId(name), limit)
}

/** C11 Handle — error observer (`handle.go:69-120`): dead-letter rows are
  * fed through a handler stage graph (log/sink/compensate) while the main
  * flow still carries/reports the failure (the reference re-raises the
  * original error after the handler runs: `handle.go:96,117`).
  */
final case class Handle(id: StageId, stage: Stage, handler: Stage,
                        releaseAs: String = "err") extends Stage {
  def apply(df: DataFrame): DataFrame = {
    val out = stage(df)
    ErrorChannel.prependPath(out, id)
  }

  /** The handler's view: processed dead letters of a staged output. The
    * dead letters are released to the handler as live rows (error struct
    * in a regular `releaseAs` column, default `err`) — the reference
    * handler receives the `*Error[T]` as its input value, not as a
    * poisoned row. Pipelines whose DATA carries a column named `err`
    * pick another name via `releaseAs` (release refuses collisions).
    */
  def handled(df: DataFrame): DataFrame = {
    val out = stage(df)
    SignalBus.global.emit(Signals.HandleError, id)
    handler(ErrorChannel.release(ErrorChannel.dead(out), releaseAs))
  }

  /** The reference's full contract in one call (`handle.go:96,117`):
    * process, run the handler's action over any dead letters, then
    * re-raise the original failure — the caller sees healthy rows on
    * success and a thrown error (with the first dead letter's path/msg)
    * after the handler has observed the failures.
    */
  def runThenRaise(df: DataFrame,
                   handlerAction: DataFrame => Unit = _.foreach(_ => ())): DataFrame = {
    val out = ErrorChannel.prependPath(stage(df), id)
    val dead = ErrorChannel.dead(out)
    val first = dead.select(
      org.apache.spark.sql.functions.col(s"${ErrorChannel.ColName}.path"),
      org.apache.spark.sql.functions.col(s"${ErrorChannel.ColName}.msg")).head(1)
    first.headOption.foreach { row =>
      SignalBus.global.emit(Signals.HandleError, id)
      handlerAction(handler(ErrorChannel.release(dead, releaseAs))) // handler first (handle.go:96)
      val path = row.getSeq[String](0).mkString(" -> ")
      throw new RuntimeException(
        s"${id.name} -> $path failed: ${String.valueOf(row.getString(1))}") // then re-raise (handle.go:117)
    }
    ErrorChannel.good(out)
  }

  override def plan: PlanNode =
    PlanNode("Handle", id, Seq(stage.plan, PlanNode("OnError", handler.id, Seq(handler.plan))))
  override def close(): Unit = { handler.close(); stage.close() }
}

object Handle {
  def apply(name: String, stage: Stage, handler: Stage): Handle =
    Handle(StageId(name), stage, handler)
}

/** C12 RateLimiter — token bucket (rate/sec + burst) gating work
  * submission (`ratelimiter.go:96-273`). On a cluster this throttles driver
  * batch/micro-batch submission (streaming analogs: maxFilesPerTrigger /
  * maxOffsetsPerTrigger); it must never sit inside a row-parallel operator.
  *
  * Refill math mirrors `ratelimiter.go:117-130`; wait-time math
  * `ratelimiter.go:147-160`. Modes: wait (block for tokens) | drop (error
  * immediately), `ratelimiter.go:200-261`. Stateful across calls — create
  * once, reuse (`ratelimiter.go:27-43`).
  */
final class RateLimiter(
    val id: StageId,
    private var ratePerSec: Double,
    private var burst: Int,
    private var _mode: RateLimiter.Mode = RateLimiter.Wait,
    clock: Clock = Clock.System
) {
  require(ratePerSec > 0, "rate must be positive")
  require(burst >= 1, "burst must be >= 1")

  def mode: RateLimiter.Mode = synchronized(_mode)

  private var tokens: Double = burst.toDouble
  private var lastRefill: Long = clock.nanoTime()

  private def refill(): Unit = {
    val now = clock.nanoTime()
    val elapsedSec = (now - lastRefill) / 1e9
    tokens = math.min(burst.toDouble, tokens + elapsedSec * ratePerSec) // ratelimiter.go:117-130
    lastRefill = now
  }

  /** Retune the sustained rate on a LIVE limiter (`ratelimiter.go:275-284`)
    * — an operator reacting to downstream pressure without rebuilding the
    * pipeline. Tokens are refilled at the OLD rate up to now first, so the
    * change never retroactively re-prices elapsed time. Returns `this` for
    * the reference's chaining style.
    */
  def setRate(ratePerSecond: Double): this.type = synchronized {
    require(ratePerSecond > 0, "rate must be positive")
    refill()
    ratePerSec = ratePerSecond
    this
  }

  /** Retune the burst capacity (`ratelimiter.go:286-297`); shrinking caps
    * the currently-accumulated tokens to the new burst immediately.
    */
  def setBurst(newBurst: Int): this.type = synchronized {
    require(newBurst >= 1, "burst must be >= 1")
    refill()
    burst = newBurst
    if (tokens > newBurst.toDouble) tokens = newBurst.toDouble
    this
  }

  /** Switch wait/drop behavior on a live limiter (`ratelimiter.go:299-305`). */
  def setMode(m: RateLimiter.Mode): this.type = synchronized { _mode = m; this }

  /** Acquire one token; blocks (wait mode) or throws (drop mode).
    *
    * The wait SLEEPS OUTSIDE the monitor: a waiter parked inside
    * `synchronized` would starve [[setRate]]/[[setBurst]]/[[setMode]] for
    * the whole sleep — the live-retuning knobs exist precisely for the
    * moment something is waiting. Each loop iteration re-enters the
    * monitor, refills, and re-checks under the CURRENT rate/burst/mode,
    * so a retune (or a mode switch to Drop) takes effect at the next
    * wake-up; the loop grants only on a full token (a single
    * sleep-then-clamp would let sustained throughput exceed ratePerSec
    * when a refill under-delivers).
    *
    * FAIRNESS TRADE (documented, deliberate): sleeping outside the
    * monitor removes the old implicit serialization of waiters — N
    * parked callers wake after similar waits and RACE for the next
    * token, so under sustained contention an individual caller's
    * acquire latency is unbounded even though aggregate throughput
    * stays exactly capped (the property the limiter exists for, and
    * the one the reference guarantees — `ratelimiter.go:200-261` makes
    * no per-caller ordering promise either). If bounded per-caller
    * latency ever matters, the fix is a ticket queue (wait/notify with
    * FIFO handoff) — costlier per grant and unneeded for the
    * driver-side throttling this combinator serves, where callers are
    * a handful of pipeline threads, not an open request population.
    */
  def acquire(): Unit = {
    while (true) {
      val waitMs = synchronized {
        refill()
        if (tokens >= 1.0) { tokens -= 1.0; return }
        _mode match {
          case RateLimiter.Drop =>
            SignalBus.global.emit(Signals.RateLimitDrop, id)
            throw new RuntimeException(s"${id.name}: rate limit exceeded (drop mode)") // ratelimiter.go:243-261
          case RateLimiter.Wait =>
            val needed = 1.0 - tokens
            math.max(1L, math.ceil(needed / ratePerSec * 1000).toLong) // ratelimiter.go:147-160
        }
      }
      SignalBus.global.emit(Signals.RateLimitWait, id, "waitMs" -> waitMs.toString)
      clock.sleep(waitMs)
    }
  }

  def run[A](body: => A): A = { acquire(); body }

  /** Visible for tests. */
  def availableTokens: Double = synchronized { refill(); tokens }
}

object RateLimiter {
  sealed trait Mode
  case object Wait extends Mode
  case object Drop extends Mode

  def apply(name: String, ratePerSec: Double, burst: Int,
            mode: Mode = Wait, clock: Clock = Clock.System): RateLimiter =
    new RateLimiter(StageId(name), ratePerSec, burst, mode, clock)
}

/** C13 CircuitBreaker — closed/open/half-open FSM around driver actions
  * (`circuitbreaker.go:100-282`): opens after `failureThreshold` consecutive
  * failures, fails fast while open, half-open probe after `resetTimeout`,
  * closes again after `successThreshold` consecutive successes. The
  * generation counter prevents a stale probe from corrupting a newer state
  * (`circuitbreaker.go:192-196`).
  */
final class CircuitBreaker(
    val id: StageId,
    failureThreshold: Int,
    resetTimeout: FiniteDuration,
    successThreshold: Int = 1,
    clock: Clock = Clock.System
) {
  import CircuitBreaker._
  require(failureThreshold >= 1 && successThreshold >= 1)

  private var st: State = Closed
  private var failures = 0
  private var successes = 0
  private var openedAt = 0L
  private var generation = 0L

  def state: State = synchronized { transitionIfDue(); st }

  private def transitionIfDue(): Unit =
    if (st == Open && (clock.nanoTime() - openedAt) >= resetTimeout.toNanos) {
      st = HalfOpen // circuitbreaker.go:143-157
      successes = 0
      generation += 1
      SignalBus.global.emit(Signals.BreakerHalfOpen, id)
    }

  def run[A](body: => A): A = {
    val gen = synchronized {
      transitionIfDue()
      if (st == Open) {
        SignalBus.global.emit(Signals.BreakerRejected, id)
        throw new RuntimeException(s"${id.name}: circuit breaker is open") // fail-fast, circuitbreaker.go:164-181
      }
      generation
    }
    Try(body) match {
      case Success(a) => onSuccess(gen); a
      case Failure(t) => onFailure(gen); throw t
    }
  }

  private def onSuccess(gen: Long): Unit = synchronized {
    if (gen != generation) return // stale probe, circuitbreaker.go:192-196
    st match {
      case HalfOpen =>
        successes += 1
        if (successes >= successThreshold) { // circuitbreaker.go:224-242
          st = Closed; failures = 0; successes = 0; generation += 1
          SignalBus.global.emit(Signals.BreakerClosed, id)
        }
      case Closed => failures = 0
      case Open   => ()
    }
  }

  private def onFailure(gen: Long): Unit = synchronized {
    if (gen != generation) return
    st match {
      case HalfOpen =>
        open() // a half-open failure re-opens immediately
      case Closed =>
        failures += 1
        if (failures >= failureThreshold) open() // circuitbreaker.go:250-265
      case Open => ()
    }
  }

  private def open(): Unit = {
    st = Open
    openedAt = clock.nanoTime()
    failures = 0; successes = 0; generation += 1
    SignalBus.global.emit(Signals.BreakerOpened, id)
  }
}

object CircuitBreaker {
  sealed trait State
  case object Closed extends State
  case object Open extends State
  case object HalfOpen extends State

  def apply(name: String, failureThreshold: Int, resetTimeout: FiniteDuration,
            successThreshold: Int = 1, clock: Clock = Clock.System): CircuitBreaker =
    new CircuitBreaker(StageId(name), failureThreshold, resetTimeout, successThreshold, clock)
}
