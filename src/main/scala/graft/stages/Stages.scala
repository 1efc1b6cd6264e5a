package graft.stages

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** P1 Transform — pure per-row transformation that cannot fail
  * (`transform.go:26-35`). Expressed as a Column projection so Catalyst
  * fuses it into whole-stage codegen; the closure form lives on
  * `TypedStage.map` (documented slow path).
  *
  * Each `(name, expr)` pair either replaces or appends a column, and a
  * later pair sees an earlier one. On rows already dead in the error
  * channel the transform is skipped — dead letters flow through untouched,
  * like the reference short-circuits after failure. It is
  * [[ErrorChannel.write]] with no gate.
  */
final case class Transform(id: StageId, outs: Seq[(String, Column)]) extends Stage {
  def apply(df: DataFrame): DataFrame = ErrorChannel.write(df)(_ => outs)
}

object Transform {
  def apply(name: String)(outs: (String, Column)*): Transform =
    Transform(StageId(name), outs)
}

/** Projection-only stage (select). */
final case class Project(id: StageId, cols: Seq[Column]) extends Stage {
  def apply(df: DataFrame): DataFrame =
    if (ErrorChannel.hasChannel(df)) df.select(cols :+ col(ErrorChannel.ColName): _*)
    else df.select(cols: _*)
}

object Project {
  def apply(name: String)(cols: Column*): Project = Project(StageId(name), cols)
}

/** Row filter (relational WHERE — distinct from the C6 Filter combinator,
  * which conditionally *routes* rows through a sub-stage).
  */
final case class Where(id: StageId, cond: Column) extends Stage {
  def apply(df: DataFrame): DataFrame =
    if (ErrorChannel.hasChannel(df))
      df.filter(col(ErrorChannel.ColName).isNotNull || cond)
    else df.filter(cond)
}

object Where {
  def apply(name: String, cond: Column): Where = Where(StageId(name), cond)
}

/** P2 Apply — fallible transformation (`apply.go:37-59`). `outs` compute new
  * columns; rows where `errWhen` holds get a typed `_err` (path = this
  * stage, message from `msg`) instead of failing the whole job. A row whose
  * `errWhen` is NULL stays healthy and gets its outputs. Fail-fast
  * semantics are restored at action time by `PipelineRunner.failFast`
  * (one dead-letter count check per action, not per stage).
  *
  * One projection writes `_err` and the outputs: each output is guarded by
  * the INPUT `_err` and the inlined `errWhen`, not by the new `_err`. A
  * second projection reading the new `_err` cannot be collapsed into the
  * first (it reads `_err` more than once), so a parse shared by `errWhen`
  * and an output — qp2's `get_json_object` — ran twice per row; in one
  * projection, whole-stage codegen's subexpression elimination evaluates
  * it once. An output that reads or repeats the name of an earlier output
  * starts a further projection guarded by the new `_err`, so it sees the
  * earlier value as chained `withColumn`s would. A nondeterministic
  * `errWhen` is not inlined: `_err` is written first and every output is
  * guarded by it, so each row runs `errWhen` once and never gets both an
  * error and its outputs. Replaced columns keep their position; new ones
  * follow `_err` in `outs` order.
  */
final case class Apply(
    id: StageId,
    outs: Seq[(String, Column)],
    errWhen: Column,
    msg: Column
) extends Stage {
  def apply(df: DataFrame): DataFrame = {
    val ensured = ErrorChannel.ensure(df)
    val mark = Some(ErrorChannel.marked(id, errWhen, msg))
    // a nondeterministic errWhen inlined in the guards would run twice per
    // row and could disagree with `_err`: its outputs read the new `_err`
    if (ensured.select(errWhen).queryExecution.analyzed.expressions.forall(_.deterministic))
      ErrorChannel.write(ensured, Some(!coalesce(errWhen, lit(false))), mark = mark)(_ => outs)
    else ErrorChannel.write(ErrorChannel.write(ensured, mark = mark)(_ => Nil))(_ => outs)
  }
}

object Apply {
  def apply(name: String, errWhen: Column, msg: String)(outs: (String, Column)*): Apply =
    Apply(StageId(name), outs, errWhen, lit(msg))
}

/** P3 Effect — side effect observing the stream; data passes through
  * unchanged (`effect.go:36-58`, identity passthrough at `effect.go:42`).
  * Implemented with `Dataset.observe`: the aggregates are collected by an
  * `Observation` as a by-product of whatever action the caller runs — no
  * extra pass over the data, plan unchanged.
  */
final class Effect(val id: StageId, aggs: Seq[Column]) extends Stage {
  // Observation is single-use per plan, so each application gets a fresh
  // uniquely-named one — a reused Effect stage observes every frame, not
  // just the first (silently skipping later frames was round-1 defect #4).
  private val applications = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var current: Observation = _

  def apply(df: DataFrame): DataFrame =
    if (aggs.isEmpty) df
    else {
      val obs = new Observation(s"${id.name}#${applications.incrementAndGet()}")
      current = obs
      df.observe(obs, aggs.head, aggs.tail: _*)
    }

  /** Blocking read of the most recent application's metrics (valid after
    * its action ran).
    */
  def metrics: Map[String, Any] = {
    val obs = current
    require(obs != null, s"${id.name}: Effect not applied yet")
    obs.get
  }
}

object Effect {
  def apply(name: String)(aggs: Column*): Effect = new Effect(StageId(name), aggs)
}

/** P4 Mutate — conditional transform `if cond(x) then f(x) else x`
  * (`mutate.go:35-48`): [[ErrorChannel.write]] gated by `cond`. `cond` is
  * read once per row, against the input, so a row that matches gets every
  * output even when one overwrites a column `cond` reads; a NULL `cond`
  * leaves the row unchanged (NULL for an absent column).
  */
final case class Mutate(id: StageId, cond: Column, outs: Seq[(String, Column)]) extends Stage {
  def apply(df: DataFrame): DataFrame = ErrorChannel.write(df, Some(cond))(_ => outs)
}

object Mutate {
  def apply(name: String, cond: Column)(outs: (String, Column)*): Mutate =
    Mutate(StageId(name), cond, outs)
}

/** P5 Enrich — best-effort enhancement: try a lookup; on miss keep the
  * original value and continue (`enrich.go:38-51`, swallow at
  * `enrich.go:44-47`). The data-parallel form is a left-outer (broadcast
  * when small) join, then [[ErrorChannel.write]] of `outs` such as
  * `coalesce(enriched, fallback)`.
  */
final case class Enrich(
    id: StageId,
    dim: DataFrame,
    joinCond: Column,
    outs: Seq[(String, Column)],
    broadcastDim: Boolean = true
) extends Stage {
  def apply(df: DataFrame): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    val enriched = ErrorChannel.write(df.join(d, joinCond, "left_outer"))(_ => outs)
    dim.columns.foldLeft(enriched)((acc, c) => acc.drop(d(c)))
  }
}

object Enrich {
  def lookup(name: String, dim: DataFrame, joinCond: Column, broadcastDim: Boolean = true)(
      outs: (String, Column)*
  ): Enrich = Enrich(StageId(name), dim, joinCond, outs, broadcastDim)
}
