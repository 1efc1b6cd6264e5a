package graft.combinators

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C1 Sequence — ordered fail-fast chain (`sequence.go:113-172`).
  *
  * Composition is a pure fold over lazy plans: N stages produce ONE Catalyst
  * query, preserving the reference's constant-overhead-per-pipeline shape
  * (`performance.md:28-34`). Fail-fast per row comes from the error channel
  * (dead rows skip later stages); fail-fast per job from
  * `PipelineRunner.failFast`. Combinator identity is prepended to failing
  * rows' paths (`sequence.go:146-150`).
  *
  * The reference's runtime-mutation API (`sequence.go:182-303`) maps to
  * plain immutable copies: plans are cheap values here, so `push/remove/...`
  * return a new Sequence instead of locking a shared one.
  */
final case class Sequence(id: StageId, stages: Seq[Stage]) extends Stage {
  def apply(df: DataFrame): DataFrame = {
    val out =
      try stages.foldLeft(df)((d, s) => s(d))
      catch {
        case t: Throwable =>
          SignalBus.global.emit(Signals.SequenceFailed, id, "error" -> String.valueOf(t.getMessage))
          throw t
      }
    SignalBus.global.emit(Signals.SequenceCompleted, id, "steps" -> stages.size.toString)
    ErrorChannel.prependPath(out, id)
  }

  override def plan: PlanNode = PlanNode("Sequence", id, stages.map(_.plan))
  override def close(): Unit = stages.reverse.foreach(_.close()) // LIFO, sequence.go:332-347

  // Runtime-mutation analog (immutable): sequence.go:87-91, 182-303.
  def push(s: Stage*): Sequence = copy(stages = stages ++ s)
  def unshift(s: Stage*): Sequence = copy(stages = s ++ stages)
  def pop: Sequence = copy(stages = stages.dropRight(1))
  def shift: Sequence = copy(stages = stages.drop(1))
  def remove(name: String): Sequence = copy(stages = stages.filterNot(_.id.name == name))
  def replaceStage(name: String, s: Stage): Sequence =
    copy(stages = stages.map(x => if (x.id.name == name) s else x))
  def after(name: String, s: Stage*): Sequence = {
    val i = stages.indexWhere(_.id.name == name)
    if (i < 0) this else copy(stages = stages.patch(i + 1, s, 0))
  }
  def before(name: String, s: Stage*): Sequence = {
    val i = stages.indexWhere(_.id.name == name)
    if (i < 0) this else copy(stages = stages.patch(i, s, 0))
  }
  def clear: Sequence = copy(stages = Nil)
  def names: Seq[String] = stages.map(_.id.name)
}

object Sequence {
  def apply(name: String)(stages: Stage*): Sequence = Sequence(StageId(name), stages)
}

/** C6 Filter — predicate gate: rows satisfying `cond` run through the
  * wrapped stage; others pass through unchanged (`filter.go:76-118`).
  *
  * A wrapped [[graft.stages.Transform]] runs in one pass: the row
  * observation, then [[ErrorChannel.write]] gated by `coalesce(cond,
  * false)`, so `cond` is read once per row, against the input. Any other
  * stage runs as the two-way split-and-union; Catalyst collapses the
  * trivial cases. The wrapped stage may add columns — passthrough rows get
  * NULLs there (unionByName with allowMissingColumns).
  */
final case class Filter(id: StageId, cond: Column, stage: Stage) extends Stage {
  // Composition-time signal (phase=composed) marks that a Filter entered
  // the plan; the ROW-level `filter.passed` (phase=rows, actual
  // passed/filtered counts) is emitted at action completion through the
  // observed-metrics bridge (`runtime.RowSignals`) — the reference's
  // per-item `filter.evaluated` fidelity (signals.go:128,200).
  def apply(df: DataFrame): DataFrame = {
    SignalBus.global.emit(Signals.FilterPassed, id,
      "through" -> stage.id.name, "phase" -> "composed")
    applyRouted(df)
  }

  private def applyRouted(df: DataFrame): DataFrame = stage match {
    // Single-pass fast path: a pure projection route compiles to
    // `when(cond, expr)` per column — ONE scan instead of two (the
    // split-union form re-reads the source per branch, which at 100 TB
    // doubles the scan).
    case t: graft.stages.Transform =>
      val gate = coalesce(cond, lit(false))
      val obs = graft.runtime.RowSignals.observe(df, Signals.FilterPassed, id, "gate", Seq(
        count(when(gate, 1)).as("rows_passed"),
        count(when(!gate, 1)).as("rows_filtered")))
      ErrorChannel.prependPath(ErrorChannel.write(obs, Some(gate))(_ => t.outs), id)
    case _ =>
      // per-branch observation: the input subtree executes once per branch,
      // so observing it BEFORE the split would double-count
      val processed = stage(graft.runtime.RowSignals.observe(
        df.filter(cond), Signals.FilterPassed, id, "passed",
        Seq(count(lit(1)).as("rows_passed"))))
      val passthrough = graft.runtime.RowSignals.observe(
        df.filter(!coalesce(cond, lit(false))), Signals.FilterPassed, id, "passthrough",
        Seq(count(lit(1)).as("rows_filtered")))
      val out = processed.unionByName(passthrough, allowMissingColumns = true)
      ErrorChannel.prependPath(out, id)
  }
  override def plan: PlanNode = PlanNode("Filter", id, Seq(stage.plan))
  override def close(): Unit = stage.close()
}

object Filter {
  def apply(name: String, cond: Column, stage: Stage): Filter =
    Filter(StageId(name), cond, stage)
}

/** C5 Switch — route each row by a key expression to a per-route sub-stage;
  * unmatched rows pass through unchanged (`switch.go:86-127`, no-route
  * passthrough at `switch.go:104-107`).
  *
  * When every route is a [[graft.stages.Transform]], the routes compile to
  * one `CASE key WHEN …` chain per output name, written by
  * [[ErrorChannel.write]] with `key` read once per row, against the input;
  * other routes become filter→stage→unionByName branches. Routes are an
  * immutable map; `addRoute`/`removeRoute` return copies
  * (`switch.go:130-190` analog).
  */
final case class Switch(id: StageId, key: Column, routes: Seq[(String, Stage)]) extends Stage {
  def apply(df: DataFrame): DataFrame = {
    if (routes.isEmpty) {
      // no routes at all: everything is a passthrough (switch.go:104-107)
      SignalBus.global.emit(Signals.SwitchNoRoute, id)
      return df
    }
    SignalBus.global.emit(Signals.SwitchRouted, id,
      "routes" -> routes.map(_._1).mkString(","), "phase" -> "composed")
    val out =
      if (routes.forall(_._2.isInstanceOf[graft.stages.Transform]))
        singlePass(df) // one scan: routes compile to a CASE WHEN chain
      else splitUnion(df)
    ErrorChannel.prependPath(out, id)
  }

  /** Pure-projection routes become one `CASE key WHEN … THEN expr` chain
    * per produced column — ONE scan of the input instead of one per route
    * plus passthrough (the split-union form costs routes+1 source scans,
    * which is the difference between 1× and 4× IO at 100 TB).
    */
  private def singlePass(df: DataFrame): DataFrame = {
    // one scan, one observation: routed vs no-route counts ride the scan
    // (row-level switch.routed fidelity — see runtime.RowSignals)
    val matched = coalesce(key.isin(routes.map(r => lit(r._1)): _*), lit(false))
    val obs = graft.runtime.RowSignals.observe(df, Signals.SwitchRouted, id, "all", Seq(
      count(when(matched, 1)).as("rows_routed"),
      count(when(!matched, 1)).as("rows_no_route")))
    val outs = routes.map { case (k, s) => k -> s.asInstanceOf[graft.stages.Transform].outs }
    ErrorChannel.write(obs, Some(key), gated = false) { k =>
      outs.flatMap(_._2.map(_._1)).distinct.map { name =>
        val prior: Column = if (df.columns.contains(name)) col(name) else lit(null)
        name -> outs.foldRight(prior) { case ((route, routeOuts), acc) =>
          routeOuts.collectFirst { case (`name`, v) => when(k === lit(route), v).otherwise(acc) }.getOrElse(acc)
        }
      }
    }
  }

  private def splitUnion(df: DataFrame): DataFrame = {
    val keys = routes.map(_._1)
    // per-branch observations (the input subtree executes once per branch)
    val branches = routes.map { case (k, s) =>
      s(graft.runtime.RowSignals.observe(
        df.filter(key === lit(k)), Signals.SwitchRouted, id, s"route=$k",
        Seq(count(lit(1)).as("rows_routed"))))
    }
    val passthrough = graft.runtime.RowSignals.observe(
      df.filter(!coalesce(key.isin(keys.map(lit): _*), lit(false))),
      Signals.SwitchNoRoute, id, "passthrough",
      Seq(count(lit(1)).as("rows_no_route")))
    (branches :+ passthrough).reduce(_.unionByName(_, allowMissingColumns = true))
  }
  override def plan: PlanNode =
    PlanNode("Switch", id, routes.map { case (k, s) =>
      PlanNode("Route", StageId(k), Seq(s.plan))
    })
  override def close(): Unit = routes.foreach(_._2.close())

  def addRoute(k: String, s: Stage): Switch = copy(routes = routes :+ (k -> s))
  def removeRoute(k: String): Switch = copy(routes = routes.filterNot(_._1 == k))
  def hasRoute(k: String): Boolean = routes.exists(_._1 == k)
}

object Switch {
  def apply(name: String, key: Column)(routes: (String, Stage)*): Switch =
    Switch(StageId(name), key, routes)
}

/** C7 Fallback — try alternatives in order; first success wins
  * (`fallback.go:68-144`). Row-level: each alternative computes a value and
  * an error predicate; the row takes the first non-erroring alternative,
  * i.e. an ordered `coalesce` over guarded expressions. All-fail rows get a
  * dead letter with this stage's path (`fallback.go:122-142`).
  */
final case class Fallback(
    id: StageId,
    out: String,
    alternatives: Seq[Column]
) extends Stage {
  // Composition-time signal (phase=composed) marks that a Fallback entered
  // the plan; the ROW-level emission (phase=rows, actual resolved /
  // all-alternatives-failed counts) fires at action completion through the
  // observed-metrics bridge — same fidelity contract as Filter/Switch
  // (`fallback.go:122-142` records the per-item fallback outcome).
  def apply(df: DataFrame): DataFrame = {
    if (alternatives.size > 1)
      SignalBus.global.emit(Signals.FallbackTriggered, id,
        "alternatives" -> alternatives.size.toString, "phase" -> "composed")
    val base = ErrorChannel.write(df)(_ => Seq(out -> coalesce(alternatives: _*)))
    val marked = ErrorChannel.markWhere(
      base, id, col(out).isNull,
      lit(s"all ${alternatives.size} alternatives failed")
    )
    graft.runtime.RowSignals.observe(marked, Signals.FallbackTriggered, id, "rows", Seq(
      count(when(col(out).isNull, 1)).as("rows_failed"),
      count(when(col(out).isNotNull, 1)).as("rows_resolved")))
  }
}

object Fallback {
  def apply(name: String, out: String)(alternatives: Column*): Fallback =
    Fallback(StageId(name), out, alternatives)
}
