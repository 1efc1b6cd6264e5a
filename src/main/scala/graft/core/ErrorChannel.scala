package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-level typed error channel.
  *
  * The reference attaches a rich `Error[T]` (`error.go:18-26` — timestamp,
  * input, message, path of stage identities) to the single in-flight value
  * and fails the call. A data-parallel engine cannot fail a 100 TB job for
  * one bad row, so the same information rides along as a `_err` column:
  *
  *   `_err: STRUCT<path: ARRAY<STRING>, msg: STRING, ts: TIMESTAMP>`
  *
  * NULL `_err` = healthy row. Rows with a non-null `_err` are "dead letters":
  * downstream stages skip them (every stage transform is guarded by
  * `_err IS NULL`), `Handle` routes them into a handler pipeline
  * (`handle.go:69-120` analog) and `PipelineRunner.failFast` turns a
  * non-zero dead-letter count into a job failure (`apply.go:44-55` analog)
  * without forcing an action per stage.
  *
  * Path semantics follow the reference's prepend rule (`sequence.go:146-150`):
  * outer combinators prepend their name, so `path` reads outermost-first.
  */
object ErrorChannel {
  val ColName = "_err"

  val errType: StructType = StructType(Seq(
    StructField("path", ArrayType(StringType, containsNull = false)),
    StructField("msg", StringType),
    StructField("ts", TimestampType),
    StructField("timeout", BooleanType),
    StructField("canceled", BooleanType)
  ))

  def hasChannel(df: DataFrame): Boolean = df.columns.contains(ColName)

  /** Attach an all-null `_err` column if absent. */
  def ensure(df: DataFrame): DataFrame =
    if (hasChannel(df)) df
    else df.withColumn(ColName, lit(null).cast(errType))

  /** Expression constructing an error value for the current row. The
    * timeout/canceled flags mirror the reference `Error[T]` fields
    * (`error.go:18-26`, accessors `error.go:68-84`) so dead-letter triage
    * can separate deadline/cancellation from data failures.
    */
  def errValue(stage: StageId, msg: Column,
               timeout: Boolean = false, canceled: Boolean = false): Column =
    struct(
      array(lit(stage.name)).as("path"),
      msg.as("msg"),
      current_timestamp().as("ts"),
      lit(timeout).as("timeout"),
      lit(canceled).as("canceled")
    ).cast(errType)

  /** Mark rows matching `cond` (and not already dead) as errored. */
  def markWhere(df: DataFrame, stage: StageId, cond: Column, msg: Column,
                timeout: Boolean = false, canceled: Boolean = false): DataFrame =
    ensure(df).withColumn(ColName, marked(stage, cond, msg, timeout, canceled))

  /** The `_err` value after marking rows where `cond` holds: a row already
    * dead keeps its error, and a NULL `cond` leaves the row healthy.
    */
  def marked(stage: StageId, cond: Column, msg: Column,
             timeout: Boolean = false, canceled: Boolean = false): Column =
    when(col(ColName).isNull && cond, errValue(stage, msg, timeout, canceled))
      .otherwise(col(ColName))

  /** IsTimeout/IsCanceled accessors (`error.go:68-84`): null-safe — healthy
    * rows read false.
    */
  def isTimeout: Column = coalesce(col(s"$ColName.timeout"), lit(false))
  def isCanceled: Column = coalesce(col(s"$ColName.canceled"), lit(false))

  /** Prepend a combinator's name onto the path of already-errored rows —
    * the reference's path-prepend (`sequence.go:146-150`).
    */
  def prependPath(df: DataFrame, outer: StageId): DataFrame =
    if (!hasChannel(df)) df
    else df.withColumn(
      ColName,
      when(
        col(ColName).isNotNull,
        struct(
          concat(array(lit(outer.name)), col(s"$ColName.path")).as("path"),
          col(s"$ColName.msg").as("msg"),
          col(s"$ColName.ts").as("ts"),
          col(s"$ColName.timeout").as("timeout"),
          col(s"$ColName.canceled").as("canceled")
        ).cast(errType)
      ).otherwise(col(ColName))
    )

  /** Healthy rows only (error column dropped). */
  def good(df: DataFrame): DataFrame =
    if (!hasChannel(df)) df
    else df.filter(col(ColName).isNull).drop(ColName)

  /** Healthy rows with the channel kept (for further staged processing). */
  def goodKeep(df: DataFrame): DataFrame =
    if (!hasChannel(df)) ensure(df) else df.filter(col(ColName).isNull)

  /** Dead-letter rows (error column kept — the handler needs it). */
  def dead(df: DataFrame): DataFrame =
    if (!hasChannel(df)) df.limit(0)
    else df.filter(col(ColName).isNotNull)

  /** Hand dead letters to a handler as LIVE data: the typed error struct
    * moves from the channel column to a regular `err` column. Stages skip
    * rows whose `_err` is set (short-circuit-after-failure), so a handler
    * pipeline fed raw dead letters would pass them through untouched; the
    * reference instead hands the handler the `*Error[T]` as its input
    * value (`handle.go:96`) — this is that conversion.
    */
  def release(df: DataFrame, as: String = "err"): DataFrame =
    if (!hasChannel(df)) df
    else {
      // silent rename onto an existing column would produce a duplicate
      // name and AMBIGUOUS_REFERENCE at the handler's first col(as)
      require(!df.columns.contains(as),
        s"release: frame already has a column '$as' — pass a different `as` name")
      df.withColumnRenamed(ColName, as)
    }

  /** The one guarded row write behind every row stage. Each output is
    * `value` on the rows that are healthy (`_err IS NULL`; every row of a
    * frame without the channel, which does not gain one) and pass the
    * gate, and the column's prior value (NULL for a new column) on the
    * rest.
    *
    * `read` is evaluated once per row against the INPUT rows and handed
    * to `outs`: it is the gate when `gated`, else a routing key that
    * `outs` compiles into its values (Switch). The outputs split into
    * [[projections]] runs, one `withColumns` each, so a later output
    * sees an earlier one as chained `withColumn`s would. One run reads
    * only input values; with more, `read` is pinned to a hidden column
    * (collision-free, dropped afterwards) so a later run is not gated or
    * routed by values an earlier run overwrote. `mark`, when given, is
    * the new `_err`, written in the first run; it must kill exactly the
    * rows the gate shuts out, so the gate guards the first run only and
    * later runs read it from `_err` without a pin.
    */
  private[graft] def write(df: DataFrame, read: Option[Column] = None, gated: Boolean = true,
                           mark: Option[Column] = None)(
      outs: Column => Seq[(String, Column)]): DataFrame = {
    var pin = "__graft_pin__"
    while (df.columns.contains(pin)) pin += "_"
    // runs are split with `read` as an opaque column: its own references
    // never end a run, since it is read against the input either way
    val split = projections(outs(col(pin)))
    val pinned = read.isDefined && split.size > 1 && mark.isEmpty
    val r = if (pinned) col(pin) else read.getOrElse(lit(true))
    val values = outs(r).iterator
    val runs = split.map(_.map(_ => values.next()))
    val written = runs.zipWithIndex.foldLeft(if (pinned) df.withColumn(pin, read.get) else df) {
      case (d, (run, i)) =>
        val healthy = if (hasChannel(d)) Some(col(ColName).isNull) else None
        val gate = if (gated && (i == 0 || mark.isEmpty)) read.map(_ => r) else None
        val guard = (healthy ++ gate).reduceOption(_ && _)
        val cols = run.map { case (name, value) =>
          val prior = if (d.columns.contains(name)) col(name) else lit(null)
          name -> guard.fold(value)(g => when(g, value).otherwise(prior))
        }
        val all = (if (i == 0) mark.map(ColName -> _).toSeq else Nil) ++ cols
        // a ListMap keeps `outs` order for the appended columns
        if (all.isEmpty) d else d.withColumns(scala.collection.immutable.ListMap(all: _*))
    }
    if (pinned) written.drop(pin) else written
  }

  /** Split `outs` into runs that can share one projection. A run ends
    * before an output that repeats one of its names (or, in the first run,
    * `_err`) or may read one of them. Splitting more than needed only
    * costs a projection, so names compare case-insensitively and an
    * output whose references cannot be listed (a star) always starts a run.
    */
  private[graft] def projections(outs: Seq[(String, Column)]): List[Seq[(String, Column)]] =
    outs.foldLeft(Vector(Vector.empty[(String, Column)])) { (runs, out) =>
      val names = runs.last.map(o => lower(o._1)).toSet
      val clash = names(lower(out._1)) ||
        (runs.size == 1 && lower(out._1) == lower(ColName))
      val reads = names.nonEmpty && references(out._2).forall(_.exists(names))
      if (clash || reads) runs :+ Vector(out) else runs.init :+ (runs.last :+ out)
    }.toList

  private def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** First name parts of the columns `c` reads; None when it may read any. */
  private def references(c: Column): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.analysis.{Star, UnresolvedAttribute, UnresolvedRegex}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    val e = org.apache.spark.sql.graft.Bridge.convertedExpression(c)
    if (e.exists { case _: Star | _: UnresolvedRegex => true; case _ => false }) None
    else Some(e.collect {
      case a: UnresolvedAttribute => lower(a.nameParts.head)
      case a: Attribute => lower(a.name)
    }.toSet)
  }
}
