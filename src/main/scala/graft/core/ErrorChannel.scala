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

  /** Guard a per-row transform so it only applies to healthy rows. */
  def onGood(df: DataFrame)(colName: String, value: Column): DataFrame =
    if (!hasChannel(df)) df.withColumn(colName, value)
    else df.withColumn(colName, guarded(df, colName, value, col(ColName).isNull))

  /** `value` where `ok` holds; elsewhere the column's current value in
    * `df` (NULL for a new column).
    */
  def guarded(df: DataFrame, colName: String, value: Column, ok: Column): Column = {
    val prev: Column = if (df.columns.contains(colName)) col(colName) else lit(null)
    when(ok, value).otherwise(prev)
  }
}
