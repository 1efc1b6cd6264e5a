package graft.stages

import graft.SparkSpec
import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class StagesSpec extends SparkSpec {
  import spark.implicits._

  test("Effect observes metrics as a by-product of the action (effect.go:42)") {
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "x")
    val eff = Effect("audit")(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val out = eff(df)
    assert(out.columns.toSeq == df.columns.toSeq) // passthrough
    out.write.format("noop").mode("overwrite").save()
    val m = eff.metrics
    assert(m("n") == 3L)
    assert(m("sx") == 60.0)
  }

  test("a reused Effect observes every application, not just the first") {
    val eff = Effect("audit2")(count(lit(1)).as("n"))
    val first = eff(Seq((1, 1.0), (2, 2.0)).toDF("id", "x"))
    first.write.format("noop").mode("overwrite").save()
    assert(eff.metrics("n") == 2L)
    // round-1 defect #4: a second application silently skipped observe
    val second = eff(Seq((1, 1.0), (2, 2.0), (3, 3.0)).toDF("id", "x"))
    second.write.format("noop").mode("overwrite").save()
    assert(eff.metrics("n") == 3L)
  }

  test("Enrich keeps the original value on lookup miss (enrich.go:44-47)") {
    val facts = Seq((1, "x"), (9, "y")).toDF("fid", "name")
    val base = Seq((1, "a"), (2, "b")).toDF("id", "orig")
    val enrich = Enrich.lookup("look", facts, col("id") === facts("fid"))(
      "orig" -> coalesce(facts("name"), col("orig")))
    val out = enrich(base)
    assert(rowsOf(out.select("id", "orig")) == Set(Seq(1, "x"), Seq(2, "b")))
    assert(!out.columns.contains("fid")) // dim columns dropped
  }

  test("SafeLambda.mapRecover swallows per-row failures (panic guard analog)") {
    val ds = Seq("1", "x", "3").toDS()
    val stage = SafeLambda.mapRecover[String, Int](StageId("parse"))(_.toInt)((_, _) => -1)
    assert(stage(ds).collect().toSeq == Seq(1, -1, 3))
  }

  test("SafeLambda.mapEither dead-letters failing rows with sanitized messages") {
    val ds = Seq("2", "boom").toDS()
    val stage = SafeLambda.mapEither[String, Int](StageId("parse"))(_.toInt)
    val rows = stage(ds).collect()
    assert(rows(0) == ((Some(2), None)))
    val (v, e) = rows(1)
    assert(v.isEmpty && e.get.startsWith("NumberFormatException"))
    assert(!e.get.contains("\n"))
  }

  test("sanitize strips control chars and bounds length") {
    val msg = SafeLambda.sanitize(new RuntimeException("a\tb\nSTACK" + "x" * 500))
    assert(!msg.contains("\n") && !msg.contains("\t"))
    assert(msg.length <= 256)
  }

  // --- Apply: one projection for `_err` and the outputs ---

  /** The two-projection form Apply replaced: mark `_err`, then guard each
    * output by the NEW `_err`, one `withColumn` at a time. The guard is
    * written out here, not taken from `ErrorChannel.write`, so Apply is
    * compared against an independent form.
    */
  private def chainedApply(df: DataFrame, name: String, errWhen: Column, msg: String,
                           outs: (String, Column)*): DataFrame =
    outs.foldLeft(ErrorChannel.markWhere(df, StageId(name), errWhen, lit(msg))) {
      case (d, (n, v)) =>
        val prior = if (d.columns.contains(n)) col(n) else lit(null)
        d.withColumn(n, when(col(ErrorChannel.ColName).isNull, v).otherwise(prior))
    }

  test("Apply evaluates a parse shared by errWhen and an output once per row") {
    val calls = spark.sparkContext.longAccumulator("apply_parse_calls")
    val parse = udf { (s: String) =>
      calls.add(1)
      scala.util.Try(Integer.valueOf(s)).getOrElse(null): Integer
    }
    val in = spark.range(0, 1000, 1, 2).select(col("id"),
      when(col("id") % 10 === 0, lit("x")).otherwise(col("id").cast("string")).as("raw"))
    val out = Apply("parse", parse(col("raw")).isNull, "not a number")(
      "n" -> (parse(col("raw")) * 2))(in)
    out.write.format("noop").mode("overwrite").save()
    assert(calls.value == 1000L, s"parse ran ${calls.value} times for 1000 rows")
    assert(ErrorChannel.dead(out).count() == 100)
    assert(ErrorChannel.good(out).filter(col("n") =!= col("id") * 2).count() == 0)
  }

  test("Apply runs a nondeterministic errWhen once per row and never both marks and computes") {
    val calls = spark.sparkContext.longAccumulator("apply_flaky_calls")
    // one partition, so the task's copy of `n` flips on every call: a
    // second evaluation per row would always disagree with the first
    val n = new java.util.concurrent.atomic.AtomicLong()
    val flaky = udf { () => calls.add(1); n.incrementAndGet() % 2 == 0 }.asNondeterministic()
    val out = Apply("flaky", flaky(), "flaked")("v" -> (col("id") + 1))(spark.range(0, 1000, 1, 1).toDF())
      .cache()
    try {
      assert(out.count() == 1000)
      assert(calls.value == 1000L, s"errWhen ran ${calls.value} times for 1000 rows")
      assert(ErrorChannel.dead(out).filter(col("v").isNotNull).count() == 0)
      assert(ErrorChannel.good(out).filter(col("v").isNull).count() == 0)
      assert(ErrorChannel.dead(out).count() == 500)
    } finally out.unpersist()
  }

  test("Apply keeps the chained form's schema, column order, values and NULL-errWhen rule") {
    val in = Seq((1, "5", 0.5), (2, "x", 1.5), (3, null, 2.5)).toDF("id", "raw", "w")
    val k = expr("try_cast(raw AS INT)")
    // NULL raw makes errWhen NULL: that row stays healthy and gets outputs;
    // "m" reads the earlier output "n", "w" is replaced in place
    val errWhen = col("raw") === "x"
    val outs = Seq("w" -> (k * 2.0), "n" -> k, "m" -> (col("n") + 1), "tag" -> lit("z"))
    val fused = Apply("parse", errWhen, "not a number")(outs: _*)(in)
    val chained = chainedApply(in, "parse", errWhen, "not a number", outs: _*)
    assert(fused.columns.toSeq == Seq("id", "raw", "w", "_err", "n", "m", "tag"))
    assert(fused.schema == chained.schema)
    def view(df: DataFrame) = rowsOf(df.select(col("id"), col("w"), col("n"), col("m"),
      col("tag"), col("_err.path"), col("_err.msg")))
    assert(view(fused) == view(chained))
    assert(view(fused) == Set(
      Seq(1, 10.0, 5, 6, "z", null, null),
      Seq(2, 1.5, null, null, null, Seq("parse"), "not a number"),
      Seq(3, null, null, null, "z", null, null)))
    // rows already dead keep their error and skip the outputs
    val dead = ErrorChannel.markWhere(in, StageId("up"), col("id") === 1, lit("upstream"))
    val again = Apply("parse", errWhen, "not a number")(outs: _*)(dead)
    assert(view(again) == view(chainedApply(dead, "parse", errWhen, "not a number", outs: _*)))
  }

  test("Apply shares one projection unless an output reads or repeats an earlier one") {
    def runs(outs: (String, Column)*) = ErrorChannel.projections(outs).map(_.map(_._1))
    assert(runs("a" -> lit(1), "b" -> col("x"), "c" -> expr("x + 1")) == List(Seq("a", "b", "c")))
    assert(runs("a" -> lit(1), "b" -> expr("A + 1"), "a" -> lit(2), "c" -> col("b")) ==
      List(Seq("a"), Seq("b", "a"), Seq("c")))
    assert(runs("a" -> lit(1), "s" -> struct(col("*"))) == List(Seq("a"), Seq("s")))
    assert(runs("_err" -> lit(null)) == List(Nil, Seq("_err")))
  }

  // --- Mutate: `cond` is read once per row, against the input ---

  private def mutated(df: DataFrame): Map[Int, (Any, Any)] =
    Mutate("m", col("a") > 5)("a" -> lit(0), "b" -> lit(1))(df)
      .collect().map(r => r.getAs[Int]("id") -> ((r.get(r.fieldIndex("a")), r.get(r.fieldIndex("b"))))).toMap

  test("Mutate gives a matching row every output when the first overwrites a column cond reads") {
    val in = Seq((1, 10), (2, 3)).toDF("id", "a")
    // cond re-read after `a` became 0 would leave the new column `b` NULL
    assert(mutated(in) == Map(1 -> ((0, 1)), 2 -> ((3, null))))
    assert(mutated(ErrorChannel.ensure(in)) == Map(1 -> ((0, 1)), 2 -> ((3, null))))
  }

  test("Mutate leaves NULL-cond rows and dead rows unchanged") {
    val in = Seq[(Int, Option[Int], Option[Int])]((1, Some(10), Some(7)), (2, None, Some(8)),
      (3, Some(10), Some(9))).toDF("id", "a", "b")
    val dead = ErrorChannel.markWhere(in, StageId("up"), col("id") === 3, lit("upstream"))
    assert(mutated(dead) == Map(1 -> ((0, 1)), 2 -> ((null, 8)), 3 -> ((10, 9))))
    assert(ErrorChannel.dead(Mutate("m", col("a") > 5)("a" -> lit(0))(dead)).count() == 1)
  }
}
