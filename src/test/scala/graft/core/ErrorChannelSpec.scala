package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ErrorChannelSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq((1, "a"), (2, ""), (3, "c")).toDF("id", "v")

  test("ensure attaches a null _err column once") {
    val e = ErrorChannel.ensure(df)
    assert(e.columns.contains("_err"))
    assert(ErrorChannel.ensure(e).columns.count(_ == "_err") == 1)
    assert(e.filter(col("_err").isNotNull).count() == 0)
  }

  test("markWhere marks matching rows and leaves the rest healthy") {
    val m = ErrorChannel.markWhere(df, StageId("validate"), col("v") === "", lit("empty v"))
    assert(ErrorChannel.dead(m).count() == 1)
    assert(ErrorChannel.good(m).count() == 2)
    val err = ErrorChannel.dead(m).select(col("_err.path"), col("_err.msg")).head()
    assert(err.getSeq[String](0) == Seq("validate"))
    assert(err.getString(1) == "empty v")
  }

  test("prependPath builds outermost-first paths (sequence.go:146-150)") {
    val m = ErrorChannel.markWhere(df, StageId("inner"), col("id") === 2, lit("boom"))
    val p = ErrorChannel.prependPath(m, StageId("outer"))
    val path = ErrorChannel.dead(p).select(col("_err.path")).head().getSeq[String](0)
    assert(path == Seq("outer", "inner"))
  }

  test("dead rows are skipped by onGood transforms") {
    val m = ErrorChannel.markWhere(df, StageId("x"), col("id") === 2, lit("boom"))
    val t = ErrorChannel.write(m)(_ => Seq("v" -> upper(col("v"))))
    val vals = t.orderBy("id").select("v").as[String].collect().toSeq
    assert(vals == Seq("A", "", "C")) // row 2 untouched
  }

  test("release rejects a name collision instead of duplicating the column") {
    val m = ErrorChannel.markWhere(df.withColumn("err", lit("user data")),
      StageId("x"), col("id") === 2, lit("boom"))
    val e = intercept[IllegalArgumentException](ErrorChannel.release(m))
    assert(e.getMessage.contains("already has a column"))
    // a non-colliding name works and keeps exactly one copy
    val ok = ErrorChannel.release(m, as = "dead_err")
    assert(ok.columns.count(_ == "dead_err") == 1 && !ok.columns.contains("_err"))
  }

  test("timeout/canceled flags ride the error struct (error.go:18-26)") {
    val to = ErrorChannel.markWhere(df, StageId("deadline"), col("id") === 1,
      lit("too slow"), timeout = true)
    val both = ErrorChannel.markWhere(to, StageId("killed"), col("id") === 2,
      lit("job canceled"), canceled = true)
    assert(both.filter(ErrorChannel.isTimeout).count() == 1)
    assert(both.filter(ErrorChannel.isCanceled).count() == 1)
    // healthy rows read false (null-safe accessors, error.go:68-84)
    assert(both.filter(ErrorChannel.isTimeout && ErrorChannel.isCanceled).count() == 0)
    assert(both.filter(!ErrorChannel.isTimeout && !ErrorChannel.isCanceled).count() == 1)
  }

  test("prependPath preserves timeout/canceled flags") {
    val m = ErrorChannel.markWhere(df, StageId("inner"), col("id") === 2,
      lit("slow"), timeout = true)
    val p = ErrorChannel.prependPath(m, StageId("outer"))
    val row = ErrorChannel.dead(p)
      .select(col("_err.path"), col("_err.timeout"), col("_err.canceled")).head()
    assert(row.getSeq[String](0) == Seq("outer", "inner"))
    assert(row.getBoolean(1) && !row.getBoolean(2))
  }
}
