package graft

import java.nio.file.{Files, Paths}

/** [[Verify.dump]] reports a failing query loudly: `failed.json` names it
  * with its error's first line, and the queries that worked are still
  * written.
  */
class VerifySpec extends SparkSpec {

  test("a throwing query is named in failed.json and the good one is dumped") {
    val out = Files.createTempDirectory("verify").toString
    val failed = Verify.dump(spark, sf, out, Map(
      "good" -> ((s, _) => s.range(3).toDF("id")),
      "bad" -> ((_, _) => throw new IllegalStateException("boom\nsecond line"))))
    assert(failed == Seq("bad" -> "IllegalStateException: boom"))
    assert(Files.readString(Paths.get(s"$out/failed.json")) ==
      """{"bad":"IllegalStateException: boom"}""")
    assert(spark.read.parquet(s"$out/good").count() == 3)
    assert(!Files.exists(Paths.get(s"$out/bad")))
  }

  test("failed.json is {} when every query succeeds") {
    val out = Files.createTempDirectory("verify").toString
    assert(Verify.dump(spark, sf, out, Map("good" -> ((s, _) => s.range(1).toDF("id")))).isEmpty)
    assert(Files.readString(Paths.get(s"$out/failed.json")) == "{}")
  }
}
