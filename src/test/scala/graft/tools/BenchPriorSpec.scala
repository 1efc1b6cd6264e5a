package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.Bench.selectPrior]] — the bench's load self-defense depends on a
  * usable prior map, and round 12 proved the failure mode: the newest
  * `BENCH_r*.json` by round number was the driver's own in-progress
  * (query-less) wrapper, so the 1.4× re-measure trigger silently no-op'd
  * while two rows ran 4.7–5.5× their priors. This spec replays that exact
  * file set synthetically and pins the selection rules.
  */
class BenchPriorSpec extends AnyFunSuite {

  private def dirWith(files: (String, String)*): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("benchprior").toFile
    d.deleteOnExit()
    files.foreach { case (name, txt) =>
      java.nio.file.Files.write(new java.io.File(d, name).toPath,
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    d
  }

  /** A plausible completed-round payload: ≥ 20 headline keys at sf0.1. */
  private def completed(sec: Double): String = {
    val qs = graft.Bench.headline.take(25)
      .map(q => s""""$q":$sec""").mkString(",")
    s"""{"metric":"total","value":50.0,"queries":{$qs},"sf":"/root/testdata/sf0.1"}"""
  }

  test("the current round's empty in-progress file is skipped in favor of the last completed round") {
    val d = dirWith(
      "BENCH_r12.json" -> completed(0.5),
      "BENCH_r13.json" -> "") // driver's own wrapper, no queries yet
    val (file, prior) = graft.Bench.selectPrior(d, "/root/testdata/sf0.1")
    assert(file == "BENCH_r12.json")
    assert(prior.size >= 20 && prior.values.forall(_ == 0.5))
  }

  test("a wrapper with too few parsed keys is skipped too (partial write)") {
    val d = dirWith(
      "BENCH_r11.json" -> completed(1.0),
      "BENCH_r12.json" -> """{"queries":{"qa1_grouped_agg":9.9},"sf":"/root/testdata/sf0.1"}""")
    val (file, prior) = graft.Bench.selectPrior(d, "/root/testdata/sf0.1")
    assert(file == "BENCH_r11.json")
    assert(prior("qa1_grouped_agg") == 1.0)
  }

  test("a prior at a different scale factor is not a reference") {
    val d = dirWith("BENCH_r12.json" ->
      completed(0.5).replace("sf0.1", "sf0.01"))
    val (file, prior) = graft.Bench.selectPrior(d, "/root/testdata/sf0.1")
    assert(file == "none" && prior.isEmpty)
  }

  test("no files at all degrades to an empty map, never throws") {
    val d = java.nio.file.Files.createTempDirectory("benchprior").toFile
    assert(graft.Bench.selectPrior(d, "/root/testdata/sf0.1") ==
      ("none" -> Map.empty[String, Double]))
  }

  test("load-rerun threshold scales with the core count, env overrides") {
    // floor 4.0 catches the measured r12 failure (loadavg 5.65 on 32
    // cpus, old cpus/4 = 8 trigger silent); a many-core host's idle band
    // must not double-time every battery (ADVICE r13)
    assert(graft.Bench.loadThreshold(32, _ => None) == 4.0)
    assert(graft.Bench.loadThreshold(4, _ => None) == 4.0)
    assert(graft.Bench.loadThreshold(128, _ => None) == 16.0)
    assert(graft.Bench.loadThreshold(32,
      k => if (k == "SPARK_GRAFT_LOAD_THRESH") Some("2.5") else None) == 2.5)
    // malformed override falls back to the heuristic, never throws
    assert(graft.Bench.loadThreshold(32, _ => Some("not-a-number")) == 4.0)
  }

  /** A plausible committed full artifact (round 17+ format): per-pass maps
    * carry DECOY values — only the top-level "queries" minima may win.
    */
  private def completedFull(minSec: Double): String = {
    val keys = graft.Bench.headline.take(25)
    def m(sec: Double) = keys.map(q => s""""$q":$sec""").mkString("{", ",", "}")
    s"""{"schema":"graft-bench-full/1","sf":"/root/testdata/sf0.1","passes":2,""" +
      s""""pass1":${m(9.0)},"pass2":${m(8.0)},"prior":${m(7.0)},""" +
      s""""queries":${m(minSec)}}"""
  }

  test("a committed full artifact is preferred over the same round's wrapper") {
    val d = dirWith(
      "BENCH_r12.json" -> completed(1.0),
      "BENCH_FULL_r12.json" -> completedFull(0.5))
    val (file, prior) = graft.Bench.selectPrior(d, "/root/testdata/sf0.1")
    assert(file == "BENCH_FULL_r12.json")
    // the REAL JSON parse reads the top-level minima, never the per-pass
    // decoys a regex scan over the same file would have matched
    assert(prior.size >= 20 && prior.values.forall(_ == 0.5))
  }

  test("a newer wrapper still beats an older full artifact (recency first)") {
    val d = dirWith(
      "BENCH_FULL_r11.json" -> completedFull(0.5),
      "BENCH_r12.json" -> completed(1.0))
    val (file, prior) = graft.Bench.selectPrior(d, "/root/testdata/sf0.1")
    assert(file == "BENCH_r12.json")
    assert(prior("qa1_grouped_agg") == 1.0)
  }

  test("parseFullQueries tolerates malformed input and non-full shapes") {
    assert(graft.Bench.parseFullQueries("not json at all").isEmpty)
    assert(graft.Bench.parseFullQueries("""{"queries":[1,2]}""").isEmpty)
    assert(graft.Bench.parseFullQueries("""{"queries":{"q":1.5,"r":2}}""") ==
      Map("q" -> 1.5, "r" -> 2.0))
  }

  test("the real round-12 driver wrapper (nested tail string) still parses") {
    // the driver wraps the bench stdout in {n, rc, tail, parsed} — keys
    // live inside the escaped tail string; the regex extraction must see
    // through that, because those wrappers ARE the on-disk prior format
    val inner = completed(0.7).replace("\"", "\\\"")
    val d = dirWith("BENCH_r12.json" ->
      s"""{"n": 12, "rc": 0, "tail": "$inner", "parsed": null}""")
    val (file, prior) = graft.Bench.selectPrior(d, "/root/testdata/sf0.1")
    assert(file == "BENCH_r12.json")
    assert(prior.size >= 20)
  }

  test("failedJson lists each failing query with its error as valid JSON") {
    import org.json4s._
    val msg = "warmup: AnalysisException: column \"x\" not found in C:\\tmp\tend"
    val txt = graft.Bench.failedJson(Seq("ql6_minhash_candidates" -> msg, "qa1" -> ("e" * 500)))
    val parsed = org.json4s.jackson.JsonMethods.parse(txt) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case other => fail(s"not an object: $other")
    }
    assert(parsed == Map("ql6_minhash_candidates" -> msg, "qa1" -> "e" * 200))
    assert(graft.Bench.failedJson(Nil) == "{}")
  }
}
