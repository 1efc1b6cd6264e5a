package graft.combinators

import graft.SparkSpec
import graft.core._
import graft.testkit.MockStage
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class ParallelSpec extends SparkSpec {
  import spark.implicits._

  private def df = (1 to 100).map(i => (i.toLong, i % 5)).toDF("id", "g")

  test("Concurrent with reducer merges branch plans in Catalyst") {
    val sums = Stage(StageId("sums"))(_.groupBy("g").agg(sum("id").as("s")))
    val counts = Stage(StageId("counts"))(_.groupBy("g").agg(count(lit(1)).as("c")))
    val con = Concurrent.reduced("con", (_, outs) => outs.head.join(outs(1), Seq("g")))(sums, counts)
    val out = con(df)
    assert(out.count() == 5)
    assert(out.filter(col("g") === 0).head().getAs[Long]("c") == 20)
  }

  test("Concurrent without branches is identity (concurrent.go:137-139)") {
    val con = Concurrent(StageId("empty"), Nil)
    assert(rowsOf(con(df)) == rowsOf(df))
  }

  test("Concurrent.runEffects runs every branch even when one fails") {
    val good = MockStage.passthrough("good")
    val bad = MockStage.failing("bad")
    val good2 = MockStage.passthrough("good2")
    val results = Concurrent(StageId("c"), Seq(good, bad, good2)).runEffects(df)
    assert(results.count(_.isSuccess) == 2)
    assert(results.count(_.isFailure) == 1)
    good.assertCalled(1); bad.assertCalled(1); good2.assertCalled(1)
  }

  test("Race.run returns the first succeeding branch and records a winner") {
    SignalBus.global.clear()
    val fast = Stage(StageId("fast"))(_.select(lit("fast").as("who")).limit(1))
    val race = Race("race")(fast, fast)
    val out = race.run(df.limit(5))
    assert(out.head().getString(0) == "fast")
    assert(SignalBus.global.emitted(Signals.RaceWinner).nonEmpty)
  }

  // Cache-lifecycle checks track the RDD IDs created in THIS test's
  // window instead of comparing global counts: suites share one session
  // and run concurrently, so a count baseline races against other
  // suites' persist/unpersist churn (observed as a rare full-suite
  // flake). Transient foreign caches landing in the window are tolerated
  // by waiting for the tracked set to drain.
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def awaitReleased(mine: Set[Int], what: String): Unit = {
    val deadline = System.currentTimeMillis + 10000
    while (System.currentTimeMillis < deadline && persisted.intersect(mine).nonEmpty)
      Thread.sleep(50)
    assert(persisted.intersect(mine).isEmpty,
      s"$what: cached frames not released: ${persisted.intersect(mine)}")
  }

  test("Race winner cache is released by close(); failed race leaks nothing") {
    val before = persisted
    val fast = Stage(StageId("fast"))(_.select(lit("x").as("who")).limit(1))
    val race = Race("race_lifecycle")(fast, fast)
    // read THROUGH the cached winner: the deciding action inside run()
    // can satisfy a trivial limit plan without building the InMemoryRelation's
    // RDD, in which case getPersistentRDDs stays empty until first reuse
    // (observed order-dependent when this test runs alone)
    race.run(df.limit(5)).count()
    val mine = persisted -- before
    assert(mine.nonEmpty, "winner should be cached while in use")
    race.close()
    awaitReleased(mine, "close() after a won race")
    // failure path: shared input must not leak either
    val beforeFail = persisted
    val bad1 = MockStage.failing("b1")
    val bad2 = MockStage.failing("b2")
    val failing = Race(StageId("race_fail"), Seq(bad1, bad2))
    intercept[RuntimeException](failing.run(df))
    failing.close()
    awaitReleased(persisted -- beforeFail, "failed race")
  }

  test("Contest winner cache is released by close()") {
    val before = persisted
    val nonEmpty = Stage(StageId("ne"))(_.limit(3))
    val contest = Contest("contest_lifecycle", _.count() > 0)(nonEmpty)
    contest.run(df)
    val mine = persisted -- before
    assert(mine.nonEmpty)
    contest.close()
    awaitReleased(mine, "contest close()")
  }

  private def awaitUncached(frame: => org.apache.spark.sql.DataFrame, what: String): Unit = {
    val deadline = System.currentTimeMillis + 10000
    while (System.currentTimeMillis < deadline && frame.storageLevel != StorageLevel.NONE)
      Thread.sleep(50)
    assert(frame.storageLevel == StorageLevel.NONE, s"$what: loser still cached at ${frame.storageLevel}")
  }

  test("Race releases a cancelled loser's cache") {
    val started = ParallelSpec.slowStarted
    val sleepy = udf { (id: Long) => ParallelSpec.slowStarted.countDown(); Thread.sleep(30000); id }
    val slowOut = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame]()
    val slow = Stage(StageId("slow"))(d => {
      slowOut.set(d.filter(col("id") === 1L).select(sleepy(col("id")).as("slept"))); slowOut.get
    })
    // the fast branch finishes only once the slow one is inside its UDF, so
    // the slow frame is persisted and its job is cancelled mid-flight
    val fast = Stage(StageId("fast"))(d => {
      started.await(10, java.util.concurrent.TimeUnit.SECONDS); d.select(lit("x").as("who")).limit(1)
    })
    val race = Race("race_loser")(fast, slow)
    // a range, not a local relation, so the UDF runs in a cancellable task
    assert(race.run(spark.range(0, 100, 1, 4).toDF()).head().getString(0) == "x")
    race.close()
    awaitUncached(slowOut.get, "race")
  }

  test("Contest releases a branch whose condition threw") {
    val thrown = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame]()
    val thrower = Stage(StageId("thrower"))(d => {
      thrown.set(d.withColumn("contest_boom", lit(1))); thrown.get
    })
    val ok = Stage(StageId("ok"))(_.limit(3))
    val contest = Contest("contest_loser", (out: org.apache.spark.sql.DataFrame) =>
      if (out.columns.contains("contest_boom")) throw new IllegalStateException("boom")
      else out.count() > 0)(thrower, ok)
    assert(contest.run(df).count() == 3)
    contest.close()
    awaitUncached(thrown.get, "contest")
  }

  test("Race.run fails only when every branch fails (race.go:143-157)") {
    val bad1 = MockStage.failing("b1")
    val bad2 = MockStage.failing("b2")
    val e = intercept[RuntimeException](Race(StageId("race"), Seq(bad1, bad2)).run(df))
    assert(e.getMessage.contains("all 2 branches failed"))
  }

  test("Contest picks the first branch whose result meets the condition") {
    val empty = Stage(StageId("empty"))(_.limit(0))
    val nonEmpty = Stage(StageId("nonempty"))(_.limit(3))
    val contest = Contest("contest", _.count() > 0)(empty, nonEmpty)
    assert(contest.run(df).count() == 3)
  }

  test("Contest with no qualifying branch raises (contest.go:174-189)") {
    val empty = Stage(StageId("empty"))(_.limit(0))
    val e = intercept[RuntimeException](Contest("c", _.count() > 0)(empty, empty).run(df))
    assert(e.getMessage.contains("no branch met the condition"))
  }

  test("Contest.apply never silently returns a non-qualifying first branch") {
    val empty = Stage(StageId("empty"))(_.limit(0))
    val nonEmpty = Stage(StageId("nonempty"))(_.limit(3))
    // branch 1 does NOT meet the condition: lazy composition must move on
    // to branch 2, not hand back branch 1 unchecked
    val out = Contest("lazy_contest", _.count() > 0)(empty, nonEmpty)(df)
    assert(out.count() == 3)
  }

  test("Contest.apply with no qualifying branch raises like run()") {
    val empty = Stage(StageId("empty"))(_.limit(0))
    val e = intercept[RuntimeException](
      Contest("lazy_none", _.count() > 0)(empty, empty)(df))
    assert(e.getMessage.contains("no branch met the condition"))
  }

  test("Contest.apply rejects nondeterministic branch plans (mirror of Race.apply)") {
    val flaky = Stage(StageId("flaky"))(_.withColumn("r", rand()))
    val e = intercept[IllegalArgumentException](
      Contest("lazy_nondet", _ => true)(flaky)(df))
    assert(e.getMessage.contains("deterministic"))
  }

  test("WorkerPool runs all branches, first error wins (workerpool.go:178-188)") {
    val m1 = MockStage.passthrough("m1")
    val m2 = MockStage.failing("m2", "pool-branch-failed")
    val m3 = MockStage.passthrough("m3")
    val e = intercept[RuntimeException] {
      WorkerPool("wp", workers = 2)(m1, m2, m3).run(df)
    }
    assert(e.getMessage.contains("pool-branch-failed"))
    m1.assertCalled(1); m2.assertCalled(1); m3.assertCalled(1)
  }

  test("WorkerPool.withTimeout: an expired task cancels and wins as first error (workerpool.go:156-161)") {
    import scala.concurrent.duration._
    val fast = MockStage.passthrough("wpt_fast")
    val slow = Stage(StageId("wpt_slow")) { d =>
      d.as[(Long, Int)].mapPartitions { it => Thread.sleep(10000); it }.toDF("id", "g")
    }
    val e = intercept[java.util.concurrent.TimeoutException] {
      WorkerPool("wpt", workers = 2)(fast, slow)
        .withTimeout(500.millis).run(df)
    }
    assert(e.getMessage.contains("deadline"))
    fast.assertCalled(1)
  }

  test("WorkerPool.withTimeout passes when every task beats the deadline (workerpool.go:238-243)") {
    import scala.concurrent.duration._
    val m1 = MockStage.passthrough("wpt_a")
    val m2 = MockStage.passthrough("wpt_b")
    val out = WorkerPool("wpt2", workers = 2)(m1, m2)
      .withTimeout(2.minutes).run(df)
    assert(out.count() == 100)
    m1.assertCalled(1); m2.assertCalled(1)
  }

  test("Scaffold returns immediately and branch errors are swallowed (scaffold.go:91-94)") {
    val bad = MockStage.failing("side")
    val sc = Scaffold("sc")(bad)
    val out = sc.run(df)
    sc.awaitQuiescence()
    assert(out.count() == 100) // input unchanged
    bad.assertCalled(1)
  }
}

object ParallelSpec {
  /** Opened by the sleeping UDF of the Race loser-cache spec; an object
    * field, so the executor's copy of the UDF reaches the same latch.
    */
  val slowStarted = new java.util.concurrent.CountDownLatch(1)
}
