package graft.runtime

import graft.SparkSpec
import graft.analytics.BucketCap
import graft.llm.Dedup

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Listener hygiene — the Verify harness runs 90+ queries on ONE session,
  * and several operators register QueryExecutionListeners (the RowSignals
  * observed-metrics bridge, the one cut bridge every bucket and df-cut
  * forwards through). A per-call leak would tax every subsequent query
  * with listener-bus fan-out and pin DataFrames in the heap; these pins
  * assert registration is idempotent at Verify scale, and a source scan
  * keeps new per-module bridges from growing back.
  */
class ListenerHygieneSpec extends SparkSpec {
  import spark.implicits._

  test("RowSignals.attach registers one bridge per (session, bus) no matter how often") {
    RowSignals.attach(spark)
    val after1 = RowSignals.attachedCount
    (1 to 50).foreach(_ => RowSignals.attach(spark))
    assert(RowSignals.attachedCount == after1,
      s"attach leaked listeners: $after1 -> ${RowSignals.attachedCount}")
  }

  test("repeated jaccard joins register exactly one df-cut bridge per session") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    Dedup.jaccardSimilarityJoin(docs, "doc_id", "text").count()
    val after1 = BucketCap.bridgedCount
    (1 to 5).foreach(_ => Dedup.jaccardSimilarityJoin(docs, "doc_id", "text").count())
    assert(BucketCap.bridgedCount == after1,
      s"df-cut bridge leaked: $after1 -> ${BucketCap.bridgedCount}")
  }

  test("repeated capped perceptual joins register exactly one bucket-cut bridge per session") {
    import org.apache.spark.sql.functions.col
    val media = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("id", "h")
    def run(): Unit = graft.sources.Multimodal.perceptualNearDupPairs(
      media, "id", "h", bands = 4, maxBucketSize = 2).count()
    run()
    val after1 = BucketCap.bridgedCount
    (1 to 5).foreach(_ => run())
    assert(BucketCap.bridgedCount == after1,
      s"bucket-cut bridge leaked: $after1 -> ${BucketCap.bridgedCount}")
  }

  test("listeners are registered only by RowSignals, Listeners, the cut bridge and the probe") {
    val root = Paths.get("src/main/scala")
    val registering = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("listenerManager.register"))
      .map(p => root.relativize(p).toString).toSet
    assert(registering == Set("graft/runtime/RowSignals.scala",
      "graft/runtime/Listeners.scala", "graft/analytics/BucketCap.scala",
      "graft/tools/Probe.scala"), s"listener registrations in $registering")
  }

  test("detach removes the bridge so per-pipeline buses can be torn down") {
    val bus = new graft.core.SignalBus(64)
    RowSignals.attach(spark, bus)
    val withBus = RowSignals.attachedCount
    RowSignals.detach(spark, bus)
    assert(RowSignals.attachedCount == withBus - 1)
  }
}
