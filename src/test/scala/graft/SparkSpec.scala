package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, local[4]),
  * built like every main's so the suite runs the same engine config.
  */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"
  /** The mid-size fixture root for suites whose pins need the larger
    * corpus (the TextStats/Tokens adversarial-coverage suites) — derived
    * next to [[sf]] so a moved fixture root breaks exactly one line
    * (ADVICE r21 #3).
    */
  lazy val sf01: String = "/root/testdata/sf0.01"

  def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Asserts no float-array (embedding), int8-array, or raw-binary
    * (media bytes) column rides any shuffle in the executed plan — the
    * 100 TB contract for the similarity-search tails and the multimodal
    * operators: score/hash, project to narrow ids, THEN shuffle.
    */
  def assertNoEmbeddingInExchange(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, FloatType}
    df.collect() // force execution so AQE finalizes the plan
    // AQE hides the final plan behind AdaptiveSparkPlanExec/QueryStageExec,
    // which TreeNode.collect does not descend into — walk them explicitly
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    val exchanges = nodes.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.nonEmpty, "expected at least one shuffle in the plan under test")
    // PARTIAL-mode aggregate buffers print as binary in the partial →
    // final Exchange but are bounded by the aggregate's own semantics
    // (e.g. dim structs per group for a centroid collect_list), not
    // payload columns. Exempt them STRUCTURALLY (attributes a partial
    // aggregate emits beyond its grouping keys) — a name-based exemption
    // would both miss renamed buffers and silently pass a real bytes
    // column that happened to share the name
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val partialBufferIds = nodes.collect {
      case agg: BaseAggregateExec
          if agg.aggregateExpressions.exists(e =>
            e.mode == Partial || e.mode == PartialMerge) =>
        agg.output.map(_.exprId).toSet --
          agg.groupingExpressions.map(_.toAttribute.exprId)
    }.flatten.toSet
    exchanges.foreach { e =>
      val wide = e.output.filter {
        case a => a.dataType match {
          case ArrayType(FloatType, _) => true
          case ArrayType(ByteType, _) => true // int8-quantized embeddings
          case BinaryType => !partialBufferIds.contains(a.exprId) // media payloads
          case _ => false
        }
      }
      assert(wide.isEmpty,
        s"embedding columns ${wide.map(_.name).mkString(",")} enter a shuffle:\n$e")
    }
  }
}
