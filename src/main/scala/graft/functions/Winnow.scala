package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused winnowing fingerprint (Schleimer/Wilkerson/Aiken) from a token
  * array: distinct word k-grams in order → xxhash64 per gram → sliding
  * window-minima (monotonic deque, O(n) instead of the HOF's O(n·window)
  * interpreted slices) → distinct minima.
  *
  * Bit-identical to the HOF reference
  * (`HofForms.winnowingFingerprintsHof` in the tests): gram strings join
  * tokens with " ", hashes are `xxhash64(gram)` (seed 42), `len < window`
  * degenerates to one whole-array window, empty gram lists yield an empty
  * sketch.
  */
case class WinnowingFingerprint(child: Expression, k: Int, window: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowing_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k > 0 && window > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"winnowing_fingerprint expects ARRAY<STRING> with positive k/window, " +
        s"got ${child.dataType.sql} (k=$k, window=$window)")
  }

  override def nullSafeEval(input: Any): Any =
    route(input.asInstanceOf[ArrayData])

  /** Per-row fingerprint on the raw array — shared by interpreted eval
    * and the generated code (reference-call pattern: the deque logic is
    * too stateful to inline, but calling it directly on the child value
    * skips CodegenFallback's per-row InternalRow boxing and keeps the
    * surrounding stage compiled).
    */
  def route(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // distinct word k-grams in first-occurrence order (wordNgrams parity)
    val seen = new java.util.LinkedHashSet[String]()
    if (n >= k) {
      val toks = new Array[String](n)
      var i = 0
      while (i < n) { toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString; i += 1 }
      i = 0
      while (i <= n - k) {
        // array_join parity: null elements are omitted, not rendered
        val sb = new java.lang.StringBuilder()
        var j = 0
        var first = true
        while (j < k) {
          val t = toks(i + j)
          if (t != null) {
            if (!first) sb.append(' ')
            sb.append(t)
            first = false
          }
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
    }
    if (seen.isEmpty) return new GenericArrayData(Array.empty[Long])
    val hashes = new Array[Long](seen.size)
    val it = seen.iterator()
    var h = 0
    while (it.hasNext) {
      hashes(h) = XXH64.hashUTF8String(UTF8String.fromString(it.next()), 42L)
      h += 1
    }
    val m = hashes.length
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (m <= window) {
      var mn = Long.MaxValue
      var i = 0
      while (i < m) { if (hashes(i) < mn) mn = hashes(i); i += 1 }
      out.add(mn)
    } else {
      // monotonic deque of indices: head is the window minimum
      val deque = new java.util.ArrayDeque[Int]()
      var i = 0
      while (i < m) {
        while (!deque.isEmpty && hashes(deque.peekLast()) >= hashes(i)) deque.pollLast()
        deque.addLast(i)
        if (deque.peekFirst() <= i - window) deque.pollFirst()
        if (i >= window - 1) out.add(hashes(deque.peekFirst()))
        i += 1
      }
    }
    val res = new Array[Long](out.size)
    val oit = out.iterator()
    var r = 0
    while (oit.hasNext) { res(r) = oit.next(); r += 1 }
    new GenericArrayData(res)
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("wf", this, classOf[WinnowingFingerprint].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.route($arr);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Winnow {
  /** Column face (token-array input). */
  def fingerprints(tokens: Column, k: Int, window: Int): Column =
    Bridge.column(WinnowingFingerprint(Bridge.expression(tokens), k, window))
}
