package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native whitespace tokenizer (optimization round 21, guide §1.2 step
  * 2): `Dedup.tokens` was `filter(split(text, " "), t => t !=
  * "")` — `split` pays a java.util.regex pass and materializes every
  * EMPTY slot between consecutive spaces, and `filter` is a CodegenFallback
  * higher-order function, so every document paid an interpreted lambda
  * per slot plus a second array copy. Tokenization rides the scan of
  * every text-analysis query (MinHash signatures, token counts, quality
  * flags, BM25/TF-IDF postings, LM/NB features), so the interpreted HOF
  * was the single widest per-row cost in the LLM surface (tools/Probe:
  * the ql67 corpus tokenize stage alone was ~1.3 s of its 2.4 s at
  * sf0.1).
  *
  * This expression produces the IDENTICAL array in one pass over the
  * UTF-8 bytes: split on the space byte 0x20 (a single-byte pattern can
  * never match inside a multi-byte UTF-8 sequence, so byte scanning is
  * exact), collect only non-empty runs, each token an offset/length view
  * into one shared byte array (zero per-token copies). Bit-equality
  * against the HOF form — empties, leading/trailing/consecutive spaces,
  * tabs/newlines NOT split, non-ASCII, empty and all-space strings — is
  * spec-pinned in `TokensSpec`.
  */
case class TokensWs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "tokens_ws"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tokens_ws expects STRING, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    route(input.asInstanceOf[UTF8String])

  def route(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    val out = new java.util.ArrayList[UTF8String](8)
    var start = 0
    var i = 0
    while (i < n) {
      if (b(i) == 0x20) {
        if (i > start) out.add(UTF8String.fromBytes(b, start, i - start))
        start = i + 1
      }
      i += 1
    }
    if (n > start) out.add(UTF8String.fromBytes(b, start, n - start))
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("tk", this, classOf[TokensWs].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.route($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Tokens {
  /** Column face: non-empty space-separated tokens of `text`. */
  def tokensWs(text: Column): Column =
    Bridge.column(TokensWs(Bridge.expression(text)))
}
