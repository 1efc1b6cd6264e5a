package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused PII scrub: the staged URL → email → IPv4 → phone battery
  * (four `regexp_replace` passes + the three per-class counters)
  * evaluated as ONE expression with one `java.util.regex` traversal per
  * class — count and replace happen in the SAME `Matcher` walk. It is
  * the engine's one redaction path: `TextAnalysis.redactPii` is its
  * `redacted` field, so the pretrain pipeline, the crawl state and ql46
  * all scrub through it.
  *
  * Why it exists: the relational form needs seven traversals per row
  * (URL replace, then count+replace per remaining class — even with
  * whole-stage-codegen subexpression sharing, each class's counter and
  * its replacement are separate regex walks over the same intermediate
  * string). This is the GopherGramStats argument applied to the regex
  * battery: a per-row hot path measured at seconds per bench run
  * deserves a fused implementation. Bit-exactness vs the staged column
  * form is spec-pinned (`RepetitionSpec`) — both use identical Java patterns,
  * identical match-iteration order, and literal replacements, so counts
  * and the redacted text agree byte for byte (and the DuckDB oracle's
  * staged RE2 replay is unchanged).
  *
  * Emits STRUCT<n_emails INT, n_ips INT, n_phones INT, redacted STRING>;
  * null text → null struct.
  */
case class PiiScrub(child: Expression,
                    urlPattern: String, emailPattern: String,
                    ipPattern: String, phonePattern: String)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_ips", IntegerType, nullable = false),
    StructField("n_phones", IntegerType, nullable = false),
    StructField("redacted", StringType, nullable = false)))

  override def prettyName: String = "pii_scrub"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"pii_scrub expects STRING, got ${child.dataType.sql}")
  }

  @transient private lazy val urlRe = java.util.regex.Pattern.compile(urlPattern)
  @transient private lazy val emailRe = java.util.regex.Pattern.compile(emailPattern)
  @transient private lazy val ipRe = java.util.regex.Pattern.compile(ipPattern)
  @transient private lazy val phoneRe = java.util.regex.Pattern.compile(phonePattern)

  /** One traversal: count matches and substitute `repl` (a literal — no
    * group references) in the same walk.
    */
  private def pass(re: java.util.regex.Pattern, repl: String,
                   s: String): (Int, String) = {
    val m = re.matcher(s)
    if (!m.find()) return (0, s) // fast path: no allocation when clean
    val sb = new java.lang.StringBuilder(s.length)
    var n = 0
    var last = 0
    do {
      n += 1
      sb.append(s, last, m.start()).append(repl)
      last = m.end()
    } while (m.find())
    sb.append(s, last, s.length)
    (n, sb.toString)
  }

  override def nullSafeEval(input: Any): Any =
    route(input.asInstanceOf[UTF8String])

  def route(text: UTF8String): InternalRow = {
    val t1 = pass(urlRe, "<URL>", text.toString)._2
    val (nEmails, t2) = pass(emailRe, "<EMAIL>", t1)
    val (nIps, t3) = pass(ipRe, "<IP>", t2)
    val (nPhones, t4) = pass(phoneRe, "<PHONE>", t3)
    InternalRow(nEmails, nIps, nPhones, UTF8String.fromString(t4))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pii", this, classOf[PiiScrub].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.route($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PiiScrub {
  def apply(text: Column, urlPattern: String, emailPattern: String,
            ipPattern: String, phonePattern: String): Column =
    Bridge.column(new PiiScrub(Bridge.expression(text),
      urlPattern, emailPattern, ipPattern, phonePattern))
}
