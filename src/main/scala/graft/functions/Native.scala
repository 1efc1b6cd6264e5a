package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The higher-order-function form (`aggregate(zip_with(...))`) is
  * interpreted per element (ArrayAggregate is CodegenFallback); for a
  * 64-float dot product evaluated |corpus|×|queries| times that lambda
  * interpretation dominates. This fused expression generates a tight Java
  * loop via `doGenCode` — same float64 sequential accumulation semantics
  * (index order, dot/norms in one pass), ~an order of magnitude less
  * per-row overhead.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = Native.checkFloatArrays(left, right, prettyName)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  // null on length mismatch or a null SLOT — the HOF reference
  // (aggregate over zip_with) null-propagates both, and the function is
  // SQL-registered so arbitrary arrays are reachable (same rationale as
  // MinHashAgreement's guards). Silently truncating to min(length) or
  // unboxing a null slot to 0.0f scored malformed embeddings as
  // plausible numbers instead of a filterable NULL.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        |int $n = $a.numElements();
        |if ($n != $b.numElements()) { ${ev.isNull} = true; }
        |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
        |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |  double $x = (double) $a.getFloat($i);
        |  double $y = (double) $b.getFloat($i);
        |  $dot += $x * $y; $nx += $x * $x; $ny += $y * $y;
        |}
        |if (!${ev.isNull}) {
        |  ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused float64 dot product (same loop, no normalization). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = Native.checkFloatArrays(left, right, prettyName)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  // same null/length discipline as CosineSimilarity (HOF parity)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
        |int $n = $a.numElements();
        |if ($n != $b.numElements()) { ${ev.isNull} = true; }
        |double $dot = 0.0;
        |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
        |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        |}
        |if (!${ev.isNull}) { ${ev.value} = $dot; }
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine over int8-quantized vectors (ARRAY<TINYINT>): dot and norms
  * accumulate in 64-bit INTEGER arithmetic — exactly reproducible on any
  * engine, no float summation order to pin — with one double division at
  * the end. Pairs with `Similarity.quantizeInt8`: at production dims a
  * quantized corpus is 4x narrower than float32 in every scan, broadcast
  * and cache, which is most of the byte volume of a 100 TB ANN pass.
  */
case class CosineSimilarityInt8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<TINYINT> args, got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity_int8"
  // same null/length discipline as CosineSimilarity (HOF parity)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0L
    var nx = 0L
    var ny = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getByte(i).toLong
      val yi = y.getByte(i).toLong
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    // zero-norm guard: quantizeInt8 maps zero-norm embeddings to all-zero
    // codes, and 0/0 NaN would make downstream TopKBySim ranking
    // unpredictable — same NaN-proofing convention as NearestCentroids
    if (nx == 0L || ny == 0L) 0.0
    else dot.toDouble / (math.sqrt(nx.toDouble) * math.sqrt(ny.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        |int $n = $a.numElements();
        |if ($n != $b.numElements()) { ${ev.isNull} = true; }
        |long $dot = 0L, $nx = 0L, $ny = 0L;
        |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
        |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |  long $x = (long) $a.getByte($i);
        |  long $y = (long) $b.getByte($i);
        |  $dot += $x * $y; $nx += $x * $x; $ny += $y * $y;
        |}
        |if (!${ev.isNull}) {
        |  ${ev.value} = ($nx == 0L || $ny == 0L) ? 0.0
        |    : (double) $dot / (java.lang.Math.sqrt((double) $nx) * java.lang.Math.sqrt((double) $ny));
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused random-hyperplane LSH signature: bit p = sign of dot(emb, r_p),
  * where r_p's coefficients are derived from `xxhash64(p, i)` exactly like
  * the Column-tree form in `Similarity.hyperplaneSignatureTree` — the
  * per-(plane, index) chain `hashInt(i, hashInt(p, 42))` is precomputed
  * into a coefficient table once per expression instance.
  *
  * Why it exists: the tree form materializes planes x dim Column nodes
  * (8 planes x 64 dims = 512 already; at production embedding dims
  * 768-4096 the generated method blows past the JVM/codegen method limit
  * and Spark silently falls back to interpreted evaluation of a 100k-node
  * tree). Same argument as [[MinHashSignature]]: one tight loop per row.
  * Bit-exact vs the tree form (NativeSpec property test at dim 768).
  */
case class HyperplaneSignature(child: Expression, planes: Int, dim: Int,
                               planeOffset: Int = 0)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "hyperplane_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if planes > 0 && planes < 64 && dim > 0 && planeOffset >= 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_signature expects ARRAY<FLOAT> with 0 < planes < 64, dim > 0 and " +
        s"planeOffset >= 0, got ${child.dataType.sql} with planes=$planes dim=$dim offset=$planeOffset")
  }

  // xxhash64(p, i) = hashInt(i, hashInt(p, seed=42)); fold the modulo /
  // scale / center arithmetic in so the hot loop is one multiply-add.
  // planeOffset shifts the plane index: table t of a multi-table (banded)
  // LSH uses offset t*planes, giving each table an INDEPENDENT hyperplane
  // set from the same deterministic hash family — offset 0 is bit-exact
  // with the historical single-table form.
  @transient private lazy val coeffs: Array[Double] = {
    val c = new Array[Double](planes * dim)
    var p = 0
    while (p < planes) {
      val hp = XXH64.hashInt(planeOffset + p, 42L)
      var i = 0
      while (i < dim) {
        val h = XXH64.hashInt(i, hp)
        c(p * dim + i) = java.lang.Math.floorMod(h, 1000000L).toDouble / 1000000.0 - 0.5
        i += 1
      }
      p += 1
    }
    c
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    // Tree parity: a short array or a null element nulls EVERY plane's dot
    // (element_at/cast null-propagates through the whole sum), and a null
    // `when` predicate takes the otherwise(0) branch -> all bits 0
    if (arr.numElements() < dim) return 0L
    val e = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return 0L
      e(i) = arr.getFloat(i).toDouble
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < planes) {
      val off = p * dim
      var d = 0.0
      var j = 0
      while (j < dim) { d += e(j) * coeffs(off + j); j += 1 }
      if (d >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  // Real codegen: the signature rides every LSH bucket assignment (top-k
  // probes, near-dup self-joins, NN-Descent init) — a planes×dim fused
  // dot loop per row that must not break the surrounding codegen stage.
  // Coefficients ship once as a referenced double[].
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coeffsRef = ctx.addReferenceObj("hpCoeffs", coeffs, "double[]")
    val e = ctx.freshName("e")
    val ok = ctx.freshName("ok")
    val i = ctx.freshName("i")
    val p = ctx.freshName("p")
    val j = ctx.freshName("j")
    val off = ctx.freshName("off")
    val d = ctx.freshName("d")
    val sig = ctx.freshName("sig")
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
        |${ev.value} = 0L;
        |boolean $ok = $arr.numElements() >= $dim;
        |if ($ok) {
        |  double[] $e = new double[$dim];
        |  for (int $i = 0; $i < $dim; $i++) {
        |    if ($arr.isNullAt($i)) { $ok = false; break; }
        |    $e[$i] = (double) $arr.getFloat($i);
        |  }
        |  if ($ok) {
        |    long $sig = 0L;
        |    for (int $p = 0; $p < $planes; $p++) {
        |      int $off = $p * $dim;
        |      double $d = 0.0;
        |      for (int $j = 0; $j < $dim; $j++) { $d += $e[$j] * $coeffsRef[$off + $j]; }
        |      if ($d >= 0) $sig |= 1L << $p;
        |    }
        |    ${ev.value} = $sig;
        |  }
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid selection for IVF: returns the `nprobe` centroid ids
  * nearest to the embedding by cosine (descending sim, ties to the lower
  * id). The centroid matrix is an expression FIELD, not literal children —
  * the literal-struct Column form costs O(k·dim) plan nodes per reference
  * (k=1024 × dim=768 ≈ 800k literals), which bloats plan
  * serialization/codegen long before executor math matters. Per-row cost
  * is one fused k×dim loop with the same float64 accumulation order as
  * [[CosineSimilarity]]; NaN (zero-norm) similarities rank below every
  * real value (-2.0), matching the nanvl guard of the Column form.
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Float]], nprobe: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if centroids.nonEmpty && nprobe > 0 && nprobe <= centroids.length =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids expects ARRAY<FLOAT> with 0 < nprobe <= |centroids|, " +
        s"got ${child.dataType.sql} with nprobe=$nprobe over ${centroids.length} centroids")
  }

  /** Per-row selection on the raw array — shared by interpreted eval and
    * the generated code (which calls it directly on the child value,
    * skipping CodegenFallback's per-row InternalRow boxing while keeping
    * the surrounding stage compiled — the IVF assignment runs once per
    * corpus row).
    */
  def route(arr: ArrayData): ArrayData = {
    val k = centroids.length
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = centroids(c)
      val n = math.min(arr.numElements(), cent.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        // a null slot poisons the sim to NaN (→ -2.0 rank-last below)
        // instead of unboxing to 0.0f and routing to a plausible cell
        val x = if (arr.isNullAt(i)) Double.NaN else arr.getFloat(i).toDouble
        val y = cent(i).toDouble
        dot += x * y; nx += x * x; ny += y * y
        i += 1
      }
      val s = dot / (math.sqrt(nx) * math.sqrt(ny))
      sims(c) = if (java.lang.Double.isNaN(s)) -2.0 else s
      c += 1
    }
    val idx = Array.range(0, k).sortWith { (a, b) =>
      sims(a) > sims(b) || (sims(a) == sims(b) && a < b)
    }
    new GenericArrayData(idx.take(nprobe))
  }

  override def nullSafeEval(input: Any): Any =
    route(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("nc", this, classOf[NearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.route($arr);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Native {
  private[functions] def checkFloatArrays(left: Expression, right: Expression,
                                          name: String): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects two ARRAY<FLOAT> args, got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  /** Column faces. */
  def cosineSimilarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def cosineSimilarityInt8(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarityInt8(Bridge.expression(a), Bridge.expression(b)))

  def hyperplaneSignature(emb: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    Bridge.column(HyperplaneSignature(Bridge.expression(emb), planes, dim, planeOffset))

  def nearestCentroids(emb: Column, centroids: Array[Array[Float]], nprobe: Int): Column =
    Bridge.column(NearestCentroids(Bridge.expression(emb), centroids, nprobe))

  def pqEncode(emb: Column, centroids: Array[Array[Array[Float]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(emb), centroids))

  def pqQueryTables(emb: Column, centroids: Array[Array[Array[Float]]]): Column =
    Bridge.column(PqQueryTables(Bridge.expression(emb), centroids))

  def pqAdcCosine(tables: Column, codes: Column, centroids: Array[Array[Array[Float]]]): Column =
    Bridge.column(PqAdcCosine(Bridge.expression(tables), Bridge.expression(codes), centroids))

  def bpeTokenCount(text: Column, vocab: BpeVocab): Column =
    Bridge.column(BpeTokenCount(Bridge.expression(text), vocab))

  def bpeEncode(text: Column, encoder: BpeEncoder): Column =
    Bridge.column(BpeEncodeIds(Bridge.expression(text), encoder))

  def bpeDecode(ids: Column, encoder: BpeEncoder): Column =
    Bridge.column(BpeDecodeIds(Bridge.expression(ids), encoder))

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case _ => throw new IllegalArgumentException(s"$what must be an INT literal, got $e")
  }

  // exact-arity guard for every SQL registration: `exprs.head/exprs(1)`
  // builders silently DROP extra arguments (`hyperplane_signature(emb,
  // 8, 64, 1)` would quietly ignore the table offset and collapse
  // multi-table LSH to table 0) — the same plausible-but-wrong class the
  // colFn1 comment below calls out
  private def arity(name: String, n: Int, exprs: Seq[Expression])
                   (build: => Expression): Expression = {
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects exactly $n arguments, got ${exprs.length}")
    build
  }

  /** SQL registration (`SELECT cosine_similarity(a, b)`). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => arity("cosine_similarity", 2, exprs)(
        CosineSimilarity(exprs.head, exprs(1))), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      exprs => arity("dot_product", 2, exprs)(
        DotProduct(exprs.head, exprs(1))), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity_int8",
      exprs => arity("cosine_similarity_int8", 2, exprs)(
        CosineSimilarityInt8(exprs.head, exprs(1))), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature",
      exprs => arity("minhash_signature", 2, exprs)(
        MinHashSignature(exprs.head, intLit(exprs(1), "numHashes"))), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_bits",
      exprs => arity("simhash_bits", 1, exprs)(SimHashBits64(exprs.head)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnowing_fingerprint",
      exprs => arity("winnowing_fingerprint", 3, exprs)(
        WinnowingFingerprint(exprs.head,
          intLit(exprs(1), "k"), intLit(exprs(2), "window"))), "scala_udf")
    // 3-arg form uses planeOffset = 0 (table 0); the 4-arg form selects
    // an independent plane table for multi-table OR-amplification
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_signature",
      exprs => {
        if (exprs.length != 3 && exprs.length != 4)
          throw new IllegalArgumentException(
            s"hyperplane_signature expects (emb, planes, dim[, planeOffset]), got ${exprs.length} arguments")
        HyperplaneSignature(exprs.head, intLit(exprs(1), "planes"), intLit(exprs(2), "dim"),
          if (exprs.length == 4) intLit(exprs(3), "planeOffset") else 0)
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_agreement",
      exprs => arity("minhash_agreement", 2, exprs)(
        MinHashAgreement(exprs.head, exprs(1))), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dhash64",
      exprs => arity("dhash64", 3, exprs)(
        DHash64(exprs.head, exprs(1), exprs(2))), "scala_udf")
    // Column-composed text-analysis vocabulary: SQL users get the same
    // expressions the Stage API builds (resolved at analysis like any
    // built-in composition — codegen'd, no UDF wrapper).
    def colFn1(name: String, f: Column => Column): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, exprs => {
          // exact arity: silently dropping extra args would return
          // plausible-but-wrong results (e.g. a user-supplied redaction
          // token ignored in favor of the default)
          if (exprs.length != 1)
            throw new IllegalArgumentException(
              s"$name expects exactly 1 argument, got ${exprs.length}")
          Bridge.convertedExpression(f(Bridge.column(exprs.head)))
        }, "scala_udf")
    colFn1("dup_line_frac", graft.llm.TextAnalysis.dupLineFrac)
    colFn1("email_count", graft.llm.TextAnalysis.emailCount)
    colFn1("url_count", graft.llm.TextAnalysis.urlCount)
    colFn1("redact_contacts", graft.llm.TextAnalysis.redactContacts)
    colFn1("quality_score", graft.llm.TextAnalysis.qualityScore)
    colFn1("lang_id", graft.llm.TextAnalysis.langId)
    colFn1("normalize_text", graft.llm.TextAnalysis.normalizeText)
    colFn1("quantize_int8", graft.llm.Similarity.quantizeInt8)
    // bpe_token_count(text, '/path/to/merges.txt'): the merges path must
    // be a string LITERAL (the vocabulary is expression state, loaded once
    // per path process-wide — BpeVocab.cached — not a per-row value)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_token_count",
      exprs => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"bpe_token_count expects (text, merges_path), got ${exprs.length} arguments")
        val path = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType)
            if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"bpe_token_count merges path must be a STRING literal, got $other")
        }
        BpeTokenCount(exprs.head, BpeVocab.cached(path))
      }, "scala_udf")
    // bpe_encode(text, '/merges.txt', '/vocab.json'): tokenize to the
    // ARRAY<INT> id sequence; both paths are literals (expression state)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_encode",
      exprs => {
        if (exprs.length != 3)
          throw new IllegalArgumentException(
            s"bpe_encode expects (text, merges_path, vocab_path), got ${exprs.length} arguments")
        def strLit(e: Expression, what: String): String = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType)
            if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"bpe_encode $what must be a STRING literal, got $other")
        }
        BpeEncodeIds(exprs.head,
          BpeEncoder.cached(strLit(exprs(1), "merges path"), strLit(exprs(2), "vocab path")))
      }, "scala_udf")
    // bpe_decode(ids, '/merges.txt', '/vocab.json'): the exact inverse —
    // ARRAY<INT> ids back to text; same literal-path expression-state rule
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_decode",
      exprs => {
        if (exprs.length != 3)
          throw new IllegalArgumentException(
            s"bpe_decode expects (ids, merges_path, vocab_path), got ${exprs.length} arguments")
        def strLit(e: Expression, what: String): String = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType)
            if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"bpe_decode $what must be a STRING literal, got $other")
        }
        BpeDecodeIds(exprs.head,
          BpeEncoder.cached(strLit(exprs(1), "merges path"), strLit(exprs(2), "vocab path")))
      }, "scala_udf")
  }
}

/** Session extension installing the engine's native functions:
  * `withExtensions(new GraftExtensions)` on a session builder, or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    def exact(name: String, n: Int, exprs: Seq[Expression])(build: => Expression): Expression = {
      if (exprs.length != n)
        throw new IllegalArgumentException(
          s"$name expects exactly $n arguments, got ${exprs.length}")
      build
    }
    ext.injectFunction((FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => exact("cosine_similarity", 2, exprs)(
        CosineSimilarity(exprs.head, exprs(1)))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => exact("dot_product", 2, exprs)(
        DotProduct(exprs.head, exprs(1)))))
    ext.injectFunction((FunctionIdentifier("explode_ngrams"),
      new ExpressionInfo(classOf[ExplodeNgrams].getName, "explode_ngrams"),
      (exprs: Seq[Expression]) => exact("explode_ngrams", 2, exprs)(
        ExplodeNgrams(exprs.head, exprs(1)))))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => exact("nfc_normalize", 1, exprs)(
        NfcNormalize(exprs.head))))
  }
}
