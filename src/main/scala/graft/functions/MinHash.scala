package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Fused md5-derived 60-bit token ids: element j = the first 15 hex
  * nibbles of md5(token_j) as an unsigned long — bit-identical to the HOF
  * form `transform(toks, t => conv(substring(md5(t), 1, 15), 16, 10)
  * .cast(long))` (`HofForms.tokenIds64Hof` in the tests, the
  * bit-exactness spec), but one digest + an 8-byte big-endian read per
  * token instead of five interpreted expression dispatches plus a hex
  * round-trip (digest →
  * 32-char hex string → substring → string-parse). Null tokens map to
  * null ids (md5-of-null parity).
  */
case class Md5TokenIds64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "md5_token_ids"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"md5_token_ids expects ARRAY<STRING>, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    route(input.asInstanceOf[ArrayData])

  def route(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    val md = Md5TokenIds64.digest.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // first 15 hex nibbles = big-endian first 8 bytes >>> 4
        val top =
          ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        out(i) = top >>> 4
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("mid", this, classOf[Md5TokenIds64].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.route($arr);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5TokenIds64 {
  /** One MessageDigest per task thread: the expression object backing the
    * codegen reference is shared across every row a thread evaluates, so a
    * per-row `getInstance` would be pure allocation churn in the fused hot
    * path; `reset()` in the row loop keeps reuse sound.
    */
  private[functions] val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/** Fused MinHash signature: entry i = min over tokens of xxhash64(i, token).
  *
  * Bit-identical to the HOF form
  * `transform(sequence(0, k-1), i => array_min(transform(toks, t =>
  * xxhash64(i, t))))` — per-seed chaining replicated via the same XXH64
  * primitives (`xxhash64(i, t)` = `hashUTF8String(t, hashInt(i, 42))`,
  * seeds precomputed once) — but evaluated as one tight loop per row.
  *
  * Why it exists: the HOF chain interprets TWO nested lambdas per (seed,
  * token) pair and allocates a k-element array per seed; for k=64 over a
  * 100 TB corpus the lambda interpretation dominates candidate generation.
  * Same argument as the native cosine (`Native.scala`): hot-path per-row
  * expressions deserve a fused implementation.
  *
  * Accepts ARRAY<STRING> (hash the UTF-8 bytes) or ARRAY<BIGINT> (hash
  * the 8-byte block — `xxhash64(i, id)` = `hashLong(id, hashInt(i, 42))`).
  * The long form exists for ORACLE-EXPRESSIBLE signatures: one 8-byte
  * XXH64 block has a closed-form mul/rotate/xor chain replicable in SQL
  * (the ql15 HUGEINT technique), while variable-length string hashing
  * does not — `Dedup.tokenIds64` maps tokens to md5-derived ids on both
  * engines, making the whole LSH candidate set hash-checkable (Q-L6).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  // returns null for an EMPTY token array regardless of input nullability —
  // without this override a non-nullable child would let the optimizer
  // miscompile IsNull/IsNotNull filters over the signature (the LSH
  // pipeline filters null signatures)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) if numHashes > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects ARRAY<STRING> or ARRAY<BIGINT> and a positive " +
        s"hash count, got ${child.dataType.sql} with numHashes=$numHashes")
  }

  private lazy val longTokens: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  // xxhash64(i, t) starts from seed 42 and chains hashInt(i) then the
  // token value; the per-i prefix is constant, so precompute all k seeds
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var t = 0
    while (t < n) {
      if (arr.isNullAt(t)) {
        // HOF parity: xxhash64(i, NULL) skips the null child and leaves the
        // per-seed prefix hash — a null token contributes seeds(h) as a
        // min candidate (MinHashSpec pins this against the HOF form)
        var h = 0
        while (h < numHashes) {
          if (seeds(h) < mins(h)) mins(h) = seeds(h)
          h += 1
        }
      } else if (longTokens) {
        val v0 = arr.getLong(t)
        var h = 0
        while (h < numHashes) {
          val v = XXH64.hashLong(v0, seeds(h))
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      } else {
        val s = arr.getUTF8String(t)
        var h = 0
        while (h < numHashes) {
          val v = XXH64.hashUTF8String(s, seeds(h))
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      t += 1
    }
    // EMPTY token array → null signature so callers can filter it (the HOF
    // form would yield [null × k], unusable and violating containsNull)
    if (n == 0) null else new GenericArrayData(mins)
  }

  // Real codegen (not CodegenFallback): the signature is THE per-row hot
  // loop of every LSH candidate path — falling back to interpreted eval
  // inside an otherwise codegen'd stage costs a row-boxing round trip per
  // document. The generated loop is the same XXH64 chain via the class's
  // static methods; seeds ship as a referenced long[].
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val seedsRef = ctx.addReferenceObj("mhSeeds", seeds, "long[]")
    val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    val n = ctx.freshName("n")
    val mins = ctx.freshName("mins")
    val t = ctx.freshName("t")
    val h = ctx.freshName("h")
    val v = ctx.freshName("v")
    val e = ctx.freshName("e")
    val declAndCall: String => (String, String) =
      if (longTokens)
        arr => (s"long $e = $arr.getLong($t);",
          s"$xxh.hashLong($e, $seedsRef[$h])")
      else
        arr => (s"org.apache.spark.unsafe.types.UTF8String $e = $arr.getUTF8String($t);",
          s"$xxh.hashUTF8String($e, $seedsRef[$h])")
    nullSafeCodeGen(ctx, ev, arr => {
      val (decl, call) = declAndCall(arr)
      s"""
        |int $n = $arr.numElements();
        |if ($n == 0) {
        |  ${ev.isNull} = true;
        |} else {
        |  long[] $mins = new long[$numHashes];
        |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
        |  for (int $t = 0; $t < $n; $t++) {
        |    if ($arr.isNullAt($t)) {
        |      for (int $h = 0; $h < $numHashes; $h++) {
        |        if ($seedsRef[$h] < $mins[$h]) $mins[$h] = $seedsRef[$h];
        |      }
        |    } else {
        |      $decl
        |      for (int $h = 0; $h < $numHashes; $h++) {
        |        long $v = $call;
        |        if ($v < $mins[$h]) $mins[$h] = $v;
        |      }
        |    }
        |  }
        |  ${ev.value} = new $gad($mins);
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused 64-bit SimHash (Charikar): per token ONE xxhash64, each bit votes
  * ±1, output = sign vector as 0/1 ints.
  *
  * Bit-identical to the HOF reference (`HofForms.simHashBitsHof` in the
  * tests) — which recomputes `xxhash64(token)` once per BIT (64×
  * redundant hashing) and folds 64-element arrays through interpreted
  * lambdas per token. The
  * fused form hashes each token once and votes in a tight loop.
  */
case class SimHashBits64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "simhash_bits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"simhash_bits expects ARRAY<STRING>, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Long](64)
    var t = 0
    while (t < n) {
      // HOF parity: xxhash64(NULL) leaves the seed (42) — a null token
      // still votes with the seed's bits
      val h =
        if (arr.isNullAt(t)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(t), 42L)
      var i = 0
      while (i < 64) {
        votes(i) += (if (((h >>> i) & 1L) != 0L) 1L else -1L)
        i += 1
      }
      t += 1
    }
    val bits = new Array[Int](64)
    var i = 0
    while (i < 64) { bits(i) = if (votes(i) > 0) 1 else 0; i += 1 }
    new GenericArrayData(bits)
  }

  // Real codegen: one hash + 64 votes per token, compiled in-stage like
  // the other signature expressions.
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    val n = ctx.freshName("n")
    val votes = ctx.freshName("votes")
    val bits = ctx.freshName("bits")
    val t = ctx.freshName("t")
    val h = ctx.freshName("h")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
        |int $n = $arr.numElements();
        |long[] $votes = new long[64];
        |for (int $t = 0; $t < $n; $t++) {
        |  long $h = $arr.isNullAt($t) ? 42L
        |    : $xxh.hashUTF8String($arr.getUTF8String($t), 42L);
        |  for (int $i = 0; $i < 64; $i++) {
        |    $votes[$i] += ((($h >>> $i) & 1L) != 0L) ? 1L : -1L;
        |  }
        |}
        |int[] $bits = new int[64];
        |for (int $i = 0; $i < 64; $i++) { $bits[$i] = ($votes[$i] > 0) ? 1 : 0; }
        |${ev.value} = new $gad($bits);
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused MinHash agreement count: number of equal slots in two signatures
  * — `est_jaccard = agreement / numHashes`. One tight loop per pair.
  *
  * Why it exists: the HOF form (`zip_with` + `aggregate`) interprets two
  * lambdas per slot, which forced the LSH candidate path to DEDUP pairs
  * before scoring — and therefore to shuffle both full signature arrays
  * (~1 KB/pair at 64 hashes) through the dedup Exchange. With scoring
  * this cheap it runs BEFORE the dedup, so the Exchange carries only
  * (doc_a, doc_b, est) — the narrow-shuffle rule the similarity tails
  * already follow. Bit-equal to the HOF form (`NativeHofProps`).
  */
case class MinHashAgreement(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "minhash_agreement"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_agreement expects two ARRAY<BIGINT> signatures, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      // HOF parity on NULL slots: `when(a === b, 1).otherwise(0)` yields 0
      // whenever either side is null — including null vs null (=== is not
      // null-safe). Signatures from MinHashSignature have no null slots,
      // but the function is SQL-registered, so arbitrary ARRAY<BIGINT>
      // with nulls is reachable; an unguarded getLong would unbox a null
      // slot to 0 and count null-vs-null (or null-vs-0) as agreement.
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  // Real codegen: agreement runs once per band COLLISION inside the ql6
  // join — the scoring half of the narrow-shuffle design (see scaladoc)
  // deserves the same compiled loop as the signature half.
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val n = ctx.freshName("n")
    val c = ctx.freshName("c")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |int $c = 0;
        |for (int $i = 0; $i < $n; $i++) {
        |  if (!$a.isNullAt($i) && !$b.isNullAt($i) && $a.getLong($i) == $b.getLong($i)) $c++;
        |}
        |${ev.value} = $c;
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** First band index (0-based) on which two signatures' band hashes agree,
  * or -1 when none does — `bands` equal-width slices, each hashed with the
  * xxhash64-over-ARRAY chain the banding projection uses
  * (`xxhash64(slice(mh, b*r+1, r))`: fold from seed 42, null slots
  * skipped), so "agrees on band b" here is EXACTLY the band join's
  * `a.bh = b.bh` condition (optimization round 21, guide §2.4).
  *
  * Why it exists: a pair whose signatures collide in k bands came out of
  * the LSH band self-join k times, and the batch path deduplicated those
  * copies with `dropDuplicates(doc_a, doc_b)` — a full Exchange plus two
  * HashAggregates over every collision row (tools/Probe at sf0.1: the
  * measured majority of ql6 after the scan). All k copies are IDENTICAL
  * rows, and each carries both full signatures — so each row can decide
  * locally whether ITS band is the pair's first agreeing band and only
  * that one survive: same single row per pair, zero shuffle. Equivalence
  * requires every agreeing band's collision row to actually exist, which
  * holds exactly on the UNCAPPED path (a capped bucket may have dropped
  * the first-agreeing band's row) — callers keep the dedup when capping.
  */
case class MinHashFirstBand(left: Expression, right: Expression, bands: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "minhash_first_band"
  // null on length mismatch / non-divisible length — impossible for
  // signatures from one MinHashSignature call, but a filterable NULL
  // beats a wrong band index if mixed-parameter frames ever meet
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) if bands >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_first_band expects two ARRAY<BIGINT> signatures and bands >= 1, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql} with bands=$bands")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    route(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Boxed so codegen can assign null through one path. */
  def route(x: ArrayData, y: ArrayData): java.lang.Integer = {
    val n = x.numElements()
    if (n != y.numElements() || n % bands != 0) return null
    val r = n / bands
    var b = 0
    while (b < bands) {
      var ha = 42L
      var hb = 42L
      var j = b * r
      val end = j + r
      while (j < end) {
        // xxhash64-over-array parity: a null slot leaves the hash unchanged
        if (!x.isNullAt(j)) ha = XXH64.hashLong(x.getLong(j), ha)
        if (!y.isNullAt(j)) hb = XXH64.hashLong(y.getLong(j), hb)
        j += 1
      }
      if (ha == hb) return Integer.valueOf(b)
      b += 1
    }
    Integer.valueOf(-1)
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("fb", this, classOf[MinHashFirstBand].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Integer ${ev.value}Out = $ref.route($a, $b);
      if (${ev.value}Out == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}Out.intValue(); }
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused LSH banding projection: element b = xxhash64 of the signature's
  * b-th equal-width slice — bit-identical to the HOF form
  * `transform(sequence(0, bands-1), b => xxhash64(slice(sig, b*r+1, r)))`
  * (`HofForms.bandHashesHof` in the tests, the bit-exactness spec; fold
  * from seed 42, null slots skipped — the XxHash64-over-array chain), but
  * one tight loop per row instead of `bands` interpreted lambdas each
  * allocating an r-element slice (optimization round 22, guide §4).
  *
  * Emitting the band-hash ARRAY (instead of only posexploding it away)
  * is what lets the collision rows downstream decide the pair's first
  * agreeing band with an O(bands) array comparison
  * ([[FirstEqualSlot]]) instead of re-hashing both full signatures per
  * collision row ([[MinHashFirstBand]] — up to 2×numHashes XXH64 calls
  * per row, the measured ql53 round-21 regression).
  *
  * Accepts ARRAY<BIGINT> (MinHash signatures; hashLong chain) or
  * ARRAY<INT> (SimHash bit vectors; hashInt chain). The signature length
  * must divide evenly into `bands` — mixed-parameter frames fail LOUDLY
  * (ADVICE r21 #2: a filterable NULL on the dedup-critical path silently
  * dropped pairs).
  */
case class BandHashes(child: Expression, bands: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | ArrayType(IntegerType, _) if bands >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"band_hashes expects ARRAY<BIGINT> or ARRAY<INT> and bands >= 1, " +
        s"got ${child.dataType.sql} with bands=$bands")
  }

  private lazy val intElems: Boolean = child.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    route(input.asInstanceOf[ArrayData])

  def route(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n % bands != 0)
      throw new IllegalArgumentException(
        s"band_hashes: signature length $n is not divisible by bands=$bands " +
          "(frame built with different banding parameters)")
    val r = n / bands
    val out = new Array[Long](bands)
    var b = 0
    var j = 0
    while (b < bands) {
      var h = 42L
      val end = j + r
      while (j < end) {
        // xxhash64-over-array parity: a null slot leaves the hash unchanged
        if (!arr.isNullAt(j)) {
          h = if (intElems) XXH64.hashInt(arr.getInt(j), h)
              else XXH64.hashLong(arr.getLong(j), h)
        }
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("bhs", this, classOf[BandHashes].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.route($arr);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** First index (0-based) where two band-hash arrays agree, or -1 when none
  * does — the O(bands) companion of [[BandHashes]]: with both sides'
  * band-hash arrays carried through the band self-join,
  * `a.band === first_equal_slot(a.bha, b.bha)` keeps exactly one
  * collision row per pair (the first agreeing band's), replacing both the
  * `dropDuplicates` Exchange AND [[MinHashFirstBand]]'s per-collision-row
  * re-hashing of the full signatures.
  *
  * Null slots never agree (band hashes from [[BandHashes]] are non-null;
  * the guard covers SQL-registered misuse). Mismatched lengths and a NULL
  * array fail LOUDLY — two frames banded with different parameters, or a
  * row that lost its band hashes, meeting in one join is a pipeline bug,
  * and a NULL or otherwise filterable result would silently drop the
  * pair in the `a.band === first_equal_slot(...)` filter (ADVICE r21
  * #1/#2, r22 #1). The result is therefore never NULL.
  */
case class FirstEqualSlot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_equal_slot"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"first_equal_slot expects two ARRAY<BIGINT>, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) throw nullArray(a == null)
    route(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  def nullArray(leftIsNull: Boolean): IllegalArgumentException =
    new IllegalArgumentException(
      s"first_equal_slot: NULL band-hash array (${if (leftIsNull) left.sql else right.sql}) " +
        "— a banded row without band hashes would silently drop its pairs")

  def route(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"first_equal_slot: mismatched band counts ($n vs ${y.numElements()}) " +
          "— banded frames built with different parameters")
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) return i
      i += 1
    }
    -1
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("fes", this, classOf[FirstEqualSlot].getName)
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      if (${a.isNull} || ${b.isNull}) throw $ref.nullArray(${a.isNull});
      int ${ev.value} = $ref.route(${a.value}, ${b.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinHash {
  /** Column face. */
  def signature(tokens: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(tokens), numHashes))

  /** Column face for the fused banding projection. */
  def bandHashes(sig: Column, bands: Int): Column =
    Bridge.column(BandHashes(Bridge.expression(sig), bands))

  /** Column face for the first agreeing slot of two band-hash arrays. */
  def firstEqualSlot(a: Column, b: Column): Column =
    Bridge.column(FirstEqualSlot(Bridge.expression(a), Bridge.expression(b)))

  /** Column face for the first agreeing band index. */
  def firstBand(a: Column, b: Column, bands: Int): Column =
    Bridge.column(MinHashFirstBand(Bridge.expression(a), Bridge.expression(b), bands))

  /** Column face for the fused agreement count. */
  def agreement(a: Column, b: Column): Column =
    Bridge.column(MinHashAgreement(Bridge.expression(a), Bridge.expression(b)))

  /** Column face for the fused SimHash. */
  def simHashBits(tokens: Column): Column =
    Bridge.column(SimHashBits64(Bridge.expression(tokens)))

  /** Column face for the fused md5-derived 60-bit token ids. */
  def md5TokenIds64(tokens: Column): Column =
    Bridge.column(Md5TokenIds64(Bridge.expression(tokens)))

  /** Per-slot seed prefixes (`xxhash64(i, t)` = hash of t from seed
    * `hashInt(i, 42)`), shared by [[MinHashSignature]], the mergeable
    * [[graft.functions.Aggregators.MinHashSketch]] and the streaming
    * sketch state — ONE hash chain so batch and streamed signatures are
    * bit-identical.
    */
  def seeds(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  /** Fold a token chunk into a running min vector IN PLACE. MinHash is a
    * mergeable sketch: min is associative/commutative, so folding chunks
    * in any order/grouping equals [[MinHashSignature]] over the
    * concatenated tokens (null tokens contribute the bare seed, matching
    * the expression's HOF-parity rule).
    */
  def updateMins(mins: Array[Long], tokens: Iterator[String], seeds: Array[Long]): Unit =
    tokens.foreach { t =>
      if (t == null) {
        var h = 0
        while (h < seeds.length) {
          if (seeds(h) < mins(h)) mins(h) = seeds(h)
          h += 1
        }
      } else {
        val s = org.apache.spark.unsafe.types.UTF8String.fromString(t)
        var h = 0
        while (h < seeds.length) {
          val v = XXH64.hashUTF8String(s, seeds(h))
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
    }
}
