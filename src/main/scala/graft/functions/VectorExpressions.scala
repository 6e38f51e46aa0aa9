package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the vector kernels of the similarity
  * operators. Spark's higher-order array functions (`aggregate`,
  * `zip_with`) evaluate their lambdas INTERPRETED — one
  * `InterpretedEvaluator` round-trip per element — which measured ~40×
  * slower than a fused loop on the similarity hot path. These
  * expressions participate in whole-stage codegen (`doGenCode` emits the
  * tight Java loop directly into the generated stage), so the dot
  * product compiles into the same pipeline as the surrounding
  * filter/project.
  *
  * Summation order is left-to-right, identical to both the
  * `aggregate`-based formulation and DuckDB's `list_reduce` — results
  * are bit-identical to the oracle.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // Mismatched lengths → NULL (a corrupt vector must not yield a
  // plausible-looking partial dot; matches the zip_with+aggregate HOF
  // formulation, which null-pads and propagates NULL). NULL ELEMENTS are
  // read as 0.0 — embeddings are non-null-element arrays by contract.
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      if (x.numElements() != y.numElements()) null
      else {
        val n = x.numElements()
        var s = 0.0
        var i = 0
        while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
        s
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** sqrt(Σ x_i²) with the same left-to-right accumulation as the
  * `aggregate` formulation and the DuckDB oracle.
  */
case class L2Norm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Ordinal bucket index of a double key against a PINNED sorted
  * boundary array: `count of boundaries <= key` via
  * `java.util.Arrays.binarySearch` over a codegen-referenced `double[]`
  * — the per-row bucket assignment of the one-shuffle terasort
  * ([[graft.ops.Scale.globalCumMaxPerGroup]]). The expression exists
  * because both SQL-level spellings measured badly at 1B+ rows: a
  * higher-order `aggregate` over an m-element literal array runs its
  * lambda interpreted per element (sf100 q_peak_concurrency 402 s),
  * and a nested when-TREE (O(log m) lazily-evaluated branches) pushes
  * the generated stage past the codegen method limits so the whole
  * window stage falls back to interpreted (218 s); this kernel is a
  * 3-line binary search inside whole-stage codegen (~82 s, the
  * two-exchange profile's floor). Boundaries are distinct and sorted
  * (the caller dedupes); an exact hit counts as `<=` (index + 1), a
  * miss takes the insertion point.
  */
case class BucketIndex(child: Expression, boundaries: Array[Double])
    extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bucket"

  override protected def nullSafeEval(a: Any): Any = {
    val i = java.util.Arrays.binarySearch(boundaries, a.asInstanceOf[Double])
    if (i >= 0) i + 1 else -i - 1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.addReferenceObj("gmBounds", boundaries, "double[]")
      val i = ctx.freshName("i")
      s"""
         |int $i = java.util.Arrays.binarySearch($b, $a);
         |${ev.value} = ($i >= 0) ? $i + 1 : -$i - 1;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BucketIndex =
    copy(child = newChild)
}

/** Matched-component count of two minhash signature arrays
  * (`array<bigint>`): the per-candidate-pair collision estimator of the
  * LSH tier (`est_jaccard = graft_sigmatch(a, b) / NumHashes`). This is
  * the highest-volume surviving loop in the engine — one evaluation per
  * candidate pair (sf100: 145M pairs) — so it must be a fused codegen
  * loop, not interpreted `aggregate`/`zip_with` lambdas (PERF.md
  * Finding 1: ≈40× per-element interpreter overhead).
  *
  * Exact HOF parity (the reference formulation stays in the parity
  * spec): positions beyond the shorter array contribute 0 — `zip_with`
  * null-pads and `when(x === y, …)` reads the padded comparison as
  * false — so the count runs to min(|a|, |b|). NULL array → NULL, and
  * a NULL ELEMENT at either position counts as a non-match (`x === y`
  * is null, `when` reads it false — same as the HOF). The per-element
  * null checks are emitted ONLY when an input's ArrayType declares
  * containsNull, so minhash signatures (containsNull=false) keep the
  * branch-free hot loop.
  */
case class SigMatch(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

  override def prettyName: String = "graft_sigmatch"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<BIGINT> inputs, got ${l.sql}, ${r.sql}")
    }

  /** Whether either input's type admits NULL elements — decided at
    * plan time, so the containsNull=false hot path (minhash
    * signatures) emits no per-element null branches.
    */
  private def mayHaveNullElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val checkNulls = mayHaveNullElems
    var c = 0
    var i = 0
    while (i < n) {
      if (!(checkNulls && (x.isNullAt(i) || y.isNullAt(i))) &&
          x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val nullGuard =
        if (mayHaveNullElems) s"!($a.isNullAt($i) || $b.isNullAt($i)) && " else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($nullGuard$a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatch =
    copy(left = newLeft, right = newRight)
}

/** Native text-fingerprint expressions: thin codegen wrappers over the
  * static [[TextKernels]] methods, so the kernel call is emitted
  * directly into the whole-stage-generated Java (no UDF closure
  * dispatch, no UTF-8 → String decode, no reflective output
  * re-encoding). NEVER null on output: a null document hashes like the
  * empty document, exactly as the UDF reference implementations in
  * `TextExpressionsSpec` behave (asserted by its parity tests).
  */
abstract class TextKernelExpression extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  /** Fully-qualified static kernel method name spliced into codegen. */
  protected def kernelMethod: String
  protected def kernel(u: org.apache.spark.unsafe.types.UTF8String): ArrayData

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    val value = ev.value
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData $value =
          $kernelMethod(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }
}

case class MinHashSig(child: Expression) extends TextKernelExpression {
  override def prettyName: String = "graft_minhash"
  override protected def kernelMethod: String = "graft.functions.TextKernels.minhashSig"
  override protected def kernel(u: org.apache.spark.unsafe.types.UTF8String): ArrayData =
    TextKernels.minhashSig(u)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

case class WinnowFingerprints(child: Expression) extends TextKernelExpression {
  override def prettyName: String = "graft_winnow"
  override protected def kernelMethod: String = "graft.functions.TextKernels.winnow"
  override protected def kernel(u: org.apache.spark.unsafe.types.UTF8String): ArrayData =
    TextKernels.winnow(u)
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** Static kernel behind [[HyperplaneSig]]: the random-hyperplane LSH
  * signature of an `array<double>` embedding. The Planes×Dim matrix is
  * deterministic from splitmix64 (components uniform in [-1, 1]) and
  * shared with the UDF reference `TextExpressionsSpec.embSigUdf`.
  */
object VecKernels {
  final val Planes = 12
  final val Dim = 64

  final val PlanesFlat: Array[Double] = Array.tabulate(Planes * Dim) { i =>
    (Math.floorMod(TextKernels.splitmix64(i.toLong), 2001L) - 1000L) / 1000.0
  }

  def hyperplaneSig(a: ArrayData): Long = {
    val n = a.numElements()
    var sig = 0L
    var j = 0
    while (j < Planes) {
      var dot = 0.0
      var c = 0
      val base = j * Dim
      while (c < Dim && c < n) { dot += a.getDouble(c) * PlanesFlat(base + c); c += 1 }
      if (dot > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** 64-bit SimHash of a document as a codegen expression (static
  * [[TextKernels.simhash]] kernel; same structure as
  * [[TextKernelExpression]] but scalar-valued). Never null: a null
  * document casts no votes and hashes to 0, matching the UDF reference
  * `TextExpressionsSpec.simhashUdf`.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{LongType, StringType}

  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextKernels.simhash(child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code + code"""
        long ${ev.value} =
          graft.functions.TextKernels.simhash(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Random-hyperplane LSH signature of an `array<double>` embedding as a
  * codegen expression. NULL embedding → NULL signature (the row drops
  * out of the bucket join), matching the UDF reference
  * `TextExpressionsSpec.embSigUdf`.
  */
case class HyperplaneSig(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

  override def prettyName: String = "graft_embsig"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> input, got ${t.sql}")
  }

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.hyperplaneSig(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VecKernels.hyperplaneSig($a);")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Word n-grams (sliding or strided-chunk) as a codegen expression over
  * the byte-level [[TextKernels.wordNGrams]] kernel. `n`/`stride` are
  * plan-time constants (they parameterize the generated call site
  * directly). Never null: a null document yields an empty gram array,
  * matching the UDF references in `TextExpressionsSpec`.
  */
case class WordNGrams(child: Expression, n: Int, stride: Int) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ArrayType, StringType}

  require(n > 0 && stride > 0, s"n and stride must be positive, got n=$n stride=$stride")

  override def prettyName: String = "graft_word_ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextKernels.wordNGrams(
      child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.TextKernels.wordNGrams(${c.isNull} ? null : ${c.value}, $n, $stride);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

/** Distinct 3-word shingles of a document as a codegen expression over
  * the byte-level [[TextKernels.shingleSet]] kernel: the LSH verify set,
  * equal to `array_distinct` over the `transform` of `split(text, " ")`
  * windows joined by U+0001 (fewer than 3 tokens → `[text]`). NULL →
  * NULL, as the builtin form gives under ANSI mode.
  */
case class ShingleSet(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def prettyName: String = "graft_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleSet(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingleSet($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** Exact shingle-set Jaccard of two documents as a codegen expression
  * over [[TextKernels.shingleJaccard]]: the value of
  * `size(array_intersect(graft_shingles(a), graft_shingles(b))) /
  * size(array_union(graft_shingles(a), graft_shingles(b)))` from one
  * tokenizer pass per text, with no shingle array materialized. NULL if
  * either text is NULL.
  */
case class ShingleJaccard(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_shingle_jaccard"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two STRING inputs, got ${left.dataType.sql}, ${right.dataType.sql}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.shingleJaccard(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.shingleJaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)
}

/** Content-defined chunks of a document as a codegen expression over
  * the byte-level [[TextKernels.cdcChunks]] kernel (boundary = low-4-
  * bits-zero splitmix64 of the token's FNV hash; see the kernel
  * scaladoc for the shift-robustness property). Never null: a null
  * document chunks like the empty document (one empty chunk).
  */
case class CdcChunks(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def prettyName: String = "graft_cdc_chunks"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextKernels.cdcChunks(
      child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.TextKernels.cdcChunks(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** Unicode NFC normalization (`string → string`) as a codegen
  * expression over the JVM's `java.text.Normalizer` — the first step
  * of any text-dedup key at corpus scale (visually identical strings
  * with different codepoint sequences must collapse BEFORE hashing).
  * An ASCII fast path skips the normalizer entirely: web corpora are
  * overwhelmingly ASCII per byte, and NFC(ASCII) is the identity.
  * NULL → NULL.
  */
object NfcKernel {
  /** Static kernel spliced into codegen. */
  def nfc(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (u == null) return null
    // getByte addresses the backing memory directly — getBytes would
    // COPY the full string per row for UnsafeRow-backed inputs, which
    // defeats the point of a fast path on a 100 TB scan
    val n = u.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) { if ((u.getByte(i) & 0x80) != 0) ascii = false; i += 1 }
    if (ascii) u
    else {
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
      else org.apache.spark.unsafe.types.UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }
}

case class NfcNormalize(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_nfc"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(a: Any): Any =
    NfcKernel.nfc(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NfcKernel.nfc($a);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Single-pass dedup-key text normalization:
  * `lower(trim(regexp_replace(regexp_replace(s, "[^a-zA-Z0-9 ]", ""), " +", " ")))`
  * as ONE byte-level scan — strip everything outside [a-zA-Z0-9 ],
  * collapse space runs, trim, ASCII-lowercase. Bit-identical to the
  * regex chain (the kept class is pure ASCII, so every UTF-8
  * continuation/lead byte ≥ 0x80 is stripped exactly like the regex
  * strips the code point), but without two java.util.regex rewrites and
  * their per-row allocations — measured 820 µs/doc for the regex chain
  * at sf100, the single largest CPU line in the text-pipeline scans.
  * NULL → NULL.
  */
object NormTextKernel {
  def normText(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (u == null) return null
    val n = u.numBytes()
    val out = new Array[Byte](n)
    var i = 0
    var o = 0
    var pendingSpace = false
    while (i < n) {
      val c = u.getByte(i)
      val lower = c >= 'a' && c <= 'z'
      val upper = c >= 'A' && c <= 'Z'
      val digit = c >= '0' && c <= '9'
      if (lower || upper || digit) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = if (upper) (c + 32).toByte else c
        o += 1
      } else if (c == ' ') {
        pendingSpace = true // emitted only if a kept char follows (trim + collapse)
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(
      java.util.Arrays.copyOf(out, o))
  }
}

case class NormText(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_normtext"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(a: Any): Any =
    NormTextKernel.normText(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NormTextKernel.normText($a);")

  override protected def withNewChildInternal(newChild: Expression): NormText =
    copy(child = newChild)
}

object RunCountKernel {
  /** Number of MAXIMAL separator runs in `u` — the match count of the
    * regex `" +"` (ws=false) or `"\s+"` (ws=true, the Java default
    * ASCII class `[ \t\n\x0B\f\r]`), so `runs + 1` is exactly
    * `size(split(u, sep, -1))`: Java split with a negative limit keeps
    * leading/trailing empties, making segments = separator runs + 1
    * (including `"" → [""]`). Byte-pass safe: every class byte is
    * ASCII and UTF-8 continuation bytes are ≥ 0x80.
    */
  def countRuns(u: org.apache.spark.unsafe.types.UTF8String, ws: Boolean): Int = {
    val n = u.numBytes()
    var runs = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val c = u.getByte(i)
      val hit = c == 0x20.toByte || (ws && c >= 0x09.toByte && c <= 0x0d.toByte)
      if (hit) {
        if (!inRun) { runs += 1; inRun = true }
      } else inRun = false
      i += 1
    }
    runs
  }
}

/** `graft_runs(text, ws)` — separator-run count backing the
  * [[graft.plans.TextKernelRewriteRule]] token-count rewrites for the
  * REGEX split idioms: `size(split(c, " +"))` = `graft_runs(c, false) + 1`
  * and `size(split(c, "\\s+"))` = `graft_runs(c, true) + 1`, replacing a
  * java.util.regex split + per-row array with one byte pass.
  */
case class CountRuns(child: Expression, ws: Boolean) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{IntegerType, StringType}

  override def prettyName: String = "graft_runs"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(a: Any): Any =
    RunCountKernel.countRuns(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], ws)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.RunCountKernel.countRuns($a, $ws);")

  override protected def withNewChildInternal(newChild: Expression): CountRuns =
    copy(child = newChild)
}

/** Precomputed BPE merge model behind [[BpeApply]] — the greedy
  * lowest-rank-pair decoder of `graft.ops.Llm.bpeEncode` (Sennrich et
  * al. 2016 §3; the GPT-2 reference encoder) as a reusable JVM kernel.
  * `pairs` is the trained merge list in rank order, each entry
  * `"l r"` (symbols never contain spaces — words come from
  * `split(text, ' ')`). The lookups intern every merge participant to
  * a dense int id once per JVM (transient lazy, rebuilt after plan
  * serialization), so the per-word loop compares ints and probes one
  * (l,r)-packed long hash — no string equality in the hot path.
  * Duplicate (l,r) entries keep the LAST rank, replicating the UDF
  * reference's `toMap` (unreachable from [[graft.ops.Llm.bpeTrain]]
  * output: a merged pair can never re-form, but user-supplied lists
  * must behave identically).
  */
final class BpeModel(pairs: Array[String]) extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  @transient private lazy val lookups = {
    val symId = new java.util.HashMap[UTF8String, Integer]()
    def id(s: String): Int = {
      val u = UTF8String.fromString(s)
      var v = symId.get(u)
      if (v == null) { v = Integer.valueOf(symId.size()); symId.put(u, v) }
      v.intValue()
    }
    val n = pairs.length
    val mergeL = new Array[Int](n)
    val mergeR = new Array[Int](n)
    val outId = new Array[Int](n)
    val outStr = new Array[UTF8String](n)
    val pairRank = new java.util.HashMap[java.lang.Long, Integer]()
    var r = 0
    while (r < n) {
      val p = pairs(r)
      val sp = p.indexOf(' ')
      val l = p.substring(0, sp)
      val rt = p.substring(sp + 1)
      mergeL(r) = id(l); mergeR(r) = id(rt); outId(r) = id(l + rt)
      outStr(r) = UTF8String.fromString(l + rt)
      pairRank.put( // unconditional: last rank wins, as in the UDF's toMap
        java.lang.Long.valueOf((mergeL(r).toLong << 32) | (mergeR(r).toLong & 0xffffffffL)),
        Integer.valueOf(r))
      r += 1
    }
    (symId, pairRank, mergeL, mergeR, outId, outStr)
  }

  /** Greedy decode: repeatedly merge the adjacent pair with the LOWEST
    * merge rank until none applies. Symbols outside the merge
    * vocabulary (id −1, including null elements) pass through untouched
    * and never match a pair — exactly the UDF reference's
    * `getOrElse(MaxValue)` (`TextExpressionsSpec.bpeEncodeUdf`).
    */
  def encode(syms: ArrayData): ArrayData = {
    val (symId, pairRank, mergeL, mergeR, outId, outStr) = lookups
    var n = syms.numElements()
    val ids = new Array[Int](n)
    val strs = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      val u = syms.getUTF8String(i)
      strs(i) = u
      val v = if (u == null) null else symId.get(u)
      ids(i) = if (v == null) -1 else v.intValue()
      i += 1
    }
    var done = n < 2
    while (!done) {
      var best = Int.MaxValue
      var j = 0
      while (j < n - 1) {
        if (ids(j) >= 0 && ids(j + 1) >= 0) {
          val r = pairRank.get(java.lang.Long.valueOf(
            (ids(j).toLong << 32) | (ids(j + 1).toLong & 0xffffffffL)))
          if (r != null && r.intValue() < best) best = r.intValue()
        }
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val la = mergeL(best)
        val ra = mergeR(best)
        var w = 0
        var k = 0
        while (k < n) {
          if (k + 1 < n && ids(k) == la && ids(k + 1) == ra) {
            ids(w) = outId(best); strs(w) = outStr(best); w += 1; k += 2
          } else { ids(w) = ids(k); strs(w) = strs(k); w += 1; k += 1 }
        }
        n = w
        done = n < 2
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(strs, n).asInstanceOf[Array[Any]])
  }
}

/** BPE greedy encoding of a symbol array (`array<string>` →
  * `array<string>`) as a codegen expression: the whole merge loop is one
  * [[BpeModel.encode]] call emitted into the generated stage, replacing
  * the JVM UDF closure on the engine's slowest scalar gate (the
  * `graft_sigmatch` promotion precedent measured −33…−42% on kernel
  * swaps). The merge list is a plan-time constant (the tokenizer model,
  * ~30k entries in production) shipped once per plan via the codegen
  * reference array, not per row. NULL symbol array → NULL.
  */
case class BpeApply(child: Expression, merges: Seq[String]) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def prettyName: String = "graft_bpe_apply"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> input, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)

  @transient private lazy val model = new BpeModel(merges.toArray)

  override protected def nullSafeEval(a: Any): Any =
    model.encode(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $modelRef.encode($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)
}

/** Token-set kernels over the `split(text, " ")` tokenization, without
  * the regex split or the per-row array. Tokens are the byte segments
  * between single 0x20 bytes (split keeps empty segments; 0x20 never
  * occurs inside a UTF-8 multi-byte sequence, so byte segmentation IS
  * the code-point segmentation). [[StopSet.count]] is the OCCURRENCE
  * count of stop-set tokens — `size(filter(words, _.isin(stops)))`,
  * zero allocation. [[StopSet.stats]] is the one-pass form of the
  * classifier feature trio — `size(words)` / `size(array_distinct
  * (words))` / `size(array_intersect(words, stops))` (the intersect is
  * DISTINCT-stops-present, per array_intersect's set semantics).
  */
class StopSet(stops: Array[String]) extends Serializable {
  @transient private lazy val stopBytes: Array[Array[Byte]] =
    stops.map(_.getBytes("UTF-8"))

  /** Open-addressing FNV-1a probe table, built once per JVM (transient
    * lazy, like [[BpeModel.lookups]]). The original per-token LINEAR
    * scan was fine at the production 12-stopword sets but degraded
    * linearly with user-supplied lists; the hash probe is O(1) per
    * token at any list size. A 64-bit length bitmask rejects most
    * non-stop tokens before hashing at all (token lengths ≥ 64 only
    * ever compare against the rare same-length stops — handled by the
    * bit-63 bucket). Duplicate stop entries keep the FIRST index,
    * matching the linear scan's first-match-wins.
    */
  @transient private lazy val probe: (Array[Int], Array[Int], Long) = {
    val sb = stopBytes
    var cap = 4
    while (cap < sb.length * 4) cap <<= 1
    val tabHash = new Array[Int](cap)
    val tabIdx = new Array[Int](cap)
    java.util.Arrays.fill(tabIdx, -1)
    var lenMask = 0L
    var s = 0
    while (s < sb.length) {
      val b = sb(s)
      lenMask |= 1L << math.min(b.length, 63)
      var h = -2128831035 // FNV-1a 32-bit offset basis
      var j = 0
      while (j < b.length) { h = (h ^ (b(j) & 0xff)) * 16777619; j += 1 }
      var slot = h & (cap - 1)
      var placed = false
      while (!placed) {
        if (tabIdx(slot) == -1) { tabHash(slot) = h; tabIdx(slot) = s; placed = true }
        else if (tabHash(slot) == h && java.util.Arrays.equals(sb(tabIdx(slot)), b)) {
          placed = true // duplicate stop: first index wins
        } else slot = (slot + 1) & (cap - 1)
      }
      s += 1
    }
    (tabHash, tabIdx, lenMask)
  }

  private def matchStop(u: org.apache.spark.unsafe.types.UTF8String,
                        start: Int, len: Int): Int = {
    val (tabHash, tabIdx, lenMask) = probe
    if ((lenMask & (1L << math.min(len, 63))) == 0L) return -1
    val sb = stopBytes
    var h = -2128831035
    var j = 0
    while (j < len) { h = (h ^ (u.getByte(start + j) & 0xff)) * 16777619; j += 1 }
    val cap = tabIdx.length
    var slot = h & (cap - 1)
    while (tabIdx(slot) != -1) {
      if (tabHash(slot) == h) {
        val b = sb(tabIdx(slot))
        if (b.length == len) {
          var k = 0
          var eq = true
          while (eq && k < len) {
            if (u.getByte(start + k) != b(k)) eq = false
            k += 1
          }
          if (eq) return tabIdx(slot)
        }
      }
      slot = (slot + 1) & (cap - 1)
    }
    -1
  }

  def count(u: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = u.numBytes()
    var i = 0
    var tokStart = 0
    var c = 0L
    while (i <= n) {
      if (i == n || u.getByte(i) == ' ') {
        if (matchStop(u, tokStart, i - tokStart) >= 0) c += 1
        tokStart = i + 1
      }
      i += 1
    }
    c
  }

  def stats(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = u.numBytes()
    val bytes = u.getBytes // one copy; the distinct set needs materialized tokens
    val seen = new java.util.HashSet[String]()
    val stopSeen = new Array[Boolean](stopBytes.length)
    var i = 0
    var tokStart = 0
    var nTok = 0L
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        nTok += 1
        seen.add(new String(bytes, tokStart, i - tokStart,
          java.nio.charset.StandardCharsets.UTF_8))
        val m = matchStop(u, tokStart, i - tokStart)
        if (m >= 0) stopSeen(m) = true
        tokStart = i + 1
      }
      i += 1
    }
    var nStop = 0L
    var s = 0
    while (s < stopSeen.length) { if (stopSeen(s)) nStop += 1; s += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, seen.size.toLong, nStop))
  }
}

case class StopCount(child: Expression, stops: Seq[String]) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{LongType, StringType}

  override def prettyName: String = "graft_stopcount"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  @transient private lazy val set = new StopSet(stops.toArray)

  override protected def nullSafeEval(a: Any): Any =
    set.count(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSet", set, classOf[StopSet].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.count($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): StopCount =
    copy(child = newChild)
}

/** `graft_charstats(text)` → struct(n_chars_split, entropy_micro): the
  * one-byte-pass char-entropy kernel (see [[TextKernels.charStats]] for
  * the bit-parity contract with the explode formulation). Returns NULL
  * for the empty string — the explode form emits no rows for it.
  */
case class CharStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  override def prettyName: String = "graft_charstats"
  override def nullable: Boolean = true // empty input → null struct
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars_split", LongType, nullable = false),
    StructField("entropy_micro", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(a: Any): Any =
    TextKernels.charStats(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.TextKernels.charStats($a);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): CharStats =
    copy(child = newChild)
}

case class WordStats(child: Expression, stops: Seq[String]) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  override def prettyName: String = "graft_wordstats"
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_stop_distinct", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.sql}")

  @transient private lazy val set = new StopSet(stops.toArray)

  override protected def nullSafeEval(a: Any): Any =
    set.stats(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSet", set, classOf[StopSet].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.stats($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordStats =
    copy(child = newChild)
}

/** Column-API surface for the native vector expressions: each method
  * wraps the expression over its argument columns directly, so a column
  * resolves in whichever session plans it. The SQL names
  * (`graft_dot`, …) are for SQL text and come from [[register]] or the
  * extensions class.
  */
object Vec {
  private def e(c: Column): Expression = GraftSqlBridge.expression(c)
  private def col(x: Expression): Column = GraftSqlBridge.column(x)

  def dot(a: Column, b: Column): Column = col(DotProduct(e(a), e(b)))
  def l2norm(a: Column): Column = col(L2Norm(e(a)))
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))
  def minhash(text: Column): Column = col(MinHashSig(e(text)))
  def winnow(text: Column): Column = col(WinnowFingerprints(e(text)))
  def simhash(text: Column): Column = col(SimHash64(e(text)))
  def embSig(vec: Column): Column = col(HyperplaneSig(e(vec)))
  def sigMatch(a: Column, b: Column): Column = col(SigMatch(e(a), e(b)))
  def wordNGrams(text: Column, n: Int, stride: Int = 1): Column =
    col(WordNGrams(e(text), n, stride))
  def shingles(text: Column): Column = col(ShingleSet(e(text)))
  def shingleJaccard(a: Column, b: Column): Column = col(ShingleJaccard(e(a), e(b)))
  def cdcChunks(text: Column): Column = col(CdcChunks(e(text)))
  def nfc(text: Column): Column = col(NfcNormalize(e(text)))
  def normText(text: Column): Column = col(NormText(e(text)))
  def stopCount(text: Column, stops: Seq[String]): Column = col(StopCount(e(text), stops))
  def wordStats(text: Column, stops: Seq[String]): Column = col(WordStats(e(text), stops))
  def charStats(text: Column): Column = col(CharStats(e(text)))
  /** `size(split(text, " "))` token count without the regex split or the
    * per-row array: tokens = spaces + 1 (split keeps empty segments, so
    * every single space is a boundary; 0x20 never occurs inside a UTF-8
    * multi-byte sequence). Same value, scan-stage intrinsics only.
    */
  def wordCount(text: Column): Column = {
    import org.apache.spark.sql.functions.{length, translate, lit}
    (length(text) - length(translate(text, " ", "")) + lit(1)).cast("long")
  }
  /** "l r" is the merge's SQL-literal form, as `graft_bpe_apply` takes
    * it; unambiguous because symbols come from split(text, ' ') and can
    * never contain a space.
    */
  def bpeApply(syms: Column, merges: Seq[(String, String)]): Column =
    col(BpeApply(e(syms), merges.map { case (l, r) => s"$l $r" }))

  private val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    (FunctionIdentifier("graft_l2norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "graft_l2norm"),
      (es: Seq[Expression]) => L2Norm(es(0))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (es: Seq[Expression]) => MinHashSig(es(0))),
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "graft_winnow"),
      (es: Seq[Expression]) => WinnowFingerprints(es(0))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (es: Seq[Expression]) => SimHash64(es(0))),
    (FunctionIdentifier("graft_embsig"),
      new ExpressionInfo(classOf[HyperplaneSig].getName, "graft_embsig"),
      (es: Seq[Expression]) => HyperplaneSig(es(0))),
    (FunctionIdentifier("graft_sigmatch"),
      new ExpressionInfo(classOf[SigMatch].getName, "graft_sigmatch"),
      (es: Seq[Expression]) => SigMatch(es(0), es(1))),
    (FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "graft_word_ngrams"),
      (es: Seq[Expression]) => WordNGrams(es(0),
        foldToInt(es(1), "n"), foldToInt(es(2), "stride"))),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingles"),
      (es: Seq[Expression]) => ShingleSet(es(0))),
    (FunctionIdentifier("graft_shingle_jaccard"),
      new ExpressionInfo(classOf[ShingleJaccard].getName, "graft_shingle_jaccard"),
      (es: Seq[Expression]) => ShingleJaccard(es(0), es(1))),
    (FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "graft_cdc_chunks"),
      (es: Seq[Expression]) => CdcChunks(es(0))),
    (FunctionIdentifier("graft_bpe_apply"),
      new ExpressionInfo(classOf[BpeApply].getName, "graft_bpe_apply"),
      (es: Seq[Expression]) => BpeApply(es(0), foldToStringSeq(es(1), "merges"))),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (es: Seq[Expression]) => NfcNormalize(es(0))),
    (FunctionIdentifier("graft_normtext"),
      new ExpressionInfo(classOf[NormText].getName, "graft_normtext"),
      (es: Seq[Expression]) => NormText(es(0))),
    (FunctionIdentifier("graft_stopcount"),
      new ExpressionInfo(classOf[StopCount].getName, "graft_stopcount"),
      (es: Seq[Expression]) => StopCount(es(0), foldToStringSeq(es(1), "stops"))),
    (FunctionIdentifier("graft_wordstats"),
      new ExpressionInfo(classOf[WordStats].getName, "graft_wordstats"),
      (es: Seq[Expression]) => WordStats(es(0), foldToStringSeq(es(1), "stops"))),
    (FunctionIdentifier("graft_runs"),
      new ExpressionInfo(classOf[CountRuns].getName, "graft_runs"),
      (es: Seq[Expression]) => CountRuns(es(0), foldToBool(es(1), "ws"))),
    (FunctionIdentifier("graft_charstats"),
      new ExpressionInfo(classOf[CharStats].getName, "graft_charstats"),
      (es: Seq[Expression]) => CharStats(es(0))),
  )

  /** n/stride must be literal ints — they are baked into the generated
    * code, not evaluated per row.
    */
  private def foldToInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other if other.foldable => other.eval() match {
      case i: Int => i
      case v => throw new IllegalArgumentException(
        s"graft_word_ngrams $what must be an INT literal, got $v")
    }
    case _ => throw new IllegalArgumentException(
      s"graft_word_ngrams $what must be a literal, got $e")
  }

  /** The ws flag is baked into the generated code — literal only. */
  private def foldToBool(e: Expression, what: String): Boolean = e match {
    case other if other.foldable => other.eval() match {
      case b: Boolean => b
      case v => throw new IllegalArgumentException(
        s"graft_runs $what must be a BOOLEAN literal, got $v")
    }
    case _ => throw new IllegalArgumentException(
      s"graft_runs $what must be a literal, got $e")
  }

  /** The merge list must be a literal ARRAY<STRING> — it is the
    * tokenizer model, baked into the plan's reference array.
    */
  private def foldToStringSeq(e: Expression, what: String): Seq[String] = e match {
    case other if other.foldable => other.eval() match {
      case a: ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString).toSeq
      case v => throw new IllegalArgumentException(
        s"graft_bpe_apply $what must be an ARRAY<STRING> literal, got $v")
    }
    case _ => throw new IllegalArgumentException(
      s"graft_bpe_apply $what must be a literal, got $e")
  }

  /** Register `graft_dot` / `graft_l2norm` for SQL use on a live session. */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  /** `SparkSessionExtensions` hook: set
    * `spark.sql.extensions=graft.functions.GraftExtensions` to get the
    * SQL functions in every new session.
    */
  private[functions] def inject(extensions: SparkSessionExtensions): Unit =
    registrations.foreach(extensions.injectFunction)
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    Vec.inject(extensions)
    graft.GraftSession.plannerStrategies.foreach(s => extensions.injectPlannerStrategy(_ => s))
    graft.GraftSession.optimizerRules.foreach(r => extensions.injectOptimizerRule(_ => r))
  }
}
