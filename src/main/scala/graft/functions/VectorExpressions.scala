package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the hot vector kernels (dot product,
  * squared euclidean distance, Hamming, MaxSim, phrase count), plus the
  * text kernels below.
  *
  * Semantics are IDENTICAL to the declarative forms in VectorFunctions
  * (left-to-right float64 fold over element-wise products/squared
  * diffs — the same order DuckDB's list functions use, so oracles still
  * hash-match), but execution is a primitive loop over the unsafe array
  * data inside whole-stage codegen: no per-row lambda closures, no
  * intermediate zip arrays, no per-element boxing. On the all-pairs
  * cosine join this is a ~10x kernel win (SURVEY.md §4's "custom
  * Expression with codegen if it shows up hot" — it does).
  *
  * ONE COPY OF EACH KERNEL: every loop lives once, as a static function
  * of [[VectorKernels]] or [[TextKernels]]. `nullSafeEval` calls it, and
  * `doGenCode` is one generated call to the same function (constant
  * tables ride as reference objects, element-type flags as literals).
  * The two paths are reached by different checks — specs build rows
  * with `Seq.toDF`, which the optimizer folds through the interpreted
  * projection (eval), while the oracle gates and the benchmark run
  * whole-stage codegen — so a second, templated copy of a loop would be
  * checked by neither against the other. KernelParitySpec pins
  * eval ≡ codegen for every expression here and in NearestExpr.scala.
  */
abstract class VectorBinaryFold extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorInput.isVector(left.dataType) && VectorInput.isVector(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires float/double array inputs")

  /** Name of the [[VectorKernels]] function computing this fold. */
  protected def kernel: String

  /** That same function, for the interpreted path. */
  protected def fold(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double

  override def nullSafeEval(l: Any, r: Any): Any =
    fold(l.asInstanceOf[ArrayData], VectorInput.isFloat(left.dataType),
      r.asInstanceOf[ArrayData], VectorInput.isFloat(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.$kernel($a, " +
        s"${VectorInput.isFloat(left.dataType)}, $b, ${VectorInput.isFloat(right.dataType)});")
}

/** Σ a_i * b_i in float64. */
case class DotProductExpr(left: Expression, right: Expression)
    extends VectorBinaryFold {
  override def prettyName: String = "vec_dot"
  override protected def kernel: String = "dot"
  override protected def fold(a: ArrayData, aFloat: Boolean, b: ArrayData,
                              bFloat: Boolean): Double =
    VectorKernels.dot(a, aFloat, b, bFloat)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (a_i - b_i)^2 in float64. */
case class DistSqExpr(left: Expression, right: Expression)
    extends VectorBinaryFold {
  override def prettyName: String = "vec_distsq"
  override protected def kernel: String = "distSq"
  override protected def fold(a: ArrayData, aFloat: Boolean, b: ArrayData,
                              bFloat: Boolean): Double =
    VectorKernels.distSq(a, aFloat, b, bFloat)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ Long.bitCount(a_i ^ b_i) over packed-word ARRAY<BIGINT> codes —
  * the binary-quantization Hamming kernel (BinaryIndex/binaryKnn hot
  * path). Identical result to the declarative zip_with + bit_count +
  * aggregate form (integer sum — order-free), but one primitive loop
  * inside whole-stage codegen: no per-word lambda closures, no
  * intermediate arrays. Int result (a code is at most 2^31 bits). */
case class HammingExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_hamming"

  override def checkInputDataTypes(): TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires bigint array inputs")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.hamming(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.hamming($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ColBERT MaxSim against a CONSTANT chunked query:
  * Σ_i max_j dot(query_i, v[j·sub .. j·sub+sub)) — the whole late
  * interaction as one primitive double loop over the unsafe array.
  *
  * Identical op order to the composed form (per-chunk dots
  * left-to-right, running max ≡ `greatest`, chunk results summed in
  * query order), so results are bit-equal and the DuckDB oracle still
  * hash-matches — but the composed form pays 64 `slice` allocations
  * per row (the measured 27 s / 1M-row scan in rerankbench), and this
  * pays zero: the kernel reads the array data in place. The query
  * lives in a codegen reference object, not the expression tree, so
  * the plan stays O(1) in query size (the same literal-vs-relation
  * lesson as the probe tables). */
case class MaxSimExpr(child: Expression, query: Array[Array[Double]])
    extends UnaryExpression with VectorInput {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_maxsim"

  private def subDim: Int = query(0).length
  @transient private lazy val totalDim: Int = query.map(_.length).sum

  override def nullSafeEval(input: Any): Any =
    VectorKernels.maxSim(input.asInstanceOf[ArrayData], elemIsFloat, query,
      subDim, totalDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "VectorKernels.maxSim", elemIsFloat,
      ctx.addReferenceObj("maxsimQuery", query, "double[][]"), subDim, totalDim)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Count of token positions starting an exact consecutive match of a
  * CONSTANT `phrase` in a string-array column — the native kernel
  * behind [[graft.operators.TextOps.phraseHits]]. Same semantics as
  * the sequence + filter + element_at composition (count of 1-based
  * start positions; 0 when the doc is shorter than the phrase), but
  * Catalyst evaluates higher-order `filter` lambdas interpreted, one
  * closure call per candidate position — this is one primitive loop
  * over the array's UTF8String slots inside whole-stage codegen, and
  * it skips ahead on first mismatch instead of materializing an index
  * sequence. Int result, matching `size(...)`. */
case class PhraseCountExpr(child: Expression, phrase: Array[String])
    extends UnaryExpression {
  import org.apache.spark.sql.types.{IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = IntegerType
  override def prettyName: String = "phrase_count"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string array input")
    }

  @transient private lazy val needle: Array[UTF8String] =
    phrase.map(UTF8String.fromString)

  override def nullSafeEval(input: Any): Any =
    TextKernels.phraseCount(input.asInstanceOf[ArrayData], needle)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val needleRef = ctx.addReferenceObj("phraseNeedle", needle,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, ts =>
      s"${ev.value} = graft.functions.TextKernels.phraseCount($ts, $needleRef);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The input contract of every kernel over ONE float/double vector
  * child: the type check, the element-type flag the kernel takes, and
  * the one-call generated code. */
trait VectorInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorInput.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a float/double array input")

  protected def elemIsFloat: Boolean = VectorInput.isFloat(child.dataType)

  /** `value = graft.functions.<kernel>(child, args…)` — the whole
    * generated code of a kernel expression; `args` are Java literals
    * (Int/Boolean) or reference-object names. */
  protected def callKernel(ctx: CodegenContext, ev: ExprCode, kernel: String,
                           args: Any*): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.$kernel(${(v +: args).mkString(", ")});")
}

object VectorInput {
  def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** The vector kernels, each called from both its expression's
  * `nullSafeEval` and its generated code. */
object VectorKernels {
  /** Element `i` widened to float64. */
  def elem(v: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  private def sameLength(a: ArrayData, b: ArrayData, what: String): Int = {
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"$what length mismatch: ${a.numElements()} vs ${b.numElements()}")
    a.numElements()
  }

  /** Σ a_i * b_i, left to right in float64. */
  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = sameLength(a, b, "vector")
    var sum = 0.0d
    var i = 0
    while (i < n) {
      sum += elem(a, aFloat, i) * elem(b, bFloat, i)
      i += 1
    }
    sum
  }

  /** Σ (a_i - b_i)², left to right in float64. */
  def distSq(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = sameLength(a, b, "vector")
    var sum = 0.0d
    var i = 0
    while (i < n) {
      val x = elem(a, aFloat, i)
      val y = elem(b, bFloat, i)
      sum += (x - y) * (x - y)
      i += 1
    }
    sum
  }

  /** Σ bitCount(a_i ^ b_i) over packed-word codes. */
  def hamming(a: ArrayData, b: ArrayData): Int = {
    val n = sameLength(a, b, "code")
    var sum = 0
    var i = 0
    while (i < n) {
      sum += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    sum
  }

  /** Σ over query chunks of the max dot against each `subDim` slice of
    * `v`; `v` must hold exactly `totalDim` elements. */
  def maxSim(v: ArrayData, isFloat: Boolean, query: Array[Array[Double]],
             subDim: Int, totalDim: Int): Double = {
    if (v.numElements() != totalDim)
      throw new IllegalArgumentException(
        s"vector length mismatch: ${v.numElements()} vs $totalDim")
    val nSub = v.numElements() / subDim
    var total = 0.0d
    var qi = 0
    while (qi < query.length) {
      val q = query(qi)
      var best = Double.NegativeInfinity
      var j = 0
      while (j < nSub) {
        var dot = 0.0d
        var k = 0
        while (k < subDim) {
          dot += elem(v, isFloat, j * subDim + k) * q(k)
          k += 1
        }
        if (dot > best) best = dot
        j += 1
      }
      total += best
      qi += 1
    }
    total
  }
}

/** Static kernels callable from generated code (one invocation per
  * row inside whole-stage codegen — the codegen'd call-site shape for
  * kernels whose output is an ArrayData rather than a primitive). */
object TextKernels {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val Space = UTF8String.fromString(" ")

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Per-element md5-prefix hash: for each string, the first 15 hex
    * digits of md5(utf8 bytes) parsed base-16 — the exact value of
    * `transform(xs, g -> conv(substring(md5(g), 1, 15), 16, 10)
    * .cast(long))` (60 bits, always non-negative, exact in a long). */
  def md5PrefixLongs(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val out = new Array[Any](n)
    val md = Md5.get()
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) out(i) = null // md5(null) is null in the composed form
      else {
        md.reset()
        val digest = md.digest(xs.getUTF8String(i).getBytes)
        // first 15 hex digits = 7 full bytes + the high nibble of byte 8
        var v = 0L
        var b = 0
        while (b < 7) { v = (v << 8) | (digest(b) & 0xffL); b += 1 }
        v = (v << 4) | ((digest(7) & 0xf0L) >> 4)
        out(i) = v
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of start positions where `needle` matches `ts` token for
    * token; a null token never matches. */
  def phraseCount(ts: ArrayData, needle: Array[UTF8String]): Int = {
    val n = ts.numElements()
    val m = needle.length
    var hits = 0
    var i = 0
    while (i <= n - m) {
      var k = 0
      var ok = true
      while (ok && k < m) {
        val t = ts.getUTF8String(i + k)
        if (t == null || !t.equals(needle(k))) ok = false
        k += 1
      }
      if (ok) hits += 1
      i += 1
    }
    hits
  }

  /** Sliding-window minimum: out(p) = min(xs[p .. p+w)) for p in
    * 0..max(n−w, 0) — the exact value of `transform(sequence(0,
    * greatest(size-w, 0)), p -> array_min(slice(xs, p+1, w)))`
    * including the short-array case (one output, min of all). */
  def slidingMin(xs: ArrayData, w: Int): ArrayData = {
    val n = xs.numElements()
    val m = math.max(n - w, 0) + 1
    val out = new Array[Any](m)
    var p = 0
    while (p < m) {
      val end = math.min(p + w, n)
      // array_min skips null elements and yields null for empty /
      // all-null windows — mirror both
      var best = Long.MaxValue
      var any = false
      var i = p
      while (i < end) {
        if (!xs.isNullAt(i)) {
          val v = xs.getLong(i)
          if (v < best) { best = v }
          any = true
        }
        i += 1
      }
      out(p) = if (any) best else null
      p += 1
    }
    new GenericArrayData(out)
  }

  /** All k-token shingles of `toks` joined with single spaces — the
    * exact value of `transform(sequence(0, greatest(n-k, 0)),
    * i -> concat_ws(' ', slice(toks, i+1, k)))`: max(n-k,0)+1 outputs,
    * short docs yield one short shingle, empty docs one empty string,
    * null elements skipped like concat_ws. */
  def shingles(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val m = math.max(n - k, 0) + 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val len = math.min(k, n - i)
      val parts = new Array[UTF8String](len)
      var j = 0
      while (j < len) {
        // concatWs skips null inputs — pass the null through, don't
        // read an undefined slot
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-element md5-prefix hashing of a string array — the gram→hash
  * step of winnowing and the span-dedup postings, natively (see
  * [[TextKernels.md5PrefixLongs]]; the composed transform ran the md5
  * + conv + substring chain through an interpreted lambda per gram). */
case class Md5PrefixLongsExpr(child: Expression)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{LongType, StringType}
  // null elements map to null (md5(null) is null) — carry the child's
  // element nullability through
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, cn) => ArrayType(LongType, containsNull = cn)
    case _ => ArrayType(LongType, containsNull = false)
  }
  override def prettyName: String = "md5_prefix_longs"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string array input")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.md5PrefixLongs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = graft.functions.TextKernels.md5PrefixLongs($xs);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Sliding-window minimum over a long array — winnowing's window
  * selection, natively (the composed form allocated a slice per
  * window position under an interpreted lambda). */
case class SlidingMinExpr(child: Expression, w: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.LongType
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "sliding_min"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a bigint array input")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.slidingMin(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = graft.functions.TextKernels.slidingMin($xs, $w);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Native shingling: the (tokenize →) k-gram join underlying every
  * text-dedup operator (MinHash, SimHash, winnowing, prefix filters,
  * containment, decontamination). Value-identical to the
  * transform/sequence/slice/concat_ws composition, but that form runs
  * the lambda interpreted and allocates a slice per position —
  * measured 7.8 s for a 2.6M-shingle pass at 50k docs; the kernel
  * does one primitive loop per row (shinglebench A/B in BASELINE.md). */
case class ShinglesExpr(child: Expression, k: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.StringType

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string array input")
    }

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ts =>
      s"${ev.value} = graft.functions.TextKernels.shingles($ts, $k);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VectorExpressions {
  import GraftSqlShim.{toColumn, toExpression}
  def vecDot(a: Column, b: Column): Column =
    toColumn(DotProductExpr(toExpression(a), toExpression(b)))
  def vecDistSq(a: Column, b: Column): Column =
    toColumn(DistSqExpr(toExpression(a), toExpression(b)))
  def vecHamming(a: Column, b: Column): Column =
    toColumn(HammingExpr(toExpression(a), toExpression(b)))
  def vecMaxSim(v: Column, query: Seq[Seq[Double]]): Column = {
    require(query.nonEmpty && query.map(_.length).distinct.size == 1,
      "query chunks must be non-empty and equally sized")
    toColumn(MaxSimExpr(toExpression(v), query.map(_.toArray).toArray))
  }
  def phraseCount(tokens: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    toColumn(PhraseCountExpr(toExpression(tokens), phrase.toArray))
  }
  def shingleArray(tokens: Column, k: Int): Column = {
    require(k >= 1, "k must be >= 1")
    toColumn(ShinglesExpr(toExpression(tokens), k))
  }
  def md5PrefixLongs(xs: Column): Column =
    toColumn(Md5PrefixLongsExpr(toExpression(xs)))
  def slidingMin(xs: Column, w: Int): Column = {
    require(w >= 1, "w must be >= 1")
    toColumn(SlidingMinExpr(toExpression(xs), w))
  }
}
