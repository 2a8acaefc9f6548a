package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the embedding / MinHash hot paths.
 *
 * Catalyst's higher-order functions (`aggregate`, `transform`, `zip_with`)
 * are evaluated INTERPRETED — they are the one expression family outside
 * whole-stage codegen — and the ANN/MinHash queries evaluate thousands of
 * lambda applications per row (64 plane-dots × 64 elements for a banded
 * hyperplane signature; 8 MinHash families × ~n shingles each re-deriving
 * the shingle array). Measured at sf0.1 that interpretation dominated the
 * suite: q33 24.8 s, q16 12.0 s of a 69.7 s total. These expressions
 * compute the exact same values in one native call per row and participate
 * in whole-stage codegen via `doGenCode` (the generated code calls the
 * static helpers in [[VecNative]]), which is the brief's preferred
 * extension order: native codegen'd Expression > UDF > anything else.
 *
 * PARITY CONTRACT (pinned by VecSigSpec): each expression is bit-identical
 * to the declarative SQL it replaced, which in turn is byte-identical to
 * the DuckDB oracle SQL (CORRECTNESS gate):
 *  - `vec_dot(a, b)`  ≡ `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)),
 *    0D, (s,v) -> s+v)` — the same left-fold over index order, so the same
 *    IEEE-754 rounding at every step.
 *  - `hyper_sigs(e, base, bands, bits)` ≡ the per-plane
 *    `aggregate(sequence(1,64), 0D, (s,i) -> s + double(e[i])·sign(p,i))`
 *    sign-bit sums of queries/AnnOps (quadratic integer hash signs —
 *    AnnOps.signCase documents why quadratic, not linear).
 *  - `minhash_bands(toks)` ≡ DedupOps.narrowBands' per-row
 *    `md5(min(md5(j:shingle)) || '|' || min(md5(j':shingle)))` band hashes
 *    (8 families, 4 bands; lexicographic min over lowercase hex = binary
 *    UTF8 min, identical in Spark and DuckDB).
 */
object VecNative {

  /** Embedding width — the fixtures and oracle SQL both fix dim=64
    * (`sequence(1, 64)` / `generate_series(1, 64)`). */
  val Dim = 64

  /** ±1 hyperplane components for planes 0..207 (cell family 0..3, band
    * family 100..163, random-projection family 200..207), element index
    * 1-based — sign of the quadratic integer hash of x = plane·64 + i (see
    * AnnOps.signCase: a LINEAR hash correlates plane pairs and clumps
    * signatures; keep quadratic). */
  private val MaxPlane = 208
  private lazy val signTable: Array[Double] = {
    val t = new Array[Double](MaxPlane * Dim)
    var p = 0
    while (p < MaxPlane) {
      var i = 1
      while (i <= Dim) {
        val x = (p * Dim + i).toLong
        val h = (x * x * 40503L + x * 69069L + 12345L) % 2147483648L
        t(p * Dim + i - 1) = if (h < 1073741824L) 1.0 else -1.0
        i += 1
      }
      p += 1
    }
    t
  }

  /** Sequential left-fold dot product over float arrays — the exact
    * addition order of the SQL `aggregate` fold (and DuckDB `list_sum`). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Banded hyperplane signatures: `bands` ints of `bits` sign-bits each,
    * planes base + band·bits + r, bit r set iff dot(e, plane) ≥ 0. */
  def hyperSigs(e: ArrayData, base: Int, bands: Int, bits: Int): ArrayData = {
    val tbl = signTable
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var sig = 0
      var r = 0
      while (r < bits) {
        val off = (base + b * bits + r) * Dim
        var s = 0.0
        var i = 0
        while (i < Dim) {
          s += e.getFloat(i).toDouble * tbl(off + i)
          i += 1
        }
        if (s >= 0) sig |= 1 << r
        r += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Floor-µ-quantization of a float vector → bigint vector (q37's exact
    * integer domain): float→double widening is exact, the ·1e6 product
    * rounds once in double, floor truncates unambiguously (round()'s
    * half-up/half-even tie rules differ between engines; floor doesn't). */
  def quant(e: ArrayData): ArrayData = {
    val n = e.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(e.getFloat(i).toDouble * 1000000.0).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact squared-L2 distance between two bigint vectors (integer sums
    * are order-independent — parity with any fold order). */
  def sqL2(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Signed integer random projection (Johnson–Lindenstrauss with a ±1
    * matrix): `dims` bigint components, p_j = Σ_i floor(e_i·1e6) ·
    * sign(base+j, i). Works in q37's exact-integer µ-domain (floor, never
    * round — tie rules differ between engines) and integer sums are
    * order-independent, so oracle parity needs no fold-order care. */
  def projQuant(e: ArrayData, base: Int, dims: Int): ArrayData = {
    val tbl = signTable
    val n = math.min(e.numElements(), Dim)
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      q(i) = math.floor(e.getFloat(i).toDouble * 1000000.0).toLong
      i += 1
    }
    val out = new Array[Long](dims)
    var j = 0
    while (j < dims) {
      val off = (base + j) * Dim
      var s = 0L
      var k = 0
      while (k < n) {
        s += (if (tbl(off + k) > 0) q(k) else -q(k))
        k += 1
      }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  private val hexChars = "0123456789abcdef".toCharArray
  private val md5Local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  private def md5Hex(md: MessageDigest, s: String): String = {
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Per-family MinHash minima of a token array (families 0..7 — DedupOps'
    * q11/q12/q16 family layout): word-3-gram shingles, per-family min of
    * md5("j:shingle") hex. Requires ≥3 tokens (callers filter
    * `size(toks) >= 3`). */
  private def familyMins(toks: ArrayData): Array[String] = {
    val n = toks.numElements()
    val nsh = n - 2
    val shingles = new Array[String](nsh)
    var i = 0
    while (i < nsh) {
      shingles(i) = toks.getUTF8String(i).toString + " " +
        toks.getUTF8String(i + 1).toString + " " +
        toks.getUTF8String(i + 2).toString
      i += 1
    }
    val md = md5Local.get()
    val mins = new Array[String](8)
    var j = 0
    while (j < 8) {
      val prefix = j.toString + ":"
      var m: String = null
      var k = 0
      while (k < nsh) {
        val h = md5Hex(md, prefix + shingles(k))
        if (m == null || h.compareTo(m) < 0) m = h
        k += 1
      }
      mins(j) = m
      j += 1
    }
    mins
  }

  /** The 8 per-family MinHash minima as an array<string> (q11's signature
    * rows via posexplode). */
  def minhashSigs(toks: ArrayData): ArrayData = {
    val mins = familyMins(toks)
    val out = new Array[AnyRef](8)
    var j = 0
    while (j < 8) { out(j) = UTF8String.fromString(mins(j)); j += 1 }
    new GenericArrayData(out)
  }

  /** The 4 LSH band hashes (band b = md5(mh(2b) + "|" + mh(2b+1))) as an
    * array<string> (q12/q16's bucket keys). */
  def minhashBands(toks: ArrayData): ArrayData = {
    val mins = familyMins(toks)
    val md = md5Local.get()
    val out = new Array[AnyRef](4)
    var b = 0
    while (b < 4) {
      out(b) = UTF8String.fromString(
        md5Hex(md, mins(2 * b) + "|" + mins(2 * b + 1)))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** `vec_dot(a, b)` — codegen'd sequential-fold dot product. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"vec_dot expects (array<float>, array<float>), got ($l, $r)")
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecNative.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecNative.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `hyper_sigs(e, base, bands, bits)` — codegen'd banded hyperplane
  * signatures (array<int>, one element per band). */
case class HyperplaneSigs(child: Expression, base: Int, bands: Int,
                          bits: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hyper_sigs"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyper_sigs expects array<float>, got $t")
  }
  override protected def nullSafeEval(e: Any): Any =
    VecNative.hyperSigs(e.asInstanceOf[ArrayData], base, bands, bits)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VecNative.hyperSigs($c, $base, $bands, $bits)")
  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneSigs = copy(child = newChild)
}

/** `minhash_bands(toks)` / `minhash_sigs(toks)` — codegen'd per-row
  * MinHash band hashes (array<string> of 4) / family minima (of 8). */
case class MinhashBandHashes(child: Expression, full: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = if (full) "minhash_sigs" else "minhash_bands"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got $t")
  }
  override protected def nullSafeEval(toks: Any): Any =
    if (full) VecNative.minhashSigs(toks.asInstanceOf[ArrayData])
    else VecNative.minhashBands(toks.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val fn = if (full) "minhashSigs" else "minhashBands"
    defineCodeGen(ctx, ev, c => s"graft.functions.VecNative.$fn($c)")
  }
  override protected def withNewChildInternal(
      newChild: Expression): MinhashBandHashes = copy(child = newChild)
}

/** `proj_quant(e, base, dims)` — codegen'd signed ±1 random projection in
  * the exact-integer µ-domain (array<float> → array<bigint> of `dims`). */
case class ProjQuant(child: Expression, base: Int, dims: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "proj_quant"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"proj_quant expects array<float>, got $t")
  }
  override protected def nullSafeEval(e: Any): Any =
    VecNative.projQuant(e.asInstanceOf[ArrayData], base, dims)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VecNative.projQuant($c, $base, $dims)")
  override protected def withNewChildInternal(
      newChild: Expression): ProjQuant = copy(child = newChild)
}

/** `vec_quant(e)` — codegen'd floor-µ-quantization (array<float> →
  * array<bigint>). */
case class VecQuant(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_quant"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_quant expects array<float>, got $t")
  }
  override protected def nullSafeEval(e: Any): Any =
    VecNative.quant(e.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecNative.quant($c)")
  override protected def withNewChildInternal(
      newChild: Expression): VecQuant = copy(child = newChild)
}

/** `sq_l2(a, b)` — codegen'd exact squared-L2 over bigint vectors. */
case class SqL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sq_l2"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sq_l2 expects (array<bigint>, array<bigint>), got ($l, $r)")
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecNative.sqL2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecNative.sqL2($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqL2 =
    copy(left = newLeft, right = newRight)
}

/**
 * Per-session registration of the native expressions so query code can
 * invoke them through the public `expr("vec_dot(a, b)")` surface on ANY
 * SparkSession handed in (the driver's verify harness builds its own
 * session — a SparkSessionExtensions config would not reach it).
 * Idempotent: createOrReplaceTempFunction.
 */
object GraftFunctions {
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  def register(session: SparkSession): Unit = {
    val reg = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vec_dot",
      es => VecDot(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("hyper_sigs",
      es => HyperplaneSigs(es(0), intLit(es(1), "base"),
        intLit(es(2), "bands"), intLit(es(3), "bits")), "built-in")
    reg.createOrReplaceTempFunction("minhash_bands",
      es => MinhashBandHashes(es(0), full = false), "built-in")
    reg.createOrReplaceTempFunction("minhash_sigs",
      es => MinhashBandHashes(es(0), full = true), "built-in")
    reg.createOrReplaceTempFunction("vec_quant",
      es => VecQuant(es(0)), "built-in")
    reg.createOrReplaceTempFunction("proj_quant",
      es => ProjQuant(es(0), intLit(es(1), "base"),
        intLit(es(2), "dims")), "built-in")
    reg.createOrReplaceTempFunction("sq_l2",
      es => SqL2(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("canon_key",
      es => CanonKey(es(0)), "built-in")
    reg.createOrReplaceTempFunction("by_ref", ByRef.fromArgs, "built-in")
  }
}
