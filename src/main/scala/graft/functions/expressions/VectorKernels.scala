package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Scalar vector-math kernels, mirroring the reference's SIMD kernel family
  * (`/root/reference/src/simd_dot.cpp:18-213`, `include/nvdb/f16_scalar.h:8-36`,
  * `apps/nvdb_quantize_i8.cpp:12-16`).
  *
  * The reference dispatches AVX2/FMA at runtime; here each kernel is a static
  * JVM method on primitive arrays so that whole-stage codegen emits a direct
  * static call, and the float-array kernels themselves dispatch to explicit
  * Vector-API SIMD loops ([[Simd]]) when the platform supports them —
  * double-lane FMA accumulation, so results stay within every oracle
  * tolerance of the sequential scalar path (the reference's
  * double-accumulator concern, `src/simd_dot.cpp:18-22`; see [[Simd]]'s
  * precision contract and `-Dgraft.simd=off` escape hatch).
  */
object VectorKernels {

  /** Runtime SIMD dispatch, the analogue of the reference's
    * `__builtin_cpu_supports("avx2")` check (`src/simd_dot.cpp:55-63`):
    * on by default when the Vector API module is present and usable,
    * forced off with `-Dgraft.simd=off` (the reference's
    * `set_force_scalar`). The guard catches linkage errors so a JVM
    * launched without `--add-modules=jdk.incubator.vector` silently runs
    * the scalar kernels.
    */
  val simdEnabled: Boolean =
    sys.props.getOrElse("graft.simd", "on") != "off" &&
      (try Simd.available catch { case _: Throwable => false })

  /** Below this length the vector loop is all tail; skip the dispatch. */
  private final val SimdMinLen = 16

  /** The dimension contract: an index holds vectors of one dim, and a
    * query must have it too (the reference stops a run on the first
    * mismatch, `apps/nvdb_search.cpp:20-24`, `apps/nvdb_ivf_eval.cpp:343-347`).
    * Called at the points every entry funnels through, once per vector
    * pair or per query, so a wrong-dim query fails instead of scoring a
    * prefix.
    */
  private[graft] def requireDim(op: String, query: Int, index: Int): Unit =
    if (query != index)
      throw new IllegalArgumentException(
        s"dim mismatch in $op: query $query, index $index")

  /** Dot product. `b` is the query side in the dim check (the SQL
    * functions take `(vec, qvec)`).
    */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    requireDim("dot", b.length, a.length)
    dotOff(a, b, 0, a.length)
  }

  /** Squared L2 distance (`apps/nvdb_ivf_eval.cpp:232-240`). */
  def l2Sq(a: Array[Float], b: Array[Float]): Double = {
    requireDim("l2sq", b.length, a.length)
    l2SqOff(a, b, 0, a.length)
  }

  /** Sum of squares (double-accumulated) — norm2 is its sqrt; exposed
    * separately because the screened argmin needs the unsquared form
    * (‖x‖² enters d = ‖x‖² + ‖c‖² − 2x·c directly; squaring a rounded
    * sqrt would pay two extra roundings for nothing).
    */
  def sumSq(a: Array[Float]): Double = sumSqOff(a, 0, a.length)

  def norm2(a: Array[Float]): Double = math.sqrt(sumSq(a))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    requireDim("cosine", b.length, a.length)
    cosineOff(a, b, 0, b.length)
  }

  // ---- (array, offset) kernels: the stored row is read at `flat(off + i)`
  // (offset 0 for a plain row array, the node offset in the HNSW packed
  // vector store; see [[Simd]]'s heap-kernel family) ----

  /** Dot of `a` against `n` floats of `flat` starting at `off`. */
  def dotOff(a: Array[Float], flat: Array[Float], off: Int, n: Int): Double = {
    if (simdEnabled && n >= SimdMinLen) return Simd.dotOff(a, flat, off, n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * flat(off + i).toDouble; i += 1 }
    acc
  }

  /** Squared L2 of `a` against `n` floats of `flat` starting at `off`. */
  def l2SqOff(a: Array[Float], flat: Array[Float], off: Int, n: Int): Double = {
    if (simdEnabled && n >= SimdMinLen) return Simd.l2SqOff(a, flat, off, n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a(i).toDouble - flat(off + i).toDouble; acc += d * d; i += 1
    }
    acc
  }

  /** Sum of squares over `flat(off until off + n)`. */
  def sumSqOff(flat: Array[Float], off: Int, n: Int): Double = {
    if (simdEnabled && n >= SimdMinLen) return Simd.sumSqOff(flat, off, n)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = flat(off + i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Cosine of `a` against `n` floats of `flat` starting at `off`:
    * dot/(sqrt·sqrt) — [[cosine]] is the offset-0 case over the whole
    * row. `a` must have `n` dims.
    */
  def cosineOff(a: Array[Float], flat: Array[Float], off: Int, n: Int): Double = {
    requireDim("cosine", a.length, n)
    val na = norm2(a)
    val nb = math.sqrt(sumSqOff(flat, off, n))
    if (na == 0.0 || nb == 0.0) 0.0
    else dotOff(a, flat, off, n) / (na * nb)
  }

  /** Fused f32·i8 dot, float accumulation, unscaled (see [[Simd.dotI8F]]).
    * SIMD and scalar paths agree to float reassociation only — this is a
    * recall-gated serving-flavor kernel, never an oracle path.
    */
  def dotI8FOff(a: Array[Float], codes: Array[Byte], off: Int, n: Int): Float = {
    if (simdEnabled && n >= SimdMinLen) return Simd.dotI8F(a, codes, off, n)
    var acc = 0.0f
    var i = 0
    while (i < n) { acc += a(i) * codes(off + i).toFloat; i += 1 }
    acc
  }

  /** [[dotI8FOff]] over a ByteBuffer codes region — bitwise twin (`off`
    * is a byte offset; the v2 graph store maps the i8 sidecar in place).
    */
  def dotI8FOffBB(a: Array[Float], bb: java.nio.ByteBuffer, off: Int,
                  n: Int): Float = {
    if (simdEnabled && n >= SimdMinLen) return Simd.dotI8FBB(a, bb, off, n)
    var acc = 0.0f
    var i = 0
    while (i < n) { acc += a(i) * bb.get(off + i).toFloat; i += 1 }
    acc
  }

  // ---- ByteBuffer twins of the `-Off` family (r14 mmap-store spike):
  // same dispatch (SIMD when linked, scalar twin otherwise), stored side
  // read from a little-endian ByteBuffer at FLOAT offset `off`. Values
  // are bitwise equal to the array twins over the same payload.

  /** [[dotOff]] over a ByteBuffer payload — bitwise twin. */
  def dotOffBB(a: Array[Float], bb: java.nio.ByteBuffer, off: Int,
               n: Int): Double = {
    if (simdEnabled && n >= SimdMinLen) return Simd.dotOffBB(a, bb, off, n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a(i).toDouble * bb.getFloat((off + i) * 4).toDouble; i += 1
    }
    acc
  }

  /** [[l2SqOff]] over a ByteBuffer payload — bitwise twin. */
  def l2SqOffBB(a: Array[Float], bb: java.nio.ByteBuffer, off: Int,
                n: Int): Double = {
    if (simdEnabled && n >= SimdMinLen) return Simd.l2SqOffBB(a, bb, off, n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a(i).toDouble - bb.getFloat((off + i) * 4).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  /** [[sumSqOff]] over a ByteBuffer payload — bitwise twin. */
  def sumSqOffBB(bb: java.nio.ByteBuffer, off: Int, n: Int): Double = {
    if (simdEnabled && n >= SimdMinLen) return Simd.sumSqOffBB(bb, off, n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = bb.getFloat((off + i) * 4).toDouble; acc += d * d; i += 1
    }
    acc
  }

  /** [[cosineOff]] over a ByteBuffer payload — bitwise twin. */
  def cosineOffBB(a: Array[Float], bb: java.nio.ByteBuffer, off: Int,
                  n: Int): Double = {
    requireDim("cosine", a.length, n)
    val na = norm2(a)
    val nb = math.sqrt(sumSqOffBB(bb, off, n))
    if (na == 0.0 || nb == 0.0) 0.0
    else dotOffBB(a, bb, off, n) / (na * nb)
  }

  /** Dequantized dot: f32 query · (int8 codes × per-row scale)
    * (`src/simd_dot.cpp:151-213`). Routed through the widen-then-[[dot]]
    * shape so it is bit-identical to the batched `BatchScore.scoresI8`
    * path BY CONSTRUCTION (int8 codes are exact in float, so
    * `codes(i).toFloat.toDouble == codes(i).toDouble` bitwise), whatever
    * kernel [[dot]] dispatches to.
    */
  def dotI8(q: Array[Float], codes: Array[Byte], scale: Float): Double = {
    requireDim("dot_i8", q.length, codes.length)
    val n = q.length
    val x = new Array[Float](n)
    if (simdEnabled) Simd.i8ToFloat(codes, 0, n, x)
    else {
      var i = 0
      while (i < n) { x(i) = codes(i).toFloat; i += 1 }
    }
    dot(q, x) * scale
  }

  /** Dot of an f32 query against IEEE-754 half bit patterns
    * (`src/simd_dot.cpp:101-136`). Decode-then-[[dot]], the exact shape of
    * the batched `BatchScore.scoresHalf` hoist, for the same
    * bit-identity-by-construction as [[dotI8]].
    */
  def dotHalf(q: Array[Float], halfBits: Array[Short]): Double = {
    requireDim("dot_half", q.length, halfBits.length)
    val n = q.length
    val x = new Array[Float](n)
    var i = 0
    while (i < n) { x(i) = halfToFloat(halfBits(i)); i += 1 }
    dot(q, x)
  }

  /** f32 → f16 bits, round-to-nearest-even, preserving subnormals/Inf/NaN
    * (semantics of `tools/nvdb_convert_f16.cpp:20-94`).
    */
  def floatToHalf(f: Float): Short = {
    val x = java.lang.Float.floatToRawIntBits(f)
    val sign = (x >>> 16) & 0x8000
    val mant = x & 0x007fffff
    val exp = (x >>> 23) & 0xff
    if (exp == 0xff) { // Inf / NaN (keep a NaN payload bit)
      val m = if (mant != 0) { val t = mant >> 13; if (t != 0) t else 1 } else 0
      return (sign | 0x7c00 | m).toShort
    }
    val e = exp - 127 + 15
    if (e >= 0x1f) return (sign | 0x7c00).toShort // overflow -> Inf
    if (e <= 0) {
      if (e < -10) return sign.toShort // underflow -> signed zero
      val m = mant | 0x00800000
      val shift = 14 - e
      var half = m >> shift
      val rem = m & ((1 << shift) - 1)
      val halfway = 1 << (shift - 1)
      if (rem > halfway || (rem == halfway && (half & 1) == 1)) half += 1
      return (sign | half).toShort
    }
    var half = (e << 10) | (mant >> 13)
    val rem = mant & 0x1fff
    // RNE; a carry correctly rolls into the exponent (and to Inf at 0x7c00)
    if (rem > 0x1000 || (rem == 0x1000 && (half & 1) == 1)) half += 1
    (sign | half).toShort
  }

  /** f16 bits → f32 (`include/nvdb/f16_scalar.h:8-36`). */
  def halfToFloat(h: Short): Float = {
    val bits = h & 0xffff
    val sign = (bits & 0x8000) << 16
    val exp = (bits >>> 10) & 0x1f
    val mant = bits & 0x3ff
    if (exp == 0x1f) return java.lang.Float.intBitsToFloat(sign | 0x7f800000 | (mant << 13))
    if (exp == 0) {
      if (mant == 0) return java.lang.Float.intBitsToFloat(sign)
      val v = mant * 5.9604644775390625e-8f // exact: mant * 2^-24
      return if (sign != 0) -v else v
    }
    java.lang.Float.intBitsToFloat(sign | ((exp - 15 + 127) << 23) | (mant << 13))
  }

  /** Symmetric per-row int8 quantization scale = max_abs/127, 1.0f for an
    * all-zero row (`apps/nvdb_quantize_i8.cpp:12-16,71-80`).
    */
  def i8Scale(v: Array[Float]): Float = {
    var maxAbs = 0.0f
    var i = 0
    while (i < v.length) { val a = math.abs(v(i)); if (a > maxAbs) maxAbs = a; i += 1 }
    if (maxAbs == 0.0f) 1.0f else maxAbs / 127.0f
  }

  /** clamp(rint(x/scale), ±127) — rint = round-half-even like C lrint. */
  def i8Codes(v: Array[Float], scale: Float): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      val q = math.rint(v(i) / scale).toLong
      out(i) = math.max(-127L, math.min(127L, q)).toByte
      i += 1
    }
    out
  }

  // ---- ArrayData bridge (used by both interpreted eval and codegen) ----

  def dotAD(a: ArrayData, b: ArrayData): Double = dot(a.toFloatArray(), b.toFloatArray())
  def l2SqAD(a: ArrayData, b: ArrayData): Double = l2Sq(a.toFloatArray(), b.toFloatArray())
  def norm2AD(a: ArrayData): Double = norm2(a.toFloatArray())
  def cosineAD(a: ArrayData, b: ArrayData): Double = cosine(a.toFloatArray(), b.toFloatArray())
  def dotI8AD(q: ArrayData, codes: ArrayData, scale: Float): Double =
    dotI8(q.toFloatArray(), codes.toByteArray(), scale)
  def dotHalfAD(q: ArrayData, bits: ArrayData): Double =
    dotHalf(q.toFloatArray(), bits.toShortArray())

  def halfEncodeAD(v: ArrayData): ArrayData = {
    val f = v.toFloatArray()
    val out = new Array[Short](f.length)
    var i = 0
    while (i < f.length) { out(i) = floatToHalf(f(i)); i += 1 }
    new GenericArrayData(out)
  }

  def halfDecodeAD(v: ArrayData): ArrayData = {
    val h = v.toShortArray()
    val out = new Array[Float](h.length)
    var i = 0
    while (i < h.length) { out(i) = halfToFloat(h(i)); i += 1 }
    new GenericArrayData(out)
  }

  def quantizeI8AD(v: ArrayData): InternalRow = {
    val f = v.toFloatArray()
    val s = i8Scale(f)
    InternalRow(new GenericArrayData(i8Codes(f, s)), s)
  }

  /** fp16 bits → little-endian byte blob: the parquet BINARY twin of the
    * vecbin payload (`vecbin_format.h:12` stores half payloads as raw
    * uint16 bytes). One parquet value per ROW, decoded with one memcpy.
    * Measured note: per-row blobs alone scan at parity with
    * `array<smallint>` at 1M×384d (fixed per-row pipeline cost dominates
    * either); their value is as the unit the BLOCKED layout
    * (`QuantizedTables.write*Blocked`) concatenates, which amortizes that
    * fixed cost and restores the stored-bytes scan economics.
    */
  def packShortsLE(v: ArrayData): Array[Byte] = {
    val h = v.toShortArray()
    val out = new Array[Byte](h.length * 2)
    var i = 0
    while (i < h.length) {
      out(2 * i) = (h(i) & 0xff).toByte
      out(2 * i + 1) = ((h(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** LE byte-pair → the original short (exact [[packShortsLE]] inverse). */
  def unpackShortLE(b: Array[Byte], i: Int): Short =
    (((b(2 * i + 1) & 0xff) << 8) | (b(2 * i) & 0xff)).toShort

  /** int8 codes → byte blob (codes ARE bytes; this is a straight copy). */
  def packBytes(v: ArrayData): Array[Byte] = v.toByteArray()

  /** f32 row → little-endian byte blob (raw bit patterns — the vecbin
    * f32 payload layout; `intBitsToFloat` on the read side reproduces the
    * stored floats exactly).
    */
  def packFloatsLE(v: ArrayData): Array[Byte] = {
    val f = v.toFloatArray()
    val out = new Array[Byte](f.length * 4)
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < f.length) { bb.putFloat(f(i)); i += 1 }
    out
  }
}

/** Base for binary kernels `(array<float>, array<float>) -> double`. */
abstract class FloatArrayBinary extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  protected def kernelName: String
  override def nullSafeEval(a: Any, b: Any): Any =
    kernelEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  protected def kernelEval(a: ArrayData, b: ArrayData): Double
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.VectorKernels.$kernelName($a, $b)")
}

/** F1: dot product over two float arrays (`src/simd_dot.cpp:18-64`). */
case class DotF32(left: Expression, right: Expression) extends FloatArrayBinary {
  override protected def kernelName: String = "dotAD"
  override protected def kernelEval(a: ArrayData, b: ArrayData): Double = VectorKernels.dotAD(a, b)
  override def prettyName: String = "graft_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** F5: squared L2 distance (`apps/nvdb_ivf_eval.cpp:232-240`). */
case class L2SqF32(left: Expression, right: Expression) extends FloatArrayBinary {
  override protected def kernelName: String = "l2SqAD"
  override protected def kernelEval(a: ArrayData, b: ArrayData): Double = VectorKernels.l2SqAD(a, b)
  override def prettyName: String = "graft_l2sq"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Cosine similarity (dot/norms; = dot on L2-normalized inputs). */
case class CosineF32(left: Expression, right: Expression) extends FloatArrayBinary {
  override protected def kernelName: String = "cosineAD"
  override protected def kernelEval(a: ArrayData, b: ArrayData): Double = VectorKernels.cosineAD(a, b)
  override def prettyName: String = "graft_cosine"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** F8: L2 norm (`apps/nvdb_sanity.cpp:7-19`). */
case class NormL2(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = VectorKernels.norm2AD(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.expressions.VectorKernels.norm2AD($a)")
  override def prettyName: String = "graft_norm2"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** F3: f32 query · int8 codes × per-row scale (`src/simd_dot.cpp:151-213`). */
case class DotI8Scale(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(ByteType), FloatType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(q: Any, codes: Any, scale: Any): Any =
    VectorKernels.dotI8AD(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      scale.asInstanceOf[Float])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, c, s) =>
      s"graft.functions.expressions.VectorKernels.dotI8AD($q, $c, $s)")
  override def prettyName: String = "graft_dot_i8"
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** F2: f32 query · f16-bits base row (`src/simd_dot.cpp:101-136`). */
case class DotHalf(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(ShortType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(q: Any, bits: Any): Any =
    VectorKernels.dotHalfAD(q.asInstanceOf[ArrayData], bits.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, b) => s"graft.functions.expressions.VectorKernels.dotHalfAD($q, $b)")
  override def prettyName: String = "graft_dot_half"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** F6: f32 → f16 bit patterns, RNE (`tools/nvdb_convert_f16.cpp:20-94`). */
case class HalfEncode(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  override def nullSafeEval(a: Any): Any = VectorKernels.halfEncodeAD(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.expressions.VectorKernels.halfEncodeAD($a)")
  override def prettyName: String = "graft_half_encode"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** F6: f16 bit patterns → f32 (`include/nvdb/f16_scalar.h:8-36`). */
case class HalfDecode(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(ShortType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(a: Any): Any = VectorKernels.halfDecodeAD(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.expressions.VectorKernels.halfDecodeAD($a)")
  override def prettyName: String = "graft_half_decode"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** F7: one-pass symmetric int8 row quantization → struct(codes, scale)
  * (`apps/nvdb_quantize_i8.cpp:57-86`).
  */
case class QuantizeI8(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false),
    StructField("scale", FloatType, nullable = false)))
  override def nullSafeEval(a: Any): Any = VectorKernels.quantizeI8AD(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.expressions.VectorKernels.quantizeI8AD($a)")
  override def prettyName: String = "graft_quantize_i8"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** fp16-bits row → LE-packed BINARY blob (the scale storage flavor —
  * see [[VectorKernels.packShortsLE]]'s per-byte-decode rationale).
  */
case class PackShortsLE(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(ShortType))
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any): Any =
    VectorKernels.packShortsLE(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.expressions.VectorKernels.packShortsLE($a)")
  override def prettyName: String = "graft_pack_shorts_le"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** int8-codes row → BINARY blob (codes are bytes; straight copy). */
case class PackBytes(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(ByteType))
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any): Any =
    VectorKernels.packBytes(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.expressions.VectorKernels.packBytes($a)")
  override def prettyName: String = "graft_pack_bytes"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** f32 row → LE BINARY blob (raw bit patterns; vecbin payload layout). */
case class PackFloatsLE(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any): Any =
    VectorKernels.packFloatsLE(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.expressions.VectorKernels.packFloatsLE($a)")
  override def prettyName: String = "graft_pack_floats_le"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
