package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels (C3) — the Spark-native re-expression of
  * the reference's FAISS IVF-PQ path (`/root/reference/apps/
  * nvdb_ivfpq_build.cpp:76-129`; ADC evaluation via `nvdb_ivf_eval`).
  *
  * A codebook is m sub-quantizers × ksub centroids × dsub dims. Encoding
  * maps a D-dim float vector to m bytes (argmin-L2 per subspace); scoring
  * is Asymmetric Distance Computation: the query side expands to an
  * m×ksub lookup table ONCE per query (broadcast side), and each base row
  * costs m table lookups instead of D multiply-adds — the reference's
  * 42 MB-vs-738 MB memory/bandwidth trade (`Performance.md:621-623`).
  *
  * Codebooks ride into codegen as reference objects, like the IVF
  * centroid matrix in [[CentroidOps]].
  */
object PqOps {

  /** The dim a codebook set encodes: Σ dsub over its m books. */
  private def booksDim(books: Array[Array[Array[Float]]]): Int = {
    var d = 0
    var s = 0
    while (s < books.length) { d += books(s)(0).length; s += 1 }
    d
  }

  /** argmin-L2 code per subspace → m bytes. `x` must have m*dsub dims. */
  def encode(v: ArrayData, books: Array[Array[Array[Float]]]): ArrayData = {
    val x = v.toFloatArray()
    VectorKernels.requireDim("pq encode", x.length, booksDim(books))
    val m = books.length
    val out = new Array[Byte](m)
    var s = 0
    var off = 0
    while (s < m) {
      val cb = books(s)
      val dsub = cb(0).length
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) { val t = x(off + i) - cent(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      off += dsub
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup table for a query: lut[s*ksub + c] = L2²(q_sub, cb[s][c])
    * (or dot for IP ranking). Built once per query on the broadcast side.
    */
  def lut(q: ArrayData, books: Array[Array[Array[Float]]], l2: Boolean): ArrayData = {
    val x = q.toFloatArray()
    VectorKernels.requireDim("pq lut", x.length, booksDim(books))
    val m = books.length
    val ksub = books(0).length
    val out = new Array[Float](m * ksub)
    var s = 0
    var off = 0
    while (s < m) {
      val cb = books(s)
      val dsub = cb(0).length
      var c = 0
      while (c < ksub) {
        val cent = cb(c)
        var acc = 0.0
        var i = 0
        if (l2) while (i < dsub) { val t = x(off + i) - cent(i); acc += t * t; i += 1 }
        else while (i < dsub) { acc += x(off + i).toDouble * cent(i).toDouble; i += 1 }
        out(s * ksub + c) = acc.toFloat
        c += 1
      }
      s += 1
      off += dsub
    }
    new GenericArrayData(out)
  }

  /** ADC score: m lookups, double-accumulated. */
  def adc(codes: ArrayData, lutArr: ArrayData): Double = {
    val cs = codes.toByteArray()
    val l = lutArr.toFloatArray()
    val m = cs.length
    val ksub = l.length / m
    var acc = 0.0
    var s = 0
    while (s < m) { acc += l(s * ksub + (cs(s) & 0xff)); s += 1 }
    acc
  }

  /** One query's ADC lookup-sum over one `m`-byte slice of a block-packed
    * codes blob (`QuantizedTables.writeBytesBlocked`) — the inner kernel
    * of `Pq.searchBatchedBlocked`'s query-tiled loop. Identical lookups
    * in identical order ⇒ bitwise [[adc]]'s sum.
    */
  def adcSlice(b: Array[Byte], off: Int, m: Int, l: Array[Float]): Double = {
    val ksub = l.length / m
    var acc = 0.0
    var s = 0
    while (s < m) { acc += l(s * ksub + (b(off + s) & 0xff)); s += 1 }
    acc
  }

  /** Four rows' ADC lookup-sums for one query in one pass — [[adcSlice]]
    * with four INDEPENDENT accumulation chains interleaved. The LUT
    * lookups are data-dependent scalar loads (48 per row at m=48), so a
    * single row's chain is latency-bound; four rows quadruple the
    * outstanding loads the core can overlap. Each row's adds run in the
    * same s-ascending order as [[adcSlice]], so every sum is bitwise
    * identical — only instruction scheduling changes.
    */
  def adcSlice4(b: Array[Byte], off0: Int, off1: Int, off2: Int, off3: Int,
                m: Int, l: Array[Float], out: Array[Double]): Unit = {
    val ksub = l.length / m
    var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
    var s = 0
    var base = 0
    while (s < m) {
      a0 += l(base + (b(off0 + s) & 0xff))
      a1 += l(base + (b(off1 + s) & 0xff))
      a2 += l(base + (b(off2 + s) & 0xff))
      a3 += l(base + (b(off3 + s) & 0xff))
      s += 1
      base += ksub
    }
    out(0) = a0; out(1) = a1; out(2) = a2; out(3) = a3
  }

  // ---- 4-bit fastscan (PQ4): quantized-LUT register-shuffle ADC ----
  // (André et al., VLDB'15 "Cache locality is not enough"; FAISS
  // IndexPQFastScan. The SIMD kernel is Simd.pq4Group; everything here is
  // its exact integer contract + the scalar twin it is gated against.)

  /** Quantize a query's float ADC LUT (m4 × 16 entries, [[lut]] layout)
    * to u8 tables for [[graft.functions.expressions.Simd.pq4Group]].
    *
    * FAISS's quantization scheme: shift each subquantizer by its own
    * minimum (the per-s bias sums into one query-level `bias`), share ONE
    * step `delta` across subquantizers = max per-s range / 255, so every
    * entry fits u8 with zero saturation and the u16 group sum relates to
    * the float ADC sum by `float ≈ bias + delta·u16` plus a bounded
    * rounding term ≤ m4·delta/2. Ranking on the u16 sums is therefore an
    * approximation ONLY through that bounded term — the selection stage
    * re-ranks survivors with the float LUT, so the operator's output
    * precision is the float ADC's (Pq4Spec gates recall of the pruning).
    *
    * `larger = true` (dot/cosine ranking) negates entries first so
    * smaller-is-better holds for every metric downstream.
    *
    * Tables are replicated ×4 into 64-byte slots (entry j of subq s at
    * `s*64 + j`, j < 16 repeated at +16/+32/+48) so a table register read
    * of ANY preferred byte-species width starts with a full valid LUT.
    *
    * Returns (tables, bias, delta) — all deterministic in the inputs.
    */
  def quantizeLuts(lutF: Array[Float], m4: Int,
                   larger: Boolean): (Array[Byte], Double, Double) = {
    val ksub = lutF.length / m4
    require(ksub == 16, s"pq4 requires ksub=16, got $ksub")
    // The group kernels accumulate m4 u8 entries into 16-bit lanes read
    // back as UNSIGNED (mod-2^16 wrapping adds + `& 0xffff`), so the sum
    // is exact iff m4·255 ≤ 65535. Past m4=256 the sums would wrap
    // SILENTLY — pruning would keep the wrong survivors and recall would
    // collapse with no error — so the bound is a hard contract here, the
    // one chokepoint every fastscan path builds its tables through.
    // (1536-d vectors at dsub=4 give m4=384: split such corpora into two
    // pq4 indexes or use the 8-bit ADC path, which has no such bound.)
    require(m4 <= 256,
      s"pq4 supports m4 <= 256 (u16 lane-sum bound m4*255 <= 65535), got $m4")
    var bias = 0.0
    var maxRange = 0.0
    var s = 0
    while (s < m4) {
      var mn = Double.MaxValue
      var mx = Double.MinValue
      var j = 0
      while (j < 16) {
        val e = if (larger) -lutF(s * 16 + j).toDouble else lutF(s * 16 + j).toDouble
        if (e < mn) mn = e
        if (e > mx) mx = e
        j += 1
      }
      bias += mn
      if (mx - mn > maxRange) maxRange = mx - mn
      s += 1
    }
    val delta = if (maxRange > 0.0) maxRange / 255.0 else 1.0
    val tables = new Array[Byte](m4 * 64)
    s = 0
    while (s < m4) {
      var mn = Double.MaxValue
      var j = 0
      while (j < 16) {
        val e = if (larger) -lutF(s * 16 + j).toDouble else lutF(s * 16 + j).toDouble
        if (e < mn) mn = e
        j += 1
      }
      j = 0
      while (j < 16) {
        val e = if (larger) -lutF(s * 16 + j).toDouble else lutF(s * 16 + j).toDouble
        val q = math.min(255L, math.round((e - mn) / delta)).toInt
        val b = q.toByte
        tables(s * 64 + j) = b
        tables(s * 64 + j + 16) = b
        tables(s * 64 + j + 32) = b
        tables(s * 64 + j + 48) = b
        j += 1
      }
      s += 1
    }
    (tables, bias, delta)
  }

  /** Scalar twin of [[graft.functions.expressions.Simd.pq4Group]]:
    * identical u16 sums (integer arithmetic is exact, so equality is
    * bitwise by construction — Pq4Spec still gates it against the SIMD
    * path as the lane-mapping check).
    */
  def pq4GroupRef(blob: Array[Byte], off: Int, m4: Int, tables: Array[Byte],
                  out: Array[Short]): Unit = {
    val spMax = m4 / 2
    var r = 0
    while (r < 64) {
      var acc = 0
      var sp = 0
      while (sp < spMax) {
        val b = blob(off + sp * 64 + r) & 0xff
        acc += tables(2 * sp * 64 + (b & 0x0f)) & 0xff
        acc += tables((2 * sp + 1) * 64 + ((b >>> 4) & 0x0f)) & 0xff
        sp += 1
      }
      out(r) = acc.toShort
      r += 1
    }
  }

  /** Exact float ADC sum of one row from its stashed nibble-packed codes
    * (layout: byte sp = codes of subquantizers 2sp / 2sp+1) — the
    * re-ranking scorer for fastscan survivors; same lookups as [[adc]]
    * on the unpacked code array, so scores match the exact-ADC path
    * bitwise.
    */
  def adcNibbles(codes: Array[Byte], off: Int, spMax: Int,
                 lutF: Array[Float]): Double = {
    var acc = 0.0
    var sp = 0
    while (sp < spMax) {
      val b = codes(off + sp) & 0xff
      acc += lutF(2 * sp * 16 + (b & 0x0f))
      acc += lutF((2 * sp + 1) * 16 + ((b >>> 4) & 0x0f))
      sp += 1
    }
    acc
  }

  /** Residual vs a coarse centroid: vec - centroids[cid] (IVF-PQ encodes
    * residuals, `nvdb_ivfpq_build.cpp` via FAISS IndexIVFPQ).
    */
  def residual(v: ArrayData, cid: Int, centroids: Array[Array[Float]]): ArrayData = {
    val x = v.toFloatArray()
    val c = centroids(cid)
    VectorKernels.requireDim("ivf residual", x.length, c.length)
    val out = new Array[Float](x.length)
    var i = 0
    while (i < x.length) { out(i) = x(i) - c(i); i += 1 }
    new GenericArrayData(out)
  }
}

/** `pq_encode(vec)` → array<byte> of m sub-quantizer codes. */
case class PqEncode(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PqOps.encode(v.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "float[][][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.expressions.PqOps.encode($v, $ref)")
  }
  override def prettyName: String = "pq_encode"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pq_lut(qvec)` → array<float> ADC table (m*ksub), L2 or IP flavor. */
case class PqLut(child: Expression, books: Array[Array[Array[Float]]], l2: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PqOps.lut(v.asInstanceOf[ArrayData], books, l2)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "float[][][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.expressions.PqOps.lut($v, $ref, $l2)")
  }
  override def prettyName: String = "pq_lut"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pq_adc(codes, lut)` → approximate distance/similarity. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(ByteType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(codes: Any, lutArr: Any): Any =
    PqOps.adc(codes.asInstanceOf[ArrayData], lutArr.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.functions.expressions.PqOps.adc($c, $l)")
  override def prettyName: String = "pq_adc"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** `centroid_residual(vec, cluster_id)` → vec - centroid[cluster_id]. */
case class CentroidResidual(left: Expression, right: Expression,
                            centroids: Array[Array[Float]])
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), IntegerType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any, cid: Any): Any =
    PqOps.residual(v.asInstanceOf[ArrayData], cid.asInstanceOf[Int], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, (v, c) =>
      s"graft.functions.expressions.PqOps.residual($v, $c, $ref)")
  }
  override def prettyName: String = "centroid_residual"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

