package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Batched multi-query scoring — the reference's J2 batched scan
  * (`/root/reference/apps/nvdb_bench.cpp:47-159`): stream the base ONCE
  * and score every query against each row in a tight loop.
  *
  * The broadcast-NLJ plan materializes one joined row per (base, query)
  * pair — at Q queries that is Q UnsafeRow copies and 2Q array
  * conversions per base row. Here the base row converts once, the inner
  * loop is pure float math over the query matrix (a codegen reference
  * object in the f16/i8 expressions below), and the per-query scores go
  * straight into per-partition top-k buffers (`Search.scanTopK`), so no
  * Q×N (row, query) stream materializes either.
  */
object BatchScore {

  final val MDot = 0
  final val ML2 = 1
  final val MCos = 2

  /** All dot scores for one row against the query matrix, register-tiled
    * four queries at a time ([[Simd.dot4]]): the row chunk and its
    * float→double widening are reused from registers instead of
    * re-streamed per query — the scan's memory traffic is ~Q× the corpus
    * without it. Bitwise-identical per pair to [[VectorKernels.dot]]
    * (the tail falls back to it). The query matrix has one dim
    * (checked where it is built, `Search.collectQueries`); the row must
    * have it too.
    */
  private def dotsInto(x: Array[Float], queries: Array[Array[Float]],
                       scale: Double, out: Array[Double]): Unit = {
    val nq = queries.length
    if (nq > 0) VectorKernels.requireDim("exact scan", queries(0).length, x.length)
    var q = 0
    if (VectorKernels.simdEnabled && x.length >= 16) {
      while (q + 4 <= nq) {
        Simd.dot4(x, queries(q), 0, queries(q + 1), 0, queries(q + 2), 0,
          queries(q + 3), 0, x.length, out, q)
        q += 4
      }
    }
    while (q < nq) { out(q) = VectorKernels.dot(x, queries(q)); q += 1 }
    if (scale != 1.0) {
      var i = 0
      while (i < nq) { out(i) *= scale; i += 1 }
    }
  }

  /** Same tiling for squared L2 ([[Simd.l2Sq4]]). */
  private def l2Into(x: Array[Float], queries: Array[Array[Float]],
                     out: Array[Double]): Unit = {
    val nq = queries.length
    if (nq > 0) VectorKernels.requireDim("exact scan", queries(0).length, x.length)
    var q = 0
    if (VectorKernels.simdEnabled && x.length >= 16) {
      while (q + 4 <= nq) {
        Simd.l2Sq4(x, queries(q), 0, queries(q + 1), 0, queries(q + 2), 0,
          queries(q + 3), 0, x.length, out, q)
        q += 4
      }
    }
    while (q < nq) { out(q) = VectorKernels.l2Sq(x, queries(q)); q += 1 }
  }

  /** One row against the whole query matrix for any metric, tiled —
    * `Search.exactTopKFused`'s and `groundTruthBoth`'s scoring loop. Each
    * score is bitwise the per-pair kernel's (the scan-vs-BNLJ equality in
    * ScaleSpec and ExactScanSpec rides on it). `out` is caller-allocated
    * so the scan can reuse one buffer across rows.
    */
  def scoreAll(x: Array[Float], queries: Array[Array[Float]], metric: Int,
               out: Array[Double]): Unit = metric match {
    case MDot => dotsInto(x, queries, 1.0, out)
    case ML2 => l2Into(x, queries, out)
    case _ =>
      // cosine = dot / (‖x‖·‖q‖): the row norm hoists once per row, the
      // query norms once per query BATCH ([[qnormsOf]] — they are
      // call-invariant doubles, so hoisting cannot change a bit), and
      // the division order matches VectorKernels.cosine exactly — each
      // pair stays bitwise-identical to the per-pair kernel
      dotsInto(x, queries, 1.0, out)
      val nx = VectorKernels.norm2(x)
      val nqs = qnormsOf(queries)
      var q = 0
      while (q < queries.length) {
        out(q) = if (nx == 0.0 || nqs(q) == 0.0) 0.0 else out(q) / (nx * nqs(q))
        q += 1
      }
  }

  /** Per-batch query norms, keyed by the broadcast query matrix's identity.
    * Weak keys: entries die with the codegen reference object, so a long
    * session cycling many query batches cannot leak. A benign race may
    * compute an entry twice; both copies are bitwise equal.
    *
    * The fast path is a PER-THREAD last-entry pair (not a shared volatile):
    * two concurrent jobs scoring different query batches in one executor
    * each keep their own hot entry instead of ping-ponging a global one
    * into per-row lock traffic, and a dead batch's strong reference dies
    * with the task thread's next batch rather than pinning the WeakHashMap
    * entry forever.
    */
  private val qnormCache = new java.util.WeakHashMap[Array[Array[Float]], Array[Double]]()
  private val qnormLast =
    new ThreadLocal[(Array[Array[Float]], Array[Double])]()
  private def qnormsOf(queries: Array[Array[Float]]): Array[Double] = {
    val last = qnormLast.get()
    if (last != null && (last._1 eq queries)) return last._2
    val n = qnormCache.synchronized {
      var got = qnormCache.get(queries)
      if (got == null) {
        got = queries.map(VectorKernels.norm2)
        qnormCache.put(queries, got)
      }
      got
    }
    qnormLast.set((queries, n))
    n
  }

  /** Per-thread reusable decode buffer for the half/int8 row hoists: the
    * batched scans call these once per BASE ROW, and a fresh
    * `Array[Float](dim)` per row put ~1.5 GB of allocation churn on the 1M
    * × 384d scan — the dominant non-bandwidth cost the r8 verdict flagged
    * (i8 margin 1.22× vs the 1.85× stored-bytes prediction). All rows of
    * one scan share a dim, so each task thread allocates exactly once.
    * Safe: the buffer never escapes a single `scoreAll` call.
    */
  private val decodeBuf = new ThreadLocal[Array[Float]]()
  private def bufOf(n: Int): Array[Float] = {
    var b = decodeBuf.get()
    if (b == null || b.length != n) { b = new Array[Float](n); decodeBuf.set(b) }
    b
  }

  /** fp16 row → all-query dot scores into caller-owned `out` (decode
    * rides the thread-local buffer; shared by the codegen expression and
    * the fused partition scan).
    */
  def scoreAllHalf(h: Array[Short], queries: Array[Array[Float]],
                   out: Array[Double]): Unit = {
    val x = bufOf(h.length)
    var i = 0
    while (i < h.length) { x(i) = VectorKernels.halfToFloat(h(i)); i += 1 }
    dotsInto(x, queries, 1.0, out)
  }

  /** int8+scale row → all-query dequantized dot scores into `out`. The
    * widen is SIMD ([[Simd.i8ToFloat]]) — int8→float is exact, so the
    * vector form is bitwise the scalar loop and the oracle contract is
    * untouched.
    */
  def scoreAllI8(c: Array[Byte], scale: Float, queries: Array[Array[Float]],
                 out: Array[Double]): Unit = {
    val x = bufOf(c.length)
    if (VectorKernels.simdEnabled) Simd.i8ToFloat(c, 0, c.length, x)
    else {
      var i = 0
      while (i < c.length) { x(i) = c(i).toFloat; i += 1 }
    }
    dotsInto(x, queries, scale.toDouble, out)
  }

  /** LE-packed fp16 BINARY row (see `VectorKernels.packShortsLE`) → all-
    * query dots. `unpackShortLE ∘ packShortsLE` is the identity on the
    * bit patterns, so scores are bitwise-identical to [[scoreAllHalf]]
    * over the unpacked array.
    */
  def scoreAllHalfBin(b: Array[Byte], queries: Array[Array[Float]],
                      out: Array[Double]): Unit =
    scoreAllHalfSlice(b, 0, b.length / 2, queries, out)

  // ---- slice flavors: score ONE vector out of a block-packed blob
  // (BlockedTables). Same decode math as the per-row kernels element for
  // element, so every score is bitwise-identical to the unpacked paths —
  // the blob is only an amortization of per-row plan overhead.

  /** fp16 slice: `dim` LE shorts starting at byte `off`. */
  def scoreAllHalfSlice(b: Array[Byte], off: Int, dim: Int,
                        queries: Array[Array[Float]], out: Array[Double]): Unit = {
    val x = bufOf(dim)
    var i = 0
    while (i < dim) {
      val s = (((b(off + 2 * i + 1) & 0xff) << 8) | (b(off + 2 * i) & 0xff)).toShort
      x(i) = VectorKernels.halfToFloat(s)
      i += 1
    }
    dotsInto(x, queries, 1.0, out)
  }

  /** int8 slice: `dim` code bytes starting at `off`, dequant by `scale`.
    * SIMD widen, bitwise the scalar loop (see [[scoreAllI8]]).
    */
  def scoreAllI8Slice(b: Array[Byte], off: Int, dim: Int, scale: Float,
                      queries: Array[Array[Float]], out: Array[Double]): Unit = {
    val x = bufOf(dim)
    if (VectorKernels.simdEnabled) Simd.i8ToFloat(b, off, dim, x)
    else {
      var i = 0
      while (i < dim) { x(i) = b(off + i).toFloat; i += 1 }
    }
    dotsInto(x, queries, scale.toDouble, out)
  }

  /** f32 slice: `dim` LE floats starting at byte `off` (raw bit patterns
    * — intBitsToFloat reproduces the stored floats exactly).
    */
  def scoreAllF32Slice(b: Array[Byte], off: Int, dim: Int,
                       queries: Array[Array[Float]], out: Array[Double]): Unit = {
    val x = bufOf(dim)
    var i = 0
    while (i < dim) {
      val o = off + 4 * i
      val bits = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | (b(o + 3) << 24)
      x(i) = java.lang.Float.intBitsToFloat(bits)
      i += 1
    }
    dotsInto(x, queries, 1.0, out)
  }

  /** fp16 flavor: decode the row's half bits ONCE, then score all
    * queries. Bit-identical to per-pair `DotHalf` (same products, same
    * accumulation order).
    */
  def scoresHalf(bits: ArrayData, queries: Array[Array[Float]]): ArrayData = {
    val out = new Array[Double](queries.length)
    scoreAllHalf(bits.toShortArray(), queries, out)
    new GenericArrayData(out)
  }

  def scoresHalfBin(b: Array[Byte], queries: Array[Array[Float]]): ArrayData = {
    val out = new Array[Double](queries.length)
    scoreAllHalfBin(b, queries, out)
    new GenericArrayData(out)
  }

  def scoresI8Bin(b: Array[Byte], scale: Float,
                  queries: Array[Array[Float]]): ArrayData = {
    val out = new Array[Double](queries.length)
    scoreAllI8(b, scale, queries, out)
    new GenericArrayData(out)
  }

  /** int8 flavor: dequantized dot per query. The byte→float widening is
    * hoisted ONCE per row (the same shape as [[scoresHalf]]'s decode
    * hoist): int8 codes are integers ≤127, exact in both float and
    * double, so `x(i).toDouble == c(i).toDouble` bitwise and the per-query
    * loop is the identical f32 dot kernel the plain scan runs — same
    * products, same accumulation order, bit-identical scores to the
    * per-pair `DotI8Scale` (BatchScoreSpec gates the equality). Before
    * the hoist the Q-per-row byte→double converts ran INSIDE the query
    * loop and the i8 scan measured ~2× slower than f16 at 1M×384d,
    * inverting the reference's INT8-over-FP16 win (`Performance.md:242-255`).
    */
  def scoresI8(codes: ArrayData, scale: Float,
               queries: Array[Array[Float]]): ArrayData = {
    val out = new Array[Double](queries.length)
    scoreAllI8(codes.toByteArray(), scale, queries, out)
    new GenericArrayData(out)
  }
}

/** `batch_scores_half(bits)` → per-query dot against an fp16-bits row
  * (each half decodes ONCE per row, not once per query).
  */
case class BatchScoresHalf(child: Expression, queries: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(ShortType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    BatchScore.scoresHalf(v.asInstanceOf[ArrayData], queries)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queries", queries, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.expressions.BatchScore.scoresHalf($v, $ref)")
  }
  override def prettyName: String = "batch_scores_half"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `batch_scores_half_bin(blob)` — the LE-packed BINARY flavor of
  * [[BatchScoresHalf]] (same scores bitwise; the input decodes per-byte
  * at the parquet scan instead of per-element).
  */
case class BatchScoresHalfBin(child: Expression, queries: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    BatchScore.scoresHalfBin(v.asInstanceOf[Array[Byte]], queries)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queries", queries, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.expressions.BatchScore.scoresHalfBin($v, $ref)")
  }
  override def prettyName: String = "batch_scores_half_bin"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `batch_scores_i8_bin(blob, scale)` — BINARY-codes flavor of
  * [[BatchScoresI8]] (bytes are the codes; same scores bitwise).
  */
case class BatchScoresI8Bin(left: Expression, right: Expression,
                            queries: Array[Array[Float]])
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, FloatType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(codes: Any, scale: Any): Any =
    BatchScore.scoresI8Bin(codes.asInstanceOf[Array[Byte]],
      scale.asInstanceOf[Float], queries)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queries", queries, "float[][]")
    defineCodeGen(ctx, ev, (c, s) =>
      s"graft.functions.expressions.BatchScore.scoresI8Bin($c, $s, $ref)")
  }
  override def prettyName: String = "batch_scores_i8_bin"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** `batch_scores_i8(codes, scale)` → per-query dequantized dot. */
case class BatchScoresI8(left: Expression, right: Expression,
                         queries: Array[Array[Float]])
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(ByteType), FloatType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(codes: Any, scale: Any): Any =
    BatchScore.scoresI8(codes.asInstanceOf[ArrayData],
      scale.asInstanceOf[Float], queries)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queries", queries, "float[][]")
    defineCodeGen(ctx, ev, (c, s) =>
      s"graft.functions.expressions.BatchScore.scoresI8($c, $s, $ref)")
  }
  override def prettyName: String = "batch_scores_i8"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}
