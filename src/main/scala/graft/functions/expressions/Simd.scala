package graft.functions.expressions

import jdk.incubator.vector.{ByteVector, DoubleVector, FloatVector, VectorOperators}

/** Explicit SIMD kernels via the JDK Vector API — the Spark-side analogue
  * of the reference's runtime-dispatched AVX2+FMA kernel family
  * (`/root/reference/src/simd_dot.cpp:26-66`: one `vfmadd` per 8 floats,
  * scalar fallback when the ISA lacks AVX2).
  *
  * Precision contract — stricter than the reference's. The reference lets
  * its SIMD path accumulate in FLOAT (`_mm256_fmadd_ps`) while its scalar
  * fallback accumulates in double, so its two paths drift by ~1e-4
  * relative on long rows. Our oracle gate (DuckDB hash compare at 1e-9
  * rounding) cannot absorb that, so these kernels widen each float lane
  * pair to DOUBLE lanes and FMA in double: a float×float product is exact
  * in double (24+24 ≤ 53 mantissa bits), so every lane's running sum
  * performs the IDENTICAL single-rounded adds as the scalar kernel over
  * that lane's stride-subsequence. The only difference from sequential
  * scalar accumulation is the lane interleave + final reduction order —
  * a deterministic ~1e-15-relative reassociation, far under every oracle
  * tolerance and property-gated by SimdSpec.
  *
  * Dispatch lives in [[VectorKernels]] (`-Dgraft.simd=off` forces scalar,
  * mirroring the reference's `set_force_scalar`, `src/simd_dot.cpp:14-16`);
  * this object is only loaded behind a linkage-failure guard so a JVM
  * without `jdk.incubator.vector` degrades to the scalar kernels.
  */
object Simd {

  private val FS = FloatVector.SPECIES_PREFERRED
  private val DS = DoubleVector.SPECIES_PREFERRED

  /** Probed by [[VectorKernels.simdEnabled]]; any linkage/availability
    * failure is caught there. Same-shape float/double species are required
    * so `convert(F2D, part)` is the shape-preserving intrinsic form.
    */
  def available: Boolean =
    FS.length() >= 8 && FS.vectorBitSize() == DS.vectorBitSize()

  /** Lane width exposed for specs/diagnostics. */
  def floatLanes: Int = FS.length()

  // ---- Heap kernels: one per (operation, tile width, accumulator) ------
  // Every stored row is passed as an (array, offset) pair and read at
  // `row(off + i)`; the query side `a` is read from index 0. A row-array
  // caller passes offset 0, the HNSW packed store passes `flat` with the
  // node's offset (r13: `Array[Array[Float]]` rows cost a pointer
  // dereference + scattered cache lines per distance eval), and a 4-row
  // tile takes four independent pairs, so query tiles, index gathers and
  // packed-store gathers all run the same loop. Each tile lane performs
  // the identical adds in the identical order as the single-row kernel
  // of its operation (SimdSpec gates every pair bitwise), so graphs built
  // over either storage are identical and every determinism oracle rides
  // through unchanged.

  /** dot(a, row) over the first `n` elements, row read at
    * `flat(boff + i)`, double-accumulated.
    */
  def dotOff(a: Array[Float], flat: Array[Float], boff: Int, n: Int): Double = {
    var acc0 = DoubleVector.zero(DS)
    var acc1 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, a, i)
      val vb = FloatVector.fromArray(FS, flat, boff + i)
      acc0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
        .fma(vb.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], acc0)
      acc1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
        .fma(vb.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], acc1)
      i += step
    }
    var s = acc0.add(acc1).reduceLanes(VectorOperators.ADD)
    while (i < n) { s += a(i).toDouble * flat(boff + i).toDouble; i += 1 }
    s
  }

  /** Squared L2 over the first `n` elements, row read at
    * `flat(boff + i)`. Lane math: `d = a - b` in double (same single
    * rounding as the scalar kernel), then `fma(d, d)` — one rounding
    * where the scalar kernel's `acc + d*d` takes two, a
    * ≤1-ulp-per-element divergence inside the same reassociation budget.
    */
  def l2SqOff(a: Array[Float], flat: Array[Float], boff: Int, n: Int): Double = {
    var acc0 = DoubleVector.zero(DS)
    var acc1 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, a, i)
      val vb = FloatVector.fromArray(FS, flat, boff + i)
      val d0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
        .sub(vb.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
        .sub(vb.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      acc0 = d0.fma(d0, acc0)
      acc1 = d1.fma(d1, acc1)
      i += step
    }
    var s = acc0.add(acc1).reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val d = a(i).toDouble - flat(boff + i).toDouble; s += d * d; i += 1
    }
    s
  }

  /** Sum of squares over `flat(off until off + n)` (norm2 = sqrt of this). */
  def sumSqOff(flat: Array[Float], off: Int, n: Int): Double = {
    var acc0 = DoubleVector.zero(DS)
    var acc1 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, flat, off + i)
      val va0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
      val va1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
      acc0 = va0.fma(va0, acc0)
      acc1 = va1.fma(va1, acc1)
      i += step
    }
    var s = acc0.add(acc1).reduceLanes(VectorOperators.ADD)
    while (i < n) { val d = flat(off + i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Four dots in one pass: a · r_j (read at `r_j(o_j + i)`) →
    * out(ooff + j), j ∈ 0..3.
    *
    * The batched scan's memory shape: scoring Q queries per row re-streams
    * the row once PER QUERY from cache; tiling 4 queries reuses each
    * row chunk (and its F2D widening) from registers, cutting the row's
    * load+convert traffic 4×. The same tile serves consumers whose
    * candidate set is scattered by index (the HNSW beam expansion): the
    * four rows are independent pairs. Each pair still accumulates in its
    * OWN lane pair in the identical order as [[dotOff]], so every output
    * is bitwise equal to `dotOff(a, r_j, o_j, n)` — SimdSpec gates it.
    */
  def dot4(a: Array[Float],
           r0: Array[Float], o0: Int, r1: Array[Float], o1: Int,
           r2: Array[Float], o2: Int, r3: Array[Float], o3: Int,
           n: Int, out: Array[Double], ooff: Int): Unit = {
    var a00 = DoubleVector.zero(DS); var a01 = DoubleVector.zero(DS)
    var a10 = DoubleVector.zero(DS); var a11 = DoubleVector.zero(DS)
    var a20 = DoubleVector.zero(DS); var a21 = DoubleVector.zero(DS)
    var a30 = DoubleVector.zero(DS); var a31 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, a, i)
      val va0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
      val va1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
      val v0 = FloatVector.fromArray(FS, r0, o0 + i)
      a00 = va0.fma(v0.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], a00)
      a01 = va1.fma(v0.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], a01)
      val v1 = FloatVector.fromArray(FS, r1, o1 + i)
      a10 = va0.fma(v1.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], a10)
      a11 = va1.fma(v1.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], a11)
      val v2 = FloatVector.fromArray(FS, r2, o2 + i)
      a20 = va0.fma(v2.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], a20)
      a21 = va1.fma(v2.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], a21)
      val v3 = FloatVector.fromArray(FS, r3, o3 + i)
      a30 = va0.fma(v3.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], a30)
      a31 = va1.fma(v3.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], a31)
      i += step
    }
    var s0 = a00.add(a01).reduceLanes(VectorOperators.ADD)
    var s1 = a10.add(a11).reduceLanes(VectorOperators.ADD)
    var s2 = a20.add(a21).reduceLanes(VectorOperators.ADD)
    var s3 = a30.add(a31).reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val ad = a(i).toDouble
      s0 += ad * r0(o0 + i).toDouble; s1 += ad * r1(o1 + i).toDouble
      s2 += ad * r2(o2 + i).toDouble; s3 += ad * r3(o3 + i).toDouble
      i += 1
    }
    out(ooff) = s0; out(ooff + 1) = s1; out(ooff + 2) = s2; out(ooff + 3) = s3
  }

  /** Four squared-L2 distances in one pass: ‖a − r_j‖² → out(ooff + j).
    * Per-pair lane math identical to [[l2SqOff]] (sub in double,
    * `fma(d,d)`, own lane pair per output), same register-reuse rationale
    * as [[dot4]] — it is also the gather tile of the norm-ordered argmin
    * ([[CentroidOps.argminNormOrdered]]), whose candidate window is
    * contiguous in NORM order, not in storage order. SimdSpec gates the
    * bitwise equality.
    */
  def l2Sq4(a: Array[Float],
            r0: Array[Float], o0: Int, r1: Array[Float], o1: Int,
            r2: Array[Float], o2: Int, r3: Array[Float], o3: Int,
            n: Int, out: Array[Double], ooff: Int): Unit = {
    var a00 = DoubleVector.zero(DS); var a01 = DoubleVector.zero(DS)
    var a10 = DoubleVector.zero(DS); var a11 = DoubleVector.zero(DS)
    var a20 = DoubleVector.zero(DS); var a21 = DoubleVector.zero(DS)
    var a30 = DoubleVector.zero(DS); var a31 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, a, i)
      val va0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
      val va1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
      val v0 = FloatVector.fromArray(FS, r0, o0 + i)
      val d00 = va0.sub(v0.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d01 = va1.sub(v0.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      a00 = d00.fma(d00, a00); a01 = d01.fma(d01, a01)
      val v1 = FloatVector.fromArray(FS, r1, o1 + i)
      val d10 = va0.sub(v1.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d11 = va1.sub(v1.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      a10 = d10.fma(d10, a10); a11 = d11.fma(d11, a11)
      val v2 = FloatVector.fromArray(FS, r2, o2 + i)
      val d20 = va0.sub(v2.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d21 = va1.sub(v2.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      a20 = d20.fma(d20, a20); a21 = d21.fma(d21, a21)
      val v3 = FloatVector.fromArray(FS, r3, o3 + i)
      val d30 = va0.sub(v3.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d31 = va1.sub(v3.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      a30 = d30.fma(d30, a30); a31 = d31.fma(d31, a31)
      i += step
    }
    var s0 = a00.add(a01).reduceLanes(VectorOperators.ADD)
    var s1 = a10.add(a11).reduceLanes(VectorOperators.ADD)
    var s2 = a20.add(a21).reduceLanes(VectorOperators.ADD)
    var s3 = a30.add(a31).reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val ad = a(i).toDouble
      val e0 = ad - r0(o0 + i).toDouble; s0 += e0 * e0
      val e1 = ad - r1(o1 + i).toDouble; s1 += e1 * e1
      val e2 = ad - r2(o2 + i).toDouble; s2 += e2 * e2
      val e3 = ad - r3(o3 + i).toDouble; s3 += e3 * e3
      i += 1
    }
    out(ooff) = s0; out(ooff + 1) = s1; out(ooff + 2) = s2; out(ooff + 3) = s3
  }

  // ---- FLOAT-lane accumulation: the k-means screen. Float FMA runs 2×
  // the lane width of the double-lane contract (no F2D widening, twice
  // the elements per vector op). NOT bitwise-comparable to the oracle
  // kernels: all-float accumulation of n nonnegative-magnitude products
  // carries ≲ n·ε_f32 ≈ 2.3e-5 relative error at n=384, so its callers
  // bound that error and re-evaluate the shortlist exactly.

  /** Four float-accumulated dots: a · r_j → out(ooff + j) — the
    * SCREENING kernel of the GEMM-shaped argmin
    * ([[CentroidOps.argminScreened]]). Dot is 1 FMA/element where l2Sq
    * pays sub+FMA, and float lanes run 2× the width of the double-lane
    * contract, so a screening pass over all k centroids costs ~4× less
    * than exact tiled l2Sq — the screen's error is then bounded
    * analytically and an exact double-kernel re-eval of the shortlist
    * restores the bit-exact argmin (soundness argument at the call site).
    */
  def dot4F(a: Array[Float],
            r0: Array[Float], o0: Int, r1: Array[Float], o1: Int,
            r2: Array[Float], o2: Int, r3: Array[Float], o3: Int,
            n: Int, out: Array[Double], ooff: Int): Unit = {
    var a0 = FloatVector.zero(FS)
    var a1 = FloatVector.zero(FS)
    var a2 = FloatVector.zero(FS)
    var a3 = FloatVector.zero(FS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, a, i)
      a0 = va.fma(FloatVector.fromArray(FS, r0, o0 + i), a0)
      a1 = va.fma(FloatVector.fromArray(FS, r1, o1 + i), a1)
      a2 = va.fma(FloatVector.fromArray(FS, r2, o2 + i), a2)
      a3 = va.fma(FloatVector.fromArray(FS, r3, o3 + i), a3)
      i += step
    }
    var s0 = a0.reduceLanes(VectorOperators.ADD).toDouble
    var s1 = a1.reduceLanes(VectorOperators.ADD).toDouble
    var s2 = a2.reduceLanes(VectorOperators.ADD).toDouble
    var s3 = a3.reduceLanes(VectorOperators.ADD).toDouble
    while (i < n) {
      val ad = a(i).toDouble
      s0 += ad * r0(o0 + i).toDouble; s1 += ad * r1(o1 + i).toDouble
      s2 += ad * r2(o2 + i).toDouble; s3 += ad * r3(o3 + i).toDouble
      i += 1
    }
    out(ooff) = s0; out(ooff + 1) = s1; out(ooff + 2) = s2; out(ooff + 3) = s3
  }

  /** Eight float-accumulated dots against CONSECUTIVE rows cs(c..c+7) →
    * out(0..7) — [[dot4F]] widened to 8 independent accumulator
    * chains: float FMA latency×throughput needs ~8 in-flight chains to
    * saturate both FMA ports, and the 4-wide tile measured only ~1.45×
    * over the double-lane kernel where ~4× is available (r10 assignment
    * diagnosis, COVERAGE.md §2.7 row C1).
    */
  def dot8FSeq(a: Array[Float], cs: Array[Array[Float]], c: Int, n: Int,
               out: Array[Double]): Unit = {
    val q0 = cs(c); val q1 = cs(c + 1); val q2 = cs(c + 2); val q3 = cs(c + 3)
    val q4 = cs(c + 4); val q5 = cs(c + 5); val q6 = cs(c + 6); val q7 = cs(c + 7)
    var a0 = FloatVector.zero(FS); var a1 = FloatVector.zero(FS)
    var a2 = FloatVector.zero(FS); var a3 = FloatVector.zero(FS)
    var a4 = FloatVector.zero(FS); var a5 = FloatVector.zero(FS)
    var a6 = FloatVector.zero(FS); var a7 = FloatVector.zero(FS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, a, i)
      a0 = va.fma(FloatVector.fromArray(FS, q0, i), a0)
      a1 = va.fma(FloatVector.fromArray(FS, q1, i), a1)
      a2 = va.fma(FloatVector.fromArray(FS, q2, i), a2)
      a3 = va.fma(FloatVector.fromArray(FS, q3, i), a3)
      a4 = va.fma(FloatVector.fromArray(FS, q4, i), a4)
      a5 = va.fma(FloatVector.fromArray(FS, q5, i), a5)
      a6 = va.fma(FloatVector.fromArray(FS, q6, i), a6)
      a7 = va.fma(FloatVector.fromArray(FS, q7, i), a7)
      i += step
    }
    var s0 = a0.reduceLanes(VectorOperators.ADD).toDouble
    var s1 = a1.reduceLanes(VectorOperators.ADD).toDouble
    var s2 = a2.reduceLanes(VectorOperators.ADD).toDouble
    var s3 = a3.reduceLanes(VectorOperators.ADD).toDouble
    var s4 = a4.reduceLanes(VectorOperators.ADD).toDouble
    var s5 = a5.reduceLanes(VectorOperators.ADD).toDouble
    var s6 = a6.reduceLanes(VectorOperators.ADD).toDouble
    var s7 = a7.reduceLanes(VectorOperators.ADD).toDouble
    while (i < n) {
      val ad = a(i).toDouble
      s0 += ad * q0(i).toDouble; s1 += ad * q1(i).toDouble
      s2 += ad * q2(i).toDouble; s3 += ad * q3(i).toDouble
      s4 += ad * q4(i).toDouble; s5 += ad * q5(i).toDouble
      s6 += ad * q6(i).toDouble; s7 += ad * q7(i).toDouble
      i += 1
    }
    out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
    out(4) = s4; out(5) = s5; out(6) = s6; out(7) = s7
  }

  private val BS = ByteVector.SPECIES_PREFERRED

  /** SIMD int8→float widen: out(i) = b(off+i).toFloat, i < n. The
    * conversion is EXACT (every int8 is representable in float), so this
    * is bitwise-identical to the scalar widen loop and safe on every
    * oracle path (VectorKernelsSpec gates the equality at every
    * offset/length).
    *
    * Measured honestly (r10, two same-boot BENCH_SCALE runs): this moved
    * the 1M i8 scan NOTHING — the blocked i8/f16 float-acc ratio read 0.85 both
    * before and after, i.e. C2 was already auto-vectorizing the trivial
    * scalar widen. Kept because the explicit form is JIT-independent
    * (auto-vectorization of the scalar loop is a heuristic, not a
    * contract) and it documents the decode-asymmetry point: f16's
    * bit-twiddling decode (subnormals, RNE) has no vector form on Java
    * 17 (no F16C analogue), mirroring the reference's AVX2-without-F16C
    * fallback asymmetry (`src/simd_dot.cpp` runtime dispatch).
    */
  def i8ToFloat(b: Array[Byte], off: Int, n: Int, out: Array[Float]): Unit = {
    val bstep = BS.length()
    val fstep = FS.length()
    val parts = bstep / fstep
    var i = 0
    // full byte-vector strides only — convertShape(B2F, part) expands one
    // fstep-wide slice of the byte vector per part
    while (i + bstep <= n) {
      val bv = ByteVector.fromArray(BS, b, off + i)
      var p = 0
      while (p < parts) {
        bv.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector]
          .intoArray(out, i + p * fstep)
        p += 1
      }
      i += bstep
    }
    while (i < n) { out(i) = b(off + i).toFloat; i += 1 }
  }

  private val SS = jdk.incubator.vector.ShortVector.SPECIES_PREFERRED

  /** Whether [[pq4Group]]'s register-shuffle path is usable: byte and
    * short preferred species must share one shape (true on every
    * preferred-species platform) and the byte vector must cover at least
    * 16 lanes so a whole 16-entry LUT fits one table register.
    */
  def pq4Available: Boolean =
    BS.length() >= 16 && BS.vectorBitSize() == SS.vectorBitSize() &&
      64 % BS.length() == 0

  /** 4-bit-PQ fastscan group kernel: u16 ADC lookup-sums for one query
    * over one 64-row group of a nibble-transposed code block
    * (`QuantizedTables.writePq4Blocked` layout — byte `sp*64 + r` holds
    * row r's codes for subquantizers 2sp (low nibble) and 2sp+1 (high)).
    *
    * This is the in-register-shuffle ADC of André/Kermarrec/Le Scouarnec
    * (VLDB'15 "PQ fast scan") and FAISS's `IndexPQFastScan`, re-expressed
    * on the JDK Vector API: `selectFrom` on a 64-lane byte vector maps to
    * AVX-512VBMI `vpermb` (16-lane table lookup for 64 rows in ONE
    * instruction; on AVX2 it lowers to in-lane `vpshufb` pairs), so one
    * (query, 64-row group) costs m4/2 loads + m4 shuffles + 2·m4
    * widen-adds instead of 64·m4 dependent scalar LUT loads.
    *
    * `tables` holds the query's u8-quantized LUTs, entry j of
    * subquantizer s at `s*64 + j` (replicated ×4 per [[PqOps]]
    * quantization so any 16/32/64-byte register prefix is a valid
    * table). Accumulation is EXACT u16 integer arithmetic: short-lane
    * adds wrap mod 2¹⁶ and callers read lanes back unsigned (`& 0xffff`),
    * so sums are exact iff m4·255 ≤ 65535 — i.e. m4 ≤ 256, enforced at
    * [[graft.functions.expressions.PqOps.quantizeLuts]] (the chokepoint
    * every table ships through). Within that bound the result is
    * bit-identical to the scalar twin
    * ([[graft.functions.expressions.PqOps.pq4GroupRef]]) in ANY lane
    * configuration — unlike the float kernels there is no reassociation
    * term to reason about (Pq4Spec gates the equality).
    */
  // Static deinterleave shuffles for [[pq4Group]]: the even-row and
  // odd-row u16 accumulators zip back to row order with two two-vector
  // rearranges per chunk (see the interleave math in pq4Group).
  private lazy val PQ4_SHUF_LO = {
    val l = SS.length()
    jdk.incubator.vector.VectorShuffle.fromOp(SS,
      j => if (j % 2 == 0) j / 2 else (j - 1) / 2 - l)
  }
  private lazy val PQ4_SHUF_HI = {
    val l = SS.length()
    jdk.incubator.vector.VectorShuffle.fromOp(SS,
      j => if (j % 2 == 0) l / 2 + j / 2 else l / 2 + (j - 1) / 2 - l)
  }

  def pq4Group(blob: Array[Byte], off: Int, m4: Int, tables: Array[Byte],
               out: Array[Short]): Unit = {
    val step = BS.length()
    val halfS = SS.length() // shorts per vector = step/2
    val spMax = m4 / 2
    var c = 0
    while (c < 64) {
      // u16 accumulation via the classic fastscan epi16 split: the 64 u8
      // distances reinterpret as u16 lanes; and(0xff) keeps the EVEN rows
      // (low bytes), LSHR 8 the ODD rows — no widening conversion in the
      // hot loop, two static shuffles re-zip row order per chunk.
      var accE = jdk.incubator.vector.ShortVector.zero(SS)
      var accO = jdk.incubator.vector.ShortVector.zero(SS)
      var sp = 0
      while (sp < spMax) {
        val v = ByteVector.fromArray(BS, blob, off + sp * 64 + c)
        val lo = v.and(0x0f.toByte)
        val hi = v.lanewise(VectorOperators.LSHR, 4).and(0x0f.toByte)
        val t0 = ByteVector.fromArray(BS, tables, (2 * sp) * 64)
        val t1 = ByteVector.fromArray(BS, tables, (2 * sp + 1) * 64)
        val d0 = lo.selectFrom(t0).reinterpretAsShorts()
        val d1 = hi.selectFrom(t1).reinterpretAsShorts()
        accE = accE.add(d0.and(0x00ff.toShort)).add(d1.and(0x00ff.toShort))
        accO = accO.add(d0.lanewise(VectorOperators.LSHR, 8))
          .add(d1.lanewise(VectorOperators.LSHR, 8))
        sp += 1
      }
      // accE lane i = row c+2i, accO lane i = row c+2i+1 → row order
      accE.rearrange(PQ4_SHUF_LO, accO).intoArray(out, c)
      accE.rearrange(PQ4_SHUF_HI, accO).intoArray(out, c + halfS)
      c += step
    }
  }

  /** Fused f32·i8 dot with FLOAT accumulation — the i8-quantized serve
    * flavor's beam kernel (r14): Σ a(i) · codes(off + i), UNSCALED (the
    * caller multiplies by the row's quantization scale). No widening
    * copy ([[i8ToFloat]] + dot would stream the row twice); the byte
    * vector expands straight into float lanes per part. Float
    * accumulation carries the ~n·ε_f32 relative drift,
    * recall-gated at the flavor level, never an oracle path.
    */
  def dotI8F(a: Array[Float], codes: Array[Byte], off: Int, n: Int): Float = {
    var acc = FloatVector.zero(FS)
    val bstep = BS.length()
    val fstep = FS.length()
    val parts = bstep / fstep
    var i = 0
    while (i + bstep <= n) {
      val bv = ByteVector.fromArray(BS, codes, off + i)
      var p = 0
      while (p < parts) {
        val vc = bv.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector]
        val va = FloatVector.fromArray(FS, a, i + p * fstep)
        acc = va.fma(vc, acc)
        p += 1
      }
      i += bstep
    }
    var s = acc.reduceLanes(VectorOperators.ADD)
    while (i < n) { s += a(i) * codes(off + i).toFloat; i += 1 }
    s
  }

  /** [[dotI8F]] over four rows — the i8 serve walk's gather tile: four
    * independent byte-row streams per call (the MLP the per-row kernel
    * lacks — same motivation as [[dot4]]). Unscaled, float-acc.
    */
  def dotI8F4At(a: Array[Float], codes: Array[Byte],
                o0: Int, o1: Int, o2: Int, o3: Int, n: Int,
                out: Array[Float]): Unit = {
    var acc0 = FloatVector.zero(FS); var acc1 = FloatVector.zero(FS)
    var acc2 = FloatVector.zero(FS); var acc3 = FloatVector.zero(FS)
    val bstep = BS.length()
    val fstep = FS.length()
    val parts = bstep / fstep
    var i = 0
    while (i + bstep <= n) {
      val b0 = ByteVector.fromArray(BS, codes, o0 + i)
      val b1 = ByteVector.fromArray(BS, codes, o1 + i)
      val b2 = ByteVector.fromArray(BS, codes, o2 + i)
      val b3 = ByteVector.fromArray(BS, codes, o3 + i)
      var p = 0
      while (p < parts) {
        val va = FloatVector.fromArray(FS, a, i + p * fstep)
        acc0 = va.fma(b0.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector], acc0)
        acc1 = va.fma(b1.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector], acc1)
        acc2 = va.fma(b2.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector], acc2)
        acc3 = va.fma(b3.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector], acc3)
        p += 1
      }
      i += bstep
    }
    var s0 = acc0.reduceLanes(VectorOperators.ADD)
    var s1 = acc1.reduceLanes(VectorOperators.ADD)
    var s2 = acc2.reduceLanes(VectorOperators.ADD)
    var s3 = acc3.reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val ai = a(i)
      s0 += ai * codes(o0 + i).toFloat; s1 += ai * codes(o1 + i).toFloat
      s2 += ai * codes(o2 + i).toFloat; s3 += ai * codes(o3 + i).toFloat
      i += 1
    }
    out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
  }

  // ---- ByteBuffer twins (r14 mmap-store spike): each mirrors exactly
  // one heap kernel above (`dotOff`, `l2SqOff`, `sumSqOff`, `dot4`,
  // `l2Sq4`, `dotI8F`, `dotI8F4At`) with the stored side read from a
  // (typically mmapped, little-endian) direct ByteBuffer instead of a
  // heap array — the only path for mapped graph stores. Accumulation
  // order, lane interleave and scalar tails are IDENTICAL to the heap
  // kernel, so every value is bitwise equal over the same payload — the
  // precision contract transfers unchanged to an off-heap packed store.
  // Float offsets like the heap kernels'; byte position = offset * 4.

  private val LE = java.nio.ByteOrder.LITTLE_ENDIAN

  /** [[dotOff]] over a ByteBuffer payload — bitwise twin. */
  def dotOffBB(a: Array[Float], bb: java.nio.ByteBuffer, boff: Int,
               n: Int): Double = {
    var acc0 = DoubleVector.zero(DS)
    var acc1 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    val base = boff * 4
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, a, i)
      val vb = FloatVector.fromByteBuffer(FS, bb, base + i * 4, LE)
      acc0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
        .fma(vb.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], acc0)
      acc1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
        .fma(vb.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], acc1)
      i += step
    }
    var s = acc0.add(acc1).reduceLanes(VectorOperators.ADD)
    while (i < n) { s += a(i).toDouble * bb.getFloat(base + i * 4).toDouble; i += 1 }
    s
  }

  /** [[l2SqOff]] over a ByteBuffer payload — bitwise twin. */
  def l2SqOffBB(a: Array[Float], bb: java.nio.ByteBuffer, boff: Int,
                n: Int): Double = {
    var acc0 = DoubleVector.zero(DS)
    var acc1 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    val base = boff * 4
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromArray(FS, a, i)
      val vb = FloatVector.fromByteBuffer(FS, bb, base + i * 4, LE)
      val d0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
        .sub(vb.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
        .sub(vb.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      acc0 = d0.fma(d0, acc0)
      acc1 = d1.fma(d1, acc1)
      i += step
    }
    var s = acc0.add(acc1).reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val d = a(i).toDouble - bb.getFloat(base + i * 4).toDouble
      s += d * d; i += 1
    }
    s
  }

  /** [[sumSqOff]] over a ByteBuffer payload — bitwise twin. */
  def sumSqOffBB(bb: java.nio.ByteBuffer, boff: Int, n: Int): Double = {
    var acc0 = DoubleVector.zero(DS)
    var acc1 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    val base = boff * 4
    var i = 0
    while (i < upper) {
      val va = FloatVector.fromByteBuffer(FS, bb, base + i * 4, LE)
      val v0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
      val v1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
      acc0 = v0.fma(v0, acc0)
      acc1 = v1.fma(v1, acc1)
      i += step
    }
    var s = acc0.add(acc1).reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val d = bb.getFloat(base + i * 4).toDouble; s += d * d; i += 1
    }
    s
  }

  /** [[dot4]] over a ByteBuffer payload, out(0..3) — bitwise twin. */
  def dot4BB(a: Array[Float], bb: java.nio.ByteBuffer,
             o0: Int, o1: Int, o2: Int, o3: Int, n: Int,
             out: Array[Double]): Unit = {
    var a00 = DoubleVector.zero(DS); var a01 = DoubleVector.zero(DS)
    var a10 = DoubleVector.zero(DS); var a11 = DoubleVector.zero(DS)
    var a20 = DoubleVector.zero(DS); var a21 = DoubleVector.zero(DS)
    var a30 = DoubleVector.zero(DS); var a31 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    val b0 = o0 * 4; val b1 = o1 * 4; val b2 = o2 * 4; val b3 = o3 * 4
    var i = 0
    while (i < upper) {
      val ib = i * 4
      val va = FloatVector.fromArray(FS, a, i)
      val va0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
      val va1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
      val v0 = FloatVector.fromByteBuffer(FS, bb, b0 + ib, LE)
      a00 = va0.fma(v0.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], a00)
      a01 = va1.fma(v0.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], a01)
      val v1 = FloatVector.fromByteBuffer(FS, bb, b1 + ib, LE)
      a10 = va0.fma(v1.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], a10)
      a11 = va1.fma(v1.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], a11)
      val v2 = FloatVector.fromByteBuffer(FS, bb, b2 + ib, LE)
      a20 = va0.fma(v2.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], a20)
      a21 = va1.fma(v2.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], a21)
      val v3 = FloatVector.fromByteBuffer(FS, bb, b3 + ib, LE)
      a30 = va0.fma(v3.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector], a30)
      a31 = va1.fma(v3.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector], a31)
      i += step
    }
    var s0 = a00.add(a01).reduceLanes(VectorOperators.ADD)
    var s1 = a10.add(a11).reduceLanes(VectorOperators.ADD)
    var s2 = a20.add(a21).reduceLanes(VectorOperators.ADD)
    var s3 = a30.add(a31).reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val ib = i * 4
      val ad = a(i).toDouble
      s0 += ad * bb.getFloat(b0 + ib).toDouble
      s1 += ad * bb.getFloat(b1 + ib).toDouble
      s2 += ad * bb.getFloat(b2 + ib).toDouble
      s3 += ad * bb.getFloat(b3 + ib).toDouble
      i += 1
    }
    out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
  }

  /** [[l2Sq4]] over a ByteBuffer payload, out(0..3) — bitwise twin. */
  def l2Sq4BB(a: Array[Float], bb: java.nio.ByteBuffer,
              o0: Int, o1: Int, o2: Int, o3: Int, n: Int,
              out: Array[Double]): Unit = {
    var a00 = DoubleVector.zero(DS); var a01 = DoubleVector.zero(DS)
    var a10 = DoubleVector.zero(DS); var a11 = DoubleVector.zero(DS)
    var a20 = DoubleVector.zero(DS); var a21 = DoubleVector.zero(DS)
    var a30 = DoubleVector.zero(DS); var a31 = DoubleVector.zero(DS)
    val step = FS.length()
    val upper = FS.loopBound(n)
    val b0 = o0 * 4; val b1 = o1 * 4; val b2 = o2 * 4; val b3 = o3 * 4
    var i = 0
    while (i < upper) {
      val ib = i * 4
      val va = FloatVector.fromArray(FS, a, i)
      val va0 = va.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector]
      val va1 = va.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector]
      val v0 = FloatVector.fromByteBuffer(FS, bb, b0 + ib, LE)
      val d00 = va0.sub(v0.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d01 = va1.sub(v0.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      a00 = d00.fma(d00, a00); a01 = d01.fma(d01, a01)
      val v1 = FloatVector.fromByteBuffer(FS, bb, b1 + ib, LE)
      val d10 = va0.sub(v1.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d11 = va1.sub(v1.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      a10 = d10.fma(d10, a10); a11 = d11.fma(d11, a11)
      val v2 = FloatVector.fromByteBuffer(FS, bb, b2 + ib, LE)
      val d20 = va0.sub(v2.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d21 = va1.sub(v2.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      a20 = d20.fma(d20, a20); a21 = d21.fma(d21, a21)
      val v3 = FloatVector.fromByteBuffer(FS, bb, b3 + ib, LE)
      val d30 = va0.sub(v3.convert(VectorOperators.F2D, 0).asInstanceOf[DoubleVector])
      val d31 = va1.sub(v3.convert(VectorOperators.F2D, 1).asInstanceOf[DoubleVector])
      a30 = d30.fma(d30, a30); a31 = d31.fma(d31, a31)
      i += step
    }
    var s0 = a00.add(a01).reduceLanes(VectorOperators.ADD)
    var s1 = a10.add(a11).reduceLanes(VectorOperators.ADD)
    var s2 = a20.add(a21).reduceLanes(VectorOperators.ADD)
    var s3 = a30.add(a31).reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val ib = i * 4
      val ad = a(i).toDouble
      val e0 = ad - bb.getFloat(b0 + ib).toDouble; s0 += e0 * e0
      val e1 = ad - bb.getFloat(b1 + ib).toDouble; s1 += e1 * e1
      val e2 = ad - bb.getFloat(b2 + ib).toDouble; s2 += e2 * e2
      val e3 = ad - bb.getFloat(b3 + ib).toDouble; s3 += e3 * e3
      i += 1
    }
    out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
  }

  /** [[dotI8F]] over a ByteBuffer codes region — bitwise twin (`off` is
    * a BYTE offset, matching the array twin's element offset). The v2
    * graph store maps the i8 sidecar in place, so the quantized serve
    * walk's hot bytes can stay off-heap like the f32 payload.
    */
  def dotI8FBB(a: Array[Float], bb: java.nio.ByteBuffer, off: Int,
               n: Int): Float = {
    var acc = FloatVector.zero(FS)
    val bstep = BS.length()
    val fstep = FS.length()
    val parts = bstep / fstep
    var i = 0
    while (i + bstep <= n) {
      val bv = ByteVector.fromByteBuffer(BS, bb, off + i, LE)
      var p = 0
      while (p < parts) {
        val vc = bv.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector]
        val va = FloatVector.fromArray(FS, a, i + p * fstep)
        acc = va.fma(vc, acc)
        p += 1
      }
      i += bstep
    }
    var s = acc.reduceLanes(VectorOperators.ADD)
    while (i < n) { s += a(i) * bb.get(off + i).toFloat; i += 1 }
    s
  }

  /** [[dotI8F4At]] over a ByteBuffer codes region — bitwise twin. */
  def dotI8F4AtBB(a: Array[Float], bb: java.nio.ByteBuffer,
                  o0: Int, o1: Int, o2: Int, o3: Int, n: Int,
                  out: Array[Float]): Unit = {
    var acc0 = FloatVector.zero(FS); var acc1 = FloatVector.zero(FS)
    var acc2 = FloatVector.zero(FS); var acc3 = FloatVector.zero(FS)
    val bstep = BS.length()
    val fstep = FS.length()
    val parts = bstep / fstep
    var i = 0
    while (i + bstep <= n) {
      val b0 = ByteVector.fromByteBuffer(BS, bb, o0 + i, LE)
      val b1 = ByteVector.fromByteBuffer(BS, bb, o1 + i, LE)
      val b2 = ByteVector.fromByteBuffer(BS, bb, o2 + i, LE)
      val b3 = ByteVector.fromByteBuffer(BS, bb, o3 + i, LE)
      var p = 0
      while (p < parts) {
        val va = FloatVector.fromArray(FS, a, i + p * fstep)
        acc0 = va.fma(b0.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector], acc0)
        acc1 = va.fma(b1.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector], acc1)
        acc2 = va.fma(b2.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector], acc2)
        acc3 = va.fma(b3.convertShape(VectorOperators.B2F, FS, p)
          .asInstanceOf[FloatVector], acc3)
        p += 1
      }
      i += bstep
    }
    var s0 = acc0.reduceLanes(VectorOperators.ADD)
    var s1 = acc1.reduceLanes(VectorOperators.ADD)
    var s2 = acc2.reduceLanes(VectorOperators.ADD)
    var s3 = acc3.reduceLanes(VectorOperators.ADD)
    while (i < n) {
      val ai = a(i)
      s0 += ai * bb.get(o0 + i).toFloat; s1 += ai * bb.get(o1 + i).toFloat
      s2 += ai * bb.get(o2 + i).toFloat; s3 += ai * bb.get(o3 + i).toFloat
      i += 1
    }
    out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
  }
}
