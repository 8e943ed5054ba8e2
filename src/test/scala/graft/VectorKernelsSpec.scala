package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.VectorKernels

/** Scalar-kernel properties mirroring the reference's correctness concerns:
  * double-accumulated dot (`src/simd_dot.cpp:18-22`), RNE half conversion
  * (`tools/nvdb_convert_f16.cpp:20-94`), symmetric i8 quantization
  * (`apps/nvdb_quantize_i8.cpp:12-16`).
  */
class VectorKernelsSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(42)
  private def randVec(): Array[Float] =
    Array.fill(1 + rng.nextInt(64))((rng.nextFloat() - 0.5f) * 2e6f)
  /** seeded property loop standing in for scalacheck's forAll */
  private def forAll(f: Array[Float] => Unit): Unit = (1 to 200).foreach(_ => f(randVec()))
  private def forAll2(f: (Array[Float], Array[Float]) => Unit): Unit =
    (1 to 200).foreach(_ => f(randVec(), randVec()))

  test("dot matches naive oracle") {
    forAll2 { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      val expect = (0 until n).map(i => a(i).toDouble * b(i).toDouble).sum
      assert(math.abs(VectorKernels.dot(a, b) - expect) <= 1e-9 * math.max(1.0, math.abs(expect)))
      // vectors of two dims throw, naming both, instead of scoring a prefix
      if (a0.length != b0.length) {
        val e = intercept[IllegalArgumentException](VectorKernels.dot(a0, b0))
        assert(e.getMessage.contains(s"query ${b0.length}, index ${a0.length}"), e.getMessage)
      }
    }
  }

  test("l2Sq is non-negative, zero on self, consistent with dot expansion") {
    forAll { a =>
      assert(VectorKernels.l2Sq(a, a) == 0.0)
      val n = VectorKernels.norm2(a)
      assert(n >= 0.0)
    }
    forAll2 { (a, b) =>
      val n = math.min(a.length, b.length)
      val aa = a.take(n); val bb = b.take(n)
      val expand = VectorKernels.dot(aa, aa) - 2 * VectorKernels.dot(aa, bb) +
        VectorKernels.dot(bb, bb)
      assert(math.abs(VectorKernels.l2Sq(aa, bb) - expand) <= 1e-6 * math.max(1.0, math.abs(expand)))
    }
  }

  test("half round-trip: decode(encode(x)) within half-ulp for representable range") {
    (1 to 2000).foreach { _ =>
      val x = (rng.nextFloat() - 0.5f) * 130000f
      val back = VectorKernels.halfToFloat(VectorKernels.floatToHalf(x))
      // max relative error of RNE f16 is 2^-11
      assert(math.abs(back - x) <= math.abs(x) * (1.0f / 2048) + 6.1e-5f)
    }
  }

  test("half encode: exact for halves, RNE at midpoints, specials preserved") {
    // exactly representable values survive unchanged
    for (x <- Seq(0.0f, -0.0f, 1.0f, -1.0f, 0.5f, 65504f, -65504f, 6.103515625e-5f)) {
      assert(VectorKernels.halfToFloat(VectorKernels.floatToHalf(x)) == x)
    }
    // signed zero keeps its sign bit
    assert(VectorKernels.floatToHalf(-0.0f) == 0x8000.toShort)
    assert(VectorKernels.floatToHalf(0.0f) == 0x0000.toShort)
    // RNE midpoint: 1 + 2^-11 is exactly between 1.0 and 1+2^-10 -> even (1.0)
    assert(VectorKernels.halfToFloat(VectorKernels.floatToHalf(1.0f + math.pow(2, -11).toFloat)) == 1.0f)
    // overflow saturates to Inf; Inf/NaN preserved
    assert(VectorKernels.halfToFloat(VectorKernels.floatToHalf(1e6f)).isPosInfinity)
    assert(VectorKernels.halfToFloat(VectorKernels.floatToHalf(Float.PositiveInfinity)).isPosInfinity)
    assert(VectorKernels.halfToFloat(VectorKernels.floatToHalf(Float.NegativeInfinity)).isNegInfinity)
    assert(VectorKernels.halfToFloat(VectorKernels.floatToHalf(Float.NaN)).isNaN)
    // subnormal halves round-trip exactly (2^-24 = smallest positive half)
    assert(VectorKernels.halfToFloat(VectorKernels.floatToHalf(5.9604645e-8f)) == 5.9604645e-8f)
  }

  test("i8 quantization: codes bounded, scale reconstructs within scale/2") {
    forAll { v =>
      val s = VectorKernels.i8Scale(v)
      val codes = VectorKernels.i8Codes(v, s)
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (v.exists(_ != 0.0f)) {
        val n = v.length
        var i = 0
        while (i < n) {
          assert(math.abs(codes(i) * s.toDouble - v(i)) <= s / 2.0 + 1e-6)
          i += 1
        }
      }
    }
    // all-zero row gets scale 1.0 (reference convention)
    assert(VectorKernels.i8Scale(Array(0.0f, 0.0f)) == 1.0f)
  }

  test("dotI8 equals dot of dequantized codes") {
    forAll2 { (q, v) =>
      val n = math.min(q.length, v.length)
      val s = VectorKernels.i8Scale(v)
      val codes = VectorKernels.i8Codes(v, s)
      // dequantize in double: dotI8 factors the scale out of the sum
      val expect = (0 until n).map(i => q(i).toDouble * (codes(i).toDouble * s)).sum
      assert(math.abs(VectorKernels.dotI8(q.take(n), codes.take(n), s) - expect) <=
        1e-6 * math.max(1.0, math.abs(expect)))
    }
  }

  test("batched i8 scores are BIT-identical to per-pair dotI8 (hoisted widening)") {
    // the scan-path kernel hoists byte→float once per row; int8 codes are
    // exact in float, so products and accumulation order are unchanged —
    // the v8 oracle's exact-hash guarantee rides on this equality, and it
    // is strictly stronger than rank stability
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.BatchScore
    forAll2 { (q, v) =>
      val n = math.min(q.length, v.length)
      val s = VectorKernels.i8Scale(v)
      val codes = VectorKernels.i8Codes(v, s).take(n)
      val qn = q.take(n)
      val batched = BatchScore.scoresI8(
        new GenericArrayData(codes), s, Array(qn)).toDoubleArray()(0)
      val perPair = VectorKernels.dotI8(qn, codes, s)
      assert(java.lang.Double.doubleToRawLongBits(batched) ==
        java.lang.Double.doubleToRawLongBits(perPair),
        s"batched=$batched per-pair=$perPair differ in bits")
    }
  }

  test("argminL2 norm-bound skip never changes the assignment") {
    // the lower bound |‖x‖−‖c‖| only SKIPS provably-worse centroids — the
    // picked index must equal the unpruned brute argmin on any input,
    // including adversarial near-ties
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.CentroidOps
    val rng = new scala.util.Random(31)
    (1 to 100).foreach { _ =>
      val dim = 8 + rng.nextInt(40)
      val cents = Array.fill(32)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
      // half the probes are jittered copies of a centroid: exact/near ties
      val x =
        if (rng.nextBoolean()) Array.fill(dim)(rng.nextFloat() * 2 - 1)
        else cents(rng.nextInt(32)).map(f => f + (rng.nextFloat() - 0.5f) * 1e-3f)
      val brute = cents.indices.minBy(c => (VectorKernels.l2Sq(x, cents(c)), c))
      assert(CentroidOps.argminL2(new GenericArrayData(x), cents) == brute)
    }
  }

  test("SIMD i8ToFloat widen is BIT-identical to the scalar loop") {
    // int8→float is exact, so the vector widen must reproduce the scalar
    // loop bit for bit at every offset/length/alignment — the v8 oracle
    // and every i8 scan flavor ride on it
    import graft.functions.expressions.Simd
    if (VectorKernels.simdEnabled) {
      val r = new scala.util.Random(99)
      (1 to 60).foreach { _ =>
        val b = Array.fill(16 + r.nextInt(600))((r.nextInt(256) - 128).toByte)
        val off = r.nextInt(math.max(1, b.length / 3))
        val n = r.nextInt(b.length - off + 1)
        val got = new Array[Float](n)
        Simd.i8ToFloat(b, off, n, got)
        (0 until n).foreach { i =>
          assert(got(i) == b(off + i).toFloat,
            s"i8ToFloat($off+$i) = ${got(i)} != ${b(off + i).toFloat}")
        }
      }
    }
  }

  test("l2Sq4At gather tile is BIT-identical to per-pair l2Sq") {
    // the norm-ordered argmin's tile kernel: every determinism contract on
    // train/assign (cached |t4 indexes, seeded oracles) rides on each
    // gathered output being bitwise the per-pair kernel's value
    import graft.functions.expressions.Simd
    if (VectorKernels.simdEnabled) {
      val r = new scala.util.Random(77)
      (1 to 50).foreach { _ =>
        val dim = 16 + r.nextInt(120)
        val x = Array.fill(dim)((r.nextFloat() - 0.5f) * 100f)
        val cs = Array.fill(9)(Array.fill(dim)((r.nextFloat() - 0.5f) * 100f))
        val idx = Array.fill(4)(r.nextInt(9))
        val out = new Array[Double](4)
        // the gather form of the merged tile: four rows of one matrix
        Simd.l2Sq4(x, cs(idx(0)), 0, cs(idx(1)), 0, cs(idx(2)), 0, cs(idx(3)), 0,
          dim, out, 0)
        idx.indices.foreach { j =>
          val exp = VectorKernels.l2Sq(x, cs(idx(j)))
          assert(java.lang.Double.doubleToRawLongBits(out(j)) ==
            java.lang.Double.doubleToRawLongBits(exp),
            s"tile out($j)=${out(j)} per-pair=$exp differ in bits")
        }
      }
    }
  }

  test("norm-ordered tiled argmin equals the index-order scan, incl. exact ties") {
    // visit order changed (norm window, 4-wide tiles) but the winner must
    // stay the lowest-index global argmin: random matrices, duplicate
    // centroids, and REFLECTED pairs x±d (whose squared distances are
    // bitwise equal — a constructed exact tie the index rule must break)
    import graft.functions.expressions.CentroidOps
    val r = new scala.util.Random(123)
    (1 to 40).foreach { t =>
      val dim = 16 + r.nextInt(100)
      val k = 5 + r.nextInt(300)
      val cents = Array.fill(k)(Array.fill(dim)((r.nextFloat() - 0.5f) * 2f))
      val x =
        if (t % 3 == 0) Array.fill(dim)((r.nextFloat() - 0.5f) * 2f)
        else cents(r.nextInt(k)).map(f => f + (r.nextFloat() - 0.5f) * 1e-4f)
      if (k >= 8) {
        val d = Array.fill(dim)((r.nextFloat() - 0.5f) * 0.1f)
        val i1 = r.nextInt(k); val i2 = r.nextInt(k)
        cents(i1) = Array.tabulate(dim)(i => x(i) + d(i)) // reflected tie pair
        cents(i2) = Array.tabulate(dim)(i => x(i) - d(i))
        cents(r.nextInt(k)) = cents(i1).clone() // exact duplicate centroid
      }
      val brute = cents.indices.minBy(c => (VectorKernels.l2Sq(x, cents(c)), c))
      val meta = cents.indices.map(c => VectorKernels.norm2(cents(c))).toArray
      val order = Array.range(0, k).sortBy(c => (meta(c), c))
      val got = CentroidOps.argminNormOrdered(x, cents, order, order.map(meta))
      assert(got == brute, s"norm-ordered=$got brute=$brute (k=$k dim=$dim)")
      assert(CentroidOps.argminL2F(x, cents) == brute)
    }
  }

  test("screened argmin (k >= 128 dispatch) equals brute force on ties and near-ties") {
    // the GEMM-shaped screen (float dots + error-bounded exact shortlist)
    // must never lose the argmin or an exact tie: random matrices plus
    // the adversarial cases — bitwise-equal reflected pairs x±d, exact
    // duplicates, and sub-screen-error near-ties (margin ~1e-7 ≪ the
    // ~9e-5 screen bound, so BOTH must enter the shortlist and the exact
    // double kernel must decide)
    import graft.functions.expressions.CentroidOps
    val r = new scala.util.Random(321)
    (1 to 25).foreach { t =>
      val dim = 16 + 8 * r.nextInt(47) // 16..384
      val k = 128 + r.nextInt(400)
      val cents = Array.fill(k)(Array.fill(dim)((r.nextFloat() - 0.5f) * 2f))
      val x = Array.fill(dim)((r.nextFloat() - 0.5f) * 2f)
      val d = Array.fill(dim)((r.nextFloat() - 0.5f) * 0.2f)
      val i1 = r.nextInt(k); val i2 = r.nextInt(k); val i3 = r.nextInt(k)
      cents(i1) = Array.tabulate(dim)(i => x(i) + d(i)) // reflected exact tie
      cents(i2) = Array.tabulate(dim)(i => x(i) - d(i))
      // near-tie: same offset with one component nudged by ~1e-7
      cents(i3) = Array.tabulate(dim)(i =>
        x(i) + d(i) * (if (i == 0) 1.0000002f else 1.0f))
      if (t % 2 == 0) cents(r.nextInt(k)) = cents(i1).clone() // duplicate
      val brute = cents.indices.minBy(c => (VectorKernels.l2Sq(x, cents(c)), c))
      assert(CentroidOps.argminL2F(x, cents) == brute,
        s"screened argmin diverged from brute (k=$k dim=$dim trial=$t)")
    }
  }

  test("dot4At gather tile is BIT-identical to per-pair dot") {
    // the HNSW beam expansion's tile kernel (dot metric): deterministic
    // graph builds ride on each gathered output being bitwise the
    // per-pair kernel's value
    import graft.functions.expressions.Simd
    if (VectorKernels.simdEnabled) {
      val r = new scala.util.Random(79)
      (1 to 50).foreach { _ =>
        val dim = 16 + r.nextInt(120)
        val x = Array.fill(dim)((r.nextFloat() - 0.5f) * 100f)
        val cs = Array.fill(9)(Array.fill(dim)((r.nextFloat() - 0.5f) * 100f))
        val idx = Array.fill(4)(r.nextInt(9))
        val out = new Array[Double](4)
        Simd.dot4(x, cs(idx(0)), 0, cs(idx(1)), 0, cs(idx(2)), 0, cs(idx(3)), 0,
          dim, out, 0)
        idx.indices.foreach { j =>
          val exp = VectorKernels.dot(x, cs(idx(j)))
          assert(java.lang.Double.doubleToRawLongBits(out(j)) ==
            java.lang.Double.doubleToRawLongBits(exp),
            s"tile out($j)=${out(j)} per-pair=$exp differ in bits")
        }
      }
    }
  }

  test("screened top-nprobe equals the exhaustive selection, incl. exact ties") {
    // the argmin screen's set-bound extension: for every nprobe the
    // screened path must return the SAME ids in the SAME (distance,
    // index) order as the O(n·np) repeated min-scan — on random
    // matrices and under reflected exact ties / duplicates straddling
    // the np boundary
    import graft.functions.expressions.CentroidOps
    val r = new scala.util.Random(777)
    (1 to 15).foreach { t =>
      val dim = 16 + 8 * r.nextInt(47)
      val k = 128 + r.nextInt(400)
      val cents = Array.fill(k)(Array.fill(dim)((r.nextFloat() - 0.5f) * 2f))
      val x = Array.fill(dim)((r.nextFloat() - 0.5f) * 2f)
      val d = Array.fill(dim)((r.nextFloat() - 0.5f) * 0.2f)
      val i1 = r.nextInt(k); val i2 = r.nextInt(k)
      cents(i1) = Array.tabulate(dim)(i => x(i) + d(i)) // reflected exact tie
      cents(i2) = Array.tabulate(dim)(i => x(i) - d(i))
      cents(r.nextInt(k)) = cents(i1).clone() // duplicate: 3-way tie
      for (np <- Seq(1, 2, 3, 8, 32, k - 1, k, k + 5)) {
        val got = CentroidOps.topNprobeF(x, cents, np)
        val want = CentroidOps.topNprobeDirect(x, cents, math.min(np, k))
        assert(got.sameElements(want),
          s"screened top-nprobe diverged (k=$k dim=$dim np=$np trial=$t): " +
            s"got=${got.take(6).mkString(",")} want=${want.take(6).mkString(",")}")
      }
    }
  }

  test("top-nprobe on a non-finite query: np distinct ids, first == argminL2F") {
    // a NaN or ±Inf component makes every distance NaN/Inf; the selection
    // must still return np distinct ids (the (Double.compare, index) order
    // ranks them by index) and agree with the argmin's choice — both the
    // direct path (k = 8) and the screened dispatch (k = 256, whose
    // non-finite screen falls back to the direct path)
    import graft.functions.expressions.CentroidOps
    val r = new scala.util.Random(4242)
    val dim = 32
    for (k <- Seq(8, 256); bad <- Seq(Float.NaN, Float.PositiveInfinity)) {
      val cents = Array.fill(k)(Array.fill(dim)((r.nextFloat() - 0.5f) * 2f))
      val x = Array.fill(dim)((r.nextFloat() - 0.5f) * 2f)
      x(r.nextInt(dim)) = bad
      for (np <- Seq(1, 3, 8)) {
        val got = CentroidOps.topNprobeF(x, cents, np)
        assert(got.length == math.min(np, k) && got.distinct.length == got.length,
          s"k=$k query=$bad np=$np: ${got.mkString(",")}")
        assert(got(0) == CentroidOps.argminL2F(x, cents), s"k=$k query=$bad np=$np")
      }
    }
  }

  test("assignBatch equals per-point argminL2F (blocked loop order moves no values)") {
    import graft.functions.expressions.CentroidOps
    val r = new scala.util.Random(555)
    for (k <- Seq(32, 128, 300); dim <- Seq(24, 384)) {
      val cents = Array.fill(k)(Array.fill(dim)((r.nextFloat() - 0.5f) * 2f))
      // 37 points: exercises full 16-batches plus a ragged tail, with
      // jittered-copy near-ties mixed in
      val pts = Array.tabulate(37) { i =>
        if (i % 3 == 0) cents(r.nextInt(k)).map(f => f + (r.nextFloat() - 0.5f) * 1e-4f)
        else Array.fill(dim)((r.nextFloat() - 0.5f) * 2f)
      }
      val out = new Array[Int](pts.length)
      CentroidOps.assignBatch(pts, pts.length, cents, out)
      pts.indices.foreach { i =>
        assert(out(i) == CentroidOps.argminL2F(pts(i), cents),
          s"assignBatch($i) diverged (k=$k dim=$dim)")
      }
    }
  }
}
