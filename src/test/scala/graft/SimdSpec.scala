package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.{BatchScore, Simd, VectorKernels}

/** The Vector-API SIMD kernels (`Simd`) vs their scalar definitions.
  *
  * The contract under test (see `Simd`'s Scaladoc): lane-wise double-FMA
  * accumulation performs the same single-rounded adds as the scalar
  * kernel over each lane's stride-subsequence, so SIMD and scalar results
  * differ only by reassociation — deterministic, and ≤ ~1e-13 relative on
  * O(1)-magnitude rows — never enough to cross an oracle rounding
  * boundary or flip a rank on real data.
  */
class SimdSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(7)
  /** lengths below, at, and far past one lane width, with odd tails */
  private def randVec(): Array[Float] =
    Array.fill(16 + rng.nextInt(685))(rng.nextFloat() * 2 - 1)
  private def forAllPairs(f: (Array[Float], Array[Float]) => Unit): Unit =
    (1 to 200).foreach { _ =>
      val a = randVec()
      f(a, a.map(x => 1.0f - x))
    }

  private def scalarDot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  private def scalarL2(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  test("SIMD is live on this platform (AVX-capable, module enabled)") {
    assert(VectorKernels.simdEnabled,
      "jdk.incubator.vector missing or species too narrow — the scalar " +
        "fallback would still be correct, but this box is known AVX-512")
    assert(Simd.floatLanes >= 8)
  }

  test("dot: SIMD agrees with the scalar definition to reassociation error") {
    forAllPairs { (a, b) =>
      val n = math.min(a.length, b.length)
      val s = scalarDot(a, b)
      val v = Simd.dotOff(a, b, 0, n)
      assert(math.abs(v - s) <= 1e-12 * math.max(1.0, math.abs(s)),
        s"n=$n simd=$v scalar=$s")
    }
  }

  test("l2Sq/sumSq: SIMD agrees with the scalar definition") {
    forAllPairs { (a, b) =>
      val n = a.length
      assert(math.abs(Simd.l2SqOff(a, b, 0, n) - scalarL2(a, b)) <=
        1e-12 * math.max(1.0, scalarL2(a, b)))
      val ss = scalarDot(a, a)
      assert(math.abs(Simd.sumSqOff(a, 0, n) - ss) <= 1e-12 * math.max(1.0, ss))
    }
  }

  test("SIMD results are deterministic call-to-call (bitwise)") {
    val a = randVec().take(383) // odd length: exercises the tail
    val b = randVec().take(383)
    val n = math.min(a.length, b.length)
    val d1 = Simd.dotOff(a, b, 0, n)
    val l1 = Simd.l2SqOff(a, b, 0, n)
    (1 to 5).foreach { _ =>
      assert(java.lang.Double.doubleToRawLongBits(Simd.dotOff(a, b, 0, n)) ==
        java.lang.Double.doubleToRawLongBits(d1))
      assert(java.lang.Double.doubleToRawLongBits(Simd.l2SqOff(a, b, 0, n)) ==
        java.lang.Double.doubleToRawLongBits(l1))
    }
  }

  test("rank stability: SIMD and scalar dot induce the same top-k order") {
    val dim = 384
    val q = Array.fill(dim)(rng.nextFloat() * 2 - 1)
    val base = Array.fill(500)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
    val bySimd = base.zipWithIndex
      .map { case (v, i) => (i, Simd.dotOff(q, v, 0, dim)) }.sortBy(-_._2).map(_._1)
    val byScalar = base.zipWithIndex
      .map { case (v, i) => (i, scalarDot(q, v)) }.sortBy(-_._2).map(_._1)
    assert(bySimd.toSeq == byScalar.toSeq)
  }

  test("dot4 tile is bitwise-identical to four independent dots") {
    (1 to 50).foreach { _ =>
      val n = 16 + rng.nextInt(685)
      val a = Array.fill(n)(rng.nextFloat() * 2 - 1)
      val qs = Array.fill(6)(Array.fill(n)(rng.nextFloat() * 2 - 1))
      val out = new Array[Double](4)
      Simd.dot4(a, qs(1), 0, qs(2), 0, qs(3), 0, qs(4), 0, n, out, 0)
      (0 until 4).foreach { j =>
        assert(java.lang.Double.doubleToRawLongBits(out(j)) ==
          java.lang.Double.doubleToRawLongBits(Simd.dotOff(a, qs(1 + j), 0, n)),
          s"pair $j diverged at n=$n")
      }
    }
  }

  test("l2Sq4 tile is bitwise-identical to four independent l2Sq") {
    (1 to 50).foreach { _ =>
      val n = 16 + rng.nextInt(685)
      val a = Array.fill(n)(rng.nextFloat() * 2 - 1)
      val qs = Array.fill(5)(Array.fill(n)(rng.nextFloat() * 2 - 1))
      val out = new Array[Double](4)
      Simd.l2Sq4(a, qs(1), 0, qs(2), 0, qs(3), 0, qs(4), 0, n, out, 0)
      (0 until 4).foreach { j =>
        assert(java.lang.Double.doubleToRawLongBits(out(j)) ==
          java.lang.Double.doubleToRawLongBits(Simd.l2SqOff(a, qs(1 + j), 0, n)),
          s"pair $j diverged at n=$n")
      }
    }
  }

  /** The n·eps_f32 band the float-acc kernel's scaladoc promises, as a
    * multiple of the value's scale (a kernel bug would blow far past it).
    */
  private def faccBudget(n: Int): Double = n * 1.2e-7 * (1.0 + n.toDouble / 64)

  private type Tile = (Array[Float], Array[Array[Float]], Array[Int], Int,
    Array[Double], Int) => Unit

  // Every 4-row tile against its single-row kernel in the general call
  // shape: four rows in four separate arrays, each at its own non-zero
  // offset, the outputs written at ooff > 0. The double-lane tiles must
  // match bitwise (graph builds, argmins and scans all ride on it); the
  // float-acc screening tile must stay inside the float-acc budget.
  private val tiles: Seq[(String, Tile, String, (Array[Float], Array[Float], Int, Int) => Double,
      Boolean)] = Seq(
    ("dot4", (a, rs, os, n, out, oo) =>
      Simd.dot4(a, rs(0), os(0), rs(1), os(1), rs(2), os(2), rs(3), os(3), n, out, oo),
      "dotOff", Simd.dotOff, true),
    ("l2Sq4", (a, rs, os, n, out, oo) =>
      Simd.l2Sq4(a, rs(0), os(0), rs(1), os(1), rs(2), os(2), rs(3), os(3), n, out, oo),
      "l2SqOff", Simd.l2SqOff, true),
    ("dot4F", (a, rs, os, n, out, oo) =>
      Simd.dot4F(a, rs(0), os(0), rs(1), os(1), rs(2), os(2), rs(3), os(3), n, out, oo),
      "dotOff", Simd.dotOff, false))

  tiles.foreach { case (name, tile, singleName, single, exact) =>
    val claim = if (exact) s"== $singleName bitwise" else "within facc budget"
    test(s"$name: four (array, offset) rows, out at ooff > 0, each lane $claim") {
      val r = new scala.util.Random(11)
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      // lane-width multiples, odd tails and random lengths in 16..700
      val ns = Seq(16, 17, 23, 64, 100, 383, 384, 385, 700) ++
        Seq.fill(40)(16 + r.nextInt(685))
      ns.foreach { n =>
        val a = Array.fill(n)(r.nextFloat() * 2 - 1)
        val offs = Array.tabulate(4)(j => 1 + 3 * j + r.nextInt(3)) // distinct, > 0
        val rows = Array.tabulate(4)(j =>
          Array.fill(offs(j) + n + r.nextInt(5))(r.nextFloat() * 2 - 1))
        val ooff = 1 + r.nextInt(3)
        val out = Array.fill(ooff + 6)(Double.NaN)
        tile(a, rows, offs, n, out, ooff)
        (0 until 4).foreach { j =>
          val want = single(a, rows(j), offs(j), n)
          val got = out(ooff + j)
          if (exact) assert(bits(got) == bits(want), s"lane $j diverged at n=$n")
          else {
            // Σ|a| bounds a dot's magnitude sum
            val scale = a.map(x => math.abs(x.toDouble)).sum
            assert(math.abs(got - want) <= faccBudget(n) * math.max(1.0, scale),
              s"lane $j outside the float-acc budget at n=$n")
          }
        }
        // nothing written outside out(ooff until ooff + 4)
        out.indices.filterNot(i => i >= ooff && i < ooff + 4).foreach { i =>
          assert(out(i).isNaN, s"$name wrote out($i) at ooff=$ooff")
        }
      }
    }
  }

  test("ByteBuffer kernels are bitwise twins of the -Off family") {
    // the mmap-store serve path (r14) reads rows from a little-endian
    // ByteBuffer; every BB kernel must produce the EXACT bits of the
    // array twin over the same payload — mapped graphs would otherwise
    // diverge from the graphs they were saved from
    val rng2 = new scala.util.Random(13)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    (1 to 50).foreach { _ =>
      val n = 16 + rng2.nextInt(685)
      val a = Array.fill(n)(rng2.nextFloat() * 2 - 1)
      val pad = rng2.nextInt(7)
      val flat = Array.fill(pad + 5 * n)(rng2.nextFloat() * 2 - 1)
      val offs = Array.tabulate(5)(j => pad + j * n)
      // the exact payload, as a direct little-endian buffer (mmap's shape)
      val bb = java.nio.ByteBuffer.allocateDirect(flat.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.asFloatBuffer().put(flat)
      (0 until 5).foreach { j =>
        assert(bits(Simd.dotOffBB(a, bb, offs(j), n)) ==
          bits(Simd.dotOff(a, flat, offs(j), n)), s"dotOffBB diverged n=$n")
        assert(bits(Simd.l2SqOffBB(a, bb, offs(j), n)) ==
          bits(Simd.l2SqOff(a, flat, offs(j), n)), s"l2SqOffBB diverged n=$n")
        assert(bits(Simd.sumSqOffBB(bb, offs(j), n)) ==
          bits(Simd.sumSqOff(flat, offs(j), n)), s"sumSqOffBB diverged n=$n")
      }
      val outA = new Array[Double](4); val outB = new Array[Double](4)
      Simd.dot4(a, flat, offs(1), flat, offs(2), flat, offs(3), flat, offs(4), n, outA, 0)
      Simd.dot4BB(a, bb, offs(1), offs(2), offs(3), offs(4), n, outB)
      (0 until 4).foreach(j => assert(bits(outA(j)) == bits(outB(j)), "dot4BB"))
      Simd.l2Sq4(a, flat, offs(1), flat, offs(2), flat, offs(3), flat, offs(4), n, outA, 0)
      Simd.l2Sq4BB(a, bb, offs(1), offs(2), offs(3), offs(4), n, outB)
      (0 until 4).foreach(j => assert(bits(outA(j)) == bits(outB(j)), "l2Sq4BB"))
      // i8 sidecar twins (v2 mapped store): byte offsets, float acc
      val codes = Array.fill(pad + 5 * n)((rng2.nextInt(255) - 127).toByte)
      val cbb = java.nio.ByteBuffer.allocateDirect(codes.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      cbb.put(codes.clone()); cbb.clear()
      def fbits(f: Float) = java.lang.Float.floatToRawIntBits(f)
      (0 until 5).foreach { j =>
        assert(fbits(Simd.dotI8FBB(a, cbb, offs(j), n)) ==
          fbits(Simd.dotI8F(a, codes, offs(j), n)), s"dotI8FBB diverged n=$n")
      }
      val out8A = new Array[Float](4); val out8B = new Array[Float](4)
      Simd.dotI8F4At(a, codes, offs(1), offs(2), offs(3), offs(4), n, out8A)
      Simd.dotI8F4AtBB(a, cbb, offs(1), offs(2), offs(3), offs(4), n, out8B)
      (0 until 4).foreach(j =>
        assert(fbits(out8A(j)) == fbits(out8B(j)), "dotI8F4AtBB"))
    }
    // scalar dispatch twins (below SimdMinLen) including cosine: the
    // heap kernels at a non-zero offset equal the offset-0 row form, and
    // the BB kernels equal the heap kernels
    val a = Array.fill(13)(rng2.nextFloat())
    val row = Array.fill(13)(rng2.nextFloat())
    val flat = new Array[Float](20)
    System.arraycopy(row, 0, flat, 5, 13)
    assert(bits(VectorKernels.dotOff(a, flat, 5, 13)) ==
      bits(VectorKernels.dot(a, row)))
    assert(bits(VectorKernels.l2SqOff(a, flat, 5, 13)) ==
      bits(VectorKernels.l2Sq(a, row)))
    assert(bits(VectorKernels.cosineOff(a, flat, 5, 13)) ==
      bits(VectorKernels.cosine(a, row)))
    val bb = java.nio.ByteBuffer.allocateDirect(80)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asFloatBuffer().put(flat)
    assert(bits(VectorKernels.dotOffBB(a, bb, 5, 13)) ==
      bits(VectorKernels.dotOff(a, flat, 5, 13)))
    assert(bits(VectorKernels.l2SqOffBB(a, bb, 5, 13)) ==
      bits(VectorKernels.l2SqOff(a, flat, 5, 13)))
    assert(bits(VectorKernels.cosineOffBB(a, bb, 5, 13)) ==
      bits(VectorKernels.cosineOff(a, flat, 5, 13)))
    val codes13 = Array.fill(20)((rng2.nextInt(255) - 127).toByte)
    val cbb13 = java.nio.ByteBuffer.allocateDirect(20)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    cbb13.put(codes13.clone()); cbb13.clear()
    assert(java.lang.Float.floatToRawIntBits(
      VectorKernels.dotI8FOffBB(a, cbb13, 5, 13)) ==
      java.lang.Float.floatToRawIntBits(
        VectorKernels.dotI8FOff(a, codes13, 5, 13)))
  }

  test("batched cosine with hoisted norms == per-pair cosine (bitwise)") {
    val dim = 100
    val x = Array.fill(dim)(rng.nextFloat() * 2 - 1)
    val qs = Array.fill(7)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
    val got = new Array[Double](7)
    BatchScore.scoreAll(x, qs, BatchScore.MCos, got)
    (0 until 7).foreach { j =>
      assert(java.lang.Double.doubleToRawLongBits(got(j)) ==
        java.lang.Double.doubleToRawLongBits(VectorKernels.cosine(x, qs(j))),
        s"cosine pair $j diverged")
    }
  }

  test("per-pair dotI8/dotHalf stay bit-identical to their batched hoists") {
    // dotI8/dotHalf route through the same widen/decode + dot shape as
    // BatchScore.scoresI8/scoresHalf — identity must hold with SIMD live.
    val dim = 200
    val v = Array.fill(dim)(rng.nextFloat() * 2 - 1)
    val q = Array.fill(dim)(rng.nextFloat() * 2 - 1)
    val s = VectorKernels.i8Scale(v)
    val codes = VectorKernels.i8Codes(v, s)
    val widened = codes.map(_.toFloat)
    assert(java.lang.Double.doubleToRawLongBits(VectorKernels.dotI8(q, codes, s)) ==
      java.lang.Double.doubleToRawLongBits(VectorKernels.dot(q, widened) * s))
    val bits = v.map(VectorKernels.floatToHalf)
    val decoded = bits.map(VectorKernels.halfToFloat)
    assert(java.lang.Double.doubleToRawLongBits(VectorKernels.dotHalf(q, bits)) ==
      java.lang.Double.doubleToRawLongBits(VectorKernels.dot(q, decoded)))
  }
}
