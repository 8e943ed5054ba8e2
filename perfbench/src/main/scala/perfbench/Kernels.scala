package perfbench

import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.functions.expressions.{CentroidOps, PqOps, Simd, VectorKernels}
import graft.ops.Pq

/** The kernel table of the traced run: the engine's public vector,
  * pq4 and routing kernels, through the same dispatch the engine uses
  * (`VectorKernels` picks the SIMD or scalar flavor), timed in-process on
  * the workload's own payload. Each
  * kernel runs as a method called once per row (a single long loop would
  * be compiled on-stack and read slow), and reports the median of five
  * timed sweeps.
  */
object Kernels {
  private def sweeps(minSeconds: Double)(pass: => Unit): Double = {
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < minSeconds * 1e9) pass // let the JIT compile it
    val times = (0 until 5).map { _ =>
      var n = 0
      val t0 = System.nanoTime()
      while ({ pass; n += 1; System.nanoTime() - t0 < minSeconds * 1e9 / 5 }) ()
      (System.nanoTime() - t0) / 1e9 / n
    }
    Stats.median(times)
  }

  private var sink = 0.0

  def table(r: Run, queries: Array[Array[Float]], rows: Array[Array[Float]],
            pq4: Pq.Index, pq4Blobs: Array[Array[Byte]]): Unit = if (r.traced) {
    val dim = rows(0).length
    val q = queries(0)
    val n = rows.length
    def gbps(bytes: Double, s: Double) = bytes / s / 1e9

    r.perLayer("kernel.dot_f32.gbps") = (gbps(n * dim * 4.0, sweeps(0.2) {
      var i = 0; while (i < n) { sink += VectorKernels.dot(q, rows(i)); i += 1 }
    }), "GB/s")
    r.perLayer("kernel.l2_f32.gbps") = (gbps(n * dim * 4.0, sweeps(0.2) {
      var i = 0; while (i < n) { sink += VectorKernels.l2Sq(q, rows(i)); i += 1 }
    }), "GB/s")
    val half = rows.map(_.map(VectorKernels.floatToHalf))
    r.perLayer("kernel.dot_f16.gbps") = (gbps(n * dim * 2.0, sweeps(0.2) {
      var i = 0; while (i < n) { sink += VectorKernels.dotHalf(q, half(i)); i += 1 }
    }), "GB/s")
    val codes = new Array[Byte](n * dim)
    rows.indices.foreach { i =>
      val s = math.max(rows(i).map(math.abs).max, 1e-12f) / 127f
      (0 until dim).foreach(d => codes(i * dim + d) = math.round(rows(i)(d) / s).toByte)
    }
    r.perLayer("kernel.dot_i8.gbps") = (gbps(n * dim.toDouble, sweeps(0.2) {
      var i = 0; while (i < n) { sink += VectorKernels.dotI8FOff(q, codes, i * dim, dim); i += 1 }
    }), "GB/s")

    // pq4: the index's own books and code blobs, LUT of the first query's
    // nearest cell
    val m4 = pq4.books.length
    val cell = CentroidOps.topNprobeF(q, pq4.coarse, 1)(0)
    val res = q.indices.map(d => q(d) - pq4.coarse(cell)(d)).toArray
    val lut = PqOps.lut(new GenericArrayData(res), pq4.books, l2 = true).toFloatArray()
    val tab = PqOps.quantizeLuts(lut, m4, larger = false)._1
    val spMax = m4 / 2
    val out = new Array[Short](64)
    val groupsPer = pq4Blobs.map(_.length / (spMax * 64))
    val pqBytes = groupsPer.sum.toDouble * spMax * 64
    r.perLayer("kernel.pq4_group.gbps") = (gbps(pqBytes, sweeps(0.2) {
      var b = 0
      while (b < pq4Blobs.length) {
        var g = 0
        while (g < groupsPer(b)) {
          if (VectorKernels.simdEnabled && Simd.pq4Available) Simd.pq4Group(pq4Blobs(b), g * spMax * 64, m4, tab, out)
          else PqOps.pq4GroupRef(pq4Blobs(b), g * spMax * 64, m4, tab, out)
          g += 1
        }
        b += 1
      }
      sink += out(0)
    }), "GB/s")

    val cents = pq4.coarse
    r.perLayer("kernel.route.us") = (sweeps(0.2) {
      var i = 0
      while (i < queries.length) {
        sink += CentroidOps.topNprobeF(queries(i), cents, 8)(0); i += 1
      }
    } / queries.length * 1e6, "us")
  }
}
