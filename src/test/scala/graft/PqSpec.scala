package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.ops.{Ivf, Metric, Pq, Search}

/** Product quantization (C3) on the sf0.001 fixtures. Recall-gated like
  * IVF (never codebook-equality); code assignment must be deterministic;
  * ADC must approximate true L2 well enough that refine recovers exact
  * results — the reference's PQ+Refine operating point
  * (`/root/reference/Performance.md:621-623`).
  */
class PqSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  private def base = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private def queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 16)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  // standard PQ codebook size (8 bits/subspace); 500 training points is
  // below FAISS's 39×k guideline but fine for a correctness fixture
  private lazy val books = Pq.train(base, m = 8, ksub = 256, ntrain = 500)
  private lazy val gt = Search.groundTruth(base, queries, 10, Metric.L2)

  test("code assignment is deterministic and correctly shaped") {
    val e1 = Pq.encode(base, books).orderBy("id").collect()
    val e2 = Pq.encode(base, books).orderBy("id").collect()
    assert(e1.length == 500)
    e1.zip(e2).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getSeq[Byte](1) == b.getSeq[Byte](1), s"codes differ for id ${a.getLong(0)}")
    }
    assert(e1.head.getSeq[Byte](1).length == 8, "m=8 codes per row")
  }

  test("flat ADC recall >= 0.60 at m=8, and refine lifts it >= 0.95") {
    val encoded = Pq.encode(base, books).cache()
    val adc = Pq.search(encoded, queries, books, k = 10)
    val rAdc = Ivf.meanRecall(adc, gt, 10).collect()(0).getDouble(0)
    // Two-tier threshold (one GT hit over 16q×k=10 moves recall by
    // 0.00625). On the CANONICAL CI SIMD configuration (512-bit species,
    // 16 float lanes) the measured 0.6250 is bitwise-reproducible, so the
    // gate sits one quantum under it and still catches any drift; a
    // different species width or the scalar fallback reorders float
    // accumulation and can flip 1–2 near-tie neighbors, so only THOSE
    // configurations get the ±2-quanta margin.
    val canonicalSimd = graft.functions.expressions.VectorKernels.simdEnabled &&
      graft.functions.expressions.Simd.floatLanes == 16
    val adcGate = if (canonicalSimd) 0.62 else 0.60
    assert(rAdc >= adcGate,
      s"ADC-only recall too low: $rAdc (measured 0.6250, canonical=$canonicalSimd)")
    val refined = Pq.searchRefined(base, encoded, queries, books, k = 10, refineK = 50)
    val rRef = Ivf.meanRecall(refined, gt, 10).collect()(0).getDouble(0)
    assert(rRef >= 0.95, s"PQ+refine recall too low: $rRef")
    assert(rRef >= rAdc, s"refine must not hurt recall: $rAdc -> $rRef")
    encoded.unpersist()
  }

  test("batched fused ADC search ranks identically to the joined flavor") {
    val encoded = Pq.encode(base, books).cache()
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // BLOCKED code table (r10): driver-built LUTs run the same PqOps.lut
    // as the broadcast side, and adcSlice over the packed blob performs
    // adc's lookup-sums, so ranks must equal the joined flavor's —
    // block=96 does not divide 500, exercising the ragged tail
    val tmp = java.nio.file.Files.createTempDirectory("pq_blocked").toString
    graft.io.QuantizedTables.writeBytesBlocked(
      encoded.select(col("id"), col("codes")), s"$tmp/pqb",
      bytesCol = "codes", block = 96)
    val blocked = graft.io.QuantizedTables.readBlocked(spark, s"$tmp/pqb")
    assert(asSet(Pq.searchBatchedBlocked(blocked, queries, books, 10))
      == asSet(Pq.search(encoded, queries, books, 10)))
    assert(asSet(Pq.searchRefinedBlocked(base, blocked, queries, books, 10,
        refineK = 50))
      == asSet(Pq.searchRefined(base, encoded, queries, books, 10, refineK = 50)))
    encoded.unpersist()
  }

  test("refine-skip threshold: refineK <= k returns the plain ADC result") {
    val encoded = Pq.encode(base, books)
    val skipped = Pq.searchRefined(base, encoded, queries, books, k = 10, refineK = 5)
    val plain = Pq.search(encoded, queries, books, k = 10)
    assert(skipped.orderBy("qid", "rank").collect().toSeq ==
      plain.orderBy("qid", "rank").collect().toSeq)
  }

  test("ADC score equals exact dot of decoded (reconstructed) vectors") {
    // lut/adc consistency: score(codes(x), lut(q)) == sum over subspaces of
    // L2²(q_sub, centroid[code_sub]) computed directly
    val x = base.orderBy("id").limit(1).collect()(0).getSeq[Float](1).toArray
    val q = queries.orderBy("qid").limit(1).collect()(0).getSeq[Float](1).toArray
    import graft.functions.expressions.PqOps
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val codes = PqOps.encode(new GenericArrayData(x), books).toByteArray()
    val lut = PqOps.lut(new GenericArrayData(q), books, l2 = true).toFloatArray()
    val adc = PqOps.adc(new GenericArrayData(codes), new GenericArrayData(lut))
    var expected = 0.0
    val dsub = x.length / books.length
    for (s <- books.indices) {
      val cent = books(s)(codes(s) & 0xff)
      var acc = 0.0
      for (i <- 0 until dsub) { val t = q(s * dsub + i) - cent(i); acc += t * t }
      expected += acc.toFloat.toDouble
    }
    assert(math.abs(adc - expected) < 1e-6, s"adc=$adc expected=$expected")
  }

  test("IVF-PQ end-to-end: residual codes + partition-pruned ADC probe") {
    val idx = Pq.buildOrGet(spark, base, "spec", nlist = 8, m = 8, ksub = 128,
      ntrain = 500)
    val pred = Pq.ivfpqSearch(idx, spark, queries, nprobe = 8, k = 10)
    val r = Ivf.meanRecall(pred, gt, 10).collect()(0).getDouble(0)
    // threshold = measured-minus-margin under the r9 trainer (restart
    // selection by retrieval-recall proxy for the coarse quantizer — see
    // Kmeans.fitLocal; the measured value is in the message; training is
    // seeded-deterministic, so the margin covers only future code drift)
    assert(r >= 0.58, s"full-probe IVF-PQ ADC recall too low: $r (measured 0.6000)")
    // widened candidates + exact refine recovers near-exact results
    val cands = Pq.ivfpqSearch(idx, spark, queries, nprobe = 8, k = 50)
      .groupBy("qid").agg(collect_list(col("id")).as("cand_ids"))
      .join(queries, Seq("qid")).select(col("qid"), col("qvec"), col("cand_ids"))
    val refined = Search.refine(base, cands, 10)
    val rr = Ivf.meanRecall(refined, gt, 10).collect()(0).getDouble(0)
    assert(rr >= 0.9, s"IVF-PQ + refine recall too low: $rr")
  }
}
