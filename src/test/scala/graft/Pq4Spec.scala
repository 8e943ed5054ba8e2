package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.functions.expressions.{CentroidOps, PqOps, Simd, VectorKernels}
import graft.io.QuantizedTables
import graft.ops.{Ivf, Metric, Pq, Search}

/** 4-bit fastscan PQ (C3's batch-Q regime): the register-shuffle ADC of
  * André et al. VLDB'15 / FAISS IndexPQFastScan, re-expressed on the JDK
  * Vector API. Gates: the u16 group kernel is EXACT integer arithmetic
  * (SIMD must equal the scalar twin bitwise in any lane config); the LUT
  * quantization error is analytically bounded; pruning recall is gated
  * and full-candidate runs must equal the exact float-ADC ranking.
  */
class Pq4Spec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  private def base = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private def queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 16)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  // ksub=16 (4-bit codes); dim from the fixture decides m4 = dim/dsub
  private lazy val dim =
    base.select(size(col("vec")).as("d")).head().getInt(0)
  private lazy val m4 = dim / 4
  private lazy val books = Pq.train(base, m = m4, ksub = 16, ntrain = 500)

  private def writeBlocked4(block: Int = 128): String = {
    val tmp = java.nio.file.Files.createTempDirectory("pq4_blocked").toString
    QuantizedTables.writePq4Blocked(Pq.encode(base, books), s"$tmp/codes",
      block = block)
    s"$tmp/codes"
  }

  test("blocked-transposed layout round-trips the row codes exactly") {
    val rowCodes = Pq.encode(base, books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).toArray).toMap
    val path = writeBlocked4(block = 128) // 500 rows: ragged tail group
    val blocks = spark.read.parquet(path).collect()
    var covered = 0
    blocks.foreach { r =>
      val ids = r.getSeq[Long](0).toArray
      val blob = r.getAs[Array[Byte]](1)
      val spMax = m4 / 2
      val groups = (ids.length + 63) / 64
      assert(blob.length == groups * spMax * 64)
      ids.zipWithIndex.foreach { case (id, i) =>
        val gBase = (i / 64) * spMax * 64
        val lane = i % 64
        val want = rowCodes(id)
        (0 until spMax).foreach { sp =>
          val b = blob(gBase + sp * 64 + lane) & 0xff
          assert((b & 0x0f) == (want(2 * sp) & 0x0f),
            s"lo nibble mismatch id=$id sp=$sp")
          assert(((b >>> 4) & 0x0f) == (want(2 * sp + 1) & 0x0f),
            s"hi nibble mismatch id=$id sp=$sp")
        }
        covered += 1
      }
    }
    assert(covered == 500, "every row appears in exactly one block slot")
  }

  test("SIMD group kernel == scalar twin bitwise (exact u16 arithmetic)") {
    assume(VectorKernels.simdEnabled && Simd.pq4Available)
    val rnd = new scala.util.Random(7)
    val spMax = 48 // m4 = 96, the production shape
    (0 until 20).foreach { trial =>
      val blob = Array.fill[Byte](spMax * 64)(rnd.nextInt(256).toByte)
      val tables = Array.fill[Byte](96 * 64)(rnd.nextInt(256).toByte)
      val a = new Array[Short](64)
      val b = new Array[Short](64)
      Simd.pq4Group(blob, 0, 96, tables, a)
      PqOps.pq4GroupRef(blob, 0, 96, tables, b)
      assert(a.sameElements(b), s"trial $trial: SIMD != scalar")
    }
  }

  test("m4 > 256 is rejected (u16 lane-sum bound), 256 is accepted") {
    // m4·255 must fit u16: past 256 the group sums would wrap SILENTLY
    // (wrong survivors, collapsed recall) — the contract is a loud error
    // at the LUT chokepoint and all three search entry points.
    val lut384 = new Array[Float](384 * 16)
    intercept[IllegalArgumentException] {
      PqOps.quantizeLuts(lut384, 384, larger = false)
    }
    val lut256 = new Array[Float](256 * 16)
    val (t, _, _) = PqOps.quantizeLuts(lut256, 256, larger = false)
    assert(t.length == 256 * 64)
    val books384 = Array.fill(384)(Array.fill(16)(new Array[Float](4)))
    val idx384 = Pq.Index(Array(new Array[Float](384 * 4)), books384, "unused")
    Seq[() => Any](
      () => Pq.searchFastScan(spark.emptyDataFrame, queries, books384, k = 10),
      () => Pq.searchFastScanIvf(idx384, spark, queries, nprobe = 1, k = 10),
      () => Pq.searchLocalIvf4(new Array[Float](384 * 4), idx384, "unused",
        nprobe = 1, k = 10)
    ).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("m4"), e.getMessage)
    }
  }

  test("LUT quantization error is within the analytic bound") {
    val rnd = new scala.util.Random(11)
    val qv = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val lutF = PqOps.lut(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(qv),
      books, l2 = true).toFloatArray()
    val (tables, bias, delta) = PqOps.quantizeLuts(lutF, m4, larger = false)
    (0 until 50).foreach { _ =>
      val codes = Array.fill[Byte](m4)(rnd.nextInt(16).toByte)
      var exact = 0.0
      var qsum = 0L
      (0 until m4).foreach { s =>
        exact += lutF(s * 16 + codes(s))
        qsum += tables(s * 64 + codes(s)) & 0xff
      }
      val approx = bias + delta * qsum
      // per-entry rounding ≤ delta/2, m4 entries
      assert(math.abs(exact - approx) <= m4 * delta / 2 + 1e-6,
        s"quantization bound violated: exact=$exact approx=$approx delta=$delta")
    }
  }

  test("full-candidate fastscan == exact float-ADC ranking (L2 and dot)") {
    val path = writeBlocked4()
    val blocked = spark.read.parquet(path)
    val encoded = Pq.encode(base, books).cache()
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // cand = N: every row survives pruning, so the exact re-rank IS the
    // full float ADC — ids and ranks must equal the 8-bit-path ADC search
    // over the same codebooks
    Seq(true, false).foreach { l2 =>
      val fs = Pq.searchFastScan(blocked, queries, books, k = 10, l2 = l2,
        cand = 500)
      val exact = Pq.search(encoded, queries, books, k = 10, l2 = l2)
      assert(asSet(fs) == asSet(exact), s"l2=$l2 full-candidate mismatch")
    }
    encoded.unpersist()
  }

  test("pruned fastscan holds recall and is deterministic; ragged blocks") {
    val path = writeBlocked4(block = 192) // 192 = 3 groups; 500 ⇒ ragged
    val blocked = spark.read.parquet(path)
    val encoded = Pq.encode(base, books).cache()
    val exact = Pq.search(encoded, queries, books, k = 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fs1 = Pq.searchFastScan(blocked, queries, books, k = 10, cand = 64)
    val got = fs1.select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    // measured 1.0 on the fixture (bounded-error pruning at cand=64 ≫ k);
    // gate leaves two hit-quanta of slack per the r10 advice convention
    assert(recall >= 0.95, s"pruning recall too low: $recall")
    val fs2 = Pq.searchFastScan(blocked, queries, books, k = 10, cand = 64)
    assert(fs1.orderBy("qid", "rank").collect().toSeq
      == fs2.orderBy("qid", "rank").collect().toSeq, "nondeterministic")
    encoded.unpersist()
  }

  // ---- IVF-pruned fastscan (FAISS IndexIVFPQFastScan's shape) ----

  private lazy val ivf4 =
    Pq.buildOrGetIvf4(spark, base, s"$dir|pq4spec", nlist = 8, m4 = m4,
      ntrain = 500)

  test("clustered blocked layout: every row once, under its own cell, " +
    "nibbles exact") {
    val assigned = Ivf.assign(base, ivf4.coarse)
      .withColumn("residual",
        Pq.centroidResidual(col("vec"), col("cluster_id"), ivf4.coarse))
    val want = assigned
      .select(col("id"), col("cluster_id"),
        Pq.pqEncode(col("residual"), ivf4.books).as("codes"))
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Byte](2).toArray)).toMap
    val spMax = m4 / 2
    var covered = 0
    spark.read.parquet(ivf4.path).collect().foreach { r =>
      val cell = r.getAs[Int]("cluster_id")
      val ids = r.getAs[Seq[Long]]("ids").toArray
      val blob = r.getAs[Array[Byte]]("codes")
      val groups = (ids.length + 63) / 64
      assert(blob.length == groups * spMax * 64)
      assert(ids.sameElements(ids.sorted), "block rows must be id-sorted")
      ids.zipWithIndex.foreach { case (id, i) =>
        val (wCell, wCodes) = want(id)
        assert(cell == wCell, s"id=$id stored under cell $cell, not $wCell")
        val gBase = (i / 64) * spMax * 64
        val lane = i % 64
        (0 until spMax).foreach { sp =>
          val b = blob(gBase + sp * 64 + lane) & 0xff
          assert((b & 0x0f) == (wCodes(2 * sp) & 0x0f))
          assert(((b >>> 4) & 0x0f) == (wCodes(2 * sp + 1) & 0x0f))
        }
        covered += 1
      }
    }
    assert(covered == 500, "every row appears in exactly one block slot")
  }

  test("full-probe full-candidate IVF fastscan == row-wise ivfpqSearch") {
    // nprobe = nlist and cand = N: nothing is pruned and every survivor is
    // re-ranked with its cell's exact float residual LUT — the same
    // double lookup-sum order as PqOps.adc, so (qid, id, rank) must equal
    // the row-wise residual-ADC probe bit-for-bit
    val encodedRowWise = Ivf.assign(base, ivf4.coarse)
      .withColumn("residual",
        Pq.centroidResidual(col("vec"), col("cluster_id"), ivf4.coarse))
      .select(col("id"), col("cluster_id"),
        Pq.pqEncode(col("residual"), ivf4.books).as("codes"))
    val fs = Pq.searchFastScanIvf(ivf4, spark, queries, nprobe = 8, k = 10,
      cand = 500)
    val rowWise = Pq.ivfpqSearchOn(encodedRowWise, ivf4.coarse, ivf4.books,
      queries, nprobe = 8, k = 10)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(asSet(fs) == asSet(rowWise), "full-probe mismatch")
  }

  // measured 0.85625 on the fixture (137/160 hits); gate at two
  // hit-quanta (2/160) below measured, the r10 advice convention
  private val REFINED_GATE = 0.84
  // rk=100 fixture point: measured 0.99375 (159/160 hits), gated two
  // hit-quanta (2/160) below per the house convention
  private val REFINED_GATE_RK100 = 0.98

  test("clustered-refine flavor == flat refine exactly, with a " +
    "partition-pruned fetch") {
    // same (base, nlist, ntrain, seed) → the deterministic trainer gives
    // the IVF index the SAME coarse quantizer as the pq4 index, so its
    // clustered table's partition column is the pq4 cells
    val ivfIdx = Ivf.buildOrGet(spark, base, s"$dir|pq4spec", nlist = 8,
      ntrain = 500)
    assert(ivfIdx.centroids.length == ivf4.coarse.length &&
      ivfIdx.centroids.zip(ivf4.coarse).forall { case (a, b) => a.sameElements(b) },
      "coarse quantizers diverged — the clustered table would prune wrong cells")
    val flat = Pq.searchFastScanIvfRefined(base, ivf4, queries,
      nprobe = 4, k = 10, refineK = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaClustered = Pq.searchFastScanIvfRefinedClustered(
      ivfIdx, ivf4, queries, nprobe = 4, k = 10, refineK = 50)
    val plan = viaClustered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"refine fetch not partition-pruned:\n$plan")
    val got = viaClustered.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == flat, "clustered-refine diverged from the flat refine")
    // the probed-cell union is the candidate stage's own selection
    val cells = Pq.probedCells(ivf4.coarse, queries, nprobe = 4)
    assert(cells.nonEmpty && cells.length <= 8 && cells.sameElements(cells.sorted))
  }

  test("clustered-refine REJECTS a mismatched coarse quantizer at runtime") {
    // a clustered table built under a different nlist partitions by a
    // different assignment — pruning against it would silently drop
    // candidates, so the call must fail loudly instead
    val otherIdx = Ivf.buildOrGet(spark, base, s"$dir|pq4spec_mismatch",
      nlist = 4, ntrain = 500)
    val e = intercept[IllegalArgumentException] {
      Pq.searchFastScanIvfRefinedClustered(otherIdx, ivf4, queries,
        nprobe = 4, k = 10, refineK = 50)
    }
    assert(e.getMessage.contains("coarse quantizer"))
  }

  test("in-process serve (searchLocalIvf4) == the Spark refined path, exactly") {
    Pq.warmLocalIvf4(spark, ivf4, "pq4spec_local", base)
    val qRows = base.filter(col("id") < 16)
      .select(col("id"), col("vec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    for ((np, rk) <- Seq((2, 20), (4, 50), (8, 100))) {
      val sparkSide = Pq.searchFastScanIvfRefined(base, ivf4, queries,
        nprobe = np, k = 10, refineK = rk)
        .select("qid", "id", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      qRows.foreach { case (qid, qvec) =>
        val local = Pq.searchLocalIvf4(qvec, ivf4, "pq4spec_local",
          nprobe = np, k = 10, refineK = rk)
        local.zipWithIndex.foreach { case ((id, d), i) =>
          val want = sparkSide((qid, i + 1))
          assert(id == want._1 && d == want._2,
            s"np=$np rk=$rk qid=$qid rank=${i + 1}: local=($id,$d) spark=$want")
        }
        assert(local.length == sparkSide.count(_._1._1 == qid),
          s"np=$np rk=$rk qid=$qid row count mismatch")
      }
    }
    // the identity contract needs refineK > k — the boundary fails loudly
    val bad = intercept[IllegalArgumentException] {
      Pq.searchLocalIvf4(qRows.head._2, ivf4, "pq4spec_local",
        nprobe = 2, k = 10, refineK = 10)
    }
    assert(bad.getMessage.contains("refineK"))
    Pq.invalidateLocal("pq4spec_local")
  }

  test("IVF fastscan: recall monotone-ish in nprobe, deterministic") {
    val gt = Search.groundTruth(base, queries, 10, Metric.L2)
      .select(col("qid"), explode(col("gt_ids")).as("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int): Double = {
      val got = Pq.searchFastScanIvf(ivf4, spark, queries, nprobe, k = 10)
        .select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(gt).size.toDouble / gt.size
    }
    val r2 = recallAt(2); val r8 = recallAt(8)
    assert(r8 >= r2, s"full probe ($r8) must not lose to nprobe=2 ($r2)")
    // ADC-only 4-bit ranking sits at the codebook-approximation ceiling
    // (~0.47 vs exact GT here) — the OPERATING point refines candidates
    // with exact vectors, same as the flat pq4 probe and a3's refined arm
    def refinedRecall(refineK: Int): Double = {
      val refined = Pq.searchFastScanIvfRefined(base, ivf4, queries,
        nprobe = 8, k = 10, refineK = refineK)
        .select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      refined.intersect(gt).size.toDouble / gt.size
    }
    val rRef = refinedRecall(50)
    assert(rRef >= REFINED_GATE, s"refined full-probe recall too low: $rRef")
    // r12 operating point: the refine BUDGET (not the 4-bit codebook)
    // bound the r11 plateau — rk=100 must not lose to rk=50, and holds
    // the gate the 1M frontier operates at (the r12 refine-budget sweep
    // at 1M, COVERAGE.md row C3: 0.950 → 0.975; fixture measured 0.99375)
    val rRef100 = refinedRecall(100)
    assert(rRef100 >= rRef,
      s"wider refine budget lost recall: rk100=$rRef100 < rk50=$rRef")
    assert(rRef100 >= REFINED_GATE_RK100,
      s"rk=100 refined recall too low: $rRef100")
    val a = Pq.searchFastScanIvf(ivf4, spark, queries, 4, 10)
      .orderBy("qid", "rank").collect().toSeq
    val b = Pq.searchFastScanIvf(ivf4, spark, queries, 4, 10)
      .orderBy("qid", "rank").collect().toSeq
    assert(a == b, "nondeterministic")
  }

  test("local tier serves EVERY block of a multi-block cell, before and " +
    "after an append (r16 review fix)") {
    // the stored table carries one row per (cell, 128-row block); the
    // warm previously kept one row per cell (HashMap.put overwrite), so
    // any cell past the block size — every production cell, and every
    // appended cell — silently served a fraction. nlist=2 over 500 rows
    // forces ~250-row cells (2+ blocks each); the gate is exact equality
    // with the distributed refined plan, which reads the table itself.
    val tmp = java.nio.file.Files.createTempDirectory("pq4_multiblock").toString
    val coarse = Ivf.train(base, nlist = 2, ntrain = 500)
    def resid(rows: org.apache.spark.sql.DataFrame) =
      Ivf.assign(rows, coarse)
        .withColumn("residual",
          Pq.centroidResidual(col("vec"), col("cluster_id"), coarse))
    val bks = Pq.train(
      resid(base).select(col("id"), col("residual").as("vec")),
      m = m4, ksub = 16, ntrain = 500)
    def codesOf(rows: org.apache.spark.sql.DataFrame) =
      resid(rows).select(col("id"), col("cluster_id"),
        Pq.pqEncode(col("residual"), bks).as("codes"))
    QuantizedTables.writePq4BlockedClustered(codesOf(base), s"$tmp/codes")
    val idx = Pq.Index(coarse, bks, s"$tmp/codes")
    val lk = "pq4spec_multiblock"
    def localEqualsSpark(serveBase: org.apache.spark.sql.DataFrame): Unit = {
      val sparkSide = Pq.searchFastScanIvfRefined(serveBase, idx, queries,
        nprobe = 2, k = 10, refineK = 100)
        .select("qid", "id", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      base.filter(col("id") < 16).select(col("id"), col("vec")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .foreach { case (qid, qvec) =>
          val local = Pq.searchLocalIvf4(qvec, idx, lk, nprobe = 2, k = 10,
            refineK = 100)
          local.zipWithIndex.foreach { case ((id, d), i) =>
            val want = sparkSide((qid, i + 1))
            assert(id == want._1 && d == want._2,
              s"qid=$qid rank=${i + 1}: local=($id,$d) spark=$want")
          }
          assert(local.length == sparkSide.count(_._1._1 == qid))
        }
    }
    Pq.warmLocalIvf4(spark, idx, lk, base)
    localEqualsSpark(base)
    // append twins under shifted ids, re-warm, and the image must serve
    // the GROWN cells completely too
    val shifted = base.select((col("id") + 1000L).as("id"), col("vec"))
    assert(Pq.appendIvf4(idx, shifted) == 500L)
    val grown = base.select(col("id"), col("vec")).union(shifted)
    Pq.invalidateLocal(lk)
    Pq.warmLocalIvf4(spark, idx, lk, grown)
    localEqualsSpark(grown)
    Pq.invalidateLocal(lk)
  }

  test("local tier rejects a segment packed at another m4 than the books") {
    // books of m4/2 over a table packed at m4: every blob is twice what
    // the books score, and serving its prefix would be a silent partial
    // answer — the shared segment scan must fail loudly instead
    val half = Pq.Index(ivf4.coarse, ivf4.books.take(m4 / 2), ivf4.path)
    val lk = "pq4spec_misshaped"
    val qvec = base.filter(col("id") === 0L).select(col("vec")).head()
      .getSeq[Float](0).toArray
    Pq.warmLocalIvf4(spark, half, lk, base)
    try {
      val e = intercept[IllegalArgumentException] {
        Pq.searchLocalIvf4(qvec, half, lk, nprobe = 8, k = 10, refineK = 20)
      }
      assert(e.getMessage.contains("pq4 blob"), e.getMessage)
    } finally Pq.invalidateLocal(lk)
  }

  test("exact score ties: flat, IVF and local fastscan cut a tie group " +
    "at its lowest ids") {
    // 80 copies of one fixture row under fresh ids, queried with that
    // row's vector: every copy has the same code, hence one quantized and
    // one exact score, and the group outnumbers the reservoir bound — the
    // reservoir itself must cut the ties by id. Flat: cand = 16 against
    // the copies' share of each id-range partition; IVF: c = 64
    // (2·refineK = 40 → 64) against all 81 in the one probed cell, which
    // keeps the tie group the strict best on every path.
    val tieId = 7L
    val row = base.filter(col("id") === tieId)
    val copies = row.crossJoin(spark.range(80).toDF("j"))
      .select((col("j") + 1000L).as("id"), col("vec"))
    val grown = base.union(copies)
    val qvec = row.select(col("vec")).head().getSeq[Float](0).toArray
    val q = row.select(lit(0L).as("qid"), col("vec").as("qvec"))
    // the 10 lowest ids sharing the tie row's (id-less) code key
    def lowestTies(keyed: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val all = keyed.collect().map(r => r.getLong(0) -> r.toSeq.tail)
      val want = all.find(_._1 == tieId).get._2
      all.filter(_._2 == want).map(_._1).sorted.take(10).toSeq
    }
    def idsAndScores(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.orderBy("rank").collect()
      (rows.map(_.getAs[Long]("id")).toSeq, rows.map(_.getAs[Double]("score")))
    }
    val tmp = java.nio.file.Files.createTempDirectory("pq4_ties").toString
    // flat fastscan
    QuantizedTables.writePq4Blocked(Pq.encode(grown, books), s"$tmp/flat")
    val (flatIds, flatScores) = idsAndScores(Pq.searchFastScan(
      spark.read.parquet(s"$tmp/flat"), q, books, k = 10, cand = 16))
    val flatWant = lowestTies(Pq.encode(grown, books))
    assert(flatWant.length == 10 && flatWant.head == tieId)
    assert(flatIds == flatWant, s"flat fastscan cut the ties at $flatIds")
    assert(flatScores.distinct.length == 1, "tied rows scored differently")
    // IVF fastscan over the grown table under ivf4's quantizer and books
    val resid = Ivf.assign(grown, ivf4.coarse)
      .withColumn("residual",
        Pq.centroidResidual(col("vec"), col("cluster_id"), ivf4.coarse))
      .select(col("id"), col("cluster_id"),
        Pq.pqEncode(col("residual"), ivf4.books).as("codes"))
    QuantizedTables.writePq4BlockedClustered(resid, s"$tmp/ivf")
    val idx = Pq.Index(ivf4.coarse, ivf4.books, s"$tmp/ivf")
    val (ivfIds, ivfScores) =
      idsAndScores(Pq.searchFastScanIvf(idx, spark, q, nprobe = 1, k = 10))
    val ivfWant = lowestTies(resid)
    assert(ivfIds == ivfWant, s"IVF fastscan cut the ties at $ivfIds")
    assert(ivfScores.distinct.length == 1, "tied rows scored differently")
    // the local tier equals the Spark refined plan row for row
    val lk = "pq4spec_ties"
    Pq.warmLocalIvf4(spark, idx, lk, grown)
    try {
      val sparkSide = Pq.searchFastScanIvfRefined(grown, idx, q, nprobe = 1,
        k = 10, refineK = 20).orderBy("rank").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq
      val local = Pq.searchLocalIvf4(qvec, idx, lk, nprobe = 1, k = 10,
        refineK = 20).toSeq
      assert(local == sparkSide, s"local $local != spark $sparkSide")
      assert(local.map(_._1) == ivfWant && local.forall(_._2 == 0.0),
        s"refined ties not cut at the lowest ids: $local")
    } finally Pq.invalidateLocal(lk)
  }

  test("local tier order contract: cross-cell ties at the pool cut, a " +
    "short pool, an empty probed cell, every candidate excluded") {
    import spark.implicits._
    // ivf4's 8 cells plus: cell 8, a copy of the query's nearest cell x
    // holding x's rows under ids + 10000 (same residuals, codes and LUT,
    // so each row ties its twin exactly across the two cells); cell 9, a
    // far centroid with 3 rows; cell 10, a far centroid with no rows
    val qvec = base.filter(col("id") === 3L).select(col("vec")).head()
      .getSeq[Float](0).toArray
    val x = CentroidOps.topNprobeF(qvec, ivf4.coarse, 1)(0)
    def moved(v: Array[Float], d: Int, by: Float) = {
      val w = v.clone(); w(d) += by; w
    }
    val far = Array.fill(dim)(3.0f)
    val coarse = ivf4.coarse ++ Array(ivf4.coarse(x).clone(), far, moved(far, 0, 1f))
    val assigned = Ivf.assign(base, ivf4.coarse)
      .select(col("id"), col("vec"), col("cluster_id"))
    val twins = assigned.filter(col("cluster_id") === x)
      .select((col("id") + 10000L).as("id"), col("vec"), lit(8).as("cluster_id"))
    val farRows = (1 to 3).map(j => (20000L + j, moved(far, 1, 0.1f * j), 9))
      .toDF("id", "vec", "cluster_id")
    val rows = assigned.union(twins).union(farRows)
    val tmp = java.nio.file.Files.createTempDirectory("pq4_order").toString
    QuantizedTables.writePq4BlockedClustered(rows.select(col("id"), col("cluster_id"),
      Pq.pqEncode(Pq.centroidResidual(col("vec"), col("cluster_id"), coarse),
        ivf4.books).as("codes")), s"$tmp/codes")
    val idx = Pq.Index(coarse, ivf4.books, s"$tmp/codes")
    val serveBase = rows.select(col("id"), col("vec"))
    def sparkSide(q: Array[Float], nprobe: Int, k: Int, refineK: Int,
                  excl: Array[Long] = Array.empty) =
      Pq.searchFastScanIvfRefined(serveBase, idx, Seq((0L, q)).toDF("qid", "qvec"),
        nprobe, k, refineK, excludeIds = excl).orderBy("rank").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq
    val lk = "pq4spec_order"
    def local(q: Array[Float], nprobe: Int, k: Int, refineK: Int,
              exclude: Long => Boolean = null) =
      Pq.searchLocalIvf4(q, idx, lk, nprobe, k, refineK, exclude).toSeq
    Pq.warmLocalIvf4(spark, idx, lk, serveBase)
    try {
      // (1) nprobe 2 probes x and its copy; refineK 21 is odd, so the
      // pool cut splits a tie pair. The exclusion hook sees exactly the
      // pool (exclusions drop after the cut).
      val pool = collection.mutable.ArrayBuffer.empty[Long]
      val got = local(qvec, 2, 20, 21, id => { pool += id; false })
      assert(got == sparkSide(qvec, 2, 20, 21), s"local $got")
      val candidates = Pq.searchFastScanIvf(idx, spark,
        Seq((0L, qvec)).toDF("qid", "qvec"), nprobe = 2, k = 21)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(pool.length == 21 && pool.toSet == candidates,
        s"pool $pool != the Spark candidate stage $candidates")
      assert(pool.exists(i => i < 10000L && !pool.contains(i + 10000L)),
        "the pool cut split no tie pair (weak fixture)")
      assert(pool.filter(_ >= 10000L).forall(t => pool.contains(t - 10000L)),
        s"a tie at the pool cut went to the higher id: $pool")
      // best-first by (Double.compare on l2, id): a twin follows its row
      got.sliding(2).foreach { case Seq((i1, d1), (i2, d2)) =>
        val o = java.lang.Double.compare(d1, d2)
        assert(o < 0 || (o == 0 && i1 < i2), s"out of order: $got")
      }
      assert(got.exists(_._1 >= 10000L), "no cross-cell tie reached the answer")
      // (2) fewer candidates than k: nprobe 1 near the far cell
      val qFar = moved(far, 0, -0.5f)
      val short = local(qFar, 1, 10, 20)
      assert(short.map(_._1) == Seq(20001L, 20002L, 20003L), s"short pool $short")
      assert(short == sparkSide(qFar, 1, 10, 20))
      // (3) a probed cell with no segments: nprobe 2 adds cell 10
      assert(local(qFar, 2, 10, 20) == short)
      assert(sparkSide(qFar, 2, 10, 20) == short)
      // ... and alone it answers nothing
      assert(local(coarse(10), 1, 10, 20).isEmpty)
      assert(sparkSide(coarse(10), 1, 10, 20).isEmpty)
      // (4) exclusions that remove every candidate
      assert(local(qvec, 2, 10, 21, _ => true).isEmpty)
      val everyId = serveBase.select("id").collect().map(_.getLong(0))
      assert(sparkSide(qvec, 2, 10, 21, everyId).isEmpty)
    } finally Pq.invalidateLocal(lk)
  }

  test("local tier on a NaN and an all-+Inf query: k ids, ascending") {
    // non-finite scores rank by Double.compare (NaN last, ties by id), so
    // every candidate ties and the answer is the k lowest pooled ids
    val lk = "pq4spec_nonfinite"
    Pq.warmLocalIvf4(spark, ivf4, lk, base)
    try {
      val nan = base.filter(col("id") === 5L).select(col("vec")).head()
        .getSeq[Float](0).toArray
      nan(3) = Float.NaN
      val inf = Array.fill(dim)(Float.PositiveInfinity)
      for ((name, q) <- Seq("NaN" -> nan, "+Inf" -> inf)) {
        val ids = Pq.searchLocalIvf4(q, ivf4, lk, nprobe = 8, k = 10,
          refineK = 100).map(_._1).toSeq
        assert(ids.length == 10 && ids.sliding(2).forall(p => p(0) < p(1)),
          s"$name query answered $ids")
      }
    } finally Pq.invalidateLocal(lk)
  }

  test("local tier allocates < 1 MB per query at ~1,600 candidates") {
    // 20K rows over 32 cells: each of the 8 probed cells fills its
    // 2·refineK = 200-row reservoir. Sorting those ~1,600 candidates by
    // boxed (score, id) tuples allocates ~2 MB per query; a bounded
    // selection needs the reservoirs and LUTs only. Thread-allocated
    // bytes, unlike wall time, do not move with the box's load.
    import spark.implicits._
    val d = 32
    val rng = new scala.util.Random(91)
    val rows = (0 until 20000)
      .map(i => (i.toLong, Array.fill(d)(rng.nextGaussian().toFloat)))
      .toDF("id", "vec").cache()
    val coarse = Ivf.train(rows, nlist = 32, ntrain = 5000)
    val assigned = Ivf.assign(rows, coarse).withColumn("residual",
      Pq.centroidResidual(col("vec"), col("cluster_id"), coarse))
    val bks = Pq.train(assigned.select(col("id"), col("residual").as("vec")),
      m = d / 4, ksub = 16, ntrain = 5000)
    val smallest = assigned.groupBy("cluster_id").count()
      .agg(min("count")).head().getLong(0)
    assert(smallest > 200, s"a cell of $smallest rows cannot fill a reservoir")
    val tmp = java.nio.file.Files.createTempDirectory("pq4_alloc").toString
    QuantizedTables.writePq4BlockedClustered(assigned.select(col("id"),
      col("cluster_id"), Pq.pqEncode(col("residual"), bks).as("codes")),
      s"$tmp/codes")
    val idx = Pq.Index(coarse, bks, s"$tmp/codes")
    val lk = "pq4spec_alloc"
    Pq.warmLocalIvf4(spark, idx, lk, rows)
    try {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val qs = Array.fill(500)(Array.fill(d)(rng.nextGaussian().toFloat))
      def serve(q: Array[Float]) =
        Pq.searchLocalIvf4(q, idx, lk, nprobe = 8, k = 10, refineK = 100)
      qs.foreach(serve)
      val perCall = qs.map { q =>
        val a0 = mx.getCurrentThreadAllocatedBytes
        serve(q)
        mx.getCurrentThreadAllocatedBytes - a0
      }.sorted
      val median = perCall(perCall.length / 2)
      // measured: ~80 KB in a JVM of its own and 364 KB, steady, in some
      // full-suite JVMs, where the scan kernel itself allocates; sorting
      // the pool read 2.1 MB
      assert(median < 1024L * 1024, s"median allocation per query $median B")
    } finally {
      Pq.invalidateLocal(lk)
      rows.unpersist()
    }
  }

  test("serve-time exclusions: takedowns suppressed identically across " +
    "all three serving flavors") {
    // the maintenance story's suppression half: a takedown must stop
    // surfacing NOW (the anti-join on the candidate stage), before the
    // relational delete + code-table rebuild make it permanent. Gates:
    // excluded ids never appear, the refine slack keeps results at k,
    // and all three flavors (flat refine, clustered refine, local tier)
    // agree EXACTLY under the same exclusion set.
    val refIdx = Ivf.buildOrGet(spark, base, s"$dir|pq4spec", nlist = 8,
      ntrain = 500)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val before = triples(Pq.searchFastScanIvfRefined(base, ivf4, queries,
      nprobe = 8, k = 10, refineK = 100))
    // take down every query's current top hit (distinct union)
    val dead = before.filter(_._3 == 1).map(_._2).distinct.toArray
    val flat = triples(Pq.searchFastScanIvfRefined(base, ivf4, queries,
      nprobe = 8, k = 10, refineK = 100, excludeIds = dead))
    assert(flat != before && !flat.exists(t => dead.contains(t._2)),
      "flat refine leaked a takedown")
    assert(flat.count(_._1 == 0L) == 10, "refine slack failed to refill k")
    val clustered = triples(Pq.searchFastScanIvfRefinedClustered(refIdx,
      ivf4, queries, nprobe = 8, k = 10, refineK = 100, excludeIds = dead))
    assert(clustered == flat, "clustered refine diverged under exclusions")
    Pq.warmLocalIvf4(spark, ivf4, "pq4spec_excl", base)
    val deadSet = dead.toSet
    val sparkSide = flat.groupBy(_._1)
    base.filter(col("id") < 16).select(col("id"), col("vec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .foreach { case (qid, qvec) =>
        val local = Pq.searchLocalIvf4(qvec, ivf4, "pq4spec_excl",
          nprobe = 8, k = 10, refineK = 100, exclude = deadSet.contains)
          .map(_._1).toSeq
        val want = sparkSide(qid).sortBy(_._3).map(_._2).toSeq
        assert(local == want,
          s"qid=$qid: local tier diverged under exclusions ($local vs $want)")
      }
    Pq.invalidateLocal("pq4spec_excl")
  }

  test("appendIvf4/appendClustered: grown artifacts serve the union " +
    "exactly like a rebuild under the frozen quantizer") {
    val old = base.filter(col("id") < 350)
    val fresh = base.filter(col("id") >= 350)
    val tmp = java.nio.file.Files.createTempDirectory("pq4_append").toString
    // frozen DDL trained on the OLD slice only (the cold path of
    // buildOrGetIvf4, laid down in a temp dir so the test owns its
    // artifact generations)
    val coarse = Ivf.train(old, nlist = 8, ntrain = 500)
    def encodeWith(rows: org.apache.spark.sql.DataFrame, books: Pq.Codebooks) =
      Ivf.assign(rows, coarse)
        .withColumn("residual",
          Pq.centroidResidual(col("vec"), col("cluster_id"), coarse))
        .select(col("id"), col("cluster_id"),
          Pq.pqEncode(col("residual"), books).as("codes"))
    val residOld = Ivf.assign(old, coarse)
      .withColumn("residual",
        Pq.centroidResidual(col("vec"), col("cluster_id"), coarse))
    val frozenBooks = Pq.train(
      residOld.select(col("id"), col("residual").as("vec")),
      m = m4, ksub = 16, ntrain = 500)
    QuantizedTables.writePq4BlockedClustered(
      encodeWith(old, frozenBooks), s"$tmp/grown")
    val grown = Pq.Index(coarse, frozenBooks, s"$tmp/grown")
    assert(Pq.appendIvf4(grown, fresh) == fresh.count())
    // rebuild from the union under the SAME frozen coarse + books
    QuantizedTables.writePq4BlockedClustered(
      encodeWith(base, frozenBooks), s"$tmp/rebuilt")
    val rebuilt = Pq.Index(coarse, frozenBooks, s"$tmp/rebuilt")
    def res(ix: Pq.Index) =
      Pq.searchFastScanIvfRefined(base, ix, queries, nprobe = 8, k = 10,
        refineK = 100)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val grownRes = res(grown)
    assert(grownRes == res(rebuilt),
      "appended table diverged from the from-scratch rebuild")
    // the appended rows are genuinely REACHED: fresh ids appear (they
    // are their own exact nearest neighbors only if queried — instead
    // gate that the grown result equals the rebuilt one AND the union
    // result differs from serving the stale old-only table)
    QuantizedTables.writePq4BlockedClustered(
      encodeWith(old, frozenBooks), s"$tmp/stale")
    val stale = Pq.Index(coarse, frozenBooks, s"$tmp/stale")
    assert(res(stale) != grownRes,
      "union results indistinguishable from the stale table — the " +
        "fixture can't see appended rows (weak fixture)")
    // the clustered refine table maintained in step: pruned refine over
    // the grown pair == the flat refine over the grown code table
    val refPath = s"$tmp/clustered"
    Ivf.writeClustered(Ivf.assign(old, coarse), refPath)
    val refIdx = Ivf.Index(coarse, refPath)
    assert(Ivf.appendClustered(refIdx, fresh) == fresh.count())
    val pruned = Pq.searchFastScanIvfRefinedClustered(refIdx, grown,
      queries, nprobe = 8, k = 10, refineK = 100)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(pruned == grownRes,
      "pruned refine over the maintained clustered table diverged")
  }

  test("staged append: a planted crash recovers on re-call, commits are " +
    "idempotent, the old generation stays servable (r17)") {
    val old = base.filter(col("id") < 350)
    val fresh = base.filter(col("id") >= 350)
    val tmp = java.nio.file.Files.createTempDirectory("pq4_staged").toString
    val coarse = Ivf.train(old, nlist = 8, ntrain = 500)
    val residOld = Ivf.assign(old, coarse)
      .withColumn("residual",
        Pq.centroidResidual(col("vec"), col("cluster_id"), coarse))
    val frozenBooks = Pq.train(
      residOld.select(col("id"), col("residual").as("vec")),
      m = m4, ksub = 16, ntrain = 500)
    QuantizedTables.writePq4BlockedClustered(
      residOld.select(col("id"), col("cluster_id"),
        Pq.pqEncode(col("residual"), frozenBooks).as("codes")),
      s"$tmp/codes")
    val idx = Pq.Index(coarse, frozenBooks, s"$tmp/codes")
    Ivf.writeClustered(Ivf.assign(old, coarse), s"$tmp/flat")
    val refIdx = Ivf.Index(coarse, s"$tmp/flat")
    def res() =
      Pq.searchFastScanIvfRefinedClustered(refIdx, idx, queries,
        nprobe = 8, k = 10, refineK = 100)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val staleRes = res()
    // CRASH mid-staging: a task-level failure inside the staged write —
    // the stage dir is invisible to readers, so the table must keep
    // serving the OLD generation bit-for-bit, with no manual cleanup
    val boom = udf((id: Long, v: Seq[Float]) => {
      if (id == 400L) throw new RuntimeException("planted staging crash")
      v
    })
    val poisoned = fresh.select(col("id"),
      boom(col("id"), col("vec")).as("vec"))
    val exC = intercept[Exception](
      Pq.appendIvf4(idx, poisoned, token = "crash1"))
    def chain(t: Throwable): String = {
      val sb = new StringBuilder
      var x: Throwable = t
      while (x != null) { sb.append(x.getMessage).append('\n'); x = x.getCause }
      sb.toString
    }
    assert(chain(exC).contains("planted staging crash"), chain(exC))
    assert(res() == staleRes,
      "a crashed staging write changed what the table serves")
    // RECOVERY is a re-call with the same token — the r16 protocol
    // failed loudly here and demanded a manual two-dir wipe
    assert(Pq.appendIvf4(idx, fresh, token = "crash1") == fresh.count())
    assert(Ivf.appendClustered(refIdx, fresh, token = "crash1")
      == fresh.count())
    val grownRes = res()
    assert(grownRes != staleRes, "appended rows not visible after commit")
    def dataFiles(p: String): Seq[String] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(_.getFileName.toString)
          .filterNot(n => n.startsWith("_") || n.startsWith("."))
          .toSeq.sorted
      } finally st.close()
    }
    val filesAfter = dataFiles(s"$tmp/codes")
    // IDEMPOTENT replay: same token returns the recorded count and the
    // table does not grow — a re-run of the same batch (the crash-retry
    // path, or a stream's replayed micro-batch) cannot double-encode
    assert(Pq.appendIvf4(idx, fresh, token = "crash1") == fresh.count())
    assert(dataFiles(s"$tmp/codes") == filesAfter,
      "a replayed committed token grew the table")
    // r18 fast path: the no-op replay must ALSO leave serving relation
    // caches intact (it moved no files) — the res() above cached both
    // relations, and invalidating them per replayed call forced a full
    // partition re-list (~1.66 s at nlist=1024) for nothing
    assert(Pq.relationCached(idx.path),
      "committed replay invalidated the blocked-relation cache")
    assert(Ivf.appendClustered(refIdx, fresh, token = "crash1")
      == fresh.count())
    assert(Ivf.clusteredCached(refIdx.clusteredPath),
      "committed replay invalidated the clustered-relation cache")
    assert(res() == grownRes)
    // the grown pair serves exactly like a from-scratch encode of the
    // union under the same frozen quantizer — the append-equals-rebuild
    // contract carries over to the staged protocol
    val residAll = Ivf.assign(base, coarse)
      .withColumn("residual",
        Pq.centroidResidual(col("vec"), col("cluster_id"), coarse))
    QuantizedTables.writePq4BlockedClustered(
      residAll.select(col("id"), col("cluster_id"),
        Pq.pqEncode(col("residual"), frozenBooks).as("codes")),
      s"$tmp/rebuilt")
    Ivf.writeClustered(Ivf.assign(base, coarse), s"$tmp/rflat")
    val rebuiltRes = Pq.searchFastScanIvfRefinedClustered(
      Ivf.Index(coarse, s"$tmp/rflat"),
      Pq.Index(coarse, frozenBooks, s"$tmp/rebuilt"), queries,
      nprobe = 8, k = 10, refineK = 100)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(grownRes == rebuiltRes,
      "staged-appended pair diverged from the from-scratch rebuild")
  }

  test("after an append, the next clustered probe runs no schema-inference job") {
    // both appends re-read each cached relation under its own schema; a
    // bare spark.read.parquet would re-infer it with a one-task footer job
    // in the next probe
    val old = base.filter(col("id") < 350)
    val fresh = base.filter(col("id") >= 350)
    val tmp = java.nio.file.Files.createTempDirectory("pq4_relist").toString
    QuantizedTables.writePq4BlockedClustered(
      Ivf.assign(old, ivf4.coarse).select(col("id"), col("cluster_id"),
        Pq.pqEncode(Pq.centroidResidual(col("vec"), col("cluster_id"),
          ivf4.coarse), ivf4.books).as("codes")), s"$tmp/codes")
    val idx = Pq.Index(ivf4.coarse, ivf4.books, s"$tmp/codes")
    Ivf.writeClustered(Ivf.assign(old, ivf4.coarse), s"$tmp/flat")
    val refIdx = Ivf.Index(ivf4.coarse, s"$tmp/flat")
    def probe() =
      Pq.searchFastScanIvfRefinedClustered(refIdx, idx, queries,
        nprobe = 8, k = 10, refineK = 100)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val stale = probe() // caches both relations
    val steadyJobs = SparkJobs.of(spark)(probe())
    assert(SparkJobs.of(spark)(probe()).length == steadyJobs.length,
      "steady probes differ in job count (weak fixture)")
    assert(Pq.appendIvf4(idx, fresh, token = "t1") == fresh.count())
    assert(Ivf.appendClustered(refIdx, fresh, token = "t1") == fresh.count())
    var grown = Seq.empty[(Long, Long, Int)]
    val firstJobs = SparkJobs.of(spark) { grown = probe() }
    assert(firstJobs.length == steadyJobs.length,
      s"first probe after the append ran jobs $firstJobs, a steady one $steadyJobs")
    assert(grown != stale, "appended rows not visible to the re-read relations")
    val reread = refIdx.clustered(spark)
    val cold = spark.read.parquet(s"$tmp/flat")
    assert(reread.schema == cold.schema && reread.count() == base.count())
  }

  test("staged append: a crash mid-APPLY replays to completion from the " +
    "committed plan (r17)") {
    // white-box reconstruction of the post-commit-point crash state: the
    // plan landed (commit point), ONE of two moves ran, then the JVM
    // died — the replay must finish the remaining move without
    // re-invoking the writer, then clean up
    val tmp = java.nio.file.Files.createTempDirectory("staged_replay")
    val table = tmp.resolve("t")
    val part = table.resolve("cluster_id=0")
    java.nio.file.Files.createDirectories(part)
    val stage = table.resolve("_append_tok.stage/cluster_id=0")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.writeString(stage.resolve("a.parquet"), "AAA")
    // b already moved (its staged copy is gone, destination present)
    java.nio.file.Files.writeString(
      part.resolve("append-tok-1-b.parquet"), "BBB")
    java.nio.file.Files.writeString(table.resolve("_append_tok.plan"),
      "7\ncluster_id=0/a.parquet\tcluster_id=0/append-tok-0-a.parquet\n" +
        "cluster_id=0/b.parquet\tcluster_id=0/append-tok-1-b.parquet")
    var writerCalls = 0
    val n = graft.io.StagedAppend.run(table.toString, "tok",
      sys.error("nRows must not be consulted on a replay")) { _ =>
      writerCalls += 1
    }
    assert(n == 7L, "replay must return the PLAN's recorded count")
    assert(writerCalls == 0, "replay re-invoked the staging writer")
    assert(java.nio.file.Files.readString(
      part.resolve("append-tok-0-a.parquet")) == "AAA")
    assert(java.nio.file.Files.isRegularFile(
      table.resolve("_append_tok.committed")))
    assert(!java.nio.file.Files.exists(table.resolve("_append_tok.plan")))
    assert(!java.nio.file.Files.exists(table.resolve("_append_tok.stage")))
    // a move whose file is NEITHER staged nor applied is corruption — loud
    val table2 = tmp.resolve("t2")
    java.nio.file.Files.createDirectories(table2)
    java.nio.file.Files.writeString(table2.resolve("_append_tok.plan"),
      "1\ncluster_id=0/ghost.parquet\tcluster_id=0/append-tok-0-ghost.parquet")
    val ex = intercept[IllegalStateException](
      graft.io.StagedAppend.run(table2.toString, "tok", 1L)(_ => ()))
    assert(ex.getMessage.contains("neither staged nor applied"))
  }

  test("codebook/centroid sidecars are CRC32C-framed: corruption and " +
    "truncation fail loudly, legacy files stay readable (r17)") {
    val tmp = java.nio.file.Files.createTempDirectory("books_crc").toString
    val f = s"$tmp/books.bin"
    Pq.saveBooks(f, books)
    val loaded = Pq.loadBooks(f).get
    assert(loaded.length == books.length)
    assert(loaded.zip(books).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) }
    }, "framed books did not round-trip")
    // single payload bit-flip → loud (the store-v3 argument: a flipped
    // codebook float silently skews every ADC score it touches)
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    val flipped = good.clone()
    flipped(20) = (flipped(20) ^ 0x01).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(f), flipped)
    val exF = intercept[IllegalStateException](Pq.loadBooks(f))
    assert(exF.getMessage.contains("CRC32C mismatch"))
    // truncation → loud (the declared frame length catches it)
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      good.dropRight(5))
    val exT = intercept[IllegalStateException](Pq.loadBooks(f))
    assert(exT.getMessage.contains("truncated"))
    // legacy unframed file (pre-r17 cache artifacts) parses identically
    val legacy = s"$tmp/legacy_books.bin"
    val out = new java.io.DataOutputStream(
      new java.io.FileOutputStream(legacy))
    try {
      out.writeInt(books.length)
      books.foreach { sub =>
        out.writeInt(sub.length)
        out.writeInt(if (sub.isEmpty) 0 else sub(0).length)
        sub.foreach(_.foreach(out.writeFloat))
      }
    } finally out.close()
    val legacyLoaded = Pq.loadBooks(legacy).get
    assert(legacyLoaded.zip(books).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) }
    }, "legacy unframed books no longer readable")
    // unparseable legacy garbage keeps the rebuild contract (None)
    java.nio.file.Files.write(java.nio.file.Paths.get(legacy),
      Array[Byte](0, 0, 0, 2, 0, 0, 0, 1))
    assert(Pq.loadBooks(legacy).isEmpty)
    // the centroid matrix sidecar rides the same frame
    val mfile = s"$tmp/coarse.bin"
    val mat = Array(Array(1.5f, -2f), Array(0f, 3f))
    Ivf.saveMatrix(mfile, mat)
    assert(Ivf.loadMatrix(mfile).get.zip(mat)
      .forall { case (a, b) => a.sameElements(b) })
    val mb = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(mfile))
    mb(15) = (mb(15) ^ 0x10).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(mfile), mb)
    val exM = intercept[IllegalStateException](Ivf.loadMatrix(mfile))
    assert(exM.getMessage.contains("CRC32C mismatch"))
  }
}
