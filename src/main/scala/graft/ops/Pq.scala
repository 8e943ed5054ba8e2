package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.expressions.{CentroidResidual, PqAdc, PqEncode, PqLut}

/** Product quantization (C3): per-subspace k-means codebooks, byte codes,
  * ADC lookup-table scoring, optional IVF coarse stage with residual
  * encoding — the reference's `apps/nvdb_ivfpq_build.cpp:76-129` semantics
  * (PQ-without-OPQ first, per SURVEY §7.4.4).
  *
  * Scale design: codebooks are tiny (m × ksub × dsub floats) and broadcast
  * as codegen reference objects. The base table stores m BYTES per row
  * instead of D floats (64-d f32: 256 B → 8 B, the reference's 42 MB vs
  * 738 MB index). Search is the same broadcast-scan shape as exact search
  * but each row costs m lookups, and the scan reads only the codes column.
  */
object Pq {

  /** m × ksub × dsub codebook matrix. */
  type Codebooks = Array[Array[Array[Float]]]

  /** Train per-subspace k-means codebooks on the deterministic id-prefix.
    * `dim % m == 0` required (FAISS requires the same).
    *
    * The m sub-codebooks are independent k-means problems (Jégou et al.,
    * TPAMI 2011), so they train CONCURRENTLY on a pool of
    * min(m, availableProcessors) threads created per call. Threads created
    * inside the call inherit Spark's local properties (job group,
    * scheduler pool, tracing tags), so their jobs stay attributed to the
    * caller. When a sub-fit would take [[Kmeans.fit]]'s driver-local path
    * ([[Kmeans.localEligible]]), the sample is collected ONCE and each
    * subspace runs [[Kmeans.fitLocal]] on its driver-side slice; otherwise
    * each subspace runs the unchanged [[Kmeans.fit]]. Either way codebook s
    * is bitwise the one a sequential `Kmeans.fit(slice s, ksub, seed + s,
    * maxIter = 15)` loop gives (BuildPathSpec gates it): fitLocal's content
    * sort makes the local result independent of collection order, and
    * concurrent distributed fits share no state.
    */
  def train(base: DataFrame, m: Int, ksub: Int, ntrain: Int = 200000,
            seed: Long = 42L, vecCol: String = "vec",
            idCol: String = "id"): Codebooks = {
    val spark = base.sparkSession
    import spark.implicits._
    // id-prefix via range predicate (ids are dense positional, SURVEY §1.1):
    // pushes to the scan instead of a global TakeOrdered over every partition
    val sample = Ivf.trainSample(base, ntrain, idCol).select(col(vecCol)).cache()
    try {
      val got = sample.count()
      require(got >= ksub,
        s"training sample has $got rows < ksub=$ksub: trainers contract on " +
          s"dense positional '$idCol' (SURVEY §1.1) — mint ids with " +
          "Ingest.withPositionalIds before indexing derived tables")
      // per-subspace codebooks through the same fused-SIMD Lloyd trainer
      // as the coarse quantizer ([[Kmeans]]) — FAISS's 25-iter default
      // was overkill for ksub=256 sub-codebooks; 15 matches the r7 MLlib
      // setting this replaced
      val maxIter = 15
      if (Kmeans.localEligible(ksub, got)) {
        val rows = sample.as[Array[Float]].collect()
        val dsub = subDim(rows.head.length, m)
        perSubspace(m) { s =>
          val from = s * dsub
          Kmeans.fitLocal(rows.map(java.util.Arrays.copyOfRange(_, from, from + dsub)),
            ksub, seed + s, maxIter)
        }
      } else {
        val dsub = subDim(sample.select(size(col(vecCol))).head().getInt(0), m)
        perSubspace(m) { s =>
          val sub = sample.select(slice(col(vecCol), s * dsub + 1, dsub).as("vec"))
          Kmeans.fit(sub, ksub, seed + s, maxIter)
        }
      }
    } finally sample.unpersist()
  }

  private def subDim(dim: Int, m: Int): Int = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    dim / m
  }

  /** `fit(s)` for s in 0 until m on a per-call pool of min(m, cores)
    * threads; a failed fit rethrows its own exception.
    */
  private def perSubspace(m: Int)(fit: Int => Array[Array[Float]]): Codebooks = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, Runtime.getRuntime.availableProcessors))
    try {
      val fits = (0 until m).map(s => pool.submit(() => fit(s)))
      fits.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }.toArray
    } finally pool.shutdownNow()
  }

  def pqEncode(vec: Column, books: Codebooks): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), books))
  def pqLut(qvec: Column, books: Codebooks, l2: Boolean = true): Column =
    Bridge.column(PqLut(Bridge.expression(qvec), books, l2))
  def pqAdc(codes: Column, lut: Column): Column =
    Bridge.column(PqAdc(Bridge.expression(codes), Bridge.expression(lut)))
  def centroidResidual(vec: Column, cid: Column, cents: Array[Array[Float]]): Column =
    Bridge.column(CentroidResidual(Bridge.expression(vec), Bridge.expression(cid), cents))

  /** Encode the base: (id, codes) — the compressed index table. */
  def encode(base: DataFrame, books: Codebooks,
             idCol: String = "id", vecCol: String = "vec"): DataFrame =
    base.select(col(idCol), pqEncode(col(vecCol), books).as("codes"))

  /** Flat ADC search: broadcast queries carry their per-query LUT; every
    * base row costs m byte lookups. L2 flavor ranks ascending.
    */
  def search(encoded: DataFrame, queries: DataFrame, books: Codebooks, k: Int,
             l2: Boolean = true, idCol: String = "id"): DataFrame = {
    val q = queries.select(col("qid"), pqLut(col("qvec"), books, l2).as("lut"))
    val scored = encoded.crossJoin(broadcast(q))
      .select(col("qid"), col(idCol).as("gid"),
        pqAdc(col("codes"), col("lut")).as("score"))
    TopK.perGroup(scored, "qid", "gid", "score", k, larger = !l2)
  }

  /** Batched flat ADC search: the query batch's LUTs ride as ONE codegen
    * reference object, the code table streams once, and per-partition
    * top-k buffers absorb the scores (`Search.scoredTopK`) — no Q×N
    * joined rows. Per-pair lookup-sums are [[PqOps.adc]]'s exactly
    * (driver builds LUTs with the same [[PqOps.lut]] the broadcast side
    * runs), so ranks match [[search]] (PqSpec gates it). This is the
    * probe shape for serving-latency measurements.
    */
  def searchBatched(encoded: DataFrame, queries: DataFrame, books: Codebooks,
                    k: Int, l2: Boolean = true, idCol: String = "id"): DataFrame = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.{BatchAdcScores, PqOps}
    val q = collectQueryVecs(queries)
    val qids = q.map(_._1)
    val luts = q.map { case (_, qv) =>
      PqOps.lut(new GenericArrayData(qv), books, l2).toFloatArray()
    }
    Search.scoredTopK(
      encoded.select(col(idCol).cast("long"),
        Bridge.column(BatchAdcScores(Bridge.expression(col("codes")), luts))
          .as("scores")),
      qids, k, larger = !l2, "qid")
  }

  /** Batched ADC scan over a BLOCK-PACKED code table
    * (`QuantizedTables.writeBytesBlocked` — up to 128 id-sorted code rows
    * per stored row, one contiguous blob): the 1M row-wise ADC scan pays
    * ~µs-per-row plan overhead to read 48 BYTES of codes, which dwarfs
    * the 768 L2-resident lookups the row actually costs — the same
    * fixed-cost wall the blocked vector scans hit, fixed the same way.
    * Lookup-sums are bitwise [[searchBatched]]'s ([[PqOps.adcAllSlice]];
    * PqSpec gates rank equality).
    */
  def searchBatchedBlocked(blocked: DataFrame, queries: DataFrame,
                           books: Codebooks, k: Int,
                           l2: Boolean = true): DataFrame = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.PqOps
    val q = collectQueryVecs(queries)
    val qids = q.map(_._1)
    val luts = q.map { case (_, qv) =>
      PqOps.lut(new GenericArrayData(qv), books, l2).toFloatArray()
    }
    val nq = qids.length
    Search.scanTopK[(Array[Long], Array[Byte])](blocked.select(col("ids"), col("codes")),
        qids, k, larger = !l2) { (it, top) =>
      // QUERY-TILED scan (r11): the flat row×query loop streams every
      // query's m×ksub LUT (49 KB at m=48 — Q=512 ⇒ 25 MB) through
      // 48 random lookups per row, so at batch Q every lookup misses
      // to L3 (~55 cycles/op measured via ann_pq_adc_blocked_q512's
      // first cut). Tiling queries keeps a ≤1.6 MB LUT tile
      // L2-resident across the whole 128-row block. Per-(row, query)
      // lookup-sum order is unchanged — scores are bitwise identical
      // (PqSpec rank gates) — only the cache residency moves.
      val tile = 32
      val r4 = new Array[Double](4)
      while (it.hasNext) {
        val (ids, blob) = it.next()
        val stride = blob.length / ids.length
        var q0 = 0
        while (q0 < nq) {
          val q1 = math.min(q0 + tile, nq)
          var r = 0
          // 4-row interleave (PqOps.adcSlice4): the lookup chains are
          // latency-bound; four independent rows overlap their loads.
          // Per-query offer order stays row-ascending — identical
          // buffers, bitwise-identical sums.
          while (r + 4 <= ids.length) {
            val off = r * stride
            var qi = q0
            while (qi < q1) {
              PqOps.adcSlice4(blob, off, off + stride, off + 2 * stride,
                off + 3 * stride, stride, luts(qi), r4)
              top.offer(qi, ids(r), r4(0))
              top.offer(qi, ids(r + 1), r4(1))
              top.offer(qi, ids(r + 2), r4(2))
              top.offer(qi, ids(r + 3), r4(3))
              qi += 1
            }
            r += 4
          }
          while (r < ids.length) { // ragged tail
            val off = r * stride
            var qi = q0
            while (qi < q1) {
              top.offer(qi, ids(r), PqOps.adcSlice(blob, off, stride, luts(qi)))
              qi += 1
            }
            r += 1
          }
          q0 = q1
        }
      }
    }
  }

  /** 4-bit fastscan search over a [[graft.io.QuantizedTables.writePq4Blocked]]
    * table — the batch-Q ADC regime rebuilt on the register-shuffle design
    * of André et al. (VLDB'15) / FAISS `IndexPQFastScan`, which is the
    * published answer to exactly the wall our 8-bit ADC hit at Q=512:
    * scalar LUT lookups are dependent loads (48/row/query), while a
    * 16-entry 4-bit LUT fits a SIMD register and `selectFrom` (AVX-512VBMI
    * `vpermb`) scores 64 rows per instruction pair.
    *
    * Pipeline per partition: stream the transposed code blocks once; for
    * each (query, 64-row group) compute EXACT u16 sums of the u8-quantized
    * LUT ([[graft.functions.expressions.PqOps.quantizeLuts]] — bounded
    * ≤ m4·delta/2 absolute error vs the float ADC sum); keep the `cand`
    * best rows per (query, partition) by quantized score (id tie-break),
    * stashing each survivor's 48-byte code slice; at partition end
    * re-rank every survivor with the EXACT float LUT and emit — so the
    * global top-k merge ranks on float-ADC scores and LUT quantization
    * affects recall only through bounded-error pruning (Pq4Spec gates
    * both the pruning recall and SIMD == scalar sum equality).
    *
    * Scale shape: queries broadcast (bounded), code table streams once,
    * shuffle carries Q × cand candidates per partition — never the corpus.
    */
  def searchFastScan(blocked4: DataFrame, queries: DataFrame, books: Codebooks,
                     k: Int, l2: Boolean = true, cand: Int = 0): DataFrame = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.PqOps
    val m4 = requirePq4(books)
    val spark = blocked4.sparkSession
    import spark.implicits._
    val q = collectQueryVecs(queries)
    val qids = q.map(_._1)
    val lutsF = q.map { case (_, qv) =>
      PqOps.lut(new GenericArrayData(qv), books, l2).toFloatArray()
    }
    val larger = !l2
    val tables = lutsF.map(PqOps.quantizeLuts(_, m4, larger)._1)
    val nq = qids.length
    val c = candidateBound(cand, k)
    val partials = blocked4.select(col("ids"), col("codes"))
      .as[(Array[Long], Array[Byte])]
      .mapPartitions { it =>
        val res = Array.fill(nq)(new Pq4Reservoir(c, m4))
        while (it.hasNext) {
          val (ids, blob) = it.next()
          var qi = 0
          while (qi < nq) { res(qi).scan(ids, blob, tables(qi)); qi += 1 }
        }
        (0 until nq).iterator.flatMap { qi =>
          val r = res(qi)
          (0 until r.n).iterator.map(i => (qids(qi), r.ids(i), r.adc(i, lutsF(qi))))
        }
      }
    TopK.perGroup(partials.toDF("qid", "gid", "score"),
      "qid", "gid", "score", k, larger)
  }

  /** The pq4 codebook shape every fastscan entry point needs: ksub = 16
    * per book (one 4-bit code), m4 even (two codes per packed byte) and
    * m4 <= 256 (the group kernels' u16 lane-sum bound; see
    * [[graft.functions.expressions.PqOps.quantizeLuts]]). Returns m4.
    */
  private def requirePq4(books: Codebooks): Int = {
    val m4 = books.length
    require(books.forall(_.length == 16), "pq4 codebooks must have ksub=16")
    require(m4 % 2 == 0, s"pq4 m4 must be even, got $m4")
    require(m4 <= 256, s"pq4 supports m4 <= 256 (u16 lane-sum bound), got $m4")
    m4
  }

  /** Fastscan reservoir bound: `cand` when given, else 2k (at least 64). */
  private def candidateBound(cand: Int, k: Int): Int =
    if (cand > 0) cand else math.max(2 * k, 64)

  /** Residual float LUT of `qvec − centroid` and its u8 register tables
    * — the per-(query, cell) scoring state of the IVF fastscan paths.
    */
  private def residualTables(qvec: Array[Float], centroid: Array[Float],
                             books: Codebooks): (Array[Float], Array[Byte]) = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.PqOps
    val res = new Array[Float](qvec.length)
    var d = 0
    while (d < qvec.length) { res(d) = qvec(d) - centroid(d); d += 1 }
    val lutF = PqOps.lut(new GenericArrayData(res), books, l2 = true).toFloatArray()
    (lutF, PqOps.quantizeLuts(lutF, books.length, larger = false)._1)
  }

  private lazy val pq4Simd = {
    import graft.functions.expressions.{Simd, VectorKernels}
    VectorKernels.simdEnabled && Simd.pq4Available
  }

  /** Bounded fastscan candidate reservoir shared by every pq4 path: keeps
    * the `c` best rows by (quantized score, id) — a total order, so the
    * kept set never depends on arrival order (segments, partitions,
    * file splits) — with each survivor's nibble-packed code slice stashed
    * for the exact float-ADC re-rank. Quantized scores compare only
    * under ONE register table, so each reservoir serves one LUT: one per
    * query on the flat path, one per (query, cell) on the IVF paths.
    */
  private final class Pq4Reservoir(c: Int, m4: Int) {
    import graft.functions.expressions.{PqOps, Simd}
    private val spMax = m4 / 2
    val ids = new Array[Long](c)
    private val qs = new Array[Int](c)
    private val stash = new Array[Byte](c * spMax)
    private val out = new Array[Short](64)
    var n = 0
    private var worst = 0

    /** Offer every row of one blocked segment (ids, nibble blob) scored
      * with the u8 register `tab`. The blob must hold exactly the
      * segment's 64-row groups at this reservoir's m4: a longer or
      * shorter one means codes of another shape, never a partial answer.
      */
    def scan(segIds: Array[Long], blob: Array[Byte], tab: Array[Byte]): Unit = {
      val vpr = segIds.length
      val groups = (vpr + 63) / 64
      require(blob.length == groups * spMax * 64,
        s"pq4 blob ${blob.length} != $groups groups × $spMax × 64")
      var g = 0
      while (g < groups) {
        val gOff = g * spMax * 64
        if (pq4Simd) Simd.pq4Group(blob, gOff, m4, tab, out)
        else PqOps.pq4GroupRef(blob, gOff, m4, tab, out)
        val len = math.min(64, vpr - g * 64)
        var r = 0
        while (r < len) {
          offer(segIds(g * 64 + r), out(r) & 0xffff, blob, gOff + r)
          r += 1
        }
        g += 1
      }
    }

    private def offer(id: Long, sc: Int, blob: Array[Byte], at: Int): Unit =
      if (n < c) {
        put(n, id, sc, blob, at)
        n += 1
        if (n == c) recomputeWorst()
      } else if (qs(worst) > sc || (qs(worst) == sc && ids(worst) > id)) {
        put(worst, id, sc, blob, at)
        recomputeWorst()
      }

    private def put(i: Int, id: Long, sc: Int, blob: Array[Byte], at: Int): Unit = {
      ids(i) = id; qs(i) = sc
      var sp = 0
      while (sp < spMax) { stash(i * spMax + sp) = blob(at + sp * 64); sp += 1 }
    }

    private def recomputeWorst(): Unit = {
      var w = 0
      var i = 1
      while (i < n) {
        if (qs(i) > qs(w) || (qs(i) == qs(w) && ids(i) > ids(w))) w = i
        i += 1
      }
      worst = w
    }

    /** Exact float-ADC score of survivor `i` under `lutF` (the same
      * lookups as the 8-bit adc kernels — quantization never touches an
      * emitted score).
      */
    def adc(i: Int, lutF: Array[Float]): Double =
      PqOps.adcNibbles(stash, i * spMax, spMax, lutF)
  }

  /** IVF-pruned 4-bit fastscan probe — FAISS `IndexIVFPQFastScan`'s shape
    * composed from [[searchFastScan]]'s kernel and [[ivfpqSearch]]'s
    * residual coarse stage. Per query: the `nprobe` nearest coarse cells;
    * per (query, cell) a RESIDUAL float LUT (q − centroid) and its
    * u8-quantized register tables. The scan streams ONLY probed cells of
    * the cluster-partitioned blocked table
    * ([[graft.io.QuantizedTables.writePq4BlockedClustered]] — parquet
    * partition pruning does the inverted-list skip). Candidate reservoirs
    * are kept PER (query, cell) in quantized space: quantized scores are
    * NOT comparable across cells (each (query, cell) LUT carries its own
    * bias/delta), so reservoirs never mix cells, and every survivor is
    * re-ranked with its own cell's EXACT float LUT before the global
    * top-k merge — emitted scores are exact residual-ADC sums, identical
    * to [[ivfpqSearch]]'s (Pq4Spec gates full-probe/full-candidate
    * equality). It shares the reservoir with [[searchFastScan]] and
    * [[searchLocalIvf4]].
    *
    * Scale shape: LUT tables are query-batch × nprobe bounded and ship in
    * the task closure like [[searchFastScan]]'s; shuffle carries
    * ≤ Q × nprobe × cand candidates — never the corpus.
    */
  def searchFastScanIvf(idx: Index, spark: SparkSession, queries: DataFrame,
                        nprobe: Int, k: Int, cand: Int = 0): DataFrame =
    searchFastScanIvfCollected(idx, spark, collectQueryVecs(queries),
      nprobe, k, cand)

  /** One canonical query-batch collect shared by every fastscan entry
    * point (r17): the refined-clustered composite used to collect the
    * query table TWICE per call (once in [[probedCells]], once here) —
    * two driver jobs where one suffices (guide §1.2: remove redundant
    * passes before tuning anything).
    */
  private[ops] def collectQueryVecs(
      queries: DataFrame): Array[(Long, Array[Float])] =
    queries.select(col("qid"), col("qvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  private def searchFastScanIvfCollected(idx: Index, spark: SparkSession,
                                         qArr: Array[(Long, Array[Float])],
                                         nprobe: Int, k: Int,
                                         cand: Int = 0): DataFrame = {
    import graft.functions.expressions.CentroidOps
    import spark.implicits._
    val books = idx.books
    val m4 = requirePq4(books)
    val coarse = idx.coarse
    val qids = qArr.map(_._1)
    val nq = qArr.length
    val np = math.min(nprobe, coarse.length)
    val c = candidateBound(cand, k)
    // per (query, probe slot): probed cell, residual float LUT, u8 tables
    val probes = qArr.map(x => CentroidOps.topNprobeF(x._2, coarse, np))
    val luts = Array.tabulate(nq, np)((qi, p) =>
      residualTables(qArr(qi)._2, coarse(probes(qi)(p)), books))
    val lutsF = luts.map(_.map(_._1))
    val tables = luts.map(_.map(_._2))
    // cell -> packed (qi * np + p) slots that probe it
    val byCell: Map[Int, Array[Int]] =
      Array.range(0, nq * np).groupBy(slot => probes(slot / np)(slot % np))
    val probedCells = byCell.keys.toArray.sorted
    // LUT state rides a broadcast, not the task closure: at Q=512 ×
    // nprobe=8 the tables + float LUTs are ~50 MB, which a closure would
    // re-deserialize PER TASK while a broadcast unpacks once per executor.
    // Registered with [[releaseBroadcasts]]: a sweep that calls this many
    // times per JVM (the nprobe/refineK frontiers) would otherwise
    // accumulate ~50 MB of executor-pinned blocks per call — the known
    // full-GC-stall hazard the bench settle discipline exists for.
    val bc = spark.sparkContext.broadcast((tables, lutsF, byCell))
    pendingBroadcasts.add(bc)
    val partials = blockedRelation(spark, idx.path)
      .filter(col("cluster_id").isInCollection(probedCells.toSeq))
      .select(col("cluster_id"), col("ids"), col("codes"))
      .as[(Int, Array[Long], Array[Byte])]
      .mapPartitions { it =>
        val (tables, lutsF, byCell) = bc.value
        // per-(query, cell) reservoirs, lazily created for the cells this
        // partition actually holds
        val res = new java.util.HashMap[Int, Pq4Reservoir]()
        while (it.hasNext) {
          val (cell, ids, blob) = it.next()
          val slots = byCell.getOrElse(cell, Array.emptyIntArray)
          var si = 0
          while (si < slots.length) {
            val slot = slots(si)
            var r0 = res.get(slot)
            if (r0 == null) { r0 = new Pq4Reservoir(c, m4); res.put(slot, r0) }
            r0.scan(ids, blob, tables(slot / np)(slot % np))
            si += 1
          }
        }
        // exact float-ADC re-rank with each survivor's OWN cell LUT
        import scala.jdk.CollectionConverters._
        res.entrySet().iterator().asScala.flatMap { e =>
          val slot = e.getKey; val r0 = e.getValue
          val lf = lutsF(slot / np)(slot % np)
          (0 until r0.n).iterator.map(i => (qids(slot / np), r0.ids(i), r0.adc(i, lf)))
        }
      }
    TopK.perGroup(partials.toDF("qid", "gid", "score"),
      "qid", "gid", "score", k, larger = false)
  }

  /** ADC candidates → exact-L2 refine (J3), the reference's
    * PQ+Refine operating point (recall 0.974 @ R=50, `Performance.md:623`).
    * `batched = true` generates candidates via [[searchBatched]] (same
    * ranks, one code-table pass for the whole query batch).
    */
  def searchRefined(base: DataFrame, encoded: DataFrame, queries: DataFrame,
                    books: Codebooks, k: Int, refineK: Int, l2: Boolean = true,
                    idCol: String = "id", vecCol: String = "vec",
                    batched: Boolean = false): DataFrame = {
    def adc(kk: Int) =
      if (batched) searchBatched(encoded, queries, books, kk, l2, idCol)
      else search(encoded, queries, books, kk, l2, idCol)
    refineAdc(base, queries, k, refineK, adc, idCol, vecCol)
  }

  /** [[searchRefined]] over the block-packed code table. */
  def searchRefinedBlocked(base: DataFrame, blocked: DataFrame,
                           queries: DataFrame, books: Codebooks, k: Int,
                           refineK: Int, l2: Boolean = true,
                           idCol: String = "id", vecCol: String = "vec"): DataFrame =
    refineAdc(base, queries, k, refineK,
      kk => searchBatchedBlocked(blocked, queries, books, kk, l2), idCol, vecCol)

  private def refineAdc(base: DataFrame, queries: DataFrame, k: Int,
                        refineK: Int, adc: Int => DataFrame,
                        idCol: String, vecCol: String,
                        qArr: Option[Array[(Long, Array[Float])]] = None): DataFrame = {
    val kSearch = math.max(refineK, k)
    if (refineK <= k) adc(k)
    else {
      // qvec attach: callers that already collected the query batch (the
      // clustered fastscan path) pass it through so the candidate side is
      // a LocalTableScan instead of a re-scan of the query parquet — one
      // less scan subtree in the broadcast arm, identical rows (r18).
      val qRel = qArr.map { a =>
        val s = queries.sparkSession
        import s.implicits._
        a.toSeq.toDF("qid", "qvec")
      }.getOrElse(queries)
      val cands = adc(kSearch)
        .groupBy("qid").agg(collect_list(col("id")).as("cand_ids"))
        .join(qRel, Seq("qid"))
        .select(col("qid"), col("qvec"), col("cand_ids"))
      // query-batch-bounded candidate side: broadcast so the base streams
      // in place (see Ivf.searchRefined)
      Search.refine(base.select(col(idCol), col(vecCol)), broadcast(cands),
        k, idCol, vecCol)
    }
  }

  /** A built IVF-PQ index: coarse centroids, residual codebooks, and the
    * clustered+encoded table path (cluster_id, id, codes).
    */
  final case class Index(coarse: Array[Array[Float]], books: Codebooks,
                         path: String) {
    def encoded(spark: SparkSession): DataFrame = spark.read.parquet(path)
  }

  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, Index]()

  /** Broadcasts created by search calls whose DataFrames have been
    * returned to the caller (their lifetime is the caller's action, which
    * this layer cannot observe). [[releaseBroadcasts]] unpersists them
    * all — non-blocking, executor blocks only, so an already-materialized
    * result is unaffected and a re-executed plan re-fetches from the
    * driver. Call it between bench/sweep iterations; long-lived serving
    * sessions should call it on their own cadence.
    */
  private val pendingBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.broadcast.Broadcast[_]]()

  /** Unpersist every tracked search broadcast (executor copies only);
    * returns how many were released.
    */
  def releaseBroadcasts(): Int = {
    var n = 0
    var b = pendingBroadcasts.poll()
    while (b != null) {
      b.unpersist(blocking = false)
      n += 1
      b = pendingBroadcasts.poll()
    }
    n
  }

  /** One resolved relation per (session, index path): a fresh
    * `spark.read.parquet` re-builds the partitioned file index — at
    * nlist=1024 that is a per-CALL driver discovery pass over 1024
    * partition dirs, measured ~1.5 s of pure planning against a 0.14 s
    * pruned scan. The artifact is cached DDL (immutable once `_SUCCESS`
    * exists), so the relation is safely reusable for the session's life.
    * Keyed on `sessionUUID` — unique per session for the JVM's life, so a
    * stopped-then-GC'd session can never collide a new session onto a
    * DataFrame bound to the dead one (identityHashCode could).
    */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def blockedRelation(spark: SparkSession, path: String): DataFrame =
    relationCache.computeIfAbsent(
      s"${graft.core.GraftSession.uuid(spark)}|$path",
      _ => spark.read.parquet(path))

  /** Test probe (r18): whether any session holds a cached relation for
    * `path` — pins [[appendIvf4]]'s committed-token fast path, which must
    * NOT invalidate serving caches for a no-op replay.
    */
  private[graft] def relationCached(path: String): Boolean =
    relationCache.keySet().stream().anyMatch(_.endsWith(s"|$path"))

  /** Codebook sidecar, CRC32C-framed since r17 ([[graft.io.CheckedBlob]]:
    * a flipped float here skews every ADC score with no oracle in the
    * way). Legacy unframed files load through the fallback parse.
    */
  private[graft] def saveBooks(file: String, books: Codebooks): Unit =
    graft.io.CheckedBlob.write(file) { out =>
      out.writeInt(books.length)
      books.foreach { sub =>
        out.writeInt(sub.length)
        out.writeInt(if (sub.isEmpty) 0 else sub(0).length)
        sub.foreach(_.foreach(out.writeFloat))
      }
    }

  private[graft] def loadBooks(file: String): Option[Codebooks] =
    graft.io.CheckedBlob.read(file) { in =>
      val m = in.readInt()
      Array.fill(m) {
        val rows = in.readInt()
        val cols = in.readInt()
        Array.fill(rows)(Array.fill(cols)(in.readFloat()))
      }
    }

  /** Build (or fetch) an IVF-PQ index: coarse KMeans → residual = vec −
    * coarse centroid → per-subspace codebooks trained on residuals →
    * encode all rows → write partitioned by cluster_id. Exactly the
    * reference's build pipeline (`nvdb_ivfpq_build.cpp:98-129`), with
    * partition pruning standing in for inverted-list skipping. On-disk
    * artifacts (encoded table + coarse centroids + codebooks) are reused
    * across JVMs, like the reference's saved `.faiss` files. The coarse
    * quantizer is [[Ivf.coarse]]'s: shared with every other IVF-family
    * build of the same (cacheKey, nlist, ntrain, seed, columns).
    */
  def buildOrGet(spark: SparkSession, base: => DataFrame, cacheKey: String,
                 nlist: Int, m: Int, ksub: Int, ntrain: Int,
                 seed: Long = 42L, idCol: String = "id",
                 vecCol: String = "vec"): Index = {
    // |t6 versions the codebook trainer (graft Lloyd; see Ivf.buildOrGet)
    val key = s"$cacheKey|$nlist|$m|$ksub|$ntrain|$seed|t6"
    indexCache.computeIfAbsent(key, _ => {
      val path = s"target/pq_cache/${Ivf.cacheDigest(key)}"
      (Ivf.loadMatrix(s"$path.coarse.bin"), loadBooks(s"$path.books.bin")) match {
        case (Some(coarse), Some(books)) if new java.io.File(s"$path/_SUCCESS").isFile =>
          Index(coarse, books, path)
        case _ =>
          val coarse = Ivf.coarse(base, cacheKey, nlist, ntrain, seed, vecCol, idCol)
          val assigned = Ivf.assign(base, coarse, vecCol)
            .withColumn("residual", centroidResidual(col(vecCol), col("cluster_id"), coarse))
          val books = train(
            assigned.select(col(idCol), col("residual").as(vecCol)),
            m, ksub, ntrain, seed, vecCol, idCol)
          assigned
            .select(col(idCol), col("cluster_id"), pqEncode(col("residual"), books).as("codes"))
            .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
          Ivf.saveMatrix(s"$path.coarse.bin", coarse)
          saveBooks(s"$path.books.bin", books)
          Index(coarse, books, path)
      }
    })
  }

  /** [[searchFastScanIvf]] candidates → exact-L2 vector refine — the
    * IVF-fastscan operating point (J3 on candidates from probed cells
    * only; the IVF analog of the flat `searchFastScan` + refine pair).
    */
  /** Wrap a candidate-stage probe with a serve-time EXCLUSION set (r16
    * maintenance): a takedown must suppress rows NOW, between the
    * relational delete (an anti-join rewrite of the clustered table —
    * cheap, partition-parallel batch DDL) and the next code-table
    * rebuild. The anti-join runs on the candidate stage's bounded output
    * (≤ Q·kSearch rows vs a broadcast id list), so exclusion costs
    * nothing corpus-shaped; the refine budget's slack (refineK − k)
    * absorbs the suppressed slots, exactly like the HNSW tombstones'
    * ef slack. Empty set → the identical unwrapped plan.
    */
  private def withExclusions(spark: SparkSession, excludeIds: Array[Long],
                             probe: Int => DataFrame): Int => DataFrame =
    if (excludeIds.isEmpty) probe
    else {
      import spark.implicits._
      val excl = broadcast(excludeIds.toSeq.toDF("id"))
      kk => probe(kk).join(excl, Seq("id"), "left_anti")
    }

  def searchFastScanIvfRefined(base: DataFrame, idx: Index,
                               queries: DataFrame, nprobe: Int, k: Int,
                               refineK: Int, idCol: String = "id",
                               vecCol: String = "vec",
                               excludeIds: Array[Long] = Array.empty): DataFrame = {
    val spark = base.sparkSession
    require(excludeIds.isEmpty || refineK > k,
      s"exclusions need refine slack: refineK ($refineK) must exceed k ($k) " +
        "— at refineK <= k the probe's final top-k is filtered with no " +
        "backfill, returning short results with gapped ranks")
    refineAdc(base, queries, k, refineK,
      withExclusions(spark, excludeIds,
        kk => searchFastScanIvf(idx, spark, queries, nprobe, kk)),
      idCol, vecCol)
  }

  /** The union of coarse cells the fastscan probe touches for this query
    * batch — driver-bounded (≤ Q × nprobe distinct ids), computed with
    * the SAME selection kernel [[searchFastScanIvf]] uses
    * ([[graft.functions.expressions.CentroidOps.topNprobeF]]), so the set
    * is exactly the candidate stage's.
    */
  def probedCells(coarse: Array[Array[Float]], queries: DataFrame,
                  nprobe: Int): Array[Int] =
    probedCellsOf(coarse, collectQueryVecs(queries).map(_._2), nprobe)

  private def probedCellsOf(coarse: Array[Array[Float]],
                            qvecs: Array[Array[Float]],
                            nprobe: Int): Array[Int] = {
    import graft.functions.expressions.CentroidOps
    val np = math.min(nprobe, coarse.length)
    qvecs.flatMap(CentroidOps.topNprobeF(_, coarse, np)).distinct.sorted
  }

  /** [[searchFastScanIvfRefined]] with the refine FETCH pruned to the
    * probed cells: `clustered` is a full-precision table partitioned by
    * the SAME coarse assignment as the index (e.g. `Ivf.buildOrGet` on
    * the same (base, nlist, ntrain, seed) — the trainer is deterministic,
    * so the two coarse quantizers are identical), and the probed-cell
    * union goes into the scan as a partition-column IN predicate.
    *
    * Why this exists (r13, measured at 3M×384d): the flat flavor's refine
    * streams the ENTIRE base against the broadcast candidates — a
    * 4.6 GB corpus scan that flattened the probe wall at ~1.4 s no
    * matter how far nlist pruned the fastscan stage (nlist 1024 → 4096
    * cut candidate-stage bytes 4× and moved the wall nothing). Every
    * candidate id comes from a probed cell by construction, so the
    * pruned fetch provably contains every candidate — results are
    * IDENTICAL to the flat flavor (Pq4Spec gates equality and the
    * partition-filter plan shape) while the fetch reads ~Q·nprobe/nlist
    * of the corpus instead of all of it: the FAISS refine-index shape
    * (codes + original vectors, both inverted-list-pruned).
    *
    * Takes the clustered table's [[Ivf.Index]] (not a bare DataFrame) so
    * the same-quantizer contract is CHECKED at runtime: a clustered table
    * partitioned by a different coarse assignment would silently drop
    * candidates absent from the pruned fetch — the one failure mode of
    * this flavor, and a realistic one across artifacts built under
    * different trainer versions.
    */
  def searchFastScanIvfRefinedClustered(clusteredIdx: Ivf.Index, idx: Index,
                                        queries: DataFrame, nprobe: Int,
                                        k: Int, refineK: Int,
                                        idCol: String = "id",
                                        vecCol: String = "vec",
                                        excludeIds: Array[Long] = Array.empty): DataFrame = {
    val nlist = idx.coarse.length
    require(excludeIds.isEmpty || refineK > k,
      s"exclusions need refine slack: refineK ($refineK) must exceed k ($k) " +
        "— at refineK <= k the probe's final top-k is filtered with no " +
        "backfill, returning short results with gapped ranks")
    require(clusteredIdx.centroids.length == nlist &&
      clusteredIdx.centroids.zip(idx.coarse).forall { case (a, b) => a.sameElements(b) },
      s"clustered table's coarse quantizer (nlist=${clusteredIdx.centroids.length}) " +
        s"differs from the fastscan index's (nlist=$nlist): a pruned fetch under a " +
        "mismatched partitioning silently drops refine candidates. Build both " +
        "artifacts from the same (base, nlist, ntrain, seed) under the same " +
        "trainer version — the trainer is deterministic, so identical inputs " +
        "give bitwise-identical quantizers.")
    val spark = queries.sparkSession
    // collect the query batch ONCE for cell pruning AND the probe (r17 —
    // this path used to run two identical collect jobs per call)
    val qArr = collectQueryVecs(queries)
    val cells = probedCellsOf(idx.coarse, qArr.map(_._2), nprobe)
    val clustered = clusteredIdx.clustered(spark)
    // Past ~nlist/2 probed cells (possible at large Q·nprobe) the IN-list
    // predicate degenerates into a giant filter over nearly every
    // partition; the unpruned fetch is then the better plan — identical
    // results, the flat flavor's scan. The absolute floor (512) keeps the
    // fallback off small fixtures where even an all-cells IN is trivial.
    val fetch =
      if (cells.length >= 512 && cells.length * 2 >= nlist)
        clustered.select(col(idCol), col(vecCol))
      else
        clustered.filter(col("cluster_id").isin(cells.map(c => c: Any): _*))
          .select(col(idCol), col(vecCol))
    refineAdc(fetch, queries, k, refineK,
      withExclusions(spark, excludeIds,
        kk => searchFastScanIvfCollected(idx, spark, qArr, nprobe, kk)),
      idCol, vecCol, qArr = Some(qArr))
  }

  /** Build (or fetch) the IVF-fastscan index: coarse KMeans → residual
    * 4-bit codebooks (ksub=16) → encode → cluster-partitioned blocked
    * nibble table ([[graft.io.QuantizedTables.writePq4BlockedClustered]]).
    * Same artifact discipline and shared [[Ivf.coarse]] quantizer as
    * [[buildOrGet]]; serves [[searchFastScanIvf]].
    */
  def buildOrGetIvf4(spark: SparkSession, base: => DataFrame, cacheKey: String,
                     nlist: Int, m4: Int, ntrain: Int, seed: Long = 42L,
                     idCol: String = "id", vecCol: String = "vec"): Index = {
    val key = s"$cacheKey|ivf4|$nlist|$m4|16|$ntrain|$seed|t6"
    indexCache.computeIfAbsent(key, _ => {
      val path = s"target/pq4_cache/${Ivf.cacheDigest(key)}"
      (Ivf.loadMatrix(s"$path.coarse.bin"), loadBooks(s"$path.books.bin")) match {
        case (Some(coarse), Some(books)) if new java.io.File(s"$path/_SUCCESS").isFile =>
          Index(coarse, books, path)
        case _ =>
          val coarse = Ivf.coarse(base, cacheKey, nlist, ntrain, seed, vecCol, idCol)
          val assigned = Ivf.assign(base, coarse, vecCol)
            .withColumn("residual",
              centroidResidual(col(vecCol), col("cluster_id"), coarse))
          val books = train(
            assigned.select(col(idCol), col("residual").as(vecCol)),
            m4, 16, ntrain, seed, vecCol, idCol)
          graft.io.QuantizedTables.writePq4BlockedClustered(
            assigned.select(col(idCol), col("cluster_id"),
              pqEncode(col("residual"), books).as("codes")),
            path, idCol = idCol)
          Ivf.saveMatrix(s"$path.coarse.bin", coarse)
          saveBooks(s"$path.books.bin", books)
          Index(coarse, books, path)
      }
    })
  }

  /** Append a batch to an IVF-fastscan index's blocked code table under
    * the FROZEN coarse quantizer and codebooks — the PQ half of
    * incremental index maintenance (r16; the graph half is
    * [[Hnsw.upsertWarmed]], the flat half [[Ivf.appendClustered]]).
    * FAISS's add-after-train split: arriving rows assign to their coarse
    * cell, encode against the frozen residual books, and land as new
    * blocked rows INSIDE the touched cluster_id partitions (block groups
    * are row-local — the pq4 blob carries its own length — so appended
    * blocks integrate with partition pruning and the register kernel
    * unchanged; re-training stays an offline DDL decision). Scores of
    * appended rows are bit-identical to a from-scratch encode of the
    * union under the same books (same expressions), so probe results
    * over the grown table equal a rebuilt table's (Pq4Spec gates it).
    *
    * Keep the refine table in step: append the same batch to the
    * clustered full-precision table ([[Ivf.appendClustered]]) BEFORE
    * serving [[searchFastScanIvfRefinedClustered]], or its pruned fetch
    * will miss the new candidates' vectors. Warm serving images over
    * this index are stale after an append — [[invalidateLocal]] then
    * re-[[warmLocalIvf4]]. For streams, wrap in `foreachBatch` with the
    * batchId as `token` (parquet append into partition dirs is not
    * transactional by itself; the flat family's exactly-once file-sink
    * path is [[graft.streaming.IndexStream.appendStream]]).
    *
    * `token` (r17) turns on the CRASH-SAFE protocol: the encoded batch
    * stages and commits through [[graft.io.StagedAppend]], so a crash at
    * any point leaves the old table generation servable and a RE-CALL
    * with the same token recovers (idempotent skip / replay) — no
    * manual cache wiping. `token = null` keeps the direct in-place
    * append for one-shot scratch artifacts that rebuild from scratch on
    * failure anyway (the bench's temp-dir copies); a maintained
    * production artifact should always pass a token.
    *
    * Returns the number of rows appended (the recorded count when the
    * token was already committed).
    */
  def appendIvf4(idx: Index, rows: DataFrame, idCol: String = "id",
                 vecCol: String = "vec", token: String = null): Long = {
    // Idempotent-skip fast path (r18): a token committed by an EARLIER
    // call moved no files now, so serving relation caches stay valid —
    // skipping both the batch plan construction and the invalidation
    // below. Without this, every replayed maintenance call (the a17
    // oracle's per-execution shape, a stream's restarted batch) forced
    // each session to re-list the partitioned table — measured 1.66 s at
    // nlist=1024 — for a no-op append.
    if (token != null) {
      val pre = graft.io.StagedAppend.committedCount(idx.path, token)
      if (pre.isDefined) return pre.get
    }
    val batch = rows.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"))
    lazy val encoded = {
      val assigned = Ivf.assign(batch, idx.coarse)
        .withColumn("residual",
          centroidResidual(col("vec"), col("cluster_id"), idx.coarse))
      assigned.select(col("id"), col("cluster_id"),
        pqEncode(col("residual"), idx.books).as("codes"))
    }
    val n =
      if (token == null) {
        val n0 = batch.count()
        graft.io.QuantizedTables.writePq4BlockedClustered(
          encoded, idx.path, mode = "append")
        n0
      } else
        graft.io.StagedAppend.run(idx.path, token, batch.count()) { stage =>
          graft.io.QuantizedTables.writePq4BlockedClustered(encoded, stage)
        }
    // the grown table must re-list its files in every session (also on a
    // replayed commit: the moves may have completed just now)
    Ivf.relist(relationCache, idx.path)
    n
  }

  /** JVM-local image of an IVF-fastscan index for in-process serving:
    * per-cell (ids, nibble blob) plus an id-sorted full-precision vector
    * store for the exact refine. At 1M×384d this is ~48 MB of codes +
    * ~1.5 GB of f32 rows — an executor's corpus shard, the same
    * residency [[Hnsw.searchLocal]]'s graph cache assumes.
    */
  private final class LocalIvf4(
      // per cell, EVERY blocked segment (ids, packed nibble blob): the
      // stored table carries one row per (cell, 128-row block), so any
      // cell past the block size — every cell at production scale, and
      // every appendIvf4-touched cell — has several. (r16 fix: the warm
      // previously kept ONE row per cell via HashMap.put overwrite,
      // silently serving a fraction of each multi-block cell; the
      // fixture cells all fit one block, so only the 1M latency rows —
      // never recall-gated on the local tier — saw it.)
      val cellSegs: java.util.HashMap[Integer, Array[(Array[Long], Array[Byte])]],
      val vecIds: Array[Long], val vecs: Array[Array[Float]])

  private val localCache =
    new java.util.concurrent.ConcurrentHashMap[String, LocalIvf4]()

  /** Load (once per JVM) the serving image for `idx` under `cacheKey`:
    * the cluster-partitioned nibble table and the full-precision base
    * rows (id-sorted for binary-search refine lookups). Call before
    * [[searchLocalIvf4]] — a serving deployment pays this at executor
    * start, exactly like the HNSW graph warm-up.
    */
  def warmLocalIvf4(spark: SparkSession, idx: Index, cacheKey: String,
                    base: DataFrame, idCol: String = "id",
                    vecCol: String = "vec"): Unit = {
    localCache.computeIfAbsent(cacheKey, _ => {
      val segs = new java.util.HashMap[Integer,
        collection.mutable.ArrayBuffer[(Array[Long], Array[Byte])]]()
      blockedRelation(spark, idx.path)
        .select(col("cluster_id"), col("ids"), col("codes"))
        .collect().foreach { r =>
          val cell = Integer.valueOf(r.getInt(0))
          var b = segs.get(cell)
          if (b == null) {
            b = collection.mutable.ArrayBuffer
              .empty[(Array[Long], Array[Byte])]
            segs.put(cell, b)
          }
          b += ((r.getSeq[Long](1).toArray, r.getAs[Array[Byte]](2)))
        }
      val cellSegs =
        new java.util.HashMap[Integer, Array[(Array[Long], Array[Byte])]]()
      segs.forEach((cell, b) => cellSegs.put(cell, b.toArray))
      // the full-precision store streams partition-by-partition
      // (toLocalIterator): a corpus-sized collect() serializes every task
      // result into ONE job and trips spark.driver.maxResultSize at 1M×384d
      // (measured: 1028 MiB vs the 1 GiB default) — the image is the same,
      // the fetch is one job per partition
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      base.select(col(idCol).cast("long"), col(vecCol))
        .toLocalIterator().forEachRemaining { r =>
          buf += ((r.getLong(0), r.getSeq[Float](1).toArray))
        }
      val rows = buf.sortBy(_._1).toArray
      new LocalIvf4(cellSegs, rows.map(_._1), rows.map(_._2))
    })
    ()
  }

  /** Drop a warmed serving image (index-generation retirement). */
  def invalidateLocal(cacheKey: String): Unit = { localCache.remove(cacheKey); () }

  /** Whether a warmed ivf4 serving image exists under `cacheKey` — the
    * loud-on-cold check the SQL serving surface makes before resolving
    * to [[searchLocalIvf4]].
    */
  def warmedLocal(cacheKey: String): Boolean = localCache.containsKey(cacheKey)

  /** In-process IVF-fastscan + exact-refine serve for a JVM holding the
    * warmed image — the per-query latency tier of [[searchFastScanIvf]],
    * the PQ analogue of [[Hnsw.searchLocal]]. No Spark job: the coarse
    * route, the per-cell residual register LUTs, the nibble-group scan
    * with per-cell quantized reservoirs, the float-ADC re-rank, and the
    * exact-L2 refine all run on the calling thread. Candidate selection
    * shares the reservoir with [[searchFastScanIvf]] (same bound and
    * (quantized score, id) policy, same float re-rank, same global
    * (score, id) top-refineK), and the refine replays [[Search.refine]]'s
    * l2Sq ranking — results are IDENTICAL to
    * [[searchFastScanIvfRefined]] for the same arguments (Pq4Spec gates
    * it; the identity needs refineK > k, hence the require — at
    * refineK == k the Spark twin skips its refine and returns ADC
    * scores, while this path always refines). The identity also assumes
    * each cluster's blocked rows land in ONE input partition on the
    * Spark side — [[blockedRelation]]'s layout contract (one blob row
    * per cell); a cell split across partitions would widen the Spark
    * side's candidate pool to a superset of the local reservoir's.
    *
    * Order contract: both cuts — the float-ADC pool of max(refineK, k)
    * and the exact-L2 top-k — rank by `java.lang.Double.compare` on the
    * score, then id ascending (`LocalTopK`): -0.0 before 0.0, NaN
    * last with NaN ties by id, so a NaN or all-+Inf query still returns
    * k ids in ascending order. There is no sort over the pool: each
    * reservoir survivor is scored as it enters a bounded heap, and
    * sorting the ~nprobe × 2·refineK survivors with boxed tuple keys
    * cost ~2 MB of garbage and most of the CPU per query at the perfbench
    * shape (nprobe 8, refineK 100). Serve-time exclusions (the Spark
    * flavors' excludeIds twin) drop AFTER the pool cut — the distributed
    * anti-join filters the candidate stage's top-kSearch output, so the
    * local tier must too for the a15-style equality to hold.
    * Returns ≤ k (id, l2sq) pairs, best-first.
    */
  def searchLocalIvf4(qvec: Array[Float], idx: Index, cacheKey: String,
                      nprobe: Int, k: Int, refineK: Int = 100,
                      exclude: Long => Boolean = null): Array[(Long, Double)] = {
    import graft.functions.expressions.{CentroidOps, VectorKernels}
    val m4 = requirePq4(idx.books)
    val img = localCache.get(cacheKey)
    require(img != null,
      s"no warmed ivf4 serving image under '$cacheKey' — call warmLocalIvf4 first")
    require(refineK > k, // the Spark twin skips the refine at refineK <= k
      s"searchLocalIvf4 always refines: need refineK ($refineK) > k ($k)")
    val coarse = idx.coarse
    val kSearch = math.max(refineK, k)
    val c = candidateBound(0, kSearch)
    // global candidate pool: the rows the Spark path's top-k merge sees
    val pool = new LocalTopK(kSearch)
    val probes = CentroidOps.topNprobeF(qvec, coarse, nprobe)
    var p = 0
    while (p < probes.length) {
      val cell = probes(p)
      val cellSegs = img.cellSegs.get(Integer.valueOf(cell))
      if (cellSegs != null) {
        val (lutF, tab) = residualTables(qvec, coarse(cell), idx.books)
        // every blocked SEGMENT of this cell streams through the one
        // per-cell reservoir
        val res = new Pq4Reservoir(c, m4)
        var si = 0
        while (si < cellSegs.length) {
          res.scan(cellSegs(si)._1, cellSegs(si)._2, tab)
          si += 1
        }
        // float-ADC re-rank with this cell's exact LUT into the pool
        var i = 0
        while (i < res.n) {
          pool.offer(res.ids(i), res.adc(i, lutF))
          i += 1
        }
      }
      p += 1
    }
    // exact-L2 refine of the pool's non-excluded ids over the
    // full-precision store
    val top = new LocalTopK(k)
    var j = 0
    while (j < pool.n) {
      val id = pool.ids(j)
      if (exclude == null || !exclude(id)) {
        val vi = java.util.Arrays.binarySearch(img.vecIds, id)
        require(vi >= 0, s"candidate id $id missing from the vector store")
        top.offer(id, VectorKernels.l2Sq(qvec, img.vecs(vi)))
      }
      j += 1
    }
    top.bestFirst()
  }

  /** Bounded best-`cap` selection of (id, score) pairs, smallest first,
    * in the order Scala's default `(Double, Long)` tuple sort gives:
    * `java.lang.Double.compare` on the score, then id ascending. Not
    * [[TopKAggregator]]'s IEEE compare, which orders NaN differently. A
    * primitive max-heap keeps the worst survivor at the root, so a
    * losing candidate costs one compare and a replacement log(cap).
    */
  private final class LocalTopK(cap: Int) {
    val ids = new Array[Long](cap)
    private val scores = new Array[Double](cap)
    var n = 0

    // (s1, id1) ranks after (s2, id2)
    private def after(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
      val o = java.lang.Double.compare(s1, s2)
      o > 0 || (o == 0 && id1 > id2)
    }

    def offer(id: Long, s: Double): Unit =
      if (n < cap) {
        var i = n
        n += 1
        while (i > 0 && after(s, id, scores((i - 1) >> 1), ids((i - 1) >> 1))) {
          val up = (i - 1) >> 1
          ids(i) = ids(up); scores(i) = scores(up)
          i = up
        }
        ids(i) = id; scores(i) = s
      } else if (n > 0 && after(scores(0), ids(0), s, id)) sink(id, s, n)

    // fill the root's hole with (id, s), sifting down within [0, len)
    private def sink(id: Long, s: Double, len: Int): Unit = {
      var i = 0
      var c = 1
      while (c < len) {
        if (c + 1 < len && after(scores(c + 1), ids(c + 1), scores(c), ids(c)))
          c += 1
        if (after(scores(c), ids(c), s, id)) {
          ids(i) = ids(c); scores(i) = scores(c)
          i = c
          c = 2 * i + 1
        } else c = len
      }
      ids(i) = id; scores(i) = s
    }

    /** The survivors best-first (heap sort; the selector is spent). */
    def bestFirst(): Array[(Long, Double)] = {
      var end = n - 1
      while (end > 0) {
        val id = ids(end); val s = scores(end)
        ids(end) = ids(0); scores(end) = scores(0)
        sink(id, s, end)
        end -= 1
      }
      Array.tabulate(n)(i => (ids(i), scores(i)))
    }
  }

  /** IVF-PQ probe: per query, nprobe nearest coarse cells; per (query,
    * cell) an ADC LUT over the RESIDUAL query (q − centroid); score only
    * rows in probed cells (partition-pruned join), top-k ascending L2.
    */
  def ivfpqSearch(idx: Index, spark: SparkSession, queries: DataFrame,
                  nprobe: Int, k: Int, idCol: String = "id"): DataFrame =
    ivfpqSearchOn(idx.encoded(spark), idx.coarse, idx.books, queries,
      nprobe, k, idCol)

  /** [[ivfpqSearch]] over an explicit row-wise (cluster_id, id, codes)
    * table — the oracle flavor Pq4Spec runs against an IVF-fastscan index
    * (whose stored table is the BLOCKED layout, not row-wise).
    */
  def ivfpqSearchOn(encoded: DataFrame, coarse: Array[Array[Float]],
                    books: Codebooks, queries: DataFrame,
                    nprobe: Int, k: Int, idCol: String = "id"): DataFrame = {
    // Pruning here is RUNTIME DPP, deliberately (re-checked r18): unlike
    // Ivf.search's probe (where DPP never fired and the static IN was the
    // r13 fix), this broadcast join DOES get a
    // dynamicpruningexpression(cluster_id IN ...) partition filter — the
    // plan evidence is in plans/r18/a3_pq_recall_before.txt. A static
    // driver-routed INSET variant was built and measured this round: it
    // adds one query-collect job per execution and read slightly WORSE at
    // fixture scale with no pruning it didn't already have. Rejected.
    val probed = queries.select(col("qid"), col("qvec"),
      explode(Ivf.nearestCentroids(col("qvec"), coarse, nprobe)).as("cluster_id"))
      .select(col("qid"), col("cluster_id"),
        pqLut(centroidResidual(col("qvec"), col("cluster_id"), coarse),
          books, l2 = true).as("lut"))
    val scored = encoded
      .join(broadcast(probed), Seq("cluster_id"))
      .select(col("qid"), col(idCol).as("gid"),
        pqAdc(col("codes"), col("lut")).as("score"))
    TopK.perGroup(scored, "qid", "gid", "score", k, larger = false)
  }
}
