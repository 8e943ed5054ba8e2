package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Similarity metric for vector search. Dot and Cosine rank descending;
  * L2 ranks ascending. On L2-normalized vectors Dot-ranking == L2-ranking
  * (`/root/reference/apps/nvdb_gt_build.cpp:27-29`).
  */
sealed trait Metric { def larger: Boolean }
object Metric {
  case object Dot extends Metric { val larger = true }
  case object Cosine extends Metric { val larger = true }
  case object L2 extends Metric { val larger = false }
}

/** One partition's top-k state for a multi-query scan: one
  * [[TopKAggregator]] buffer per query slot, the reference's thread-local
  * `TopKBuffer`s (`src/flat_index_omp.cpp:36-75`). Slot `s` emits its
  * kept (id, score) pairs labelled `labels(s)`.
  */
private[ops] final class TopKSlots(labels: Array[Long], k: Int, larger: Boolean) {
  private val agg = new TopKAggregator(k, larger)
  private val bufs = Array.fill(labels.length)(agg.zero)

  def offer(slot: Int, id: Long, score: Double): Unit = agg.consider(bufs(slot), id, score)

  /** `scores(s)` into slot `s`, for every slot. */
  def offerAll(id: Long, scores: Array[Double]): Unit = {
    var s = 0
    while (s < bufs.length) { agg.consider(bufs(s), id, scores(s)); s += 1 }
  }

  def partials: Iterator[(Long, Long, Double)] =
    bufs.iterator.zipWithIndex.flatMap { case (b, s) =>
      (0 until b.n).iterator.map(i => (labels(s), b.ids(i), b.scores(i)))
    }
}

/** Exact and candidate-based vector search — the reference's flagship
  * pipelines (`apps/nvdb_bench.cpp`, `apps/nvdb_gt_build.cpp`,
  * `apps/nvdb_ivf_eval.cpp:278-307`) re-expressed as Spark plans.
  *
  * Scale shape: queries are the small side and are ALWAYS broadcast; the
  * base table streams through executors exactly once per job (no shuffle of
  * the base), and per-query top-k state reduces map-side, so the only data
  * movement is Q×k buffers per partition — the same
  * "threads share the scan, merge at the end" design as the reference.
  */
object Search {

  private def scoreCol(metric: Metric, vec: String, qvec: String) = metric match {
    case Metric.Dot    => VectorFunctions.dot(col(vec), col(qvec))
    case Metric.Cosine => VectorFunctions.cosine(col(vec), col(qvec))
    case Metric.L2     => VectorFunctions.l2Sq(col(vec), col(qvec))
  }

  /** Exact flat-scan top-k for every query: broadcast nested-loop join of
    * base × queries + codegen score + map-side-combining top-k.
    *
    * base: (idCol, vecCol); queries: (qidCol, qvecCol).
    * Returns (qid, id, score, rank).
    */
  def exactTopK(base: DataFrame, queries: DataFrame, k: Int, metric: Metric = Metric.Dot,
                idCol: String = "id", vecCol: String = "vec",
                qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val scored = base
      .crossJoin(broadcast(queries))
      .select(col(qidCol).as("qid"), col(idCol).as("gid"),
        scoreCol(metric, vecCol, qvecCol).as("score"))
    TopK.perGroup(scored, "qid", "gid", "score", k, metric.larger)
      .withColumnRenamed("qid", qidCol)
  }

  /** Exact flat-scan top-k (J2 + K2, `apps/nvdb_bench.cpp:47-159`): the
    * query batch is collected once, the base streams ONCE, and each
    * row scores all queries in a tight loop (`BatchScore.scoreAll`,
    * register-tiled 4 queries per row pass) straight into per-partition
    * top-k buffers — see [[scanTopK]]. Scores are bitwise the per-pair
    * kernels', so rows equal [[exactTopK]]'s (ScaleSpec, ExactScanSpec).
    * A row whose vector is null is skipped.
    */
  def exactTopKFused(base: DataFrame, queries: DataFrame, k: Int,
                     metric: Metric = Metric.Dot,
                     idCol: String = "id", vecCol: String = "vec",
                     qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import graft.functions.expressions.BatchScore
    val (qids, qvecs) = collectQueries(queries, qidCol, qvecCol)
    val mcode = metric match {
      case Metric.Dot => BatchScore.MDot
      case Metric.L2 => BatchScore.ML2
      case Metric.Cosine => BatchScore.MCos
    }
    scanTopK[(Long, Array[Float])](base.select(col(idCol), col(vecCol)),
        qids, k, metric.larger, qidCol) { (it, top) =>
      val row = new Array[Double](qvecs.length)
      while (it.hasNext) {
        val (id, v) = it.next()
        if (v != null) { BatchScore.scoreAll(v, qvecs, mcode, row); top.offerAll(id, row) }
      }
    }
  }

  /** The query batch as (qids, query matrix). The matrix has one dim —
    * the batched kernels tile four queries over the first query's length
    * (`BatchScore`), so a ragged batch fails here.
    */
  private def collectQueries(queries: DataFrame, qidCol: String,
                             qvecCol: String): (Array[Long], Array[Array[Float]]) = {
    import graft.functions.expressions.VectorKernels
    val q = queries.select(col(qidCol), col(qvecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    q.foreach(r => VectorKernels.requireDim("query batch", r._2.length, q(0)._2.length))
    (q.map(_._1), q.map(_._2))
  }

  /** The one exact-scan plan, the reference's thread design
    * (`apps/nvdb_bench.cpp:124-129`, `src/flat_index_omp.cpp:36-75`):
    * each partition keeps one O(k) buffer per query slot ([[TopKSlots]],
    * the `TopKAggregator.consider` policy), `scan` feeds it every
    * (row, slot) score, the partition emits only slots×k rows, and
    * `TopK.perGroup` merges them — the Q×N (row, query) stream never
    * materializes. Slot `s` is labelled `qids(s)`. Returns
    * (qidCol, id, score, rank). Callers own only the scoring loop.
    *
    * The declared `mapPartitions` exception: per-partition imperative
    * state across rows, which no Expression/Aggregate composition can
    * express without materializing the Q×N stream.
    */
  private[ops] def scanTopK[T <: Product : TypeTag](rows: DataFrame, qids: Array[Long],
                                                    k: Int, larger: Boolean,
                                                    qidCol: String = "qid")(
      scan: (Iterator[T], TopKSlots) => Unit): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val partials = rows.as(Encoders.product[T]).mapPartitions { it =>
      val top = new TopKSlots(qids, k, larger)
      scan(it, top)
      top.partials
    }
    TopK.perGroup(partials.toDF("qid", "gid", "score"),
      "qid", "gid", "score", k, larger)
      .withColumnRenamed("qid", qidCol)
  }

  /** [[scanTopK]] over (id, scores-per-query) rows whose scores a
    * codegen batch expression already computed; a null scores array (a
    * null input vector) is skipped.
    */
  private[ops] def scoredTopK(scored: DataFrame, qids: Array[Long], k: Int,
                              larger: Boolean, qidCol: String): DataFrame =
    scanTopK[(Long, Array[Double])](scored, qids, k, larger, qidCol) { (it, top) =>
      while (it.hasNext) {
        val (id, s) = it.next()
        if (s != null) top.offerAll(id, s)
      }
    }

  /** Exact top-k over an fp16-bits base — [[exactTopKFused]]'s plan over
    * the F2 kernel: each row decodes ONCE inside whole-stage codegen
    * (`BatchScore.scoreAllHalf`, bitwise the per-pair `dotHalf`) and the
    * per-query scores feed [[scoredTopK]]. Dot metric. Wall time tracks
    * stored bytes/vector (f32 > f16 > i8, `Performance.md:242-255`).
    */
  def exactTopKFusedHalf(hbase: DataFrame, queries: DataFrame, k: Int,
                         idCol: String = "id", bitsCol: String = "hbits",
                         qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    import graft.functions.expressions.{BatchScoresHalf, BatchScoresHalfBin}
    val (qids, qvecs) = collectQueries(queries, qidCol, qvecCol)
    // dtype dispatch: BINARY (LE-packed, QuantizedTables' packed flavor —
    // per-byte scan decode) vs array<smallint>; scores bitwise-identical
    val scores =
      if (hbase.schema(bitsCol).dataType == BinaryType)
        Bridge.column(BatchScoresHalfBin(Bridge.expression(col(bitsCol)), qvecs))
      else Bridge.column(BatchScoresHalf(Bridge.expression(col(bitsCol)), qvecs))
    scoredTopK(hbase.select(col(idCol).cast("long"), scores.as("scores")),
      qids, k, larger = true, qidCol)
  }

  /** Exact top-k over an int8+scale base (F3 kernel) — see
    * [[exactTopKFusedHalf]].
    */
  def exactTopKFusedI8(qbase: DataFrame, queries: DataFrame, k: Int,
                       idCol: String = "id", codesCol: String = "codes",
                       scaleCol: String = "scale",
                       qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    import graft.functions.expressions.{BatchScoresI8, BatchScoresI8Bin}
    val (qids, qvecs) = collectQueries(queries, qidCol, qvecCol)
    val scores =
      if (qbase.schema(codesCol).dataType == BinaryType)
        Bridge.column(BatchScoresI8Bin(
          Bridge.expression(col(codesCol)), Bridge.expression(col(scaleCol)), qvecs))
      else Bridge.column(BatchScoresI8(
        Bridge.expression(col(codesCol)), Bridge.expression(col(scaleCol)), qvecs))
    scoredTopK(qbase.select(col(idCol).cast("long"), scores.as("scores")),
      qids, k, larger = true, qidCol)
  }

  /** Fused scan over a BLOCK-PACKED table (`QuantizedTables.write*Blocked`
    * — up to 128 id-sorted vectors per stored row, one contiguous payload
    * blob): per-stored-row plan overhead (parquet row assembly,
    * expression eval, encoder) amortizes over the whole block, which at
    * 1M×384d was ~10× the kernel cost of the row-wise scans. Inside a
    * block this is exactly the reference's contiguous payload walk
    * (`src/vector_dataset.cpp:121-151` — `vectors + i*dim` pointer
    * arithmetic as blob offsets). Dot metric (the storage-ladder scan);
    * per-vector decode math is bitwise-identical to the per-row kernels,
    * so ranks equal every other flavor (SearchSpec gates it).
    *
    * Layout dispatch by schema: (ids, vecs) f32 / (ids, bits) f16 /
    * (ids, codes, scales) i8.
    */
  def exactTopKFusedBlocked(blocked: DataFrame, queries: DataFrame, k: Int,
                            qidCol: String = "qid",
                            qvecCol: String = "qvec"): DataFrame = {
    import graft.functions.expressions.BatchScore
    val (qids, qvecs) = collectQueries(queries, qidCol, qvecCol)
    val fields = blocked.schema.fieldNames.toSet
    // one block walk for every layout: `score(block, r, out)` scores the
    // block's r-th vector against all queries
    def blocks[T <: Product : TypeTag](cols: String*)(idsOf: T => Array[Long])(
        score: (T, Int, Array[Double]) => Unit): DataFrame =
      scanTopK[T](blocked.select(cols.map(col): _*), qids, k, larger = true,
          qidCol) { (it, top) =>
        val row = new Array[Double](qvecs.length)
        while (it.hasNext) {
          val block = it.next()
          val ids = idsOf(block)
          var r = 0
          while (r < ids.length) { score(block, r, row); top.offerAll(ids(r), row); r += 1 }
        }
      }
    if (fields("scales"))
      blocks[(Array[Long], Array[Byte], Array[Float])]("ids", "codes", "scales")(_._1) {
        case ((ids, blob, scales), r, out) =>
          val stride = blob.length / ids.length
          BatchScore.scoreAllI8Slice(blob, r * stride, stride, scales(r), qvecs, out)
      }
    else if (fields("bits"))
      blocks[(Array[Long], Array[Byte])]("ids", "bits")(_._1) {
        case ((ids, blob), r, out) =>
          val stride = blob.length / ids.length
          BatchScore.scoreAllHalfSlice(blob, r * stride, stride / 2, qvecs, out)
      }
    else
      blocks[(Array[Long], Array[Byte])]("ids", "vecs")(_._1) {
        case ((ids, blob), r, out) =>
          val stride = blob.length / ids.length
          BatchScore.scoreAllF32Slice(blob, r * stride, stride / 4, qvecs, out)
      }
  }

  /** Radius (range) search — every base row within `radius` of each query
    * (FAISS's `range_search` API shape; the reference exposes only top-k,
    * so this is additive). Ranking metrics keep rows scoring AT LEAST the
    * threshold (dot/cosine); distance metrics keep rows AT MOST it (L2).
    *
    * Boundary divergence from FAISS, deliberate: FAISS's `range_search`
    * uses STRICT inequalities (L2 `d < radius`, IP `d > radius`); here the
    * threshold is INCLUSIVE (>= / <=) — the SQL-predicate convention the
    * v10 DuckDB oracle shares. Callers porting FAISS expectations should
    * pass the next-representable radius (or post-filter `score != radius`)
    * if exact-boundary rows must be excluded.
    *
    * Deliberately the fully declarative plan: broadcast queries × streamed
    * base, codegen score, map-side filter. No top-k state, no shuffle at
    * all — output volume is the only thing that grows with matches, which
    * is exactly the 100 TB shape (the filter rides inside the scan stage).
    */
  def rangeSearch(base: DataFrame, queries: DataFrame, radius: Double,
                  metric: Metric = Metric.L2,
                  idCol: String = "id", vecCol: String = "vec",
                  qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val scored = base
      .crossJoin(broadcast(queries))
      .select(col(qidCol).as("qid"), col(idCol).as("id"),
        scoreCol(metric, vecCol, qvecCol).as("score"))
    val keep =
      if (metric.larger) col("score") >= radius else col("score") <= radius
    scored.filter(keep)
  }

  /** Exact ground truth build (`apps/nvdb_gt_build.cpp:74-104`):
    * top-k ids per query as an ordered array → (qid, gt_ids).
    */
  def groundTruth(base: DataFrame, queries: DataFrame, k: Int,
                  metric: Metric = Metric.Dot): DataFrame =
    exactTopK(base, queries, k, metric)
      .groupBy("qid")
      .agg(sort_array(collect_list(struct(col("rank"), col("id")))).as("ranked"))
      .select(col("qid"), expr("transform(ranked, r -> r.id)").as("gt_ids"))

  /** BOTH-metric exact ground truth in ONE base scan (r18, guide §2.4 —
    * share the pass): (qid, dot_ids, l2_ids), each the metric's exact
    * top-k id array. The two-call shape scans (and scores) the base once
    * per metric; at any scale the GT build is a pure corpus-scan cost, so
    * fusing the metrics halves it.
    *
    * Identity with two [[groundTruth]] calls (SearchSpec gates it
    * element-exactly): scores come from the same batched kernels the
    * flat scan uses (`BatchScore.scoreAll` — bitwise-equal to the per-pair
    * kernels, ScaleSpec) through the same [[scanTopK]], and the L2 stream rides NEGATED through one
    * shared larger=true top-k — IEEE negation is exact and
    * [[TopKAggregator]]'s (score, id) tie-break is symmetric under it
    * (`-a > -b ⟺ a < b`; equal scores, incl. ±0.0, fall through to the
    * same id ordering), so the kept sets and ranks equal the
    * larger=false run on the raw distances.
    */
  def groundTruthBoth(base: DataFrame, queries: DataFrame, k: Int,
                      idCol: String = "id", vecCol: String = "vec",
                      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import graft.functions.expressions.BatchScore
    val (qids, qvecs) = collectQueries(queries, qidCol, qvecCol)
    val nq = qids.length
    require(nq > 0, "groundTruthBoth needs a non-empty query batch")
    // slot qpos ∈ [0, 2·nq): dot scores first, negated L2 after — one
    // top-k scan ranks all 2·nq (query, metric) slots in one pass
    val top = scanTopK[(Long, Array[Float])](base.select(col(idCol), col(vecCol)),
        Array.tabulate(2 * nq)(_.toLong), k, larger = true, "qpos") { (it, top) =>
      val dot = new Array[Double](nq)
      val l2 = new Array[Double](nq)
      while (it.hasNext) {
        val (id, v) = it.next()
        if (v != null) {
          BatchScore.scoreAll(v, qvecs, BatchScore.MDot, dot)
          BatchScore.scoreAll(v, qvecs, BatchScore.ML2, l2)
          var q = 0
          while (q < nq) { top.offer(q, id, dot(q)); top.offer(nq + q, id, -l2(q)); q += 1 }
        }
      }
    }
    top
      .select(
        element_at(typedLit(qids), pmod(col("qpos"), lit(nq)).cast("int") + 1).as(qidCol),
        (col("qpos") < nq).as("is_dot"), col("rank"), col("id"))
      .groupBy(qidCol)
      .agg(
        expr("transform(sort_array(collect_list(CASE WHEN is_dot THEN " +
          "struct(rank, id) END)), r -> r.id)").as("dot_ids"),
        expr("transform(sort_array(collect_list(CASE WHEN NOT is_dot THEN " +
          "struct(rank, id) END)), r -> r.id)").as("l2_ids"))
  }

  /** P5: fail-fast dim/shape validation, the analogue of the reference's
    * pre-scan checks (`apps/nvdb_search.cpp:20-24`,
    * `apps/nvdb_ivf_eval.cpp:343-347`): every base and query vector must
    * share one dimension. One cheap aggregate pass; call at pipeline
    * boundaries (index build, eval harness), not per query.
    */
  def requireSameDim(base: DataFrame, queries: DataFrame,
                     vecCol: String = "vec", qvecCol: String = "qvec"): Int = {
    val b = base.agg(min(size(col(vecCol))), max(size(col(vecCol)))).collect()(0)
    val q = queries.agg(min(size(col(qvecCol))), max(size(col(qvecCol)))).collect()(0)
    require(b.getInt(0) == b.getInt(1), s"ragged base dims ${b.getInt(0)}..${b.getInt(1)}")
    require(q.getInt(0) == q.getInt(1), s"ragged query dims ${q.getInt(0)}..${q.getInt(1)}")
    require(b.getInt(0) == q.getInt(0),
      s"dim mismatch: base ${b.getInt(0)} vs query ${q.getInt(0)}")
    b.getInt(0)
  }

  /** gtbin-style strict validation (S7): the reference refuses a cached GT
    * whose header/shape disagrees with the run
    * (`apps/nvdb_ivf_eval.cpp:360-383`); the Parquet analogue is a schema
    * check plus a uniform-k scan. Throws on mismatch.
    */
  def requireGroundTruth(gt: DataFrame, k: Int, nQueries: Long = -1L): Unit = {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val sch = gt.schema
    require(sch.fieldNames.sameElements(Array("qid", "gt_ids")),
      s"GT schema must be (qid, gt_ids), got ${sch.fieldNames.mkString(",")}")
    require(sch("qid").dataType == LongType, "qid must be long")
    require(sch("gt_ids").dataType.isInstanceOf[ArrayType] &&
      sch("gt_ids").dataType.asInstanceOf[ArrayType].elementType == LongType,
      "gt_ids must be array<long>")
    val counts = gt.agg(
      count(lit(1)).as("q"),
      count(when(size(col("gt_ids")) =!= k, 1)).as("bad")).collect()(0)
    require(counts.getLong(1) == 0, s"${counts.getLong(1)} GT rows lack k=$k ids")
    if (nQueries >= 0)
      require(counts.getLong(0) == nQueries,
        s"GT has ${counts.getLong(0)} queries, expected $nQueries")
  }

  /** Candidate re-rank (refine) join (`apps/nvdb_ivf_eval.cpp:278-307`):
    * exact-L2 re-rank of per-query candidate id lists against the base.
    *
    * candidates: (qid, qvec, cand_ids: array<long>). The explode + equi-join
    * on base id shuffles only Q×R candidate rows, not the base: at scale the
    * base side is bucketed by id so this is a co-located hash join.
    */
  def refine(base: DataFrame, candidates: DataFrame, k: Int,
             idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    // P4: drop sentinel/invalid candidate ids before the join — the
    // reference's validity filter (`apps/nvdb_ivf_eval.cpp:292-296,
    // 584-586`, sentinel 0xFFFFFFFF / id < 0). The equi-join would drop
    // them anyway, but filtering first keeps the shuffle free of them.
    val cand = candidates.select(col("qid"), col("qvec"),
      explode(col("cand_ids")).as("cand_id"))
      .filter(col("cand_id") >= 0)
    val scored = cand
      .join(base.select(col(idCol).as("cand_id"), col(vecCol).as("base_vec")), Seq("cand_id"))
      .select(col("qid"), col("cand_id"),
        VectorFunctions.l2Sq(col("base_vec"), col("qvec")).as("dist"))
    TopK.perGroup(scored, "qid", "cand_id", "dist", k, larger = false)
  }

  /** Write the base as a bucketed+sorted table: at 100 TB the refine
    * equi-join (J3) against a bucketed base shuffles ONLY the exploded
    * candidate rows — the base side reads its buckets in place (the
    * co-located join SURVEY §2.5 calls for). Bucket count should track
    * cluster size (e.g. 4096 at full scale).
    */
  def writeBucketedBase(base: DataFrame, table: String, buckets: Int = 256,
                        idCol: String = "id"): Unit =
    base.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, idCol).sortBy(idCol).saveAsTable(table)

  /** Recall@k vs ground truth (`apps/nvdb_ivf_eval.cpp:190-219,593`):
    * mean |GT ∩ predicted| / k over queries.
    *
    * pred: (qid, pred_ids); gt: (qid, gt_ids). Returns 1 row (mean_recall).
    */
  def recallAtK(pred: DataFrame, gt: DataFrame, k: Int): DataFrame =
    pred.join(gt, Seq("qid"))
      .select((size(array_intersect(col("pred_ids"), col("gt_ids"))) / k.toDouble).as("recall"))
      .agg(avg("recall").as("mean_recall"))
}
