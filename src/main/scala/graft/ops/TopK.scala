package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Bounded per-group top-k state, the Spark analogue of the reference's
  * O(k)-insert `TopKBuffer` with `merge_from` partial/final combine
  * (`/root/reference/include/nvdb/topK.h:15-69`,
  * `src/flat_index_omp.cpp:36-75`).
  *
  * `larger=true` keeps the k largest scores (dot/cosine);
  * `larger=false` the k smallest (L2 distance).
  *
  * Why not a Window: `row_number() over (partition by qid order by score)`
  * sorts all N×Q scored rows; at 100 TB that sort dominates. This aggregate
  * keeps O(k) state per query on the map side (hash aggregation), so the
  * shuffle moves only Q×k pre-reduced buffers — the same partial/final
  * design the reference uses across threads.
  */
case class TopKBuf(var ids: Array[Long], var scores: Array[Double], var n: Int,
                   var worstIdx: Int)

class TopKAggregator(k: Int, larger: Boolean)
    extends Aggregator[(Long, Double), TopKBuf, Seq[(Long, Double)]] {

  private def better(s1: Double, id1: Long, s2: Double, id2: Long): Boolean =
    if (s1 != s2) { if (larger) s1 > s2 else s1 < s2 } else id1 < id2 // stable tie-break

  override def zero: TopKBuf = TopKBuf(new Array[Long](k), new Array[Double](k), 0, 0)

  override def reduce(b: TopKBuf, in: (Long, Double)): TopKBuf = {
    consider(b, in._1, in._2); b
  }

  // the worst slot under `better` ordering, cached in the buffer like the
  // reference's worst_score_/worst_idx_ (topK.h:17-20,55-65) — the common
  // case (candidate loses to the current worst) is ONE compare, not an
  // O(k) scan per scored pair
  private def recomputeWorst(b: TopKBuf): Unit = {
    var worst = 0
    var i = 1
    while (i < b.n) {
      if (better(b.scores(worst), b.ids(worst), b.scores(i), b.ids(i))) worst = i
      i += 1
    }
    b.worstIdx = worst
  }

  // also driven directly (tuple-free) by the per-partition scan buffers
  // (`TopKSlots`, Search.scala) — one shared implementation keeps the scan path
  // bit-identical to the aggregate path
  private[ops] def consider(b: TopKBuf, id: Long, score: Double): Unit = {
    if (b.n < k) {
      b.ids(b.n) = id; b.scores(b.n) = score; b.n += 1
      if (b.n == k) recomputeWorst(b)
    } else if (better(score, id, b.scores(b.worstIdx), b.ids(b.worstIdx))) {
      // O(k) rescan only on replacement, exactly topK.h:33-37
      b.ids(b.worstIdx) = id; b.scores(b.worstIdx) = score
      recomputeWorst(b)
    }
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    var i = 0
    while (i < b.n) { consider(a, b.ids(i), b.scores(i)); i += 1 }
    a
  }

  override def finish(b: TopKBuf): Seq[(Long, Double)] = {
    val pairs = Array.tabulate(b.n)(i => (b.ids(i), b.scores(i)))
    pairs.sortWith((x, y) => better(x._2, x._1, y._2, y._1)).toSeq
  }

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

object TopK {

  /** Map-side-combining per-group top-k.
    *
    * Input: rows with (groupCol, idCol, scoreCol). Output: one row per
    * (group, rank) with columns (groupCol, id, score, rank), rank 1-based.
    * A row with a null score (e.g. scored from a null vector) is dropped:
    * the aggregate's `(Long, Double)` input would read it as 0.0 and rank it.
    */
  def perGroup(scored: DataFrame, groupCol: String, idCol: String, scoreCol: String,
               k: Int, larger: Boolean = true): DataFrame = {
    val agg = udaf(new TopKAggregator(k, larger))
    scored
      .filter(col(scoreCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(agg(col(idCol), col(scoreCol).cast("double")).as("topk"))
      .select(col(groupCol), posexplode(col("topk")).as(Seq("rank0", "pair")))
      .select(
        col(groupCol),
        col("pair._1").as("id"),
        col("pair._2").as("score"),
        (col("rank0") + 1).cast("int").as("rank"))
  }

  /** Window-based variant (full sort per partition): the simple plan, used
    * as an oracle for the aggregator and for small inputs.
    */
  def perGroupWindow(scored: DataFrame, groupCol: String, idCol: String, scoreCol: String,
                     k: Int, larger: Boolean = true): DataFrame = {
    val ord: Seq[Column] =
      if (larger) Seq(col(scoreCol).desc, col(idCol).asc) else Seq(col(scoreCol).asc, col(idCol).asc)
    val w = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col(idCol).as("id"),
        col(scoreCol).cast("double").as("score"), col("rank"))
  }
}
