package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.functions.VectorFunctions
import graft.ops.{Metric, Search, TopK}

/** End-to-end invariants of the search pipeline on the sf0.001 fixtures:
  * codegen kernels vs interpreted HOF oracles, aggregator vs window top-k,
  * self-match-at-rank-1 (queries drawn from the base must retrieve
  * themselves — the reference's free invariant, `tools/nvdb_make_query.cpp`),
  * and dot-vs-L2 rank equivalence on normalized vectors
  * (`apps/nvdb_gt_build.cpp:27-29`).
  */
class SearchSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  private def base = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private def queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 8)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("codegen dot/l2/norm match HOF oracles") {
    val df = base.crossJoin(queries.limit(3))
      .select(
        VectorFunctions.dot(col("vec"), col("qvec")).as("d1"),
        VectorFunctions.dotHof(col("vec"), col("qvec")).as("d2"),
        VectorFunctions.l2Sq(col("vec"), col("qvec")).as("l1"),
        VectorFunctions.l2SqHof(col("vec"), col("qvec")).as("l2"),
        VectorFunctions.norm2(col("vec")).as("n1"),
        VectorFunctions.norm2Hof(col("vec")).as("n2"))
    val bad = df.filter(
      abs(col("d1") - col("d2")) > 1e-9 ||
      abs(col("l1") - col("l2")) > 1e-9 ||
      abs(col("n1") - col("n2")) > 1e-9).count()
    assert(bad == 0)
  }

  test("TopK aggregator equals window top-k") {
    val scored = base.crossJoin(queries)
      .select(col("qid"), col("id").as("gid"),
        VectorFunctions.dot(col("vec"), col("qvec")).as("score"))
    val a = TopK.perGroup(scored, "qid", "gid", "score", 10, larger = true)
      .select("qid", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = TopK.perGroupWindow(scored, "qid", "gid", "score", 10, larger = true)
      .select("qid", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
  }

  test("self-match ranks first with score ~ 1 (normalized vectors)") {
    val top1 = Search.exactTopK(base, queries, k = 1, Metric.Dot)
    val rows = top1.collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      assert(r.getAs[Long]("qid") == r.getAs[Long]("id"))
      assert(math.abs(r.getAs[Double]("score") - 1.0) < 1e-5)
    }
  }

  test("dot ranking == L2 ranking on normalized vectors") {
    val d = Search.exactTopK(base, queries, k = 10, Metric.Dot)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l = Search.exactTopK(base, queries, k = 10, Metric.L2)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d == l)
  }

  test("groundTruthBoth: one-scan dual-metric GT is element-equal to two " +
    "groundTruth calls (r18)") {
    // the fused shape must reproduce BOTH metrics' ordered id arrays
    // exactly — incl. the negated-L2 shared top-k's boundary behavior
    def arr(r: org.apache.spark.sql.Row, i: Int) = r.getSeq[Long](i).toList
    val both = Search.groundTruthBoth(base, queries, k = 10)
      .collect().map(r => r.getLong(0) -> (arr(r, 1), arr(r, 2))).toMap
    val dot = Search.groundTruth(base, queries, k = 10, Metric.Dot)
      .collect().map(r => r.getLong(0) -> arr(r, 1)).toMap
    val l2 = Search.groundTruth(base, queries, k = 10, Metric.L2)
      .collect().map(r => r.getLong(0) -> arr(r, 1)).toMap
    assert(both.keySet == dot.keySet && both.keySet == l2.keySet)
    both.foreach { case (q, (dIds, lIds)) =>
      assert(dIds == dot(q), s"qid=$q dot arm diverged")
      assert(lIds == l2(q), s"qid=$q l2 arm diverged")
    }
  }

  test("a null-vector row is never ranked: groundTruth agrees with groundTruthBoth") {
    // the oracle's null score used to reach the top-k aggregate as 0.0 —
    // under L2 that is the nearest possible hit
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(FloatType))))
    val b = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq(1f, 0f, 0f, 0f)), Row(2L, null), Row(3L, Seq(.5f, .5f, 0f, 0f)))), schema)
    val s = spark
    import s.implicits._
    val q = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("qid", "qvec")
    def ids(df: org.apache.spark.sql.DataFrame, c: String) =
      df.collect().map(_.getAs[scala.collection.Seq[Long]](c).toList).toList
    assert(ids(Search.groundTruth(b, q, k = 2, Metric.L2), "gt_ids") == List(List(1L, 3L)))
    assert(ids(Search.groundTruth(b, q, k = 2, Metric.Dot), "gt_ids") == List(List(1L, 3L)))
    val both = Search.groundTruthBoth(b, q, k = 2)
    assert(ids(both, "dot_ids") == List(List(1L, 3L)))
    assert(ids(both, "l2_ids") == List(List(1L, 3L)))
  }

  test("quantization ladder: fp16 search recall 1.0, int8 recall >= 0.9 @ k=10") {
    val gt = Search.groundTruth(base, queries, k = 10, Metric.Dot)

    val baseF16 = base.select(col("id"), VectorFunctions.halfEncode(col("vec")).as("bits"))
    val scored16 = baseF16.crossJoin(broadcast(queries))
      .select(col("qid"), col("id").as("gid"),
        VectorFunctions.dotHalf(col("qvec"), col("bits")).as("score"))
    val pred16 = TopK.perGroup(scored16, "qid", "gid", "score", 10, larger = true)
      .groupBy("qid").agg(collect_list(col("id")).as("pred_ids"))
    val r16 = Search.recallAtK(pred16, gt, 10).collect()(0).getDouble(0)
    assert(r16 >= 0.99, s"fp16 recall $r16")

    val baseI8 = base.select(col("id"), VectorFunctions.quantizeI8(col("vec")).as("q"))
      .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
    val scored8 = baseI8.crossJoin(broadcast(queries))
      .select(col("qid"), col("id").as("gid"),
        VectorFunctions.dotI8(col("qvec"), col("codes"), col("scale")).as("score"))
    val pred8 = TopK.perGroup(scored8, "qid", "gid", "score", 10, larger = true)
      .groupBy("qid").agg(collect_list(col("id")).as("pred_ids"))
    val r8 = Search.recallAtK(pred8, gt, 10).collect()(0).getDouble(0)
    assert(r8 >= 0.9, s"int8 recall $r8")
  }

  test("batched AND fused quantized scans match their per-pair BNLJ twins") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val hbase = base.select(col("id"), VectorFunctions.halfEncode(col("vec")).as("hbits"))
    val bnljH = TopK.perGroup(
      hbase.crossJoin(broadcast(queries))
        .select(col("qid"), col("id").as("gid"),
          VectorFunctions.dotHalf(col("qvec"), col("hbits")).as("score")),
      "qid", "gid", "score", 10, larger = true)
    // the flat scan (per-partition top-k buffers inside the scan) — the
    // scoreAllHalf hoist is bitwise the per-pair kernel, so ranks must
    // agree exactly with the per-pair BNLJ
    assert(asSet(Search.exactTopKFusedHalf(hbase, queries, 10)) == asSet(bnljH))

    val qbase = base.select(col("id"), VectorFunctions.quantizeI8(col("vec")).as("q"))
      .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
    val bnljI = TopK.perGroup(
      qbase.crossJoin(broadcast(queries))
        .select(col("qid"), col("id").as("gid"),
          VectorFunctions.dotI8(col("qvec"), col("codes"), col("scale")).as("score")),
      "qid", "gid", "score", 10, larger = true)
    assert(asSet(Search.exactTopKFusedI8(qbase, queries, 10)) == asSet(bnljI))

    // PACKED (BINARY blob) storage layout: write through the packed sinks
    // and re-read — the fused scans dtype-dispatch to the *Bin kernels,
    // which must rank identically to every flavor above
    val tmp = java.nio.file.Files.createTempDirectory("packed_scan").toString
    graft.io.QuantizedTables.writeF16Packed(base, s"$tmp/f16p")
    graft.io.QuantizedTables.writeI8Packed(base, s"$tmp/i8p")
    val hPacked = graft.io.QuantizedTables.readF16(spark, s"$tmp/f16p")
    val iPacked = graft.io.QuantizedTables.readI8(spark, s"$tmp/i8p")
    assert(asSet(Search.exactTopKFusedHalf(hPacked, queries, 10, bitsCol = "bits"))
      == asSet(bnljH))
    assert(asSet(Search.exactTopKFusedI8(iPacked, queries, 10)) == asSet(bnljI))

    // BLOCKED layout (128 vectors per stored row): slice scorers must
    // rank identically to every per-row flavor — f32 blocked against the
    // plain exact scan, f16/i8 blocked against their BNLJ twins. A block
    // size that does not divide the corpus exercises the ragged tail.
    graft.io.QuantizedTables.writeF32Blocked(base, s"$tmp/f32b", block = 96)
    graft.io.QuantizedTables.writeF16Blocked(base, s"$tmp/f16b", block = 96)
    graft.io.QuantizedTables.writeI8Blocked(base, s"$tmp/i8b", block = 96)
    val bnljF = TopK.perGroup(
      base.crossJoin(broadcast(queries))
        .select(col("qid"), col("id").as("gid"),
          VectorFunctions.dot(col("vec"), col("qvec")).as("score")),
      "qid", "gid", "score", 10, larger = true)
    assert(asSet(Search.exactTopKFusedBlocked(
      graft.io.QuantizedTables.readBlocked(spark, s"$tmp/f32b"), queries, 10))
      == asSet(bnljF))
    assert(asSet(Search.exactTopKFusedBlocked(
      graft.io.QuantizedTables.readBlocked(spark, s"$tmp/f16b"), queries, 10))
      == asSet(bnljH))
    assert(asSet(Search.exactTopKFusedBlocked(
      graft.io.QuantizedTables.readBlocked(spark, s"$tmp/i8b"), queries, 10))
      == asSet(bnljI))
  }

  test("refine recovers exact top-k from a candidate superset") {
    val gtL2 = Search.groundTruth(base, queries, k = 5, Metric.L2)
    // candidates: exact top-50 by dot (superset of L2 top-5 on normalized)
    val cands = Search.groundTruth(base, queries, k = 50, Metric.Dot)
      .withColumnRenamed("gt_ids", "cand_ids").join(queries, Seq("qid"))
    val refined = Search.refine(base, cands, k = 5)
      .groupBy("qid").agg(collect_list(col("id")).as("pred_ids"))
    val r = Search.recallAtK(refined, gtL2, 5).collect()(0).getDouble(0)
    assert(r == 1.0, s"refine recall $r")
  }

  test("dim validation passes on fixtures, rejects mismatched dims") {
    assert(Search.requireSameDim(base, queries) == 64)
    val truncated = queries.withColumn("qvec", slice(col("qvec"), 1, 32))
    intercept[IllegalArgumentException] {
      Search.requireSameDim(base, truncated)
    }
  }

  test("refine drops sentinel candidate ids (validity filter)") {
    val cands = Search.groundTruth(base, queries, k = 5, Metric.Dot)
      .withColumnRenamed("gt_ids", "cand_ids").join(queries, Seq("qid"))
      .withColumn("cand_ids", concat(col("cand_ids"), array(lit(-1L), lit(-999L))))
    val refined = Search.refine(base, cands, k = 10)
    // sentinels never surface; only the 5 real candidates per query remain
    assert(refined.filter(col("id") < 0).count() == 0)
    assert(refined.groupBy("qid").count().filter(col("count") =!= 5).count() == 0)
  }

  test("GT validation accepts well-formed GT, rejects wrong k and schema") {
    val gt = Search.groundTruth(base, queries, k = 10, Metric.Dot)
    Search.requireGroundTruth(gt, 10, nQueries = 8)
    intercept[IllegalArgumentException] {
      Search.requireGroundTruth(gt, 11)
    }
    intercept[IllegalArgumentException] {
      Search.requireGroundTruth(gt.withColumnRenamed("gt_ids", "ids"), 10)
    }
    intercept[IllegalArgumentException] {
      Search.requireGroundTruth(gt, 10, nQueries = 99)
    }
  }

  test("search plan broadcasts queries and avoids shuffling the base") {
    val plan = Search.exactTopK(base, queries, 10, Metric.Dot)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected broadcast NLJ in:\n$plan")
  }

  test("range search: threshold semantics both directions, top-k containment, no shuffle") {
    val r = 1.8
    val ranged = Search.rangeSearch(base, queries, r, Metric.L2).cache()
    // every returned row is within the radius, and the count matches the
    // brute-force recompute exactly
    assert(ranged.filter(col("score") > r).count() == 0)
    val brute = base.crossJoin(broadcast(queries))
      .filter(graft.functions.VectorFunctions.l2Sq(col("vec"), col("qvec")) <= r)
      .count()
    assert(ranged.count() == brute, s"range count ${ranged.count()} != brute $brute")
    // containment: any top-k hit within the radius must appear in the range set
    val within = Search.exactTopK(base, queries, 5, Metric.L2)
      .filter(col("score") <= r)
      .select("qid", "id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val got = ranged.select("qid", "id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(within.subsetOf(got), s"missing from range: ${(within diff got).take(3)}")
    ranged.unpersist()
    // ranking metric keeps >= threshold (dot); and the plan stays shuffle-free
    val dotted = Search.rangeSearch(base, queries, 0.2, Metric.Dot)
    assert(dotted.filter(col("score") < 0.2).count() == 0)
    val plan = dotted.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Exchange hashpartitioning"),
      s"range search must not shuffle:\n$plan")
  }
}
