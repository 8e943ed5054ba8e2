package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.ops.{Ivf, Metric, Search}

/** Scale smoke: the search paths at 100× the driver fixture (200k × 64-d
  * synthetic vectors, generated distributedly — never collected). Gates
  * are correctness invariants (self-match, recall, plan shape), not
  * wall-clock; throughput is printed for the record.
  */
class ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(8)

  private val n = 200000
  private lazy val base = {
    val df = spark.range(n).toDF("id")
      .select(col("id"), expr(
        "transform(sequence(1, 64), j -> cast(pmod(hash(id, j), 1000) / 500.0 - 1.0 as float))")
        .as("vec"))
    df.cache().count()
    df
  }

  test("exact L2 top-k at 200k rows: every query self-matches at rank 1") {
    val queries = base.filter(col("id") % 10000 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val t0 = System.nanoTime()
    val top1 = Search.exactTopK(base, queries, k = 1, Metric.L2).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(top1.length == 20)
    top1.foreach(r => assert(r.getAs[Long]("qid") == r.getAs[Long]("id")))
    info(f"exact scan: 20 queries × $n rows in $secs%.2f s " +
      f"(${20L * n / secs / 1e6}%.1f Mscores/s)")
  }

  test("batched scan matches BNLJ results and is faster at 200k rows") {
    val queries = base.filter(col("id") % 10000 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    def run(f: => org.apache.spark.sql.DataFrame): (Set[(Long, Long, Int)], Double) = {
      val t0 = System.nanoTime()
      val rows = f.collect().map(r =>
        (r.getAs[Long]("qid"), r.getAs[Long]("id"), r.getAs[Int]("rank"))).toSet
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    val (a, ta) = run(Search.exactTopK(base, queries, 10, Metric.L2))
    // the flat scan (J2+K2 in one pass, per-partition buffers): identical rows
    val (c, tc) = run(Search.exactTopKFused(base, queries, 10, Metric.L2))
    assert(a == c, "fused scan diverged from BNLJ")
    info(f"BNLJ $ta%.2f s vs fused $tc%.2f s (${ta / tc}%.1fx)")
  }

  test("batching gain at 1M rows: fused beats BNLJ, matches its rows") {
    // the reference's batch-saturation curve (Performance.md:289 —
    // 20.3→102.8 QPS from batch_q 1→8): at 1M×64-d the per-pair join-row +
    // hash-aggregate overhead of the BNLJ plan dominates, and the fused
    // per-partition buffers (one cached-worst compare per pair, topK.h
    // policy) should show the batching win clearly
    val n1m = 1000000
    val big = spark.range(n1m).toDF("id")
      .select(col("id"), expr(
        "transform(sequence(1, 64), j -> cast(pmod(hash(id, j), 1000) / 500.0 - 1.0 as float))")
        .as("vec"))
    big.cache().count()
    val queries = big.filter(col("id") % 50000 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    def run(f: => org.apache.spark.sql.DataFrame): (Set[(Long, Long, Int)], Double) = {
      val t0 = System.nanoTime()
      val rows = f.collect().map(r =>
        (r.getAs[Long]("qid"), r.getAs[Long]("id"), r.getAs[Int]("rank"))).toSet
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    def bnlj = Search.exactTopK(big, queries, 10, Metric.L2)
    def fused = Search.exactTopKFused(big, queries, 10, Metric.L2)
    bnlj.count(); fused.count() // warmup (codegen + JIT)
    // three interleaved timed runs per path, gated on the ratio of the
    // medians: one run per path read 1.26x and 7.91x on the same code in
    // the shared test JVM, so one pair is not a measurement
    val runs = (0 until 3).map(_ => (run(bnlj), run(fused)))
    runs.foreach { case ((a, _), (c, _)) => assert(a == c, "fused diverged from BNLJ at 1M") }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    val ta = median(runs.map(_._1._2))
    val tc = median(runs.map(_._2._2))
    info(f"1M×64-d, 20 queries, median of 3: BNLJ $ta%.2f s, fused $tc%.2f s " +
      f"(${ta / tc}%.2fx over BNLJ)")
    assert(ta / tc >= 1.5, f"fused gain ${ta / tc}%.2fx < 1.5x at 1M rows")
    big.unpersist()
  }

  test("IVF at 200k rows: probe prunes and keeps recall") {
    val queries = base.filter(col("id") % 20000 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val cents = Ivf.train(base, nlist = 64, ntrain = 20000)
    val assigned = Ivf.assign(base, cents).cache()
    assigned.count()
    val gt = Search.groundTruth(base, queries, 10, Metric.L2)
    val t0 = System.nanoTime()
    // hash-uniform vectors have no cluster structure (worst case for
    // IVF): probe a quarter of the lists and gate conservatively
    val pred = Ivf.search(assigned, queries, cents, nprobe = 16, k = 10, Metric.L2)
      .groupBy("qid").agg(collect_list(col("id")).as("pred_ids"))
    val recall = Search.recallAtK(pred, gt, 10).collect()(0).getDouble(0)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"IVF probe (16/64 lists): recall $recall%.3f in $secs%.2f s")
    assert(recall >= 0.6, s"IVF recall at scale: $recall")
    // probing touches ~nprobe/nlist of the base
    val probed = queries.limit(1).select(col("qid"),
      explode(Ivf.nearestCentroids(col("qvec"), cents, 16)).as("cluster_id"))
    val scored = assigned.join(probed, Seq("cluster_id")).count()
    assert(scored < n / 2, s"pruning ineffective: scored $scored of $n")
    assigned.unpersist()
  }

  test("LSH ANN at 200k rows: self-match survives bucketing, candidates sub-linear") {
    import graft.ops.LshAnn
    val queries = base.filter(col("id") % 20000 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    // every query IS a base row: identical vector ⇒ identical sign
    // pattern in every table ⇒ its own bucket always contains it, so the
    // L2 rank-1 self-match must survive ANY bucketing configuration
    val t0 = System.nanoTime()
    val top1 = LshAnn.search(base, queries, k = 1, Metric.L2,
      nPlanes = 14, nTables = 4, probes = 2).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(top1.length == 10)
    top1.foreach(r => assert(r.getAs[Long]("qid") == r.getAs[Long]("id"),
      s"self-match lost: ${r}"))
    // probe cost: with 2^14 buckets/table the candidate set must be a
    // vanishing fraction of the base — this is the operator's reason to
    // exist; corpus-sized candidates mean the bucketing collapsed
    val cands = LshAnn.candidateCounts(base, queries,
      nPlanes = 14, nTables = 4, probes = 2)
      .agg(max(col("n_cand")), avg(col("n_cand"))).collect()(0)
    info(f"LSH ANN: 10 queries in $secs%.2f s, max cand ${cands.getLong(0)}, " +
      f"avg ${cands.getDouble(1)}%.0f of $n rows")
    assert(cands.getLong(0) < n / 10, s"candidates not sub-linear: $cands")
  }
}
