package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.ops.{Dedup, Packing, Sampling}
import graft.tools.{ShuffleTally, SyntheticCorpus}

/** Scale gates for the curation/dedup/packing family — the invariants
  * that only break above toy scale, run on a 100k-doc synthetic corpus
  * (200× the driver's sf0.1 documents table):
  *
  *  - LSH bucket occupancy stays bounded by duplicate-cluster size, not
  *    corpus size (a misconfigured band width fails HERE, before the
  *    O(bucket²) pair expansion OOMs a real run);
  *  - candidate pairs grow ∝ duplicate clusters (Θ(n)), never corpus²;
  *  - the d9 job's actual shuffled bytes stay linear in corpus bytes —
  *    measured via TaskMetrics, not inferred from the plan;
  *  - sequence packing never serializes a hot stratum onto one window
  *    reducer (the shard split actually splits);
  *  - the stratified sampler stays exact-n at scale.
  *
  * Recorded (non-asserting) numbers for the same family at 2× this size
  * land in BENCH_SCALE.json via `graft.tools.BenchScale`.
  */
class CurationScaleSpec extends AnyFunSuite {

  private val n = 100000L
  lazy val spark: SparkSession = GraftSession.local(8)
  private lazy val docs = {
    val d = SyntheticCorpus.documents(spark, n).cache()
    assert(d.count() == n)
    d
  }

  test("synthetic corpus: skewed sources, near-dup families as designed") {
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hotShare = bySource("src_hot").toDouble / n
    assert(hotShare > 0.2 && hotShare < 0.45, s"hot share $hotShare")
    assert(bySource.size >= 5, s"sources: ${bySource.keys}")
    // exact-dup families: identical text 5 ways
    val exactGroups = docs.groupBy("text").count().filter(col("count") >= 5).count()
    assert(exactGroups >= n / 5 / 10 - 1, s"exact families: $exactGroups")
  }

  test("d9 LSH: buckets bounded by cluster size; pairs and shuffle linear in n") {
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    val w0 = tally.write.get()
    val nPairs = Dedup.minhashLshPairs64(docs).count()
    Thread.sleep(700) // async listener drain
    val shuffled = tally.write.get() - w0
    spark.sparkContext.removeSparkListener(tally)
    // every near-dup family (5 docs, 1 perturbed token each) should band-
    // collide: ~10 pairs per family = 2n; chance collisions add a little
    assert(nPairs >= n / 2 && nPairs <= 6 * n, s"pairs=$nPairs for n=$n")
    // corpus text ≈ 60 tokens × ~6 chars × n; the banding shuffle carries
    // (band, key, id) rows ∝ n. Quadratic pairing would shuffle ~n²/2×16B
    // (≈ 80 GB here) — gate at a loose linear multiple of text bytes
    val textBytes = docs.agg(sum(length(col("text")))).collect()(0).getLong(0)
    assert(shuffled < 10L * textBytes,
      s"d9 shuffled $shuffled B vs text $textBytes B — not linear")
    // bucket tail: duplicate clusters are 5 docs; anything corpus-sized
    // means the band key collapsed
    val maxBucket = Dedup.lsh64BucketSizes(docs).limit(1).collect()(0).getLong(2)
    assert(maxBucket <= 64, s"max LSH bucket $maxBucket — band width collapsed?")
  }

  test("d10 simhash: slice buckets bounded, near-dup pairs linear in n") {
    val nPairs = Dedup.simhashNearDups(docs, maxHamming = 8).count()
    // family near-dups differ in one token: most survive hamming<=8;
    // verified pairs must stay Θ(n), never corpus²
    assert(nPairs >= n / 10 && nPairs <= 6 * n, s"pairs=$nPairs for n=$n")
    val maxBucket = Dedup.simhashBucketSizes(docs).limit(1).collect()(0).getLong(2)
    // 16-bit slices over 100k docs: expected occupancy ~n/2^16 plus
    // family clusters — corpus-sized means the slice width collapsed
    assert(maxBucket <= 256, s"max simhash bucket $maxBucket")
  }

  test("s9 packing: hot stratum splits across shards, no corpus-sized window") {
    val packed = Packing.pack(docs, budget = 2048, shards = 64, stratum = "source")
    assert(packed.count() == n)
    val maxGroup = packed.groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("c")).agg(max(col("c"))).collect()(0).getLong(0)
    // the hot stratum holds ≤45% of the corpus; across 64 shards no
    // window partition may exceed 1/64 of the corpus — if the shard
    // split ever stops working this reads ~0.3n, not ~0.005n
    assert(maxGroup <= n / 64, s"max window group $maxGroup of $n")
  }

  test("p4 stratified sampling stays exact-n at scale") {
    val out = Sampling.stratifiedSample(docs, col("lang"), 1000, "doc_id")
    val perLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.size == SyntheticCorpus.Langs.size)
    perLang.foreach { case (l, c) => assert(c == 1000, s"$l: $c") }
  }

  test("semantic dedup skew guard: a 25%-flood cell stays bounded per task, " +
       "flood resolves to one keeper (r15)") {
    // the 100×-fatal shape from the r14 verdict: one k-means cell holding
    // a dense duplicate flood — within-cluster all-pairs is quadratic in
    // the flood AND lands on one reducer. Plant it deliberately: 5k
    // near-identical vectors in cluster 0 (25 % of a 20k corpus), the
    // rest spread thin. dim 16, deterministic bit-mix fixture.
    val dim = 16
    val nAll = 20000
    val flood = 5000
    def mix(x: Long): Long = { // splitmix-style
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val rows = (0 until nAll).map { i =>
      val vec =
        if (i < flood) Array.tabulate(dim) { j =>
          (0.5f + 0.05f * j) + 1e-3f * ((mix(i.toLong * 31 + j) % 7) - 3)
        }
        else Array.tabulate(dim) { j =>
          (mix(i.toLong * 131 + j) % 1000) / 500f - 1f
        }
      (i.toLong, vec, if (i < flood) 0 else 1 + (i % 100))
    }
    val assigned = spark.createDataFrame(rows)
      .toDF("vec_id", "embedding", "cluster_id").cache()
    assert(assigned.count() == nAll)
    val cap = 512
    // unguarded, the candidate join would pair a 5000-row key (~12.5M
    // pairs on ONE reducer); the tail diagnostic shows the hazard…
    assert(Dedup.semanticBlockTail(assigned, maxCellSize = Int.MaxValue)
      == flood)
    // …and the guard bounds every join block near the cap (id-hash salt
    // groups have binomial spread around cap, never multiples of it)
    val tail = Dedup.semanticBlockTail(assigned, maxCellSize = cap)
    assert(tail <= (cap * 3) / 2, s"guarded block tail $tail > 1.5×cap=$cap")
    // transitive recovery: no single block saw all flood pairs, but the
    // per-table-independent salt mix + connected components must still
    // resolve the flood to ONE component keeping ONE representative
    val res = Dedup.semanticDedupAssigned(assigned, tau = 0.95,
      maxCellSize = cap).cache()
    val floodKeep = res.filter(col("cluster_id") === 0)
      .agg(sum(when(col("keep"), 1L).otherwise(0L))).head().getLong(0)
    val floodComponents = res.filter(col("cluster_id") === 0)
      .select("component").distinct().count()
    assert(floodComponents == 1, s"flood split into $floodComponents components")
    assert(floodKeep == 1L, s"flood kept $floodKeep representatives")
    // thin cells ride the exact unguarded arm: random dim-16 vectors at
    // tau 0.95 are non-duplicates, so nearly everything keeps itself (a
    // handful of chance cosine crossings among ~1.5M thin-cell pairs are
    // expected — the first run measured exactly one)
    val keepAll = res.agg(sum(when(col("keep"), 1L).otherwise(0L)))
      .head().getLong(0)
    assert(keepAll >= nAll - flood - 10, s"kept $keepAll of $nAll")
    res.unpersist(); assigned.unpersist()
  }

  test("semantic dedup multi-flood: several oversized cells of different " +
       "sizes stay bounded per task, each flood one keeper (r16)") {
    // a realistic skewed corpus has SEVERAL oversized cells of different
    // sizes (the r15 gate planted exactly one); the guard must bound
    // every one's join blocks near the cap and each flood must still
    // resolve to one component/keeper through its own salt mix — sizes
    // chosen to straddle the cap from 1.5× to 12×.
    val dim = 16
    val nAll = 20000
    val floods = Seq((0, 0, 6000), (1, 6000, 8000), (2, 8000, 8800))
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val rows = (0 until nAll).map { i =>
      val f = floods.find(t => i >= t._2 && i < t._3)
      val vec = f match {
        case Some((cell, _, _)) => Array.tabulate(dim) { j =>
          (0.5f + 0.05f * j + 0.3f * cell) +
            1e-3f * ((mix(i.toLong * 31 + j) % 7) - 3)
        }
        case None => Array.tabulate(dim) { j =>
          (mix(i.toLong * 131 + j) % 1000) / 500f - 1f
        }
      }
      (i.toLong, vec, f.map(_._1).getOrElse(3 + (i % 100)))
    }
    val assigned = spark.createDataFrame(rows)
      .toDF("vec_id", "embedding", "cluster_id").cache()
    assert(assigned.count() == nAll)
    val cap = 512
    // unguarded tail = the largest flood; guarded tail ≈ cap across ALL
    // three floods' salt blocks simultaneously
    assert(Dedup.semanticBlockTail(assigned, maxCellSize = Int.MaxValue)
      == 6000)
    val tail = Dedup.semanticBlockTail(assigned, maxCellSize = cap)
    assert(tail <= (cap * 3) / 2, s"guarded block tail $tail > 1.5×cap=$cap")
    // measured shuffle gate (r16): the guard must never shuffle a vector
    // per candidate PAIR — the pre-fix pair-then-fetch plan moved
    // Θ(flood·cap·T) × 1.5 KB rows (50+ GB, disk-full abort at 384d);
    // the block-join plan's shuffle is Θ(rows·T) vectors + skinny pairs.
    // At dim 16 this fixture's whole dedup should shuffle well under
    // 2 GB; the broken shape would exceed it by an order of magnitude.
    val tally = new graft.tools.ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    val w0 = tally.write.get()
    val res = Dedup.semanticDedupAssigned(assigned, tau = 0.95,
      maxCellSize = cap).cache()
    floods.foreach { case (cell, lo, hi) =>
      val comps = res.filter(col("cluster_id") === cell)
        .select("component").distinct().count()
      val keeps = res.filter(col("cluster_id") === cell)
        .agg(sum(when(col("keep"), 1L).otherwise(0L))).head().getLong(0)
      assert(comps == 1, s"flood cell $cell (${hi - lo} rows) split into $comps")
      assert(keeps == 1L, s"flood cell $cell kept $keeps")
    }
    // thin cells: random vectors at tau 0.95 self-keep (± a handful of
    // chance crossings, as in the single-flood gate)
    val keepAll = res.agg(sum(when(col("keep"), 1L).otherwise(0L)))
      .head().getLong(0)
    val floodTotal = floods.map(t => t._3 - t._2).sum
    assert(keepAll >= nAll - floodTotal - 10, s"kept $keepAll of $nAll")
    Thread.sleep(700) // async listener drain
    val shuffled = tally.write.get() - w0
    spark.sparkContext.removeSparkListener(tally)
    assert(shuffled < (2L << 30),
      s"guarded multi-flood dedup shuffled $shuffled B — vector-per-pair regression?")
    res.unpersist(); assigned.unpersist()
  }

  test("cc: d9 pair graph converges fast into family-shaped components") {
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    val pairs = Dedup.minhashLshPairs64(docs).cache()
    val nPairs = pairs.count()
    Thread.sleep(700)
    val j0 = tally.jobs.get()
    pairs.collect()
    Thread.sleep(700)
    val collectJobs = tally.jobs.get() - j0
    val (w0, j1) = (tally.write.get(), tally.jobs.get())
    val cc = Dedup.connectedComponentsStats(pairs)
    Thread.sleep(700)
    val shuffled = tally.write.get() - w0
    val ccJobs = tally.jobs.get() - j1
    spark.sparkContext.removeSparkListener(tally)
    // families are near-cliques: min-label propagation needs ~2 hops plus
    // the fixed-point check — deep chains here mean the pair graph is wrong
    assert(cc.iterations <= 12, s"cc took ${cc.iterations} iterations")
    val labels = cc.labels
    val maxComp = labels.groupBy("component").count()
      .agg(max("count")).collect()(0).getLong(0)
    // chance cross-family collisions chain a few 5-doc families (measured
    // 95 at 100k); a catastrophic merge reads corpus-sized — gate well
    // between the two
    assert(maxComp <= 256,
      s"giant component of $maxComp nodes — families merged catastrophically")
    // one component per duplicate family (5 consecutive ids): chance
    // cross-family collisions may merge a few, never an order of magnitude
    val nComp = labels.select("component").distinct().count()
    val nFam = labels.select(expr("node div 5")).distinct().count()
    assert(nComp <= nFam && nComp >= (0.8 * nFam).toLong,
      s"components $nComp vs pair-covered families $nFam")
    // cost model: the ~2n-edge pair graph is far below the driver bound, so
    // CC is one read of the cached pairs — no shuffle and no more jobs than
    // collecting them; a label-propagation round would shuffle and add jobs
    assert(shuffled == 0L, s"cc shuffled $shuffled B for $nPairs pairs")
    assert(ccJobs <= collectJobs, s"cc ran $ccJobs jobs, pairs.collect() $collectJobs")
    labels.unpersist()
    pairs.unpersist()
  }

  test("d11 decontamination: map-side gram match at scale, hits found") {
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val out = Dedup.decontaminate(corpus, bench, gramTokens = 4).cache()
    assert(out.count() == corpus.count())
    // family structure guarantees overlap: benchmark docs share (near-)
    // identical text with their family members left in the corpus
    val contaminated = out.filter(!col("keep")).count()
    assert(contaminated > 0, "no contamination found — gram match broken?")
    out.unpersist()
  }
}
