package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.ops.{Hnsw, Ivf, Metric, Search}
import graft.tools.SyntheticVectors

/** Gates for the sharded HNSW graph index (`ops/Hnsw`) — the true
  * graph-ANN operator the reference runs through hnswlib
  * (`/root/reference/apps/nvdb_hnsw_build.cpp:38-49`,
  * `nvdb_hnsw_search.cpp:33-43`): recall at the reference's knee knob,
  * determinism (the a9 sidecar oracle's precondition), graph-shape
  * invariants, sub-linear search cost, and the routed-shard pruning path.
  */
class HnswSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  private def base = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private def queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 12)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("recall >= 0.95 at the reference knee (efSearch=64), monotone in efSearch") {
    val gt = Search.groundTruth(base, queries, 10, Metric.Dot).cache()
    def recall(ef: Int): Double =
      Ivf.meanRecall(
        Hnsw.search(base, queries, k = 10, Metric.Dot, m = 8,
          efConstruction = 64, efSearch = ef, nShards = 4), gt, 10)
        .collect()(0).getDouble(0)
    val r1 = recall(1)
    val r16 = recall(16)
    val r64 = recall(64)
    // reference knee: 0.9795 @ efSearch=64 (Performance.md:454)
    assert(r64 >= 0.95, s"efSearch=64 recall $r64 below the knee")
    assert(r16 >= r1 - 0.05 && r64 >= r16 - 0.05,
      s"recall not (weakly) rising in efSearch: $r1, $r16, $r64")
    gt.unpersist()
  }

  test("deterministic: two cold builds return identical top-k") {
    def run() =
      Hnsw.search(base, queries, k = 10, Metric.Dot, m = 8,
        efConstruction = 64, efSearch = 32, nShards = 4)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(run() == run(), "same table, same params, different graphs")
  }

  test("searchLocal serves the cached graphs in-process, identical to searchWarm") {
    val key = "hnswspec_local_serve"
    Hnsw.search(base, queries, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, efSearch = 32, nShards = 4, cacheKey = key).count()
    val q0 = queries.orderBy("qid").limit(1).collect()(0)
    val qid = q0.getLong(0)
    val qv = q0.getSeq[Float](1).toArray
    val warm = Hnsw.searchWarm(queries.filter(col("qid") === qid), key,
      nShards = 4, k = 10, Metric.Dot, m = 8, efConstruction = 64, efSearch = 32)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val local = Hnsw.searchLocal(qv, key, nShards = 4, k = 10, Metric.Dot,
      m = 8, efConstruction = 64, efSearch = 32).toSeq
    assert(local == warm,
      s"in-process serve diverged from the warm Spark path: $local vs $warm")
    Hnsw.invalidate(key)
  }

  test("graph shape: degree caps hold, levels follow the seeded draw") {
    val rows = base.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val g = new Hnsw.ShardGraph(m = 8, efC = 64, seed = 42L, Metric.Dot)
    rows.foreach { case (id, v) => g.insert(id, v) }
    assert(g.size == rows.length)
    val mL = 1.0 / math.log(8.0)
    var i = 0
    while (i < g.size) {
      val lvl = g.levelOfNode(i)
      assert(lvl == Hnsw.levelOf(g.externalIds(i), 42L, mL),
        s"node $i level drifted from the seeded draw")
      var l = 0
      while (l <= lvl) {
        val cap = if (l == 0) 16 else 8
        val nbrs = g.neighbors(i, l)
        assert(nbrs.length <= cap, s"node $i layer $l degree ${nbrs.length} > $cap")
        assert(nbrs.forall(x => x >= 0 && x < g.size && x != i),
          s"node $i layer $l has dangling/self edges")
        l += 1
      }
      i += 1
    }
    // upper layers thin out geometrically: level-1 population must be a
    // small fraction (1/M in expectation)
    val l1 = (0 until g.size).count(g.levelOfNode(_) >= 1)
    assert(l1 > 0 && l1 < g.size / 3, s"level>=1 population $l1 of ${g.size}")
  }

  test("search cost is sub-linear: distance evals per query far below the corpus") {
    val n = 50000L
    val dim = 64
    val big = SyntheticVectors.lowRank(spark, n, dim, intrinsic = 8).cache()
    assert(big.count() == n)
    val qs = big.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val acc = spark.sparkContext.longAccumulator("hnswEvals")
    val key = s"hnswspec_lr8_${n}_$dim"
    // cold call builds and caches the graphs; the measured call only pays
    // search-time distance evals (the counter excludes build by design)
    Hnsw.search(big, qs, k = 10, efSearch = 64, nShards = 8,
      cacheKey = key).count()
    Hnsw.search(big, qs, k = 10, efSearch = 64, nShards = 8,
      cacheKey = key, evalCounter = Some(acc)).count()
    val perQuery = acc.value.toDouble / 8
    // exact scan = 50k evals/query; the graph must be an order of
    // magnitude under it even summed across all 8 shards
    assert(perQuery < n / 5.0,
      s"$perQuery evals/query at n=$n — graph search is not sub-linear")
    assert(perQuery > 0, "eval counter never incremented")
    big.unpersist()
  }

  test("routed shards: recall monotone in routeProbe, pruned probes cost less") {
    val n = 50000L
    val big = SyntheticVectors.lowRank(spark, n, 64, intrinsic = 8).cache()
    val qs = big.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val gt = Search.groundTruth(big, qs, 10, Metric.Dot).cache()
    val cents = Ivf.train(big, nlist = 8, ntrain = 5000)
    val key = s"hnswspec_routed_$n"
    def run(rp: Int, acc: Option[org.apache.spark.util.LongAccumulator]) =
      Ivf.meanRecall(Hnsw.searchRouted(big, qs, cents, routeProbe = rp,
        k = 10, efSearch = 64, cacheKey = key, evalCounter = acc), gt, 10)
        .collect()(0).getDouble(0)
    val r1 = run(1, None)
    val accP = spark.sparkContext.longAccumulator
    val rPruned = run(2, Some(accP))
    val accF = spark.sparkContext.longAccumulator
    val rFull = run(8, Some(accF))
    assert(rPruned >= r1 - 1e-9 && rFull >= rPruned - 1e-9,
      s"recall not monotone in routeProbe: $r1, $rPruned, $rFull")
    assert(rFull >= 0.95, s"full-probe routed recall $rFull")
    // pruning 2/8 shards must cut the distance evals by at least 2x
    assert(accP.value * 2 < accF.value,
      s"routeProbe=2 evals ${accP.value} not ≪ full ${accF.value}")
    // routed pruning pays off already at modest probes: near-full recall
    // at a quarter of the shards (cluster routing concentrates neighbors)
    assert(rPruned >= 0.8, s"routeProbe=2 recall $rPruned — routing useless?")
    // in-process ROUTED serve twin (r10): searchLocal with the same
    // centroids+routeProbe must return exactly what the warm routed Spark
    // path returns — same router kernel (topNprobe), same graphs, same
    // merge tie-break; the BENCH_SCALE local_serve_routed_us point rides
    // on this equality
    val q0 = qs.orderBy("qid").limit(1).collect()(0)
    val warmRouted = Hnsw.searchWarm(qs.filter(col("qid") === q0.getLong(0)),
        key, nShards = 8, k = 10, Metric.Dot, efSearch = 64,
        centroids = cents, routeProbe = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val localRouted = Hnsw.searchLocal(q0.getSeq[Float](1).toArray, key,
      nShards = 8, k = 10, Metric.Dot, efSearch = 64,
      centroids = cents, routeProbe = 2).toSeq
    assert(localRouted == warmRouted,
      s"routed in-process serve diverged: $localRouted vs $warmRouted")
    gt.unpersist(); big.unpersist()
  }

  test("warm serving path: identical results without re-reading the base, loud on cold") {
    val key = "hnswspec_warm"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val cold = rows(Hnsw.search(base, queries, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, efSearch = 32, nShards = 4, cacheKey = key))
    val warm = rows(Hnsw.searchWarm(queries, key, nShards = 4, k = 10,
      Metric.Dot, m = 8, efConstruction = 64, efSearch = 32))
    assert(cold == warm, "warm serving drifted from the build-path search")
    // a never-warmed key must fail loudly, not silently return nothing
    val ex = intercept[org.apache.spark.SparkException] {
      Hnsw.searchWarm(queries, "hnswspec_never_built", nShards = 4, k = 10,
        Metric.Dot, m = 8, efConstruction = 64, efSearch = 32).count()
    }
    assert(ex.getMessage.contains("no warmed hnsw graph")
      || Option(ex.getCause).exists(_.getMessage.contains("no warmed hnsw graph")))
  }

  test("hard-corpus frontier has a knee: recall < 1 at low efSearch, rises with ef") {
    // iid-unit data (full intrinsic dimension) concentrates distances, so
    // beam search must separate near-ties — the corpus class where the
    // recall-vs-efSearch trade is visible (the lowRank manifold reads 1.0
    // at every efSearch; recorded in BENCH_SCALE's hnsw_frontier_hard
    // at 1M: 0.37@16 → 0.97@256)
    val hard = SyntheticVectors.iidUnit(spark, 30000L, 384).cache()
    assert(hard.count() == 30000L)
    val qs = hard.filter(col("id") < 8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val gt = Search.groundTruth(hard, qs, 10, Metric.Dot).cache()
    val key = "hnswspec_hard_knee"
    def recall(ef: Int): Double =
      Ivf.meanRecall(Hnsw.search(hard, qs, k = 10, Metric.Dot, m = 16,
        efConstruction = 100, efSearch = ef, nShards = 4, cacheKey = key),
        gt, 10).collect()(0).getDouble(0)
    val r16 = recall(16)
    val r64 = recall(64)
    val r256 = recall(256)
    assert(r16 < 0.95, s"no knee: recall $r16 at efSearch=16 on the hard corpus")
    assert(r64 >= r16 - 1e-9 && r256 >= r64 - 1e-9,
      s"recall not monotone in efSearch: $r16, $r64, $r256")
    assert(r256 >= r16 + 0.1,
      s"efSearch buys no recall on the hard corpus: $r16 → $r256")
    Hnsw.invalidate(key)
    gt.unpersist(); hard.unpersist()
  }

  test("a11 oracle config: routed pruning on the fixture holds recall and cuts evals") {
    // EXACTLY the a11_hnsw_routed operating point (SparkEntry): fixture
    // embeddings, 8 coarse centroids as the shard router, routeProbe=4,
    // m=8/efC=64/efSearch=64 — recall vs full fan-out must hold while
    // half the shard graphs never see the query
    val dir001 = "/root/testdata/sf0.01"
    val fixBase = Tables.embeddings(spark, dir001)
      .select(col("vec_id").as("id"), col("embedding").as("vec")).cache()
    val qs = Tables.embeddings(spark, dir001).filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val gt = Search.groundTruth(fixBase, qs, 10, Metric.Dot).cache()
    val cents = Ivf.train(fixBase, nlist = 8, ntrain = 2000)
    val key = "hnswspec_a11_cfg"
    def recallAt(rp: Int, acc: Option[org.apache.spark.util.LongAccumulator]) =
      Ivf.meanRecall(Hnsw.searchRouted(fixBase, qs, cents, routeProbe = rp,
        k = 10, Metric.Dot, m = 8, efConstruction = 64, efSearch = 64,
        cacheKey = key, evalCounter = acc), gt, 10).collect()(0).getDouble(0)
    val accP = spark.sparkContext.longAccumulator
    val rPruned = recallAt(4, Some(accP))
    val accF = spark.sparkContext.longAccumulator
    val rFull = recallAt(8, Some(accF))
    assert(rFull >= rPruned - 1e-9, s"full fan-out below pruned: $rFull < $rPruned")
    // threshold = measured-minus-margin under the r9 trainer (restart
    // selection by retrieval-recall proxy for the coarse quantizer — see
    // Kmeans.fitLocal; the measured value is in the message; training is
    // seeded-deterministic, so the margin covers only future code drift)
    assert(rPruned >= 0.74, s"a11-config routed recall $rPruned (measured 0.7550)")
    assert(accP.value * 3 < accF.value * 2, // probing 4/8 shards: evals ≤ ~2/3 of full
      s"routeProbe=4/8 evals ${accP.value} not below full ${accF.value}")
    gt.unpersist(); fixBase.unpersist()
  }

  test("graph cache is bounded: LRU evicts whole keys, invalidate frees shards") {
    // distinct keys so this test owns its cache entries; 4 shards per key
    def build(key: String): Unit =
      Hnsw.search(base, queries, k = 5, Metric.Dot, m = 8,
        efConstruction = 64, efSearch = 16, nShards = 4, cacheKey = key).count()
    val keys = (0 until 6).map(i => s"hnswspec_bound_$i")
    keys.foreach(build)
    // default bound: 4 cacheKeys × 4 shards — cycling 6 keys through a
    // 4-key LRU must NOT accumulate 6 keys' worth of graphs
    assert(Hnsw.cacheSize <= 4 * 4 + 8, // +8: other suites' keys may coexist
      s"cache grew past the key bound: ${Hnsw.cacheSize} shard graphs live")
    // the two least-recently-used keys were evicted: their warm path is cold
    val ex = intercept[org.apache.spark.SparkException] {
      Hnsw.searchWarm(queries, keys.head, nShards = 4, k = 5,
        Metric.Dot, m = 8, efConstruction = 64, efSearch = 16).count()
    }
    assert(ex.getMessage.contains("no warmed hnsw graph")
      || Option(ex.getCause).exists(_.getMessage.contains("no warmed hnsw graph")))
    // explicit invalidation frees a live key's shards
    val live = keys.last
    val before = Hnsw.cacheSize
    Hnsw.invalidate(live)
    assert(Hnsw.cacheSize == before - 4,
      s"invalidate($live) freed ${before - Hnsw.cacheSize} of 4 shard graphs")
  }

  test("graph store round-trips: heap and mapped loads serve identically") {
    val rows = SyntheticVectors.lowRankFast(spark, 2000, 64, intrinsic = 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val g = Hnsw.probeBuild(rows, m = 8, efC = 64, seed = 42L, Metric.Dot)
    val qs = rows.take(16).map(_._2)
    val want = qs.map(g.search(_, 10, 64).toSeq)
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_store").toString
    g.writeStore(s"$tmp/g.graph")
    // heap load: byte-identical payload, identical results
    val heap = Hnsw.readStore(s"$tmp/g.graph")
    assert(qs.map(heap.search(_, 10, 64).toSeq).sameElements(want),
      "heap-loaded graph diverged from the original")
    // mapped load: off-heap payload through the BB kernel twins —
    // results must still be IDENTICAL (bitwise kernel contract)
    val mapped = Hnsw.readStore(s"$tmp/g.graph", mapped = true)
    assert(qs.map(mapped.search(_, 10, 64).toSeq).sameElements(want),
      "mapped graph diverged from the original")
    // I8 on a mapped graph reads a v2+ store's sidecar in place through
    // the bitwise BB twins: equal to I8 on the heap original
    g.quantizeStore()
    g.writeStore(s"$tmp/g8.graph")
    val mapped8 = Hnsw.readStore(s"$tmp/g8.graph", mapped = true)
    assert(qs.map(mapped8.search(_, 10, 64, Hnsw.Flavor.I8).toSeq)
      .sameElements(qs.map(g.search(_, 10, 64, Hnsw.Flavor.I8).toSeq)),
      "mapped I8 diverged from the heap original's I8")
    // mapped graphs are read-only
    intercept[IllegalArgumentException] {
      mapped.insert(99999L, rows.head._2)
    }
    // group save/restore: warmFromDisk re-registers under the same keys
    val key = "store_spec_group"
    val df = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val warmQ = queries
    val viaBuild = Hnsw.search(df, warmQ, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, nShards = 2, cacheKey = key).collect()
      .map(_.toSeq).toSet
    val nSaved = Hnsw.saveWarmed(key, s"$tmp/group")
    assert(nSaved == 2)
    Hnsw.invalidate(key)
    assert(Hnsw.warmFromDisk(key, s"$tmp/group", mapped = true) == 2)
    val viaDisk = Hnsw.searchWarm(warmQ, key, nShards = 2, k = 10,
      Metric.Dot, m = 8, efConstruction = 64).collect().map(_.toSeq).toSet
    assert(viaDisk == viaBuild, "disk-restored group diverged from the build")
    Hnsw.invalidate(key)
  }

  test("serve expansion: CSR walk == ragged-links walk, before and after re-freeze") {
    // freeze()'s layer-0 CSR only changes where the walk reads a node's
    // layer-0 neighbors (the flat CSR instead of the ragged links; the
    // contract flavor adds its value-neutral touch pipeline there). Both
    // feed the one expansion the same neighbors in the same order, so on
    // EVERY flavor the two walks admit the same values in the same order:
    // identical results and an identical evals delta. dim 32 keeps the
    // tiled kernels live; queries are non-members.
    val rows = SyntheticVectors.lowRankFast(spark, 3000, 32, intrinsic = 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val qs = SyntheticVectors.lowRankFast(spark, 64, 32, intrinsic = 16, seed = 7L)
      .collect().map(_.getSeq[Float](1).toArray)
    for (metric <- Seq(Metric.L2, Metric.Dot)) {
      val g = Hnsw.probeBuild(rows, m = 8, efC = 64, seed = 42L, metric)
      g.quantizeStore()
      for (fl <- Seq(Hnsw.Flavor.Contract, Hnsw.Flavor.I8)) {
        def serve() = {
          val before = g.evals
          val res = qs.map(g.search(_, 10, 64, fl).toSeq).toSeq
          (res, g.evals - before)
        }
        val csr = serve()
        g.dropCsr()
        assert(serve() == csr, s"$metric/$fl: ragged walk diverged from the CSR walk")
        g.freeze()
        assert(serve() == csr, s"$metric/$fl: re-frozen CSR walk diverged")
      }
    }
  }

  test("routed serve from a mapped store == direct routed search (a14 composition)") {
    // the a14 oracle query's exact shape: build the routed group, persist
    // it, drop the in-JVM graphs, restore MAPPED, serve via searchWarm's
    // routed static pruning — every row must match the direct plan
    val router = Ivf.buildOrGet(spark, base, dir, nlist = 8, ntrain = 2000)
    val key = "hnswspec_store_routed"
    val direct = Hnsw.searchRouted(base, queries, router.centroids,
      routeProbe = 4, k = 10, Metric.Dot, m = 8, efConstruction = 64,
      efSearch = 64, cacheKey = key).collect().map(_.toSeq).toSet
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_routed_store").toString
    Hnsw.saveWarmed(key, tmp)
    Hnsw.invalidate(key)
    // prefault faults mapped pages at warm time — results must be
    // untouched (it only moves page faults, never bytes)
    Hnsw.warmFromDisk(key, tmp, mapped = true, prefault = true)
    val viaStore = Hnsw.searchWarm(queries, key, nShards = 8, k = 10,
      Metric.Dot, m = 8, efConstruction = 64, efSearch = 64,
      centroids = router.centroids, routeProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(viaStore == direct,
      "store-restored routed serve diverged from the direct routed search")
    Hnsw.invalidate(key)
  }

  test("i8-quantized serve flavor: high overlap, exact returned scores") {
    val rows = SyntheticVectors.lowRankFast(spark, 3000, 96, intrinsic = 24)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val g = Hnsw.probeBuild(rows, m = 8, efC = 64, seed = 42L, Metric.Dot)
    intercept[IllegalArgumentException](g.search(rows.head._2, 5, 32, Hnsw.Flavor.I8))
    g.quantizeStore()
    val qs = rows.take(32).map(_._2)
    var overlap = 0
    qs.foreach { q =>
      val got = g.search(q, 10, 64, Hnsw.Flavor.I8)
      val want = g.search(q, 10, 64)
      overlap += got.map(_._1).toSet.intersect(want.map(_._1).toSet).size
      // re-rank contract: scores of common ids are EXACT (the contract
      // kernel rescoring), so they must equal the contract path's bits
      val wantScores = want.toMap
      got.foreach { case (id, sc) =>
        wantScores.get(id).foreach(w => assert(w == sc,
          s"i8 re-ranked score for $id not exact: $sc vs $w"))
      }
    }
    // quantization may drop true neighbors the beam never sees — gate a
    // floor well above chance, not identity (recall-gated flavor)
    assert(overlap >= (32 * 10 * 0.9).toInt,
      s"i8 flavor overlap ${overlap / 320.0} below the 0.9 gate")
    // v2 store: the sidecar persists WITH the graph — restored graphs
    // serve the quantized flavor with NO quantizeStore() call, heap
    // codes or mapped codes (the BB kernel twins are bitwise, so all
    // three walks must agree exactly)
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_i8").toString
    g.writeStore(s"$tmp/g.graph")
    val want8 = g.search(qs.head, 10, 64, Hnsw.Flavor.I8).toSeq
    val heap = Hnsw.readStore(s"$tmp/g.graph")
    assert(heap.search(qs.head, 10, 64, Hnsw.Flavor.I8).toSeq == want8,
      "heap-restored i8 sidecar diverged from the original walk")
    val mapped = Hnsw.readStore(s"$tmp/g.graph", mapped = true)
    assert(mapped.search(qs.head, 10, 64, Hnsw.Flavor.I8).toSeq == want8,
      "mapped i8 walk diverged from heap i8 walk")
    // and a store written WITHOUT the sidecar still quantizes on demand
    val bare = Hnsw.probeBuild(rows, m = 8, efC = 64, seed = 42L, Metric.Dot)
    bare.writeStore(s"$tmp/bare.graph")
    val bareMapped = Hnsw.readStore(s"$tmp/bare.graph", mapped = true)
    intercept[IllegalArgumentException](
      bareMapped.search(qs.head, 10, 64, Hnsw.Flavor.I8))
    bareMapped.quantizeStore()
    assert(bareMapped.search(qs.head, 10, 64, Hnsw.Flavor.I8).toSeq == want8,
      "on-demand quantization over a mapped bare store diverged")
  }

  test("truncated store files fail loudly, never misparse (r15)") {
    val rows = SyntheticVectors.lowRankFast(spark, 500, 32, intrinsic = 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val g = Hnsw.probeBuild(rows, m = 8, efC = 64, seed = 42L, Metric.Dot)
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_trunc").toString
    val full = java.nio.file.Paths.get(s"$tmp/g.graph")
    g.writeStore(full.toString)
    val bytes = java.nio.file.Files.readAllBytes(full)
    // the v3 prefix is 20 bytes (magic, version, hdrLen, hdrCrc, payCrc);
    // hdrLen still sits at offset 8 — cut mid-header and mid-payload
    // (the two regions the short-write fix hardened)
    val hdrLen = java.nio.ByteBuffer.wrap(bytes, 8, 4).getInt
    def truncated(to: Int): String = {
      val p = java.nio.file.Paths.get(s"$tmp/t$to.graph")
      java.nio.file.Files.write(p, java.util.Arrays.copyOf(bytes, to))
      p.toString
    }
    val midHeader = truncated(20 + hdrLen / 2)
    val ex1 = intercept[IllegalArgumentException](Hnsw.readStore(midHeader))
    assert(ex1.getMessage.contains("truncated"), ex1.getMessage)
    // mid-payload truncation trips the v3 payload CRC first (same
    // loud-failure contract; the r15 "truncated payload" require still
    // backstops verification-skipped restores)
    val midPayload = truncated(20 + hdrLen + (bytes.length - 20 - hdrLen) / 2)
    val ex2 = intercept[IllegalArgumentException](Hnsw.readStore(midPayload))
    assert(ex2.getMessage.contains("truncated") || ex2.getMessage.contains("CRC"),
      ex2.getMessage)
    // mapped load of a truncated payload must also fail loudly (the
    // READ_ONLY map cannot extend the file to the recorded length)
    intercept[Exception](Hnsw.readStore(midPayload, mapped = true))
  }

  test("store v3 checksums: corruption fails loudly, v2 stays readable (r16)") {
    val rows = SyntheticVectors.lowRankFast(spark, 500, 32, intrinsic = 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val g = Hnsw.probeBuild(rows, m = 8, efC = 64, seed = 42L, Metric.Dot)
    g.quantizeStore() // i8 sidecar in the payload region too
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_crc").toString
    g.writeStore(s"$tmp/g.graph")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/g.graph"))
    val hdrLen = java.nio.ByteBuffer.wrap(bytes, 8, 4).getInt
    val want = g.search(rows.head._2, 10, 64).toSeq
    def flipped(at: Int, name: String): String = {
      val b = bytes.clone()
      b(at) = (b(at) ^ 0x40).toByte
      val p = s"$tmp/$name.graph"
      java.nio.file.Files.write(java.nio.file.Paths.get(p), b)
      p
    }
    // a bit-flip mid-payload deserialized SILENTLY in v2 (the r15
    // verdict's store-integrity note) — v3 fails loudly, heap and mapped
    val midPay = flipped(20 + hdrLen + (bytes.length - 20 - hdrLen) / 2, "pay")
    val e1 = intercept[IllegalArgumentException](Hnsw.readStore(midPay))
    assert(e1.getMessage.contains("CRC"), e1.getMessage)
    intercept[IllegalArgumentException](Hnsw.readStore(midPay, mapped = true))
    // a bit-flip mid-header fails on the (always-verified) header CRC
    val midHdr = flipped(20 + hdrLen / 2, "hdr")
    val e2 = intercept[IllegalArgumentException](Hnsw.readStore(midHdr))
    assert(e2.getMessage.contains("CRC"), e2.getMessage)
    // the payload pass always runs: a flipped byte anywhere in the
    // payload — its first and its last byte too — fails readStore, heap
    // and mapped, while the intact file still serves
    for ((at, name) <- Seq((20 + hdrLen, "payFirst"), (bytes.length - 1, "payLast"))) {
      val f = flipped(at, name)
      val e = intercept[IllegalArgumentException](Hnsw.readStore(f))
      assert(e.getMessage.contains("payload CRC"), e.getMessage)
      intercept[IllegalArgumentException](Hnsw.readStore(f, mapped = true))
    }
    assert(Hnsw.readStore(s"$tmp/g.graph").search(rows.head._2, 10, 64)
      .toSeq == want)
    // v2 compatibility: a v2 file is the same header+payload behind a
    // 12-byte prefix with no CRCs — synthesize one from the v3 bytes and
    // require identical serving (old stores keep working, unchecked)
    val v2 = java.nio.ByteBuffer.allocate(bytes.length - 8)
    v2.putInt(0x47465448); v2.putInt(2); v2.putInt(hdrLen)
    v2.put(bytes, 20, bytes.length - 20)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/v2.graph"),
      v2.array())
    val g2 = Hnsw.readStore(s"$tmp/v2.graph")
    assert(g2.search(rows.head._2, 10, 64).toSeq == want,
      "v2-format store diverged from the v3 original")
    assert(g2.search(rows.head._2, 10, 64, Hnsw.Flavor.I8).toSeq ==
      g.search(rows.head._2, 10, 64, Hnsw.Flavor.I8).toSeq)
  }

  test("generation-unique shard files: crash-safe re-save, old gen swept (r16)") {
    val key = "gen_save_spec"
    val tmpP = java.nio.file.Files.createTempDirectory("hnsw_gen")
    val tmp = tmpP.toString
    val want = Hnsw.search(base, queries, k = 5, Metric.Dot, m = 8,
      efConstruction = 64, nShards = 2, cacheKey = key).collect()
      .map(_.toSeq).toSet
    def files(): Set[String] = {
      val ls = java.nio.file.Files.list(tmpP)
      try {
        val b = Set.newBuilder[String]
        ls.forEach(p => b += p.getFileName.toString)
        b.result()
      } finally ls.close()
    }
    assert(Hnsw.saveWarmed(key, tmp) == 2)
    assert(files().count(_.matches("shard_\\d+\\.g0\\.graph")) == 2)
    // simulated crash mid-RE-save: a new-generation shard file lands but
    // the MANIFEST never moved — the old manifest references only
    // untouched gen-0 files, so the restore is the complete old
    // generation, never a silent mix (the r15 ADVICE hazard: same-name
    // overwrites made exactly that mix possible)
    java.nio.file.Files.write(tmpP.resolve("shard_0.g1.graph"),
      Array[Byte](1, 2, 3))
    Hnsw.invalidate(key)
    assert(Hnsw.warmFromDisk(key, tmp) == 2)
    val viaOld = Hnsw.searchWarm(queries, key, nShards = 2, k = 5,
      Metric.Dot, m = 8, efConstruction = 64).collect().map(_.toSeq).toSet
    assert(viaOld == want, "post-crash restore diverged from the old generation")
    // a completed re-save: new generation (PAST the stray g1), manifest
    // atomically swapped, prior generation + stray partials swept
    assert(Hnsw.saveWarmed(key, tmp) == 2)
    val after = files()
    assert(after.count(_.matches("shard_\\d+\\.g2\\.graph")) == 2, after)
    assert(!after.exists(_.matches("shard_\\d+\\.g[01]\\.graph")),
      s"prior generation not swept: $after")
    Hnsw.invalidate(key)
    assert(Hnsw.warmFromDisk(key, tmp, mapped = true) == 2)
    val viaNew = Hnsw.searchWarm(queries, key, nShards = 2, k = 5,
      Metric.Dot, m = 8, efConstruction = 64).collect().map(_.toSeq).toSet
    assert(viaNew == want)
    Hnsw.invalidate(key)
  }

  test("measured flavor crossover: calibration drives the auto pick (r16)") {
    val rows = SyntheticVectors.lowRankFast(spark, 2000, 64, intrinsic = 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val g = Hnsw.probeBuild(rows, m = 8, efC = 64, seed = 42L, Metric.Dot)
    // uncalibrated: the byte heuristic decides (r15 behavior)
    assert(g.measuredCrossover == -1)
    intercept[IllegalArgumentException](g.calibrateFlavor()) // needs sidecar
    g.quantizeStore()
    // nothing to measure → nothing recorded: no timed rep, no sample
    // query, or no rung must fail loudly, not store Int.MaxValue
    intercept[IllegalArgumentException](g.calibrateFlavor(reps = 0))
    intercept[IllegalArgumentException](g.calibrateFlavor(sampleQ = 0))
    intercept[IllegalArgumentException](g.calibrateFlavor(Array.empty[Int]))
    assert(g.measuredCrossover == -1)
    val cross = g.calibrateFlavor(Array(8, 32, 128), sampleQ = 8, reps = 1)
    assert(cross == g.measuredCrossover)
    // the measured crossover REPLACES the byte heuristic: autoI8 is now
    // a pure threshold on ef — monotone, and immune to the -D override
    val saved = Hnsw.autoI8Bytes
    try {
      Hnsw.autoI8Bytes = 0L // would force i8 under the heuristic
      for (ef <- Seq(8, 32, 128))
        assert(g.autoI8(ef) == (ef >= cross), s"ef=$ef cross=$cross")
    } finally Hnsw.autoI8Bytes = saved
    // group-level: calibrateWarmed touches every sidecar'd graph, and
    // the auto serve still answers (with whichever flavor won)
    val key = "calib_spec"
    Hnsw.search(base, queries, k = 5, Metric.Dot, m = 8,
      efConstruction = 64, nShards = 2, cacheKey = key).count()
    intercept[IllegalStateException](Hnsw.calibrateWarmed("no_such_key"))
    Hnsw.quantizeWarmed(key)
    assert(Hnsw.calibrateWarmed(key, Array(16, 64), sampleQ = 4) == 2)
    val q = queries.select("qvec").head().getSeq[Float](0).toArray
    val auto = Hnsw.searchLocal(q, key, nShards = 2, k = 5, Metric.Dot,
      m = 8, efConstruction = 64, flavor = Hnsw.Flavor.Auto).toSeq
    val contract = Hnsw.searchLocal(q, key, nShards = 2, k = 5, Metric.Dot,
      m = 8, efConstruction = 64).toSeq
    val i8 = Hnsw.searchLocal(q, key, nShards = 2, k = 5, Metric.Dot,
      m = 8, efConstruction = 64, flavor = Hnsw.Flavor.I8).toSeq
    assert(auto == contract || auto == i8,
      "auto pick served neither measured flavor")
    Hnsw.invalidate(key)
  }

  test("searchWarm dispatch is collision-free: one probed shard per task (r15)") {
    // the hash-repartition dispatch could put two probed shards in one
    // task; the positional dispatch may not — gate the invariant directly
    val shards = Seq(3, 17, 42, 511, 1023, 7, 99)
    val slices = Hnsw.dispatchShards(spark, shards.sorted).rdd.glom().collect()
    assert(slices.length == shards.size)
    assert(slices.forall(_.length == 1),
      s"collided tasks: ${slices.map(_.toSeq).mkString(";")}")
    assert(slices.flatten.toSet == shards.toSet)
    // and the serving path over it still matches the direct plan
    val key = "dispatch_spec"
    val want = Hnsw.search(base, queries, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, nShards = 4, cacheKey = key).collect()
      .map(_.toSeq).toSet
    val got = Hnsw.searchWarm(queries, key, nShards = 4, k = 10,
      Metric.Dot, m = 8, efConstruction = 64).collect().map(_.toSeq).toSet
    assert(got == want)
    Hnsw.invalidate(key)
  }

  test("searchLocal allowMissing mirrors searchWarm's empty-cell semantics (r15)") {
    val key = "local_missing_spec"
    Hnsw.search(base, queries, k = 5, Metric.Dot, m = 8,
      efConstruction = 64, nShards = 2, cacheKey = key).count()
    val q = queries.select("qvec").head().getSeq[Float](0).toArray
    // nShards=3 probes shard 2, which was never built: loud by default…
    intercept[IllegalArgumentException] {
      Hnsw.searchLocal(q, key, nShards = 3, k = 5, Metric.Dot, m = 8,
        efConstruction = 64)
    }
    // …and a no-op contribution with allowMissing, matching the warm result
    val want = Hnsw.searchLocal(q, key, nShards = 2, k = 5, Metric.Dot,
      m = 8, efConstruction = 64).toSeq
    val got = Hnsw.searchLocal(q, key, nShards = 3, k = 5, Metric.Dot,
      m = 8, efConstruction = 64, allowMissing = true).toSeq
    assert(got == want)
    Hnsw.invalidate(key)
  }

  test("auto serve flavor picks per graph size and honors the override (r15)") {
    val key = "auto_flavor_spec"
    Hnsw.search(base, queries, k = 5, Metric.Dot, m = 8,
      efConstruction = 64, nShards = 2, cacheKey = key).count()
    Hnsw.quantizeWarmed(key)
    val q = queries.select("qvec").head().getSeq[Float](0).toArray
    def serve(flavor: Hnsw.Flavor) =
      Hnsw.searchLocal(q, key, nShards = 2, k = 5, Metric.Dot, m = 8,
        efConstruction = 64, flavor = flavor).toSeq
    val saved = Hnsw.autoI8Bytes
    try {
      // tiny fixture graphs sit far below any sane threshold → contract
      Hnsw.autoI8Bytes = Long.MaxValue
      assert(serve(Hnsw.Flavor.Auto) == serve(Hnsw.Flavor.Contract))
      // force the crossover to zero → the auto pick serves the i8 walk
      Hnsw.autoI8Bytes = 0L
      assert(serve(Hnsw.Flavor.Auto) == serve(Hnsw.Flavor.I8))
    } finally Hnsw.autoI8Bytes = saved
    Hnsw.invalidate(key)
  }

  test("saveWarmed re-save is generation-atomic: no tmp leftovers, old stores replaced (r15)") {
    val key = "atomic_save_spec"
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_atomic").toString
    Hnsw.search(base, queries, k = 5, Metric.Dot, m = 8,
      efConstruction = 64, nShards = 2, cacheKey = key).count()
    assert(Hnsw.saveWarmed(key, tmp) == 2)
    // unconditional re-save over the existing dir (the ADVICE hazard)
    assert(Hnsw.saveWarmed(key, tmp) == 2)
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      .map(_.getFileName.toString).toArray.map(_.toString).toSet
    assert(!names.exists(_.endsWith(".tmp")), s"tmp leftovers: $names")
    assert(names.contains("MANIFEST"))
    Hnsw.invalidate(key)
    assert(Hnsw.warmFromDisk(key, tmp) == 2)
    Hnsw.invalidate(key)
  }

  test("self-match: a base vector's own id is its rank-1 hit") {
    // L2 metric: the self pair is distance 0, the unconditional minimum —
    // any miss is a graph reachability bug, not a metric artifact
    val hits = Hnsw.search(base, queries, k = 1, Metric.L2, m = 8,
      efConstruction = 64, efSearch = 32, nShards = 4)
      .filter(col("rank") === 1).select("qid", "id").collect()
    assert(hits.length == 12)
    assert(hits.forall(r => r.getLong(0) == r.getLong(1)),
      s"self-match misses: ${hits.filter(r => r.getLong(0) != r.getLong(1)).mkString(",")}")
  }
}
