package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.ops.{Hnsw, Metric, Search}
import graft.tools.SyntheticVectors

/** Gates for incremental HNSW maintenance (r16): upsert into warmed
  * groups, tombstone deletes, the v4 store round-trip, and compaction.
  * The reference's index lifecycle is build-then-serve over a frozen
  * file (`/root/reference/apps/nvdb_hnsw_build.cpp:38-49`); a production
  * corpus mutates, so the maintenance surface is additive — but its
  * SEMANTICS are pinned exactly: append-only upserts must equal the
  * canonical from-scratch build bit-for-bit, deletes must never leak a
  * tombstoned id, and compaction must equal the canonical build on the
  * live set.
  */
class HnswUpsertSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  /** Task failures surface wrapped (SparkException → cause chain); the
    * gate is on the ORIGINAL message, wherever it sits in the chain.
    */
  private def msgChain(ex: Throwable): String = {
    val sb = new StringBuilder
    var t: Throwable = ex
    while (t != null) { sb.append(t.getMessage).append('\n'); t = t.getCause }
    sb.toString
  }

  private def rows(n: Int, dim: Int = 32): Array[(Long, Array[Float])] =
    SyntheticVectors.lowRankFast(spark, n, dim, intrinsic = 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Deep structural equality: same nodes in the same internal order,
    * same levels, same adjacency at every layer — the strongest form of
    * "incremental insert took the same path the build would have".
    */
  private def assertGraphIdentical(a: graft.ops.Hnsw.ShardGraph,
                                   b: graft.ops.Hnsw.ShardGraph): Unit = {
    assert(a.size == b.size, s"node counts differ: ${a.size} vs ${b.size}")
    assert(a.externalIds.toSeq == b.externalIds.toSeq, "id order differs")
    var i = 0
    while (i < a.size) {
      assert(a.levelOfNode(i) == b.levelOfNode(i), s"level differs at $i")
      var l = 0
      while (l <= a.levelOfNode(i)) {
        assert(a.neighbors(i, l).toSeq == b.neighbors(i, l).toSeq,
          s"adjacency differs at node $i layer $l")
        l += 1
      }
      i += 1
    }
  }

  test("append-only upsert is bit-identical to the from-scratch build") {
    val all = rows(500)
    val (old, fresh) = all.splitAt(350)
    val inc = Hnsw.probeBuild(old, m = 8, efC = 64, seed = 42L, Metric.Dot)
    fresh.foreach { case (id, v) => inc.insert(id, v) }
    inc.freeze()
    val full = Hnsw.probeBuild(all, m = 8, efC = 64, seed = 42L, Metric.Dot)
    assertGraphIdentical(inc, full)
    val q = all(7)._2
    assert(inc.search(q, 10, 64).toSeq == full.search(q, 10, 64).toSeq)
  }

  test("deletes never leak, results stay full-k via ef widening") {
    val all = rows(500)
    val g = Hnsw.probeBuild(all, m = 8, efC = 64, seed = 42L, Metric.Dot)
    g.quantizeStore()
    val q = all(3)._2
    // tombstone the ENTIRE pre-delete top-10 — the hardest filter case:
    // every beam slot the walk would emit is dead, so only the ef-retry
    // loop can refill the result set
    val top = g.search(q, 10, 64).map(_._1)
    top.foreach { id => assert(g.delete(id), s"delete($id) found nothing") }
    assert(g.deletedCount == 10 && g.liveSize == 490)
    // idempotent: a second delete of the same id is a no-op, not a recount
    assert(!g.delete(top.head))
    assert(g.deletedCount == 10)
    val after = g.search(q, 10, 64)
    assert(after.length == 10, s"only ${after.length} live results")
    assert(after.map(_._1).toSet.intersect(top.toSet).isEmpty,
      "a tombstoned id was emitted")
    // exactness of the refilled set: must match the brute-force top-10
    // over the live rows with high overlap (tiny graph, near-exact walk)
    val live = all.filterNot(r => top.contains(r._1))
    val want = live.map { case (id, v) =>
      (id, graft.functions.expressions.VectorKernels.dot(q, v))
    }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val overlap = after.map(_._1).count(want.contains)
    assert(overlap >= 8, s"live recall after delete: $overlap/10")
    // the i8 flavor obeys the same tombstone contract
    val after8 = g.search(q, 10, 64, Hnsw.Flavor.I8)
    assert(after8.length == 10)
    assert(after8.map(_._1).toSet.intersect(top.toSet).isEmpty,
      "the i8 flavor emitted a tombstoned id")
  }

  test("upsert-replace: tombstone old twin, newest write wins") {
    val all = rows(300)
    val g = Hnsw.probeBuild(all, m = 8, efC = 64, seed = 42L, Metric.Dot)
    val q = all(11)._2
    val victim = all(250)._1
    assert(g.delete(victim))
    g.insert(victim, q.clone()) // re-point the id at the query itself
    g.freeze()
    assert(g.containsLive(victim))
    assert(g.liveSize == 300 && g.deletedCount == 1)
    val top = g.search(q, 3, 64)
    assert(top.map(_._1).contains(victim),
      s"replaced vector not served: ${top.toSeq}")
  }

  test("store v4 round-trips tombstones (heap + mapped), i8 included") {
    val all = rows(400)
    val g = Hnsw.probeBuild(all, m = 8, efC = 64, seed = 42L, Metric.Dot)
    g.quantizeStore()
    val q = all(5)._2
    val dead = g.search(q, 5, 64).map(_._1)
    dead.foreach(g.delete)
    val want = g.search(q, 10, 64).toSeq
    val want8 = g.search(q, 10, 64, Hnsw.Flavor.I8).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("hnsw_v4").toString
    g.writeStore(s"$tmp/g.graph")
    for (mapped <- Seq(false, true)) {
      val r = Hnsw.readStore(s"$tmp/g.graph", mapped = mapped)
      assert(r.deletedCount == dead.length, s"mapped=$mapped lost tombstones")
      assert(r.liveSize == all.length - dead.length)
      assert(r.search(q, 10, 64).toSeq == want, s"mapped=$mapped diverged")
      assert(r.search(q, 10, 64, Hnsw.Flavor.I8).toSeq == want8,
        s"mapped=$mapped i8 flavor diverged")
      assert(r.search(q, 10, 64).map(_._1).toSet
        .intersect(dead.toSet).isEmpty)
    }
  }

  test("compaction equals the canonical build on the live set") {
    val all = rows(400)
    val g = Hnsw.probeBuild(all, m = 8, efC = 64, seed = 42L, Metric.Dot)
    val dead = all.filter(_._1 % 7 == 3).map(_._1)
    dead.foreach(g.delete)
    val c = g.compacted()
    assert(c.deletedCount == 0 && c.liveSize == all.length - dead.length)
    val live = all.filterNot(r => dead.contains(r._1))
    val canon = Hnsw.probeBuild(live, m = 8, efC = 64, seed = 42L, Metric.Dot)
    assertGraphIdentical(c, canon)
  }

  test("group upsert+delete: warm serving equals a cold build on the final corpus") {
    import spark.implicits._
    val all = rows(500)
    val (old, fresh) = all.splitAt(375)
    val toDF = (rs: Array[(Long, Array[Float])]) =>
      spark.createDataset(rs.toIndexedSeq).toDF("id", "vec")
    val qs = spark.createDataset(all.take(8).toIndexedSeq).toDF("qid", "qvec")
    val key = "upsertspec_group"
    Hnsw.invalidate(key)
    // build on the old rows, then maintain the warmed group
    Hnsw.search(toDF(old), qs, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, efSearch = 64, nShards = 4, cacheKey = key).count()
    val stats = Hnsw.upsertWarmed(toDF(fresh), key, nShards = 4,
      Metric.Dot, m = 8, efConstruction = 64).collect()
    assert(stats.map(_.getLong(1)).sum == fresh.length, "upsert count off")
    assert(stats.forall(_.getLong(2) == 0L), "append-only batch replaced rows")
    val delIds = all.filter(_._1 % 9 == 4).map(_._1)
    val deleted = Hnsw.deleteWarmed(spark, key, delIds, nShards = 4)
    assert(deleted == delIds.length, s"deleted $deleted of ${delIds.length}")
    assert(Hnsw.liveCountWarmed(key) == all.length - delIds.length)
    val warm = Hnsw.searchWarm(qs, key, nShards = 4, k = 10, Metric.Dot,
      m = 8, efConstruction = 64, efSearch = 64)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(warm.forall { case (_, id, _) => !delIds.contains(id) },
      "warm serving leaked a tombstoned id")
    // per-shard append-only (fresh ids all above old ids) → each graph is
    // bit-identical to the cold build's, so a cold hash-sharded search
    // over (union minus deletes) must match only UP TO the deletes'
    // effect on the walk; the exact-equality anchor is compaction:
    Hnsw.compactDispatched(spark, key, nShards = 4)
    assert(Hnsw.liveCountWarmed(key) == all.length - delIds.length)
    val compacted = Hnsw.searchWarm(qs, key, nShards = 4, k = 10, Metric.Dot,
      m = 8, efConstruction = 64, efSearch = 64)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val liveDF = toDF(all.filterNot(r => delIds.contains(r._1)))
    val cold = Hnsw.search(liveDF, qs, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, efSearch = 64, nShards = 4)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(compacted == cold,
      "compacted warm group diverged from the cold build on the live corpus")
    Hnsw.invalidate(key)
  }

  test("cross-shard replace: a moved vector's stale twin is tombstoned " +
    "in its OLD cell (r16 review fix)") {
    import spark.implicits._
    // centroid router with two far-apart cells; the victim id starts in
    // cell 0 and its UPDATED vector routes to cell 1 — only a group-wide
    // replace pre-pass can find the stale twin (the destination task
    // never sees cell 0's graph)
    val dim = 16
    val nearA = Array.tabulate(40)(i =>
      ((i.toLong, Array.tabulate(dim)(d => (i * dim + d) % 7 * 0.01f))))
    val nearB = Array.tabulate(40)(i =>
      ((100L + i, Array.tabulate(dim)(d => 50f + (i * dim + d) % 7 * 0.01f))))
    val centroids = Array(Array.fill(dim)(0f), Array.fill(dim)(50f))
    val all = nearA ++ nearB
    val toDF = (rs: Array[(Long, Array[Float])]) =>
      spark.createDataset(rs.toIndexedSeq).toDF("id", "vec")
    val qs = spark.createDataset(Seq((0L, Array.fill(dim)(50f))))
      .toDF("qid", "qvec")
    val key = "upsertspec_crossshard"
    Hnsw.invalidate(key)
    Hnsw.searchRouted(toDF(all), qs, centroids, routeProbe = 2, k = 5,
      Metric.Dot, m = 8, efConstruction = 64, efSearch = 32,
      cacheKey = key).count()
    // replace id 7 (cell 0) with a vector that routes to cell 1
    val moved = Array((7L, Array.fill(dim)(50.5f)))
    val stats = Hnsw.upsertWarmed(toDF(moved), key, nShards = 2, Metric.Dot,
      m = 8, efConstruction = 64, centroids = centroids).collect()
    assert(stats.map(_.getLong(2)).sum == 1L,
      "the moved id's stale twin was not counted as replaced")
    assert(Hnsw.liveCountWarmed(key) == all.length,
      "stale twin left live in the old cell (live count over-counts)")
    // a query near cell 0 must NOT return id 7 (its old vector is dead),
    // and a query near cell 1 must find the new vector
    val qA = spark.createDataset(Seq((0L, nearA(7)._2))).toDF("qid", "qvec")
    val hitsA = Hnsw.searchWarm(qA, key, nShards = 2, k = 10, Metric.Dot,
      m = 8, efConstruction = 64, efSearch = 32, centroids = centroids,
      routeProbe = 2, allowMissing = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!hitsA.contains(7L) || {
      // id 7 may legitimately appear via its NEW vector; assert the
      // SCORE matches the new vector, not the old one
      val s7 = Hnsw.searchWarm(qA, key, nShards = 2, k = 10, Metric.Dot,
        m = 8, efConstruction = 64, efSearch = 32, centroids = centroids,
        routeProbe = 2, allowMissing = true)
        .filter(col("id") === 7).select("score").collect()
        .headOption.map(_.getDouble(0))
      val wantNew = graft.functions.expressions.VectorKernels
        .dot(nearA(7)._2, moved(0)._2)
      s7.forall(s => math.abs(s - wantNew) < 1e-3)
    }, "old-cell query served the stale twin's vector")
    val hitsB = Hnsw.searchWarm(qs, key, nShards = 2, k = 3, Metric.Dot,
      m = 8, efConstruction = 64, efSearch = 32, centroids = centroids,
      routeProbe = 1, allowMissing = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hitsB.contains(7L), "moved vector not served from its new cell")
    Hnsw.invalidate(key)
  }

  test("insert extends an existing i8 sidecar bit-consistently") {
    // a quantized group must stay servable across upserts without an
    // n·dim re-quantize: insert writes the new row's codes through the
    // same F7 kernels quantizeStore uses, so an append-only insert into
    // a quantized graph must serve the i8 flavor IDENTICALLY to quantizing
    // the union graph from scratch (the graphs themselves are
    // bit-identical by the append-only gate above)
    val all = rows(400)
    val (old, fresh) = all.splitAt(320)
    val inc = Hnsw.probeBuild(old, m = 8, efC = 64, seed = 42L, Metric.Dot)
    inc.quantizeStore()
    fresh.foreach { case (id, v) => inc.insert(id, v) }
    inc.freeze()
    val full = Hnsw.probeBuild(all, m = 8, efC = 64, seed = 42L, Metric.Dot)
    full.quantizeStore()
    for (qi <- Seq(3, 11, 390)) {
      val q = all(qi)._2
      assert(inc.search(q, 10, 64, Hnsw.Flavor.I8).toSeq ==
        full.search(q, 10, 64, Hnsw.Flavor.I8).toSeq,
        s"extended i8 sidecar diverged from a fresh quantize at query $qi")
    }
  }

  test("maintained group re-saves generation-atomically, tombstones intact") {
    import spark.implicits._
    val all = rows(400)
    val (old, fresh) = all.splitAt(300)
    val toDF = (rs: Array[(Long, Array[Float])]) =>
      spark.createDataset(rs.toIndexedSeq).toDF("id", "vec")
    val qs = spark.createDataset(all.take(4).toIndexedSeq).toDF("qid", "qvec")
    val key = "upsertspec_resave"
    Hnsw.invalidate(key)
    Hnsw.search(toDF(old), qs, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, efSearch = 64, nShards = 2, cacheKey = key).count()
    val store = java.nio.file.Files.createTempDirectory("hnsw_resave").toString
    Hnsw.saveWarmed(key, store) // generation 0: the pre-maintenance group
    // maintain in place, then RE-SAVE over the same dir (generation 1)
    Hnsw.upsertWarmed(toDF(fresh), key, nShards = 2, Metric.Dot, m = 8,
      efConstruction = 64).count()
    val delIds = all.filter(_._1 % 11 == 2).map(_._1)
    assert(Hnsw.deleteWarmed(spark, key, delIds, nShards = 2) == delIds.length)
    def results() = Hnsw.searchWarm(qs, key, nShards = 2, k = 10, Metric.Dot,
      m = 8, efConstruction = 64, efSearch = 64)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val maintained = results()
    Hnsw.saveWarmed(key, store)
    // the restored generation serves the MAINTAINED group bit-for-bit —
    // tombstones included (store v4) — both heap and mapped
    for (mapped <- Seq(false, true)) {
      Hnsw.invalidate(key)
      val restored = Hnsw.warmFromDisk(key, store, mapped = mapped)
      assert(restored == 2, s"mapped=$mapped restored $restored of 2")
      assert(Hnsw.liveCountWarmed(key) == all.length - delIds.length,
        s"mapped=$mapped lost tombstones across the re-save")
      assert(results() == maintained, s"mapped=$mapped diverged after re-save")
    }
    Hnsw.invalidate(key)
  }

  test("dispatched compaction runs one-shard-per-task where upsert and " +
    "delete run, requantizing in-task (r17)") {
    import spark.implicits._
    val all = rows(500)
    val (old, fresh) = all.splitAt(375)
    val toDF = (rs: Array[(Long, Array[Float])]) =>
      spark.createDataset(rs.toIndexedSeq).toDF("id", "vec")
    val qs = spark.createDataset(all.take(8).toIndexedSeq).toDF("qid", "qvec")
    val key = "upsertspec_cdisp"
    Hnsw.invalidate(key)
    Hnsw.search(toDF(old), qs, k = 10, Metric.Dot, m = 8,
      efConstruction = 64, efSearch = 64, nShards = 4, cacheKey = key).count()
    Hnsw.upsertWarmed(toDF(fresh), key, nShards = 4, Metric.Dot, m = 8,
      efConstruction = 64).count()
    Hnsw.quantizeWarmed(key) // the group serves the i8 flavor too
    val delIds = all.filter(_._1 % 9 == 4).map(_._1)
    assert(Hnsw.deleteWarmed(spark, key, delIds, nShards = 4) == delIds.length)
    assert(Hnsw.deletedCountWarmed(key) == delIds.length)
    val stats = Hnsw.compactDispatched(spark, key, nShards = 4).collect()
    // dispatch shape: one row per shard, each processed in its OWN task
    // partition (the same position-sliced lane upsert/delete ride) —
    // the r16 finding was exactly that compaction did NOT take this lane
    assert(stats.length == 4)
    assert(stats.map(_.getInt(1)).distinct.length == 4,
      s"two shards shared a task: ${stats.toSeq}")
    assert(stats.map(_.getLong(3)).sum == delIds.length,
      "reclaimed tombstones != deleted ids")
    assert(Hnsw.deletedCountWarmed(key) == 0, "tombstones survived compaction")
    assert(Hnsw.liveCountWarmed(key) == all.length - delIds.length)
    // canonical anchor, both serve flavors: the compacted group (with its
    // IN-TASK rebuilt i8 sidecars) serves bit-for-bit like a cold
    // build + quantize on the live corpus
    def results(k2: String, flavor: Hnsw.Flavor) =
      Hnsw.searchWarm(qs, k2, nShards = 4, k = 10, Metric.Dot, m = 8,
        efConstruction = 64, efSearch = 64, flavor = flavor)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val coldKey = "upsertspec_cdisp_cold"
    Hnsw.invalidate(coldKey)
    Hnsw.search(toDF(all.filterNot(r => delIds.contains(r._1))), qs, k = 10,
      Metric.Dot, m = 8, efConstruction = 64, efSearch = 64, nShards = 4,
      cacheKey = coldKey).count()
    Hnsw.quantizeWarmed(coldKey)
    assert(results(key, Hnsw.Flavor.Contract) == results(coldKey, Hnsw.Flavor.Contract),
      "dispatched compaction diverged from the cold build on the live set")
    assert(results(key, Hnsw.Flavor.I8) == results(coldKey, Hnsw.Flavor.I8),
      "in-task i8 re-quantize diverged from a fresh cold-build quantize")
    // loud-miss contract, like delete's
    val exN = intercept[Exception](
      Hnsw.compactDispatched(spark, "upsertspec_cdisp_none", nShards = 4))
    assert(msgChain(exN).contains("no warmed hnsw graphs"), msgChain(exN))
    // mapped groups refuse (read-only serving posture must not silently
    // swap to heap under compaction) — restore-heap is the documented path
    val store = java.nio.file.Files.createTempDirectory("hnsw_cdisp").toString
    Hnsw.saveWarmed(key, store)
    Hnsw.invalidate(key)
    Hnsw.warmFromDisk(key, store, mapped = true)
    val del2 = all.filterNot(r => delIds.contains(r._1)).take(5).map(_._1)
    assert(Hnsw.deleteWarmed(spark, key, del2, nShards = 4) == 5)
    val exM = intercept[Exception](
      Hnsw.compactDispatched(spark, key, nShards = 4))
    assert(msgChain(exM).contains("mapped"), msgChain(exM))
    Hnsw.invalidate(key)
    Hnsw.invalidate(coldKey)
  }

  test("maintenance misses are loud; createMissing seeds an empty cell") {
    import spark.implicits._
    val all = rows(200)
    val toDF = (rs: Array[(Long, Array[Float])]) =>
      spark.createDataset(rs.toIndexedSeq).toDF("id", "vec")
    // unknown group: loud — for upsert AND delete (a silent zero-count
    // takedown is a compliance hole, not a no-op)
    val ex = intercept[Exception](
      Hnsw.upsertWarmed(toDF(all), "upsertspec_nogroup", nShards = 4,
        Metric.Dot, m = 8, efConstruction = 64).collect())
    assert(msgChain(ex).contains("no warmed hnsw graph"), msgChain(ex))
    val exDel = intercept[IllegalArgumentException](
      Hnsw.deleteWarmed(spark, "upsertspec_nogroup", Array(1L), 4))
    assert(exDel.getMessage.contains("no warmed hnsw graphs"))
    // centroid router with an intentionally empty cell: centroid 1 is far
    // from every base row, so the build materializes no graph for it —
    // an upsert routed there must refuse by default and seed under
    // createMissing = true
    val qs = spark.createDataset(all.take(4).toIndexedSeq).toDF("qid", "qvec")
    val dim = all.head._2.length
    val far = Array.fill(dim)(100f)
    val centroids = Array(all.head._2.clone(), far)
    val key = "upsertspec_missing"
    Hnsw.invalidate(key)
    Hnsw.searchRouted(toDF(all), qs, centroids, routeProbe = 2, k = 5,
      Metric.Dot, m = 8, efConstruction = 64, efSearch = 32,
      cacheKey = key).count()
    val newRow = Array((9000L, far.map(_ + 0.5f)))
    val ex2 = intercept[Exception](
      Hnsw.upsertWarmed(toDF(newRow), key, nShards = 2, Metric.Dot, m = 8,
        efConstruction = 64, centroids = centroids).collect())
    assert(msgChain(ex2).contains("createMissing"), msgChain(ex2))
    val seeded = Hnsw.upsertWarmed(toDF(newRow), key, nShards = 2,
      Metric.Dot, m = 8, efConstruction = 64, centroids = centroids,
      createMissing = true).collect()
    assert(seeded.map(_.getLong(1)).sum == 1L)
    // the seeded cell now serves: a query at the far centroid finds 9000
    val farQ = spark.createDataset(Seq((0L, far))).toDF("qid", "qvec")
    val hit = Hnsw.searchWarm(farQ, key, nShards = 2, k = 1, Metric.Dot,
      m = 8, efConstruction = 64, efSearch = 16, centroids = centroids,
      routeProbe = 1, allowMissing = true).select("id").collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(9000L))
    Hnsw.invalidate(key)
  }
}
