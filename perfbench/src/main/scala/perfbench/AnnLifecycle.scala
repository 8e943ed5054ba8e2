package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expressions.CentroidOps
import graft.ops.{Hnsw, Ivf, Metric, Pq}

/** `ann_lifecycle`: build the IVF, pq4 and routed-HNSW indexes from
  * scratch, serve held-out queries in-process from `nproc` closed-loop
  * clients alternating the pq4 and HNSW tiers (no Spark job), then run
  * maintenance rounds (staged pq4 + flat appends, each followed by a
  * Spark probe). Serving and maintenance never overlap: the in-process
  * tiers are not safe against a concurrent append.
  */
object AnnLifecycle {
  val N = 50000
  val Dim = 32
  val Intrinsic = 16
  val Nlist = 256
  val Ntrain = 16384
  val M4 = Dim / 4
  val Nprobe = 8
  val K = 10
  val RefineK = 100
  val HnswM = 16
  val EfC = 100
  val EfS = 64
  val RouteProbe = 8
  val Pool = 512 // held-out serve queries
  val Rounds = 4 // maintenance rounds at most
  val BatchRows = 2000
  val ProbeHeld = 8 // held-out probe queries per round
  val ProbeOwn = 8 // appended rows probed for themselves per round

  private val poolStart = N.toLong
  private val batchStart = poolStart + Pool
  private def batchLo(b: Int) = batchStart + b.toLong * BatchRows
  private val probeStart = batchLo(Rounds)
  private val total = probeStart + Rounds * ProbeHeld

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val qids = (0L until Pool).map(poolStart + _) ++
      (0L until Rounds.toLong * ProbeHeld).map(probeStart + _)
    val segments = (Seq(0L, N.toLong) ++ (1 to Rounds).map(batchLo)).toArray
    val in = Inputs.vectors(spark, r.inputsDir, r.seed, N,
      total.toInt, Dim, Intrinsic, qids.toArray, segments)
    val rows = in.table(spark)
    val base = in.base(spark)
    val warmQ = (0 until 16).map(i => (i.toLong, in.queries(i))).toDF("qid", "qvec")

    var ivf: Ivf.Index = null
    var pq4: Pq.Index = null
    var hKey = ""
    var lKey = ""
    def serve(tier: Int, q: Array[Float]): Array[(Long, Double)] =
      if (tier == 0) Pq.searchLocalIvf4(q, pq4, lKey, Nprobe, K, RefineK)
      else Hnsw.searchLocal(q, hKey, Nlist, K, Metric.Dot, HnswM, EfC, EfS, r.seed,
        centroids = ivf.centroids, routeProbe = RouteProbe, allowMissing = true)

    val setupS = r.timedSetup {
      val key = s"ann-${r.seed}"
      hKey = s"$key-hnsw"; lKey = s"$key-pq4local"
      var trained = false
      r.op("build.ivf") {
        ivf = Ivf.buildOrGet(spark, base, key, Nlist, Ntrain, r.seed,
          onPhase = (p, s) => { trained = true; r.perLayer(s"build.ivf_${p}_s") = (s, "s") })
      }
      r.check(trained, "set-up reused a cached IVF index")
      val before = r.listDir(s"${r.workDir}/target/pq4_cache")
      r.op("build.pq4") { pq4 = Pq.buildOrGetIvf4(spark, base, key, Nlist, M4, Ntrain, r.seed) }
      r.check(pq4 != null && !before.contains(new java.io.File(pq4.path).getName),
        "set-up reused a cached pq4 index")
      r.check(!Hnsw.warmed(hKey) && !Pq.warmedLocal(lKey), "set-up found warm caches")
      r.op("build.hnsw") {
        Hnsw.searchRouted(base, warmQ, ivf.centroids, RouteProbe, K, Metric.Dot,
          HnswM, EfC, EfS, r.seed, cacheKey = hKey).count()
      }
      r.op("build.warm") { Pq.warmLocalIvf4(spark, pq4, lKey, base) }
      r.check(Hnsw.warmed(hKey) && Pq.warmedLocal(lKey), "set-up left a tier cold")
      // warm-up: every client thread runs the whole pool through both tiers,
      // so the serve loop starts with its hot paths compiled (a quarter of
      // this left the JIT mid-way and the serve rate varied 40% run to run)
      r.op("build.warmup") {
        val ts = (0 until r.cores).map { _ =>
          val t = new Thread(() =>
            (0 until Pool).foreach { i => serve(0, in.queries(i)); serve(1, in.queries(i)) })
          t.start(); t
        }
        ts.foreach(_.join())
      }
    }
    r.endToEnd("setup_s") = (setupS, "s")
    r.endToEnd("heap_retained_mb") = (r.retainedHeapMb(), "MB")
    r.endToEnd("stored_bytes_per_item") =
      ((r.diskBytes(pq4.path) + r.diskBytes(ivf.clusteredPath)).toDouble / N, "B")

    // serve phase: recall over every answer; per-tier latency, CPU and
    // allocation over the traced half
    val tierNames = Array("pq4", "hnsw")
    val tierLat = Array.fill(2)(new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]())
    val tierHits = Array.fill(2)(new java.util.concurrent.atomic.DoubleAdder())
    val tierN = Array.fill(2)(new AtomicLong())
    val cpuNs = Array.fill(2)(new AtomicLong())
    val wallNs = Array.fill(2)(new AtomicLong())
    val allocB = new AtomicLong()
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val maint = new Maintenance(r, in, rows, () => ivf, () => pq4)

    // One request sends its query to both tiers in turn, so request latency
    // is one unimodal distribution; ops_per_s counts tier queries.
    Measure.window(r) { secs =>
      val next = new AtomicLong()
      val lats = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      // traced runs also run maintenance rounds in each half
      val serveS = if (r.traced) secs / 2 else secs
      val t0 = System.nanoTime()
      val end = t0 + (serveS * 1e9).toLong
      val clients = (0 until r.cores).map { _ =>
        val t = new Thread(() => {
          val traced = Trace.on
          val tid = Thread.currentThread().getId
          while (System.nanoTime() < end) {
            val i = next.getAndIncrement().toInt
            val qi = i % Pool
            Trace.request.set(i.toLong + 1)
            val r0 = System.nanoTime()
            (0 until 2).foreach { tier =>
              val c0 = if (traced) threads.getCurrentThreadCpuTime else 0L
              val a0 = if (traced) threads.getThreadAllocatedBytes(tid) else 0L
              val w0 = System.nanoTime()
              val got = r.op(s"serve.${tierNames(tier)}")(serve(tier, in.queries(qi)))
              val w = System.nanoTime() - w0
              if (traced) {
                cpuNs(tier).addAndGet(threads.getCurrentThreadCpuTime - c0)
                allocB.addAndGet(threads.getThreadAllocatedBytes(tid) - a0)
                wallNs(tier).addAndGet(w)
                tierLat(tier).add(w / 1e9)
              }
              got.foreach { res =>
                r.check(res.length == K, s"${tierNames(tier)} query $qi returned ${res.length} < $K")
                tierHits(tier).add(Stats.recallAtK(res.map(_._1).toSeq,
                  in.truth(qi)(0).map(_._1).toSeq, K))
                tierN(tier).incrementAndGet()
              }
            }
            lats.add((System.nanoTime() - r0) / 1e9)
          }
          Trace.request.set(0L)
        })
        t.start(); t
      }
      clients.foreach(_.join())
      val elapsed = (System.nanoTime() - t0) / 1e9
      val lat = lats.toArray(Array.empty[java.lang.Double]).map(_.doubleValue)
      if (r.traced) maint.rounds(secs - elapsed)
      (2 * lat.length / elapsed, lat)
    }
    val served = tierN.map(_.get)
    r.endToEnd("recall") = ((tierHits(0).sum + tierHits(1).sum) / served.sum, "frac")

    if (r.traced) {
      (0 until 2).foreach { t =>
        val name = tierNames(t)
        val lat = tierLat(t).toArray(Array.empty[java.lang.Double]).map(_.doubleValue).sorted
        r.perLayer(s"serve.$name.p50_ms") = (Stats.percentile(lat, 0.5) * 1e3, "ms")
        r.perLayer(s"serve.$name.p99_ms") = (Stats.percentile(lat, 0.99) * 1e3, "ms")
        r.perLayer(s"serve.$name.recall_at_10") = (tierHits(t).sum / served(t), "frac")
      }
      val nT = Array(wallNs(0).get, wallNs(1).get)
      (0 until 2).foreach { t =>
        val n = math.max(1.0, tierLat(t).size.toDouble)
        r.perLayer(s"serve.${tierNames(t)}.cpu_us") = (cpuNs(t).get / n / 1e3, "us")
        r.perLayer(s"serve.${tierNames(t)}.wait_us") =
          ((nT(t) - cpuNs(t).get) / n / 1e3, "us")
      }
      r.perLayer("serve.alloc_bytes") =
        (allocB.get / math.max(1.0, tierLat(0).size + tierLat(1).size.toDouble), "B")
      // probed cells and their code bytes, from the index's own cell sizes
      val cellBytes = spark.read.parquet(pq4.path).groupBy("cluster_id")
        .agg(sum(length(col("codes")))).collect()
        .map(row => row.getInt(0) -> row.getLong(1)).toMap
      val probes = in.queries.take(Pool).map(q => CentroidOps.topNprobeF(q, pq4.coarse, Nprobe))
      r.perLayer("serve.pq4.cells_probed") =
        (probes.map(_.count(cellBytes.contains)).sum.toDouble / Pool, "count")
      r.perLayer("serve.pq4.code_bytes") =
        (probes.map(_.map(c => cellBytes.getOrElse(c, 0L)).sum).sum.toDouble / Pool, "B")
      val acc = spark.sparkContext.longAccumulator
      val sample = (0 until 64).map(i => (i.toLong, in.queries(i))).toDF("qid", "qvec")
      Hnsw.searchWarm(sample, hKey, Nlist, K, Metric.Dot, HnswM, EfC, EfS, r.seed,
        centroids = ivf.centroids, routeProbe = RouteProbe, evalCounter = Some(acc),
        allowMissing = true).collect()
      r.perLayer("serve.hnsw.evals") = (acc.value.toDouble / 64, "count")
      maint.report()
      val blobs = spark.read.parquet(pq4.path).select("codes").limit(64)
        .as[Array[Byte]].collect()
      Kernels.table(r, in.queries, rows.filter(col("id") < 4096).select("vec")
        .as[Array[Float]].collect(), pq4, blobs)
    }
  }

  /** Maintenance rounds: append a held-out batch to the pq4 codes and the
    * flat clustered table under a commit token, then probe twice (first
    * after the append, then steady) with held-out queries and with rows of
    * the batch itself, which must come back as their own nearest match.
    */
  final class Maintenance(r: Run, in: Inputs.Vectors, rows: DataFrame,
                          ivf: () => Ivf.Index, pq4: () => Pq.Index) {
    private var done = 0
    private val appendS = collection.mutable.ArrayBuffer.empty[(Double, Double)]
    private val probeS = collection.mutable.ArrayBuffer.empty[(Double, Double)]
    private var hits = 0.0
    private var nHeld = 0
    private var filesAdded = 0L

    def rounds(seconds: Double): Unit = {
      val spark = r.spark
      import spark.implicits._
      val end = System.nanoTime() + (seconds * 1e9).toLong
      // at least one round per window, so every run exercises maintenance
      var first = true
      while (done < Rounds && (first || System.nanoTime() < end)) {
        first = false
        val b = done
        val lo = batchLo(b)
        val batch = rows.filter(col("id") >= lo && col("id") < lo + BatchRows)
        val files0 = countFiles(pq4().path) + countFiles(ivf().clusteredPath)
        val t0 = System.nanoTime()
        val nPq = r.op("append.pq4")(Pq.appendIvf4(pq4(), batch, token = s"b$b"))
        val t1 = System.nanoTime()
        val nFlat = r.op("append.flat")(Ivf.appendClustered(ivf(), batch, token = s"b$b"))
        val t2 = System.nanoTime()
        r.check(nPq.contains(BatchRows.toLong) && nFlat.contains(BatchRows.toLong),
          s"round $b appended $nPq / $nFlat rows, expected $BatchRows")
        filesAdded += countFiles(pq4().path) + countFiles(ivf().clusteredPath) - files0
        appendS += (((t1 - t0) / 1e9, (t2 - t1) / 1e9))
        val held = (0 until ProbeHeld).map { j =>
          val qi = Pool + b * ProbeHeld + j
          (qi.toLong, in.queries(qi))
        }
        val own = batch.orderBy("id").limit(ProbeOwn).select("id", "vec")
          .as[(Long, Array[Float])].collect().map { case (id, v) => (-1L - id, v) }
        val probe = (held ++ own).toDF("qid", "qvec")
        def once(name: String): Array[org.apache.spark.sql.Row] =
          r.op(name) {
            Pq.searchFastScanIvfRefinedClustered(ivf(), pq4(), probe, Nprobe, K, RefineK)
              .select("qid", "id").collect()
          }.getOrElse(Array.empty)
        val p0 = System.nanoTime()
        once("probe.first")
        val p1 = System.nanoTime()
        val got = once("probe.steady")
        val p2 = System.nanoTime()
        probeS += (((p1 - p0) / 1e9, (p2 - p1) / 1e9))
        val byQ = got.groupBy(_.getLong(0))
        own.foreach { case (qid, _) =>
          val ids = byQ.getOrElse(qid, Array.empty).map(_.getLong(1))
          r.check(ids.contains(-1L - qid), s"appended row ${-1L - qid} not retrievable")
        }
        held.foreach { case (qi, _) =>
          // truth over base plus batches 0..b (segments 0..b+1)
          val truth = Stats.mergeTopK(in.truth(qi.toInt).take(b + 2).toSeq, K)
          hits += Stats.recallAtK(byQ.getOrElse(qi, Array.empty).map(_.getLong(1)).toSeq,
            truth.map(_._1).toSeq, K)
          nHeld += 1
        }
        done += 1
      }
    }

    private def countFiles(path: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
    }

    def report(): Unit = if (done > 0) {
      val rowsPerS = done * BatchRows / appendS.map { case (a, f) => a + f }.sum
      r.perLayer("append.rows_per_s") = (rowsPerS, "1/s")
      r.perLayer("append.pq4_s") = (Stats.median(appendS.map(_._1).toSeq), "s")
      r.perLayer("append.flat_s") = (Stats.median(appendS.map(_._2).toSeq), "s")
      r.perLayer("append.files_added") = (filesAdded.toDouble / done, "count")
      r.perLayer("probe.first_after_append_s") = (Stats.median(probeS.map(_._1).toSeq), "s")
      r.perLayer("probe.steady_s") = (Stats.median(probeS.map(_._2).toSeq), "s")
      r.perLayer("probe.recall_at_10") = (hits / nHeld, "frac")
    }
  }
}
