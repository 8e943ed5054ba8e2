package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size => asize}

import graft.core.Tables
import graft.ops.LatencyStats

/** Benchmark harness mirroring the reference's discipline
  * (`/root/reference/apps/nvdb_bench.cpp:317-322` warmup; repeated measured
  * runs per `Performance.md:406`): one warmup action per query (JIT +
  * codegen + shuffle-file warm), then `runs` timed actions; the per-run
  * samples feed avg/p50/p95/p99/QPS (`compute_lat_stats`,
  * `apps/nvdb_ivf_eval.cpp:144-168`) and the headline value is the median.
  *
  * The timed action is a noop-format write — `count()` would let Catalyst
  * prune projections and eliminate sorts, under-timing every projection
  * query; the noop sink materializes every output row.
  *
  * Output: ONE COMPACT machine JSON line on stdout (run is forked with
  * StdoutOutput so sbt can't prefix it), printed after `spark.stop()` so it
  * is the last line the program emits. The driver only captures the final
  * ~2000 bytes of output, so the machine line carries just the total and
  * per-query medians; the full per-query stats (avg/p50/p95/p99/QPS,
  * bytes/query) live in BENCH_LOCAL.json.
  */
object Bench {

  @volatile private var calSink = 0.0

  /** One dependent-chain FMA block in a METHOD (C2-compiled after a few
    * calls — never OSR: a one-call huge loop gets OSR-compiled and often
    * reads several times slow).
    */
  private def calChunk(seed: Double): Double = {
    var x = seed
    var i = 0
    while (i < 100000) { x = x * 1.0000000001 + 1e-12; i += 1 }
    x
  }

  /** Fixed all-core CPU work, timed — the box-speed calibration channel.
    * Two same-code sweeps 15 min apart read 26.9 vs 30.0 s totals
    * (r13, idle box, zero steal): the inflation is a uniform
    * multiplicative box factor (consistent with host-side thermal /
    * frequency state), not a code property. Timing identical work at
    * sweep start and end puts that factor IN the artifact, so
    * cross-round query ratios can be read against the calibration ratio
    * before anything is called a regression.
    */
  private def calibrate(threads: Int): Double = {
    val warm = new Thread(() => { calSink += calChunk(1.0) })
    warm.start(); warm.join()
    var w = 0
    while (w < 30) { calSink += calChunk(w.toDouble); w += 1 } // JIT warm
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 1.0 + t
        var c = 0
        while (c < 600) { x = calChunk(x); c += 1 }
        calSink += x
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Healthy-box calibration reference: midpoint of the ~0.156–0.166 s
    * band the r13 five-run same-code ladder established for [[calibrate]]
    * on this box. `calib_factor = mean(cal0, cal1) / calibRef` is the
    * box-speed multiplier of a sweep; normalized values divide it out so
    * cross-round ratios are mechanical instead of prose adjudication
    * (r13's 34.17 s artifact was a 1.24–1.61× slow box over the same code
    * that read 26.96 s fresh-booted).
    */
  private val calibRef = 0.161

  /** Workload versions: bump a key whenever its MEASURED WORK intentionally
    * changes (operating-point parameters, algorithm flavor, fixture), so a
    * cross-round per-query ratio on mismatched versions is mechanically
    * non-comparable instead of a bench-ledger footnote. History:
    *  - a13_pq4_ivf: v2 r12 (refineK 50→100), v3 r13 (clustered-pruned
    *    refine fetch — like-for-like twin measured 1.14→0.98 s).
    *  - d13_semantic_dedup: v2 r13 (single-assign plan sourcing the IVF
    *    clustered table — zero assignment kernels in the fixture plan).
    * Unlisted keys are v1 (work unchanged since the key appeared).
    */
  private val workloadVersion: Map[String, Int] = Map(
    "a13_pq4_ivf" -> 3,
    "d13_semantic_dedup" -> 2,
    // v2 r16: the guard's oversized-cell arm pairs inside the block join
    // (vectors on block rows, skinny distinct) instead of pair-then-fetch
    // — same candidates and cosines (hash-green), different plan
    "d15_semantic_skew" -> 2,
    // v2 r18: both metrics' ground truth from ONE fused base scan
    // (Search.groundTruthBoth) instead of two NLJ groundTruth subtrees —
    // same mean_recall (hash-green), 8 scans -> 2
    "v6_dot_l2_recall" -> 2,
    // v2 r18: the crossJoin's streamed side scan-parallelized
    // (Tables.parallelized) — identical pairs (hash-green), different plan
    "d3_jaccard_pairs" -> 2
  ).withDefaultValue(1)

  /** Trailing cross-round per-query medians from the BENCH_r*.json
    * artifacts on disk — the baseline the per-key outlier re-run
    * (VERDICT r15 #1) compares against. Regex extraction, not a JSON
    * parser: the artifacts are driver-written wrappers whose exact shape
    * has drifted across rounds; the `"queries":{...}` block is the one
    * stable element, and a malformed file must degrade to "no history"
    * rather than fail the sweep.
    */
  private def historyMedians(): Map[String, Double] = {
    val files = Option(new java.io.File(".").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
    // the driver embeds the machine line inside a JSON STRING field, so
    // the artifact's quotes arrive escaped (\"queries\":{...}) — both
    // patterns accept an optional backslash before each quote
    val qRe = java.util.regex.Pattern
      .compile("\\\\?\"queries\\\\?\"\\s*:\\s*\\{([^}]*)\\}")
    val kvRe = java.util.regex.Pattern
      .compile("\\\\?\"([^\"\\\\]+)\\\\?\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)")
    val acc = scala.collection.mutable.Map.empty[String, List[Double]]
    files.foreach { f =>
      try {
        val m = qRe.matcher(java.nio.file.Files.readString(f.toPath))
        if (m.find()) {
          val kv = kvRe.matcher(m.group(1))
          while (kv.find()) {
            val v = kv.group(2).toDouble
            if (v > 0)
              acc.updateWith(kv.group(1))(o => Some(v :: o.getOrElse(Nil)))
          }
        }
      } catch { case _: Throwable => () }
    }
    acc.iterator.map { case (k, vs) =>
      val s = vs.sorted
      k -> s(s.length / 2)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // ≥5 runs: a sample of 2-3 lets one JIT/GC outlier shift the median
    // (r2's q1 read 3.1 s p50 from a 15 s outlier run).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timeOne(fn: () => Unit): Double = {
      val t0 = System.nanoTime()
      fn()
      (System.nanoTime() - t0) / 1e9
    }

    // Two GCs with a drain window between: the first enqueues the dead
    // broadcast/shuffle weak refs of the runs just finished, Spark's
    // ContextCleaner then performs its ASYNC deletions inside the sleep
    // instead of inside the next query's timed runs (r5: e4 read a
    // 10.6 s p99 from exactly this — cleaner work for the d-family's
    // shuffles landing mid-sample), and the second GC reclaims what the
    // cleaner released. Dead time between queries only — never timed.
    def settle(): Unit = {
      System.gc()
      Thread.sleep(400)
      System.gc()
    }

    // dev aid: SPARK_GRAFT_BENCH_ONLY=v6_dot_l2_recall,d2_minhash
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val cal0 = calibrate(cpus.toInt)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Mid-sweep calibration (r15): endpoint snapshots missed mid-sweep
    // box excursions twice (r13's 0.194→0.2511 pair caught one by luck;
    // an r14 session run read norm 42.40 with near-healthy ENDPOINT
    // calibs while the middle of the sweep was slow). Sampling the same
    // fixed work every `calibEvery` queries puts the excursion in the
    // artifact; each sample costs ~0.2 s of untimed dead time.
    val calibEvery = 12
    val calMid = scala.collection.mutable.ArrayBuffer.empty[Double]
    val results = selected.zipWithIndex.map { case ((name, q), qi) =>
      if (qi > 0 && qi % calibEvery == 0) calMid += calibrate(cpus.toInt)
      val samples =
        try {
          val action = () => q(spark, sfDir).write
            .format("noop").mode("overwrite").save()
          action() // warmup: codegen, JIT, broadcast build
          settle() // heap + cleaner quiet before timing starts
          val first = timeOne(action)
          // sub-second queries are scheduler/GC-noise-dominated: 5-run
          // medians swung ±1.5× round-over-round on untouched code (r4
          // verdict). Widen their sample so the median settles; the extra
          // runs cost little exactly because the queries are fast.
          val n = if (first < 1.0) math.max(runs, 9) else runs
          first +: Seq.fill(n - 1)(timeOne(action))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Seq.empty[Double]
        }
      // between queries (outside any timed region): without this, heap
      // pressure and deferred cleaner work build up until a stall lands
      // inside some later query's timed run (measured: a 230 s q1 sample
      // in a 37-query sweep, a 10.6 s e4 p99 in the 56-query r5 sweep)
      settle()
      (name, samples)
    }

    // Per-key outlier re-run (r16, VERDICT r15 #1): the mid-sweep calib
    // channel provably straddled a 3-query box excursion in r15 (healthy
    // samples at q24/q36 bracketed d4/d5/d6 at 4×), and adjudicating it
    // consumed a round of watch-item forensics. Mechanized: any key whose
    // sweep median reads >1.5× its trailing cross-round median (the
    // BENCH_r*.json history on disk) re-runs ONCE at sweep end, and BOTH
    // readings ship — a transient excursion self-corrects inside one
    // artifact (rerun ≪ sweep reading says box transient; rerun ≈ sweep
    // reading says real change, look at the code). Bounded at 4 keys
    // (worst ratios first) to protect the machine line's byte budget; a
    // genuinely slow box inflates the calib factor instead.
    val hist = historyMedians()
    def medOf(s: Seq[Double]): Double = s.sorted.apply(s.length / 2)
    val flagged = results.collect {
      case (name, s) if s.nonEmpty && only.isEmpty &&
        hist.get(name).exists(h => medOf(s) > 1.5 * h) =>
        (name, medOf(s) / hist(name))
    }.sortBy(-_._2).take(4).map(_._1)
    val reruns = flagged.map { name =>
      val q = SparkEntry.queries(name)
      val samples =
        try {
          val action = () => q(spark, sfDir).write
            .format("noop").mode("overwrite").save()
          // already JIT/codegen-warm from the main sweep; same sample
          //-widening rule so the two medians are like-for-like
          val first = timeOne(action)
          val n = if (first < 1.0) math.max(runs, 9) else runs
          val all = first +: Seq.fill(n - 1)(timeOne(action))
          settle()
          all
        } catch { case _: Throwable => Seq.empty[Double] }
      name -> (if (samples.isEmpty) -1.0 else medOf(samples))
    }

    // A5: dataset geometry → bytes/query for the flat-scan family.
    val (nVec, dim) =
      try {
        val e = Tables.embeddings(spark, sfDir)
        (e.count(), e.select(asize(col("embedding"))).head().getInt(0))
      } catch { case _: Throwable => (0L, 0) }
    val scanBytes = LatencyStats.scanBytesPerQuery(nVec, dim)

    // trailing zeros stripped (r18): "0.290" → "0.29" — same parsed value
    // in any JSON reader, and the ~40-60 bytes saved across a 71-key map
    // usually keep the wl/calib_ref blocks inside the machine line's
    // byte budget instead of the drop ladder discarding them
    def strip0(s: String): String =
      if (!s.contains('.')) s
      else s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
    def j(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else strip0(f"$d%.6f")
    def j4(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else strip0(f"$d%.4f")
    // 3 decimals (1 ms) for the machine line's per-query medians: the
    // fastest keys are ~0.1 s, and the ~65-key map must leave the
    // ~2000-byte tail window room for the calib/normalization block
    def j3(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else strip0(f"$d%.3f")
    val medians = results.map { case (name, s) =>
      name -> (if (s.isEmpty) -1.0 else s.sorted.apply(s.length / 2))
    }
    val qs = medians.map { case (k, v) => s""""$k":${j3(v)}""" }.mkString("{", ",", "}")
    val stats = results.collect { case (name, s) if s.nonEmpty =>
      val st = LatencyStats.ofLatencies(s)
      val bw = name match {
        case "v1_knn_dot" | "v2_knn_l2" if st.avg > 0 && scanBytes > 0 =>
          s""","bytes_per_query":$scanBytes,"gb_per_sec":${j(scanBytes / st.avg / 1e9)}"""
        case _ => ""
      }
      // run-to-run variance belongs in the artifact: a median alone cannot
      // distinguish a real regression from scheduler/JIT noise (the r7
      // p/q-family read 2-3.7× with zero code changes — settling that
      // required exactly these numbers)
      val sd = math.sqrt(s.map(x => (x - st.avg) * (x - st.avg)).sum / s.length)
      val spread =
        s""","min":${j(s.min)},"max":${j(s.max)},"sd":${j(sd)},"n":${s.length}"""
      s""""$name":{"avg":${j(st.avg)},"p50":${j(st.p50)},"p95":${j(st.p95)},"p99":${j(st.p99)},"qps":${j(st.qps)}$spread$bw}"""
    }.mkString("{", ",", "}")
    val cal1 = calibrate(cpus.toInt)
    val total = medians.map(_._2).filter(_ >= 0).sum
    // Box-speed factor and its normalization: divide the box multiplier
    // out of the totals so cross-round comparison is mechanical. The
    // factor is now the mean over ALL samples — endpoints plus the
    // mid-sweep series — so an excursion confined to the middle of the
    // sweep moves the factor instead of hiding between healthy
    // endpoints; the full sample series ships in the artifact.
    val allCal = (cal0 +: calMid.toSeq) :+ cal1
    val calibFactor = allCal.sum / allCal.length / calibRef
    val normTotal = total / calibFactor
    // Compact machine line: total + per-query medians (+ the two-point
    // box calibration, its factor over the healthy-band reference, the
    // factor-normalized total, and the non-v1 workload tags). Must stay
    // well under the driver's ~2000-byte tail window (with sbt's trailing
    // "[success]" line inside the same window).
    // calib series at 3 decimals (1 ms resolution is plenty for a
    // ~0.15 s sample) — the ~69-key machine line must stay inside the
    // driver's ~2000-byte tail window.
    // r16 shape fix (ADVICE r15): "calib" is the STABLE two-element
    // [cal0, cal1] endpoint pair again — r15 silently grew it into a
    // variable-length series, so cross-round tooling indexing calib[1]
    // as the end snapshot read the first MID-SWEEP sample instead. The
    // mid-sweep series ships under its own "calib_mid" key; the factor
    // still averages over ALL samples (the r15 semantic).
    def calJ(withMid: Boolean, withRef: Boolean = true) = {
      val mid = if (withMid && calMid.nonEmpty)
        s""""calib_mid":[${calMid.map(j3).mkString(",")}],""" else ""
      val ref = if (withRef) s""""calib_ref":${j4(calibRef)},""" else ""
      s""""calib":[${j3(cal0)},${j3(cal1)}],$mid$ref""" +
        s""""calib_factor":${j4(calibFactor)},"norm_total":${j4(normTotal)}"""
    }
    val rerunJ =
      if (reruns.isEmpty) ""
      else reruns.map { case (k, v) => s""""$k":${j3(v)}""" }
        .mkString(""","rerun":{""", ",", "}")
    val wlCompact = selected.map(_._1).filter(workloadVersion(_) != 1)
      .map(n => s""""$n":${workloadVersion(n)}""").mkString("{", ",", "}")
    def mkMachine(withMid: Boolean, withWl: Boolean = true,
                  withRef: Boolean = true) = {
      val wlJ = if (withWl) s""""wl":$wlCompact,""" else ""
      s"""{"metric":"total","value":${j4(total)},"unit":"sec",${calJ(withMid, withRef)}$rerunJ,$wlJ"queries":$qs,"sf":"$sfDir"}"""
    }
    // overflow guard: the driver tails the final 2000 stdout bytes and
    // sbt's ~80-byte "[success] Total time: …" line shares the window,
    // so past ~1915 bytes the machine line's HEAD would clip. Drop ladder
    // (r18 — the r17-era single mid-drop stopped sufficing once the wl
    // map grew to 5 keys and a 4-key rerun block could ride the same
    // line): calib_mid, then the calib_ref constant, then the wl block —
    // all three always ship in BENCH_LOCAL.json
    // ("calib_mid"/"calib_ref"/"workload") — never the queries/rerun/
    // calib measurement payload.
    val machineLine = Seq(
      mkMachine(withMid = true),
      mkMachine(withMid = false),
      mkMachine(withMid = false, withRef = false),
      mkMachine(withMid = false, withRef = false, withWl = false))
      .find(_.length <= 1915)
      .getOrElse(mkMachine(withMid = false, withWl = false, withRef = false))
    // full artifact: per-query medians at full precision, their
    // calib-normalized twins, and every workload tag
    val qs4 = medians.map { case (k, v) => s""""$k":${j4(v)}""" }.mkString("{", ",", "}")
    val qsNorm = medians.map { case (k, v) =>
      s""""$k":${j4(if (v >= 0) v / calibFactor else v)}""" }.mkString("{", ",", "}")
    val wlFull = selected.map { case (n, _) =>
      s""""$n":${workloadVersion(n)}""" }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${j(total)},"unit":"sec",${calJ(withMid = true)}$rerunJ,"queries":$qs4,"queries_norm":$qsNorm,"workload":$wlFull,"stats":$stats,"n_vectors":$nVec,"dim":$dim,"sf":"$sfDir"}"""
    // subset runs are a dev aid — never let them clobber the full artifact
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), fullLine + "\n")
      catch { case _: Throwable => () }
    spark.stop() // stop BEFORE printing so no Spark shutdown output trails the line
    println(machineLine)
    System.out.flush()
  }
}
