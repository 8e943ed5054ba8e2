package perfbench

/** Per-layer numbers of the traced run, derived from the recorded spans
  * and the listener's job, stage and task records. Layer names follow the
  * engine's modules.
  */
object Layers {

  /** Every per-layer metric with its unit, in output order. A workload
    * whose layers do no work for a metric reports 0.
    */
  val Names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.floor_s" -> "s", "spark.driver_s" -> "s",
    "io.scan_bytes" -> "B", "io.scan_rows" -> "count", "io.scan_task_s" -> "s",
    "io.scan_cpu_s" -> "s", "io.scan_gbps" -> "GB/s",
    "kernel.dot_f32.gbps" -> "GB/s", "kernel.dot_f16.gbps" -> "GB/s",
    "kernel.dot_i8.gbps" -> "GB/s", "kernel.l2_f32.gbps" -> "GB/s",
    "kernel.pq4_group.gbps" -> "GB/s", "kernel.route.us" -> "us",
    "exchange.shuffle_write_bytes" -> "B", "exchange.shuffle_read_bytes" -> "B",
    "exchange.fetch_wait_s" -> "s", "exchange.spill_bytes" -> "B",
    "topk.final_stage_s" -> "s",
    "build.ivf_train_s" -> "s", "build.ivf_assign_write_s" -> "s",
    "build.pq4_s" -> "s", "build.pq4_jobs" -> "count", "build.hnsw_s" -> "s",
    "build.warm_s" -> "s", "build.warmup_s" -> "s",
    "serve.pq4.p50_ms" -> "ms", "serve.pq4.p99_ms" -> "ms",
    "serve.hnsw.p50_ms" -> "ms", "serve.hnsw.p99_ms" -> "ms",
    "serve.pq4.recall_at_10" -> "frac", "serve.hnsw.recall_at_10" -> "frac",
    "serve.pq4.cpu_us" -> "us", "serve.pq4.wait_us" -> "us",
    "serve.hnsw.cpu_us" -> "us", "serve.hnsw.wait_us" -> "us",
    "serve.pq4.cells_probed" -> "count", "serve.pq4.code_bytes" -> "B",
    "serve.hnsw.evals" -> "count", "serve.alloc_bytes" -> "B", "jvm.gc_s" -> "s",
    "append.rows_per_s" -> "1/s", "append.pq4_s" -> "s", "append.flat_s" -> "s",
    "append.jobs" -> "count", "append.files_added" -> "count",
    "append.bytes_written_per_user_byte" -> "ratio",
    "probe.first_after_append_s" -> "s", "probe.steady_s" -> "s",
    "probe.scan_bytes" -> "B", "probe.recall_at_10" -> "frac",
    "dedup.text_s" -> "s", "dedup.pairs_s" -> "s", "dedup.pairs_per_doc" -> "count",
    "dedup.cc_iterations" -> "count", "dedup.cc_s" -> "s", "dedup.keep_frac" -> "frac",
    "dedup.shuffle_bytes_per_doc" -> "B",
    "trace.spans" -> "count", "trace.overhead_ops_pct" -> "%",
    "trace.overhead_p50_pct" -> "%")

  /** The recorded trace, indexed. */
  final class View(val spans: Seq[Span], val jobs: Seq[JobRec],
                   val stages: Seq[StageRec], val tasks: Seq[TaskRec]) {
    val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap
    private val stageJob: Map[Int, JobRec] =
      jobs.flatMap(j => j.stages.map(_ -> j)).groupBy(_._1).map(_._2.head)

    /** The span chain from `id` up to the root, nearest first. */
    def chain(id: Long): List[Span] = byId.get(id) match {
      case Some(s) => s :: chain(s.parent)
      case None => Nil
    }

    /** The outermost span that is not a phase ("setup", "measure"). */
    def opOf(id: Long): Option[Span] =
      chain(id).filterNot(s => s.name == "setup" || s.name == "measure").lastOption

    def named(name: String): Seq[Span] = spans.filter(_.name == name)

    def jobsUnder(pred: Span => Boolean): Seq[JobRec] =
      jobs.filter(j => chain(j.span).exists(pred))

    def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
      val ids = js.map(_.id).toSet
      tasks.filter(t => stageJob.get(t.stage).exists(j => ids(j.id)))
    }

    def inPhase(phase: String): Seq[JobRec] = jobsUnder(_.name == phase)
  }

  def view(): View = new View(Trace.allSpans, Trace.listener.jobs.toArray(Array.empty[JobRec]).toSeq,
    Trace.listener.stages.toArray(Array.empty[StageRec]).toSeq,
    Trace.listener.tasks.toArray(Array.empty[TaskRec]).toSeq)

  private def dur(s: Span) = (s.end - s.start) / 1e9

  /** Fill the layer metrics that every workload derives the same way. */
  def fill(r: Run, v: View, noopJobS: Double): Unit = {
    val m = r.perLayer
    m("spark.jobs") = (v.jobs.size.toDouble, "count")
    m("spark.stages") = (v.stages.size.toDouble, "count")
    m("spark.tasks") = (v.tasks.size.toDouble, "count")
    m("spark.floor_s") = (v.jobs.size * noopJobS, "s")
    // driver time: each job-running operation's wall time outside its jobs
    val opJobs = v.jobs.groupBy(j => v.opOf(j.span).map(_.id).getOrElse(0L)) - 0L
    m("spark.driver_s") = (opJobs.map { case (op, js) =>
      val s = v.byId(op)
      Stats.selfTime(s.start, s.end, js.map(j => (j.start, j.end))) / 1e9
    }.sum, "s")

    val measured = v.tasksOf(v.inPhase("measure"))
    val scans = measured.filter(_.inBytes > 0)
    val scanBytes = scans.map(_.inBytes).sum.toDouble
    m("io.scan_bytes") = (scanBytes, "B")
    m("io.scan_rows") = (scans.map(_.inRows).sum.toDouble, "count")
    m("io.scan_task_s") = (scans.map(_.runNs).sum / 1e9, "s")
    m("io.scan_cpu_s") = (scans.map(_.cpuNs).sum / 1e9, "s")
    val scanWall = Stats.unionLength(scans.map(t => (t.start, t.end))) / 1e9
    m("io.scan_gbps") = (if (scanWall > 0) scanBytes / scanWall / 1e9 else 0.0, "GB/s")

    m("exchange.shuffle_write_bytes") = (measured.map(_.shWrite).sum.toDouble, "B")
    m("exchange.shuffle_read_bytes") = (measured.map(_.shRead).sum.toDouble, "B")
    m("exchange.fetch_wait_s") = (measured.map(_.fetchWaitNs).sum / 1e9, "s")
    m("exchange.spill_bytes") = (measured.map(_.spill).sum.toDouble, "B")
    // top-k merge: the result stage of every job that ends in TopK.perGroup
    val stageById = v.stages.map(s => s.id -> s).toMap
    val topkJobs = v.inPhase("measure").filter(j =>
      v.opOf(j.span).exists(_.name.startsWith("probe.")))
    m("topk.final_stage_s") = (topkJobs.flatMap(j => stageById.get(j.stages.max))
      .map(s => (s.end - s.start) / 1e9).sum, "s")

    // set-up calls
    def setupS(name: String) = v.named(name).map(dur).sum
    m("build.pq4_s") = (setupS("build.pq4"), "s")
    m("build.pq4_jobs") = (v.jobsUnder(_.name == "build.pq4").size.toDouble, "count")
    m("build.hnsw_s") = (setupS("build.hnsw"), "s")
    m("build.warm_s") = (setupS("build.warm"), "s")
    m("build.warmup_s") = (setupS("build.warmup"), "s")

    // maintenance, from the traced half's rounds
    val rounds = v.named("append.pq4").size
    if (rounds > 0) {
      val aJobs = v.jobsUnder(s => s.name.startsWith("append."))
      m("append.jobs") = (aJobs.size.toDouble / rounds, "count")
      m("append.bytes_written_per_user_byte") = (v.tasksOf(aJobs).map(_.outBytes).sum /
        (rounds * AnnLifecycle.BatchRows * AnnLifecycle.Dim * 4.0), "ratio")
    }
    val probes = v.spans.filter(_.name.startsWith("probe."))
    if (probes.nonEmpty)
      m("probe.scan_bytes") = (v.tasksOf(v.jobsUnder(_.name.startsWith("probe.")))
        .map(_.inBytes).sum.toDouble / probes.size, "B")

    // dedup: components (with the pairs they consume), median per pass
    def measuredMedian(name: String): Double = {
      val ss = v.named(name).filter(s => v.chain(s.parent).exists(_.name == "measure"))
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(dur))
    }
    m("dedup.cc_s") = (measuredMedian("dedup.cc"), "s")
    val passes = v.named("dedup.keep").count(s => v.chain(s.parent).exists(_.name == "measure"))
    if (passes > 0 && r.items > 0)
      m("dedup.shuffle_bytes_per_doc") =
        (measured.map(_.shWrite).sum.toDouble / (passes * r.items), "B")
    m("trace.spans") = (v.spans.size.toDouble, "count")
  }
}
