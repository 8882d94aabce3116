package perfbench

/** Per-layer metrics of a traced run. Totals are per operation (one
  * data trigger on the tail workloads, one query on the batch ones);
  * `_p50` metrics are medians over operations. Layers a workload does
  * not drive read 0.
  */
object Layers {
  // The order micro-batch execution runs a trigger's phases in.
  private val TriggerPhases = Seq(
    "latestOffset" -> "sources", "walCommit" -> "stream", "getBatch" -> "stream",
    "queryPlanning" -> "plan", "addBatch" -> "sink", "commitOffsets" -> "stream")

  def compute(workload: String, tr: Tracer, iters: Seq[Iter],
      probes: Map[String, Double], probeSpans: Seq[(String, Double, Double)],
      wStart: Double, wEnd: Double): (Map[String, Double], SpanTree) = {
    val tree = new SpanTree(workload, wStart, wEnd)
    val triggers = iters.flatMap(i => ProgressLog.dataTriggers(i.progress))
    // Operations: triggers (with their sequential phases) or queries.
    val opIds = if (iters.exists(_.progress.nonEmpty)) {
      iters.flatMap(_.progress).map { p =>
        val s = ProgressLog.startMs(p)
        val id = tree.add(0, s"trigger ${p.batchId}", "stream", s,
          s + ProgressLog.dur(p, "triggerExecution"))
        var t = s
        TriggerPhases.foreach { case (ph, layer) =>
          val d = ProgressLog.dur(p, ph)
          if (d > 0) { tree.add(id, ph, layer, t, t + d); t += d }
        }
        id
      }
    } else iters.flatMap(_.ops).map { case (q, s, e) => tree.add(0, q, "query", s, e) }
    probeSpans.foreach { case (n, s, e) => tree.add(0, n, "sources", s, e) }

    val (jobs, stages, plans, blocks) = tr.synchronized(
      (tr.jobs.values.toList, tr.stages.values.toList, tr.planPhases.toList, tr.blocks.toList))
    plans.foreach { case (ph, s, e) =>
      tree.add(tree.deepest(0, s, e), ph, "plan", s, e)
    }
    val jobSpan = jobs.filter(!_.end.isNaN).map { j =>
      j.id -> tree.add(tree.deepest(0, j.start, j.end), s"job ${j.id}", "sched", j.start, j.end)
    }.toMap
    val doneStages = stages.filter(s => !s.start.isNaN && !s.end.isNaN)
    doneStages.foreach { st =>
      val parent = jobSpan.getOrElse(st.jobId, tree.deepest(0, st.start, st.end))
      val layer = if (st.inBytes > 0 || st.inRecords > 0) "scan" else "compute"
      val id = tree.add(parent, s"stage ${st.id}", layer, st.start, st.end)
      // The stage's shuffle share (fetch wait + write time) of its task
      // run time becomes a child span, so self time splits by layer.
      val shMs = st.fetchWaitMs + st.shWriteNs / 1e6
      if (st.runMs > 0 && shMs > 0) {
        val share = math.min(1.0, shMs / st.runMs)
        tree.add(id, s"stage ${st.id} shuffle", "shuffle", st.end - share * (st.end - st.start), st.end)
      }
    }

    val nOps = math.max(1, if (triggers.nonEmpty) triggers.size else opIds.size).toDouble
    def per(v: Double): Double = v / nOps
    val opSpans = opIds.map(tree.spans(_))
    val stageIv = doneStages.map(s => (s.start, s.end))
    val planIv = plans.map(p => (p._2, p._3))
    val gaps = opSpans.map { o =>
      def clip(iv: Seq[(Double, Double)]) =
        iv.map { case (s, e) => (math.max(s, o.start), math.min(e, o.end)) }
      o.dur - Stats.unionLength(clip(planIv)) - Stats.unionLength(clip(stageIv))
    }
    val skew = doneStages.filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs)
      if (med > 0) s.taskMs.max / med else 1.0
    }
    def p50(k: String) = Stats.orZero(Stats.median(triggers.map(ProgressLog.dur(_, k))))
    def phase(name: String) = plans.filter(_._1 == name).map(p => p._3 - p._2).sum
    val lines = iters.map(_.records).sum.toDouble
    val metrics = Map(
      "sources.latest_offset_ms" -> p50("latestOffset"),
      "sources.report_latest_offset_ms" -> probes.getOrElse("sources.report_latest_offset_ms", 0.0),
      "sources.slice_read_ms_head" -> probes.getOrElse("sources.slice_read_ms_head", 0.0),
      "sources.slice_read_ms_tail" -> probes.getOrElse("sources.slice_read_ms_tail", 0.0),
      "sources.read_bytes_per_record" ->
        (if (triggers.isEmpty || lines == 0) 0.0 else iters.map(_.rchar).sum / lines),
      "sources.lag_records_max" ->
        (if (triggers.isEmpty) 0.0 else iters.flatMap(_.progress).map(ProgressLog.lag).max.toDouble),
      "stream.add_batch_ms" -> p50("addBatch"),
      "stream.wal_commit_ms" -> p50("walCommit"),
      "stream.commit_offsets_ms" -> p50("commitOffsets"),
      "stream.query_planning_ms" -> p50("queryPlanning"),
      "stream.triggers" -> triggers.size.toDouble / iters.size,
      "tail.sink_write_ms" -> (if (triggers.isEmpty) 0.0 else per(iters.map(_.sinkMs).sum)),
      "tail.lines" -> (if (triggers.isEmpty) 0.0 else per(lines)),
      "compute.task_cpu_ms" -> per(stages.map(_.cpuNs).sum / 1e6),
      "compute.task_run_ms" -> per(stages.map(_.runMs).sum.toDouble),
      "compute.gc_ms" -> per(stages.map(_.gcMs).sum.toDouble),
      "plan.analysis_ms" -> per(phase("analysis")),
      "plan.optimization_ms" -> per(phase("optimization")),
      "plan.planning_ms" -> per(phase("planning")),
      "sched.jobs" -> per(jobs.size.toDouble),
      "sched.stages" -> per(doneStages.size.toDouble),
      "sched.tasks" -> per(stages.map(_.taskMs.size).sum.toDouble),
      "sched.driver_gap_ms" -> per(gaps.sum),
      "scan.input_bytes" -> per(stages.map(_.inBytes).sum.toDouble),
      "scan.input_records" -> per(stages.map(_.inRecords).sum.toDouble),
      "shuffle.write_bytes" -> per(stages.map(_.shWrite).sum.toDouble),
      "shuffle.read_bytes" -> per(stages.map(_.shRead).sum.toDouble),
      "shuffle.fetch_wait_ms" -> per(stages.map(_.fetchWaitMs).sum.toDouble),
      "shuffle.spill_bytes" -> per(stages.map(_.spill).sum.toDouble),
      "shuffle.skew_max_over_median" -> (if (skew.isEmpty) 1.0 else skew.max),
      "operators.materialized_blocks" -> per(blocks.size.toDouble),
      "operators.materialized_bytes" -> per(blocks.sum.toDouble))
    (metrics, tree)
  }
}
