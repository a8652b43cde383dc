package perfbench

/** Turns a traced run's spans and the Spark work charged to them into
  * the per-layer metrics. Every metric is emitted on every workload; a
  * layer the workload bypasses reads 0.
  */
object Layers {
  val TimedSpans: Seq[(String, String)] = Seq(
    "store.put" -> "store.put_ms", "store.read" -> "store.read_ms",
    "trav.bfs" -> "trav.bfs_ms", "trav.reach" -> "trav.reach_ms", "trav.sinks" -> "trav.sinks_ms")
  val IndexSpans: Seq[String] = Seq("append", "candidates", "compact", "vacuum")
  val Families: Seq[String] = Seq("ops", "dedup", "sim", "text", "graph")
  /** Spans that each run one frontier loop; their work is per round. */
  val RoundSpans: Set[String] = Set("trav.bfs", "trav.reach")

  /** Metrics one workload measures itself; 0 on the other. */
  val WorkloadOwned: Seq[String] = Seq("store.files_per_put", "store.bytes_written_per_put",
    "index.segments_read", "index.bytes_written") ++
    Pipeline.Queries.map(q => s"query.${q}_s") ++ Families.map(f => s"$f.pass_s")

  def report(r: Report, spans: Seq[Span], work: Map[Long, SparkWork], cpus: Int): Unit = {
    for (m <- WorkloadOwned if !r.metrics.contains(m))
      r.put(m, 0.0, if (m.startsWith("query.") || m.endsWith("pass_s")) "s"
        else if (m.contains("bytes")) "bytes" else "count")
    val byName = spans.groupBy(_.name)
    def ms(name: String) = byName.getOrElse(name, Nil).map(_.ms)

    for ((span, metric) <- TimedSpans) {
      val xs = ms(span)
      r.put(s"$metric.p50", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
      if (span == "store.put")
        r.put(s"$metric.p90", if (xs.isEmpty) 0.0 else Stats.percentile(xs, 90), "ms")
    }
    for (k <- IndexSpans) {
      val xs = ms(s"index.$k")
      // per ingest step, mean over the run's steps as pipeline_batch's own times
      r.put(s"index.${k}_ms", if (xs.isEmpty) 0.0 else Stats.mean(xs), "ms")
    }

    // frontier-loop rounds: fixed per-round cost against data-bound cost
    val rounds = r.metrics.get("trav.rounds").map(_._1).getOrElse(0.0)
    val loops = spans.filter(s => RoundSpans(s.name))
    val loopWork = sum(loops.flatMap(s => work.get(s.id)))
    val loopGapMs = loops.map(s => s.ms - Tracer.covered(work.get(s.id).toSeq.flatMap(_.jobSpans), s.startMs, s.endMs)).sum
    val ops = spans.count(s => s.name == "trav.bfs" || s.name == "trav.sinks")
    def perRound(x: Double) = if (rounds > 0) x / rounds else 0.0
    r.put("trav.rounds_per_op", if (ops > 0) rounds / ops else 0.0, "count")
    r.put("trav.jobs_per_round", perRound(loopWork.jobs.toDouble), "count")
    r.put("trav.stages_per_round", perRound(loopWork.stages.toDouble), "count")
    r.put("trav.tasks_per_round", perRound(loopWork.tasks.toDouble), "count")
    r.put("trav.driver_gap_ms_per_round", perRound(loopGapMs), "ms")
    r.put("trav.shuffle_bytes_per_round", perRound(loopWork.shuffleWriteBytes.toDouble), "bytes")
    r.put("trav.fetch_wait_ms_per_round", perRound(loopWork.fetchWaitMs.toDouble), "ms")
    r.put("trav.executor_cpu_ms_per_round", perRound(loopWork.cpuNs / 1e6), "ms")

    // Spark runtime over the measured requests (set-up is not a request)
    val reqWork = spans.groupBy(_.request).map { case (req, ss) => req -> sum(ss.flatMap(s => work.get(s.id))) }
    val roots = spans.filter(_.parent == 0)
    val all = sum(reqWork.values.toSeq)
    val gapMs = roots.map { s =>
      s.ms - Tracer.covered(reqWork.get(s.request).toSeq.flatMap(_.jobSpans), s.startMs, s.endMs)
    }.sum
    val wallS = r.metrics.get("measured_s").map(_._1).getOrElse(0.0)
    r.put("spark.jobs", all.jobs.toDouble, "count")
    r.put("spark.stages", all.stages.toDouble, "count")
    r.put("spark.tasks", all.tasks.toDouble, "count")
    r.put("spark.executor_run_s", all.runMs / 1e3, "s")
    r.put("spark.executor_cpu_s", all.cpuNs / 1e9, "s")
    r.put("spark.gc_s", all.gcMs / 1e3, "s")
    r.put("spark.task_slot_wait_s", all.slotWaitMs / 1e3, "s")
    r.put("spark.core_busy_share", if (wallS > 0) all.runMs / 1e3 / (cpus * wallS) else 0.0, "share")
    r.put("spark.shuffle_write_bytes", all.shuffleWriteBytes.toDouble, "bytes")
    r.put("spark.shuffle_read_records", all.shuffleReadRecords.toDouble, "count")
    r.put("spark.shuffle_fetch_wait_s", all.fetchWaitMs / 1e3, "s")
    r.put("spark.spill_memory_bytes", all.spillMemory.toDouble, "bytes")
    r.put("spark.spill_disk_bytes", all.spillDisk.toDouble, "bytes")
    r.put("spark.peak_execution_memory_bytes", all.peakExecMemory.toDouble, "bytes")
    r.put("spark.driver_gap_s", gapMs / 1e3, "s")

    // self time per layer, for the human-readable report
    val children = spans.groupBy(_.parent)
    byName.toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val self = ss.map(s => Tracer.selfMs(s, children.getOrElse(s.id, Nil))).sum
      val w = sum(ss.flatMap(s => work.get(s.id)))
      r.note(f"layer $name: n=${ss.size} total=${ss.map(_.ms).sum}%.1f ms self=$self%.1f ms " +
        f"jobs=${w.jobs} stages=${w.stages} tasks=${w.tasks} cpu=${w.cpuNs / 1e6}%.1f ms")
    }
  }

  private def sum(ws: Seq[SparkWork]): SparkWork = {
    val acc = new SparkWork
    ws.foreach(acc.add)
    acc
  }
}
