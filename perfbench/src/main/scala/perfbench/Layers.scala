package perfbench

/** Per-layer metrics of a traced pass. Each is measured around calls into
  * one of the repository's modules, and its comment names the end-to-end
  * metric it should move. A layer a workload does not call reports 0. */
object Layers {

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(w: Workload, t: Trace, traced: Main.Loop,
              untraced: Main.Loop, interop: Codec.Interop,
              cores: Int): Seq[(String, Double, String)] = {
    val ops = traced.ops.toDouble
    val queries = t.ofKind("query")
    val inQueries = queries.flatMap(q => t.jobsIn(q))
    val jobStages = inQueries.flatMap(_.stages).toSet
    val stagesRun = t.stages.filter(s => jobStages(s.id))

    // core.seqfile: the codec alone, one thread, over the workload's own
    // seqfiles (decode: scan rows_per_s; encode: setup_s and bytes_per_row)
    val files = w.seqFiles
    Codec.decode(files, hash = false) // warm
    val dec = (1 to 3).map(_ => Codec.decode(files, hash = false)).minBy(_.ns)
    val sample = Codec.records(files, 600000)
    Codec.encode(sample, null) // warm
    val (encNs, encBytes) = (1 to 3).map(_ => Codec.encode(sample, null)).minBy(_._1)
    val rawBytes = sample.map(r => 8L + r._2.length).sum
    val decodeNsPerRow = dec.ns.toDouble / dec.digest.rows

    // sources.seqfile read path: stages that read seqfile records
    // (scan rows_per_s; lookup latency)
    val scanStages = stagesRun.filter { s =>
      t.tasks.exists(k => k.stage == s.id && k.recordsRead > 0)
    }
    val scanIds = scanStages.map(_.id).toSet
    val scanTasks = t.tasksOf(scanIds)
    val scanBusyMs = scanTasks.map(_.runMs).sum.toDouble
    val scanQueries = queries.count(q => t.jobsIn(q).exists(_.stages.exists(scanIds)))
    val skew = mean(scanStages.flatMap { s =>
      val d = scanTasks.filter(_.stage == s.id).map(k => (k.end - k.start).toDouble).sorted
      if (d.size < 2) None else Some(d.last / math.max(1e6, Main.percentile(d, 0.5)))
    })
    val scanWallMs = t.unionNs(scanStages.map(s => (s.start, s.end)), Long.MinValue,
      Long.MaxValue) / 1e6
    // the codec's share is estimated where the scan decodes keys and values,
    // as the single-thread probe does
    val fullStages = queries.filter(q => w.decodesAll(q.name))
      .flatMap(q => t.jobsIn(q)).flatMap(_.stages).toSet
    val fullTasks = scanTasks.filter(k => fullStages(k.stage))
    val fullBusyMs = fullTasks.map(_.runMs).sum.toDouble
    def perQuery(c: String) =
      if (queries.isEmpty) 0.0 else queries.map(q => t.count(q.id, c)).sum / queries.size
    val decoded = queries.map(q => t.count(q.id, "rows_decoded")).sum

    // sources.seqfile write path, over the set-up builds that write the
    // workload's lake (setup_s)
    val builds = t.ofKind("build")
    val writeTasks = t.tasksOf(builds.flatMap(b => t.jobsIn(b)).flatMap(_.stages).toSet)

    // operators (dedup rows_per_s)
    val opQueries = queries.filter(q => q.name == "exact_dedup" || q.name == "minhash")
    val opJobs = opQueries.flatMap(q => t.jobsIn(q))
    val opTasks = t.tasksOf(opJobs.flatMap(_.stages).toSet)
    val opWallMs = opQueries.map(q =>
      t.unionNs(t.jobsIn(q).map(j => (j.start, j.end)), q.start, q.end)).sum / 1e6
    def spanS(name: String) = mean(opQueries.filter(_.name == name).map(_.dur / 1e9))

    def selfMs(kind: String) = t.ofKind(kind).map(t.selfNs).sum / 1e6 / ops

    Seq(
      ("core.seqfile.decode_ns_per_row", decodeNsPerRow, "ns"),
      ("core.seqfile.encode_ns_per_row", encNs.toDouble / sample.size, "ns"),
      ("core.seqfile.compression_ratio", rawBytes.toDouble / encBytes, "ratio"),
      ("core.seqfile.blocks", dec.blocks.toDouble, "count"),
      ("core.seqfile.hadoop_ratio_own_file", interop.ratioOwnFile, "ratio"),
      ("core.seqfile.hadoop_ratio_hadoop_file", interop.ratioHadoopFile, "ratio"),
      ("sources.seqfile.plan_ms", mean(t.ofKind("plan").map(_.dur / 1e6)), "ms"),
      ("sources.seqfile.blocks_read_per_query", perQuery("blocks_read"), "count"),
      ("sources.seqfile.blocks_skipped_per_query", perQuery("blocks_skipped"), "count"),
      ("sources.seqfile.rows_returned_per_row_decoded",
        if (decoded == 0) 0.0 else queries.map(q => t.count(q.id, "rows_returned")).sum / decoded,
        "ratio"),
      ("sources.seqfile.scan_tasks",
        if (scanQueries == 0) 0.0 else scanTasks.size.toDouble / scanQueries, "count"),
      ("sources.seqfile.task_busy_s", scanBusyMs / 1e3 / ops, "s"),
      ("sources.seqfile.task_skew", skew, "ratio"),
      ("sources.seqfile.core_idle_frac",
        if (scanWallMs == 0) 0.0 else 1 - scanBusyMs / (cores * scanWallMs), "fraction"),
      ("sources.seqfile.codec_share",
        if (fullBusyMs == 0) 0.0
        else decodeNsPerRow * fullTasks.map(_.recordsRead).sum / 1e6 / fullBusyMs,
        "fraction"),
      ("sources.seqfile.write_task_busy_s",
        writeTasks.map(_.runMs).sum / 1e3 / math.max(1, builds.size), "s"),
      ("sources.seqfile.write_commit_ms", mean(builds.map(b => t.driverNs(b) / 1e6)), "ms"),
      ("sources.seqfile.files_written", w.input.files.toDouble, "count"),
      ("operators.exact_dedup_s", spanS("exact_dedup"), "s"),
      ("operators.minhash_s", spanS("minhash"), "s"),
      ("operators.jobs", opJobs.size / ops, "count"),
      ("operators.tasks", opTasks.size / ops, "count"),
      ("operators.shuffle_write_bytes", opTasks.map(_.shuffleWrite).sum / ops, "B"),
      ("operators.spill_bytes", opTasks.map(_.spill).sum / ops, "B"),
      ("operators.gc_s", opTasks.map(_.gcMs).sum / 1e3 / ops, "s"),
      ("operators.core_idle_frac",
        if (opWallMs == 0) 0.0 else 1 - opTasks.map(_.runMs).sum / (cores * opWallMs),
        "fraction"),
      ("api.driver_ms_per_query", mean(queries.map(q => t.driverNs(q) / 1e6)), "ms"),
      ("api.jobs_per_query", if (queries.isEmpty) 0.0 else inQueries.size.toDouble / queries.size,
        "count"),
      ("trace.iteration_self_ms", selfMs("iteration"), "ms"),
      ("trace.query_self_ms", selfMs("query"), "ms"),
      ("trace.plan_self_ms", selfMs("plan"), "ms"),
      ("trace.execute_self_ms", selfMs("execute"), "ms"),
      ("trace.job_self_ms", selfMs("job"), "ms"),
      ("trace.stage_self_ms", selfMs("stage"), "ms"),
      ("trace.spans_per_op", t.spans.size / ops, "count"),
      ("trace.overhead_ms",
        Main.percentile(traced.latMs, 0.5) - Main.percentile(untraced.latMs, 0.5), "ms"))
  }
}
