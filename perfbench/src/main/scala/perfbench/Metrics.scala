package perfbench

/** Metric names, units, and how each is derived from a phase. */
object Metrics {
  /** End-to-end metrics (untraced runs), as BENCHMARK.json lists them. */
  val endToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "op_p90_ms", "heap_live_mb")

  /** Per-layer metrics (traced runs), as BENCHMARK.json lists them. */
  val perLayerNames: Seq[String] = Seq(
    "plan.analysis_ms", "plan.optimize_ms", "plan.physical_ms", "plan.wall_ms",
    "plan.codegen_compiles", "plan.codegen_ms",
    "orm.build_ms", "orm.read_one_ms", "orm.qbe_read_ms", "orm.total_ms",
    "orm.belongs_to_ms", "orm.has_many_ms", "orm.many_to_many_ms",
    "orm.select_list_ms", "orm.sql_ms",
    "exec.jobs_per_op", "exec.stages_per_op", "exec.tasks_per_op", "exec.task_s",
    "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.input_mb", "exec.parallelism", "exec.job_wait_ms",
    "manifest.latest_ms", "manifest.append_ms", "manifest.delete_ms",
    "manifest.read_where_ms", "manifest.files_live",
    "manifest.files_scanned_per_read", "manifest.prune_ratio",
    "manifest.fs_read_ops", "manifest.fs_write_ops", "manifest.fs_list_ops",
    "manifest.fs_bytes_written_mb",
    "door.view_ms", "door.catalog_ms", "door.dsv2_ms", "door.plan_ms",
    "stream.sink_path_ms", "stream.ops_path_ms", "stream.latest_offset_ms",
    "stream.get_batch_ms", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.trigger_ms",
    "stream.replay_noop_ms", "stream.batches",
    "curate.near_dedup_ms", "curate.dup_recall", "curate.false_drops",
    "curate.lsh_pairs_s", "curate.components_s", "curate.ivf_centroids_s",
    "curate.ivf_topk_s", "curate.pairs_out", "curate.pair_recall",
    "setup.session_s", "setup.generate_s", "setup.warmup_s",
    "trace.overhead_frac",
    "share.plan", "share.job_wait", "share.exec_busy", "share.orm",
    "share.manifest", "share.door", "share.stream", "share.curate",
    "self.plan_ms", "self.orm_ms", "self.exec_ms", "self.manifest_ms",
    "self.door_ms", "self.stream_ms", "self.curate_ms", "self.bench_ms",
    "workload.read_p50_ms", "workload.read_p90_ms", "workload.write_p50_ms",
    "workload.write_p90_ms", "workload.freshness_p50_ms",
    "workload.freshness_p90_ms", "workload.rows_per_s", "workload.write_amp",
    "workload.space_amp", "workload.error_rate")

  def unit(k: String): String =
    if (k.endsWith("rows_per_s")) "1/s"
    else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_per_op")) "count/op"
    else if (k.startsWith("share.") || k.endsWith("_frac") || k.endsWith("_ratio") ||
      k.endsWith("_amp") || k.endsWith("_rate") || k.endsWith("recall") ||
      k.endsWith("parallelism")) "ratio"
    else "count"

  /** Latency/throughput figures the workloads share (the traced run
    * reports them as `workload.*`; every run prints them). */
  def workloadValues(ph: Phase, delta: Map[String, Long]): Map[String, Double] = {
    val wallS = ph.wallMs / 1000
    Map(
      "read_p50_ms" -> ph.p("read", 0.5), "read_p90_ms" -> ph.p("read", 0.9),
      "write_p50_ms" -> ph.p("write", 0.5), "write_p90_ms" -> ph.p("write", 0.9),
      "freshness_p50_ms" -> ph.p("freshness", 0.5),
      "freshness_p90_ms" -> ph.p("freshness", 0.9),
      "rows_per_s" -> ph.values.get("rows").map(_ / wallS).getOrElse(Double.NaN),
      "write_amp" -> ph.values.get("user_bytes").map(ub =>
        delta.getOrElse("fs.bytes_written", 0L) / ub).getOrElse(Double.NaN),
      "space_amp" -> ph.values.getOrElse("space_amp", Double.NaN),
      "error_rate" -> ph.failed.toDouble / math.max(1L, ph.attempted))
  }

  /** Human-readable lines: the workload figures with sample counts, the
    * deterministic counters, and any failed checks. */
  def workloadLines(wl: Workload, ph: Phase, delta: Map[String, Long]): Seq[String] = {
    val n = Map("read" -> ph.n("read"), "write" -> ph.n("write"),
      "freshness" -> ph.n("freshness"))
    val w = workloadValues(ph, delta).toSeq.sortBy(_._1).map { case (k, v) =>
      val cls = k.takeWhile(_ != '_')
      val count = n.get(cls).fold("")(c => s" (n=$c)")
      if (v.isNaN) f"# $k%-20s n/a" else f"# $k%-20s ${Json.fmt(v)} ${unit(k)}$count"
    }
    val ops = math.max(1, ph.opWall.size)
    val counters = Seq(
      "exec.jobs_per_op" -> delta.getOrElse("exec.jobs", 0L).toDouble / ops,
      "exec.stages_per_op" -> delta.getOrElse("exec.stages", 0L).toDouble / ops,
      "plan.codegen_compiles" -> delta.getOrElse("plan.codegen_compiles", 0L).toDouble,
      "manifest.files_scanned_per_read" -> ph.values.getOrElse("files_scanned", 0.0) /
        math.max(1.0, ph.values.getOrElse("scans", 0.0)),
      "manifest.fs_write_ops" -> delta.getOrElse("fs.write_ops", 0L).toDouble
    ).map { case (k, v) => f"# counter $k%-32s ${Json.fmt(v)}" }
    Seq(s"# workload ${wl.name}: ${ph.opWall.size} ops in ${Json.fmt(ph.wallMs / 1000)} s, " +
      s"${ph.failed} failed of ${ph.attempted}") ++ w ++ counters ++
      ph.problems.map(p => s"# problem: $p")
  }

  def perLayer(ph: Phase, d: Map[String, Long], spans: Seq[Span]): Map[String, Double] = {
    val ops = math.max(1, ph.opWall.size).toDouble
    val wallMs = math.max(1e-9, ph.opWall.sum)
    def dl(k: String) = d.getOrElse(k, 0L).toDouble
    def v(k: String) = ph.values.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def spanP50(layer: String, name: String) = {
      val xs = spans.filter(s => s.layer == layer && s.name == name).map(_.dur / 1000.0)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def cover(layer: String) =
      Probe.union(spans.filter(s => s.layer == layer && s.parent >= 0)
        .map(s => (s.start, s.end)), Long.MinValue, Long.MaxValue) / 1000.0
    def kind(k: String) = { val x = ph.kindP50(k); if (x.isNaN) 0.0 else x }
    val self = Probe.selfTimeByLayer(spans)
    val batches = dl("stream.batches")
    def phase(k: String) = ratio(dl(s"stream.phase.$k"), batches)
    val planMs = spans.filter(_.layer == "plan").filter(_.parent < 0).map(_.dur / 1000.0).sum
    val w = workloadValues(ph, d).map { case (k, x) =>
      s"workload.$k" -> (if (x.isNaN) 0.0 else x) }
    w ++ Map(
      "plan.analysis_ms" -> dl("plan.analysis_ms") / ops,
      "plan.optimize_ms" -> dl("plan.optimize_ms") / ops,
      "plan.physical_ms" -> dl("plan.physical_ms") / ops,
      "plan.wall_ms" -> v("plan.wall_ms") / ops,
      "plan.codegen_compiles" -> dl("plan.codegen_compiles"),
      "plan.codegen_ms" -> dl("plan.codegen_ns") / 1e6 / ops,
      "orm.build_ms" -> ratio(v("orm.build_ms"), v("orm.builds")),
      "orm.read_one_ms" -> kind("read_one"), "orm.qbe_read_ms" -> kind("qbe_read"),
      "orm.total_ms" -> kind("total"), "orm.belongs_to_ms" -> kind("belongs_to"),
      "orm.has_many_ms" -> kind("has_many"),
      "orm.many_to_many_ms" -> kind("many_to_many"),
      "orm.select_list_ms" -> kind("select_list"), "orm.sql_ms" -> kind("sql"),
      "exec.jobs_per_op" -> dl("exec.jobs") / ops,
      "exec.stages_per_op" -> dl("exec.stages") / ops,
      "exec.tasks_per_op" -> dl("exec.tasks") / ops,
      "exec.task_s" -> dl("exec.task_ms") / 1000,
      "exec.cpu_s" -> dl("exec.cpu_ns") / 1e9,
      "exec.gc_s" -> dl("exec.gc_ms") / 1000,
      "exec.shuffle_write_mb" -> dl("exec.shuffle_write_b") / 1e6,
      "exec.shuffle_read_mb" -> dl("exec.shuffle_read_b") / 1e6,
      "exec.input_mb" -> dl("exec.input_b") / 1e6,
      "exec.parallelism" -> dl("exec.task_ms") / math.max(1e-9, ph.wallMs),
      "exec.job_wait_ms" -> dl("exec.job_wait_ms") / ops,
      "manifest.latest_ms" -> spanP50("manifest", "latest"),
      "manifest.append_ms" -> spanP50("manifest", "append"),
      "manifest.delete_ms" -> spanP50("manifest", "delete"),
      "manifest.read_where_ms" -> spanP50("manifest", "read_where"),
      "manifest.files_live" -> v("files_live"),
      "manifest.files_scanned_per_read" -> ratio(v("files_scanned"), v("scans")),
      "manifest.prune_ratio" -> ratio(v("pruned"), v("scans")),
      "manifest.fs_read_ops" -> dl("fs.read_ops"),
      "manifest.fs_write_ops" -> dl("fs.write_ops"),
      "manifest.fs_list_ops" -> dl("fs.list_ops"),
      "manifest.fs_bytes_written_mb" -> dl("fs.bytes_written") / 1e6,
      "door.view_ms" -> spanP50("door", "view"),
      "door.catalog_ms" -> spanP50("door", "catalog"),
      "door.dsv2_ms" -> spanP50("door", "dsv2"),
      "door.plan_ms" -> ratio(v("door.plan_ms"), v("door.reads")),
      "stream.sink_path_ms" -> kind("sink_path"),
      "stream.ops_path_ms" -> kind("ops_path"),
      "stream.latest_offset_ms" -> phase("latestOffset"),
      "stream.get_batch_ms" -> phase("getBatch"),
      "stream.add_batch_ms" -> phase("addBatch"),
      "stream.query_planning_ms" -> phase("queryPlanning"),
      "stream.wal_commit_ms" -> phase("walCommit"),
      "stream.commit_offsets_ms" -> phase("commitOffsets"),
      "stream.trigger_ms" -> phase("triggerExecution"),
      "stream.replay_noop_ms" -> kind("replay_noop"),
      "stream.batches" -> batches,
      "curate.near_dedup_ms" -> spanP50("curate", "near_dedup"),
      "curate.dup_recall" -> v("dup_recall"),
      "curate.false_drops" -> v("false_drops"),
      "curate.lsh_pairs_s" -> spanP50("curate", "lsh_pairs") / 1000,
      "curate.components_s" -> spanP50("curate", "components") / 1000,
      "curate.ivf_centroids_s" -> spanP50("curate", "ivf_centroids") / 1000,
      "curate.ivf_topk_s" -> spanP50("curate", "ivf_topk") / 1000,
      "curate.pairs_out" -> ratio(v("pairs_out"), v("curations")),
      "curate.pair_recall" -> v("pair_recall"),
      "share.plan" -> planMs / wallMs,
      "share.job_wait" -> dl("exec.job_wait_ms") / wallMs,
      "share.exec_busy" -> (dl("exec.job_wall_ms") - dl("exec.job_wait_ms")) / wallMs,
      "share.orm" -> cover("orm") / wallMs,
      "share.manifest" -> cover("manifest") / wallMs,
      "share.door" -> cover("door") / wallMs,
      "share.stream" -> cover("stream") / wallMs,
      "share.curate" -> cover("curate") / wallMs) ++
      Seq("plan", "orm", "exec", "manifest", "door", "stream", "curate", "bench").map(l =>
        s"self.${l}_ms" -> self.getOrElse(l, 0L) / 1000.0 / ops)
  }

  /** The result object: the last line of standard output. */
  def result(ph: Phase, metrics: Map[String, Double]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, x) =>
      s"""${Json.str(k)}:{"value":${Json.num(x)},"unit":${Json.str(unit(k))}}"""
    }.mkString(",")
    s"""{"correct":${ph.failed == 0},"attempted":${ph.attempted},""" +
      s""""failed":${ph.failed},"metrics":{$ms}}"""
  }
}
