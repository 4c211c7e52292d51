package perfbench

/** Per-layer metrics, named by graft module, computed from the traced
  * spans. Totals are summed over one pass and reported as the median
  * over traced passes; ratios are taken over the whole traced section.
  */
object Layers {
  private val Fmts = Seq("delta", "iceberg", "hudi")

  /** Every per-layer metric and its unit, in output order. A metric a
    * workload does not exercise reads 0.
    */
  val Names: Seq[(String, String)] = Seq(
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "plans.plan_ms" -> "ms",
    "driver.exec_ms" -> "ms", "driver.jobs" -> "count", "driver.stages" -> "count",
    "driver.tasks" -> "count", "driver.gap_ms" -> "ms",
    "scan.input_mb" -> "MB", "scan.input_records" -> "count", "scan.task_ms" -> "ms",
    "scan.files" -> "count",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_ms" -> "ms",
    "shuffle.spill_mb" -> "MB",
    "compute.cpu_ms" -> "ms", "compute.run_ms" -> "ms", "compute.gc_ms" -> "ms",
    "compute.skew" -> "ratio") ++
    (for (f <- Fmts; o <- Seq("append", "merge", "delete")) yield s"tables.commit_ms.$f.$o" -> "ms") ++
    Seq("tables.commit_jobs" -> "count") ++
    Fmts.map(f => s"tables.snapshot_ms.$f" -> "ms") ++
    Seq("tables.files_read_frac" -> "ratio", "tables.log_files" -> "count",
      "tables.data_files" -> "count", "tables.stored_mb" -> "MB",
      "tables.stored_bytes_per_input_byte" -> "ratio",
      "catalog.resolve_ms" -> "ms", "catalog.files_read_frac" -> "ratio",
      "jvm.heap_used_mb" -> "MB", "jvm.gc_ms" -> "ms", "trace_overhead_pct" -> "%")

  def metrics(spans: Seq[Span]): Map[String, Double] = {
    val byPass = spans.groupBy(_.pass).values.toSeq
    /** Median over traced passes of a per-pass total. */
    def perPass(f: Seq[Span] => Double): Double = Stats.percentile(byPass.map(f), 50)
    def named(ss: Seq[Span], n: String) = ss.filter(_.name == n)
    def ops(ss: Seq[Span]) = ss.filter(_.parent == -1)
    val mb = 1048576.0
    Map(
      "queries.build_ms" -> perPass(named(_, "queries.build").map(_.ms).sum),
      "queries.build_jobs" -> perPass(named(_, "queries.build").map(_.delta.jobs.toDouble).sum),
      "plans.plan_ms" -> perPass(named(_, "plans.plan").map(_.ms).sum),
      "driver.exec_ms" -> perPass(named(_, "driver.exec").map(_.ms).sum),
      "driver.jobs" -> perPass(named(_, "driver.exec").map(_.delta.jobs.toDouble).sum),
      "driver.stages" -> perPass(named(_, "driver.exec").map(_.delta.stages.toDouble).sum),
      "driver.tasks" -> perPass(named(_, "driver.exec").map(_.delta.tasks.toDouble).sum),
      "driver.gap_ms" -> perPass(named(_, "driver.exec").map(Trace.gapMs).sum),
      "scan.input_mb" -> perPass(ops(_).map(_.delta.inputBytes / mb).sum),
      "scan.input_records" -> perPass(ops(_).map(_.delta.inputRecords.toDouble).sum),
      "scan.task_ms" -> perPass(ops(_).map(_.delta.scanTaskMs.toDouble).sum),
      "scan.files" -> perPass(ops(_).flatMap(_.attrs.get("scan.files")).sum),
      "shuffle.write_mb" -> perPass(ops(_).map(_.delta.shuffleWriteBytes / mb).sum),
      "shuffle.read_mb" -> perPass(ops(_).map(_.delta.shuffleReadBytes / mb).sum),
      "shuffle.fetch_wait_ms" -> perPass(ops(_).map(_.delta.fetchWaitMs.toDouble).sum),
      "shuffle.spill_mb" -> perPass(ops(_).map(_.delta.spillBytes / mb).sum),
      "compute.cpu_ms" -> perPass(ops(_).map(_.delta.cpuNs / 1e6).sum),
      "compute.run_ms" -> perPass(ops(_).map(_.delta.runMs.toDouble).sum),
      "compute.gc_ms" -> perPass(ops(_).map(_.delta.gcMs.toDouble).sum),
      "compute.skew" -> Stats.percentile(ops(spans).map(Trace.skew), 50))
  }

  /** Writes spans, per-layer self time and metrics as one JSON file. */
  def write(path: String, summary: String, spans: Seq[Span], layer: Map[String, Double]): Unit = {
    def j(d: Double) = if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).toString
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spanJson = spans.map { s =>
      val d = s.delta
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"op":${s.op},"pass":${s.pass},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${d.jobs},"stages":${d.stages},""" +
        s""""tasks":${d.tasks},"input_bytes":${d.inputBytes},"shuffle_write_bytes":${d.shuffleWriteBytes},""" +
        s""""shuffle_read_bytes":${d.shuffleReadBytes},"cpu_ns":${d.cpuNs},"run_ms":${d.runMs},""" +
        s""""attrs":${s.attrs.map { case (k, v) => q(k) + ":" + j(v) }.mkString("{", ",", "}")}}"""
    }
    val self = Trace.selfMs(spans).toSeq.sortBy(_._1).map { case (k, v) => q(k) + ":" + j(v) }
    val metrics = layer.toSeq.sortBy(_._1).map { case (k, v) => q(k) + ":" + j(v) }
    val out = new java.io.File(path)
    Option(out.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println(s"""{"summary":$summary,""")
      w.println(s""""self_ms":${self.mkString("{", ",", "}")},""")
      w.println(s""""per_layer":${metrics.mkString("{", ",", "}")},""")
      w.println(""""spans":[""")
      w.println(spanJson.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}
