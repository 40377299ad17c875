package perfbench

/** The per-layer metrics of a traced run. Every workload reports every
  * name: a layer the workload is documented to bypass reports 0, and a
  * name it should have measured but did not fails the run.
  */
object Layers {
  private val tables = IndexWorkload.Tables
  private val families = QuerySuite.Families

  val Names: Seq[String] =
    Seq("sources.fetch_ms_per_height", "sources.latest_offset_ms",
      "sources.catalog_plan_ms", "sources.catalog_exec_ms",
      "sources.catalog_exec_p90_ms") ++
    tables.map(t => s"indexer.route_ms.$t") ++
    tables.map(t => s"indexer.rows_out.$t") ++
    Seq("indexer.chain_s") ++
    tables.map(t => s"sinks.merge_ms.$t") ++
    Seq("sinks.jobs_per_merge", "sinks.bytes_read_per_merge",
      "sinks.bytes_written_per_landing_byte") ++
    tables.map(t => s"sinks.table_files.$t") ++
    tables.map(t => s"sinks.manifest_version.$t") ++
    Seq("streaming.trigger_ms", "streaming.add_batch_ms",
      "streaming.query_planning_ms", "streaming.wal_commit_ms",
      "streaming.commit_offsets_ms", "streaming.latest_offset_ms",
      "streaming.heights_per_batch", "streaming.unattributed_ms_per_trigger",
      "streaming.foreach_batch_self_ms", "streaming.stream_family_s",
      "streaming.state_rows", "streaming.state_commit_ms") ++
    families.filterNot(Set("streaming", "chain")).map(f => s"operators.${f}_s") ++
    QuerySuite.Queries.map(q => s"query.${q._1}_s") ++
    families.map(f => s"plans.exchanges.$f") ++
    families.map(f => s"engine.shuffle_write_bytes.$f") ++
    families.map(f => s"engine.executor_cpu_s.$f") ++
    Seq("engine.jobs", "engine.stages", "engine.tasks", "engine.spill_bytes",
      "engine.gc_s", "load.generator_late_p99_ms",
      "load.backlog_slope_heights_per_s", "trace.spans", "trace.probe_share",
      "trace.ops_per_s", "trace.op_latency_p50_ms")

  private val pumpNames = Set("streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.latest_offset_ms",
    "streaming.heights_per_batch", "streaming.unattributed_ms_per_trigger",
    "streaming.foreach_batch_self_ms")

  /** The names of the layers a workload never calls. */
  def bypassed(workload: String): Set[String] = workload match {
    case "index" =>
      Names.filter(n => Seq("operators.", "query.", "plans.",
        "engine.shuffle_write_bytes.", "engine.executor_cpu_s.").exists(n.startsWith))
        .toSet ++ Set("indexer.chain_s", "streaming.stream_family_s",
          "streaming.state_rows", "streaming.state_commit_ms")
    case "query_suite" =>
      Names.filter(n => Seq("sources.", "sinks.", "indexer.route_ms.",
        "indexer.rows_out.", "load.").exists(n.startsWith)).toSet ++
        pumpNames + "trace.probe_share"
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Derive the span-based metrics, report 0 for the bypassed layers, and
    * fail a check for every other name left unmeasured.
    */
  def summarize(trace: Trace, out: Outcome, workload: String): Unit = {
    val spans = trace.all
    val self = trace.selfMs
    def named(n: String) = spans.filter(_.name == n)
    tables.foreach { t =>
      val ms = named(s"merge.$t").map(_.ms)
      if (ms.nonEmpty) out.metrics(s"sinks.merge_ms.$t") = Stats.median(ms)
    }
    val merges = spans.filter(_.name.startsWith("merge."))
    if (merges.nonEmpty) {
      val cs = merges.map(s => trace.countersOf(s.id))
      out.metrics("sinks.jobs_per_merge") = cs.map(_.jobs).sum.toDouble / merges.size
      out.metrics("sinks.bytes_read_per_merge") = cs.map(_.inputBytes).sum.toDouble / merges.size
    }
    Seq("catalog.plan" -> "sources.catalog_plan_ms", "catalog.exec" -> "sources.catalog_exec_ms")
      .foreach { case (n, m) =>
        val ms = named(n).map(_.ms)
        if (ms.nonEmpty) out.metrics(m) = Stats.median(ms)
      }
    val fb = named("foreach_batch").map(s => self(s.id))
    if (fb.nonEmpty) out.metrics("streaming.foreach_batch_self_ms") = Stats.median(fb)
    val e = trace.engineTotal
    out.metrics("engine.jobs") = e.jobs.toDouble
    out.metrics("engine.stages") = e.stages.toDouble
    out.metrics("engine.tasks") = e.tasks.toDouble
    out.metrics("engine.spill_bytes") = e.spillBytes.toDouble
    out.metrics("engine.gc_s") = e.gcMs / 1000.0
    out.metrics("trace.spans") = spans.size.toDouble
    // the traced run's own end-to-end figures: minus the untraced run's,
    // they are the tracing overhead
    out.metrics("trace.ops_per_s") = out.metrics("ops_per_s")
    out.metrics("trace.op_latency_p50_ms") = out.metrics("op_latency_p50_ms")
    val skip = bypassed(workload)
    skip.foreach(n => if (!out.metrics.contains(n)) out.metrics(n) = 0.0)
    val missing = Names.filterNot(out.metrics.contains)
    out.check("trace.every_layer_measured", missing.isEmpty,
      s"not measured: ${missing.mkString(", ")}")
  }
}
