package perfbench

/** Per-layer metrics of a traced run, from its spans and samples. */
object Layers {
  /** Every per-layer metric a traced run reports, in BENCHMARK.json order. */
  lazy val Names: Seq[String] = {
    val facade = Seq("calls", "jobs_per_call", "stages_per_call", "tasks_per_call",
      "shuffle_kb_per_call", "exec_cpu_ms_per_call", "gc_ms_per_call", "driver_ms_per_call")
    Seq("vdb_query", "vdb_write", "vdb_get").flatMap(p => facade.map(f => s"${p}_$f")) ++
      Strategies.map(s => s"vdb_strategy_$s") ++
      Seq("maint_refreshes", "maint_refresh_s_per_refresh", "maint_incremental_share",
        "ladder_hnsw_refresh_s", "ladder_ann_refresh_s",
        "write_p50_ms", "write_tail_ms", "persist_s",
        "fma_peak_gflops_1t", "fma_peak_gflops_4t", "stream_copy_gb_per_s",
        "kernel_fp32_gmacs_1t", "kernel_fp32_gmacs_4t", "kernel_q8_gmacs_1t", "kernel_q8_gmacs_4t",
        "pack_rows_per_s", "scan_ms_per_call", "scan_rows_per_s", "scan_gb_per_s",
        "scan_share_of_stream", "ivf_fit_s", "ivf_assign_s", "ivf_search_ms_per_call",
        "hnsw_dist_build_s", "hnsw_dist_inserts_per_s", "hnsw_dist_search_ms_per_call",
        "q8_quantize_s", "q8_scan_ms_per_call", "bit_sketch_s", "bit_scan_ms_per_call",
        "pq_train_s", "pq_encode_s", "pq_scan_ms_per_call", "replica_build_s",
        "replica_hnsw_build_s", "replica_hnsw_inserts_per_s", "replica_exact_p50_us",
        "replica_hnsw_p50_us", "replica_get_p50_us", "storeio_save_s", "storeio_load_s",
        "storeio_bytes_per_user_byte", "jvm_gc_ms", "jvm_peak_heap_mb", "trace_spans",
        "trace_overhead_pct", "failed_op_share")
  }

  val QueryOps = Set("query", "queryDF")
  val WriteOps = Set("upsert", "upsertDF", "delete", "vacuum")
  /** The strategies the listed workloads' facade calls take; the
    * accelerated tiers and filtered ANN are timed by the ladder instead.
    */
  val Strategies = Seq("exact", "exact_filtered", "hnsw")

  def report(r: Result, run: Run, w: Workload, gcMs: Double, peakHeapMb: Double): Unit = {
    val tr = run.tracer
    def put(name: String, v: Double, unit: String): Unit = run.layer(name) = (v, unit)
    // the workload's own calls only: set-up and the ladder's probe store
    // are not what its end-to-end latencies time
    val facade = tr.spans.filter(s => s.layer == "VdbStore" && s.phase == "measure")

    // VdbStore, by class of call: Spark work per call and driver-only time
    def perCall(prefix: String, ss: Seq[Span]): Unit = {
      val n = math.max(1, ss.size).toDouble
      val ws = ss.map(tr.workOf)
      put(s"${prefix}_calls", ss.size, "count")
      put(s"${prefix}_jobs_per_call", ws.map(_.jobs).sum / n, "count")
      put(s"${prefix}_stages_per_call", ws.map(_.stages).sum / n, "count")
      put(s"${prefix}_tasks_per_call", ws.map(_.tasks).sum / n, "count")
      put(s"${prefix}_shuffle_kb_per_call", ws.map(_.shuffleBytes).sum / n / 1e3, "KB")
      put(s"${prefix}_exec_cpu_ms_per_call", ws.map(_.cpuNs).sum / n / 1e6, "ms")
      put(s"${prefix}_gc_ms_per_call", ws.map(_.gcMs).sum / n, "ms")
      put(s"${prefix}_driver_ms_per_call", ss.map(tr.driverMs).sum / n, "ms")
    }
    val queries = facade.filter(s => QueryOps(s.name)).toSeq
    perCall("vdb_query", queries)
    perCall("vdb_write", facade.filter(s => WriteOps(s.name)).toSeq)
    perCall("vdb_get", facade.filter(_.name == "get").toSeq)
    val strat = queries.flatMap(_.attrs.get("strategy")).map(_.toString.takeWhile(_ != '+').replace('-', '_'))
    Strategies.foreach(s => put(s"vdb_strategy_$s", strat.count(_ == s), "count"))

    // maintenance: index refreshes seen in the measured phase, and the one
    // after the ladder probe's small write to each index
    def refreshesOf(ss: Iterable[Span]) = ss.flatMap { s =>
      Seq("hnsw_refresh", "ann_refresh").flatMap(k =>
        s.attrs.get(k + "_s").map(v => (k, v.toString.toDouble, s.attrs(k + "_mode").toString)))
    }.toSeq
    val refreshes = refreshesOf(facade).map(x => (x._2, x._3))
    put("maint_refreshes", refreshes.size, "count")
    put("maint_refresh_s_per_refresh",
      if (refreshes.isEmpty) 0.0 else refreshes.map(_._1).sum / refreshes.size, "s")
    put("maint_incremental_share",
      if (refreshes.isEmpty) 0.0 else refreshes.count(_._2 == "incremental").toDouble / refreshes.size, "ratio")
    val probe = refreshesOf(tr.spans.filter(s => s.layer == "VdbStore" && s.phase == "ladder"))
    for (k <- Seq("hnsw_refresh", "ann_refresh"))
      put(s"ladder_${k}_s", probe.filter(_._1 == k).map(_._2).sum, "s")

    // writes: the workload's own when it writes, else the ladder probe's
    val measuredWrites = run.samples.filter(_.cls == "write").map(_.ms)
    val writes =
      if (measuredWrites.nonEmpty) measuredWrites.toSeq
      else tr.spans.filter(s => s.layer == "VdbStore" && s.phase == "ladder" && WriteOps(s.name))
        .map(_.ms).toSeq
    val (p, tail, _) = Stats.tail(writes)
    put("write_p50_ms", Stats.median(writes), "ms")
    put("write_tail_ms", tail, "ms")
    r.note(f"writes: n=${writes.size} tail=p$p%.1f")

    // self time by layer, over the measured phase
    tr.spans.filter(_.phase == "measure").groupBy(_.layer).foreach { case (l, ss) =>
      r.note(f"self time $l: ${ss.map(tr.selfMs).sum}%.1f ms over ${ss.size} spans")
    }

    // JVM, tracing, failures
    put("jvm_gc_ms", gcMs, "ms")
    put("jvm_peak_heap_mb", peakHeapMb, "MB")
    put("trace_spans", tr.spans.size, "count")
    val traced = run.samples.filter(s => s.traced && s.cls == "search").map(_.ms)
    val plain = run.samples.filter(s => !s.traced && s.cls == "search").map(_.ms)
    put("trace_overhead_pct",
      if (traced.isEmpty || plain.isEmpty) 0.0 else (Stats.median(traced) / Stats.median(plain) - 1) * 100, "%")
    put("failed_op_share", run.failed.toDouble / math.max(1, run.attempted), "ratio")
  }
}
