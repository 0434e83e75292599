package graftbench

/** Every metric the bench prints, with its unit. Each run reports every
  * end-to-end metric (untraced) or every per-layer metric (traced); a layer
  * that a workload's path never enters reads 0. `BENCHMARK.json` lists the
  * same names, and `run.py` checks the two agree. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_s" -> "s",
    "read_p50_s" -> "s",
    "live_heap_mb" -> "MB")

  val OperatorQueries: Seq[String] = OperatorMix.Queries.map(q => s"operators.q.${q}_s")

  val PerLayer: Seq[(String, String)] = Seq(
    "kernel.cpu_us_per_file" -> "us",
    "kernel.alloc_bytes_per_file" -> "bytes",
    "extract.tokenize_cpu_us_per_file" -> "us",
    "extract.tokenize_alloc_bytes_per_file" -> "bytes",
    "kernel.spans" -> "count",
    "kernel.topk_survivors" -> "count",
    "kernel.mentions" -> "count",
    "kernel.yield" -> "ratio",
    "scan_s" -> "s",
    "extract_s" -> "s",
    "link_s" -> "s",
    "canon_s" -> "s",
    "emit_s" -> "s",
    "stream_batch_s" -> "s",
    "publish_s" -> "s",
    "materialize_s" -> "s",
    "read_s.depth0" -> "s",
    "read_s.depth1" -> "s",
    "read_s.depth2" -> "s",
    "unattributed_s" -> "s",
    "canon_rows" -> "count",
    "rows_written" -> "count",
    "snapshot_rows" -> "count",
    "files_written" -> "count",
    "table_bytes" -> "bytes",
    "state_bytes" -> "bytes",
    "publish_jobs" -> "count",
    "publish_busy_share" -> "ratio",
    "publish_paths.overlay" -> "count",
    "publish_paths.materialized" -> "count",
    "publish_paths.full" -> "count",
    "jobs" -> "count",
    "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes",
    "gc_s" -> "s",
    "busy_share" -> "ratio",
    "trace_overhead" -> "ratio") ++
    OperatorQueries.map(_ -> "s") ++ Seq(
    "operators.jobs" -> "count",
    "operators.shuffle_bytes" -> "bytes",
    "operators.gc_s" -> "s")
}
