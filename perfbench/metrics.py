"""What each per-layer metric should move.

BENCHMARK.json at the repo root lists every metric with its unit; this
module adds, for each per-layer metric, the end-to-end metric it should
move and the workloads it is measured on. A per-layer metric whose layer
a workload does not touch reads 0 there. Timings are medians over the
traced batches, and counts are per batch (for pages_flagship's stage
counts: one ladder pass).
"""

from __future__ import annotations

_P = "pages_flagship"
_T = "tick_stream"
_B = "backlog_quarantine"
_ALL = (_P, _T, _B)

# per-layer metric -> (end-to-end metric it should move, workloads)
MOVES = {
    "session.start_s": ("setup_s", _ALL),
    "setup.first_batch_s": ("setup_s", _ALL),
    "setup.ramp_s": ("setup_s", _ALL),
    "datagen.input_s": ("none (load generator)", _ALL),
    "generator.max_late_s": ("none (run validity)", (_T,)),
    "trace.batches": ("none (sample size)", _ALL),
    "trace.batch_wall_s": ("batch_p50_s", _ALL),
    "trace.overhead_ratio": ("none (traced over untraced batch_p50_s)", _ALL),
    "trace.unattributed_s": ("none (batch time outside every layer)", _ALL),
    # prefix ladder of build_pages_agg: self time = rung minus previous rung
    "plans.scan_s": ("rows_per_s", (_P,)),
    "operators.extract_s": ("rows_per_s", (_P,)),
    "operators.cel_s": ("rows_per_s", (_P,)),
    "operators.json_mutate_s": ("rows_per_s", (_P,)),
    "operators.enrich_s": ("rows_per_s", (_P,)),
    "operators.aggregate_s": ("rows_per_s", (_P,)),
    "plans.build_s": ("batch_p50_s", (_P,)),
    "plans.self_s": ("batch_p50_s", (_P,)),
    "operators.extract.rows_out": ("none (plan evidence)", (_P,)),
    "operators.syslog.rows_out": ("none (plan evidence)", (_B,)),
    "operators.kv.rows_out": ("none (plan evidence)", (_B,)),
    "operators.cel.rows_out": ("none (plan evidence)", _ALL),
    "operators.json_mutate.rows_out": ("none (plan evidence)", _ALL),
    "operators.enrich.rows_out": ("none (plan evidence)", (_P,)),
    "operators.aggregate.rows_out": ("none (plan evidence)", (_P,)),
    "spark.codegen_ms": ("rows_per_s", (_P, _B)),
    "spark.broadcast_collect_ms": ("rows_per_s", (_P,)),
    "spark.scan_bytes": ("rows_per_s", (_P, _B)),
    "spark.shuffle_bytes": ("rows_per_s", (_P, _B)),
    "spark.peak_memory_bytes": ("peak_rss_mb", (_P, _B)),
    "spark.spill_bytes": ("rows_per_s", (_P, _B)),
    "operators.python_ms": ("rows_per_s", (_T, _B)),
    "operators.arrow_bytes_in": ("rows_per_s", (_T, _B)),
    "operators.arrow_bytes_out": ("rows_per_s", (_T, _B)),
    "sources.read_s": ("batch_p50_s / rows_per_s", (_T, _B)),
    "sources.ack_s": ("batch_p50_s", (_T, _B)),
    "sources.rows": ("rows_per_s", (_T, _B)),
    "sources.spill_bytes": ("rows_per_s", (_B,)),
    "pipeline.transform_s": ("batch_p50_s", (_T, _B)),
    "pipeline.self_s": ("batch_p50_s", (_T, _B)),
    "pipeline.sql_executions_per_batch": ("batch_p50_s", (_T, _B)),
    "pipeline.parse_rows_per_input_row": ("rows_per_s", (_B,)),
    "collector.self_s": ("batch_p50_s", (_T, _B)),
    "collector.start_s": ("batch_p50_s", (_B,)),
    "sinks.ok.write_s": ("batch_p50_s / rows_per_s", (_T, _B)),
    "sinks.errors.write_s": ("batch_p50_s / rows_per_s", (_T, _B)),
    "sinks.archive.write_s": ("batch_p50_s", (_T,)),
    "sinks.quarantine.write_s": ("rows_per_s", (_B,)),
    "sinks.files_per_batch": ("batch_p50_s", (_T, _B)),
    "sinks.bytes_written": ("rows_per_s", (_T, _B)),
    "sinks.rows_written": ("none (correctness)", (_T, _B)),
    "checkpoint.commit_s": ("batch_p50_s", (_T, _B)),
    "checkpoint.load_s": ("batch_p50_s", (_T, _B)),
    "checkpoint.load_calls_per_tick": ("batch_p50_s", (_T, _B)),
    "checkpoint.manifest_bytes_per_commit": ("batch_p50_s", (_T, _B)),
}

# span name -> per-layer self-time metric
SPAN_METRIC = {
    "batch": "trace.unattributed_s",
    "plans.run_pages_pipeline": "plans.self_s",
    "plans.build_pages_agg": "plans.build_s",
    "collector.tick": "collector.self_s",
    "collector.start": "collector.start_s",
    "pipeline.run_tick": "pipeline.self_s",
    "pipeline.run_batch": "pipeline.self_s",
    "pipeline.transform": "pipeline.transform_s",
    "sources.read_new": "sources.read_s",
    "sources.commit_read": "sources.ack_s",
    "sinks.ok.write": "sinks.ok.write_s",
    "sinks.errors.write": "sinks.errors.write_s",
    "sinks.archive.write": "sinks.archive.write_s",
    "sinks.quarantine.write": "sinks.quarantine.write_s",
    "checkpoint.commit": "checkpoint.commit_s",
    "checkpoint.load": "checkpoint.load_s",
}
