"""Names and units of every metric the benchmark reports.

End-to-end metrics are the same two on every workload (each workload
prints all of them): the set-up time and the time of one cycle of the
workload's operations (the sum of each operation's median). The
workload-specific operation medians and the layer metrics come from the
traced run (``--trace 1``); a layer a
workload does not exercise reports 0 there.
"""

from __future__ import annotations

END_TO_END = [
    ("setup_s", "s"),
    ("cycle_s", "s"),
]

# Per-workload operation medians (untraced loop of the traced run).
OPS = [
    ("op.full_load_s", "s"),
    ("op.sync_nochange_s", "s"),
    ("op.sync_change_s", "s"),
    ("op.reconcile_s", "s"),
    ("op.merge_snapshot_s", "s"),
    ("op.merge_batch_s", "s"),
    ("op.view_refresh_s", "s"),
    ("op.scan_s", "s"),
    ("op.compact_s", "s"),
    ("op.state_bytes_per_live_byte", "ratio"),
]

DECLINE_REASONS = ["batch_too_big", "shape", "duplicate_keys", "error", "other"]
REFRESH_MODES = ["driver", "spark", "rebuild", "noop"]

LAYERS = [
    ("session.get_spark_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("session.jobs_per_full_load", "count"),
    ("session.jobs_per_sync_nochange", "count"),
    ("session.jobs_per_sync_change", "count"),
    ("session.jobs_per_merge_snapshot", "count"),
    ("session.jobs_per_merge_batch", "count"),
    ("sources.read_exec_s", "s"),
    ("functions.prepare_exec_s", "s"),
    ("functions.hash_rows_per_s", "1/s"),
    ("operators.cdc.classify_exec_s", "s"),
    ("plans.full_sync.table_s.max", "s"),
    ("plans.full_sync.table_s.sum", "s"),
    ("plans.incremental_sync.table_s.max", "s"),
    ("plans.incremental_sync.table_s.sum", "s"),
    ("plans.generations.record_s", "s"),
    ("plans.incremental_agg.refresh_s", "s"),
    *[(f"plans.incremental_agg.refresh_mode.{m}", "count") for m in REFRESH_MODES],
    ("sinks.writers.merge_s", "s"),
    ("sinks.writers.write_amp", "ratio"),
    ("sinks.mor.merge_s", "s"),
    ("sinks.mor.delta_files", "count"),
    ("sinks.mor.write_amp", "ratio"),
    ("sinks.mor.scan_files", "count"),
    ("sinks.mor.compact_bytes_rewritten", "bytes"),
    *[(f"sinks.driver_mor.declines.{r}", "count") for r in DECLINE_REASONS],
    ("sinks.driver_mor.driver_path_ratio", "ratio"),
    ("sinks.digest_store.sidecar_valid_ratio", "ratio"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_ratio", "ratio"),
    ("failed_ops_ratio", "ratio"),
]

PER_LAYER = LAYERS + OPS
