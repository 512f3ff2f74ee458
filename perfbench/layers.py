"""Every metric the benchmark reports: unit, and for per-layer metrics the
layer (module of ``nifi_processors_spark``), the base a count or time is
taken over, and the end-to-end metric and workload it should move.

``run.py`` emits exactly these names; ``report.py`` prints the map.
"""

from __future__ import annotations

from bench import BENCH_QUERIES

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "epoch_ms_p50": "ms",
    "lookup_ms_p50": "ms",
    "scan_ms_p50": "ms",
    "table_mb": "MB",
    "write_amp": "ratio",
    "query_s": "s",
}

# the sf tables those queries read
QUERY_TABLES = ["events", "lineitem", "customer", "documents", "embeddings"]

PER_EPOCH = "per epoch"
BOTH = "bulk_cow, trickle_mor"

# name -> (unit, layer, base, feeds, workload)
PER_LAYER: dict[str, tuple[str, str, str, str, str]] = {
    "apply.epoch_ms": ("ms", "operators/apply", PER_EPOCH, "epoch_ms_p50", BOTH),
    "apply.self_ms": ("ms", "operators/apply", PER_EPOCH, "epoch_ms_p50", BOTH),
    "run.post_ms": ("ms", "operators/apply", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "apply.rows_in": ("count", "operators/apply", PER_EPOCH, "base for ratios", BOTH),
    "apply.affected_buckets": ("count", "operators/apply", PER_EPOCH, "base for ratios", BOTH),
    "envelope.parse_exprs": ("count", "operators/envelope", "per merge plan", "events_per_s",
                             "bulk_cow"),
    "envelope.parse_stage_ms": ("ms", "operators/envelope", "task time per epoch",
                                "events_per_s", "bulk_cow"),
    "table.merge_ms": ("ms", "plans/table", PER_EPOCH, "epoch_ms_p50", BOTH),
    "table.compact_ms": ("ms", "plans/table", PER_EPOCH, "events_per_s, lookup_ms_p50, "
                         "scan_ms_p50", "trickle_mor"),
    "table.delta_files": ("count", "plans/table", "after each epoch", "events_per_s, "
                          "lookup_ms_p50, scan_ms_p50", "trickle_mor"),
    "table.changes_calls": ("count", "plans/table", PER_EPOCH, "run.post_ms -> epoch_ms_p50",
                            "trickle_mor"),
    "table.changes_ms": ("ms", "plans/table", PER_EPOCH, "run.post_ms -> epoch_ms_p50",
                         "trickle_mor"),
    "table.snapshot_loads": ("count", "plans/table", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "table.manifest_kb": ("KB", "plans/table", "after each epoch", "epoch_ms_p50",
                          "trickle_mor"),
    "table.files_written": ("count", "plans/table", PER_EPOCH, "write_amp, table_mb", BOTH),
    "table.bytes_written": ("bytes", "plans/table", PER_EPOCH, "write_amp, table_mb", BOTH),
    "lookup.files_read": ("count", "plans/table", "per lookup", "lookup_ms_p50", BOTH),
    "lookup.files_total": ("count", "plans/table", "per lookup", "lookup_ms_p50", BOTH),
    "fsio.calls": ("count", "plans/fsio", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "fsio.ms": ("ms", "plans/fsio", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "registry.calls": ("count", "plans/registry", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "checkpoint.commit_ms": ("ms", "plans/checkpoint", PER_EPOCH, "epoch_ms_p50",
                             "trickle_mor"),
    "metrics.append_ms": ("ms", "metrics", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "views.refresh_ms": ("ms", "plans/ivm", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "views.rebuild_share": ("ratio", "plans/ivm", "rebuilds / non-noop refreshes",
                            "epoch_ms_p50", "trickle_mor"),
    "outbox.publish_ms": ("ms", "plans/outbox", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "outbox.rows": ("count", "plans/outbox", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "maintain.ms": ("ms", "operators/apply", PER_EPOCH, "events_per_s, table_mb", BOTH),
    "maintain.snapshots_expired": ("count", "operators/apply", PER_EPOCH,
                                   "events_per_s, table_mb", BOTH),
    "spark.jobs": ("count", "session", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "spark.tasks": ("count", "session", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "spark.sched_delay_ms": ("ms", "session", PER_EPOCH, "epoch_ms_p50", "trickle_mor"),
    "driver.ms": ("ms", "session", "epoch wall outside every job", "epoch_ms_p50",
                  "trickle_mor"),
    "spark.task_ms": ("ms", "session", PER_EPOCH, "events_per_s", "bulk_cow"),
    "spark.gc_ms": ("ms", "session", PER_EPOCH, "events_per_s", "bulk_cow"),
    "spark.shuffle_write_mb": ("MB", "session", PER_EPOCH, "events_per_s", "bulk_cow"),
    "spark.output_mb": ("MB", "session", PER_EPOCH, "events_per_s", "bulk_cow"),
    "spark.spill_mb": ("MB", "session", PER_EPOCH, "events_per_s", "bulk_cow"),
    "spark.busy_share": ("ratio", "session", "task time / (cores x epoch wall)",
                         "events_per_s", "bulk_cow"),
    "query.tasks": ("count", "session", "per query pass", "query_s", BOTH),
    **{f"query.{q}_ms": ("ms", "operators/*", "per query pass", "query_s", BOTH)
       for q in BENCH_QUERIES},
    "setup.spark_start_s": ("s", "setup", "per run", "setup_s", BOTH),
    "setup.generate_s": ("s", "setup", "per run", "setup_s", BOTH),
    "setup.preload_s": ("s", "setup", "per run", "setup_s", BOTH),
    "setup.warmup_s": ("s", "setup", "per run", "setup_s", BOTH),
    # part of the tracing overhead only: the event-log listener and the
    # wrapper calls are not in it (report.py prints the traced - untraced
    # wall difference when given an untraced run's result)
    "trace.bookkeeping_ms": ("ms", "benchmark", "span bookkeeping in run(), per epoch",
                             "none (tracing cost)", BOTH),
}
