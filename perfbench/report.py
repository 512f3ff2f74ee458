"""Per-layer report: turns a traced run's spans and Spark event log into
self times, counts and ratios per layer, each with its base, and says which
end-to-end metric each one feeds on which workload.

    python3 perfbench/report.py .perfbench/trace/<workload>-<seed> [untraced.json]

``untraced.json`` (optional) holds the output of an untraced run of the same
workload; the report then also prints the epoch wall difference.

A traced run (``run.py --trace 1``) writes that directory and uses
``per_layer`` below for the metrics it prints.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [BENCH_DIR, os.path.dirname(BENCH_DIR)]

from layers import PER_LAYER, BENCH_QUERIES  # noqa: E402
from tracing import EventLog, children, self_ms, union_ms, within  # noqa: E402

MB = 1e6


def _dur(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _count(spans: list[dict], prefix: str) -> int:
    return sum(1 for s in spans if s["name"].startswith(prefix))


def epoch_layers(spans: list[dict], kids: dict, ev, cycle: dict, cores: int
                 ) -> dict[str, float]:
    """Per-layer values of one traced epoch: the spans and jobs that fall in
    its ``ChangeApplier.run()`` window."""
    lo, hi = cycle["run_span"]
    sp = within(spans, lo - 1, hi + 1)
    by_id = {s["id"]: s for s in sp}
    apply_ms = _dur(sp, "apply.epoch")
    fs_top = [s for s in sp if s["name"] == "fsio"
              and by_id.get(s["parent"], {}).get("name") != "fsio"]
    jobs = ev.jobs_between(lo, hi)
    tot = ev.totals(jobs)
    wall = hi - lo
    merge_ids = {s["id"] for s in sp if s["name"] == "table.merge"}
    merge_sql = {j["sql"] for j in jobs if j["sql"] is not None and any(
        j["desc"] == f"span=table.merge#{i}" for i in merge_ids)}
    accums = set().union(*(ev.scan_accums(q, "/changelog/") for q in merge_sql)) \
        if merge_sql else set()
    refresh_modes = [s.get("mode") for s in sp if s["name"] == "views.refresh"]
    return {
        "apply.epoch_ms": apply_ms,
        "apply.self_ms": sum(self_ms(s, kids) for s in sp if s["name"] == "apply.epoch"),
        "run.post_ms": _dur(sp, "apply.run") - apply_ms,
        "apply.rows_in": cycle["rec"].get("rows_in", 0),
        "apply.affected_buckets": cycle["rec"].get("affected_buckets") or 0,
        "envelope.parse_exprs": max((ev.parse_exprs(q) for q in merge_sql), default=0),
        "envelope.parse_stage_ms": sum(
            st["run_ms"] for st in ev.stages_touching(jobs, accums)),
        "table.merge_ms": _dur(sp, "table.merge"),
        "table.compact_ms": _dur(sp, "table.compact"),
        "table.delta_files": cycle["table"]["delta_files"],
        "table.changes_calls": _count(sp, "table.changes"),
        "table.changes_ms": _dur(sp, "table.changes"),
        "table.snapshot_loads": _count(sp, "table.snapshot"),
        "table.manifest_kb": cycle["table"]["manifest_kb"],
        "table.files_written": cycle["table"]["files_written"],
        "table.bytes_written": cycle["table"]["bytes_written"],
        "fsio.calls": len(fs_top),
        "fsio.ms": sum(s["end"] - s["start"] for s in fs_top),
        "registry.calls": _count(sp, "registry."),
        "checkpoint.commit_ms": _dur(sp, "checkpoint.commit"),
        "metrics.append_ms": _dur(sp, "metrics.append"),
        # the applier-level calls: on a workload without views or outbox
        # they time the no-op check instead of reading a constant 0
        "views.refresh_ms": _dur(sp, "apply.refresh_views"),
        "_refreshes": sum(1 for m in refresh_modes if m != "noop"),
        "_rebuilds": sum(1 for m in refresh_modes if m == "rebuild"),
        "outbox.publish_ms": _dur(sp, "apply.publish_outbox"),
        "outbox.rows": sum(s.get("rows", 0) for s in sp if s["name"] == "outbox.publish"),
        "maintain.ms": _dur(sp, "apply.maintain"),
        "maintain.snapshots_expired": sum(
            s.get("expired", 0) for s in sp if s["name"] == "apply.maintain"),
        "spark.jobs": tot["jobs"],
        "spark.tasks": tot["tasks"],
        "spark.sched_delay_ms": tot["sched_delay_ms"],
        "driver.ms": wall - union_ms([(j["submit"], j["end"]) for j in jobs], lo, hi),
        "spark.task_ms": tot["run_ms"],
        "spark.gc_ms": tot["gc_ms"],
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / MB,
        "spark.output_mb": tot["output_b"] / MB,
        "spark.spill_mb": tot["spill_b"] / MB,
        "spark.busy_share": tot["run_ms"] / (cores * wall),
    }


def per_layer(trace_dir: str) -> dict[str, float]:
    """Every ``PER_LAYER`` metric of one traced run (means over its timed
    epochs, unless the metric's base says otherwise)."""
    with open(os.path.join(trace_dir, "spans.json")) as f:
        spans = json.load(f)
    with open(os.path.join(trace_dir, "run.json")) as f:
        run = json.load(f)
    ev = EventLog(os.path.join(trace_dir, "eventlog"))
    kids = children(spans)
    cycles = run["cycles"]
    per_epoch = [epoch_layers(spans, kids, ev, c, run["cores"]) for c in cycles]
    sums: dict[str, float] = defaultdict(float)
    for layers in per_epoch:
        for k, v in layers.items():
            sums[k] += v
    out = {k: sums[k] / len(cycles) for k in sums if not k.startswith("_")}
    out["envelope.parse_exprs"] = max(e["envelope.parse_exprs"] for e in per_epoch)
    out["views.rebuild_share"] = sums["_rebuilds"] / sums["_refreshes"] \
        if sums["_refreshes"] else 0.0
    reports = run["lookup_reports"]
    out["lookup.files_read"] = sum(r["files_kept"] for r in reports) / len(reports)
    out["lookup.files_total"] = sum(r["files_total"] for r in reports) / len(reports)
    for q in BENCH_QUERIES:
        out[f"query.{q}_ms"] = _dur(spans, f"query.{q}")
    out["query.tasks"] = ev.totals(ev.jobs_between(*run["query_window"]))["tasks"]
    for k, v in run["setup"].items():
        out[f"setup.{k}"] = v
    out["trace.bookkeeping_ms"] = sum(c["tracer_ms"] for c in cycles) / len(cycles)
    missing = set(PER_LAYER) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: out[k] for k in PER_LAYER}


def span_table(trace_dir: str) -> list[tuple[str, int, float, float]]:
    """(span name, calls, total ms, self ms) over the whole traced run."""
    with open(os.path.join(trace_dir, "spans.json")) as f:
        spans = json.load(f)
    kids = children(spans)
    acc: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        a = acc[s["name"]]
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += self_ms(s, kids)
    return sorted(((k, int(v[0]), v[1], v[2]) for k, v in acc.items()),
                  key=lambda r: -r[3])


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__)
        return 2
    trace_dir = argv[0]
    with open(os.path.join(trace_dir, "run.json")) as f:
        run = json.load(f)
    traced_p50 = statistics.median(1000 * c["run_s"] for c in run["cycles"])
    print(f"workload {run['workload']}  seed {run['seed']}  epochs {len(run['cycles'])}  "
          f"traced epoch wall p50 {traced_p50:.1f} ms")
    if len(argv) == 2:  # the JSON line an untraced run printed
        with open(argv[1]) as f:
            untraced = json.loads(f.read().strip().splitlines()[-1])
        p50 = untraced["metrics"]["epoch_ms_p50"]["value"]
        print(f"untraced epoch_ms_p50 {p50:.1f} ms  -> tracing overhead "
              f"{traced_p50 - p50:.1f} ms per epoch (wall difference, host noise included)")
    print("\nspans (whole traced run)")
    print(f"  {'span':24} {'calls':>6} {'total ms':>10} {'self ms':>10}")
    for name, calls, total, own in span_table(trace_dir):
        print(f"  {name:24} {calls:6d} {total:10.1f} {own:10.1f}")
    print("\nper-layer metrics")
    print(f"  {'metric':30} {'value':>12} {'unit':6} {'base':36} {'layer':18} feeds (workload)")
    for name, value in per_layer(trace_dir).items():
        unit, layer, base, feeds, workload = PER_LAYER[name]
        print(f"  {name:30} {value:12.3f} {unit:6} {base:36} {layer:18} {feeds} ({workload})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
