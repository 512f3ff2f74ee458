"""Spans around the engine's public entry points, and Spark event-log reading.

The tracer wraps methods from the outside (the engine is not edited): each
wrapped call records a span ``{id, name, start, end, parent, thread}`` in
memory, with times in epoch milliseconds so they line up with Spark's event
log. Wrappers of calls that can run Spark jobs also set the job description
to ``span=<name>#<id>``, so the event log attributes those jobs to the span.
Spans are written out only when the run ends (``Tracer.dump``).

Jobs submitted from the apply loop's stats thread carry no description
(Spark properties are per thread); ``EventLog.jobs_between`` attributes jobs
by time instead, which covers them.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import re
import threading
import time


def targets() -> list[tuple[object, str, str, bool]]:
    """(owner, attribute, span name, may run Spark jobs) for every wrapped
    entry point."""
    from nifi_processors_spark.metrics import MetricsLog
    from nifi_processors_spark.operators.apply import ChangeApplier
    from nifi_processors_spark.plans import fsio
    from nifi_processors_spark.plans.checkpoint import CheckpointLog
    from nifi_processors_spark.plans.ivm import MaterializedView
    from nifi_processors_spark.plans.outbox import ChangeOutbox
    from nifi_processors_spark.plans.registry import SchemaRegistry
    from nifi_processors_spark.plans.table import IceliteTable

    return [
        (ChangeApplier, "run", "apply.run", True),
        (ChangeApplier, "apply_epoch", "apply.epoch", True),
        (ChangeApplier, "refresh_views", "apply.refresh_views", True),
        (ChangeApplier, "publish_outbox", "apply.publish_outbox", True),
        (ChangeApplier, "maintain", "apply.maintain", True),
        (IceliteTable, "merge", "table.merge", True),
        (IceliteTable, "merge_mor", "table.merge", True),
        (IceliteTable, "compact", "table.compact", True),
        (IceliteTable, "read", "table.read", True),
        (IceliteTable, "scan", "table.scan", True),
        (IceliteTable, "changes", "table.changes", True),
        (IceliteTable, "snapshot", "table.snapshot", False),
        (MaterializedView, "refresh", "views.refresh", True),
        (ChangeOutbox, "publish", "outbox.publish", True),
        (CheckpointLog, "commit", "checkpoint.commit", False),
        (MetricsLog, "append", "metrics.append", False),
        (SchemaRegistry, "current", "registry.read", False),
        (SchemaRegistry, "diff", "registry.read", False),
        (SchemaRegistry, "register", "registry.commit", False),
        (SchemaRegistry, "commit_version", "registry.commit", False),
        (SchemaRegistry, "observe", "registry.commit", False),
    ] + [
        (fsio, f, "fsio", False)
        for f in ("exists", "makedirs", "listdir", "getsize", "remove", "rmtree",
                  "read_text", "rename", "write_json_atomic", "read_json", "publish_json",
                  "load_json", "pointer_exists")
    ]


def _result_fields(name: str, out) -> dict:
    """What a span keeps from its call's return value."""
    if name == "views.refresh":
        return {"mode": out.get("mode")}
    if name == "outbox.publish":
        return {"rows": int(out.get("rows") or 0)}
    if name == "apply.maintain":
        return {"expired": len(out.get("expired_snapshots") or [])}
    return {}


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self.cost_s = 0.0  # time spent in begin/end (span bookkeeping)
        self._cost_lock = threading.Lock()  # fsio spans also end on pool threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # -- spans --

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, describe: bool = False) -> dict:
        t0 = time.perf_counter()
        stack = self._stack()
        sp = {"id": next(self._ids), "name": name, "start": now_ms(), "end": None,
              "parent": stack[-1] if stack else None,
              "thread": threading.current_thread().name}
        if describe:
            sp["prev_desc"] = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(f"span={name}#{sp['id']}")
        stack.append(sp["id"])
        self._add_cost(t0)
        return sp

    def end(self, sp: dict) -> None:
        sp["end"] = now_ms()
        t0 = time.perf_counter()
        self._stack().pop()
        if "prev_desc" in sp:
            self.sc.setJobDescription(sp.pop("prev_desc"))
        self.spans.append(sp)
        self._add_cost(t0)

    def _add_cost(self, t0: float) -> None:
        with self._cost_lock:
            self.cost_s += time.perf_counter() - t0

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span (used for the benchmark's own steps)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        sp = self.begin(name, describe=True)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(sp)

    # -- wrapping --

    def install(self) -> None:
        for owner, attr, name, describe in targets():
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, describe))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, orig, name: str, describe: bool):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            sp = tracer.begin(name, describe)
            try:
                out = orig(*args, **kwargs)
                if isinstance(out, dict):
                    sp.update(_result_fields(name, out))
                return out
            finally:
                tracer.end(sp)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


# ------------------------------------------------------------------ spans math


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children(spans: list[dict]) -> dict[int, list[tuple[float, float]]]:
    """parent span id -> intervals of its child spans."""
    out: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return out


def self_ms(span: dict, kids: dict[int, list[tuple[float, float]]]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - union_ms(
        kids.get(span["id"], []), span["start"], span["end"])


def within(spans: list[dict], lo: float, hi: float) -> list[dict]:
    return [s for s in spans if lo <= s["start"] and s["end"] <= hi]


# ------------------------------------------------------------------- event log


class EventLog:
    """Jobs, stages, task totals and SQL plans from one Spark event log."""

    def __init__(self, log_dir: str):
        # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        if not files:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, dict] = {}  # sql execution id -> latest plan info
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "tasks": 0, "run_ms": 0, "gc_ms": 0, "sched_delay_ms": 0,
            "shuffle_write_b": 0, "output_b": 0, "spill_b": 0, "accums": set()})

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "submit": ev["Submission Time"], "end": None,
                "desc": props.get("spark.job.description") or "",
                "stages": list(ev.get("Stage IDs") or []),
                "sql": int(sql) if sql not in (None, "") else None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            run = m.get("Executor Run Time", 0)
            st["tasks"] += 1
            st["run_ms"] += run
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["sched_delay_ms"] += max(0, dur - run - m.get("Executor Deserialize Time", 0)
                                        - m.get("Result Serialization Time", 0))
            st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self._stage(info["Stage ID"])["accums"].update(
                a["ID"] for a in info.get("Accumulables") or [])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[ev["executionId"]] = {
                "text": ev.get("physicalPlanDescription") or "",
                "info": ev.get("sparkPlanInfo") or {}}

    def jobs_between(self, lo: float, hi: float) -> list[dict]:
        return [j for j in self.jobs.values()
                if j["end"] is not None and lo <= j["submit"] <= hi]

    def totals(self, jobs: list[dict]) -> dict:
        out = {"jobs": len(jobs), "tasks": 0, "run_ms": 0, "gc_ms": 0, "sched_delay_ms": 0,
               "shuffle_write_b": 0, "output_b": 0, "spill_b": 0}
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st is None:  # skipped stage (shuffle reuse): no tasks ran
                    continue
                for k in out:
                    if k != "jobs":
                        out[k] += st[k]
        return out

    def parse_exprs(self, sql_id: int) -> int:
        """JSON-to-variant parses (``parse_json`` and ``try_parse_json`` both
        plan as ``VariantExpressionEvalUtils.parseJson``) in the executed
        physical plan: the nodes of the final adaptive plan only."""
        text = self.plans.get(sql_id, {}).get("text", "")
        tree, _, details = text.partition("\n\n")
        if "== Final Plan ==" in tree:
            tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        final_ids = set(re.findall(r"\((\d+)\)", tree))
        count = 0
        for block in re.split(r"\n(?=\(\d+\) )", details):
            m = re.match(r"\s*\((\d+)\) ", block)
            if m and m.group(1) in final_ids:
                count += block.count("parseJson(")
        return count

    def scan_accums(self, sql_id: int, path_part: str) -> set[int]:
        """SQL-metric accumulator ids of the file scans over ``path_part``."""
        out: set[int] = set()
        stack = [self.plans.get(sql_id, {}).get("info", {})]
        while stack:
            node = stack.pop()
            stack.extend(node.get("children") or [])
            meta = node.get("metadata") or {}
            if "Scan" in node.get("nodeName", "") and path_part in meta.get("Location", ""):
                out.update(m["accumulatorId"] for m in node.get("metrics") or [])
        return out

    def stages_touching(self, jobs: list[dict], accums: set[int]) -> list[dict]:
        return [self.stages[sid] for j in jobs for sid in j["stages"]
                if sid in self.stages and self.stages[sid]["accums"] & accums]
