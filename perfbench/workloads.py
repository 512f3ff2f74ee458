"""The benchmark's workloads and the closed loop that drives them.

Both workloads are closed loops: one client, one operation in flight. A run
sets up (Spark start, input generation, table preload, warm-up epochs), then
measures a fixed amount of work sized to take about ``--seconds`` on a
4-core host:

1. ``Shape.timed_epochs`` cycles of: land one epoch (a rename from the
   staging directory), one ``ChangeApplier.run()`` that picks up exactly that
   epoch (apply + views + outbox + compaction + maintenance), point lookups on
   keys the epoch changed, and full live-state reads to the noop sink;
2. one pass of the 12 operator-suite queries over small seeded sf tables,
   each output collected for the correctness gate.

The work per run is fixed (not "as many epochs as fit") so that compaction
and snapshot-expiry epochs fall at the same place in every run.

Workloads:

* ``bulk_cow`` -- a few large epochs in copy-on-write mode on a pre-filled
  table; snapshot expiry every 2 epochs; no views, no outbox. Payload
  parse, the merge exchange and the parquet rewrite dominate.
* ``trickle_mor`` -- small epochs in merge-on-read mode on a pre-filled
  table, with one maintained view, the change outbox, compaction every 4
  epochs and snapshot expiry. Fixed per-epoch costs dominate: planning, job
  count, metadata I/O, the change feeds, compaction and the
  delta-resolving read path.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow.parquet as pq

import __spark_entry__ as driver_entry
from nifi_processors_spark.operators.apply import ChangeApplier
from nifi_processors_spark.plans.outbox import ChangeOutbox
from nifi_processors_spark.plans.table import IceliteTable

from common import fresh_dir, median, noop, start_spark, stop_spark
from gate import (check_lookups, check_outbox, check_queries, check_state, check_view,
                  table_state)
from inputs import dir_bytes, file_sizes, land_epoch, stage_changelog, write_sf_tables
from layers import BENCH_QUERIES, QUERY_TABLES

N_BUCKETS = 8
# one warm-up epoch cycle in set-up: the preload already ran the merge path
WARMUP_EPOCHS = 1


@dataclass(frozen=True)
class Shape:
    merge_mode: str
    n_keys: int
    preload_events: int
    epoch_events: int
    # timed epochs per second of ``--seconds``: with the query pass, one run
    # measures 1-1.5x ``--seconds`` on a 4-core host, depending on its load
    epochs_per_s: float
    lookups: int  # point lookups after each epoch
    scans: int  # full live-state reads after each epoch
    applier: dict = field(default_factory=dict)
    # rows of events, lineitem, customer, documents, embeddings
    sf_rows: tuple[int, int, int, int, int] = (2000, 6000, 200, 200, 200)

    def timed_epochs(self, seconds: int) -> int:
        return max(2, round(seconds * self.epochs_per_s))


SHAPES = {
    "bulk_cow": Shape(
        merge_mode="cow", n_keys=10_000, preload_events=24_000, epoch_events=10_000,
        epochs_per_s=0.15, lookups=4, scans=5,
        applier={"expire_snapshots_every": 2},
    ),
    "trickle_mor": Shape(
        merge_mode="mor", n_keys=10_000, preload_events=24_000, epoch_events=1_500,
        epochs_per_s=0.2, lookups=2, scans=1,
        applier={"compact_every": 4, "expire_snapshots_every": 4,
                 "views": {"by_language": (["language"], ["size_bytes"])}, "outbox": True},
    ),
}


def tiny(shape: Shape) -> Shape:
    """A fast shape of the same workload (self-tests)."""
    return replace(shape, n_keys=600, preload_events=1_500,
                   epoch_events=max(shape.epoch_events // 20, 100),
                   sf_rows=(300, 600, 50, 60, 60))


@dataclass
class Cycle:
    """What one timed epoch measured."""
    epoch: int
    run_s: float
    events: int
    input_bytes: int
    bytes_written: int
    lookup_s: list[float]
    scan_s: list[float]
    run_span: tuple[float, float]  # wall clock ms, for event-log attribution
    rec: dict  # the applier's metrics record
    table: dict  # manifest diff and metadata size after the epoch
    tracer_ms: float  # the tracer's span bookkeeping inside run()


class Workload:
    def __init__(self, seed: int, seconds: int, work: str, shape: Shape, tracer_factory=None):
        self.seed, self.seconds, self.shape = seed, seconds, shape
        self.work = work
        self.staging = os.path.join(work, "staging")
        self.changelog = os.path.join(work, "changelog")
        self.table_path = os.path.join(work, "table")
        self.state_dir = os.path.join(work, "state")
        self.sf_dir = os.path.join(work, "sf")
        self.tracer_factory = tracer_factory
        self.spark = None
        self.tracer = None
        self.setup: dict[str, float] = {}
        self.cycles: list[Cycle] = []
        self.lookups: list[dict] = []
        self.lookup_reports: list[dict] = []
        self.query_results: dict = {}
        self.query_s = 0.0
        self.query_window: tuple[float, float] = (0.0, 0.0)
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------- set-up

    def set_up(self, event_log_dir: str | None) -> None:
        sh = self.shape
        n_epochs = WARMUP_EPOCHS + sh.timed_epochs(self.seconds)
        t = time.perf_counter()
        self.spark = start_spark(self.work, event_log_dir)
        self.setup["spark_start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        stage_changelog(self.spark, self.seed, sh.n_keys, sh.preload_events,
                        sh.epoch_events, n_epochs, self.staging)
        write_sf_tables(self.sf_dir, self.seed, *sh.sf_rows)
        self.setup["generate_s"] = time.perf_counter() - t

        t = time.perf_counter()
        land_epoch(self.staging, self.changelog, 0)
        ChangeApplier(self.spark, self.table_path, self.changelog, self.state_dir,
                      n_buckets=N_BUCKETS, merge_mode="cow").run()
        self.setup["preload_s"] = time.perf_counter() - t

        self.applier = ChangeApplier(self.spark, self.table_path, self.changelog,
                                     self.state_dir, n_buckets=N_BUCKETS,
                                     merge_mode=sh.merge_mode, **sh.applier)
        self.table = IceliteTable(self.spark, self.table_path)
        self.queries = driver_entry.queries()
        t = time.perf_counter()
        for e in range(1, WARMUP_EPOCHS + 1):
            self._cycle(e)
        self.setup["warmup_s"] = time.perf_counter() - t
        self.next_epoch = WARMUP_EPOCHS + 1

    # -------------------------------------------------------------- cycle

    def _untraced(self, fn, *args):
        if self.tracer is None or not self.tracer.enabled:
            return fn(*args)
        self.tracer.enabled = False
        try:
            return fn(*args)
        finally:
            self.tracer.enabled = True

    def _manifest_files(self) -> dict[str, int]:
        snap = self.table.snapshot()
        return {fe["path"]: fe["bytes"] for files in snap["buckets"].values() for fe in files}

    def _table_stats(self, files_before: dict[str, int]) -> dict:
        """Manifest diff and metadata size after an epoch (read untraced)."""
        files = self._manifest_files()
        new = [b for p, b in files.items() if p not in files_before]
        manifest = os.path.join(self.table.meta_dir,
                                f"v{self.table.current_snapshot_id()}.json")
        return {"files_written": len(new), "bytes_written": sum(new),
                "manifest_kb": os.path.getsize(manifest) / 1024,
                "delta_files": self.table.delta_file_count()}

    def _cycle(self, epoch: int) -> Cycle:
        input_bytes = land_epoch(self.staging, self.changelog, epoch)
        before = {**file_sizes(self.table_path), **file_sizes(self.state_dir)}
        files_before = self._untraced(self._manifest_files)
        cost0 = self.tracer.cost_s if self.tracer is not None else 0.0
        t_wall = time.time() * 1000.0
        t = time.perf_counter()
        recs = self.applier.run()
        run_s = time.perf_counter() - t
        run_span = (t_wall, time.time() * 1000.0)
        tracer_ms = 1000 * (self.tracer.cost_s - cost0) if self.tracer is not None else 0.0
        self.attempted += 1
        if [r["epoch"] for r in recs] != [epoch]:
            self.failed += 1
            self.failures.append(f"epoch {epoch}: run() applied {[r['epoch'] for r in recs]}")
        after = {**file_sizes(self.table_path), **file_sizes(self.state_dir)}
        written = sum(size for p, size in after.items() if before.get(p) != size)
        table_stats = self._untraced(self._table_stats, files_before)

        keys = pq.read_table(os.path.join(self.changelog, f"epoch={epoch}"),
                             columns=["repo", "path"]).to_pylist()
        rng = np.random.default_rng([self.seed, epoch])
        lookup_s = []
        for i in rng.choice(len(keys), self.shape.lookups, replace=False):
            key = (keys[i]["repo"], keys[i]["path"])
            filters = [("repo", "=", key[0]), ("path", "=", key[1])]
            t = time.perf_counter()
            rows = self.table.scan(filters).collect()
            lookup_s.append(time.perf_counter() - t)
            self.attempted += 1
            self.lookups.append({"epoch": epoch, "key": key, "rows": [
                (r["commit"], hashlib.sha256(r["content"].encode()).hexdigest()) for r in rows]})
            if self.tracer is not None:
                self.lookup_reports.append(self._untraced(self.table.scan_report, filters))
        scan_s = []
        for _ in range(self.shape.scans):
            t = time.perf_counter()
            noop(self.table.read())
            scan_s.append(time.perf_counter() - t)
            self.attempted += 1
        return Cycle(epoch, run_s, recs[0]["rows_in"] if recs else 0, input_bytes, written,
                     lookup_s, scan_s, run_span, recs[0] if recs else {}, table_stats,
                     tracer_ms)

    # ------------------------------------------------------------- timed

    def measure(self) -> None:
        """The timed part; in a traced run every timed operation is traced."""
        if self.tracer_factory is not None:
            self.tracer = self.tracer_factory(self.spark)
            self.tracer.install()
            self.tracer.enabled = True
        for _ in range(self.shape.timed_epochs(self.seconds)):
            self.cycles.append(self._cycle(self.next_epoch))
            self.next_epoch += 1
        t0 = time.time() * 1000.0
        t = time.perf_counter()
        for q in BENCH_QUERIES:
            if self.tracer is not None:
                self.query_results[q] = self.tracer.span(f"query.{q}", self._query, q)
            else:
                self.query_results[q] = self._query(q)
            self.attempted += 1
        self.query_s = time.perf_counter() - t
        self.query_window = (t0, time.time() * 1000.0)
        self.table_bytes = dir_bytes(self.table_path)
        if self.tracer is not None:
            self.tracer.enabled = False
            self.tracer.uninstall()

    def _query(self, name: str):
        """One operator-suite query, its output collected (a few thousand rows
        at most) so the gate can compare it with the oracle."""
        return self.queries[name](self.spark, self.sf_dir).toPandas()

    # -------------------------------------------------------------- gate

    def check(self) -> None:
        """Untimed correctness gate; each failed check fails an operation."""
        state = table_state(self.table)
        checks = [lambda: check_state(state, self.changelog),
                  lambda: check_lookups(self.changelog, self.lookups)]
        for name in self.applier.views:
            checks.append(lambda v=self.applier.view(name): check_view(v, self.table))
        if self.applier.outbox is not None:
            box = ChangeOutbox(self.spark, self.applier.outbox.path)
            checks.append(lambda: check_outbox(box, state))
        checks.append(lambda: check_queries(self.sf_dir, self.query_results,
                                            driver_entry.oracle_sql(), QUERY_TABLES))
        for fn in checks:
            bad = fn()
            self.failures.extend(bad)
            self.failed += len(bad)

    def close(self) -> None:
        stop_spark(self.spark)

    # ------------------------------------------------------------ metrics

    def end_to_end(self) -> dict[str, float]:
        cyc = self.cycles
        events = sum(c.events for c in cyc)
        return {
            "setup_s": sum(self.setup.values()),
            "events_per_s": events / sum(c.run_s for c in cyc),
            "epoch_ms_p50": median([c.run_s * 1000 for c in cyc]),
            "lookup_ms_p50": median([s * 1000 for c in cyc for s in c.lookup_s]),
            "scan_ms_p50": median([s * 1000 for c in cyc for s in c.scan_s]),
            "table_mb": self.table_bytes / 1e6,
            "write_amp": sum(c.bytes_written for c in cyc) / sum(c.input_bytes for c in cyc),
            "query_s": self.query_s,
        }


def make_workload(name: str, seed: int, seconds: int, root: str, small: bool,
                  tracer_factory=None) -> Workload:
    shape = SHAPES[name]
    if small:
        shape = tiny(shape)
    work = fresh_dir(os.path.join(root, f"{name}-{seed}-{os.getpid()}"))
    return Workload(seed, seconds, work, shape, tracer_factory)
