"""The CDC apply loop: change-tail -> typed envelopes -> LWW dedup ->
schema-evolving MERGE -> checkpoint + metrics.

This is the Spark-native replacement for the reference's flagship flow
(GetFile -> SplitText -> ExecuteRuleEngine -> RouteOnAttribute -> PutFile,
reference: ExecuteRuleEngine_Example.xml:18-23): instead of a per-record
interpreted loop (ExecuteRuleEngine.java:438-565), each *epoch* of the
change log is applied as one declarative DataFrame plan, built by the
named phases of ``ChangeApplier.apply_batch_df``:

    stats       skinny per-bucket aggregation of the key/op/seq columns
                (never the payload), run beside the merge unless the guard
                or a table's bootstrap needs it first
    guard       tables that ran tombstone expiry: skip a marker-loss replay
                wholly below the watermark, refuse partially stale data
    stage       ONE try_parse_json per row behind a Generate barrier; the
                merge, the drift aggregates, the re-merge and the
                quarantine all derive from this frame, so every executed
                plan parses a payload once
    merge       one select aligns the typed fields (registry schema plus
                historical pre-rename names, coalesced) to the table's
                columns -> LWW bucket MERGE (CoW) or delta append (MOR);
                the drift aggregates (schema_of_variant_agg over EVERY row)
                ride it as an observation, or, streaming, one extra job
    evolve      drift? ``SchemaRegistry.observe`` commits it as one icelite
                ALTER — the table's schema history is the registry, so
                there is no second record to fall behind — then an
                idempotent re-merge with the evolved schema (the LWW
                tie-break prefers the change row)
    quarantine  bad-key and malformed rows, as read
    compact     MOR, every ``compact_every`` epochs: the delta buckets
    record      lineage/metrics record, then the exactly-once marker

The table snapshot, and with it the payload schema's versions, is loaded
once per epoch and reloaded only after an ALTER. Only affected buckets
of the target are read/rewritten, and nothing runs a Python row loop.
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from ..metrics import MetricsLog
from ..plans import fsio
from ..plans.checkpoint import CheckpointLog
from ..plans.registry import (
    ENVELOPE_KEY,
    SchemaRegistry,
    detect_payload_schema,
    fields_from_variant_schema,
    merge_field_sets,
)
from ..plans.table import IceliteTable, _type_from_json, bucket_expr
from .envelope import MALFORMED_COL, VARIANT_COL, payload_field, stage_payload


def _badkey() -> Column:
    """A row no key can be derived for (or without an op): quarantined."""
    return F.col("repo").isNull() | F.col("path").isNull() | F.col("op").isNull()


def _affected(per_bucket: list[Row]) -> list[int]:
    """Buckets holding at least one keyed row."""
    return sorted(int(r["_b"]) for r in per_bucket if r["rows"] > r["badkey"])


def _rename_resolver(versions: list[dict]) -> dict[str, str]:
    """Cumulative old-name -> current-name map across registry versions."""
    resolve: dict[str, str] = {}
    for ver in versions:
        for old, new in ver.get("renames", {}).items():
            # re-point any chain ending at `old`
            for k, v in list(resolve.items()):
                if v == old:
                    resolve[k] = new
            resolve[old] = new
    return resolve


@dataclass
class _Epoch:
    """What the phases of one apply hand on to each other."""

    epoch: int
    key: int | str  # namespaces quarantine dir, metrics file and marker
    input_files: list[str]
    t0: float
    table: IceliteTable | None
    snap: dict | None  # loaded once; reloaded after an ALTER
    stats: Future | None = None
    affected: list[int] | None = None  # known before the merge, or None
    sid: int | None = None  # snapshot the epoch leaves the table at
    affected_buckets: int = 0  # as the last merge reports it
    n_malformed: int = 0


class ChangeApplier:
    """Owns one target table + its changelog + checkpoint/metrics state."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        changelog_dir: str,
        state_dir: str,
        n_buckets: int = 32,
        rename_hints: dict[str, str] | None = None,
        merge_mode: str = "cow",
        compact_every: int | None = None,
        expire_snapshots_every: int | None = None,
        keep_snapshots: int = 2,
        expire_tombstones_every: int | None = None,
        tombstone_lateness: int = 1_000,
        views: dict[str, tuple[list[str], list[str]]] | None = None,
        outbox: bool = False,
    ):
        """``merge_mode``: 'cow' rewrites touched buckets per epoch (read
        cost stays flat); 'mor' appends delta files (write cost scales with
        the change-set, reads resolve LWW until ``compact_every`` epochs
        trigger a compaction — the right trade when epochs are small
        relative to the table, the common 100 TB shape).

        Maintenance cadence (long-running tables): every
        ``expire_snapshots_every`` applied epochs, snapshots older than the
        last ``keep_snapshots`` are expired (bounds meta/ and orphaned data
        files); every ``expire_tombstones_every`` epochs, delete tombstones
        with ``_commit_seq < max_applied_commit_seq - tombstone_lateness``
        are dropped (bounds tombstone growth; the lateness slack keeps any
        straggler event that could still legally arrive maskable). Both are
        off by default — a 100-epoch run with them unset behaves exactly as
        before.

        ``views``: maintained materialized rollups, ``{name: (group_cols,
        value_cols)}`` — after every applied epoch the loop folds ONLY
        that epoch's change feed into each view (plans/ivm.py
        MaterializedView; the table is never rescanned except at
        bootstrap or after snapshot expiry reaps a view's base).

        ``outbox``: publish each applied epoch's row-level change feed to
        ``state_dir/outbox`` (plans/outbox.py ChangeOutbox) — the CDC
        *output* side, for downstream consumers that want deltas instead
        of table scans. Feed coverage starts at table birth when the
        create snapshot is still retained, else at enable time."""
        self.spark = spark
        self.table_path = table_path
        self.changelog_dir = changelog_dir
        self.checkpoints = CheckpointLog(fsio.join(state_dir, "checkpoints"))
        self.metrics = MetricsLog(fsio.join(state_dir, "metrics"))
        self.registry = SchemaRegistry(spark, table_path, n_buckets, rename_hints)
        self.quarantine_dir = fsio.join(state_dir, "quarantine")
        self.n_buckets = n_buckets
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        self.merge_mode = merge_mode
        self.compact_every = compact_every
        self._epochs_since_compact = 0
        self.expire_snapshots_every = expire_snapshots_every
        self.keep_snapshots = keep_snapshots
        self.expire_tombstones_every = expire_tombstones_every
        self.tombstone_lateness = tombstone_lateness
        self._epochs_since_expire = 0
        self._epochs_since_tombstone_expire = 0
        self._max_commit_seq: int | None = None
        self.views_dir = fsio.join(state_dir, "views")
        self.views = dict(views or {})
        self.outbox = None
        if outbox:
            from ..plans.outbox import ChangeOutbox

            self.outbox = ChangeOutbox(spark, fsio.join(state_dir, "outbox"))

    # ------------- discovery -------------

    def discover_epochs(self) -> list[int]:
        out = []
        for entry in fsio.listdir(self.changelog_dir):
            if entry.startswith("epoch="):
                out.append(int(entry.split("=", 1)[1]))
        return sorted(out)

    def pending_epochs(self) -> list[int]:
        return self.checkpoints.pending(self.discover_epochs())

    def _epoch_dir(self, epoch: int) -> str:
        return fsio.join(self.changelog_dir, f"epoch={epoch}")

    def read_epoch(self, epoch: int) -> DataFrame:
        return self.spark.read.parquet(self._epoch_dir(epoch)).withColumn(
            "epoch", F.lit(epoch).cast("long")
        )

    # ------------- table bootstrap / evolution -------------

    def _table(self) -> IceliteTable | None:
        if IceliteTable.exists(self.table_path):
            return IceliteTable(self.spark, self.table_path)
        return None

    def _ensure_table(self, payload_fields: list[tuple[str, str]]) -> IceliteTable:
        """The target table; registering ``payload_fields`` creates it."""
        t = self._table()
        return t if t is not None else self.registry.register(payload_fields)

    # ------------- the apply -------------

    def apply_epoch(self, epoch: int, crash: Callable[[str, int], None] | None = None) -> dict:
        """Apply one changelog epoch. ``crash(point, epoch)`` is a test hook
        invoked at 'after_alter' and 'after_merge' (before the marker) for
        crash-resume tests."""
        input_files = sorted(
            fsio.join(self._epoch_dir(epoch), f)
            for f in fsio.listdir(self._epoch_dir(epoch))
            if f.endswith(".parquet")
        )
        return self.apply_batch_df(self.read_epoch(epoch), epoch, input_files, crash)

    def apply_batch_df(
        self,
        raw: DataFrame,
        epoch: int,
        input_files: list[str] | None = None,
        crash: Callable[[str, int], None] | None = None,
        marker: int | str | None = None,
        observe_metrics: bool = True,
    ) -> dict:
        """Apply one micro-batch of change events (envelope columns +
        payload_json). Used by both the batch epoch loop and the Structured
        Streaming foreachBatch front-end (streaming/stream.py — which passes
        a namespaced ``marker`` so streaming micro-batch ids can never
        collide with batch changelog epochs).

        ``observe_metrics``: when True (batch path), drift detection rides
        the merge job as a ``df.observe`` — zero extra jobs. The streaming
        front-end passes False: blocking on ``Observation.get`` from inside
        a foreachBatch callback deadlocks the query (the
        QueryExecutionListener event that fulfils the observation is never
        delivered to a waiter on the callback thread — reproduced
        deterministically on Spark 4.1), so streaming pays one skinny extra
        aggregation job over the staged micro-batch instead."""
        t0 = time.monotonic()
        table = self._table()
        snap = table.snapshot() if table is not None else None
        ep = _Epoch(epoch, epoch if marker is None else marker, input_files or [], t0,
                    table, snap, sid=snap["snapshot_id"] if snap is not None else None)
        wm = snap.get("tombstone_watermark") if snap is not None else None
        # the guard and a table's bootstrap need the stats first; otherwise
        # the stats job runs in the background
        pool = ThreadPoolExecutor(max_workers=1) if table is not None and wm is None else None
        try:
            self._stats(raw, ep, pool)
            if wm is not None and self._guard(ep, wm):
                return self._record(ep, [], stale_wm=wm)
            if table is None:
                self._bootstrap(raw, ep)
            staged = self._stage(raw)
            observed, drift = self._drift_probe(staged, observe_metrics)
            if self._merge(ep, observed, "merge") and self._evolve(ep, drift(), crash):
                self._merge(ep, staged, "merge_evolved")
            per_bucket = ep.stats.result()
        finally:
            if pool is not None:
                # always released — a merge/registry failure must not leak a
                # worker thread per failed epoch; a not-yet-started collect
                # is cancelled outright
                pool.shutdown(wait=False, cancel_futures=True)
        self._quarantine(ep, staged, raw.columns, per_bucket)
        self._compact(ep)
        if crash is not None:
            crash("after_merge", epoch)
        return self._record(ep, per_bucket)

    def _stats(self, raw: DataFrame, ep: _Epoch, pool: ThreadPoolExecutor | None) -> None:
        """Phase: skinny per-bucket stats — key/op/seq columns ONLY; the
        (big) payload column is never read in this job, its one read is the
        merge. Deliberately NOT cached (caching wide data to save a re-scan
        measured 2.5x slower than re-scanning). With a ``pool`` the job runs
        in the background: merge-on-read never READS the table, so its
        merge runs beside it; copy-on-write needs the affected buckets only
        at merge EXECUTION, so all of its plan construction overlaps the
        job. Without one (guard, bootstrap) the stats are known up front."""
        nb = ep.snap["n_buckets"] if ep.snap is not None else self.n_buckets
        badkey = _badkey()
        keyed_seq = F.when(~badkey, F.col("commit_seq"))
        stats_df = (
            raw.withColumn("_b", bucket_expr(ENVELOPE_KEY, nb))
            .groupBy("_b")
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.when((F.col("op") == "D") & ~badkey, 1).otherwise(0)).alias("dels"),
                F.sum(badkey.cast("int")).alias("badkey"),
                # the guard's bounds; maxc also feeds the expiry watermark
                F.min(keyed_seq).alias("minc"),
                F.max(keyed_seq).alias("maxc"),
            )
        )
        if pool is not None:
            ep.stats = pool.submit(stats_df.collect)
            return
        ep.stats = Future()
        ep.stats.set_result(stats_df.collect())
        ep.affected = _affected(ep.stats.result())

    def _guard(self, ep: _Epoch, wm: int) -> bool:
        """Phase: staleness guard, on tables that ever ran tombstone expiry.
        Once a masking tombstone is expired, merging an event OLDER than
        the recorded watermark ``wm`` could resurrect a deleted row. An
        epoch wholly below it can only be a marker-loss replay of an
        already-applied epoch (the expiry contract says no NEW event that
        old can arrive) -> True: skip it and re-commit its marker
        (self-heal, byte-identical state). A PARTIALLY stale epoch is a
        contract violation -> refuse loudly instead of silently diverging."""
        rows = ep.stats.result()
        lo = min((r["minc"] for r in rows if r["minc"] is not None), default=None)
        hi = max((r["maxc"] for r in rows if r["maxc"] is not None), default=None)
        if hi is not None and hi < wm:
            # Corroborate the replay hypothesis before dropping the epoch:
            # metrics are written BEFORE the marker, so a true marker-loss
            # replay always left a metrics record for this key. An all-late
            # epoch with NO such record was never applied — skipping it
            # would silently discard new data, so refuse loudly.
            if not self.metrics.has(ep.key):
                raise RuntimeError(
                    f"epoch {ep.epoch}: every event is below the "
                    f"tombstone-expiry watermark {wm} and no prior "
                    f"metrics record exists for key {ep.key!r} — this is "
                    "genuinely new all-late data, not a marker-loss "
                    "replay, and applying it could resurrect deleted "
                    "rows. Raise tombstone_lateness above the stream's "
                    "real disorder, or rebuild the table from the full "
                    "changelog."
                )
            return True
        if lo is not None and lo < wm:
            raise RuntimeError(
                f"epoch {ep.epoch}: contains events with commit_seq "
                f"{lo} < tombstone-expiry watermark {wm}; applying "
                "them could resurrect deleted rows. Raise "
                "tombstone_lateness above the stream's real disorder, "
                "or rebuild the table from the full changelog."
            )
        return False

    def _bootstrap(self, raw: DataFrame, ep: _Epoch) -> None:
        """A table's FIRST epoch pays one extra detection job so the table
        is born with the right payload columns (instead of every new
        table's epoch 0 taking the drift re-merge path)."""
        ep.table = self._ensure_table(detect_payload_schema(raw))
        ep.snap = ep.table.snapshot()
        ep.sid = ep.snap["snapshot_id"]

    @staticmethod
    def _stage(raw: DataFrame) -> DataFrame:
        """Phase: the epoch's one payload parse (``stage_payload``) plus the
        bad-key flag; every later phase derives from this frame."""
        return stage_payload(raw).withColumn("_badkey", _badkey())

    @staticmethod
    def _drift_probe(staged: DataFrame, observe: bool) -> tuple[DataFrame, Callable[[], Row]]:
        """(frame the first merge runs on, getter of the drift aggregates):
        the payload schema over every clean row (``schema_of_variant_agg``
        — mid-epoch drift is never missed) and the malformed count. Bad-key
        and malformed rows PARTITION the corrupt set — a row that is both
        counts once (as bad-key), or rows_upserted would double-subtract."""
        corrupt = F.col("_badkey") | F.col(MALFORMED_COL)
        aggs = [
            F.schema_of_variant_agg(F.when(~corrupt, F.col(VARIANT_COL))).alias("vschema"),
            F.sum((F.col(MALFORMED_COL) & ~F.col("_badkey")).cast("int")).alias("malformed"),
        ]
        if not observe:
            return staged, lambda: staged.agg(*aggs).first()
        obs = Observation()
        return staged.observe(obs, *aggs), lambda: obs.get

    def _changes(self, staged: DataFrame, ep: _Epoch) -> DataFrame:
        """The merge change-set in ONE select over the staged frame: the
        typed payload fields — the registry schema plus every HISTORICAL
        pre-rename name, so a late event still carrying an old name keeps
        its value, and a mid-epoch rename (v1 rows fill the old name, v2
        rows the new one) coalesces into the current column — aligned to
        the snapshot's columns (null for columns this epoch lacks), minus
        bad-key and malformed rows."""
        versions = self.registry.versions(ep.snap)
        resolve = _rename_resolver(versions)
        reg = {f["name"]: f["type"] for f in versions[-1]["fields"]}
        # a historical name is typed as its current target
        typed = {**{old: reg.get(new, "string") for old, new in resolve.items()}, **reg}
        cols = {c: F.col(c) for c in staged.columns}
        cols.update({n: payload_field(n, ty) for n, ty in typed.items()})
        for old, new in resolve.items():
            if old in cols:
                val = cols.pop(old)
                cols[new] = F.coalesce(cols[new], val) if new in cols else val
        fields = ep.snap["schemas"][str(ep.snap["schema_version"])]
        return staged.filter(~F.col("_badkey") & ~F.col(MALFORMED_COL)).select(
            *[(cols[f["name"]] if f["name"] in cols
               else F.lit(None).cast(_type_from_json(f["type"]))).alias(f["name"])
              for f in fields],
            "op", "commit_seq", "event_seq",
        )

    def _merge(self, ep: _Epoch, staged: DataFrame, op: str) -> bool:
        """Phase: merge the change-set into the snapshot the epoch holds.
        False when nothing is mergeable (empty epoch, or every row
        bad-keyed)."""
        changes = self._changes(staged, ep)
        if ep.affected is None and self.merge_mode == "cow":
            # the CoW read scope needs the affected buckets: resolve the
            # stats now — the plan construction above ran beside the job
            ep.affected = _affected(ep.stats.result())
        if ep.affected == []:
            return False
        merge = ep.table.merge if self.merge_mode == "cow" else ep.table.merge_mor
        ep.sid, mstats = merge(
            changes,
            lineage={"op": op, "mode": self.merge_mode, "epoch": ep.epoch,
                     "input_files": ep.input_files},
            affected=ep.affected,
            snap=ep.snap,
        )
        ep.affected_buckets = mstats["affected_buckets"]
        return True

    def _evolve(self, ep: _Epoch, drift: Row, crash: Callable[[str, int], None] | None) -> bool:
        """Phase: hand the epoch's payload schema to the registry. On drift
        it commits one ALTER; reload the snapshot and return True so the
        caller re-merges with the evolved schema."""
        ep.n_malformed = int(drift["malformed"] or 0)
        fields = fields_from_variant_schema(drift["vschema"])
        resolve = _rename_resolver(self.registry.versions(ep.snap))
        if resolve:  # late rows may still carry already-renamed names
            fields = merge_field_sets([[(resolve.get(n, n), t) for n, t in fields]])
        renames, adds = self.registry.observe(fields, ep.epoch, ep.snap)
        if not (renames or adds):
            return False
        if crash is not None:
            crash("after_alter", ep.epoch)
        ep.snap = ep.table.snapshot()
        return True

    def _quarantine(self, ep: _Epoch, staged: DataFrame, cols: list[str],
                    per_bucket: list[Row]) -> None:
        """Phase: the reference's per-row 'failure' relationship
        (ExecuteRuleEngine.java:477-481,610-662): bad-key and malformed
        rows land, as read, in a per-key quarantine dir (overwrite, so
        crash-replays stay idempotent); the epoch proceeds."""
        if sum(r["badkey"] for r in per_bucket) + ep.n_malformed == 0:
            return
        staged.filter(F.col("_badkey") | F.col(MALFORMED_COL)).select(
            *[c for c in cols if c != "epoch"]
        ).write.mode("overwrite").parquet(fsio.join(self.quarantine_dir, f"epoch={ep.key}"))

    def _compact(self, ep: _Epoch) -> None:
        """Phase: MOR compaction every ``compact_every`` epochs —
        bucket-scoped: only buckets that accumulated deltas are rewritten;
        cold buckets keep their files byte-for-byte."""
        if self.merge_mode != "mor" or not self.compact_every:
            return
        self._epochs_since_compact += 1
        if self._epochs_since_compact >= self.compact_every:
            ep.sid = ep.table.compact(lineage={"op": "compact", "epoch": ep.epoch},
                                      min_deltas=1)
            self._epochs_since_compact = 0

    def _record(self, ep: _Epoch, per_bucket: list[Row], stale_wm: int | None = None) -> dict:
        """Phase: metrics record, then the exactly-once marker. ``stale_wm``:
        the guard skipped the epoch below this watermark."""
        stale = {} if stale_wm is None else {"skipped_stale": True,
                                              "tombstone_watermark": stale_wm}
        maxc = [int(r["maxc"]) for r in per_bucket if r["maxc"] is not None]
        if self._max_commit_seq is not None:
            maxc.append(self._max_commit_seq)
        self._max_commit_seq = max(maxc, default=None)
        n_badkey = int(sum(r["badkey"] for r in per_bucket))
        rec = {
            "epoch": ep.epoch,
            "marker": str(ep.key),
            "snapshot_id": ep.sid,
            "rows_in": int(sum(r["rows"] for r in per_bucket)),
            "rows_corrupt": n_badkey + ep.n_malformed,
            "affected_buckets": ep.affected_buckets,
            "wall_ms": int((time.monotonic() - ep.t0) * 1000),
            "schema_version": ep.snap["schema_version"],
            "input_files": ep.input_files,
            "rows_upserted": int(
                sum(r["rows"] - r["dels"] - r["badkey"] for r in per_bucket)
            ) - ep.n_malformed,
            "rows_deleted": int(sum(r["dels"] for r in per_bucket)),
            "partitions": [
                {"bucket": int(r["_b"]), "rows": int(r["rows"])} for r in per_bucket
            ],
            **stale,
            # persisted high-water mark: lets a fresh process derive the
            # tombstone-expiry watermark in maintain() without replaying
            "max_commit_seq": self._max_commit_seq,
        }
        self.metrics.append(rec)
        done = {"snapshot_id": ep.sid}
        if stale:
            done["skipped_stale"] = True
        self.checkpoints.commit(ep.key, done)
        return rec

    def maintain(self, tombstones: bool = True, snapshots: bool = True) -> dict:
        """One maintenance pass: expire old tombstones (full rewrite — run
        rarely), then old snapshots (bounds meta/ + orphaned data files).
        Called automatically by ``run`` on the configured cadences; safe to
        call ad hoc. Replay stays exactly-once: committed epochs are marker-
        skipped, so an expired tombstone can never be resurrected by them,
        and the lateness slack keeps every commit_seq a straggler could
        still carry above the watermark.

        The expiry watermark derives from the commit_seq high-water mark:
        in-process it's tracked by the apply loop; a FRESH process recovers
        it from the metrics log (each record persists ``max_commit_seq``).
        If neither source knows one, tombstone expiry RAISES instead of
        silently no-opping (VERDICT r3) — pass an explicit watermark via
        ``IceliteTable.expire_tombstones`` / ``cli maintain
        --tombstone-watermark`` for tables without metrics."""
        t = self._table()
        out: dict = {}
        if t is None:
            return out
        if tombstones:
            if self._max_commit_seq is None:
                self._max_commit_seq = self.metrics.max_commit_seq()
            if self._max_commit_seq is None:
                raise RuntimeError(
                    "tombstone expiry needs a commit_seq high-water mark but "
                    "none is known: no epoch was applied by this process and "
                    "the metrics log records no max_commit_seq. Apply an "
                    "epoch first, or expire with an explicit watermark "
                    "(IceliteTable.expire_tombstones / cli maintain "
                    "--tombstone-watermark)."
                )
            wm = self._max_commit_seq - self.tombstone_lateness
            if wm > 0:
                out["tombstone_watermark"] = wm
                out["tombstone_snapshot"] = t.expire_tombstones(
                    wm, lineage={"op": "expire_tombstones", "watermark": wm}
                )
        if snapshots:
            out["expired_snapshots"] = t.expire_snapshots(self.keep_snapshots)
        return out

    def _tick_maintenance(self) -> None:
        snap_due = tomb_due = False
        if self.expire_snapshots_every:
            self._epochs_since_expire += 1
            snap_due = self._epochs_since_expire >= self.expire_snapshots_every
        if self.expire_tombstones_every:
            self._epochs_since_tombstone_expire += 1
            tomb_due = (
                self._epochs_since_tombstone_expire >= self.expire_tombstones_every
            )
        if not (snap_due or tomb_due):
            return
        self.maintain(tombstones=tomb_due, snapshots=snap_due)
        if tomb_due:
            self._epochs_since_tombstone_expire = 0
        if snap_due:
            self._epochs_since_expire = 0

    def view(self, name: str):
        """The MaterializedView handle for a configured view name."""
        from ..plans.ivm import MaterializedView

        group_cols, value_cols = self.views[name]
        return MaterializedView(
            self.spark, fsio.join(self.views_dir, name), group_cols, value_cols
        )

    def refresh_views(self, feed: dict | None = None) -> dict[str, dict]:
        """Bring every configured view up to the current table snapshot —
        delta-fold of the change feed since each view's recorded base
        (noop when already current; bootstrap/rebuild scans once).
        ``feed`` is the record ``publish_outbox`` returned for this
        snapshot: a view whose base is its ``from_snapshot`` folds the
        published segment instead of computing the feed again."""
        if not self.views:  # avoid a per-epoch snapshot load for the
            return {}       # common no-views applier (r06)
        t = self._table()
        if t is None:
            return {}
        return {name: self.view(name).refresh(t, feed) for name in self.views}

    def publish_outbox(self) -> dict | None:
        """Publish the change feed since the last published snapshot
        (noop when current; see plans/outbox.py for the contract)."""
        if self.outbox is None:
            return None
        t = self._table()
        if t is None:
            return None
        return self.outbox.publish(t)

    def run(self, crash: Callable[[str, int], None] | None = None) -> list[dict]:
        """Apply all pending epochs in order (exactly-once via markers),
        interleaving the configured maintenance cadences — a 100-epoch run
        with ``expire_snapshots_every`` set keeps meta/ bounded instead of
        accumulating one snapshot file (+ orphaned data) per epoch.

        After each epoch: the outbox publishes the epoch's change feed,
        then the views fold that same segment (one ``changes`` per
        epoch), then maintenance runs — after both, so the feed reads the
        epoch's touched buckets, not a maintenance rewrite. A view left
        behind by a crash computes its own feed from its base; with no
        epoch pending, the outbox and views are caught up once."""
        out = []
        for e in self.pending_epochs():
            out.append(self.apply_epoch(e, crash=crash))
            self.refresh_views(self.publish_outbox())
            self._tick_maintenance()
        if not out:  # a crash after the last marker can leave them behind
            self.refresh_views(self.publish_outbox())
        return out

    def state(self) -> DataFrame:
        t = self._table()
        if t is None:
            raise RuntimeError("table not created yet")
        return t.read()
