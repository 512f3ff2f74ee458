"""Change-feed OUTBOX: the engine's CDC *output* side.

The apply loop consumes a change log and maintains state; downstream
systems (search indexes, feature stores, replicas, the LSH/BM25 indexes
in operators/) want the same thing FROM this table: a stream of
row-level deltas, not nightly full scans. ``ChangeOutbox`` publishes the
``IceliteTable.changes`` feed incrementally — one parquet segment per
snapshot range — behind a replace-safe pointer, exactly the
``MaterializedView`` pattern applied to rows instead of aggregates.

Semantics (Delta CDF conventions, same as ``IceliteTable.changes``):
segments carry ``_change_type`` in {insert, delete, update_preimage,
update_postimage} plus ``_from_snapshot``/``_to_snapshot``. The first
publish covers the table's whole history when the empty create snapshot
is still retained (lossless feed from birth); on a table whose history
has been expired it records the current snapshot as the base and emits
nothing — the Delta "CDF starts when enabled" rule, because the expired
prefix is no longer derivable.

Guarantees:
  * **Idempotent**: ``publish()`` when already current is a noop; a crash
    between segment write and pointer move re-runs the same manifest
    diff and rewrites the same segment (mode=overwrite), so readers
    behind the pointer never see torn output.
  * **Maintenance-transparent**: compaction/expiry rewrite files without
    changing rows; the manifest diff yields an empty feed, the pointer
    still advances, and no empty segment is written.
  * **Scale**: each publish reads only the buckets whose file entries
    differ between the two snapshots (manifest pruning inside
    ``changes``) — never the table. The feed is computed once and
    written once: the segment's row count is an observation on that
    write, not a second read of the segment.

The segment is also the epoch's change feed for every other incremental
consumer: ``publish`` returns its path in the record, and a
``MaterializedView`` whose base is the record's ``from_snapshot`` folds
that segment (a small parquet read) instead of computing
``table.changes`` again (plans/ivm.py).

Replay contract (tested): base-snapshot rows, minus the keys of
``delete``/``update_preimage`` rows, plus ``insert``/``update_postimage``
rows, equals the final state exactly.

No reference analogue (the reference emits one flow file per row with no
notion of state or deltas); SURVEY.md §2.12 change-feed family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import fsio

_PTR = "OUTBOX"


class ChangeOutbox:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._ptr = fsio.join(path, _PTR)

    def pointer(self) -> dict | None:
        return fsio.load_json(self._ptr, default=None)

    @staticmethod
    def _birth_base(table) -> int | None:
        """The empty create snapshot (0), iff it is still retained — a
        first publish can then cover the table's whole history losslessly
        instead of starting at enable time."""
        from .table import SnapshotExpiredError

        try:
            s0 = table.snapshot(0)
        except SnapshotExpiredError:
            return None
        return 0 if (s0.get("lineage") or {}).get("op") == "create" else None

    def publish(self, table) -> dict:
        """Bring the outbox up to the table's current snapshot. Returns
        {mode: bootstrap|noop|publish, from_snapshot, snapshot_id, rows,
        segment, schema}; ``segment`` is the path of the range's parquet
        segment, or None when the range changed no row, and ``schema`` its
        Spark schema as JSON, so a reader of the segment infers nothing."""
        fsio.makedirs(self.path)
        cur = table.current_snapshot_id()
        ptr = self.pointer()
        if ptr is not None and ptr["snapshot_id"] == cur:
            return {"mode": "noop", "snapshot_id": cur}
        if ptr is None:
            frm = self._birth_base(table)
            if frm is None or frm == cur:
                # CDF-enable point on a table whose history is already
                # expired (or still empty): downstream bootstraps from
                # the snapshot itself, the feed starts here
                fsio.publish_json(self._ptr, {"snapshot_id": cur})
                return {"mode": "bootstrap", "snapshot_id": cur}
        else:
            frm = ptr["snapshot_id"]
        feed = table.changes(frm, cur).withColumns(
            {"_from_snapshot": F.lit(frm), "_to_snapshot": F.lit(cur)})
        # Torn-publish repair (ADVICE r5): a crash between segment write
        # and pointer move, followed by further table commits before the
        # next publish, would otherwise leave seg_{frm}_{oldCur} on disk
        # NEXT TO the seg_{frm}_{newCur} written now — segments()/read()
        # union both, and the frm->oldCur range would be emitted twice.
        # The pointer is still at frm, so every same-frm segment with a
        # different to-snapshot is unpublished torn output: delete it
        # before writing the authoritative one. (The trailing '_' keeps
        # seg_1_* from matching seg_11_*.)
        for entry in fsio.listdir(self.path):
            if entry.startswith(f"seg_{frm}_") and entry != f"seg_{frm}_{cur}":
                fsio.rmtree(fsio.join(self.path, entry))
        seg = fsio.join(self.path, f"seg_{frm}_{cur}")
        written = Observation()
        (feed.observe(written, F.count(F.lit(1)).alias("rows"))
         .write.mode("overwrite").parquet(seg))
        rows = written.get["rows"]
        if rows == 0:
            fsio.rmtree(seg)  # maintenance-only range: no segment
            seg = None
        fsio.publish_json(self._ptr, {"snapshot_id": cur})
        return {"mode": "publish", "from_snapshot": frm,
                "snapshot_id": cur, "rows": rows, "segment": seg,
                "schema": feed.schema.jsonValue()}

    def segments(self) -> list[str]:
        if not fsio.exists(self.path):
            return []
        return sorted(
            (e for e in fsio.listdir(self.path) if e.startswith("seg_")),
            key=lambda e: int(e.split("_")[1]),
        )

    def read(self, since_snapshot: int | None = None) -> DataFrame:
        """The published feed (all segments, or only those strictly after
        ``since_snapshot``) — schema-merged so segments written under
        older schema versions union cleanly."""
        segs = [
            fsio.join(self.path, s)
            for s in self.segments()
            if since_snapshot is None or int(s.split("_")[1]) >= since_snapshot
        ]
        if not segs:
            raise RuntimeError(f"outbox at {self.path} has no segments")
        return self.spark.read.option("mergeSchema", "true").parquet(*segs)
