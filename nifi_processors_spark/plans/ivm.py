"""Incremental view maintenance (IVM) over the snapshot change feed.

The point of a change feed at 100 TB is to never rescan the table: a
downstream rollup (counts / sums per group) is kept current by folding
the feed's deltas into the previous materialization. The algebra is the
classic signed-multiset one — each feed row carries a sign
(+1 for ``insert``/``update_postimage``, −1 for ``delete``/
``update_preimage``), so an update contributes (−pre, +post) and the
whole delta is one map-side-combinable aggregation OVER THE FEED ONLY
(the touched fraction, already manifest-pruned by
``IceliteTable.changes``). Merging delta into the previous view is one
key join; groups whose row count reaches zero drop out.

Maintained views use one schema convention so ``grouped_agg`` (the
from-scratch build), ``agg_delta`` and ``apply_agg_delta`` compose:
``group_cols + n_rows + sum_<value_col>...``.

Exactness: ``n_rows`` is integer arithmetic — incremental equals
recompute bit-for-bit. Float sums accumulate in a different order than
a rescan, so compare them with a tolerance (or round), as the driver
oracle does.

No reference analogue (the reference streams rows, it has no
materialized state at all); this is the Spark-native replacement for
"re-run the aggregation flow" (SURVEY.md §2.12 change-feed family).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


COUNT_COL = "n_rows"
KEEP_GENERATIONS = 2  # the live generation and the one before it


def _view_cols(value_cols: list[str]) -> list[str]:
    return [COUNT_COL] + [f"sum_{c}" for c in value_cols]


def grouped_agg(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """The from-scratch materialization (used once at bootstrap; after
    that, maintain with deltas)."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias(COUNT_COL),
        *[F.sum(c).alias(f"sum_{c}") for c in value_cols],
    )


def agg_delta(
    changes: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Fold a change feed (``IceliteTable.changes`` output) into one
    signed delta per group — a single aggregation over the feed, partial
    map-side combine and all; the table itself is never touched."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    return changes.groupBy(*group_cols).agg(
        F.sum(sign).alias(COUNT_COL),
        *[F.sum(sign * F.col(c)).alias(f"sum_{c}") for c in value_cols],
    )


def apply_agg_delta(
    view: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Merge a signed delta into the previous materialization: one
    null-safe full-outer key join (new groups enter via the delta side,
    untouched groups pass through), sums add, and groups whose row count
    hits zero vanish — the incremental result equals ``grouped_agg`` of
    the new state."""
    mcols = _view_cols(value_cols)
    d = delta.select(
        *[F.col(c).alias(f"_d_{c}") for c in group_cols],
        *[F.col(c).alias(f"_d_{c}") for c in mcols],
    )
    cond = reduce(
        lambda a, b: a & b,
        [F.col(g).eqNullSafe(F.col(f"_d_{g}")) for g in group_cols],
    )
    merged = view.join(d, cond, "full_outer").select(
        *[F.coalesce(F.col(g), F.col(f"_d_{g}")).alias(g) for g in group_cols],
        *[
            (
                F.coalesce(F.col(c), F.lit(0)) + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            ).alias(c)
            for c in mcols
        ],
    )
    return merged.filter(F.col(COUNT_COL) != 0)


class MaterializedView:
    """A continuously-maintained rollup over an ``IceliteTable``:
    ``group_cols + n_rows + sum_<value_col>...`` materialized as parquet
    plus a replace-safe pointer recording WHICH table snapshot the
    materialization reflects.

    ``refresh()`` folds only the change feed between the recorded and the
    current snapshot (``agg_delta`` + one key join — the 100 TB table is
    never rescanned). When the caller hands it the record of an outbox
    publish that spans exactly that range, the feed is the published
    segment, a small parquet read; otherwise the view computes
    ``table.changes`` itself (a view added later, or one a crash left
    behind the outbox). The bootstrap (and the fallback when snapshot
    expiry has reaped the recorded base — the retention trade, surfaced
    in the refresh record as ``mode: rebuild``) is one ``grouped_agg``
    over the pinned snapshot. Crash-safe: the data directory for the new
    generation is fully written before the pointer moves, so a reader
    never sees a half-refreshed view and a crashed refresh simply re-runs.

    Layout::

        path/VIEW            -> {"snapshot_id": n, "data": "gen{m}", "schema": {...}}
        path/gen{m}/*.parquet

    ``m`` is the snapshot the data was last written at: a range that
    changed no row moves only the pointer. ``schema`` is the Spark schema
    the generation was written with, so ``read`` runs no schema-inference
    job (a pointer written without one falls back to inference).
    """

    def __init__(self, spark, path: str, group_cols: list[str],
                 value_cols: list[str]):
        from . import fsio

        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_cols = list(value_cols)
        self._fsio = fsio
        self._ptr = fsio.join(path, "VIEW")

    def pointer(self) -> dict | None:
        return self._fsio.load_json(self._ptr, default=None)

    def read(self) -> DataFrame:
        ptr = self.pointer()
        if ptr is None:
            raise RuntimeError(f"view at {self.path} not materialized yet")
        reader = self.spark.read
        if "schema" in ptr:
            reader = reader.schema(T.StructType.fromJson(ptr["schema"]))
        return reader.parquet(self._fsio.join(self.path, ptr["data"]))

    def refresh(self, table, feed: dict | None = None) -> dict:
        """Bring the view up to the table's current snapshot. Returns a
        record: {snapshot_id, from_snapshot, mode: bootstrap|delta|noop|
        rebuild}; a delta record also names its ``feed``: ``outbox`` or
        ``changes``.

        ``feed``: the record of a ``ChangeOutbox.publish`` on this table.
        It is folded only if it runs from this view's snapshot to the
        current one; any other record is ignored."""
        fsio = self._fsio
        cur = table.current_snapshot_id()
        ptr = self.pointer()
        if ptr is not None and ptr["snapshot_id"] == cur:
            return {"snapshot_id": cur, "mode": "noop"}
        mode = "bootstrap" if ptr is None else "delta"
        rec = {"snapshot_id": cur,
               "from_snapshot": None if ptr is None else ptr["snapshot_id"],
               "mode": mode}
        delta = None  # stays None: build from scratch
        if (ptr is not None and feed is not None and feed.get("mode") == "publish"
                and (feed["from_snapshot"], feed["snapshot_id"]) == (ptr["snapshot_id"], cur)):
            rec["feed"] = "outbox"
            if feed["segment"] is None:  # no row changed: same view
                fsio.publish_json(self._ptr, {**ptr, "snapshot_id": cur})
                return rec
            delta = (self.spark.read.schema(T.StructType.fromJson(feed["schema"]))
                     .parquet(feed["segment"]))
        elif ptr is not None:
            from .table import SnapshotExpiredError

            try:
                delta = table.changes(ptr["snapshot_id"], cur)
                rec["feed"] = "changes"
            except SnapshotExpiredError as e:
                # recorded base snapshot expired (retention trade): one
                # full rebuild re-anchors the view; later refreshes are
                # incremental again. ONLY this typed error triggers the
                # rebuild — any other failure in the delta path is a real
                # bug or transient fault and must propagate, not silently
                # become a full table rescan on every refresh (ADVICE r5).
                rec.update(mode="rebuild", trigger=str(e))
        if delta is None:
            new = grouped_agg(table.read(snapshot_id=cur),
                              self.group_cols, self.value_cols)
        else:
            new = apply_agg_delta(
                self.read(), agg_delta(delta, self.group_cols, self.value_cols),
                self.group_cols, self.value_cols)
        gen = f"gen{cur}"
        new.write.mode("overwrite").parquet(fsio.join(self.path, gen))
        fsio.publish_json(self._ptr, {"snapshot_id": cur, "data": gen,
                                      "schema": new.schema.jsonValue()})
        self._expire_generations(keep=[gen])
        return rec

    def _expire_generations(self, keep: list[str]) -> None:
        fsio = self._fsio
        gens = sorted(
            (int(e[3:]) for e in fsio.listdir(self.path)
             if e.startswith("gen") and e[3:].isdigit()),
            reverse=True,
        )
        for g in gens[KEEP_GENERATIONS:]:
            name = f"gen{g}"
            if name not in keep:
                fsio.rmtree(fsio.join(self.path, name))
