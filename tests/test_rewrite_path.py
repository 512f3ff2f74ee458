"""Every icelite rewrite shares one bucket-rewrite path: the raw rows
(base and MOR deltas, unresolved; a CoW merge adds its change rows) are
tagged with their bucket, shuffled once and cut to each key's LWW head.

For full compact, scoped compact, cluster, rebucket, expire_tombstones
and a CoW merge, on a delta-bearing MOR table and on a base-only one, the
frame handed to ``_write_buckets``:
  * plans exactly one shuffle ``Exchange``;
  * holds exactly an independent Python LWW of the raw rows (for
    expire_tombstones minus the tombstones below the watermark, with no
    older version of their keys in their place), each row in its key's
    bucket under the target count.

And the tie a drift re-merge relies on: a change row with the same (key,
commit_seq, event_seq) as a stored row but other values wins, in a CoW
merge and in a MOR merge + read.
"""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.plans.table import SYS_COLS, IceliteTable, bucket_of

NB = 8
SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("n", T.LongType()),
])
COLS = ["k", "v", "n", *SYS_COLS]


def _chset(spark, lo, hi, seq, op="U"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit(f"s{seq}-"), F.col("id").cast("string")).alias("v"),
        (F.col("id") * seq).alias("n"),
        F.lit(op).alias("op"), F.lit(seq).cast("long").alias("commit_seq"),
        F.col("id").alias("event_seq"))


def _table(spark, path, mor):
    """Keys 0-299 at commit 1; then updates of 0-99 (commit 2), deletes
    of 80-119 (commit 3) and updates of 250-349 (commit 4), as delta
    files (``mor``) or CoW merges. Keys 100-119 end as tombstones over
    live commit-1 rows."""
    t = IceliteTable.create(spark, path, SCHEMA, key=["k"], n_buckets=NB)
    t.merge(_chset(spark, 0, 300, 1))
    write = t.merge_mor if mor else t.merge
    write(_chset(spark, 0, 100, 2))
    write(_chset(spark, 80, 120, 3, op="D"))
    write(_chset(spark, 250, 350, 4))
    return t


def _raw(t):
    snap = t.snapshot()
    return [r.asDict() for r in
            t._read(snap, include_deleted=True, resolve=False).collect()]


def _lww(rows):
    best = {}
    for r in rows:
        rank = (r["_commit_seq"], r["_event_seq"], r["_delta_seq"])
        if r["k"] not in best or rank > best[r["k"]][0]:
            best[r["k"]] = (rank, r)
    return {k: tuple(r[c] for c in COLS) for k, (_, r) in best.items()}


WATERMARK = 4  # above the commit-3 tombstones


def _merge_rows(t):
    """The change rows the CoW merge case adds, as stored rows."""
    sid = t.current_snapshot_id() + 1
    return [{"k": k, "v": f"s5-{k}", "n": k * 5, "_commit_seq": 5,
             "_event_seq": k, "_delta_seq": sid, "_deleted": False}
            for k in range(90, 130)]


CASES = {
    "compact_full": (lambda spark, t: t.compact(), NB),
    "compact_scoped": (lambda spark, t: t.compact(buckets=list(range(NB))), NB),
    "cluster": (lambda spark, t: t.cluster(["n"]), NB),
    "rebucket": (lambda spark, t: t.rebucket(4), 4),
    "expire_tombstones": (lambda spark, t: t.expire_tombstones(WATERMARK), NB),
    "merge": (lambda spark, t: t.merge(_chset(spark, 90, 130, 5)), NB),
}


@pytest.mark.parametrize("mor", [True, False], ids=["mor", "base_only"])
@pytest.mark.parametrize("case", list(CASES))
def test_rewrite_shuffles_once_and_resolves_lww(spark, tmp_path, monkeypatch, case, mor):
    t = _table(spark, str(tmp_path / "t"), mor)
    deltas = t.delta_file_count()
    assert (deltas > 0) == mor
    raw = _raw(t)
    if case == "merge":  # the merge rewrites only the buckets it touches
        types = [T.LongType()]
        touched = {bucket_of((k,), types, NB) for k in range(90, 130)}
        raw = [r for r in raw if bucket_of((r["k"],), types, NB) in touched]
        raw += _merge_rows(t)
    want = _lww(raw)

    seen = []
    real = IceliteTable._write_buckets

    def spy(self, df, snap, *args, **kw):
        seen.append(df)
        return real(self, df, snap, *args, **kw)

    monkeypatch.setattr(IceliteTable, "_write_buckets", spy)
    write, nb = CASES[case]
    write(spark, t)
    assert len(seen) == 1
    df = seen[0]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"(?<![A-Za-z])Exchange ", plan)) == 1, plan

    got = df.collect()
    rows = {r["k"]: tuple(r[c] for c in COLS) for r in got}
    assert len(rows) == len(got)  # one row per key
    assert all(r["_bucket"] == bucket_of((r["k"],), [T.LongType()], nb) for r in got)
    if case == "expire_tombstones":
        gone = {k for k, r in want.items() if r[-1] and r[3] < WATERMARK}
        assert gone == set(range(80, 120))
        want = {k: r for k, r in want.items() if k not in gone}
        assert not gone & set(rows)  # no older version reappears
    assert rows == want
    if case != "merge":
        assert t.delta_file_count() == 0


def _one(spark, v, op="U"):
    """A change of key 7 with a fixed (commit_seq, event_seq) = (5, 0)."""
    return spark.createDataFrame(
        [(7, v, 1, op, 5, 0)],
        "k long, v string, n long, op string, commit_seq long, event_seq long")


def _v(t):
    return [tuple(r) for r in t.read().select("k", "v").collect()]


def test_equal_sequence_change_wins_cow(spark, tmp_path):
    """A drift re-merge re-applies an event with its original (commit_seq,
    event_seq) but re-typed values: the change must replace the stored
    row, whether that row is base or an unresolved MOR delta."""
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"], n_buckets=NB)
    t.merge(_one(spark, "a"))
    t.merge(_one(spark, "b"))
    assert _v(t) == [(7, "b")]
    t.merge_mor(_one(spark, "c"))
    t.merge(_one(spark, "d"))  # stored side: base "b" + delta "c"
    assert _v(t) == [(7, "d")]
    assert t.read(include_deleted=True).count() == 1


def test_equal_sequence_change_wins_mor(spark, tmp_path):
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"], n_buckets=NB)
    t.merge(_one(spark, "a"))
    t.merge_mor(_one(spark, "b"))
    assert _v(t) == [(7, "b")]
    t.merge_mor(_one(spark, "c"))
    assert _v(t) == [(7, "c")]
    t.merge_mor(_one(spark, "c", op="D"))
    assert _v(t) == []
    t.compact()
    assert _v(t) == [] and t.read(include_deleted=True).count() == 1
