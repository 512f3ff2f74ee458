"""Driver-side key -> bucket hashing (``bucket_of``) and the point-lookup
path built on it: parity with the writers' ``bucket_expr`` over random
rows, a fall-back to unpruned (but correct) scans for types and literals
it does not hash, one snapshot load per scan and per table operation, and
the Spark job count of a lookup. Collated string keys are refused at
create."""

import random
import re
import uuid
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.plans import fsio
from nifi_processors_spark.plans.table import CommitConflictError, IceliteTable, bucket_expr, bucket_of

INT_TYPES = {
    "l": (T.LongType(), 64),
    "i": (T.IntegerType(), 32),
    "sh": (T.ShortType(), 16),
    "by": (T.ByteType(), 8),
}
SHAPES = [["s"], ["l"], ["i"], ["sh"], ["by"], ["s", "l"], ["l", "s", "i"],
          ["by", "sh", "s"]]
# 2^31 - 1 (the largest n bucket_expr's int cast allows) checks 31 bits
# of every hash, not just its residue mod a small n
NS = [7, 8, 64, 2**31 - 1]
# 1-, 2-, 3- and 4-byte UTF-8 characters, NUL included
ALPHABET = "az09 \x00\x7féßлж中文字🙂🚀𝄞"


def _rand_str(rng: random.Random) -> str:
    target = rng.randint(0, 80)  # bytes; crosses the 32-byte stripe loop
    out, size = [], 0
    while True:
        ch = rng.choice(ALPHABET)
        n = len(ch.encode("utf-8"))
        if size + n > target:
            return "".join(out)
        out.append(ch)
        size += n


def _rand_int(rng: random.Random, bits: int) -> int | None:
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    r = rng.random()
    if r < 0.1:
        return None
    if r < 0.3:
        return rng.choice([lo, hi, lo + 1, hi - 1, 0, -1, 1])
    return rng.randint(lo, hi)


def test_bucket_of_matches_bucket_expr(spark):
    rng = random.Random(20261019)
    rows = []
    for _ in range(3000):
        s = None if rng.random() < 0.1 else _rand_str(rng)
        rows.append((s,) + tuple(_rand_int(rng, b) for _, b in INT_TYPES.values()))
    schema = T.StructType(
        [T.StructField("s", T.StringType())]
        + [T.StructField(c, t) for c, (t, _) in INT_TYPES.items()])
    df = spark.createDataFrame(rows, schema)
    types = {f.name: f.dataType for f in schema.fields}
    want = df.select(*df.columns, *[
        bucket_expr(shape, n).alias(f"b{si}_{n}")
        for si, shape in enumerate(SHAPES) for n in NS
    ]).collect()
    assert len(want) == len(rows)
    assert any(r["s"] is not None and len(r["s"].encode()) >= 32 for r in want)
    for r in want:
        for si, shape in enumerate(SHAPES):
            key = tuple(r[c] for c in shape)
            tys = [types[c] for c in shape]
            for n in NS:
                assert bucket_of(key, tys, n) == r[f"b{si}_{n}"], (shape, key, n)


@pytest.mark.parametrize("dt, v", [
    (T.FloatType(), 1.5),
    (T.DoubleType(), 1.5),
    (T.DecimalType(10, 2), Decimal("1.50")),
    (T.TimestampType(), 0),
    (T.BinaryType(), b"ab"),
    (T.StringType("UTF8_LCASE"), "ab"),
    (T.BooleanType(), True),
    (T.DateType(), 0),
])
def test_bucket_of_unsupported_type(dt, v):
    assert bucket_of((v,), [dt], 8) is None


@pytest.mark.parametrize("dt, v", [
    (T.LongType(), "7"),
    (T.LongType(), True),
    (T.LongType(), 7.0),
    (T.LongType(), 1 << 63),
    (T.LongType(), -(1 << 63) - 1),
    (T.IntegerType(), 1 << 31),
    (T.IntegerType(), False),
    (T.ShortType(), -(1 << 15) - 1),
    (T.ByteType(), 128),
    (T.StringType(), 7),
    (T.StringType(), b"7"),
    (T.StringType(), "\ud800"),  # lone surrogate: no UTF-8 encoding
])
def test_bucket_of_literal_mismatch(dt, v):
    assert bucket_of((v,), [dt], 8) is None
    # one unhashable column disables the whole key
    assert bucket_of(("a", v), [T.StringType(), dt], 8) is None


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kt, keys, probe, hit", [
    (T.DoubleType(), [0.5 * k for k in range(40)], 3.5, True),
    (T.TimestampType(), [datetime(2026, 1, 1, k) for k in range(20)],
     datetime(2026, 1, 1, 7), True),
    (T.LongType(), list(range(40)), "7", True),
    (T.IntegerType(), list(range(40)), 1 << 40, False),
])
def test_unhashed_lookup_scans_unpruned(spark, tmp_path, kt, keys, probe, hit):
    schema = T.StructType([T.StructField("k", kt), T.StructField("v", T.LongType())])
    t = IceliteTable.create(spark, str(tmp_path / "t"), schema, key=["k"],
                            n_buckets=4)
    ch = spark.createDataFrame(
        [(k, i, "U", 1, i) for i, k in enumerate(keys)],
        T.StructType(schema.fields + [
            T.StructField("op", T.StringType()),
            T.StructField("commit_seq", T.IntegerType()),
            T.StructField("event_seq", T.IntegerType())]))
    t.merge(ch)
    filters = [("k", "=", probe)]
    assert "key_buckets" not in t.scan_report(filters)  # stats may still prune
    want = _rows(t.read().filter(F.col("k") == F.lit(probe)))
    assert _rows(t.scan(filters)) == want
    assert bool(want) == hit


def _chset(spark, rows, seq):
    df = spark.createDataFrame(rows, "k long, v long, op string")
    return df.select("k", "v", "op", F.lit(seq).alias("commit_seq"),
                     F.col("k").alias("event_seq"))


@pytest.fixture()
def cow(spark, tmp_path):
    t = IceliteTable.create(spark, str(tmp_path / "cow"),
                            T.StructType([T.StructField("k", T.LongType()),
                                          T.StructField("v", T.LongType())]),
                            key=["k"], n_buckets=8)
    t.merge(_chset(spark, [(k, k * 10, "U") for k in range(200)], 1))
    return t


@pytest.fixture()
def meta_reads(monkeypatch):
    """() -> (VERSION reads, snapshot JSON reads) since the last call."""
    reads = []
    real = fsio.read_text

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(fsio, "read_text", counting)

    def count():
        names = [p.rsplit("/", 1)[-1] for p in reads]
        reads.clear()
        return (sum(n == "VERSION" for n in names),
                sum(bool(re.fullmatch(r"v\d+\.json", n)) for n in names))

    return count


def test_scan_loads_snapshot_once(cow, meta_reads):
    cow.scan([("k", "=", 37)])
    assert meta_reads() == (1, 1)
    cow.scan([("v", ">=", 500)])
    assert meta_reads() == (1, 1)
    cow.scan([("k", "=", 37)], snapshot_id=1)
    assert meta_reads() == (0, 1)


@pytest.mark.parametrize("op", [
    "merge", "merge_mor", "compact_buckets", "compact_min_deltas", "compact_full",
    "cluster", "rebucket", "expire_tombstones"])
def test_table_op_loads_snapshot_once(spark, cow, meta_reads, op):
    """Each writer loads the snapshot it commits on once (VERSION + JSON)
    and reads the table through that same snapshot."""
    cow.merge_mor(_chset(spark, [(3, -3, "U"), (4, None, "D")], 2))
    ops = {
        "merge": lambda: cow.merge(_chset(spark, [(5, -5, "U")], 3)),
        "merge_mor": lambda: cow.merge_mor(_chset(spark, [(5, -5, "U")], 3)),
        "compact_buckets": lambda: cow.compact(buckets=[0, 1]),
        "compact_min_deltas": lambda: cow.compact(min_deltas=1),
        "compact_full": lambda: cow.compact(),
        "cluster": lambda: cow.cluster(["v"]),
        "rebucket": lambda: cow.rebucket(5),
        "expire_tombstones": lambda: cow.expire_tombstones(3),
    }
    meta_reads()
    ops[op]()
    assert meta_reads() == (1, 1)


def test_merge_on_a_loaded_snapshot_loads_none(spark, cow, meta_reads):
    snap = cow.snapshot()
    meta_reads()
    cow.merge(_chset(spark, [(5, -5, "U")], 2), snap=snap)
    cow.merge_mor(_chset(spark, [(6, -6, "U")], 3), snap=cow.snapshot())
    assert meta_reads() == (1, 1)  # the second merge's explicit snapshot() only
    assert {r["k"]: r["v"] for r in cow.read().collect()}[5] == -5


def test_changes_loads_each_snapshot_once(spark, cow, meta_reads):
    cow.merge(_chset(spark, [(5, -5, "U"), (6, None, "D")], 2))
    meta_reads()
    feed = cow.changes(1, 2)
    assert meta_reads() == (0, 2)
    assert sorted((r["k"], r["_change_type"]) for r in feed.collect()) == [
        (5, "update_postimage"), (5, "update_preimage"), (6, "delete")]


@pytest.mark.parametrize("op", ["rebucket", "expire_tombstones"])
def test_rewrite_reads_the_snapshot_it_commits_on(spark, cow, monkeypatch, op):
    """A commit landing after a rewrite loaded its snapshot is neither
    leaked into the rows it rewrites nor replaced by its commit: the
    rewrite refuses, and the other commit stays current."""
    real = IceliteTable.snapshot
    renamed = []

    def snapshot_then_rename(self, snapshot_id=None):
        out = real(self, snapshot_id)
        if snapshot_id is None and not renamed:
            renamed.append(1)
            self.alter({"v": "w"}, [])
        return out

    monkeypatch.setattr(IceliteTable, "snapshot", snapshot_then_rename)
    with pytest.raises(CommitConflictError, match="moved to snapshot 2"):
        if op == "rebucket":
            cow.rebucket(5)
        else:
            cow.expire_tombstones(1)
    monkeypatch.undo()
    assert cow.current_snapshot_id() == 2
    assert cow.field_names() == ["k", "w"]
    assert {r["k"]: r["w"] for r in cow.read().collect()} == {k: k * 10 for k in range(200)}


def test_merge_after_foreign_commit_is_refused(spark, cow):
    """Two handles on one table: a merge built on a snapshot another
    writer has since succeeded must not replace that writer's commit
    (its snapshot file, its VERSION move or its data files)."""
    stale = IceliteTable(spark, cow.path)
    snap = stale.snapshot()
    cow.merge(_chset(spark, [(7, -7, "U")], 2))
    with pytest.raises(CommitConflictError):
        stale.merge(_chset(spark, [(8, -8, "U")], 3), snap=snap)
    with pytest.raises(CommitConflictError):
        stale.merge_mor(_chset(spark, [(8, -8, "U")], 3), snap=snap)
    assert cow.current_snapshot_id() == 2
    got = {r["k"]: r["v"] for r in stale.read().collect()}
    assert got == {**{k: k * 10 for k in range(200)}, 7: -7}
    # the refused writer recovers by reloading
    stale.merge(_chset(spark, [(8, -8, "U")], 3))
    assert {r["k"]: r["v"] for r in cow.read().collect()}[8] == -8


def test_staged_or_crashed_successor_is_replaced(spark, cow):
    """A successor snapshot file with VERSION still at its parent (a
    write-audit-publish stage, or a commit that crashed before moving
    VERSION) is this history's own: a publishing merge replaces it."""
    staged, _ = cow.merge(_chset(spark, [(1007, -7, "U")], 2), publish=False)
    assert cow.current_snapshot_id() == 1 and staged == 2
    cow.merge(_chset(spark, [(1008, -8, "U")], 3))
    got = {r["k"]: r["v"] for r in cow.read().collect()}
    assert cow.current_snapshot_id() == 2 and got[1008] == -8 and 1007 not in got


def test_collated_string_key_is_refused(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.StringType("UTF8_LCASE")),
                           T.StructField("v", T.StringType("UTF8_LCASE"))])
    with pytest.raises(ValueError, match="'k'"):
        IceliteTable.create(spark, str(tmp_path / "t"), schema, key=["k"])
    assert not IceliteTable.exists(str(tmp_path / "t"))
    # a collated NON-key column stays allowed
    IceliteTable.create(spark, str(tmp_path / "u"),
                        T.StructType([T.StructField("k", T.StringType()), schema["v"]]),
                        key=["k"])


def test_scan_reads_the_snapshot_it_pruned(spark, cow, monkeypatch):
    """A commit between pruning and reading must not leak into the scan:
    the kept files are read under their own snapshot's schema."""
    real = IceliteTable._prune

    def prune_then_commit(self, snap, filters):
        out = real(self, snap, filters)
        self.alter({"v": "w"}, [])
        return out

    monkeypatch.setattr(IceliteTable, "_prune", prune_then_commit)
    df = cow.scan([("k", "=", 37)])
    assert df.columns[:2] == ["k", "v"]
    assert [(r["k"], r["v"]) for r in df.collect()] == [(37, 370)]
    assert cow.field_names() == ["k", "w"]


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"key-bucket-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cow_point_lookup_is_one_job(spark, cow):
    rows, jobs = _jobs(spark, lambda: cow.scan([("k", "=", 37)]).collect())
    assert [(r["k"], r["v"]) for r in rows] == [(37, 370)]
    assert jobs == 1


def test_mor_key_buckets_run_no_job(spark, cow):
    cow.merge_mor(_chset(spark, [(37, -1, "U"), (38, -2, "U")], 2))
    cow.merge_mor(_chset(spark, [(38, -3, "U")], 3))
    filters = [("k", "in", [37, 38])]
    snap = cow.snapshot()
    kb, jobs = _jobs(spark, lambda: cow._key_buckets(snap, filters))
    assert jobs == 0
    rep, jobs = _jobs(spark, lambda: cow.scan_report(filters))
    assert jobs == 0
    assert rep["key_buckets"] == kb and 1 <= len(kb) <= 2
    assert rep["files_kept"] < rep["files_total"]
    got = sorted((r["k"], r["v"]) for r in cow.scan(filters).collect())
    assert got == [(37, -1), (38, -3)]
