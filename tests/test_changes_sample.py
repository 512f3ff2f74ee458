"""Round-5 additions: IceliteTable.changes (Delta-CDF-style snapshot
change feed, manifest-pruned) and operators/sample.py (deterministic
hash sampling / stratified sampling / corpus mixing)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.operators import sample
from nifi_processors_spark.plans.table import IceliteTable

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
])


def _chset(spark, rows, commit_seq):
    """rows: list of (k, v, op)."""
    df = spark.createDataFrame(rows, "k long, v string, op string")
    return df.select(
        "k", "v", "op",
        F.lit(commit_seq).alias("commit_seq"),
        F.col("k").alias("event_seq"),
    )


@pytest.fixture()
def tbl(spark, tmp_path):
    return IceliteTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key=["k"], n_buckets=4
    )


def _feed(tbl, s1, s2):
    return {
        (r["k"], r["_change_type"]): r["v"]
        for r in tbl.changes(s1, s2).collect()
    }


def test_changes_insert_update_delete(spark, tbl):
    s1, _ = tbl.merge(_chset(spark, [(1, "a", "U"), (2, "b", "U"), (3, "c", "U")], 1))
    s2, _ = tbl.merge(_chset(spark, [(2, "B", "U"), (3, "c2", "D"), (4, "d", "U")], 2))
    got = _feed(tbl, s1, s2)
    assert got == {
        (2, "update_preimage"): "b",
        (2, "update_postimage"): "B",
        (3, "delete"): "c",
        (4, "insert"): "d",
    }
    # unchanged key 1 emits nothing; same-snapshot diff is empty
    assert tbl.changes(s2, s2).count() == 0


def test_changes_noop_rewrite_emits_nothing(spark, tbl):
    """A replayed epoch (identical bytes, LWW no-op) must produce an
    empty feed even though the snapshot id advanced."""
    s1, _ = tbl.merge(_chset(spark, [(1, "a", "U"), (2, "b", "U")], 1))
    s2, _ = tbl.merge(_chset(spark, [(1, "a", "U"), (2, "b", "U")], 1))
    assert tbl.changes(s1, s2).count() == 0


def test_changes_bucket_pruning(spark, tbl, monkeypatch):
    """Only buckets whose file-entry lists differ may be read."""
    s1, _ = tbl.merge(_chset(spark, [(k, f"v{k}", "U") for k in range(40)], 1))
    s2, _ = tbl.merge(_chset(spark, [(7, "CHANGED", "U")], 2))
    seen = {}
    orig = IceliteTable._read

    def spy(self, snap, buckets=None, *args, **kwargs):
        seen.setdefault("buckets", []).append(buckets)
        return orig(self, snap, buckets, *args, **kwargs)

    monkeypatch.setattr(IceliteTable, "_read", spy)
    got = _feed(tbl, s1, s2)
    assert got == {(7, "update_preimage"): "v7", (7, "update_postimage"): "CHANGED"}
    # epoch 2 touched exactly one bucket -> both reads pruned to it
    assert len(seen["buckets"]) == 2
    assert all(b is not None and len(b) == 1 for b in seen["buckets"])


def test_changes_across_schema_evolution(spark, tbl):
    """RENAME diffs by field id (old files' column lines up with the new
    name); ADDed column null-backfills in preimages of pre-ALTER rows."""
    s1, _ = tbl.merge(_chset(spark, [(1, "a", "U"), (2, "b", "U")], 1))
    tbl.alter(renames={"v": "val"}, adds=[("extra", T.StringType())])
    ch = spark.createDataFrame(
        [(2, "B", "x", "U")], "k long, val string, extra string, op string"
    ).select(
        "k", "val", "extra", "op",
        F.lit(2).alias("commit_seq"), F.col("k").alias("event_seq"),
    )
    s2, _ = tbl.merge(ch)
    rows = {r["_change_type"]: r for r in tbl.changes(s1, s2).collect()}
    assert rows["update_preimage"]["val"] == "b"
    assert rows["update_preimage"]["extra"] is None
    assert rows["update_postimage"]["val"] == "B"
    assert rows["update_postimage"]["extra"] == "x"


def test_changes_across_rebucket_falls_back(spark, tbl):
    """A rebucket between the snapshots makes layouts incomparable; the
    feed must fall back to a full diff and stay correct."""
    s1, _ = tbl.merge(_chset(spark, [(1, "a", "U"), (2, "b", "U")], 1))
    tbl.rebucket(8)
    s2, _ = tbl.merge(_chset(spark, [(2, "B", "U")], 2))
    got = _feed(tbl, s1, s2)
    assert got == {(2, "update_preimage"): "b", (2, "update_postimage"): "B"}


def test_changes_key_mismatch_raises(spark, tbl, monkeypatch):
    s1, _ = tbl.merge(_chset(spark, [(1, "a", "U")], 1))
    good = tbl.snapshot(s1)
    bad = dict(good, key=["v"])  # simulate a key redefinition between snapshots
    monkeypatch.setattr(
        tbl, "snapshot", lambda sid=None: bad if sid == 0 else good
    )
    with pytest.raises(ValueError, match="key changed"):
        tbl.changes(0, s1)


# ---------------- incremental view maintenance ----------------


IVM_SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("g", T.StringType()),
    T.StructField("x", T.DoubleType()),
])


def _ivm_chset(spark, rows, commit_seq):
    df = spark.createDataFrame(rows, "k long, g string, x double, op string")
    return df.select(
        "k", "g", "x", "op",
        F.lit(commit_seq).alias("commit_seq"), F.col("k").alias("event_seq"),
    )


def test_ivm_incremental_equals_recompute(spark, tmp_path):
    """Folding the feed's signed deltas into the snapshot-1 view must
    reproduce a from-scratch snapshot-2 aggregation: group move, delete,
    group-vanish, new group, identical rewrite (no feed row), and an
    untouched group all in one epoch."""
    from nifi_processors_spark.plans import ivm

    tbl = IceliteTable.create(
        spark, str(tmp_path / "ivm"), IVM_SCHEMA, key=["k"], n_buckets=4
    )
    s1, _ = tbl.merge(_ivm_chset(spark, [
        (1, "a", 1.0, "U"), (2, "a", 2.0, "U"), (3, "b", 3.0, "U"),
        (4, "c", 4.0, "U"), (6, "e", 6.0, "U"),
    ], 1))
    s2, _ = tbl.merge(_ivm_chset(spark, [
        (2, "b", 20.0, "U"),   # moves group a -> b
        (3, "b", 0.0, "D"),    # delete inside b
        (4, "c", 4.0, "D"),    # group c vanishes entirely
        (5, "d", 5.0, "U"),    # new group d enters via the delta side
        (1, "a", 1.5, "U"),    # in-place update within a
        (6, "e", 6.0, "U"),    # identical rewrite -> NO feed row
    ], 2))
    base = ivm.grouped_agg(tbl.read(s1), ["g"], ["x"])
    delta = ivm.agg_delta(tbl.changes(s1, s2), ["g"], ["x"])
    inc = {r["g"]: (r["n_rows"], r["sum_x"])
           for r in ivm.apply_agg_delta(base, delta, ["g"], ["x"]).collect()}
    want = {r["g"]: (r["n_rows"], r["sum_x"])
            for r in ivm.grouped_agg(tbl.read(s2), ["g"], ["x"]).collect()}
    assert set(inc) == set(want) == {"a", "b", "d", "e"}
    for g, (n, s) in want.items():
        assert inc[g][0] == n
        assert abs(inc[g][1] - s) < 1e-9


# ---------------- deterministic sampling ----------------


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.range(0, 5000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("stratum"),
    )


def test_hash_sample_deterministic_across_partitioning(keyed):
    a = {r["k"] for r in sample.hash_sample(keyed.repartition(1), "k", 0.2).collect()}
    b = {r["k"] for r in sample.hash_sample(keyed.repartition(13), "k", 0.2).collect()}
    assert a == b and 0.15 < len(a) / 5000 < 0.25


def test_hash_sample_bounds(keyed):
    assert sample.hash_sample(keyed, "k", 1.0).count() == 5000
    assert sample.hash_sample(keyed, "k", 0.0).count() == 0
    with pytest.raises(ValueError):
        sample.fraction_threshold(1.5)


def test_hash_sample_seed_namespaces(keyed):
    a = {r["k"] for r in sample.hash_sample(keyed, "k", 0.5, seed=1).collect()}
    b = {r["k"] for r in sample.hash_sample(keyed, "k", 0.5, seed=2).collect()}
    assert a != b  # independent draws
    # consistent across tables: same keys -> same membership
    half = keyed.filter(F.col("k") < 2500)
    c = {r["k"] for r in sample.hash_sample(half, "k", 0.5, seed=1).collect()}
    assert c == {k for k in a if k < 2500}


def test_stratified_rates_and_default(keyed):
    out = sample.stratified_sample(
        keyed, "stratum", "k", {"0": 1.0, "1": 0.0}, default=0.3, seed=5
    )
    by = {
        r["stratum"]: r["n"]
        for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert by["0"] == 1250 and "1" not in by
    assert 0.2 < by["2"] / 1250 < 0.4 and 0.2 < by["3"] / 1250 < 0.4


def test_mix_corpora_tags_and_backfill(spark, keyed):
    other = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("extra").alias("note")
    )
    out = sample.mix_corpora(
        [(keyed, "big", 0.1), (other, "small", 1.0)], "k", seed=9
    )
    rows = out.collect()
    small = [r for r in rows if r["_source"] == "small"]
    big = [r for r in rows if r["_source"] == "big"]
    assert len(small) == 100 and all(r["stratum"] is None for r in small)
    assert all(r["note"] is None for r in big)
    with pytest.raises(ValueError):
        sample.mix_corpora([], "k")
