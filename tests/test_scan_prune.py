"""Manifest-stats file skipping (IceliteTable.scan): footer-derived
min/max land in the snapshot, selective scans skip files without opening
them, and pruning never changes results — including the LWW trap where a
delta file moves a key OUT of the filter range."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.plans.table import IceliteTable, bucket_expr

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.LongType()),
    T.StructField("s", T.StringType()),
])


def _chset(spark, rows, seq):
    df = spark.createDataFrame(rows, "k long, v long, s string, op string")
    return df.select("k", "v", "s", "op", F.lit(seq).alias("commit_seq"),
                     F.col("k").alias("event_seq"))


@pytest.fixture()
def tbl(spark, tmp_path):
    """8-bucket table where column v correlates with the bucket: each file's
    [min,max] v-range is tight, so range predicates prune most files."""
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"],
                            n_buckets=8)
    keys = spark.range(0, 400).select(
        F.col("id").alias("k"), bucket_expr(["k"], 8).alias("b"))
    rows = [(r["k"], r["b"] * 1000 + r["k"] % 100, f"s{r['b']}", "U")
            for r in keys.collect()]
    t.merge(_chset(spark, rows, 1))
    return t


def test_stats_in_manifest(tbl, tmp_path):
    snap = json.loads((tmp_path / "t" / "meta" / "v1.json").read_text())
    files = [fe for fs in snap["buckets"].values() for fe in fs]
    assert files
    for fe in files:
        st = fe["stats"]
        assert st["rows"] > 0
        assert set(st["mins"]) >= {"k", "v", "s", "_commit_seq"}
        assert st["mins"]["v"] <= st["maxs"]["v"]
        assert isinstance(st["mins"]["s"], str)
    # _deleted is boolean -> deliberately not stat'd
    assert "_deleted" not in files[0]["stats"]["mins"]


def test_scan_prunes_and_matches_read(tbl):
    filters = [("v", ">=", 6000)]
    rep = tbl.scan_report(filters)
    assert rep["files_kept"] < rep["files_total"]
    assert rep["buckets_kept"] == 2  # buckets 6 and 7 only
    got = sorted(r["k"] for r in tbl.scan(filters).collect())
    want = sorted(r["k"] for r in tbl.read().filter(F.col("v") >= 6000).collect())
    assert got == want and got
    # conjunction narrows further; equality op; string stats prune too
    assert tbl.scan([("v", ">=", 6000), ("v", "<", 7000)]).count() == \
        tbl.read().filter((F.col("v") >= 6000) & (F.col("v") < 7000)).count()
    rep_s = tbl.scan_report([("s", "=", "s3")])
    assert rep_s["buckets_kept"] == 1
    assert tbl.scan([("s", "=", "s3")]).count() == \
        tbl.read().filter(F.col("s") == "s3").count()


def test_point_lookup_prunes_to_key_bucket(tbl):
    """Equality on the full key collapses the scan to ONE hash bucket
    (computed with the writers' own bucket_expr) before stats pruning."""
    rep = tbl.scan_report([("k", "=", 37)])
    assert "key_bucket" in rep
    assert rep["buckets_kept"] <= 1
    assert rep["buckets_total"] == 8
    got = [(r["k"], r["v"]) for r in tbl.scan([("k", "=", 37)]).collect()]
    want = [(r["k"], r["v"])
            for r in tbl.read().filter(F.col("k") == 37).collect()]
    assert got == want and got
    # key equality + non-key predicate: residual filter still applies
    assert tbl.scan([("k", "=", 37), ("v", ">", 10**9)]).count() == 0
    # inequality on the key does NOT trigger the bucket collapse
    assert "key_bucket" not in tbl.scan_report([("k", ">=", 0)])
    # absent key: zero rows, at most one bucket touched
    rep2 = tbl.scan_report([("k", "=", 10_000)])
    assert rep2["buckets_kept"] <= 1
    assert tbl.scan([("k", "=", 10_000)]).count() == 0


def test_point_lookup_lww_safe_with_deltas(spark, tmp_path):
    """Bucket pruning on the key keeps every file of the key's bucket when
    deltas are present, so LWW still resolves to the newest version."""
    t = IceliteTable.create(spark, str(tmp_path / "tp"), SCHEMA, key=["k"],
                            n_buckets=4)
    t.merge(_chset(spark, [(1, 10, "a", "U"), (2, 20, "b", "U")], 1))
    t.merge_mor(_chset(spark, [(1, 999, "a2", "U")], 2))
    got = t.scan([("k", "=", 1)]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, 999)]


def test_scan_empty_and_unsupported_op(tbl):
    assert tbl.scan([("v", ">", 10_000_000)]).count() == 0
    assert tbl.scan_report([("v", ">", 10_000_000)])["files_kept"] == 0
    with pytest.raises(ValueError, match="unsupported scan op"):
        tbl.scan([("v", "!=", 1)])


def test_delta_bucket_prunes_wholesale_lww_safe(spark, tmp_path):
    """Base row (k=1, v=10); newer DELTA moves it to v=999. File-level
    pruning would drop the delta file for scan(v=10) and surface the stale
    base row; the wholesale rule keeps the bucket, LWW resolves, and the
    residual filter drops the key. scan(v=999) finds the winner."""
    t = IceliteTable.create(spark, str(tmp_path / "t2"), SCHEMA, key=["k"],
                            n_buckets=2)
    t.merge(_chset(spark, [(1, 10, "a", "U"), (2, 20, "b", "U")], 1))
    t.merge_mor(_chset(spark, [(1, 999, "a2", "U")], 2))
    assert t.scan([("v", "=", 10)]).count() == 0
    got = t.scan([("v", "=", 999)]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, 999)]
    # the delta-bearing bucket is kept or dropped whole
    snap = t.snapshot()
    kept, rep = t._prune(snap, [("v", "=", 999)])
    for b, files in kept.items():
        if any(fe.get("kind") == "delta" for fe in snap["buckets"][b]):
            assert len(files) == len(snap["buckets"][b])
    # a predicate excluded by EVERY file in the delta bucket drops it whole
    kept2, _ = t._prune(snap, [("v", "=", -5)])
    assert kept2 == {}


def test_cluster_tightens_file_ranges_for_pruning(spark, tmp_path):
    """cluster(sort_cols, max_rows_per_file): inside each bucket the sorted
    split yields files with near-disjoint ranges, so a range scan on the
    cluster column opens a fraction of the files; results stay identical
    and subsequent merges still work."""
    t = IceliteTable.create(spark, str(tmp_path / "tc"), SCHEMA, key=["k"],
                            n_buckets=2)
    rows = [(k, (k * 37) % 1000, f"s{k % 7}", "U") for k in range(400)]
    t.merge(_chset(spark, rows, 1))
    before = t.scan_report([("v", "<", 100)])
    assert before["files_kept"] == before["files_total"]  # unclustered: no help
    sid = t.cluster(["v"], max_rows_per_file=25)
    snap = t.snapshot()
    assert snap["snapshot_id"] == sid and snap["clustered_by"] == ["v"]
    rep = t.scan_report([("v", "<", 100)])
    assert rep["files_total"] >= 8  # split actually happened
    assert rep["files_kept"] <= rep["files_total"] // 2
    got = sorted(r["k"] for r in t.scan([("v", "<", 100)]).collect())
    want = sorted(r["k"] for r in t.read().filter(F.col("v") < 100).collect())
    assert got == want and got
    assert t.read().count() == 400
    # merge after cluster: bucket membership unchanged, LWW intact
    t.merge(_chset(spark, [(0, 5000, "z", "U")], 2))
    assert t.read().filter("k = 0").collect()[0]["v"] == 5000
    with pytest.raises(ValueError, match="at least one sort column"):
        t.cluster([])


def test_stats_absent_disables_pruning_not_results(spark, tmp_path):
    """Entries without stats (old snapshots / remote writers) are always
    read: strip stats from the manifest, scan still answers correctly and
    the report keeps every file."""
    t = IceliteTable.create(spark, str(tmp_path / "t3"), SCHEMA, key=["k"],
                            n_buckets=2)
    t.merge(_chset(spark, [(1, 10, "a", "U"), (2, 20, "b", "U")], 1))
    vpath = tmp_path / "t3" / "meta" / "v1.json"
    snap = json.loads(vpath.read_text())
    for fs in snap["buckets"].values():
        for fe in fs:
            fe.pop("stats", None)
    vpath.write_text(json.dumps(snap))
    rep = t.scan_report([("v", "=", 10)])
    assert rep["files_kept"] == rep["files_total"]
    assert [r["k"] for r in t.scan([("v", "=", 10)]).collect()] == [1]


def test_zorder_cluster_prunes_both_dimensions(spark, tmp_path):
    """Lexical sort gives tight file ranges only on the LEADING column;
    Morton interleave (zorder=True) gives usable ranges on every sort
    column — a y-range scan that lexical clustering cannot prune at all
    opens a fraction of the z-ordered files. Results stay identical."""
    # string-column guard target (zorder refuses non-numeric dims)
    t = IceliteTable.create(spark, str(tmp_path / "tz"), SCHEMA, key=["k"],
                            n_buckets=1)
    t.merge(_chset(spark, [(1, 10, "a", "U"), (2, 20, "b", "U")], 1))
    # 64x64 grid with two independent numeric dims x = k//64, y = k%64
    schema2 = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
    ])
    t2 = IceliteTable.create(spark, str(tmp_path / "tz2"), schema2,
                             key=["k"], n_buckets=1)
    df = spark.createDataFrame(
        [(k, k // 64, k % 64, "U") for k in range(4096)],
        "k long, x long, y long, op string")
    t2.merge(df.select("k", "x", "y", "op", F.lit(1).alias("commit_seq"),
                       F.col("k").alias("event_seq")))

    t2.cluster(["x", "y"], max_rows_per_file=256)          # lexical
    lex_x = t2.scan_report([("x", "<", 8)])
    lex_y = t2.scan_report([("y", "<", 8)])
    assert lex_x["files_kept"] <= lex_x["files_total"] // 4
    assert lex_y["files_kept"] == lex_y["files_total"]     # y: no help

    sid = t2.cluster(["x", "y"], max_rows_per_file=256, zorder=True)
    assert t2.snapshot()["zordered"] is True
    z_x = t2.scan_report([("x", "<", 8)])
    z_y = t2.scan_report([("y", "<", 8)])
    assert z_x["files_kept"] <= z_x["files_total"] // 2    # x still prunes
    assert z_y["files_kept"] <= z_y["files_total"] // 2    # y NOW prunes
    got = sorted(r["k"] for r in t2.scan([("y", "<", 8)]).collect())
    want = sorted(r["k"] for r in t2.read().filter(F.col("y") < 8).collect())
    assert got == want and len(got) == 512
    assert t2.read().count() == 4096
    # guards
    with pytest.raises(ValueError, match="zorder needs"):
        t2.cluster(["x"], zorder=True)
    with pytest.raises(ValueError, match="numeric"):
        t.cluster(["v", "s"], zorder=True)


def test_batch_lookup_in_prunes_to_bucket_union(tbl):
    """key IN (...) plans to the union of the candidates' hash buckets;
    non-key IN prunes by stats; contradictory pins prove emptiness."""
    keys = [5, 37, 123]
    rep = tbl.scan_report([("k", "in", keys)])
    assert rep["key_buckets"] and len(rep["key_buckets"]) <= 3
    assert rep["buckets_kept"] <= 3
    got = sorted(r["k"] for r in tbl.scan([("k", "in", keys)]).collect())
    assert got == keys
    rep2 = tbl.scan_report([("s", "in", ["s3", "s5"])])
    assert rep2["buckets_kept"] == 2 and "key_buckets" not in rep2
    assert tbl.scan([("s", "in", ["s3", "s5"])]).count() == \
        tbl.read().filter(F.col("s").isin(["s3", "s5"])).count()
    # conjunction of contradictory key pins: provably empty, no files read
    rep3 = tbl.scan_report([("k", "=", 5), ("k", "=", 6)])
    assert rep3["key_buckets"] == [] and rep3["buckets_kept"] == 0
    assert tbl.scan([("k", "=", 5), ("k", "=", 6)]).count() == 0
    with pytest.raises(ValueError, match="'in' filter"):
        tbl.scan([("k", "in", 5)])


def test_decimal_column_merges_reads_and_scans(spark, tmp_path):
    """Spark stores decimal(10,2) as INT64, whose footer stats pyarrow
    cannot decode: the column is recorded stats-less (no pruning on it)
    instead of failing the merge after its files are written."""
    from decimal import Decimal

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("d", T.DecimalType(10, 2))])
    t = IceliteTable.create(spark, str(tmp_path / "t"), schema, key=["k"], n_buckets=4)
    rows = [(k, Decimal(k) / 4, "U") for k in range(40)]
    ch = spark.createDataFrame(rows, "k long, d decimal(10,2), op string")
    t.merge(ch.select("k", "d", "op", F.lit(1).alias("commit_seq"),
                      F.col("k").alias("event_seq")))
    entries = [fe for fs in t.snapshot()["buckets"].values() for fe in fs]
    assert entries and all("d" not in fe["stats"].get("mins", {}) for fe in entries)
    assert all("k" in fe["stats"]["mins"] for fe in entries)
    assert sorted((r["k"], r["d"]) for r in t.read().collect()) == \
        [(k, Decimal(k) / 4) for k in range(40)]
    got = t.scan([("d", ">=", Decimal("9.00"))]).collect()
    assert sorted(r["k"] for r in got) == list(range(36, 40))
    assert [r["d"] for r in t.scan([("k", "=", 7)]).collect()] == [Decimal("1.75")]
