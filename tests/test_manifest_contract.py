"""The manifest contract every icelite write path shares: whatever a
commit writes under ``data/snap{sid}`` is exactly what its manifest lists.

For each of merge, merge_mor, bucket-scoped compact, cluster, overwrite
and rebucket, on a small table whose rows sit in buckets 0-2 of 4:
  * every ``_bucket=*`` dir written under ``snap{sid}`` is in the manifest;
  * every manifest path exists and its ``bytes`` equal the file size;
  * each affected bucket lists exactly its new files (a merge-on-read
    append keeps the old ones in front), so one that came out empty is
    ``[]``; unaffected buckets keep their files;
  * ``parent`` is the previous ``snapshot_id``.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.plans.table import IceliteTable, bucket_expr

NB = 4
SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.LongType()),
])


def _keys_in(spark, buckets, n=200):
    ids = spark.range(n).withColumnRenamed("id", "k")
    return sorted(r["k"] for r in ids.filter(bucket_expr(["k"], NB).isin(buckets)).collect())


def _chset(spark, keys, seq, op="U"):
    df = spark.createDataFrame([(k, k * seq, op) for k in keys], "k long, v long, op string")
    return df.select("k", "v", "op", F.lit(seq).cast("long").alias("commit_seq"),
                     F.col("k").alias("event_seq"))


@pytest.fixture()
def tbl(spark, tmp_path):
    """Rows in buckets 0-2 only; bucket 3 is not in the manifest yet."""
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"], n_buckets=NB)
    t.merge(_chset(spark, _keys_in(spark, [0, 1, 2])[:30], 1))
    return t


def _mor_epoch(spark, t):
    t.merge_mor(_chset(spark, _keys_in(spark, [0, 1])[:6], 2))


def _cow_epoch(spark, t):
    # affected names bucket 3, which has no rows: it enters the manifest as []
    t.merge(_chset(spark, _keys_in(spark, [0])[:5], 2), affected=[0, 3])


def _overwrite(spark, t):
    # drops every row of bucket 2: its old files must leave the manifest
    t.overwrite(t.read(include_deleted=True).filter(bucket_expr(["k"], NB) != 2))


# name -> (preparatory commit, the write under test, affected buckets,
# whether the write appends to the affected buckets' files)
ALL4 = {str(b) for b in range(NB)}
CASES = {
    "merge": (None, _cow_epoch, {"0", "3"}, False),
    "merge_mor": (None, _mor_epoch, {"0", "1"}, True),
    "compact": (_mor_epoch, lambda spark, t: t.compact(buckets=[0, 3]), {"0", "3"}, False),
    "cluster": (_cow_epoch, lambda spark, t: t.cluster(["v"]), ALL4, False),
    "overwrite": (None, _overwrite, ALL4, False),
    # rows sit in buckets 0-2 mod 4, so buckets 3 and 7 mod 8 come out empty
    "rebucket": (None, lambda spark, t: t.rebucket(8), {str(b) for b in range(8)}, False),
}


@pytest.mark.parametrize("case", list(CASES))
def test_manifest_matches_written_files(spark, tbl, case):
    prep, write, affected, append = CASES[case]
    if prep:
        prep(spark, tbl)
    prev = tbl.snapshot()
    write(spark, tbl)
    snap = tbl.snapshot()
    assert snap["snapshot_id"] == prev["snapshot_id"] + 1
    assert snap["parent"] == prev["snapshot_id"]

    sdir = os.path.join(tbl.data_dir, f"snap{snap['snapshot_id']}")
    on_disk = {}
    for entry in os.listdir(sdir):
        if entry.startswith("_bucket="):
            d = os.path.join(sdir, entry)
            on_disk[entry.split("=", 1)[1]] = {
                os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")}

    listed = {fe["path"] for files in snap["buckets"].values() for fe in files}
    for b, paths in on_disk.items():
        assert b in affected and paths and paths <= listed, b
    for files in snap["buckets"].values():
        for fe in files:
            assert os.path.getsize(fe["path"]) == fe["bytes"], fe["path"]

    for b in affected:
        got = [fe["path"] for fe in snap["buckets"][b]]
        kept = [fe["path"] for fe in prev["buckets"].get(b, [])] if append else []
        assert got[:len(kept)] == kept, b
        assert set(got[len(kept):]) == on_disk.get(b, set()), b
    if not append:  # the case leaves at least one affected bucket without rows
        assert any(snap["buckets"][b] == [] for b in affected)
    for b, files in prev["buckets"].items():
        if b not in affected:
            assert snap["buckets"][b] == files, b
