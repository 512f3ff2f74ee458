"""Round-4 hardening: fresh-process maintenance watermark recovery and
staleness-guard replay corroboration (ADVICE/VERDICT r3). The fsio
load_json absence-vs-unreadable fix is covered in test_fsio.py."""

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from nifi_processors_spark.operators.apply import ChangeApplier
from nifi_processors_spark.plans.table import IceliteTable

EVENT_DDL = (
    "repo string, path string, op string, commit string, commit_seq long, "
    "event_seq long, epoch long, payload_json string"
)


def payload(k):
    return json.dumps({"lang": "py", "content": f"c{k}"}, separators=(",", ":"))


def make_changelog(spark, path, rows):
    spark.createDataFrame(rows, EVENT_DDL).write.partitionBy("epoch").parquet(path)


def test_fresh_process_maintain_expires_tombstones(spark, tmp_path):
    """VERDICT r3 #3: an ad-hoc maintain() on a FRESH process (no epoch
    applied in-memory) must recover the commit_seq high-water mark from
    the metrics log and actually expire, instead of silently returning {}."""
    rows = [
        ("a/r", "f1.py", "I", "0" * 40, 0, 0, 0, payload(1)),
        ("a/r", "f2.py", "I", "0" * 40, 0, 1, 0, payload(2)),
        ("a/r", "f2.py", "D", "1" * 40, 1, 0, 0, None),
        ("a/r", "f3.py", "I", "2" * 40, 5, 0, 0, payload(3)),
    ]
    make_changelog(spark, str(tmp_path / "cl"), rows)
    ap = ChangeApplier(spark, str(tmp_path / "t"), str(tmp_path / "cl"),
                       str(tmp_path / "s"), n_buckets=4, tombstone_lateness=1)
    ap.run()
    t = IceliteTable(spark, str(tmp_path / "t"))
    assert t.read(include_deleted=True).filter(F.col("_deleted")).count() == 1

    ap2 = ChangeApplier(spark, str(tmp_path / "t"), str(tmp_path / "cl"),
                        str(tmp_path / "s"), n_buckets=4, tombstone_lateness=1)
    assert ap2._max_commit_seq is None
    out = ap2.maintain(tombstones=True, snapshots=False)
    assert out["tombstone_watermark"] == 4  # max_commit_seq 5 - lateness 1
    assert t.snapshot()["tombstone_watermark"] == 4
    # the commit_seq-1 tombstone is below the watermark -> gone
    assert t.read(include_deleted=True).filter(F.col("_deleted")).count() == 0
    assert {r["path"] for r in ap2.state().collect()} == {"f1.py", "f3.py"}


def test_maintain_raises_without_any_watermark_source(spark, tmp_path):
    """With no in-memory high-water mark AND no metrics record carrying
    one (the metrics dir is lost), tombstone expiry must refuse loudly —
    the old code silently no-opped and returned {}."""
    rows = [("a/r", "f1.py", "I", "0" * 40, 0, 0, 0, payload(1))]
    make_changelog(spark, str(tmp_path / "cl"), rows)
    ap = ChangeApplier(spark, str(tmp_path / "t"), str(tmp_path / "cl"),
                       str(tmp_path / "s"), n_buckets=4)
    ap.run()
    shutil.rmtree(tmp_path / "s" / "metrics")
    ap2 = ChangeApplier(spark, str(tmp_path / "t"), str(tmp_path / "cl"),
                        str(tmp_path / "s"), n_buckets=4)
    with pytest.raises(RuntimeError, match="high-water mark"):
        ap2.maintain(tombstones=True, snapshots=False)
    # snapshots-only maintenance needs no watermark and still works
    out = ap2.maintain(tombstones=False, snapshots=True)
    assert "expired_snapshots" in out


def test_staleness_guard_requires_replay_evidence(spark, tmp_path):
    """ADVICE r3: an epoch wholly below the tombstone watermark is only
    skippable if it IS a marker-loss replay — corroborated by the metrics
    record written before the marker. Genuinely NEW all-late data (no
    record) must raise instead of being silently discarded; a true replay
    (record present) still self-heals."""
    rows = [
        ("a/r", "f1.py", "I", "0" * 40, 0, 0, 0, payload(1)),
        ("a/r", "f2.py", "I", "1" * 40, 3, 0, 0, payload(2)),
    ]
    cl = str(tmp_path / "cl")
    make_changelog(spark, cl, rows)
    ap = ChangeApplier(spark, str(tmp_path / "t"), cl, str(tmp_path / "s"),
                       n_buckets=4)
    ap.run()
    t = IceliteTable(spark, str(tmp_path / "t"))
    t.expire_tombstones(min_commit_seq=10)  # watermark above every commit

    # NEW epoch 1, wholly below the watermark, never applied before ->
    # no metrics record for key 1 -> loud refusal (was: silent skip)
    late = [("a/r", "f9.py", "I", "2" * 40, 4, 0, 1, payload(9))]
    spark.createDataFrame(late, EVENT_DDL).write.partitionBy("epoch").mode(
        "append").parquet(cl)
    with pytest.raises(RuntimeError, match="no prior metrics record"):
        ap.run()
    assert not ap.checkpoints.is_committed(1)

    # true marker-loss replay of epoch 0 (metrics record exists) still
    # skips + self-heals its marker, state unchanged
    shutil.rmtree(str(tmp_path / "cl" / "epoch=1"))
    before = sorted(
        (r["repo"], r["path"]) for r in ap.state().select("repo", "path").collect()
    )
    os.remove(str(tmp_path / "s" / "checkpoints" / "epoch_0.json"))
    recs = ap.run()
    assert len(recs) == 1 and recs[0]["skipped_stale"] is True
    assert ap.checkpoints.is_committed(0)
    after = sorted(
        (r["repo"], r["path"]) for r in ap.state().select("repo", "path").collect()
    )
    assert after == before
