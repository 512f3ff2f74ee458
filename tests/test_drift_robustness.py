"""Round-2 robustness: mid-epoch schema drift (every row is seen, not a
prefix sample), crash right after the ALTER, null-key
quarantine (no silent loss in the merge window), bucket-scoped compaction
(cold buckets keep their files), and checkpoint marker namespacing."""

import pyspark.sql.functions as F
import pytest

from nifi_processors_spark.operators.apply import ChangeApplier
from nifi_processors_spark.plans.checkpoint import CheckpointLog
from nifi_processors_spark.plans.registry import (
    fields_from_variant_schema,
    merge_field_sets,
)
from nifi_processors_spark.plans.table import IceliteTable
from nifi_processors_spark.sources.genlog import GenLogConfig, write_change_log

from .oracle import normalize_payload, replay, sha256

RENAMES = {"lang": "language"}

# v1 -> v2 switches at event 1500 = the middle of epoch 1 (1000 events per
# epoch x 3 epochs): epoch 1 carries BOTH payload versions
MID_CFG = GenLogConfig(n_events=3000, n_epochs=3, evolve_at_event=1500, n_keys=400)


def make_applier(spark, changelog, root, name, **kw):
    kw.setdefault("n_buckets", 8)
    return ChangeApplier(
        spark,
        table_path=str(root / f"{name}_table"),
        changelog_dir=changelog,
        state_dir=str(root / f"{name}_state"),
        **kw,
    )


def expected_state(spark, changelog):
    rows = [r.asDict() for r in spark.read.parquet(changelog).collect()]
    return {k: normalize_payload(v, RENAMES) for k, v in replay(rows).items()}


def full_rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


@pytest.fixture(scope="module")
def mid_changelog(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mid_changelog"))
    write_change_log(spark, MID_CFG, d)
    return d


def test_mid_epoch_drift_no_field_loss(spark, mid_changelog, tmp_path):
    """A v2 payload first appearing mid-epoch (after the old 50-row sample
    horizon) must still evolve the schema — its size_bytes values must
    survive, not silently null out. With a rename hint, the mixed epoch's
    lang/language values coalesce into the current column."""
    # sanity: epoch 1 really is mixed-version
    e1 = spark.read.parquet(f"{mid_changelog}/epoch=1").filter("payload_json is not null")
    n_v2 = e1.filter(F.col("payload_json").contains('"size_bytes"')).count()
    assert 0 < n_v2 < e1.count(), "fixture must mix v1 and v2 inside epoch 1"

    ap = make_applier(spark, mid_changelog, tmp_path, "mid",
                      rename_hints={"language": "lang"})
    ap.run()
    state = ap.state()
    assert "language" in state.columns and "size_bytes" in state.columns
    assert "lang" not in state.columns

    got = {(r["repo"], r["path"]): r.asDict() for r in state.collect()}
    want = expected_state(spark, mid_changelog)
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert sha256(w["content"]) == sha256(g["content"]), k
        assert g["language"] == w["language"], k
        if "size_bytes" in w:
            assert g["size_bytes"] == w["size_bytes"], k  # the field-loss bug
        else:
            assert g["size_bytes"] is None, k


def test_mid_epoch_drift_unhinted_adds_not_renames(spark, mid_changelog, tmp_path):
    """Without a hint, a mixed epoch must NOT guess a rename (both names
    carry live values) — both columns land, and neither loses data."""
    ap = make_applier(spark, mid_changelog, tmp_path, "midadd")
    ap.run()
    state = ap.state()
    assert {"lang", "language", "size_bytes"} <= set(state.columns)
    got = {(r["repo"], r["path"]): r.asDict() for r in state.collect()}
    rows = [r.asDict() for r in spark.read.parquet(mid_changelog).collect()]
    want = replay(rows)  # raw payload names, no normalization
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        if "lang" in w:  # key last written by a v1 event
            assert g["lang"] == w["lang"] and g["language"] is None, k
        else:  # v2 winner
            assert g["language"] == w["language"] and g["lang"] is None, k
            assert g["size_bytes"] == w["size_bytes"], k


def test_crash_after_alter_converges(spark, mid_changelog, tmp_path):
    """Crash right after the table ALTER, before the epoch's re-merge and
    marker: the ALTER snapshot is the epoch's only schema record, so the
    resumed run sees the evolved schema, commits no second ALTER, and
    converges to the uncrashed state."""
    ref = make_applier(spark, mid_changelog, tmp_path, "ref",
                       rename_hints={"language": "lang"})
    ref.run()
    want = full_rows(ref.state())

    class Boom(RuntimeError):
        pass

    crashed = make_applier(spark, mid_changelog, tmp_path, "crash",
                           rename_hints={"language": "lang"})

    def crash(point, epoch):
        if point == "after_alter":
            raise Boom()

    with pytest.raises(Boom):
        crashed.run(crash=crash)
    assert "language" in crashed._table().field_names()
    assert [v["version"] for v in crashed.registry.versions()] == [1, 2]

    crashed.run()  # resume without the hook
    vs = crashed.registry.versions()
    assert [v["version"] for v in vs] == [1, 2]
    assert vs[1]["renames"] == RENAMES
    assert full_rows(crashed.state()) == want


def test_null_key_events_quarantined_not_lost(spark, tmp_path):
    """Null-key envelope rows route to quarantine; valid rows still apply
    (eqNullSafe merge window + badkey filter)."""
    rows = [
        ("r1", "a.py", "I", "c1", 1, 0, '{"lang":"py","content":"A"}'),
        (None, "b.py", "I", "c1", 1, 1, '{"lang":"py","content":"B"}'),
        ("r1", None, "U", "c1", 1, 2, '{"lang":"py","content":"C"}'),
        ("r1", "a.py", None, "c1", 1, 3, '{"lang":"py","content":"D"}'),
        ("r2", "d.py", "I", "c1", 1, 4, '{"lang":"py","content":"E"}'),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, op string, commit string, "
        "commit_seq long, event_seq long, payload_json string"
    ).withColumn("epoch", F.lit(0).cast("long"))
    ap = ChangeApplier(
        spark,
        table_path=str(tmp_path / "t"),
        changelog_dir=str(tmp_path / "cl"),
        state_dir=str(tmp_path / "s"),
        n_buckets=4,
    )
    rec = ap.apply_batch_df(df, epoch=0)
    assert rec["rows_corrupt"] == 3
    state = {(r["repo"], r["path"]): r["content"] for r in ap.state().collect()}
    assert state == {("r1", "a.py"): "A", ("r2", "d.py"): "E"}
    q = spark.read.parquet(str(tmp_path / "s" / "quarantine" / "epoch=0"))
    assert q.count() == 3


def test_bucket_scoped_compaction_keeps_cold_files(spark, tmp_path):
    """MOR compaction with min_deltas rewrites only delta-carrying buckets;
    cold buckets keep their exact file paths."""
    cfg = GenLogConfig(n_events=2000, n_epochs=2, n_keys=300)
    cl = str(tmp_path / "cl")
    write_change_log(spark, cfg, cl)
    ap = make_applier(spark, cl, tmp_path, "mor", merge_mode="mor")
    ap.apply_epoch(0)
    t = IceliteTable(spark, ap.table_path)
    t.compact()  # full: fold epoch 0 into base
    before = {b: [fe["path"] for fe in files] for b, files in t.snapshot()["buckets"].items()}

    # a targeted epoch touching ONE key -> deltas land in one bucket
    one = spark.createDataFrame(
        [("solo/repo", "x.py", "I", "c9", 10_000, 0, '{"lang":"py","content":"solo"}')],
        "repo string, path string, op string, commit string, commit_seq long, "
        "event_seq long, payload_json string",
    ).withColumn("epoch", F.lit(1).cast("long"))
    ap.apply_batch_df(one, epoch=1)
    hot = t.delta_buckets(min_deltas=1)
    assert len(hot) == 1

    n_before = t.read().count()
    t.compact(min_deltas=1)
    after = {b: [fe["path"] for fe in files] for b, files in t.snapshot()["buckets"].items()}
    assert t.delta_file_count() == 0
    assert t.read().count() == n_before
    for b, paths in before.items():
        if int(b) not in hot:
            assert after[b] == paths, f"cold bucket {b} was rewritten"
    assert after[str(hot[0])] != before[str(hot[0])]


def test_merge_write_parallelism_scales_with_conf(spark, tmp_path):
    """The merge shuffle width scales with the cluster (one wave of tasks,
    capped at defaultParallelism — r06), not a literal 64: with more
    affected buckets than cores the width is exactly the core count, and
    with fewer it shrinks to the affected count."""
    cfg = GenLogConfig(n_events=4000, n_epochs=1, n_keys=2000)
    cl = str(tmp_path / "cl")
    write_change_log(spark, cfg, cl)
    ap = make_applier(spark, cl, tmp_path, "wide", n_buckets=128)
    ap.apply_epoch(0)
    t = IceliteTable(spark, ap.table_path)
    dp = spark.sparkContext.defaultParallelism
    assert t._merge_partitions(128) == min(128, dp)
    assert t._merge_partitions(4000) == dp  # one wave, never a literal 64
    assert t._merge_partitions(2) == 2  # small merges don't over-fan
    # the write still covers every affected bucket dir (partitionBy splits
    # per bucket regardless of task count): >64 buckets hold files
    snap = t.snapshot()
    assert sum(1 for files in snap["buckets"].values() if files) > 64


def test_marker_namespaces_do_not_collide(tmp_path):
    log = CheckpointLog(str(tmp_path / "ckpt"))
    log.commit(0, {"snapshot_id": 1})
    log.commit(1, {"snapshot_id": 2})
    assert not log.is_committed("stream_0")
    log.commit("stream_0", {"snapshot_id": 3})
    assert log.is_committed("stream_0") and log.is_committed(0)
    # batch pending-epoch discovery ignores the stream namespace
    assert log.committed_epochs() == [0, 1]
    assert log.pending([0, 1, 2]) == [2]
