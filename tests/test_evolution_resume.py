"""Crash-resume + mid-stream schema evolution (SURVEY.md §5.2 items 3-4,
BASELINE.json.north_star's named test cases)."""

import pyspark.sql.functions as F
import pytest

from nifi_processors_spark.operators.apply import ChangeApplier
from nifi_processors_spark.plans.registry import diff_schemas
from nifi_processors_spark.sources.genlog import GenLogConfig, write_change_log

from .oracle import normalize_payload, replay, sha256

EVO_CFG = GenLogConfig(n_events=3000, n_epochs=4, evolve_at_epoch=2)
RENAMES = {"lang": "language"}


@pytest.fixture(scope="module")
def evo_changelog(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("evo_changelog"))
    write_change_log(spark, EVO_CFG, d)
    return d


def make_applier(spark, changelog, root, name):
    return ChangeApplier(
        spark,
        table_path=str(root / f"{name}_table"),
        changelog_dir=changelog,
        state_dir=str(root / f"{name}_state"),
        n_buckets=8,
    )


def expected_state(spark, changelog):
    rows = [r.asDict() for r in spark.read.parquet(changelog).collect()]
    return {k: normalize_payload(v, RENAMES) for k, v in replay(rows).items()}


def fingerprint(df):
    rows = df.select("repo", "path", F.sha2("content", 256).alias("sha")).collect()
    return sorted((r["repo"], r["path"], r["sha"]) for r in rows)


def test_diff_schemas_rename_plus_add():
    old = [("lang", "string"), ("content", "string")]
    new = [("language", "string"), ("content", "string"), ("size_bytes", "long")]
    renames, adds = diff_schemas(old, new)
    assert renames == {"lang": "language"}
    assert adds == [("size_bytes", "long")]


def test_diff_schemas_ambiguous_falls_back_to_add():
    old = [("a", "string")]
    new = [("b", "string"), ("c", "string")]
    renames, adds = diff_schemas(old, new)
    assert renames == {}
    assert sorted(adds) == [("b", "string"), ("c", "string")]
    # an explicit hint resolves the ambiguity
    renames, adds = diff_schemas(old, new, rename_hints={"c": "a"})
    assert renames == {"a": "c"} and adds == [("b", "string")]


def test_mid_stream_schema_evolution(spark, evo_changelog, tmp_path):
    ap = make_applier(spark, evo_changelog, tmp_path, "evo")
    ap.run()
    state = ap.state()
    # evolved schema: lang renamed to language, size_bytes added
    assert "language" in state.columns and "size_bytes" in state.columns
    assert "lang" not in state.columns

    got = {(r["repo"], r["path"]): r.asDict() for r in state.collect()}
    want = expected_state(spark, evo_changelog)
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert sha256(w["content"]) == sha256(g["content"]), k
        assert g["language"] == w["language"], k
        # rows last written under v1 have null size_bytes (backfill);
        # v2 rows carry the real value
        if "size_bytes" in w:
            assert g["size_bytes"] == w["size_bytes"], k
        else:
            assert g["size_bytes"] is None, k
    # the table's schema history holds two payload versions
    vs = ap.registry.versions()
    assert [v["version"] for v in vs] == [1, 2]
    assert vs[1]["renames"] == {"lang": "language"}


class Boom(RuntimeError):
    pass


def test_crash_resume_identical_state(spark, evo_changelog, tmp_path):
    """Kill the loop after epoch 1's merge but before its marker; restart;
    final state must equal an uninterrupted run — including across the
    schema-evolution boundary."""
    ref = make_applier(spark, evo_changelog, tmp_path, "ref")
    ref.run()
    want = fingerprint(ref.state())

    crashed = make_applier(spark, evo_changelog, tmp_path, "crash")

    def crash(point, epoch):
        if point == "after_merge" and epoch == 1:
            raise Boom()

    with pytest.raises(Boom):
        crashed.run(crash=crash)
    # epoch 1 merged but unmarked -> still pending
    assert crashed.pending_epochs() == [1, 2, 3]
    crashed.run()
    assert fingerprint(crashed.state()) == want


def test_crash_before_merge_resume(spark, evo_changelog, tmp_path):
    """Crash before any merge of epoch 2 (simulated by just not running it),
    then resume -> identical to uninterrupted."""
    ref = make_applier(spark, evo_changelog, tmp_path, "ref2")
    ref.run()
    want = fingerprint(ref.state())

    part = make_applier(spark, evo_changelog, tmp_path, "part")
    for e in [0, 1]:
        part.apply_epoch(e)
    assert part.pending_epochs() == [2, 3]
    part.run()
    assert fingerprint(part.state()) == want
