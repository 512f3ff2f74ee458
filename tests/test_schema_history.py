"""The table's schema history is the schema registry: payload versions
and renames are derived from the icelite snapshot's field-id schemas, a
drift epoch writes one schema record (the ALTER snapshot), an
envelope-named payload key never becomes a second column, and a rollback
past an ALTER rolls the payload schema back with the table."""

import json
import os

import pyspark.sql.functions as F
import pytest

from nifi_processors_spark.operators.apply import ChangeApplier, _rename_resolver
from nifi_processors_spark.plans.registry import SchemaRegistry
from nifi_processors_spark.plans.table import IceliteTable
from nifi_processors_spark.sources.genlog import GenLogConfig, write_change_log

EVO_CFG = GenLogConfig(n_events=3000, n_epochs=4, evolve_at_epoch=2)
EVENT_SCHEMA = ("repo string, path string, op string, commit string, "
                "commit_seq long, event_seq long, payload_json string")
REGISTRY_FILE = "schema_registry.json"


@pytest.fixture(scope="module")
def evo_changelog(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("evo_changelog"))
    write_change_log(spark, EVO_CFG, d)
    return d


def make_applier(spark, changelog, root, name):
    return ChangeApplier(spark, str(root / f"{name}_table"), changelog,
                         str(root / f"{name}_state"), n_buckets=8)


def events(spark, rows, epoch):
    return spark.createDataFrame(rows, EVENT_SCHEMA).withColumn(
        "epoch", F.lit(epoch).cast("long"))


def lineage_ops(table: IceliteTable) -> list[str]:
    snap = table.snapshot()
    ops = []
    while snap is not None:
        ops.append(snap["lineage"]["op"])
        snap = table.snapshot(snap["parent"]) if snap["parent"] is not None else None
    return ops[::-1]


def full_rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_rename_chain_derives_from_field_ids(spark, tmp_path):
    """ALTER a->c, then b->a: the second version's ``a`` is b's field id,
    so the derived rename map is {a: c, b: a}, not a re-add of ``a``."""
    reg = SchemaRegistry(spark, str(tmp_path / "t"), n_buckets=2)
    assert reg.versions() == [] and reg.current() is None
    reg.register([("a", "string"), ("b", "string"), ("commit", "string"),
                  ("f", "boolean"), ("x", "double")])
    reg.commit_version({"a": "c"}, [], epoch=1)
    reg.commit_version({"b": "a"}, [("n", "long")], epoch=2)
    vs = reg.versions()
    assert [v["version"] for v in vs] == [1, 2, 3]
    assert [v["renames"] for v in vs] == [{}, {"a": "c"}, {"b": "a"}]
    assert [(f["name"], f["type"]) for f in vs[-1]["fields"]] == [
        ("c", "string"), ("a", "string"), ("f", "boolean"), ("x", "double"), ("n", "long")]
    assert _rename_resolver(vs) == {"a": "c", "b": "a"}
    # the payload of the latest version is the table minus the envelope
    assert reg.table.field_names() == ["repo", "path", "commit", "c", "a", "f", "x", "n"]


def test_envelope_named_payload_keys_keep_the_envelope(spark, tmp_path):
    """A payload key named ``repo``/``path``/``commit`` is neither a
    bootstrap column nor drift: the table has one ``commit`` column, it
    holds the envelope's value, and the second epoch commits no ALTER."""
    ap = ChangeApplier(spark, str(tmp_path / "t"), str(tmp_path / "cl"),
                       str(tmp_path / "s"), n_buckets=4)
    pay = '{{"lang":"py","content":"{0}","commit":"payload-c","repo":"payload-r"}}'
    ap.apply_batch_df(events(spark, [
        ("r1", "a.py", "I", "env-1", 1, 0, pay.format("A")),
        ("r2", "b.py", "I", "env-1", 1, 1, pay.format("B")),
    ], 0), epoch=0)
    ap.apply_batch_df(events(spark, [
        ("r1", "a.py", "U", "env-2", 2, 0, pay.format("A2")),
        ("r3", "c.py", "I", "env-2", 2, 1, pay.format("C")),
    ], 1), epoch=1)
    t = IceliteTable(spark, ap.table_path)
    assert t.field_names() == ["repo", "path", "commit", "content", "lang"]
    assert "alter" not in lineage_ops(t)
    assert t.snapshot()["schema_version"] == 1
    got = {(r["repo"], r["path"]): (r["commit"], r["content"]) for r in ap.state().collect()}
    assert got == {("r1", "a.py"): ("env-2", "A2"), ("r2", "b.py"): ("env-1", "B"),
                   ("r3", "c.py"): ("env-2", "C")}


def test_drift_run_keeps_no_registry_file(spark, evo_changelog, tmp_path):
    """A drift run records the schema only in the table: no registry file
    appears under the state dir, the derived history is v1 -> v2 with the
    rename, and a stale registry file left in the state dir is ignored."""
    ap = make_applier(spark, evo_changelog, tmp_path, "fresh")
    recs = ap.run()
    assert not os.path.exists(tmp_path / "fresh_state" / REGISTRY_FILE)
    vs = ap.registry.versions()
    assert [v["version"] for v in vs] == [1, 2]
    assert vs[1]["renames"] == {"lang": "language"}
    assert [r["schema_version"] for r in recs] == [1, 1, 2, 2]
    assert lineage_ops(ap._table()).count("alter") == 1

    stale_dir = tmp_path / "stale_state"
    stale_dir.mkdir()
    stale = {"versions": [{"version": 1, "from_epoch": 0, "renames": {},
                           "fields": [{"name": "bogus", "type": "long"}]}]}
    (stale_dir / REGISTRY_FILE).write_text(json.dumps(stale))
    stale_ap = make_applier(spark, evo_changelog, tmp_path, "stale")
    stale_ap.run()
    assert json.loads((stale_dir / REGISTRY_FILE).read_text()) == stale
    assert full_rows(stale_ap.state()) == full_rows(ap.state())


def test_apply_after_rollback_past_alter(spark, evo_changelog, tmp_path):
    """Roll the table back to before its ALTER: the payload schema rolls
    back with it, so the next v2 epoch is drift again — the ALTER is
    re-issued and the epoch's ``language`` / ``size_bytes`` land."""
    ap = make_applier(spark, evo_changelog, tmp_path, "rb")
    ap.run()
    t = ap._table()
    alter = next(s for s in range(t.current_snapshot_id() + 1)
                 if t.snapshot(s)["lineage"]["op"] == "alter")
    t.rollback(alter - 1)
    assert "lang" in t.field_names() and "language" not in t.field_names()

    keys = sorted((r["repo"], r["path"]) for r in t.read().limit(5).collect())
    top = spark.read.parquet(evo_changelog).agg(F.max("commit_seq")).first()[0]
    rows = [(repo, path, "U", "c-after", top + 1, i,
             json.dumps({"language": f"lang{i}", "content": f"body{i}", "size_bytes": 100 + i}))
            for i, (repo, path) in enumerate(keys)]
    rec = ap.apply_batch_df(events(spark, rows, 4), epoch=4)
    assert rec["schema_version"] == 2
    state = ap.state()
    assert "lang" not in state.columns
    got = {(r["repo"], r["path"]): (r["language"], r["size_bytes"], r["content"])
           for r in state.collect()}
    for i, k in enumerate(keys):
        assert got[k] == (f"lang{i}", 100 + i, f"body{i}"), k
    # every other key keeps its rolled-back value, renamed into language
    before = {(r["repo"], r["path"]): r["lang"] for r in t.read(snapshot_id=alter - 1).collect()}
    for k, lang in before.items():
        if k not in keys:
            assert got[k][0] == lang and got[k][1] is None, k
    # the schema history is the table's: v1, then the re-issued ALTER
    assert [v["renames"] for v in ap.registry.versions()] == [{}, {"lang": "language"}]

