"""The apply loop parses each payload exactly once per executed plan: the
merge plans (first merge and the drift re-merge) of ``apply_batch_df``
hold one ``try_parse_json`` in batch mode (drift aggregates observed) and
streaming mode (drift aggregates as a separate job), in both merge modes —
and both modes set aside the same rows, byte for byte."""

import contextlib
import glob
import io

import pytest
from pyspark.sql import functions as F

from nifi_processors_spark.operators.apply import ChangeApplier
from nifi_processors_spark.plans.table import IceliteTable

SCHEMA = ("repo string, path string, op string, commit string, "
          "commit_seq long, event_seq long, payload_json string")
PARSE = "VariantExpressionEvalUtils.parseJson"

BOOT = [
    ("r1", "a.py", "I", "c1", 1, 0, '{"lang":"py","content":"A"}'),
    ("r1", "b.py", "I", "c1", 1, 1, '{"lang":"go","content":"B"}'),
    ("r2", "c.py", "I", "c1", 1, 2, '{"lang":"rs","content":"C"}'),
]
# v2 payloads (rename lang -> language, add size_bytes) beside malformed,
# non-object, null-key, null-op, null-key-and-malformed and delete rows
MIXED = [
    ("r1", "a.py", "U", "c2", 2, 0, '{"language":"py","content":"A2","size_bytes":3}'),
    ("r3", "d.py", "I", "c2", 2, 1, '{"language":"js","content":"D","size_bytes":9}'),
    ("r1", "b.py", "U", "c2", 2, 2, '{"lang":"go","content":'),
    ("r4", "e.py", "I", "c2", 2, 3, "[1, 2]"),
    (None, "f.py", "I", "c2", 2, 4, '{"language":"py","content":"F"}'),
    ("r4", "g.py", None, "c2", 2, 5, '{"language":"py","content":"G"}'),
    ("r4", None, "U", "c2", 2, 6, "nope"),
    ("r2", "c.py", "D", "c2", 2, 7, None),
]


def _batch(spark, rows, epoch):
    return spark.createDataFrame(rows, SCHEMA).withColumn("epoch", F.lit(epoch).cast("long"))


def _apply(spark, root, mode, observe, monkeypatch):
    """Apply BOOT then MIXED; return (plans written by the MIXED merges,
    metrics record, quarantine file bytes, state)."""
    ap = ChangeApplier(spark, f"{root}/t", f"{root}/cl", f"{root}/s", n_buckets=4,
                       merge_mode=mode)
    ap.apply_batch_df(_batch(spark, BOOT, 0), 0, observe_metrics=observe)
    plans = []
    real = IceliteTable._write_buckets

    def spy(self, df, *args, **kwargs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        plans.append(buf.getvalue())
        return real(self, df, *args, **kwargs)

    monkeypatch.setattr(IceliteTable, "_write_buckets", spy)
    rec = ap.apply_batch_df(_batch(spark, MIXED, 1), 1, observe_metrics=observe)
    monkeypatch.undo()
    quarantine = []
    for p in sorted(glob.glob(f"{root}/s/quarantine/epoch=1/*.parquet")):
        with open(p, "rb") as f:
            quarantine.append(f.read())
    state = sorted(tuple(r.asDict().items()) for r in ap.state().collect())
    return plans, rec, quarantine, state


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_one_parse_per_merge_plan(spark, tmp_path, mode, monkeypatch):
    out = {}
    for observe in (True, False):
        plans, rec, quarantine, state = _apply(
            spark, tmp_path / str(observe), mode, observe, monkeypatch)
        # first merge + the drift re-merge, each parsing every payload once
        assert len(plans) == 2, plans
        for plan in plans:
            assert plan.count(PARSE) == 1, plan
        out[observe] = rec, quarantine, state

    (rec_b, q_b, state_b), (rec_s, q_s, state_s) = out[True], out[False]
    assert rec_b["rows_in"] == 8 and rec_b["rows_corrupt"] == 5
    assert rec_b["rows_upserted"] == 2 and rec_b["rows_deleted"] == 1
    assert rec_b["schema_version"] == 2
    # batch and streaming paths record, quarantine and merge the same
    assert {k: v for k, v in rec_b.items() if k != "wall_ms"} == \
        {k: v for k, v in rec_s.items() if k != "wall_ms"}
    assert q_b and q_b == q_s
    assert state_b == state_s
    assert {(r["repo"], r["path"], r["content"]) for r in map(dict, state_b)} == {
        ("r1", "a.py", "A2"), ("r1", "b.py", "B"), ("r3", "d.py", "D")}

    # the quarantine holds the bad-key and malformed rows as read
    q = spark.read.parquet(str(tmp_path / "True" / "s" / "quarantine" / "epoch=1"))
    assert q.columns == ["repo", "path", "op", "commit", "commit_seq", "event_seq",
                         "payload_json"]
    assert sorted(r["event_seq"] for r in q.collect()) == [2, 3, 4, 5, 6]
