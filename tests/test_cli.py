"""spark-submit CLI entry point (generate -> apply -> state)."""

import json

from nifi_processors_spark import cli


def test_cli_roundtrip(spark, tmp_path, capsys):
    cl = str(tmp_path / "cl")
    assert cli.main(["generate", "--out", cl, "--events", "2000", "--epochs", "2"]) == 0
    assert cli.main([
        "apply", "--table", str(tmp_path / "t"), "--changelog", cl,
        "--state", str(tmp_path / "s"), "--buckets", "4",
    ]) == 0
    assert cli.main([
        "state", "--table", str(tmp_path / "t"), "--changelog", cl,
        "--state", str(tmp_path / "s"),
    ]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    gen = json.loads(out[0])
    assert gen["events"] == 2000
    epochs = [json.loads(x) for x in out[1:3]]
    assert [e["epoch"] for e in epochs] == [0, 1]
    state = json.loads(out[3])
    assert state["rows"] > 0 and "repo" in state["schema"]
    # the table's schema history is the only record of the payload schema
    assert not (tmp_path / "s" / "schema_registry.json").exists()


def test_cli_changes(spark, tmp_path, capsys):
    """`changes` subcommand: feed counts between two snapshots, with and
    without a parquet --out destination."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nifi_processors_spark.plans.table import IceliteTable

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = IceliteTable.create(spark, str(tmp_path / "t"), schema, key=["k"], n_buckets=4)

    def chset(rows, seq):
        df = spark.createDataFrame(rows, "k long, v string, op string")
        return df.select("k", "v", "op", F.lit(seq).alias("commit_seq"),
                         F.col("k").alias("event_seq"))

    s1, _ = t.merge(chset([(1, "a", "U"), (2, "b", "U")], 1))
    s2, _ = t.merge(chset([(2, "B", "U"), (1, "a", "D"), (3, "c", "U")], 2))
    capsys.readouterr()
    assert cli.main(["changes", "--table", str(tmp_path / "t"),
                     "--from-snapshot", str(s1)]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["to_snapshot"] == s2 and rec["written"] is None
    assert rec["change_counts"] == {
        "update_preimage": 1, "update_postimage": 1, "delete": 1, "insert": 1}

    out = str(tmp_path / "feed")
    assert cli.main(["changes", "--table", str(tmp_path / "t"),
                     "--from-snapshot", str(s1), "--to-snapshot", str(s2),
                     "--out", out]) == 0
    rec2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec2["written"] == out and rec2["change_counts"] == rec["change_counts"]
    assert spark.read.parquet(out).count() == 4


def test_cli_maintain(spark, tmp_path, capsys):
    """Ad-hoc maintenance pass: tombstone expiry + snapshot expiry through
    the CLI; meta/ shrinks and the watermark is recorded."""
    import os

    from nifi_processors_spark.plans.table import IceliteTable

    cl = str(tmp_path / "cl")
    assert cli.main(["generate", "--out", cl, "--events", "2000", "--epochs", "4"]) == 0
    assert cli.main([
        "apply", "--table", str(tmp_path / "t"), "--changelog", cl,
        "--state", str(tmp_path / "s"), "--buckets", "4",
    ]) == 0
    n_meta_before = len(os.listdir(tmp_path / "t" / "meta"))
    capsys.readouterr()
    assert cli.main([
        "maintain", "--table", str(tmp_path / "t"), "--changelog", cl,
        "--state", str(tmp_path / "s"), "--keep-snapshots", "1",
        "--tombstone-watermark", "1",
    ]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["expired_snapshots"], "no snapshots expired"
    t = IceliteTable(spark, str(tmp_path / "t"))
    assert t.snapshot()["tombstone_watermark"] == 1
    assert len(os.listdir(tmp_path / "t" / "meta")) < n_meta_before + 1
    assert t.read().count() > 0


def test_cli_rollback_tag_publish(spark, tmp_path, capsys):
    """rollback / tag / publish subcommands over a real table."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nifi_processors_spark.plans.table import IceliteTable

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
    ])
    path = str(tmp_path / "t")
    t = IceliteTable.create(spark, path, schema, key=["k"], n_buckets=2)

    def chset(rows, seq):
        df = spark.createDataFrame(rows, "k long, v long, op string")
        return df.select("k", "v", "op", F.lit(seq).alias("commit_seq"),
                         F.col("k").alias("event_seq"))

    t.merge(chset([(1, 10, "U")], 1))
    t.merge(chset([(1, 99, "U")], 2))
    capsys.readouterr()
    assert cli.main(["tag", "--table", path, "--name", "good",
                     "--snapshot", "1"]) == 0
    assert cli.main(["rollback", "--table", path, "--to-snapshot", "1"]) == 0
    out = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert out[0]["refs"] == {"good": 1}
    assert out[1] == {"snapshot_id": 3, "restored": 1}
    assert [r["v"] for r in t.read().collect()] == [10]
    # WAP via CLI: stage in code, publish via CLI
    staged, _ = t.merge(chset([(2, 20, "U")], 3), publish=False)
    assert cli.main(["publish", "--table", path, "--snapshot", str(staged)]) == 0
    assert t.current_snapshot_id() == staged
    staged2, _ = t.merge(chset([(3, -1, "U")], 4), publish=False)
    assert cli.main(["publish", "--table", path, "--snapshot", str(staged2),
                     "--abort"]) == 0
    assert t.current_snapshot_id() == staged
    assert cli.main(["tag", "--table", path, "--name", "good", "--drop"]) == 0


def test_cli_apply_with_view(spark, tmp_path, capsys):
    """--view name=grp maintains a rollup across the applied epochs."""
    cl = str(tmp_path / "cl")
    assert cli.main(["generate", "--out", cl, "--events", "1500",
                     "--epochs", "2"]) == 0
    assert cli.main([
        "apply", "--table", str(tmp_path / "t"), "--changelog", cl,
        "--state", str(tmp_path / "s"), "--buckets", "4",
        "--view", "by_lang=lang",
    ]) == 0
    capsys.readouterr()
    from pyspark.sql import functions as F

    from nifi_processors_spark.operators.apply import ChangeApplier
    ap = ChangeApplier(spark, str(tmp_path / "t"), cl, str(tmp_path / "s"),
                       n_buckets=4, views={"by_lang": (["lang"], [])})
    got = {r["lang"]: r["n_rows"] for r in ap.view("by_lang").read().collect()}
    want = {r["lang"]: r["n"] for r in
            ap.state().groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == want and got
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        cli.main(["apply", "--table", str(tmp_path / "t"), "--changelog", cl,
                  "--state", str(tmp_path / "s"), "--view", "malformed"])


def test_cli_apply_with_outbox(spark, tmp_path, capsys):
    """--outbox publishes per-epoch CDC output segments under state/."""
    cl = str(tmp_path / "cl")
    assert cli.main(["generate", "--out", cl, "--events", "900",
                     "--epochs", "2"]) == 0
    assert cli.main([
        "apply", "--table", str(tmp_path / "t"), "--changelog", cl,
        "--state", str(tmp_path / "s"), "--buckets", "4", "--outbox",
    ]) == 0
    capsys.readouterr()
    from nifi_processors_spark.plans.outbox import ChangeOutbox
    ob = ChangeOutbox(spark, str(tmp_path / "s" / "outbox"))
    assert len(ob.segments()) == 2  # one per epoch, from birth
    assert ob.read().count() > 0
