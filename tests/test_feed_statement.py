"""The MOR read and the change feed are each built as one Spark SQL
statement: the executed ``changes`` plan moves its rows through one
shuffle and one sort with no join, a MOR ``read`` through one shuffle;
building ``read``, a point ``scan`` and ``changes`` costs a bounded,
small number of driver round trips; the feed equals an independent diff
of the two snapshots' reads over a MOR history with every kind of commit;
quoted identifiers survive every path; and a view refresh fed by the
outbox runs no schema-inference job."""

import itertools
import re

import pytest
from py4j import protocol as proto
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.plans.ivm import MaterializedView, grouped_agg
from nifi_processors_spark.plans.outbox import ChangeOutbox
from nifi_processors_spark.plans.table import IceliteTable

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("n", T.LongType()),
])


def _chset(spark, rows, commit_seq, ddl="k long, v string, n long"):
    """rows: (k, value..., op); event_seq is the key."""
    df = spark.createDataFrame(rows, f"{ddl}, op string")
    return df.select("*", F.lit(commit_seq).cast("long").alias("commit_seq"),
                     F.col("k").alias("event_seq"))


def _range_chset(spark, lo, hi, seq, op="U", v="v"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit(f"s{seq}-"), F.col("id").cast("string")).alias(v),
        (F.col("id") * seq).alias("n"),
        F.lit(op).alias("op"), F.lit(seq).cast("long").alias("commit_seq"),
        F.col("id").alias("event_seq"))


@pytest.fixture(scope="module")
def two_versions(spark, tmp_path_factory):
    """A MOR table whose base and delta files span two schema versions:
    a CoW bootstrap, a delta, a rename + add, then an update and a delete
    delta under the new names."""
    t = IceliteTable.create(spark, str(tmp_path_factory.mktemp("fs") / "t"),
                            SCHEMA, key=["k"], n_buckets=8)
    t.merge(_range_chset(spark, 0, 600, 1))
    s1, _ = t.merge_mor(_range_chset(spark, 0, 100, 2))
    t.alter({"v": "val"}, [("x", T.StringType())])
    t.merge_mor(_range_chset(spark, 50, 200, 3, v="val").withColumn("x", F.lit("x")))
    t.merge_mor(_range_chset(spark, 180, 220, 4, op="D", v="val").withColumn("x", F.lit("x")))
    return t, s1


def _final_plan(df) -> str:
    """The final adaptive plan, after execution."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _shape(plan: str) -> tuple[int, int, bool]:
    exchanges = len(re.findall(r"(?<![A-Za-z])Exchange ", plan))
    sorts = len(re.findall(r"(?<![A-Za-z])Sort \[", plan))
    return exchanges, sorts, "Join" in plan


def test_feed_and_mor_read_plan_shape(two_versions):
    t, s1 = two_versions
    cur = t.current_snapshot_id()
    for a, b in ((s1, cur), (cur, s1)):
        plan = _final_plan(t.changes(a, b))
        assert _shape(plan) == (1, 1, False), plan
    plan = _final_plan(t.read())
    assert _shape(plan)[0] == 1, plan


def _round_trips(spark, build) -> int:
    """py4j commands sent while ``build`` constructs a DataFrame, not
    counting the release of JVM handles Python dropped (their timing
    follows the garbage collector, not the plan being built)."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        sent[0] += not command.startswith(proto.MEMORY_COMMAND_NAME)
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = real
    return sent[0]


def test_plan_build_round_trip_budget(spark, two_versions):
    """Chains of DataFrame calls cost one or more round trips per call:
    ≈770 for this read, ≈850 for the point scan and ≈2000-3300 for the
    feed before each became one statement."""
    t, s1 = two_versions
    cur = t.current_snapshot_id()
    counts = [_round_trips(spark, lambda: t.read()) for _ in range(2)]
    assert counts[0] == counts[1] <= 80, counts
    assert _round_trips(spark, lambda: t.scan([("k", "=", 150)])) <= 80
    assert _round_trips(spark, lambda: t.changes(s1, cur)) <= 150
    assert _round_trips(spark, lambda: t.changes(cur, s1)) <= 150


def test_empty_selection_reads_the_same_columns(spark, tmp_path):
    """A read that selects no file (an empty table, a lookup whose key
    bucket holds none) has the columns of one that does: the tombstone
    flag only with ``include_deleted``."""
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"], n_buckets=4)
    want = ["k", "v", "n", "_commit_seq", "_event_seq", "_delta_seq"]
    assert t.read().columns == want
    assert t.read(include_deleted=True).columns == [*want, "_deleted"]
    t.merge(_chset(spark, [(1, "a", 1, "U")], 1))
    missing = t.scan_report([("k", "=", 99)])
    assert missing["files_kept"] == 0 and missing["files_total"] == 1
    assert t.scan([("k", "=", 99)]).columns == t.scan([("k", "=", 1)]).columns == want


# ---------------- feed equivalence over a MOR history ----------------


def _state(t, sid):
    """{key: {name: value}} of ``read(sid)`` and the snapshot's field ids."""
    snap = t.snapshot(sid)
    fields = snap["schemas"][str(snap["schema_version"])]
    rows = {r["k"]: r.asDict() for r in t.read(sid).collect()}
    return rows, {f["id"]: f["name"] for f in fields}


def _diff(a, b, states):
    """The feed from ``a`` to ``b`` derived from the two reads alone."""
    (old, old_ids), (new, new_ids) = states[a], states[b]
    names = list(new_ids.values())
    rename = {new_ids[i]: old_ids.get(i) for i in new_ids}
    out = []
    for k in old.keys() | new.keys():
        o = (None if k not in old
             else tuple(old[k][rename[c]] if rename[c] else None for c in names))
        n = None if k not in new else tuple(new[k][c] for c in names)
        if o is None:
            out.append(n + ("insert",))
        elif n is None:
            out.append(o + ("delete",))
        elif o != n:
            out += [o + ("update_preimage",), n + ("update_postimage",)]
    return sorted(out, key=repr)


V2 = "k long, val string, n long, x string"


def test_feed_equals_snapshot_diff_for_every_pair(spark, tmp_path):
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"], n_buckets=4)
    t.merge_mor(_chset(spark, [(k, f"a{k}", k, "U") for k in range(24)], 1))
    # updates, deletes, and a replayed identical row (a new version, no change)
    t.merge_mor(_chset(spark, [(k, f"b{k}", k, "U") for k in range(4)]
                       + [(k, None, None, "D") for k in range(4, 8)]
                       + [(20, "a20", 20, "U")], 2))
    # a late event older than the stored row loses; a tombstone re-insert wins
    t.merge_mor(_chset(spark, [(9, "late", -1, "U")], 0)
                .union(_chset(spark, [(5, "back", 5, "U")], 3)))
    t.alter({"v": "val"}, [("x", T.StringType())])
    t.merge_mor(_chset(spark, [(1, "c1", 1, "new", "U"), (30, "c30", 30, None, "U")],
                       4, ddl=V2))
    t.compact()
    t.merge_mor(_chset(spark, [(2, None, None, None, "D"), (31, "d31", 31, "y", "U")],
                       5, ddl=V2))
    t.rebucket(8)
    t.merge_mor(_chset(spark, [(31, "e31", 31, "z", "U"), (3, "e3", 3, None, "U")],
                       6, ddl=V2))
    sids = list(range(t.current_snapshot_id() + 1))
    states = {s: _state(t, s) for s in sids}
    for a, b in itertools.product(sids, sids):
        feed = t.changes(a, b)
        fields = t.schema(t.snapshot(b)).fields
        assert [(f.name, f.dataType, f.nullable) for f in feed.schema.fields] == [
            (f.name, f.dataType, True) for f in fields
        ] + [("_change_type", T.StringType(), False)], (a, b)
        got = sorted((tuple(r) for r in feed.collect()), key=repr)
        assert got == _diff(a, b, states), (a, b)


NAMES = ["order", "MixedCase", "has space", "br{ace}"]


def test_quoted_identifiers_on_every_path(spark, tmp_path):
    """A reserved word, a mixed-case name, a space and braces (the
    statement formatter's placeholders) as column names."""
    schema = T.StructType([T.StructField("k", T.LongType())]
                          + [T.StructField(c, T.StringType()) for c in NAMES])
    t = IceliteTable.create(spark, str(tmp_path / "t"), schema, key=["k"], n_buckets=4)

    def chset(seq, keys):
        return spark.range(0, keys).select(
            F.col("id").alias("k"),
            *[F.concat(F.lit(f"{c}-{seq}-"), F.col("id").cast("string")).alias(c)
              for c in NAMES],
            F.lit("U").alias("op"), F.lit(seq).cast("long").alias("commit_seq"),
            F.col("id").alias("event_seq"))

    s1, _ = t.merge_mor(chset(1, 20))
    s2, _ = t.merge_mor(chset(2, 5))
    assert t.read().columns[:5] == ["k", *NAMES]
    assert t.read().count() == 20
    for c in NAMES:
        assert [r["k"] for r in t.scan([(c, "=", f"{c}-2-3")]).collect()] == [3]
    got = t.scan([("k", "in", [3, 12])]).select(*[F.col(f"`{c}`") for c in NAMES])
    assert sorted(tuple(r) for r in got.collect()) == [
        tuple(f"{c}-1-12" for c in NAMES), tuple(f"{c}-2-3" for c in NAMES)]
    feed = t.changes(s1, s2)
    assert feed.columns == ["k", *NAMES, "_change_type"]
    assert sorted((r["k"], r["_change_type"]) for r in feed.collect()) == sorted(
        (k, ct) for k in range(5) for ct in ("update_preimage", "update_postimage"))
    before = sorted(tuple(r) for r in t.read().collect())
    t.compact()
    assert t.delta_file_count() == 0
    assert sorted(tuple(r) for r in t.read().collect()) == before


# ---------------- view refresh without schema inference ----------------


def _sql_job_ids(spark) -> set[int]:
    """Ids of every job that ran under a SQL execution."""
    ids = set()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        jobs = it.next().jobs().keys().iterator()
        while jobs.hasNext():
            ids.add(jobs.next())
    return ids


def test_outbox_fed_refresh_infers_no_schema(spark, tmp_path):
    """A parquet read without a schema runs an inference job outside any
    SQL execution; the delta refresh knows both schemas (the segment's
    from the publish record, the previous generation's from its
    pointer), so each of its jobs belongs to a SQL execution."""
    sc = spark.sparkContext
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("g", T.StringType()),
                           T.StructField("x", T.LongType())])
    t = IceliteTable.create(spark, str(tmp_path / "t"), schema, key=["k"], n_buckets=4)
    ob = ChangeOutbox(spark, str(tmp_path / "ob"))
    mv = MaterializedView(spark, str(tmp_path / "mv"), ["g"], ["x"])

    def chset(rows, seq):
        return _chset(spark, rows, seq, ddl="k long, g string, x long")

    t.merge_mor(chset([(k, f"g{k % 3}", k, "U") for k in range(12)], 1))
    mv.refresh(t, ob.publish(t))
    t.merge_mor(chset([(1, "g9", 10, "U"), (2, None, None, "D"), (40, "g0", 4, "U")], 2))
    feed = ob.publish(t)
    group = "refresh-jobs"
    sc.setJobGroup(group, "outbox-fed view refresh")
    try:
        rec = mv.refresh(t, feed)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert (rec["mode"], rec["feed"]) == ("delta", "outbox")
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs and jobs <= _sql_job_ids(spark)
    cols = ["g", "n_rows", "sum_x"]
    assert sorted(tuple(r) for r in mv.read().select(cols).collect()) == sorted(
        tuple(r) for r in grouped_agg(t.read(), ["g"], ["x"]).select(cols).collect())
