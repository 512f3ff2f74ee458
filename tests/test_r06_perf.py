"""Round-6 performance-optimization internals (OPTIMIZATION_r06.md):

  * bucket-scoped compaction fuses the LWW resolve and the clustered
    write into ONE exchange (previously two full exchanges of the table
    on the same bucket value) while producing byte-identical state;
  * parse_envelope parses each payload to a VARIANT exactly once and
    derives typed fields / the corrupt flag from that single parse —
    pinned semantics: corrupt == "non-null payload that is not a
    parseable JSON object" (same predicate as quarantine/stats), typed
    extraction follows try_variant_get cast rules per field.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.operators.envelope import parse_envelope
from nifi_processors_spark.plans.table import IceliteTable

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.LongType()),
])


def _chset(spark, rows, seq):
    df = spark.createDataFrame(rows, "k long, v long, op string")
    return df.select("k", "v", "op", F.lit(seq).alias("commit_seq"),
                     F.col("k").alias("event_seq"))


@pytest.fixture()
def mor_tbl(spark, tmp_path):
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"],
                            n_buckets=4)
    t.merge(_chset(spark, [(k, k * 10, "U") for k in range(20)], 1))
    t.merge_mor(_chset(spark, [(k, k * 100, "U") for k in range(0, 20, 2)], 2))
    t.merge_mor(_chset(spark, [(5, None, "D")], 3))
    return t


def test_compact_single_exchange_and_identical_state(spark, mor_tbl, monkeypatch):
    """The fused compaction moves the table through exactly ONE exchange
    (resolve + bucket-clustered write share it) and the compacted state
    equals the pre-compaction resolved read."""
    before = {(r["k"],): r["v"] for r in mor_tbl.read().collect()}
    # plan-shape evidence: explain the DataFrame compact() itself hands to
    # the bucket writer, so a change to compact's plan shows here
    import contextlib
    import io

    plans = []
    write_buckets = mor_tbl._write_buckets

    def spy(df, *args, **kwargs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        plans.append(buf.getvalue())
        return write_buckets(df, *args, **kwargs)

    monkeypatch.setattr(mor_tbl, "_write_buckets", spy)
    mor_tbl.compact(min_deltas=1)
    (plan,) = plans
    n_exchange = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_exchange == 1, plan

    assert mor_tbl.delta_file_count() == 0
    after = {(r["k"],): r["v"] for r in mor_tbl.read().collect()}
    assert after == before
    assert (5,) not in after  # delete winner stayed deleted through compact


def test_parse_envelope_single_variant_semantics(spark):
    """Pinned r06 envelope semantics: one staged variant parse; corrupt
    means 'not a parseable JSON object'; typed fields follow
    try_variant_get casts (scalars coerce to string; an unconvertible
    field nulls out without rejecting the row)."""
    cases = [
        (0, '{"lang":"py","content":"A","size_bytes":5}'),
        (1, '{"lang":5,"content":"B"}'),          # number into string field
        (2, '{"lang":{"x":1},"content":"C"}'),    # object into string field
        (3, '{"size_bytes":"abc","content":"D"}'),  # bad long: field nulls
        (4, "not json at all"),                   # malformed -> corrupt
        (5, "[1,2,3]"),                           # non-object -> corrupt
        (6, None),                                # delete payload: clean
    ]
    df = spark.createDataFrame(cases, "event_seq long, payload_json string")
    schema = T.StructType([
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
    ])
    out = {r["event_seq"]: r for r in parse_envelope(df, schema).collect()}
    assert not out[0]["_corrupt"] and out[0]["lang"] == "py" and out[0]["size_bytes"] == 5
    assert not out[1]["_corrupt"] and out[1]["lang"] == "5"
    assert not out[2]["_corrupt"] and out[2]["lang"] == '{"x":1}'
    assert not out[3]["_corrupt"] and out[3]["size_bytes"] is None and out[3]["content"] == "D"
    assert out[4]["_corrupt"] and out[5]["_corrupt"]
    assert not out[6]["_corrupt"] and out[6]["lang"] is None
    # exactly ONE JSON parse in the plan: the staged try_parse_json
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        parse_envelope(df, schema).explain("formatted")
    plan = buf.getvalue()
    # try_parse_json compiles to static_invoke(VariantExpressionEvalUtils.
    # parseJson(...)); it must appear ONCE (the staged _pv projection) and
    # every typed field must be a variant_get off the staged attribute
    assert plan.count("VariantExpressionEvalUtils.parseJson") == 1, plan
    assert plan.count("try_variant_get(_pv#") == 3, plan
    assert "from_json" not in plan, plan
