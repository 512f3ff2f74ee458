"""Rule compiler, detail explode, actions, split, template — incl. the
reference's shipped demo scenario (geonames 100 rows, feature_code OR-rules,
Group 1.xml / allCountries_100.txt) run end-to-end the Spark way, and the
same path over a synthetic 19-column stand-in (tests/data) where the
reference is absent."""

import os

import pyspark.sql.functions as F
import pytest

from nifi_processors_spark.operators.rules import (
    OUTPUT_TYPES,
    apply_actions,
    evaluate,
    explode_details,
    route,
)
from nifi_processors_spark.operators.split import join_row, split_named, split_positional
from nifi_processors_spark.operators.template import render_json, render_template
from tests.conftest import REF_DATA, needs_reference

SYNTH_DATA = os.path.join(os.path.dirname(__file__), "data", "geonames_synth.tsv")

GEONAMES_FIELDS = [
    "geonameid", "name", "asciiname", "alternatenames", "latitude", "longitude",
    "feature_class", "feature_code", "country_code", "cc2", "admin1", "admin2",
    "admin3", "admin4", "population", "elevation", "dem", "timezone",
    "modification_date",
]

# the demo rule project: 1 group, 1 OR-subgroup, 4 CheckIsEqual on feature_code
DEMO_SPEC = {
    "groups": [
        {
            "id": "Group 1",
            "subgroups": [
                {
                    "id": "subgroup_1",
                    "rule_op": "or",
                    "inter_op": "and",
                    "rules": [
                        {"id": f"Feature Code {v}", "field": "feature_code", "op": "eq",
                         "value": v,
                         "message_failed": f"Field [feature_code] $1 incorrectly not is equal to $0",
                         "message_passed": f"Field [feature_code] $1 correctly is equal to $0"}
                        for v in ["GRVC", "GRVO", "GRVP", "GRVPN"]
                    ],
                }
            ],
        }
    ]
}


@pytest.fixture(scope="module")
def geonames(spark):
    """The reference's demo dataset, split like its flow does:
    GetFile -> SplitText -> (here) one row per DataFrame row, tab-separated."""
    raw = spark.read.text(REF_DATA)
    return split_named(raw, "value", "\t", GEONAMES_FIELDS)


@needs_reference
def test_split_named_geonames(geonames):
    assert geonames.columns == GEONAMES_FIELDS
    assert geonames.count() == 100
    row = geonames.first()
    assert row["geonameid"] and row["feature_code"]


def test_split_positional(spark):
    df = spark.createDataFrame([("a;b;;d",)], "content string")
    out = split_positional(df, "content", ";", 4, prefix="column_", width=3)
    r = out.first()
    assert out.columns == ["column_000", "column_001", "column_002", "column_003"]
    # divergence from the reference (documented): empty field kept, not skipped
    assert (r["column_000"], r["column_001"], r["column_002"], r["column_003"]) == (
        "a", "b", "", "d",
    )


def test_split_literal_separator_not_regex(spark):
    # the reference passes '|' to String.split => regex bug; we treat it literally
    df = spark.createDataFrame([("x|y|z",)], "content string")
    out = split_positional(df, "content", "|", 3)
    assert tuple(out.first()) == ("x", "y", "z")


@needs_reference
def test_demo_rules_route_counts(geonames):
    """Reference demo semantics: rows pass iff feature_code is one of the
    four GRV* codes (Group 1.xml OR-subgroup)."""
    ev = route(evaluate(geonames, DEMO_SPEC))
    agg = ev.groupBy("route").count().collect()
    got = {r["route"]: r["count"] for r in agg}
    expected_pass = geonames.filter(
        F.col("feature_code").isin("GRVC", "GRVO", "GRVP", "GRVPN")
    ).count()
    assert got.get("passed", 0) == expected_pass
    assert got.get("passed", 0) + got.get("failed", 0) == 100
    one = ev.first()
    assert one["rulegroups_count"] == 1 and one["rules_count"] == 4


@needs_reference
def test_detail_explode_and_output_types(geonames):
    ev = evaluate(geonames, DEMO_SPEC, with_details=True)
    all_rows = explode_details(ev, "all groups - all rules", ["geonameid"])
    assert all_rows.count() == 100 * 4
    for ot, (gp, rp) in OUTPUT_TYPES.items():
        d = explode_details(ev, ot, ["geonameid"])
        cond = []
        if gp is not None:
            cond.append(f"group_failed = {1 if gp else 0}")
        if rp is not None:
            cond.append(f"rule_failed = {1 if rp else 0}")
        want = all_rows.filter(" and ".join(cond)) if cond else all_rows
        assert d.count() == want.count(), ot
    # message templating: $0 -> actual value, $1 -> expected value
    msg = (
        explode_details(ev, "all groups - all rules", ["feature_code"])
        .filter((F.col("rule_failed") == 0))
        .first()
    )
    assert msg is not None
    assert msg["feature_code"] in msg["message"]


def test_group_dependency_skip(spark):
    spec = {
        "groups": [
            {"id": "g0", "subgroups": [{"id": "s", "rules": [
                {"id": "r", "field": "a", "op": "gt", "value": 0}]}]},
            {"id": "g1", "depends_on": {"group": "g0", "passed": True},
             "subgroups": [{"id": "s", "rules": [
                 {"id": "r", "field": "b", "op": "eq", "value": "x"}]}]},
        ]
    }
    df = spark.createDataFrame([(1, "x"), (-1, "x")], "a int, b string")
    ev = evaluate(df, spec).orderBy(F.col("a").desc()).collect()
    ok, skipped = ev
    assert ok["rulegroups_passed"] == 2 and ok["rulegroups_skipped"] == 0
    assert skipped["rulegroups_skipped"] == 1 and skipped["rulegroups_failed"] == 1


def test_actions_modify_and_flag(spark):
    spec = {
        "groups": [
            {
                "id": "g",
                "subgroups": [{"id": "s", "rule_op": "and", "rules": [
                    {"id": "r", "field": "lang", "op": "in", "value": ["py", "go"]}]}],
                "actions": [{"field": "lang", "set_value": "unknown", "when": "failed"}],
            }
        ]
    }
    df = spark.createDataFrame([("py",), ("cobol",)], "lang string")
    out = apply_actions(df, spec).orderBy("lang").collect()
    by = {r["lang"]: r["data_modified"] for r in out}
    assert by == {"py": False, "unknown": True}


def test_reserialize_after_action(spark):
    df = spark.createDataFrame([("a", "b", None)], "x string, y string, z string")
    out = join_row(df, ["x", "y", "z"], ";")
    assert out.first()["content"] == "a;b;"


def test_template_render_reference_example(spark):
    """README.md:49-66 example: $column placeholders -> JSON-ish text."""
    df = spark.createDataFrame(
        [("Peterson", "Jenny", "New York", "USA")],
        "column0 string, column1 string, column2 string, column3 string",
    )
    tmpl = '{"name": "$column0", "first": "${column1}", "city": "$column2", "country": "$column3"}'
    out = render_template(df, tmpl, out_col="content")
    assert (
        out.first()["content"]
        == '{"name": "Peterson", "first": "Jenny", "city": "New York", "country": "USA"}'
    )


def test_template_attribute_filter_and_nulls(spark):
    df = spark.createDataFrame([("v", "secret", None)], "a string, b string, c string")
    out = render_template(df, "a=$a b=$b c=$c", attribute_filter=r"^(a|c)$")
    # b filtered out -> literal placeholder (Velocity default); null c -> ""
    assert out.first()["content"] == "a=v b=$b c="


def test_render_json_escapes(spark):
    df = spark.createDataFrame([('say "hi"', 1)], "txt string, n long")
    s = render_json(df, ["txt", "n"]).first()["content"]
    assert s == '{"txt":"say \\"hi\\"","n":1}'


def test_demo_rules_route_synthetic(spark):
    """The demo's split -> rule -> route path over a synthetic 19-column
    tab-separated stand-in: a row passes iff its feature_code is exactly
    one of GRVC/GRVO/GRVP/GRVPN (case-sensitive; near misses, lower case
    and an empty field fail)."""
    rows = split_named(spark.read.text(SYNTH_DATA), "value", "\t", GEONAMES_FIELDS)
    assert rows.columns == GEONAMES_FIELDS
    ev = evaluate(rows, DEMO_SPEC, with_details=True)
    routed = {r["geonameid"]: r["route"] for r in route(ev).collect()}
    assert len(routed) == 12
    assert {g for g, r in routed.items() if r == "passed"} == {
        "9000001", "9000003", "9000004", "9000005", "9000010",
    }
    # detail explode: one row per (row, rule); each passing row fails the
    # three rules naming the other codes, each failing row all four
    d = explode_details(ev, "all groups - all rules", ["geonameid"])
    assert d.count() == 12 * 4
    assert d.filter(F.col("rule_failed") == 1).count() == 5 * 3 + 7 * 4
    assert explode_details(ev, "passed groups - all rules", ["geonameid"]).count() == 5 * 4
    assert explode_details(ev, "failed groups - all rules", ["geonameid"]).count() == 7 * 4
