"""Reference-artifact parity: load the ACTUAL shipped JaRE rule-project
zip (nifi_test2_dev.zip -> Group 1.xml) and run it against the ACTUAL
demo dataset (allCountries_100.txt), reproducing the reference demo's
pass/fail routing (ExecuteRuleEngine.java:330-336 load semantics;
ExecuteRuleEngine_Example.xml flow). Plus the rowlayout.xml -> datagen
layout round-trip (GenerateData.java:157-177)."""

import textwrap

import pyspark.sql.functions as F
import pytest

from nifi_processors_spark.operators.rules import evaluate, explode_details, route
from nifi_processors_spark.operators.split import split_named
from nifi_processors_spark.sources.datagen import generate_table
from nifi_processors_spark.sources.xml_config import (
    load_rule_project,
    parse_rowlayout,
    parse_rule_group_xml,
)
from tests.conftest import REF_DATA, REF_ZIP, needs_reference


# the demo's 19 tab-separated geonames fields (verified 100x19; field list
# per the reference screenshot's 'Field Names' property)
GEONAMES_FIELDS = [
    "geonameid", "name", "asciiname", "alternatenames", "latitude",
    "longitude", "feature_class", "feature_code", "country_code", "cc2",
    "admin1_code", "admin2_code", "admin3_code", "admin4_code",
    "population", "elevation", "dem", "timezone", "modification_date",
]


@needs_reference
def test_load_shipped_rule_project():
    spec = load_rule_project(REF_ZIP)
    assert len(spec["groups"]) == 1
    g = spec["groups"][0]
    assert g["id"] == "Group 1"
    (sg,) = g["subgroups"]
    assert sg["rule_op"] == "or" and sg["inter_op"] == "and"
    assert [r["op"] for r in sg["rules"]] == ["eq"] * 4
    assert [r["value"] for r in sg["rules"]] == ["GRVC", "GRVO", "GRVP", "GRVPN"]
    assert all(r["field"] == "feature_code" for r in sg["rules"])
    # $-placeholders swapped into engine convention ($0=actual, $1=expected)
    assert sg["rules"][0]["message_failed"] == (
        "Field [feature_code] $0 incorrectly not is equal to $1"
    )


@needs_reference
def test_shipped_rules_reproduce_demo_routing(spark):
    """End-to-end demo flow: GetFile -> split -> rule engine -> route,
    with BOTH config artifacts taken verbatim from the reference repo.
    Oracle = plain-Python replay of the same file."""
    spec = load_rule_project(REF_ZIP)
    raw = spark.read.text(REF_DATA).withColumnRenamed("value", "content")
    rows = split_named(raw, "content", "\t", GEONAMES_FIELDS)
    routed = route(evaluate(rows, spec))
    got = {r["route"]: r["n"] for r in routed.groupBy("route").agg(F.count("*").alias("n")).collect()}

    want_pass = 0
    with open(REF_DATA) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    for ln in lines:
        if ln.split("\t")[7] in ("GRVC", "GRVO", "GRVP", "GRVPN"):
            want_pass += 1
    assert got.get("passed", 0) == want_pass
    assert got.get("failed", 0) == len(lines) - want_pass
    assert sum(got.values()) == 100

    # detail output: messages render with the demo's own template text
    d = explode_details(
        evaluate(rows, spec, with_details=True), "all groups - all rules", ["geonameid"]
    )
    one = d.filter((F.col("rule_id") == "Feature Code") & (F.col("rule_failed") == 1)).first()
    assert one["message"].endswith("incorrectly not is equal to GRVC")
    assert "Field [feature_code]" in one["message"]


def test_rule_xml_dependent_group_and_typed_ops():
    xml = textwrap.dedent("""\
        <xml><group id="g2" dependentgroupid="g1" dependentgroupexecuteif="failed">
          <subgroup id="s" ruleoperator="and" intergroupoperator="and">
            <rule id="r1">
              <object method="getFieldValue" parameter="population" type="integer"/>
              <expected value="1000" type="integer"/>
              <execute value="com.datamelt.rules.implementation.CheckIsGreater"/>
            </rule>
            <rule id="r2">
              <object method="getFieldValue" parameter="country_code" type="string"/>
              <expected value="AD,FR" type="string"/>
              <execute value="com.datamelt.rules.implementation.CheckIsInList"/>
            </rule>
          </subgroup>
        </group></xml>""")
    g = parse_rule_group_xml(xml)
    assert g["depends_on"] == {"group": "g1", "passed": False}
    r1, r2 = g["subgroups"][0]["rules"]
    assert r1 == {"id": "r1", "field": "population", "op": "gt", "value": 1000, "type": "long"}
    assert r2["op"] == "in" and r2["value"] == ["AD", "FR"]


def test_rowlayout_roundtrip(spark, tmp_path):
    cats = tmp_path / "categories"
    cats.mkdir()
    (cats / "seasons.category").write_text("spring\nsummer\nautumn\nwinter\n")
    layout_xml = tmp_path / "rowlayout.xml"
    layout_xml.write_text(textwrap.dedent("""\
        <rowlayout><row>
          <field name="season" type="category" category="seasons"/>
          <field name="sku" type="regex" pattern="[A-Z]{3}-[0-9]{4}"/>
          <field name="token" type="random" minlength="6" maxlength="10"/>
          <field name="born" type="date" minyear="2001" maxyear="2005"/>
        </row></rowlayout>"""))
    layout = parse_rowlayout(str(layout_xml), categories_dir=str(cats))
    assert [f["kind"] for f in layout] == ["category", "regex", "random", "date"]
    assert layout[0]["values"] == ["spring", "summer", "autumn", "winter"]

    df = generate_table(spark, 50, layout, seed=7)
    rows = df.collect()
    assert len(rows) == 50
    assert all(r["season"] in layout[0]["values"] for r in rows)
    import re as _re
    assert all(_re.fullmatch(r"[A-Z]{3}-[0-9]{4}", r["sku"]) for r in rows)
    assert all(6 <= len(r["token"]) <= 10 for r in rows)
    assert all(2001 <= r["born"].year <= 2005 for r in rows)
    # determinism: same layout+seed -> identical rows
    again = generate_table(spark, 50, layout, seed=7).collect()
    assert rows == again


ACTION_GROUP_XML = textwrap.dedent("""\
    <group id="G_act">
      <subgroup id="SG1" ruleoperator="and" intergroupoperator="and">
        <rule id="R1">
          <object parameter="country_code" type="string"/>
          <expected value="US" type="string"/>
          <execute value="com.datamelt.rules.implementation.CheckIsEqual"/>
        </rule>
      </subgroup>
      <action id="A1" classname="com.datamelt.rules.core.action.StringAction"
              method="setValue" executeif="failed">
        <object parameter="country_code" type="string"/>
        <parameter type="string" value="XX"/>
      </action>
    </group>
""")


def test_parse_action_bearing_group_and_apply(spark):
    """Round-2 verdict item 5: JaRE <action> elements must load into
    apply_actions specs (set-value family) instead of being silently
    ignored — a rule project WITH actions round-trips and mutates."""
    from nifi_processors_spark.operators.rules import apply_actions

    g = parse_rule_group_xml(ACTION_GROUP_XML)
    assert g["actions"] == [
        {"field": "country_code", "set_value": "XX", "when": "failed", "id": "A1"}
    ]

    df = spark.createDataFrame(
        [("US", 1), ("DE", 2), ("FR", 3)], "country_code string, row_id long"
    )
    out = apply_actions(df, {"groups": [g]}).orderBy("row_id").collect()
    assert [r["country_code"] for r in out] == ["US", "XX", "XX"]
    assert [r["data_modified"] for r in out] == [False, True, True]


def test_unknown_action_rejected_loudly():
    bad = ACTION_GROUP_XML.replace("setValue", "deleteRowEntirely")
    with pytest.raises(ValueError, match="unsupported JaRE action"):
        parse_rule_group_xml(bad)

    noval = ACTION_GROUP_XML.replace(
        '<parameter type="string" value="XX"/>', "")
    with pytest.raises(ValueError, match="no value to set"):
        parse_rule_group_xml(noval)

    # actions nested inside a subgroup have no JaRE semantics we honor
    stray = ACTION_GROUP_XML.replace(
        "</subgroup>",
        '<action id="A2" method="setValue" field="x" value="y"/></subgroup>')
    with pytest.raises(ValueError, match="placement"):
        parse_rule_group_xml(stray)
