"""Round-2 surplus operators: connected-components dup clustering,
Velocity directive subset, rule-config epoch tracking."""

import textwrap

import pyspark.sql.functions as F
import pytest

from nifi_processors_spark.operators import fuzzy
from nifi_processors_spark.operators.template import parse_velocity, render_velocity
from nifi_processors_spark.plans.configstate import RuleConfigTracker
from tests.conftest import REF_ZIP, needs_reference


def test_connected_components_basic(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in fuzzy.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain(spark):
    # a 12-node chain needs several propagation rounds to converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in fuzzy.connected_components(pairs).collect()}
    assert set(got.values()) == {100}
    assert len(got) == 13


def test_velocity_if_else_set(spark):
    df = spark.createDataFrame(
        [("py", "keep"), (None, "drop"), ("false", "neg")], "lang string, note string"
    )
    t = '#set($tag = "v1")#if($lang)lang=$lang#else no-lang#end [$note/$tag]'
    out = [r["content"] for r in render_velocity(df, t).orderBy("note").collect()]
    assert out == [" no-lang [drop/v1]", "lang=py [keep/v1]", " no-lang [neg/v1]"]


def test_velocity_foreach(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, []), (3, None)], "id long, items array<string>"
    )
    t = "id=$id:#foreach($x in $items)<$x>#end;"
    out = {r["id"]: r["content"] for r in render_velocity(df, t).collect()}
    assert out == {1: "id=1:<a><b><c>;", 2: "id=2:;", 3: "id=3:;"}


def test_velocity_nested_and_errors():
    ast = parse_velocity("#if($a)x#if($b)y#else z#end#end")
    assert ast[0][0] == "if" and ast[0][2][1][0] == "if"
    with pytest.raises(ValueError):
        parse_velocity("#end")
    with pytest.raises(ValueError):
        parse_velocity("#if($a) unclosed")
    with pytest.raises(ValueError):
        parse_velocity("#foreach($x in $l) #else #end")


def test_velocity_matches_simple_renderer(spark):
    """On directive-free templates both renderers agree."""
    from nifi_processors_spark.operators.template import render_template

    df = spark.createDataFrame([("alice", 7)], "name string, n long")
    t = '{"name": "$name", "n": ${n}, "missing": $nope}'
    a = render_velocity(df, t).first()["content"]
    b = render_template(df, t).first()["content"]
    assert a == b == '{"name": "alice", "n": 7, "missing": $nope}'


def test_velocity_macro(spark):
    df = spark.createDataFrame([("py", "x.py"), (None, "y.md")], "lang string, path string")
    t = (
        '#macro(cell $v $tag)<$tag>$v</$tag>#end'
        "#cell($path \"td\")#cell($lang \"em\")#cell(\"lit\" \"b\")"
    )
    out = {r["path"]: r["content"] for r in render_velocity(df, t).collect()}
    # null ref renders as null_as ('') inside the macro, same as outside
    assert out == {
        "x.py": "<td>x.py</td><em>py</em><b>lit</b>",
        "y.md": "<td>y.md</td><em></em><b>lit</b>",
    }


def test_velocity_macro_in_if_and_missing_args(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "id long, v string")
    t = "#macro(wrap $x $y)[$x|$y]#end#if($v)#wrap($v)#else none#end"
    out = {r["id"]: r["content"] for r in render_velocity(df, t).collect()}
    assert out == {1: "[a|]", 2: " none"}


def test_velocity_macro_unknown_and_recursive(spark):
    df = spark.createDataFrame([(1,)], "id long")
    # unknown directive-call renders as literal text (Velocity behavior)
    assert render_velocity(df, "x#nope($id)y").first()["content"] == "x#nope($id)y"
    with pytest.raises(ValueError, match="recursive"):
        render_velocity(df, "#macro(a $x)#a($x)#end#a($id)").first()
    with pytest.raises(ValueError):
        parse_velocity("#macro(m $x) unclosed")
    with pytest.raises(ValueError, match="malformed"):
        parse_velocity("#set($a = 5)")  # non-string-literal #set


def test_velocity_parse_includes(spark):
    df = spark.createDataFrame([("alice", "py")], "name string, lang string")
    includes = {
        "header": "== $name ==\n",
        "body": '#macro(kv $k $v)$k=$v;#end#kv("lang" $lang)',
    }
    t = '#parse("header")#parse("body")done'
    out = render_velocity(df, t, includes=includes).first()["content"]
    assert out == "== alice ==\nlang=py;done"
    with pytest.raises(ValueError, match="unknown include"):
        render_velocity(df, '#parse("missing")', includes=includes).first()
    with pytest.raises(ValueError, match="cycle"):
        render_velocity(df, '#parse("a")', includes={"a": '#parse("a")'}).first()
    with pytest.raises(ValueError, match="string literal"):
        parse_velocity("#parse($name)")


@needs_reference
def test_rule_config_tracker(tmp_path):
    import shutil

    z1 = tmp_path / "rules.zip"
    shutil.copy(REF_ZIP, z1)
    tr = RuleConfigTracker(str(tmp_path / "config_state.json"))
    spec, epoch, changed = tr.load(str(z1))
    assert changed and epoch == 1
    assert spec["groups"][0]["id"] == "Group 1"
    # unchanged artifact (even with a fresh tracker): no epoch bump
    tr2 = RuleConfigTracker(str(tmp_path / "config_state.json"))
    spec2, epoch2, changed2 = tr2.load(str(z1))
    assert not changed2 and epoch2 == 1 and spec2 == spec
    # touch without content change: still no bump (content hash, not mtime)
    import os

    os.utime(z1)
    _, epoch3, changed3 = tr2.load(str(z1))
    assert not changed3 and epoch3 == 1
    # real change: rewrite the zip with a modified rule value
    import zipfile

    with zipfile.ZipFile(REF_ZIP) as zin:
        xml = zin.read("Group 1.xml").decode()
    with zipfile.ZipFile(z1, "w") as zout:
        zout.writestr("Group 1.xml", xml.replace("GRVC", "XXXX"))
    spec4, epoch4, changed4 = tr2.load(str(z1))
    assert changed4 and epoch4 == 2
    assert spec4["groups"][0]["subgroups"][0]["rules"][0]["value"] == "XXXX"
