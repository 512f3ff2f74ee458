"""Schema registry + drift detection for the change-payload.

The reference's schema is a header row or a configured field-name list,
re-read per flow file (reference: ExecuteRuleEngine.java:417-435,197-202)
— dynamic, stringly-typed, no evolution story. The target handles
mid-stream payload drift (FIXTURES.md §3: v1 {lang, content} ->
v2 {language, content, size_bytes}) with an explicit registry:

  * detect the payload schema of an epoch DISTRIBUTEDLY over every row
    (``schema_of_variant_agg`` — one skinny JVM-side aggregation; a v2
    payload first appearing on row 51 of an epoch is still seen, unlike
    a driver-side sample),
  * diff against the current version,
  * classify drift into RENAME (same type, one-for-one swap, or an
    explicit hint) vs ADD,
  * commit the new version as ONE icelite ALTER (rename keeps the field
    id, add allocates one and reads null in older files).

The registry stores nothing of its own. As in Iceberg table metadata, the
table snapshot's ``schemas`` (one field-id list per schema version) are
the schema history: a payload version is a table schema minus the change
envelope's columns (``repo``, ``path``, ``commit``), and its renames are
the field ids whose name changed from the version before. Registering is
the table's create and committing a version is its ALTER, so a drift
epoch writes one schema record, and a table rollback takes the payload
schema back with it. A version reads ``{"version", "fields": [{name,
type}], "renames": {old: new}}``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table import IceliteTable

# the change envelope's columns lead every table; payload fields follow
ENVELOPE = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
])
ENVELOPE_KEY = ["repo", "path"]

_SPARK_TYPE = {
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
}

# variant-schema scalar type -> registry type (everything else, incl.
# OBJECT</ARRAY</VARIANT mixed-type fields, degrades to raw-JSON string)
_VARIANT_SCALAR = {
    "BIGINT": "long",
    "INT": "long",
    "SMALLINT": "long",
    "TINYINT": "long",
    "DOUBLE": "double",
    "FLOAT": "double",
    "STRING": "string",
    "BOOLEAN": "boolean",
}


def _split_top_level(s: str) -> list[str]:
    """Split 'a: T, b: OBJECT<x: U, y: V>' on depth-0 commas. Spark quotes
    field names that need it in backticks with `` escaping ('OBJECT<`a,b`:
    BIGINT>'), so a backtick-quoted span is treated as one opaque token —
    commas and angle brackets inside it must not steer the split (round-2
    advice: they used to corrupt registered field names)."""
    out, depth, cur, i, n = [], 0, [], 0, len(s)
    in_bt = False
    while i < n:
        ch = s[i]
        if ch == "`":
            if in_bt and i + 1 < n and s[i + 1] == "`":  # escaped backtick
                cur.append("``")
                i += 2
                continue
            in_bt = not in_bt
            cur.append(ch)
        elif not in_bt and ch in "<(":
            # '(' too: a JSON decimal literal types as DECIMAL(p,s) — its
            # comma must not split the field list
            depth += 1
            cur.append(ch)
        elif not in_bt and ch in ">)":
            depth -= 1
            cur.append(ch)
        elif not in_bt and ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


def _split_name_type(part: str) -> tuple[str, str]:
    """'name: TYPE' -> (unquoted name, type). A backtick-quoted name may
    itself contain ':' — find the colon AFTER the closing quote."""
    part = part.strip()
    if part.startswith("`"):
        i, n, name_chars = 1, len(part), []
        while i < n:
            if part[i] == "`":
                if i + 1 < n and part[i + 1] == "`":  # `` -> literal `
                    name_chars.append("`")
                    i += 2
                    continue
                break  # closing quote
            name_chars.append(part[i])
            i += 1
        rest = part[i + 1:].lstrip()
        return "".join(name_chars), rest[1:].strip() if rest.startswith(":") else rest
    name, _, ty = part.partition(":")
    return name.strip(), ty.strip()


def fields_from_variant_schema(schema_str: str | None) -> list[tuple[str, str]]:
    """Parse ``schema_of_variant_agg`` output ('OBJECT<a: BIGINT, ...>')
    into registry fields. Non-OBJECT top level (all-null epoch, scalar
    payloads) -> no fields. Field order: as emitted (alphabetical), which
    is deterministic across replays — unlike the order-dependent
    driver-side sample this replaces."""
    if not schema_str or not schema_str.startswith("OBJECT<"):
        return []
    body = schema_str[len("OBJECT<"):].rstrip(">")
    fields: list[tuple[str, str]] = []
    for part in _split_top_level(body):
        name, ty = _split_name_type(part)
        base = ty.split("(", 1)[0].upper()
        if base.startswith("DECIMAL"):
            mapped = "double"
        else:
            mapped = _VARIANT_SCALAR.get(base, "string")
        fields.append((name, mapped))
    return fields


def merge_field_sets(sets: list[list[tuple[str, str]]]) -> list[tuple[str, str]]:
    """Union field lists (e.g. per-bucket detections) with widening:
    long+double -> double; any other conflict -> string."""
    fields: dict[str, str] = {}
    for fs in sets:
        for n, t in fs:
            if n not in fields:
                fields[n] = t
            elif fields[n] != t:
                fields[n] = "double" if {fields[n], t} == {"long", "double"} else "string"
    return sorted(fields.items())


def payload_schema_agg(payload_json: F.Column) -> F.Column:
    """Aggregate expression: merged variant schema of all payload rows —
    attach to any aggregation over the epoch (the apply loop folds it into
    its per-bucket stats job; zero extra Spark jobs)."""
    return F.schema_of_variant_agg(F.try_parse_json(payload_json))


def detect_payload_schema(epoch_df: DataFrame) -> list[tuple[str, str]]:
    """Detect the payload schema over the WHOLE epoch with one distributed
    aggregation (no driver-side row sample — a v2 payload appearing
    mid-epoch is never missed, and replays are deterministic)."""
    row = epoch_df.select(payload_schema_agg(F.col("payload_json")).alias("s")).first()
    return fields_from_variant_schema(row["s"] if row else None)


def diff_schemas(
    old: list[tuple[str, str]],
    new: list[tuple[str, str]],
    rename_hints: dict[str, str] | None = None,
) -> tuple[dict[str, str], list[tuple[str, str]]]:
    """Return (renames {old_name: new_name}, adds [(name, type)]).

    Detection: explicit hints first; then each removed field whose type
    matches *exactly one* added field is treated as a rename (the common
    ALTER RENAME case — e.g. v1 {lang} -> v2 {language, size_bytes}
    renames lang->language because language is the only added string).
    A hinted rename also fires when the old name is STILL present (a
    mid-epoch rename: one epoch carries both names because v1 rows
    populate the old column and v2 rows the new one — the applier
    coalesces the values). Automatic (unhinted) detection never does
    this: with both names live, ADD is the only safe interpretation.
    Ambiguous cases (two same-typed candidates) fall back to ADD; removed
    fields without a partner are left in place (tolerant reader — older
    columns simply stop receiving values).
    """
    rename_hints = rename_hints or {}
    old_names = {n for n, _ in old}
    new_names = {n for n, _ in new}
    old_types = dict(old)
    new_types = dict(new)

    renames: dict[str, str] = {}
    removed = sorted(old_names - new_names)
    added = [n for n, _ in new if n not in old_names]  # keep producer order

    for new_name, old_name in rename_hints.items():
        if old_name in old_names and new_name in added:
            renames[old_name] = new_name
            if old_name in removed:
                removed.remove(old_name)
            added.remove(new_name)
    for old_name in list(removed):
        candidates = [n for n in added if new_types[n] == old_types[old_name]]
        if len(candidates) == 1:
            renames[old_name] = candidates[0]
            removed.remove(old_name)
            added.remove(candidates[0])
    adds = [(n, new_types[n]) for n in added]
    return renames, adds


class SchemaRegistry:
    """The payload-schema versions of the icelite table at ``table_path``
    (created with ``n_buckets`` buckets). Every method that reads takes
    the snapshot the caller holds; without one it loads the current."""

    def __init__(self, spark, table_path: str, n_buckets: int = 32,
                 rename_hints: dict[str, str] | None = None):
        self.table = IceliteTable(spark, table_path)
        self.n_buckets = n_buckets
        self.rename_hints = rename_hints or {}

    def versions(self, snap: dict | None = None) -> list[dict]:
        """Every payload version of ``snap``, oldest first; none before
        the table exists."""
        if snap is None:
            if not IceliteTable.exists(self.table.path):
                return []
            snap = self.table.snapshot()
        out, names = [], {}
        for v in range(1, snap["schema_version"] + 1):
            fields = [f for f in snap["schemas"][str(v)] if f["name"] not in ENVELOPE.names]
            out.append({
                "version": v,
                "fields": [{"name": f["name"], "type": json.loads(f["type"])} for f in fields],
                "renames": {names[f["id"]]: f["name"] for f in fields
                            if names.get(f["id"], f["name"]) != f["name"]},
            })
            names = {f["id"]: f["name"] for f in fields}
        return out

    def current(self, snap: dict | None = None) -> dict | None:
        vs = self.versions(snap)
        return vs[-1] if vs else None

    def register(self, fields: list[tuple[str, str]]) -> IceliteTable:
        """Version 1: create the table, envelope columns first. A payload
        field named like an envelope column is dropped — the envelope
        value wins."""
        schema = T.StructType(ENVELOPE.fields + [
            T.StructField(n, _SPARK_TYPE[t], True) for n, t in _payload(fields)])
        return IceliteTable.create(self.table.spark, self.table.path, schema,
                                   key=ENVELOPE_KEY, n_buckets=self.n_buckets)

    def diff(self, fields: list[tuple[str, str]], snap: dict | None = None
             ) -> tuple[dict | None, dict[str, str], list[tuple[str, str]]]:
        """PURE drift check: compare an epoch's payload schema with the
        current version. Returns (current_version_or_None, renames, adds)
        — commits nothing."""
        fields = _payload(fields)
        cur = self.current(snap)
        if cur is None:
            return None, {}, fields
        old = [(f["name"], f["type"]) for f in cur["fields"]]
        renames, adds = diff_schemas(old, fields, self.rename_hints)
        return cur, renames, adds

    def commit_version(self, renames: dict[str, str], adds: list[tuple[str, str]],
                       epoch: int) -> int:
        """Commit a previously-computed diff as one table ALTER; returns
        its snapshot id."""
        return self.table.alter(
            renames, [(n, _SPARK_TYPE[t]) for n, t in adds],
            lineage={"op": "alter", "epoch": epoch, "renames": renames,
                     "adds": [n for n, _ in adds]},
        )

    def observe(self, fields: list[tuple[str, str]], epoch: int, snap: dict | None = None
                ) -> tuple[dict[str, str], list[tuple[str, str]]]:
        """diff + commit: register the first version, ALTER on drift.
        Returns the (renames, adds) committed on top of ``snap``."""
        cur, renames, adds = self.diff(fields, snap)
        if cur is None:
            self.register(fields)
            return {}, []
        if renames or adds:
            self.commit_version(renames, adds, epoch)
        return renames, adds


def _payload(fields: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """``fields`` without the envelope's names."""
    return [(n, t) for n, t in fields if n not in ENVELOPE.names]
