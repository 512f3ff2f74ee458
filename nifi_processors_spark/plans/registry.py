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
  * diff against the registered schema,
  * classify drift into RENAME (same type, one-for-one swap, or an
    explicit hint) vs ADD,
  * record a new registry version; the caller issues icelite ALTER
    (rename keeps field id, add backfills null) BEFORE the version is
    persisted, so a crash between the two leaves the registry behind
    the table (repairable: the next diff is tolerant) — never ahead.

Registry state is a JSON file (atomic replace), versions append-only:
``{"versions": [{"version", "from_epoch", "fields": [{name, type}],
"renames": {old: new}}]}``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fsio

_JSON_TYPE = {str: "string", bool: "boolean", int: "long", float: "double"}
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
    def __init__(self, path: str, rename_hints: dict[str, str] | None = None):
        self.path = path
        self.rename_hints = rename_hints or {}

    def _load(self) -> dict:
        return fsio.load_json(self.path, default={"versions": []})

    def _save(self, obj: dict) -> None:
        parent = self.path.rsplit("/", 1)[0] if "/" in self.path else "."
        fsio.makedirs(parent)
        # replace-safe publish: the registry file is REPLACED per version —
        # a crash mid-swap must never leave it deleted (fsio.publish_json)
        fsio.publish_json(self.path, obj)

    def current(self) -> dict | None:
        vs = self._load()["versions"]
        return vs[-1] if vs else None

    def register(self, fields: list[tuple[str, str]], from_epoch: int) -> dict:
        """Register the initial schema (version 1)."""
        obj = self._load()
        ver = {
            "version": len(obj["versions"]) + 1,
            "from_epoch": from_epoch,
            "fields": [{"name": n, "type": t} for n, t in fields],
            "renames": {},
        }
        obj["versions"].append(ver)
        self._save(obj)
        return ver

    def diff(self, fields: list[tuple[str, str]]) -> tuple[dict | None, dict[str, str], list[tuple[str, str]]]:
        """PURE drift check: compare an epoch's payload schema with the
        registered one. Returns (current_version_or_None, renames, adds)
        — persists nothing. The caller applies the table ALTER first and
        only then calls ``commit_version`` (crash between the two leaves
        the registry *behind* the table, which the tolerant ALTER path in
        the applier repairs on replay; the old persist-before-ALTER order
        could silently null renamed columns forever)."""
        cur = self.current()
        if cur is None:
            return None, {}, [(n, t) for n, t in fields]
        old = [(f["name"], f["type"]) for f in cur["fields"]]
        renames, adds = diff_schemas(old, fields, self.rename_hints)
        return cur, renames, adds

    def commit_version(
        self,
        renames: dict[str, str],
        adds: list[tuple[str, str]],
        epoch: int,
    ) -> dict:
        """Persist a new version from a previously-computed diff (call
        AFTER the table ALTER commits). No-op returns the current version
        when there is no drift."""
        cur = self.current()
        if cur is None:
            return self.register(adds, epoch)
        if not renames and not adds:
            return cur
        merged: list[dict] = []
        for f in cur["fields"]:
            nm = renames.get(f["name"], f["name"])
            merged.append({"name": nm, "type": f["type"]})
        for n, t in adds:
            merged.append({"name": n, "type": t})
        obj = self._load()
        ver = {
            "version": cur["version"] + 1,
            "from_epoch": epoch,
            "fields": merged,
            "renames": renames,
        }
        obj["versions"].append(ver)
        self._save(obj)
        return ver

    def observe(self, fields: list[tuple[str, str]], epoch: int) -> tuple[dict, dict[str, str], list[tuple[str, str]]]:
        """Back-compat: diff + commit in one call (tests / ad-hoc use).
        The apply loop uses diff -> table.alter -> commit_version."""
        cur, renames, adds = self.diff(fields)
        if cur is None:
            return self.register(fields, epoch), {}, []
        if not renames and not adds:
            return cur, {}, []
        return self.commit_version(renames, adds, epoch), renames, adds
