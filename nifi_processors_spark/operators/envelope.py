"""Change-envelope parsing: payload_json -> typed struct columns.

The reference's SplitToAttribute turns an untyped CSV row into a bag of
stringly-typed attributes (reference: SplitToAttribute.java:144-210). The
Spark-native re-expression parses the JSON change payload into *typed
columns* in one staged VARIANT parse: ``try_parse_json`` once per row into
a column, then one ``try_variant_get`` per registered field. A payload that
is not a parseable JSON object is flagged ``_corrupt`` and routed to
quarantine instead of aborting the epoch (the reference's per-row failure
relationship, ExecuteRuleEngine.java:477-481,610-662, becomes a filter); a
field that fails its type cast comes out null without rejecting the row.

Intentional divergences from the reference's SplitToAttribute quirks
(documented in SURVEY.md §2.2 P1): separator-as-regex and silent
empty-field skipping are NOT replicated; nulls are kept.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VARIANT_COL = "_pv"  # staged parsed-variant column (see parse_envelope)

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _vpath(name: str) -> str:
    """Variant extraction path for a payload field name (bracket form for
    non-identifier names)."""
    if _IDENT.fullmatch(name):
        return f"$.{name}"
    return "$['" + name.replace("\\", "\\\\").replace("'", "\\'") + "']"


def parse_envelope(changes: DataFrame, payload_schema: T.StructType) -> DataFrame:
    """Parse payload_json into typed columns per ``payload_schema``.

    Output: envelope columns + one column per payload field + ``_corrupt``
    flag. Delete events carry a null payload and are not corrupt.

    ONE JSON parse per row (r06, guide §1.2 "per-task work"): the payload
    is parsed to a VARIANT once (``try_parse_json`` staged as a column —
    reused verbatim if the caller already staged ``VARIANT_COL``, which is
    how the apply loop shares this single parse with its drift
    observation), and each typed field is a ``try_variant_get`` off that
    variant. The previous shape ran ``from_json`` here plus TWO more
    variant parses inside the drift aggregation — three full JSON parses
    of every payload per epoch; the merge stage was ~35% JSON parsing at
    1M events (bench_extra measurement, r06).

    Corruption semantics: ``_corrupt`` is exactly ``malformed_json`` —
    a non-null payload that is not a parseable JSON OBJECT — the same
    predicate the stats job, the metrics record and the quarantine filter
    use, so "corrupt" now means ONE thing everywhere. (The from_json
    shape additionally row-rejected well-formed objects carrying a
    field that failed coercion to its registry type, e.g. a string where
    a long is registered, while the stats/quarantine side did NOT count
    those rows — they were silently dropped with no quarantine record.
    Now such a row upserts with the unconvertible field null
    (``try_variant_get`` cast semantics, per-field), matching how a
    late-arriving column-absent row has always behaved.)
    """
    has_pv = VARIANT_COL in changes.columns
    out = changes if has_pv else changes.withColumn(
        VARIANT_COL, F.try_parse_json(F.col("payload_json"))
    )
    pv = F.col(VARIANT_COL)
    head = F.substring(F.ltrim(F.col("payload_json")), 1, 1)
    corrupt = F.col("payload_json").isNotNull() & ((head != "{") | pv.isNull())
    out = out.withColumn("_corrupt", corrupt)
    for f in payload_schema.fields:
        out = out.withColumn(
            f.name, F.try_variant_get(pv, _vpath(f.name), f.dataType.simpleString())
        )
    return out.drop(VARIANT_COL, "payload_json")


def malformed_json(payload_json):
    """Cheap schema-free corrupt check: a non-null payload that is not a
    parseable JSON OBJECT. One variant parse per row — used by the stats
    job so the epoch's payloads are parsed once there (the variant agg
    shares the parse), not twice (from_json + variant)."""
    head = F.substring(F.ltrim(payload_json), 1, 1)
    return payload_json.isNotNull() & (
        (head != "{") | F.try_parse_json(payload_json).isNull()
    )
