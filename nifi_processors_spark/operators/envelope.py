"""Change-envelope parsing: payload_json -> one staged VARIANT -> typed columns.

The reference's SplitToAttribute turns an untyped CSV row into a bag of
stringly-typed attributes (reference: SplitToAttribute.java:144-210). The
Spark-native re-expression parses the JSON change payload ONCE per row
(``stage_payload``) and derives everything else from that staged column:
typed fields are ``try_variant_get`` extractions (``payload_field``), and a
payload that is not a parseable JSON object is flagged ``_malformed`` and
routed to quarantine instead of aborting the epoch (the reference's per-row
failure relationship, ExecuteRuleEngine.java:477-481,610-662, becomes a
filter); a field that fails its type cast comes out null without rejecting
the row.

Intentional divergences from the reference's SplitToAttribute quirks
(documented in SURVEY.md §2.2 P1): separator-as-regex and silent
empty-field skipping are NOT replicated; nulls are kept.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VARIANT_COL = "_pv"  # staged parsed-variant column (see stage_payload)
MALFORMED_COL = "_malformed"

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _vpath(name: str) -> str:
    """Variant extraction path for a payload field name (bracket form for
    non-identifier names)."""
    if _IDENT.fullmatch(name):
        return f"$.{name}"
    return "$['" + name.replace("\\", "\\\\").replace("'", "\\'") + "']"


def stage_payload(df: DataFrame) -> DataFrame:
    """``df`` plus ``VARIANT_COL`` (``try_parse_json(payload_json)``) and
    ``MALFORMED_COL`` (a non-null payload that is not a parseable JSON
    OBJECT; a delete's null payload is not malformed).

    The parse sits inside a Generate (``inline(array(struct(...)))``), a
    barrier the optimizer neither collapses nor pushes filters through, so
    every consumer — typed fields, the malformed flag, drift aggregates,
    filters on either — reads the staged attribute, and an executed plan
    holds exactly one parse per row however the frame is used. Without
    the barrier a filter on the flag is pushed below the projection and
    inlines a second parse."""
    pv = F.try_parse_json(F.col("payload_json")).alias(VARIANT_COL)
    staged = df.select(F.inline(F.array(F.struct(*df.columns, pv))))
    head = F.substring(F.ltrim(F.col("payload_json")), 1, 1)
    return staged.withColumn(
        MALFORMED_COL,
        F.col("payload_json").isNotNull() & ((head != "{") | F.col(VARIANT_COL).isNull()),
    )


def payload_field(name: str, dtype: str) -> Column:
    """Typed extraction of one payload field from the staged variant
    (``try_variant_get`` cast semantics: an unconvertible value is null)."""
    return F.try_variant_get(F.col(VARIANT_COL), _vpath(name), dtype)


def parse_envelope(changes: DataFrame, payload_schema: T.StructType) -> DataFrame:
    """Parse payload_json into typed columns per ``payload_schema``.

    Output: the other columns of ``changes`` + one column per payload
    field + the ``_corrupt`` flag (``MALFORMED_COL``), in one select over
    the staged parse. A well-formed object carrying a field that fails
    coercion to its type (a string where a long is declared) is NOT
    corrupt: it keeps its row with that field null."""
    staged = stage_payload(changes)
    names = set(payload_schema.fieldNames())
    drop = names | {VARIANT_COL, MALFORMED_COL, "payload_json"}
    return staged.select(
        *[c for c in staged.columns if c not in drop],
        F.col(MALFORMED_COL).alias("_corrupt"),
        *[payload_field(f.name, f.dataType.simpleString()).alias(f.name)
          for f in payload_schema.fields],
    )
