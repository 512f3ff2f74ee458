"""Correctness gate, run untimed at the end of every benchmark run.

Each check returns a list of failure messages (empty = pass):

* ``check_state``: the table's live state equals a DuckDB last-writer-wins
  replay of every landed changelog epoch (key set, ``commit``, content sha).
* ``check_lookups``: every point lookup returned the oracle's row as of the
  epochs landed when it ran.
* ``check_view``: a maintained view equals ``grouped_agg`` over the table.
* ``check_outbox``: replaying the outbox segments in order gives the state.
* ``check_queries``: each operator-suite query's output equals its
  ``oracle_sql()`` result.
"""

from __future__ import annotations

import math
import os

import duckdb
from pyspark.sql import functions as F

from nifi_processors_spark.plans.ivm import grouped_agg

_LWW = """
    SELECT repo, path, op, "commit",
           sha256(json_extract_string(payload_json, '$.content')) AS sha
    FROM (SELECT *, row_number() OVER (PARTITION BY repo, path
                                       ORDER BY commit_seq DESC, event_seq DESC) AS rn
          FROM read_parquet('{glob}', hive_partitioning = true) {where})
    WHERE rn = 1
"""


def _changelog_glob(changelog_dir: str) -> str:
    return os.path.join(changelog_dir, "epoch=*", "*.parquet")


def table_state(table) -> dict[tuple[str, str], tuple[str, str]]:
    rows = (table.read().select("repo", "path", "commit", F.sha2("content", 256).alias("sha"))
            .collect())
    return {(r["repo"], r["path"]): (r["commit"], r["sha"]) for r in rows}


def oracle_state(changelog_dir: str) -> dict[tuple[str, str], tuple[str, str]]:
    with duckdb.connect() as con:
        rows = con.execute(_LWW.format(glob=_changelog_glob(changelog_dir), where="")).fetchall()
    return {(r[0], r[1]): (r[3], r[4]) for r in rows if r[2] != "D"}


def _diff(name: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    missing = len(want.keys() - got.keys())
    extra = len(got.keys() - want.keys())
    wrong = sum(1 for k in want.keys() & got.keys() if want[k] != got[k])
    return [f"{name}: {missing} keys missing, {extra} extra, {wrong} with other values"]


def check_state(state: dict, changelog_dir: str) -> list[str]:
    """``state``: ``table_state`` of the table."""
    return _diff("state vs LWW replay", state, oracle_state(changelog_dir))


def check_lookups(changelog_dir: str, lookups: list[dict]) -> list[str]:
    """``lookups``: {epoch, key, rows} with rows = [(commit, sha), ...] as read."""
    bad = []
    with duckdb.connect() as con:
        for lk in lookups:
            repo, path = lk["key"]
            sql = _LWW.format(glob=_changelog_glob(changelog_dir),
                              where="WHERE repo = ? AND path = ? AND epoch <= ?")
            won = con.execute(sql, [repo, path, lk["epoch"]]).fetchall()
            want = [(w[3], w[4]) for w in won if w[2] != "D"]
            if [tuple(r) for r in lk["rows"]] != want:
                bad.append(f"lookup {lk['key']} at epoch {lk['epoch']}: got {lk['rows']}, "
                           f"oracle {want}")
    return bad


def check_view(view, table) -> list[str]:
    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    cols = view.group_cols + ["n_rows"] + [f"sum_{c}" for c in view.value_cols]
    got = rows(view.read())
    want = rows(grouped_agg(table.read(), view.group_cols, view.value_cols))
    return [] if got == want else [f"view {view.path}: {len(got)} rows, recompute {len(want)} "
                                   "rows, contents differ"]


def check_outbox(outbox, state: dict) -> list[str]:
    """Apply every segment in order (drop the keys of delete/update_preimage
    rows, then upsert the insert/update_postimage rows) and compare with
    ``state``, the ``table_state`` of the table."""
    replayed: dict[tuple[str, str], tuple[str, str]] = {}
    with duckdb.connect() as con:
        for seg in outbox.segments():
            rows = con.execute(
                "SELECT repo, path, \"commit\", sha256(content), _change_type "
                "FROM read_parquet(?)", [os.path.join(outbox.path, seg, "*.parquet")]).fetchall()
            for repo, path, _, _, kind in rows:
                if kind in ("delete", "update_preimage"):
                    replayed.pop((repo, path), None)
            for repo, path, commit, sha, kind in rows:
                if kind in ("insert", "update_postimage"):
                    replayed[(repo, path)] = (commit, sha)
    return _diff("outbox replay vs state", replayed, state)


# ------------------------------------------------------------ operator suite


def _norm_cell(v):
    """Type-tagged cell normalization: an int 1 and a float 1.0 differ."""
    if v is None:
        return "null"
    if isinstance(v, float):  # numpy floats too
        return "null" if math.isnan(v) else f"f:{round(v, 9)}"
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return f"i:{int(v)}"
    return f"{type(v).__name__}:{v}"


def _norm(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(_norm_cell(r[c]) for c in cols) for _, r in pdf.iterrows())


def check_queries(sf_dir: str, results: dict, oracles: dict, tables: list[str]) -> list[str]:
    """``results``: query name -> the query's output as a pandas frame."""
    bad = []
    with duckdb.connect() as con:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
        for name, got in results.items():
            res = con.execute(oracles[name])
            want = res.fetchdf()
            if sorted(got.columns) != sorted(d[0] for d in res.description):
                bad.append(f"query {name}: columns differ")
            elif len(got) != len(want) or _norm(got) != _norm(want):
                bad.append(f"query {name}: {len(got)} rows vs oracle {len(want)}, values differ")
    return bad
