"""Seeded benchmark inputs.

* ``stage_changelog`` writes a genlog change log into a *staging* directory,
  one ``epoch=<n>`` partition per epoch: epoch 0 is the preload (a large
  batch that fills the table), epochs 1.. are the equal-sized epochs the
  benchmark lands one at a time with ``land_epoch``. Keys, hot-repo skew,
  op mix and payloads come from ``genlog``; only the epoch assignment is
  re-cut here (about 5% of events still arrive 1-3 epochs late).
* ``write_sf_tables`` writes the five tables the operator-suite queries read
  (``events``, ``lineitem``, ``customer``, ``documents``, ``embeddings``),
  one parquet file per table, the layout ``__spark_entry__`` expects.

Everything is a pure function of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nifi_processors_spark.sources.genlog import GenLogConfig, generate_change_log


def stage_changelog(spark, seed: int, n_keys: int, preload_events: int,
                    epoch_events: int, n_epochs: int, out_dir: str) -> None:
    """Epoch 0 = ``preload_events`` events, epochs 1..n_epochs =
    ``epoch_events`` each. Payloads are genlog v2 (``language``, ``content``,
    ``size_bytes``) with 0.2-0.7 KB of content."""
    cfg = GenLogConfig(
        n_events=preload_events + epoch_events * n_epochs, n_epochs=1, seed=seed,
        n_keys=n_keys, evolve_at_epoch=0, content_blocks_max=8,
    )
    eid = F.col("commit_seq") * 4 + F.col("event_seq")
    base = F.when(eid < preload_events, F.lit(0)).otherwise(
        (F.lit(1) + ((eid - preload_events) / epoch_events).cast("long"))
    )
    late = F.pmod(F.xxhash64(F.lit(seed), F.lit("late"), eid), F.lit(60))
    epoch = F.when((base > 0) & (late < 3), F.least(base + 1 + late, F.lit(n_epochs)))
    (generate_change_log(spark, cfg)
     .withColumn("epoch", F.coalesce(epoch, base).cast("long"))
     .write.mode("overwrite").partitionBy("epoch").parquet(out_dir))


def land_epoch(staging_dir: str, changelog_dir: str, epoch: int) -> int:
    """Move one staged epoch into the change log (an atomic rename, as a
    log shipper would land it). Returns its size in bytes."""
    os.makedirs(changelog_dir, exist_ok=True)
    dst = os.path.join(changelog_dir, f"epoch={epoch}")
    os.rename(os.path.join(staging_dir, f"epoch={epoch}"), dst)
    return dir_bytes(dst)


def dir_bytes(path: str) -> int:
    return sum(size for size in file_sizes(path).values())


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed while walking
                pass
    return out


# ----------------------------------------------------------------- sf tables

WORDS = (
    "a the spark merge window hash join filter customer query scan table value "
    "part row key sort group order line batch stream column agg data fast slow "
    "big small index bucket snapshot commit delta epoch schema field record "
    "file page block cache plan stage task shuffle driver executor"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def write_sf_tables(out_dir: str, seed: int, n_events: int, n_lineitem: int,
                    n_customer: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    n_users = max(n_events // 10, 10)
    put("events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        # distinct timestamps: the LWW order (ts, event_id) has no ties
        "ts": pa.array(t0 + np.sort(rng.choice(n_events * 50, n_events, replace=False))
                       .astype("timedelta64[ms]").astype("timedelta64[us]")
                       + rng.integers(0, 1000, n_events).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(rng.integers(1, 50_000, n_events) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    ship = np.datetime64("1995-01-01", "us") + rng.integers(0, 2500, n_lineitem).astype(
        "timedelta64[D]").astype("timedelta64[us]")
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, max(n_lineitem // 4, 1), n_lineitem, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, n_lineitem, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_lineitem, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lineitem).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_000_000, n_lineitem) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lineitem)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lineitem)),
        "l_shipdate": pa.array(ship),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_customer, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customer)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer, dtype=np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_customer) / 100.0),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_customer)),
    })
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(20, 80)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{i % 4}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    emb = rng.normal(0.0, 0.1, (n_vecs, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_vecs, dtype=np.int32)),
    })
