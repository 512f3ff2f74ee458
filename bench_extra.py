"""Extra measurement harness for the optimization rounds (NOT the driver
contract — bench.py is frozen; this file exists so optimization work can
be measured per-query with the noop sink (guide §1.4), labeled jobs
(guide §1.5), and explain("formatted") capture for plans/r06/.

Usage:
  python bench_extra.py time  [query ...]   # best-of-N noop wall per query
  python bench_extra.py plans [query ...]   # write plans/r06/<q>_<tag>.txt

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
     BENCH_EXTRA_TRIALS (default 3), BENCH_EXTRA_TAG (plans suffix,
     default "after").
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from nifi_processors_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = [
    "lww_dedup_events", "cdc_state_events", "rule_counters",
    "rule_detail_explode", "metrics_rollup", "template_render",
    "exact_dedup", "token_counts", "lang_id", "fingerprint",
    "ann_topk", "minhash_neardup",
]


def _spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="bx_", dir=shm)
    return get_spark("bench_extra", cores=cpus,
                     extra_conf={"spark.local.dir": f"{work}/sparktmp"})


def cmd_time(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    trials = int(os.environ.get("BENCH_EXTRA_TRIALS", "3"))
    spark = _spark()
    qs = entry_mod.queries()
    out: dict[str, float] = {}
    for name in names:
        qs[name](spark, sf_dir).count()  # warm plan + scan metadata
    for t in range(trials):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} trial{t}")
            t0 = time.monotonic()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            sec = round(time.monotonic() - t0, 3)
            out[name] = min(out.get(name, sec), sec)
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": sf_dir, "best_of": trials, "queries": out}))
    spark.stop()


def cmd_plans(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("BENCH_EXTRA_TAG", "after")
    os.makedirs("plans/r06", exist_ok=True)
    spark = _spark()
    qs = entry_mod.queries()
    import contextlib
    import io

    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        path = f"plans/r06/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:] or DEFAULT_QUERIES
    if cmd == "time":
        cmd_time(names)
    elif cmd == "plans":
        cmd_plans(names)
    else:
        raise SystemExit(f"unknown command {cmd!r}")
