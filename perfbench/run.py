"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.py``) in a fresh Spark session, checks
the outputs (``gate.py``) and prints every metric with its unit, then, as
the last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics (no tracing);
``--trace 1`` is a separate traced run that reports the per-layer metrics
and keeps its spans and Spark event log under
``.perfbench/trace/<workload>-<seed>/`` for ``report.py``.

Exits 1 if the correctness gate fails, and 1 without a result if the run
cannot complete. Everything it writes stays under ``.perfbench/`` at the
root of the checkout.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [BENCH_DIR, os.path.dirname(BENCH_DIR)]

from common import CORES, WORK_ROOT, fresh_dir  # noqa: E402
from layers import END_TO_END, PER_LAYER  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import SHAPES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SHAPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true",
                   help="tiny inputs, for the benchmark's self-tests")
    return p.parse_args(argv)


def run(args: argparse.Namespace) -> dict:
    from workloads import make_workload

    trace_dir = None
    tracer_factory = None
    if args.trace:
        from tracing import Tracer

        trace_dir = fresh_dir(os.path.join(WORK_ROOT, "trace", f"{args.workload}-{args.seed}"))
        tracer_factory = Tracer
    w = make_workload(args.workload, args.seed, args.seconds, WORK_ROOT, args.small,
                      tracer_factory)
    os.environ["TMPDIR"] = w.work
    try:
        w.set_up(os.path.join(trace_dir, "eventlog") if trace_dir else None)
        w.measure()
        t = time.perf_counter()
        w.check()
        print(f"correctness gate took {time.perf_counter() - t:.1f} s", file=sys.stderr)
        if trace_dir:
            w.tracer.dump(os.path.join(trace_dir, "spans.json"))
            with open(os.path.join(trace_dir, "run.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "cores": CORES,
                           "setup": w.setup,
                           "cycles": [dataclasses.asdict(c) for c in w.cycles],
                           "lookup_reports": w.lookup_reports,
                           "query_window": w.query_window}, f)
    finally:
        if w.spark is not None:
            w.close()  # also flushes the event log
        shutil.rmtree(w.work, ignore_errors=True)

    if trace_dir:
        from report import per_layer

        units = {k: v[0] for k, v in PER_LAYER.items()}
        values = per_layer(trace_dir)
    else:
        units = END_TO_END
        values = w.end_to_end()
    for msg in w.failures:
        print(f"FAILED: {msg}")
    for name, value in values.items():
        print(f"{name:32} {value:14.4f} {units[name]}")
    print(f"{'operations attempted':32} {w.attempted:14d}")
    print(f"{'operations failed':32} {w.failed:14d}")
    return {"correct": w.failed == 0, "attempted": w.attempted, "failed": w.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}


def main(argv: list[str]) -> int:
    result = run(parse_args(argv))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
