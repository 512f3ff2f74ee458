"""Steadiness check: repeat one workload with different seeds and print each
end-to-end metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py --workload trickle_mor --runs 10 [--first-seed 1]

The spread is ``(q3 - q1) / median`` with quartiles from
``statistics.quantiles(values, n=4)``; the bound comes from
``BENCHMARK.json``. Each run also records a host-drift diagnostic (CPU steal
share during the run from ``/proc/stat`` and the 1-minute load average at
its start). The diagnostic is reported, never gated. Results are also
written to ``.perfbench/steady/<workload>-<first seed>-<runs>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from common import WORK_ROOT, quartiles  # noqa: E402


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def one_run(workload: str, seed: int, seconds: int) -> dict:
    steal0, total0 = cpu_times()
    load = loadavg()
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    steal1, total1 = cpu_times()
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode in (0, 1) and lines else None
    return {"seed": seed, "returncode": proc.returncode, "wall_s": wall,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "loadavg_1m": load, "result": result,
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else ""}


def summarize(runs: list[dict], bounds: dict[str, float]) -> list[dict]:
    ok = [r["result"] for r in runs if r["result"]]
    rows = []
    for name, bound in bounds.items():
        vals = [res["metrics"][name]["value"] for res in ok if name in res["metrics"]]
        if not vals:
            continue
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("inf")
        rows.append({"metric": name, "unit": ok[0]["metrics"][name]["unit"], "n": len(vals),
                     "median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound})
    return rows


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for i in range(args.runs):
        r = one_run(args.workload, args.first_seed + i, seconds)
        runs.append(r)
        res = r["result"] or {}
        print(f"seed {r['seed']:4d}  exit {r['returncode']}  wall {r['wall_s']:6.1f} s  "
              f"steal {100 * r['steal_share']:5.1f}%  load {r['loadavg_1m']:5.2f}  "
              f"correct {res.get('correct')}  failed {res.get('failed')}", flush=True)
        if r["returncode"] not in (0,):
            print(r["stderr_tail"], file=sys.stderr)

    rows = summarize(runs, bounds)
    print(f"\n{args.workload}: {len(runs)} runs of {seconds} s")
    print(f"  {'metric':16} {'unit':9} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for r in rows:
        if r["spread"] <= r["bound"] / 3:
            verdict = "steady (< bound/3)"
        elif r["spread"] <= r["bound"]:
            verdict = "within bound"
        else:
            verdict = "TOO NOISY"
        if r["metric"] == "setup_s":
            verdict += " (not gated)"
        print(f"  {r['metric']:16} {r['unit']:9} {r['median']:12.4f} {r['q1']:12.4f} "
              f"{r['q3']:12.4f} {r['spread']:7.3f} {r['bound']:6.2f}  {verdict}")
    out_dir = os.path.join(WORK_ROOT, "steady")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-{args.first_seed}-{args.runs}.json")
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "seconds": seconds, "runs": runs,
                   "summary": rows}, f, indent=1)
    print(f"\nwritten to {os.path.relpath(out, REPO_ROOT)}")
    return 0 if all(r["returncode"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
