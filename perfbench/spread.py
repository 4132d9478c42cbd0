"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload lake --seeds 1 2 3 4 5 [--trace 0]

Runs ``perfbench/run.py`` once per seed, one after another, and prints per
metric the median over the runs and the spread: the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a share
of the median, next to a third of the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.monotonic()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.monotonic() - t0
        lines = out.stdout.strip().splitlines()
        last = lines[-1] if lines else ""
        host = next((json.loads(ln[len("# host "):]) for ln in lines
                     if ln.startswith("# host ")), {})
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            print(f"seed {seed}: exit {out.returncode}, no result\n{out.stderr[-2000:]}")
            continue
        print(f"seed {seed}: exit {out.returncode} wall {wall:.1f} s "
              f"steal {host.get('cpu_steal_share', float('nan')):.3f} correct {res['correct']} "
              f"failed {res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for ln in lines:
            if ln.startswith("peak_rss_mb "):
                values.setdefault("(report) peak_rss_mb", []).append(float(ln.split()[1]))
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / abs(med)
        else:
            spread = float("nan")
        b = bounds.get(k)
        lim = f"bound/3 {b / 3:.3f}" if b else ""
        print(f"{k:32s} median {med:12.5g}  spread {spread:7.3f}  {lim}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
