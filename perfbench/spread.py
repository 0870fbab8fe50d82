"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload recall_serve --seeds 1-10 [--trace 0|1]
    python3 perfbench/spread.py --workload recall_serve --seeds 1-5 --overhead

For every metric: the median and the interquartile range as a share of the
median (``statistics.quantiles(values, n=4)``), which is how run-to-run
steadiness is judged against the bounds in BENCHMARK.json. Also prints each
run's wall time. ``--overhead`` runs each seed untraced and traced and
reports tracing overhead: the traced window's ``ops_per_s`` and
``cpu_s_per_op`` minus the untraced run's, over the same ops.
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


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or str(bench["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        traces = ["0", "1"] if args.overhead else [args.trace]
        runs = {}
        for trace in traces:
            cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
                   "--seconds", seconds, "--trace", trace]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                print(f"seed {seed}: exit {proc.returncode}")
                return 1
            res = runs[trace] = json.loads(proc.stdout.strip().splitlines()[-1])
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"seed {seed}: {wall:.1f} s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {vals}", flush=True)
        if args.overhead:
            res = {"metrics": {
                f"overhead.{k}": {"value": runs["1"]["metrics"][f"trace.{k}"]["value"]
                                  - runs["0"]["metrics"][k]["value"]}
                for k in ("ops_per_s", "cpu_s_per_op")}}
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / abs(med) if med else float("nan")
        bound = bounds.get(k)
        flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE")
        print(f"{k:40s} median {med:12.4f}  iqr/median {spread:6.3f}"
              f"{'' if bound is None else f'  bound {bound}'}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
