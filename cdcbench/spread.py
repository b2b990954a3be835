#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 cdcbench/spread.py --workload fanout_stream --seeds 1-10

Runs the benchmark once per seed (one after another, never in parallel)
and prints, per metric, the median and the distance between the first and
third quartile as a share of the median (``statistics.quantiles(n=4)``),
next to the metric's bound from ``BENCHMARK.json``.  A run that fails
stops the script.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None, help="append each run's two JSON lines here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, *bench["command"][1:], "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        walls.append(time.perf_counter() - t0)
        lines = p.stdout.strip().splitlines()
        if args.out:
            with open(args.out, "a") as fh:
                fh.write("\n".join(lines[-2:]) + "\n")
        res = json.loads(lines[-1]) if lines else {}
        info = json.loads(lines[-2]) if len(lines) > 1 else {}
        if p.returncode != 0 or not res.get("correct"):
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {p.returncode}, {res}", file=sys.stderr)
            return 1
        # every metric the run computed, printed or not
        computed = info.get("all_metrics") or {k: v["value"] for k, v in res["metrics"].items()}
        for k, v in computed.items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed}: {walls[-1]:.1f}s steal {info.get('steal_frac', 0):.2f} " + " ".join(
            f"{k}={v:.4g}" for k, v in computed.items()), flush=True)
    report = {"workload": args.workload, "runs": len(walls),
              "wall_s_median": statistics.median(walls), "metrics": {}}
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        report["metrics"][k] = {
            "median": med,
            "iqr_share": (q[2] - q[0]) / med if med else 0.0,
            "bound": bounds.get(k),
        }
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
