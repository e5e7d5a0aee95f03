"""Run the benchmark over several seeds and report, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median — the
steadiness test the bounds in BENCHMARK.json are checked against.

    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5
        [--seconds S] [--trace 0|1]

Run from the root of a checkout. Each run is a separate process, one
at a time.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=900,
        )
        walls.append(time.perf_counter() - t0)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items() if k in bounds))
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        if k not in bounds and args.trace == 0:
            continue
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        b = bounds.get(k)
        note = "" if b is None else f" bound {b} ({'ok' if spread <= b / 3 else 'WIDE' if spread > b else 'within'})"
        print(f"{k:28s} median {med:14.4f} spread {spread:7.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
