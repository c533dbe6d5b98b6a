"""Steadiness of the benchmark on one commit: run one workload with several
seeds and print, per metric, the median, the quartiles and the spread
(interquartile distance over the median), next to the metric's bound in
BENCHMARK.json when there is one.

    python3 perfbench/steady.py --workload query --seeds 1-10

Runs one after another, from the checkout root, so they do not compete.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=None, help="default: run_seconds")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else {}
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench.get("end_to_end", [])}

    values: dict[str, list[float]] = {}
    shares, walls = [], []
    for seed in seeds(args.seeds):
        cmd = [
            sys.executable, "perfbench/run.py", "--workload", args.workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
        ]
        t = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.monotonic() - t)
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        shares.append(res["failed"] / res["attempted"])
        print(
            f"seed {seed}: correct={res['correct']} attempted={res['attempted']}"
            f" failed={res['failed']} wall={walls[-1]:.1f}s "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True,
        )
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / abs(med) if med else float("nan")
        b = bounds.get(k)
        print(f"{k:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {b if b is not None else '':>6}")
    print(f"\nfailed share per run: {sorted(set(shares))}; wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
