#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median
and the quartile spread as a share of the median — the steadiness test the
bounds in BENCHMARK.json are held to.

    python3 perfbench/spread.py --workload query --seeds 1-10 [--trace 0]

Each run's JSON result line is appended to ``--out`` (default
``.perfbench/spread-<workload>.jsonl``) so a cut session keeps what it had.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.stats import iqr_share  # noqa: E402


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    out = Path(args.out or f".perfbench/spread-{args.workload}.jsonl")
    out.parent.mkdir(exist_ok=True)
    results = []
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.time() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = seed, wall
        with out.open("a") as f:
            f.write(json.dumps(res) + "\n")
        results.append(res)
        print(f"seed {seed}: {wall:.0f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", file=sys.stderr)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"{'metric':40s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        spread = iqr_share(vals) if len(vals) >= 2 else float("nan")
        b = bounds.get(name)
        print(f"{name:40s} {statistics.median(vals):12.4f} {spread:8.3f} "
              f"{'' if b is None else b:>6}")
    print(f"runs {len(results)}, wall median {statistics.median(r['wall_s'] for r in results):.1f} s, "
          f"all correct: {all(r['correct'] for r in results)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
