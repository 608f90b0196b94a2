"""Run-to-run spread of the end-to-end metrics: runs the benchmark once
per seed and prints, per metric, the median and the distance between
the first and third quartile as a share of the median, next to the
metric's bound and a third of it.

    python3 perfbench/spread.py --workload curation --seeds 1 2 3 4 5
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


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.monotonic() - t0:.0f} s run, correct={out['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(k)
        note = f"bound {b}, third {b / 3:.3f}" if b is not None else ""
        print(f"{k:40s} median {med:12.4f}  spread {spread:.3f}  {note}")


if __name__ == "__main__":
    main()
