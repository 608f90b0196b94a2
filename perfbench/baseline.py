"""Record a same-host baseline: for each workload, one untraced and one
traced run at one seed, written to ``perfbench/baseline/<workload>-s<seed>.json``
with host facts, the end-to-end metrics, the per-layer metrics, the
per-layer roll-up and the tracing overhead.

    python3 perfbench/baseline.py [--seed 42] [--seconds 10] [workload ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(HERE, ".runs", f"{workload}-s{seed}-t{trace}.json")) as fh:
        return json.load(fh)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    for w in names:
        plain = run(w, args.seed, seconds, 0)
        traced = run(w, args.seed, seconds, 1)
        wall, traced_wall = sum(plain["passes"]), sum(traced["passes"])
        out = {
            "workload": w,
            "host": plain["host"],
            "versions": plain["versions"],
            "launch_env": plain["launch_env"],
            "seconds": seconds,
            "correct": not plain["problems"] and not traced["problems"],
            "end_to_end": plain["metrics"],
            "per_layer": traced["metrics"],
            "layers": traced["layers"],
            "tracing_overhead": {
                "untraced_wall_s": wall,
                "traced_wall_s": traced_wall,
                "overhead_s": traced_wall - wall,
                "overhead_share": (traced_wall - wall) / wall,
            },
            "ops": {"untraced": plain["ops"], "traced": traced["ops"]},
            "spans": traced["spans"],
        }
        path = os.path.join(HERE, "baseline", f"{w}-s{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
        print(f"{w}: wall {wall:.2f} s, traced {traced_wall:.2f} s -> "
              f"{os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
