"""Capture `.explain("formatted")` output per registry query into
plans/<round>/<query>_<tag>.txt (git-ignored): capture a ``before`` and
an ``after`` tag and diff them to check that a change left plans alone.

Usage:
  python tools/capture_plans.py --tag before [--only a,b] [--round r19]

Plans are captured at $SPARK_GRAFT_SF_DIR (default sf0.1) on a session
with the bench's confs. Explain shows the initial AQE plan
(isFinalPlan=false) — the same artifact `df.explain("formatted")` gives
an interactive caller.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True)
    ap.add_argument("--only", default=None)
    ap.add_argument("--round", default="r19")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)

    from energydatalake_spark import release_caches
    from energydatalake_spark.plans.registry import QUERIES, bench_order
    from energydatalake_spark.session import get_spark

    spark = get_spark("capture_plans")

    names = bench_order()
    if args.only:
        want = set(args.only.split(","))
        names = [n for n in names if n in want]

    n_ok = 0
    for name in names:
        try:
            df = QUERIES[name].build(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:
            print(f"# {name}: FAILED {type(exc).__name__}: {exc}"[:300],
                  file=sys.stderr)
            release_caches()
            continue
        # Normalize expression ids so before/after diffs show structure,
        # not id drift? NO — keep raw output (the deliverable is the
        # verbatim explain); diff with `sed s/#[0-9]*//g` when needed.
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(f"query: {name}\nsf_dir: {sf_dir}\n\n{plan}\n")
        release_caches()
        n_ok += 1
    print(f"captured {n_ok}/{len(names)} plans -> {out_dir} (tag={args.tag})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
