"""MERGE-sink-at-scale probe (front-running the r17.11 r18 note (d)):
the one streaming surface without heavy-scale evidence after r17.5 is
``stream_folder_upsert``'s per-batch cost as the WAREHOUSE grows — the
anti-join MERGE reads the target, so the scale question is whether
per-tick cost tracks batch size (healthy) or warehouse size (a
quadratic-total scale-killer over the feed's lifetime).

Scenario: ``PASSES`` cron ticks; each tick lands one ``ROWS_PER_FILE``
CSV file (10% of rows re-deliver the previous day's keys with
previous-day timestamps — same dt partition as the originals, freshly
sampled within day i-1; the racing-cron/producer-retry shape the MERGE
exists for) and runs one ``stream_folder_upsert`` AvailableNow pass
against the same checkpoint. Two sinks measured over identical input:

- ``partitioned`` — ``partition_date_col`` set: the read-back reads
  only the directories of the ~2 dt partitions each batch touches
  (io/writers.py:upsert_table), so per-tick cost should stay FLAT as
  the warehouse grows;
- ``flat`` — unpartitioned: the anti-join's target-keys scan reads the
  WHOLE warehouse every tick, so per-tick cost should grow linearly
  with accumulated rows (the documented degenerate case: partition
  your tables).

Both variants assert warehouse rows == distinct keys at the end
(re-deliveries must not duplicate). Reported per variant: per-tick
walls, and the least-squares slope of wall vs warehouse M-rows — the
number that extrapolates: a 100 TB feed lives at the slope, not the
intercept. Merges into BENCHHEAVY_sf10.json under ``upsert_x100``.
One fresh JVM per variant (scale_probe precedent).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/tmp/sfgen/upsert_x100"
PASSES = 40
ROWS_PER_FILE = 500_000
REDELIVER_RATE = 0.10
_GEN_SEED = 20260816
T0_EPOCH = 1_767_225_600  # 2026-01-01T00:00:00Z (no Date.now in probes)
SCHEMA = "event_id bigint, ts timestamp, v double"
VARIANTS = ("partitioned", "flat")


def _tick_frame(i: int, rng: np.random.Generator):
    """Rows for tick ``i``: fresh keys on day i, plus re-delivered rows
    copying the previous day's keys with previous-day timestamps
    (uniform within day i-1 — same dt partition as the originals, not
    the original rows' exact ts values)."""
    n_dup = int(ROWS_PER_FILE * REDELIVER_RATE) if i > 0 else 0
    n_new = ROWS_PER_FILE - n_dup
    base = i * 10_000_000
    fresh = np.arange(base, base + n_new, dtype=np.int64)
    ts_new = T0_EPOCH + i * 86_400 + rng.integers(0, 86_400, size=n_new)
    if n_dup:
        prev_base = (i - 1) * 10_000_000
        prev_n = ROWS_PER_FILE - (
            int(ROWS_PER_FILE * REDELIVER_RATE) if i > 1 else 0
        )
        dup_keys = prev_base + rng.integers(0, prev_n, size=n_dup)
        ts_dup = (
            T0_EPOCH + (i - 1) * 86_400 + rng.integers(0, 86_400, size=n_dup)
        )
        keys = np.concatenate([fresh, dup_keys])
        ts = np.concatenate([ts_new, ts_dup])
    else:
        keys, ts = fresh, ts_new
    order = rng.permutation(len(keys))
    return keys[order], ts[order], rng.random(len(keys)), n_new


def write_tick_csv(path: str, i: int, rng: np.random.Generator) -> int:
    import pandas as pd

    keys, ts, v, n_new = _tick_frame(i, rng)
    pd.DataFrame(
        {
            "event_id": keys,
            "ts": pd.to_datetime(ts, unit="s").strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "v": v,
        }
    ).to_csv(path, index=False)
    return n_new


def run_variant(variant: str) -> dict:
    from pyspark.sql import functions as F

    from energydatalake_spark.session import get_spark
    from energydatalake_spark.streaming.file_queue import stream_folder_upsert

    root = os.path.join(BASE, variant)
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "incoming")
    sink = os.path.join(root, "warehouse")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src, exist_ok=True)
    spark = get_spark(f"probe_upsert_{variant}")
    rng = np.random.default_rng(_GEN_SEED)

    # absorb first-streaming-query + first-CSV-scan bring-up so tick 0
    # measures the merge, not session init (bench warm-up precedent)
    warm = os.path.join(root, "warm")
    os.makedirs(warm + "/in", exist_ok=True)
    with open(warm + "/in/w.csv", "w") as fh:
        fh.write("event_id,ts,v\n1,2026-01-01 00:00:00,0.5\n")
    for k in (1, 2):  # pass 1 takes the empty-sink append branch; pass 2
        # lands a second file so the MERGE (anti-join) plan compiles
        # untimed too — otherwise tick 1 pays it (r17 smoke: 5.7 s)
        with open(warm + f"/in/w{k}.csv", "w") as fh:
            fh.write(f"event_id,ts,v\n{k + 1},2026-01-01 00:00:00,0.5\n")
        stream_folder_upsert(
            spark, warm + "/in", SCHEMA, warm + "/out", warm + "/ck",
            keys=["event_id"],
            partition_date_col="ts" if variant == "partitioned" else None,
        )

    ticks = []
    n_unique = 0
    for i in range(PASSES):
        n_unique += write_tick_csv(
            os.path.join(src, f"tick{i:04d}.csv"), i, rng
        )
        t0 = time.perf_counter()
        stream_folder_upsert(
            spark, src, SCHEMA, sink, ckpt,
            keys=["event_id"],
            partition_date_col="ts" if variant == "partitioned" else None,
        )
        wall = round(time.perf_counter() - t0, 3)
        ticks.append(
            {
                "tick": i,
                "wall_sec": wall,
                # the TRUE accumulated unique-row count (ADVICE r17):
                # n_unique already includes this tick's n_new, and the
                # warehouse holds exactly the unique keys after dedup
                "warehouse_mrows": round(n_unique / 1e6, 2),
            }
        )
        print(f"# {variant} tick {i}: {wall}s", file=sys.stderr)
    rows = spark.read.parquet(sink).count()
    dup_check = (
        spark.read.parquet(sink)
        .groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    # slope of wall vs accumulated UNIQUE M-rows — the rows the
    # warehouse actually holds (ADVICE r17: fitting against gross input
    # (i+1)*ROWS_PER_FILE biased the slope ~10% low) — the number that
    # extrapolates: lifetime cost lives at the slope, not the intercept
    x = np.array([t["warehouse_mrows"] for t in ticks])
    y = np.array([t["wall_sec"] for t in ticks])
    slope, intercept = np.polyfit(x, y, 1)
    return {
        "variant": variant,
        "rows_final": rows,
        "rows_expected": n_unique,
        "rows_match": rows == n_unique,
        "duplicate_keys": dup_check,
        "ticks_head": [t["wall_sec"] for t in ticks[:5]],
        "ticks_tail": [t["wall_sec"] for t in ticks[-5:]],
        "slope_sec_per_mrow": round(float(slope), 4),
        "intercept_sec": round(float(intercept), 3),
        "total_sec": round(float(y.sum()), 1),
        "ticks": ticks,
    }


def merge(results: dict) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "BENCHHEAVY_sf10.json")
    prior = json.load(open(path)) if os.path.exists(path) else {}
    sect = prior.get("upsert_x100", {})
    sect["manifest"] = {
        "passes": PASSES,
        "rows_per_file": ROWS_PER_FILE,
        "redeliver_rate": REDELIVER_RATE,
        "seed": _GEN_SEED,
    }
    sect.update(results)
    prior["upsert_x100"] = sect
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(prior, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)


def main() -> None:
    if "--variant" in sys.argv:
        v = sys.argv[sys.argv.index("--variant") + 1]
        out = run_variant(v)
        with open(os.path.join(BASE, f"result_{v}.json"), "w") as fh:
            json.dump(out, fh, indent=1)
        print(json.dumps({k: w for k, w in out.items() if k != "ticks"}))
        return
    os.makedirs(BASE, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    results = {}
    for v in VARIANTS:
        print(f"== {v}", file=sys.stderr)
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__), "--variant", v]
        )
        if rc != 0:
            print(f"{v} exited {rc}; continuing", file=sys.stderr)
            continue
        d = json.load(open(os.path.join(BASE, f"result_{v}.json")))
        d.pop("ticks", None)  # per-tick detail stays in /tmp result files
        results[v] = d
        merge(results)
        print(f"merged {v}", file=sys.stderr)


if __name__ == "__main__":
    main()
