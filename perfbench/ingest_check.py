"""Correctness checks for the ``ingest`` workload, read from the lake
after the run:

- no duplicate natural keys in any insert-only MERGE sink;
- every landed file is in its archive folder;
- the landing queues are empty;
- each sink's row count matches the count derived in pandas from the
  generated batches (parse, drop nulls, as-of / band join, dedup on the
  natural key), independently of the engine.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.dataset as ds

from gen import FEEDS, batch_frames

#: upsert sink -> natural key
SINK_KEYS = {
    "fm_load_merge": ["time"],
    "load_latest": ["time"],
    "load_forecast": ["time", "publish_time"],
    "spp_weather_merge": ["location", "weather_time", "interval_start"],
}

#: feed -> (pipeline config, attribute naming its archive folder)
FEED_ARCHIVE = {
    "fuel_mix": ("fm_load_merge", "archive_dir"),
    "load_latest": ("load_latest", "archive_dir"),
    "load_forecast": ("load_forecast", "archive_dir"),
    "spp": ("spp_weather_merge", "archive_dir"),
    "weather_live": ("spp_weather_merge", "archive2_dir"),
    "weather_historical": ("merge_historical_weather", "archive_dir"),
}


def _ts(col: pd.Series, offset: bool = False) -> pd.Series:
    fmt = "%Y-%m-%d %H:%M:%S%z" if offset else "%Y-%m-%d %H:%M:%S"
    out = pd.to_datetime(col, format=fmt, errors="coerce", utc=True)
    return out


def _feed(frames: list[dict], feed: str) -> pd.DataFrame:
    return pd.concat([df for fr in frames for _, df in fr[feed]], ignore_index=True)


def expected_rows(seed: int, batches: list[int]) -> dict[str, int]:
    """Sink row counts the five jobs must leave after ``batches``."""
    frames = [batch_frames(seed, b) for b in batches]
    exp: dict[str, int] = {}

    load = _feed(frames, "load_latest")
    lt = pd.DataFrame(
        {
            "time": _ts(load["Time"]),
            "s": _ts(load["Interval Start"]),
            "e": _ts(load["Interval End"]),
            "load": load["Load"],
        }
    )
    exp["load_latest"] = lt.dropna()["time"].nunique()

    fc = _feed(frames, "load_forecast")
    ft = pd.DataFrame(
        {
            "time": _ts(fc["Time"]),
            "s": _ts(fc["Interval Start"]),
            "e": _ts(fc["Interval End"]),
            "pub": _ts(fc["Publish Time"]),
            **{c: fc[c] for c in ("North", "South", "West", "Houston", "System Total")},
        }
    ).dropna()
    exp["load_forecast"] = len(ft.drop_duplicates(["time", "pub"]))

    # fm_load_merge: each batch's fuel mix meets only that batch's load
    # rows (load_latest archives the shared queue after the merge).
    fm_keys: set = set()
    for fr in frames:
        fm = pd.concat([df for _, df in fr["fuel_mix"]], ignore_index=True)
        ld = pd.concat([df for _, df in fr["load_latest"]], ignore_index=True)
        left = fm.drop(columns=["Interval Start", "Interval End"]).assign(
            time=_ts(fm["Time"])
        ).drop(columns=["Time"]).dropna(subset=["time"])
        right = pd.DataFrame({"time": _ts(ld["Time"]), "load": ld["Load"]})
        right = right.dropna(subset=["time"]).sort_values("time")
        # ties at one timestamp resolve to the largest payload
        right = right.groupby("time", as_index=False)["load"].max()
        merged = pd.merge_asof(
            left.sort_values("time"), right, on="time", direction="backward"
        )
        fm_keys |= set(merged.dropna()["time"])
    exp["fm_load_merge"] = len(fm_keys)

    band_keys: set = set()
    for fr in frames:
        spp = pd.concat([df for _, df in fr["spp"]], ignore_index=True)
        w = pd.concat([df for _, df in fr["weather_live"]], ignore_index=True)
        spp = pd.DataFrame(
            {
                "location": spp["Location"],
                "s": _ts(spp["Interval Start"], offset=True),
                "e": _ts(spp["Interval End"], offset=True),
            }
        )
        w = pd.DataFrame({"location": w["Location"], "d": _ts(w["Date"], offset=True)})
        j = w.merge(spp, on="location")
        j = j[(j["d"] >= j["s"]) & (j["d"] <= j["e"])]
        band_keys |= set(zip(j["location"], j["d"], j["s"]))
    exp["spp_weather_merge"] = len(band_keys)

    last = pd.concat([df for _, df in frames[-1]["weather_historical"]], ignore_index=True)
    last = last.assign(date=_ts(last["date"]))
    exp["merge_historical_weather"] = len(last.dropna())
    return exp


def check(lake: str, configs: dict, seed: int, landed: dict) -> list[str]:
    """Every failed check, as one line each; empty means correct."""
    problems: list[str] = []
    batches = sorted(int(b) for b in landed)
    if not batches:
        return ["no batch landed"]
    want = expected_rows(seed, batches)
    for job, cfg in configs.items():
        if not os.path.isdir(cfg.sink_path):
            problems.append(f"{job}: sink missing")
            continue
        tbl = ds.dataset(cfg.sink_path, format="parquet", partitioning="hive").to_table()
        if tbl.num_rows != want[job]:
            problems.append(f"{job}: {tbl.num_rows} sink rows, expected {want[job]}")
        keys = SINK_KEYS.get(job)
        if keys:
            df = tbl.select(keys).to_pandas()
            dup = int(df.duplicated().sum())
            if dup:
                problems.append(f"{job}: {dup} duplicate natural keys")
    for feed, (job, attr) in FEED_ARCHIVE.items():
        queue = os.path.join(lake, *FEEDS[feed][0])
        left = [n for n in os.listdir(queue) if n.endswith(".csv")] if os.path.isdir(queue) else []
        if left:
            problems.append(f"{feed}: {len(left)} files left in the landing queue")
        archive = getattr(configs[job], attr)
        have = set(os.listdir(archive)) if os.path.isdir(archive) else set()
        for b in batches:
            lost = [n for n in landed[b][feed] if n not in have]
            if lost:
                problems.append(f"{feed}: batch {b} files not archived: {lost}")
    return problems
