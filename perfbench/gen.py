"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of ``seed``:

- ``write_tables``: the ten registry tables (``region nation customer
  supplier part orders lineitem events documents embeddings``) as one
  parquet file each, with the schemas, key ranges and value domains of
  the TPC-H-ish test data described in TESTDATA.md, at a chosen scale
  factor.
- ``batch_frames`` / ``land_batch``: the ERCOT/weather CSV feeds of
  ``energydatalake_spark.pipelines.fixtures``, one set per batch, each
  batch shifted one window later than the last so the pipeline sinks
  grow from batch to batch.

Nothing here starts Spark.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PART_WORDS = ["small", "red", "blue", "large", "green", "steel"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window order data column join small customer query big "
    "stream group filter vector sessionize"
).split()


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Short single-line docs over a small vocabulary, with planted
    shared spans, ~1% exact duplicates and a shared pool of boilerplate
    phrases, so every dedup and filter tier finds real structure."""
    spans = [list(rng.choice(VOCAB, size=6)) for _ in range(max(20, n_docs // 25))]
    boiler = [" ".join(rng.choice(VOCAB, size=5)) for _ in range(8)]
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        toks = list(rng.choice(VOCAB, size=int(rng.integers(8, 80))))
        if len(toks) > 12 and rng.random() < 0.3:
            span = spans[int(rng.integers(0, len(spans)))]
            p = int(rng.integers(0, len(toks) - 6))
            toks[p : p + 6] = span
        text = " ".join(toks)
        if rng.random() < 0.1:
            text = text + " " + boiler[int(rng.integers(0, len(boiler)))]
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """Unit-norm 64-dim vectors in 10 clusters plus ~2% near-duplicate
    twins of earlier vectors."""
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_vecs, 64))
    for i in np.flatnonzero(rng.random(n_vecs) < 0.02):
        if i:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.01 * rng.normal(size=64)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale ``sf`` (lineitem ~6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng.uniform(1000, 500_000, n_ord)),
            "o_orderdate": _ts(_dates(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    # lineitem: 1-7 lines per order, ~4 lines per order on average
    n_lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), n_lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * rng.uniform(900, 2100, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _ts(_dates(rng, n_li, "1995-01-02", "2001-11-04")),
        }
    )
    gaps = rng.exponential(30 * 86_400e6 / n_events, n_events).astype(np.int64)
    ev_ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    ks = rng.integers(0, 100, n_events)
    bad = rng.random(n_events)
    props = [
        "{'k': %d}" % k if b < 0.01 else ("{}" if b < 0.02 else '{"k": %d}' % k)
        for k, b in zip(ks, bad)
    ]
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
            "value": _money(rng.exponential(25, n_events) + 0.01),
            "props": props,
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- ingest

_TS = re.compile(r"^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d")


def _shift(col: pd.Series, delta: pd.Timedelta) -> pd.Series:
    """Shift every timestamp string in ``col`` by ``delta`` and keep
    its text form (offset suffixes and malformed values survive)."""

    def one(v):
        if not isinstance(v, str) or not _TS.match(v):
            return v
        head = (pd.Timestamp(v[:19]) + delta).strftime("%Y-%m-%d %H:%M:%S")
        return head + v[19:]

    return col.map(one)


#: feed -> (queue folder under the lake root, fixture generator name)
FEEDS = {
    "fuel_mix": (("ercot_fm_csv", "fm_latest"), "gen_fuel_mix"),
    "load_latest": (("ercot_load_csv", "load_latest"), "gen_load"),
    "load_forecast": (("ercot_load_forecast_csv",), "gen_load_forecast"),
    "spp": (("ercot_spp_csv", "spp_latest"), "gen_spp"),
    "weather_live": (
        ("openweather_live_data", "quarter_hourly_weather_data"),
        "gen_weather_live",
    ),
    "weather_historical": (
        ("openmeteo-weather", "hourly-historical-weather-data"),
        "gen_weather_historical",
    ),
}
TS_COLS = ("Time", "Interval Start", "Interval End", "Publish Time", "Date", "date")
BATCH_WINDOW = pd.Timedelta(days=8)


def batch_frames(seed: int, batch: int) -> dict[str, list[tuple[str, pd.DataFrame]]]:
    """One ingest batch: feed -> [(file name, frame)], drawn from the
    fixture generators with a (seed, batch) stream and shifted
    ``batch`` windows later than batch 0."""
    from energydatalake_spark.pipelines import fixtures

    rng = np.random.default_rng([seed, batch])
    delta = BATCH_WINDOW * batch
    out: dict[str, list[tuple[str, pd.DataFrame]]] = {}
    for feed, (_, gen) in FEEDS.items():
        got = getattr(fixtures, gen)(rng)
        parts = (
            list(got.items())
            if isinstance(got, dict)
            else [(f"part{i}", got.iloc[idx]) for i, idx in
                  enumerate(np.array_split(np.arange(len(got)), 3))]
        )
        frames = []
        for stem, df in parts:
            df = df.copy()
            for c in TS_COLS:
                if c in df.columns:
                    df[c] = _shift(df[c], delta)
            frames.append((f"b{batch:03d}_{stem}.csv", df))
        out[feed] = frames
    return out


def land_batch(lake: str, frames: dict[str, list[tuple[str, pd.DataFrame]]]) -> int:
    """Write one batch's CSVs into the lake's queue folders; returns the
    bytes landed."""
    landed = 0
    for feed, files in frames.items():
        folder = os.path.join(lake, *FEEDS[feed][0])
        os.makedirs(folder, exist_ok=True)
        for name, df in files:
            path = os.path.join(folder, name)
            df.to_csv(path, index=False)
            landed += os.path.getsize(path)
    return landed
