"""The six reference pipelines, re-expressed as config-driven Spark
jobs over local/warehouse directories (SURVEY.md §3).

Parity map (reference script → function here):

- ``pyspark_ercot_load_latest_BQ_archive_csv.py``      → ``load_latest``
- ``ercot_pyspark_load_historical_BQ_archive_csv.py``  → ``load_historical``
- ``pyspark_ercot_load_forecast_BQ_archive_csv.py``    → ``load_forecast``
- ``pyspark_ercot_merge_fm_load_latest_BQ_archive_csv.py`` → ``fm_load_merge``
  (the driver-side pandas merge_asof, merge:59-79, becomes the
  distributed as-of join — the main scalability fix)
- ``test_pyspark_merge_spp_weather.py``                → ``spp_weather_merge``
- ``mergeHistoricalWeather.py``                        → ``merge_historical_weather``
  (per-file union loop, mhw:33-44, becomes one directory scan)

Differences by design, all flagged in SURVEY.md:
empty source = clean no-op (not NameError); dedup applied uniformly
(reference skips it in load_latest only); ONE pass per source — metrics
ride the sink write via ``df.observe`` instead of the reference's 4
rescans; sinks are partitioned Parquet/Delta.

Each function returns a small report dict (row counts, null profile)
— the reference logs the same numbers to stdout for monitoring.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from energydatalake_spark.io.archive import archive_folder
from energydatalake_spark.io.readers import read_csv_folder
from energydatalake_spark.io.schemas import OFFSET_TS_FMT, apply_schema, quote_ident
from energydatalake_spark.io.writers import overwrite_table, upsert_table, write_csv
from energydatalake_spark.operators.asof import asof_join
from energydatalake_spark.operators.band import band_join
from energydatalake_spark.operators.clean import dedup, drop_nulls
from energydatalake_spark.operators.normalize import normalize_columns

SPP_TS_FMT = OFFSET_TS_FMT  # offset-aware (spp:49-51)


@dataclass
class PipelineConfig:
    """Local-dir analogue of the reference's GCS-prefix wiring."""

    source_dir: str
    sink_path: str
    archive_dir: str
    source2_dir: str | None = None
    archive2_dir: str | None = None


def _observed(df: DataFrame) -> tuple[DataFrame, "Observation"]:
    """Attach row-count + per-column null-count metrics via
    ``df.observe`` — the reference re-scans its source once per metric
    (count latest:44, null profile latest:52, SURVEY.md §4 caching row);
    observed metrics ride along the ONE sink-write action for free.
    Each metric is one parsed ``F.expr`` (one py4j call per column)."""
    from pyspark.sql import Observation

    obs = Observation()
    metrics = [F.expr("count(1) AS `rows`")] + [
        F.expr(
            f"sum(cast({quote_ident(c)} IS NULL AS INT)) AS {quote_ident('null__' + c)}"
        )
        for c in df.columns
    ]
    return df.observe(obs, *metrics), obs


def _obs_report(obs) -> dict:
    got = obs.get
    return {
        "rows": got["rows"],
        "null_profile": {
            k[len("null__"):]: v for k, v in got.items() if k.startswith("null__")
        },
    }


def _standard_load(
    spark: SparkSession,
    cfg: PipelineConfig,
    source: str,
    keys: list[str],
    deduplicate: bool,
) -> dict | None:
    raw = read_csv_folder(spark, cfg.source_dir)
    if raw is None:
        return None  # empty-source no-op (fixes merge:35-51 NameError)
    # Declared schema, not per-call cast lists: validates column names
    # (drift → loud SchemaDriftError) then imposes the SURVEY §1.3 types.
    df = apply_schema(normalize_columns(raw), source)
    df = drop_nulls(df)
    if deduplicate:
        df = dedup(df)
    df, obs = _observed(df)
    # Insert-only MERGE on the source's natural key: a re-run over
    # re-delivered files (crash between write and archive) cannot
    # duplicate rows — row-granular exactly-once, not just per-file.
    upsert_table(df, cfg.sink_path, keys=keys, partition_date_col="time")
    rep = _obs_report(obs)  # metrics from the write action — no rescan
    rep["archived"] = archive_folder(cfg.source_dir, cfg.archive_dir)
    return rep


def load_latest(spark: SparkSession, cfg: PipelineConfig) -> dict | None:
    """latest:27-117 — scan, normalize, cast (time/interval_start/
    interval_end + load), clean, append, archive."""
    return _standard_load(
        spark,
        cfg,
        source="load",
        keys=["time"],
        deduplicate=True,  # reference omits dedup here; normalized in rebuild
    )


def load_historical(spark: SparkSession, cfg: PipelineConfig) -> dict | None:
    """hist:25-117 — same shape + dropDuplicates (hist:69)."""
    return _standard_load(spark, cfg, source="load", keys=["time"], deduplicate=True)


def load_forecast(spark: SparkSession, cfg: PipelineConfig) -> dict | None:
    """fcst:26-128 — adds publish_time and the 5 zone measures."""
    return _standard_load(
        spark, cfg, source="load_forecast", keys=["time", "publish_time"],
        deduplicate=True,
    )


def fm_load_merge(spark: SparkSession, cfg: PipelineConfig) -> dict | None:
    """merge:29-161 — fuel_mix ⨝asof load on time, then clean + sink.

    The reference collects both feeds to the driver and runs
    pd.merge_asof single-threaded (merge:59-79). Here the same
    semantics (backward, inclusive, unmatched-then-dropped) run as a
    distributed plan via ``asof_join``; everything else is unchanged.
    """
    fm_raw = read_csv_folder(spark, cfg.source_dir)
    load_raw = read_csv_folder(spark, cfg.source2_dir)
    if fm_raw is None or load_raw is None:
        return None
    fm = apply_schema(normalize_columns(fm_raw), "fuel_mix").drop(
        "interval_start", "interval_end"
    )
    load = apply_schema(normalize_columns(load_raw), "load").select("time", "load")
    # Unparseable timestamps became null (P3); drop before the join —
    # pandas sort_values would have pushed NaT rows to the end, merge_asof
    # rejects them; the reference's data never hits this path because its
    # dropna runs after the merge (merge:78). Nulls on the join key are
    # meaningless either way.
    fm = fm.filter(F.col("time").isNotNull())
    load = load.filter(F.col("time").isNotNull())
    merged = asof_join(fm, load, on="time")
    merged = dedup(drop_nulls(merged))
    merged, obs = _observed(merged)
    upsert_table(merged, cfg.sink_path, keys=["time"], partition_date_col="time")
    rep = _obs_report(obs)
    rep["archived"] = archive_folder(cfg.source_dir, cfg.archive_dir)
    # archive2_dir=None → shared queue: another pipeline owns the load
    # folder's lifecycle (the CLI wires it this way; the reference's two
    # crons race on the same GCS prefix, README.md:143-148).
    if cfg.archive2_dir is not None:
        rep["archived2"] = archive_folder(cfg.source2_dir, cfg.archive2_dir)
    return rep


def spp_weather_merge(spark: SparkSession, cfg: PipelineConfig) -> dict | None:
    """spp:26-134 — weather observations ⨝band SPP intervals per zone.

    Join condition (spp:54-59): same Location AND weather.Date BETWEEN
    Interval_Start AND Interval_End, then the typed 12-column projection
    (spp:62-75) and dedup. The 4-zone equi key is low-cardinality, so
    ``band_join``'s auto dispatch (r19) probes it and adds a time
    bucket to the shuffle key — at 100 TB that's the difference
    between 4 streams and 4×N_buckets (a pipeline test pins that this
    shape derives the hourly unit the pipeline used to hard-code).
    """
    spp_raw = read_csv_folder(spark, cfg.source_dir)
    w_raw = read_csv_folder(spark, cfg.source2_dir)
    if spp_raw is None or w_raw is None:
        return None
    spp = apply_schema(normalize_columns(spp_raw), "spp").withColumnRenamed(
        "time", "price_time"
    )
    weather = apply_schema(normalize_columns(w_raw), "weather_live")
    joined = band_join(
        weather,
        spp,
        left_ts="date",
        right_start="interval_start",
        right_end="interval_end",
        on=["location"],
    )
    # Typed projection, spp:62-75 (12 output columns).
    out = joined.select(
        F.col("location"),
        F.col("date").alias("weather_time"),
        "temperature",
        "temp_min",
        "temp_max",
        "pressure",
        "humidity",
        "wind_speed",
        "price_time",
        "interval_start",
        "interval_end",
        "spp",
    )
    out = dedup(out)
    out, obs = _observed(out)
    upsert_table(
        out,
        cfg.sink_path,
        keys=["location", "weather_time", "interval_start"],
        partition_date_col="weather_time",
    )
    rep = _obs_report(obs)
    rep["archived"] = archive_folder(cfg.source_dir, cfg.archive_dir)
    rep["archived2"] = archive_folder(cfg.source2_dir, cfg.archive2_dir)
    return rep


def merge_historical_weather(spark: SparkSession, cfg: PipelineConfig) -> dict | None:
    """mhw:16-105 — merge per-zone weather CSVs, cast date, clean,
    group-count zones, export CSV + overwrite warehouse table.

    The reference reads each file into its own DataFrame and unions
    them on the driver (mhw:33-44); a directory scan is the same
    logical UNION ALL executed as one parallel job.
    """
    raw = read_csv_folder(spark, cfg.source_dir)
    if raw is None:
        return None
    # The reference declares this table's 19-field schema (FLOAT
    # measures, mhw:71-91) but never applies it — measures would land in
    # the warehouse as strings. apply_schema imposes it for real.
    df = apply_schema(normalize_columns(raw), "weather_historical")
    df = drop_nulls(df)
    # Three consumers here (zone counts, CSV export, warehouse) — cache
    # IS the right tool when several actions share one input.
    df.cache()
    df, obs = _observed(df)
    write_csv(df, os.path.join(cfg.sink_path + "_csv"))  # mhw:62-66
    rep = _obs_report(obs)
    rep["zone_counts"] = {
        r["zone"]: r["count"] for r in df.groupBy("zone").count().collect()
    }  # mhw:56-58
    overwrite_table(df, cfg.sink_path)  # mhw:100-105
    rep["archived"] = archive_folder(cfg.source_dir, cfg.archive_dir)
    df.unpersist()
    return rep
