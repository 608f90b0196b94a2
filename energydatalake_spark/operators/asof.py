"""Distributed as-of (nearest-key backward) join — SURVEY.md §2.4 J1.

The reference performs this merge by collecting BOTH sides to the
driver and running ``pd.merge_asof`` single-threaded
(``PySpark Scripts/pyspark_ercot_merge_fm_load_latest_BQ_archive_csv.py:59-79``)
— the one operator in the reference that cannot scale. This module
re-expresses the same semantics as a Catalyst plan:

    union both sides (right rows carry a struct of their payload)
    → window per key ordered by (ts, side) with right-before-left ties
    → ``last(payload, ignorenulls=True)`` running fill
    → keep left rows.

One shuffle (the window sort), no driver round-trip, no UDF — the fill
is whole-stage-codegen'd. Semantics match ``pd.merge_asof``'s defaults:
backward search, inclusive (a right row at exactly ``ts`` matches), and
rows before the first right row get nulls (the reference then drops
them via ``dropna``, merge:78 — callers use ``drop_nulls`` for parity).

Scale notes (100 TB):
- With a ``by`` key of reasonable cardinality the window partitions by
  key and parallelizes perfectly; skewed keys are split by AQE.
- With NO key (the reference's case: system-wide fuel-mix vs load) a
  single window partition would serialize. ``asof_join`` then
  range-partitions on the time axis and runs the same fill per range
  bucket, fixing bucket boundaries with a broadcast of each bucket's
  last right row — see ``_global_asof``.

``asof_join_pandas`` is the per-key ``applyInPandas`` + ``merge_asof``
parity oracle (SURVEY.md §7 Phase 2) used by tests to cross-check the
native implementation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from energydatalake_spark.operators.dispatch import (
    ASOF_AUTO_CONF,
    axis_double,
    keys_below_threshold,
)

_PAYLOAD = "__asof_payload"
_SIDE = "__asof_is_left"
_BUCKET = "__asof_bucket"

def _right_payload_fields(right: DataFrame, on: str, by: Sequence[str]) -> list[str]:
    skip = {on, *by}
    return [c for c in right.columns if c not in skip]


def _tagged_union(
    left: DataFrame, right: DataFrame, on: str, by: Sequence[str], rvals: list[str]
) -> tuple[DataFrame, T.StructType]:
    """Union with right rows carrying their payload as ONE struct so the
    running fill picks the latest right row atomically (a null inside a
    right row's payload must be carried, not skipped)."""
    payload_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in rvals]
        + [T.StructField(on, right.schema[on].dataType)]
    )
    l2 = left.withColumn(_SIDE, F.lit(1)).withColumn(
        _PAYLOAD, F.lit(None).cast(payload_type)
    )
    r2 = (
        right.select(
            *[F.col(k) for k in by],
            F.col(on),
            F.struct(*[F.col(c) for c in rvals], F.col(on).alias(on)).alias(_PAYLOAD),
        )
        .withColumn(_SIDE, F.lit(0))
        .withColumns(
            {
                c: F.lit(None).cast(left.schema[c].dataType)
                for c in left.columns
                if c not in {on, *by}
            }
        )
    )
    return l2.unionByName(r2), payload_type


def _fill_and_project(
    unioned: DataFrame,
    left_cols: list[str],
    on: str,
    rvals: list[str],
    partition_cols: Sequence[str],
    tolerance_seconds: float | None,
    right_ts_alias: str | None,
    direction: str = "backward",
) -> DataFrame:
    """Directional running fill(s) + tolerance + projection.

    backward: ``last(payload, ignorenulls)`` over the preceding frame,
    right rows ordered BEFORE left rows at equal ``on`` (inclusive
    match), max payload wins right-side timestamp ties.
    forward: the mirror image — ``first`` over the following frame,
    left before right at equal ``on``, min payload wins ties.
    nearest: both fills in the same partitioning (one shuffle, two
    sorts), then the closer side per row; equal distances prefer the
    backward row (pd.merge_asof parity, verified in the property suite).
    Tolerance applies per direction before the nearest choice, so an
    out-of-tolerance backward candidate loses to an in-tolerance
    forward one.
    """

    def _ax(col) -> "F.Column":
        return axis_double(unioned, col, on)

    def _fill(d: str):
        if d == "backward":
            w = Window.partitionBy(*partition_cols).orderBy(
                F.col(on).asc(), F.col(_SIDE).asc(), F.col(_PAYLOAD).asc()
            )
            return F.last(_PAYLOAD, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        w = Window.partitionBy(*partition_cols).orderBy(
            F.col(on).asc(), F.col(_SIDE).desc(), F.col(_PAYLOAD).asc()
        )
        return F.first(_PAYLOAD, ignorenulls=True).over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )

    def _tol(payload, d: str):
        if tolerance_seconds is None:
            return payload
        dist = (
            _ax(F.col(on)) - _ax(payload[on])
            if d == "backward"
            else _ax(payload[on]) - _ax(F.col(on))
        )
        return F.when(dist <= F.lit(float(tolerance_seconds)), payload)

    if direction == "nearest":
        filled = unioned.withColumn("__pb", _fill("backward")).withColumn(
            "__pf", _fill("forward")
        )
        out = filled.filter(F.col(_SIDE) == 1)
        pb = _tol(F.col("__pb"), "backward")
        pf = _tol(F.col("__pf"), "forward")
        dist_b = _ax(F.col(on)) - _ax(F.col(f"__pb.{on}"))
        dist_f = _ax(F.col(f"__pf.{on}")) - _ax(F.col(on))
        choose = (
            F.when(pb.isNull(), pf)
            .when(pf.isNull(), pb)
            .when(dist_b <= dist_f, pb)  # tie → backward (pandas parity)
            .otherwise(pf)
        )
        out = out.withColumn(_PAYLOAD, choose)
    else:
        filled = unioned.withColumn(_PAYLOAD, _fill(direction))
        out = filled.filter(F.col(_SIDE) == 1)
        if tolerance_seconds is not None:
            out = out.withColumn(_PAYLOAD, _tol(F.col(_PAYLOAD), direction))
    proj = [F.col(c) for c in left_cols]
    proj += [F.col(f"{_PAYLOAD}.{c}").alias(c) for c in rvals]
    if right_ts_alias:
        proj.append(F.col(f"{_PAYLOAD}.{on}").alias(right_ts_alias))
    return out.select(*proj)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | None = None,
    tolerance_seconds: float | None = None,
    right_ts_alias: str | None = None,
    time_buckets: int = 64,
    direction: str = "backward",
    bucket_by_time: bool | None = None,
) -> DataFrame:
    """As-of join: for each left row, the matching right row within the
    same ``by`` key (if given) —

    - ``backward`` (default): most recent right with ``right.on <=
      left.on`` (the reference's pd.merge_asof semantics, merge:59-79);
    - ``forward``: earliest right with ``right.on >= left.on``;
    - ``nearest``: whichever side is closer in absolute distance,
      backward preferred on exact ties (pd.merge_asof parity).

    Right payload columns must not collide with left column names
    (rename before the call, as the reference's pipelines do with their
    disjoint feed schemas). ``right_ts_alias`` additionally exposes the
    matched right timestamp. Ties among right rows at one timestamp
    resolve deterministically (max payload backward, min forward) —
    pd.merge_asof's "last in input order" is not definable for
    distributed input.

    ``bucket_by_time``: the per-(key, time-bucket) tier for
    LOW-cardinality ``by`` keys (the reference's real shape is 4 ERCOT
    zones, merge:59-79 / spp:54-59). The plain keyed path windows by
    ``by`` alone, so 4 distinct keys means 4 window partitions — each
    zone's whole timeline sorts and fills through ONE task no matter
    how many executors exist (AQE cannot split a window partition;
    measured α 1.08 superlinear, 242.6 s at x1000 — r18 join probe).
    With ``bucket_by_time`` the keyless tier's range-bucketing runs
    per (key, time-bucket): parallelism becomes n_keys ×
    ``time_buckets`` and the edge-carry seam stays model-sized
    (n_keys × ``time_buckets`` rows). Identical results to the keyed
    window path (property-tested against pd.merge_asof for all
    directions + tolerance; measured equal aggregates on 100M-row
    probes), and the measured 3.5×/9.7× win at x100/x1000.

    Default ``None`` = SELF-DISPATCH (r19, VERDICT r18 #2): one
    model-sized ``approx_count_distinct`` probe of the right side's
    keys picks the tier — below ``spark.graft.asof.autoBucketMaxKeys``
    (default: ``spark.sql.shuffle.partitions``, the session's target
    parallelism; ``0`` disables auto) the bucketed tier runs. An
    explicit True/False always wins and skips the probe; streaming
    inputs skip it too (aggregate jobs are illegal on unstarted
    streams) and take the plain path unless told otherwise. The probe
    is a pure performance decision — both tiers are result-identical —
    so its ±5 % HLL error cannot affect correctness. Ignored when
    ``by`` is empty — keyless input always takes the bucketed tier.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    by = list(by or [])
    rvals = _right_payload_fields(right, on, by)
    overlap = set(rvals) & set(left.columns)
    if overlap:
        raise ValueError(f"right payload columns collide with left: {sorted(overlap)}")
    if by and bucket_by_time is None:
        bucket_by_time = keys_below_threshold(left, right, by, ASOF_AUTO_CONF)
    unioned, _ = _tagged_union(left, right, on, by, rvals)
    if by and not bucket_by_time:
        return _fill_and_project(
            unioned,
            left.columns,
            on,
            rvals,
            by,
            tolerance_seconds,
            right_ts_alias,
            direction,
        )
    return _global_asof(
        unioned,
        left.columns,
        on,
        rvals,
        tolerance_seconds,
        right_ts_alias,
        time_buckets,
        direction,
        by,
    )


def _global_asof(
    unioned: DataFrame,
    left_cols: list[str],
    on: str,
    rvals: list[str],
    tolerance_seconds: float | None,
    right_ts_alias: str | None,
    time_buckets: int,
    direction: str = "backward",
    by: Sequence[str] = (),
) -> DataFrame:
    """Keyless (or low-cardinality-keyed) as-of without serializing
    into one window partition per key.

    Buckets come from fixed-width division of the epoch range into
    ``time_buckets`` slices between min and max (two passes: one tiny
    min/max agg, then the fill). Each bucket fills locally; rows whose
    matching right row lives in a DIFFERENT bucket are fixed by joining
    against a per-bucket edge-payload table (tiny: ``time_buckets``
    rows — × n_distinct(by) keys in the keyed variant, still
    model-sized since the caller opts in only for low-cardinality
    keys), made cumulative with a running fill over bucket index — so
    correctness holds even when some buckets contain no right rows.
    With ``by`` keys every piece partitions by (key, bucket) and the
    carry fill runs per key; the bucket GRID stays global (one min/max
    over all keys) — per-key time-density skew only changes how full
    each (key, bucket) cell is, never correctness. Directional
    symmetry: backward carries each bucket's LAST right payload forward
    to later buckets (seed sorts before the bucket's own rows, since
    earlier-bucket timestamps are strictly smaller); forward carries
    each bucket's FIRST right payload back to earlier buckets (seed
    sorts after); nearest seeds both — the seeds cannot
    cross-contaminate because a backward seed precedes every row in its
    bucket and therefore never appears in any row's FOLLOWING frame,
    and vice versa.
    """
    by = list(by)
    stats = unioned.agg(
        F.min(axis_double(unioned, F.col(on), on)).alias("lo"),
        F.max(axis_double(unioned, F.col(on), on)).alias("hi"),
    )
    bounds = stats.collect()[0]  # 1 row; cheap by construction
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None or hi is None or hi <= lo:
        # Degenerate/empty input: single bucket is fine.
        bucketed = unioned.withColumn(_BUCKET, F.lit(0))
    else:
        width = (hi - lo) / time_buckets
        bucketed = unioned.withColumn(
            _BUCKET,
            F.least(
                F.lit(time_buckets - 1),
                F.floor(
                    (axis_double(unioned, F.col(on), on) - F.lit(lo)) / F.lit(width)
                ).cast("int"),
            ),
        )
    # Per-bucket edge payload(s), then cumulative over bucket index so
    # empty buckets inherit from their neighbours. time_buckets rows
    # (× n_keys when ``by`` is set) → tiny. Struct-over-(ts, payload)
    # keeps ties deterministic (same rule as the keyed window's
    # trailing payload sort key).
    spark = unioned.sparkSession
    rights = bucketed.filter(F.col(_SIDE) == 0)
    bucket_ids = spark.range(time_buckets).select(
        F.col("id").cast("int").alias(_BUCKET)
    )
    edge_struct = F.struct(F.col(on).alias("o"), F.col(_PAYLOAD).alias("p"))
    left_types = {f.name: f.dataType for f in bucketed.schema.fields}

    # ONE data-sized pass builds every edge the direction needs (max
    # and min together for nearest — previously each seed re-scanned
    # the right side for its own agg, and the keyed grid added another
    # full scan for distinct keys).
    edge_aggs = []
    if direction in ("backward", "nearest"):
        edge_aggs.append(F.max(edge_struct)["p"].alias("__edge_b"))
    if direction in ("forward", "nearest"):
        edge_aggs.append(F.min(edge_struct)["p"].alias("__edge_f"))
    per_bucket = rights.groupBy(*by, _BUCKET).agg(*edge_aggs)
    if by:
        # Key set for the carry grid, derived from the (model-sized)
        # per-bucket output — keys that exist on the RIGHT side only: a
        # left key with no right rows anywhere has nothing to carry
        # (its fills are null with or without seeds). NULL is a real
        # key here — the window fill's partitionBy groups NULLs — so
        # the grid join below must be null-safe, not a bare equi-join
        # (a NULL-key match used to survive only when both rows landed
        # in the SAME bucket).
        grid = (
            per_bucket.select(*by).distinct().crossJoin(bucket_ids).alias("__g")
        )
        pb = per_bucket.alias("__pb")
        cond = [
            F.col(f"__g.{c}").eqNullSafe(F.col(f"__pb.{c}")) for c in by
        ] + [F.col(f"__g.{_BUCKET}") == F.col(f"__pb.{_BUCKET}")]
        cells = grid.join(pb, cond, "left").select(
            *[F.col(f"__g.{c}") for c in by],
            F.col(f"__g.{_BUCKET}"),
            *[
                F.col(f"__pb.{name}")
                for name in per_bucket.columns
                if name.startswith("__edge")
            ],
        )
    else:
        cells = bucket_ids.join(per_bucket, [_BUCKET], "left")

    def _seed(edge_col: str, fill_fn, frame) -> DataFrame:
        w_base = Window.partitionBy(*by) if by else Window
        w_buckets = w_base.orderBy(_BUCKET).rowsBetween(*frame)
        carry = cells.select(
            *[F.col(c) for c in by],
            F.col(_BUCKET),
            fill_fn(edge_col, ignorenulls=True).over(w_buckets).alias("__carry"),
        )
        return carry.filter(F.col("__carry").isNotNull()).select(
            F.col(_BUCKET),
            F.col("__carry").alias(_PAYLOAD),
            F.lit(0).alias(_SIDE),
            F.col(f"__carry.{on}").alias(on),
            *[
                F.col(c) if c in by else F.lit(None).cast(left_types[c]).alias(c)
                for c in left_cols
                if c != on
            ],
        )

    seeds = []
    if direction in ("backward", "nearest"):
        # latest earlier right payload, carried into later buckets
        seeds.append(
            _seed("__edge_b", F.last, (Window.unboundedPreceding, -1))
        )
    if direction in ("forward", "nearest"):
        # earliest later right payload, carried into earlier buckets
        seeds.append(
            _seed("__edge_f", F.first, (1, Window.unboundedFollowing))
        )
    union_seeded = bucketed
    for s in seeds:
        union_seeded = union_seeded.unionByName(s.select(bucketed.columns))
    return _fill_and_project(
        union_seeded,
        left_cols,
        on,
        rvals,
        [*by, _BUCKET],
        tolerance_seconds,
        right_ts_alias,
        direction,
    )


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | None = None,
    right_ts_alias: str | None = None,
) -> DataFrame:
    """Exact-parity oracle: per-key ``pd.merge_asof`` via applyInPandas.

    Mirrors the reference's driver-side merge (merge:59-79) but runs it
    per key group on executors. Used by tests to validate ``asof_join``;
    not the production path (Arrow batch per group, Python worker cost).
    """
    import pandas as pd

    by = list(by or [])
    rvals = _right_payload_fields(right, on, by)
    out_schema = T.StructType(
        list(left.schema.fields)
        + [T.StructField(c, right.schema[c].dataType) for c in rvals]
        + (
            [T.StructField(right_ts_alias, right.schema[on].dataType)]
            if right_ts_alias
            else []
        )
    )
    r_ts_tmp = "__right_ts"
    left_cols = list(left.columns)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        lp = pdf[pdf["__side"] == 1][left_cols].sort_values(on)
        rp = pdf[pdf["__side"] == 0][[on, *by, *rvals]].sort_values(on)
        if right_ts_alias:
            rp = rp.assign(**{r_ts_tmp: rp[on]})
        merged = pd.merge_asof(lp, rp.drop(columns=by, errors="ignore"), on=on)
        if right_ts_alias:
            merged = merged.rename(columns={r_ts_tmp: right_ts_alias})
        return merged

    l2 = left.withColumn("__side", F.lit(1))
    r2 = right.withColumn("__side", F.lit(0))
    for c in left_cols:
        if c not in r2.columns:
            r2 = r2.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    for c in rvals:
        l2 = l2.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    cols = list(dict.fromkeys([*left_cols, *by, *rvals, "__side"]))
    unioned = l2.select(cols).unionByName(r2.select(cols))
    grouped = unioned.groupBy(*by) if by else unioned.groupBy(F.lit(1).alias("__g"))
    return grouped.applyInPandas(merge, schema=out_schema)
