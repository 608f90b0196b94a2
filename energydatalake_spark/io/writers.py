"""Sinks (SURVEY.md §2.1 S4-S6).

The reference appends to BigQuery via a staging bucket
(``PySpark Scripts/pyspark_ercot_merge_fm_load_latest_BQ_archive_csv.py:115-119``)
and overwrites one table (``mergeHistoricalWeather.py:100-105``). The
contractual sink here is partitioned Parquet under a warehouse dir:
``upsert_table`` implements the insert-only-MERGE exactly-once
contract directly on Parquet (batch dedup + null-safe anti-join
against a read-back of only the ``dt`` partition directories the
batch touches), so the semantics do not depend on a table format's
transaction log. On a Delta/Iceberg deployment the same
call-site maps 1:1 onto ``MERGE ... WHEN NOT MATCHED INSERT`` — a
format swap, not a semantics change.

Partitioning: time-series tables partition by event date derived from
the interval start (SURVEY.md §4 "partition pruning") so that the four
analytics queries prune to the touched dates instead of scanning 100 TB.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def append_table(
    df: DataFrame,
    path: str,
    partition_date_col: str | None = None,
) -> None:
    """Warehouse append (S4). ``partition_date_col`` names a timestamp
    column; rows land under ``dt=YYYY-MM-DD`` partitions derived from it."""
    if partition_date_col is not None:
        writer = df.withColumn("dt", F.to_date(F.col(partition_date_col)))
        writer.write.format("parquet").mode("append").partitionBy("dt").save(path)
    else:
        df.write.format("parquet").mode("append").save(path)


def upsert_table(
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_date_col: str | None = None,
) -> None:
    """Idempotent warehouse append: insert-only MERGE on ``keys``
    (SURVEY.md §2.9 "idempotent MERGE for true exactly-once").

    Re-delivered files — the reference's crons racing on a shared GCS
    prefix (README.md:143-148), or a pipeline re-run after a crash
    between sink-write and archive — must not duplicate rows. The
    folder-level archive queue gives once-per-FILE; this gives
    once-per-ROW, including:

    - duplicates WITHIN one batch (two identical files drained by a
      single AvailableNow trigger): the batch is key-deduped before
      writing;
    - null-valued keys: the anti-join matches with ``eqNullSafe``, so
      a null-key row inserts exactly once instead of on every rerun.

    Scale shape: the read-back is restricted to the ``dt`` partitions
    the batch touches. Their distinct values are batch-sized, so they
    are collected and mapped to directory paths on the driver (null →
    ``dt=__HIVE_DEFAULT_PARTITION__``, pre-1900 dates are ordinary
    directories); only the key columns of the directories that exist
    are read, with the batch's own types as the read schema. That
    costs no schema-inference job, never lists the files of untouched
    partitions, and a batch on new dates appends with no read-back at
    all. Single-writer semantics, matching the reference's
    Scheduler-serialized jobs.
    """
    if partition_date_col is not None:
        df = df.withColumn("dt", F.to_date(F.col(partition_date_col)))
    # once-per-row within the batch itself (keep-any on key ties)
    df = df.dropDuplicates(keys)
    if not _has_data(path):
        _append(df, path, partition_date_col)
        return
    # A partitioned merge consumes the batch twice (touched-date
    # collect + anti-join side). Persist it — bounded by BATCH size,
    # not table size — so the upstream source computes once; this also
    # keeps any caller-attached df.observe metrics single-counted.
    df = df.persist()
    try:
        if partition_date_col is None:
            existing = _readback(df, path, [path], keys)
        else:
            dirs = [_partition_dir(path, d) for d in _touched_dts(df)]
            existing = _readback(df, path, dirs, keys + ["dt"])
        fresh = df if existing is None else _fresh_rows(df, existing, keys)
        _append(fresh, path, partition_date_col)
    finally:
        df.unpersist()


def _has_data(path: str) -> bool:
    return os.path.isdir(path) and any(
        not n.startswith((".", "_")) for n in os.listdir(path)
    )


def _append(df: DataFrame, path: str, partition_date_col: str | None) -> None:
    writer = df.write.format("parquet").mode("append")
    if partition_date_col is not None:
        writer = writer.partitionBy("dt")
    writer.save(path)


def _touched_dts(df: DataFrame) -> list:
    """The batch's distinct ``dt`` values (batch-sized by construction)."""
    return [r.dt for r in df.select("dt").distinct().collect()]


def _partition_dir(path: str, d) -> str:
    """Directory Spark's partitioned writer uses for ``dt=d``."""
    name = "__HIVE_DEFAULT_PARTITION__" if d is None else d.isoformat()
    return os.path.join(path, f"dt={name}")


def _readback(
    df: DataFrame, path: str, dirs: list[str], columns: list[str]
) -> DataFrame | None:
    """``columns`` of the target rows under ``dirs`` (those that exist),
    read with ``df``'s types for them — or None when none exists."""
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return None
    schema = T.StructType([df.schema[c] for c in columns])
    return (
        df.sparkSession.read.schema(schema)
        .option("basePath", path)
        .parquet(*dirs)
    )


def _fresh_rows(df: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``df`` whose key tuple is absent from ``existing`` —
    null-safe, so a null-valued key matches its prior insertion and is
    not re-inserted on every rerun."""
    target_keys = existing.select(*[F.col(f"`{k}`") for k in keys])
    cond = reduce(
        lambda a, b: a & b,
        [df[f"`{k}`"].eqNullSafe(target_keys[f"`{k}`"]) for k in keys],
    )
    return df.join(target_keys, cond, "left_anti")


def overwrite_table(df: DataFrame, path: str) -> None:
    """Warehouse overwrite (S5, mergeHistoricalWeather.py:100-105)."""
    df.write.format("parquet").mode("overwrite").save(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV export with header, overwrite (S6, mergeHistoricalWeather.py:62-66)."""
    df.write.format("csv").option("header", "true").mode("overwrite").save(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSON-Lines export (LLM-corpus interchange twin of the jsonl
    reader). Gzip by default: jsonl text compresses ~10×, and the
    format stays line-splittable per FILE — shard count (= input
    partitions) is the parallelism unit downstream, so repartition
    before writing if consumers need more/fewer shards."""
    writer = df.write.format("json").mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.save(path)


def apply_cdc_batch(
    df: DataFrame,
    path: str,
    keys: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    partition_date_col: str | None = None,
) -> None:
    """Full CDC MERGE on the parquet warehouse: apply a change batch of
    inserts/updates/deletes (``op_col`` ∈ {'I','U','D'}) keyed on
    ``keys`` — the delete-capable completion of ``upsert_table``'s
    insert-only MERGE. Maps 1:1 onto Delta/Iceberg
    ``MERGE ... WHEN MATCHED [AND op='D'] THEN DELETE / UPDATE /
    WHEN NOT MATCHED THEN INSERT`` — same call-site, same semantics.

    Semantics: within the batch, the LATEST change per key wins
    (``seq_col`` order — a key inserted then deleted in one batch nets
    to absent); then existing rows for batch keys are replaced by the
    surviving I/U images and dropped for D. ``seq_col`` must be unique
    per key within a batch (every real CDC stream's LSN/offset is) —
    two same-key rows with EQUAL seq have no defined winner.

    Plain parquet has no row-level update, so the rewrite unit is the
    PARTITION: only ``dt`` partitions the batch touches are read back
    (by directory path, with the batch's types as the read schema, as
    in ``upsert_table``), merged, and atomically swapped via dynamic partition overwrite
    (``partitionOverwriteMode=dynamic`` — untouched partitions are
    not listed, read, or rewritten; at 100 TB × years that is the
    difference between a merge and a table rewrite). Requires the
    key→partition mapping to be stable (event-date-keyed tables, the
    reference's shape); a key that MOVES partitions needs a
    format-level MERGE (Delta) or a two-phase delete+insert.
    Unpartitioned tables rewrite the whole folder (documented
    degenerate case — partition them).

    Single-writer, like every sink here (Scheduler-serialized jobs).
    """
    from energydatalake_spark.operators.clean import dedup_latest

    spark = df.sparkSession
    # Validate the batch's op domain up front (ADVICE r7): a NULL op
    # would silently behave as a DELETE (null predicate fails the
    # op != 'D' filter yet the key still anti-joins existing rows) and
    # any other string as an upsert. Malformed batches fail loudly.
    bad_op = (
        df.filter(
            F.col(op_col).isNull() | ~F.col(op_col).isin("I", "U", "D")
        )
        .limit(1)
        .collect()
    )
    if bad_op:
        raise ValueError(
            f"apply_cdc_batch: {op_col!r} must be one of 'I','U','D' "
            f"and non-null; got {bad_op[0][op_col]!r}"
        )
    if partition_date_col is not None:
        df = df.withColumn("dt", F.to_date(F.col(partition_date_col)))
    if seq_col is not None:
        df = dedup_latest(df, keys, seq_col, tiebreak=keys)
    else:
        df = df.dropDuplicates(keys)
    df = df.persist()  # batch-sized; feeds partition list, anti-join, union
    try:
        survivors = df.filter(F.col(op_col) != F.lit("D")).drop(op_col)
        if not _has_data(path):
            _append(survivors, path, partition_date_col)
            return
        if partition_date_col is None:
            existing = _readback(df, path, [path], survivors.columns)
        else:
            # only the touched partitions ride the merge
            touched = set(_touched_dts(df))
            dirs = [_partition_dir(path, d) for d in touched]
            existing = _readback(df, path, dirs, survivors.columns)
        if existing is None:
            # no touched partition exists yet: nothing to replace or delete
            _append(survivors, path, partition_date_col)
            return
        batch_keys = df.select(*[F.col(f"`{k}`") for k in keys]).distinct()
        anti_cond = reduce(
            lambda a, b: a & b,
            [existing[f"`{k}`"].eqNullSafe(batch_keys[f"`{k}`"]) for k in keys],
        )
        # null-safe, same as _fresh_rows: a delete for a null key must
        # match the null-key row it targets
        kept = existing.join(batch_keys, anti_cond, "left_anti")
        merged = kept.unionByName(survivors)
        # The merge READS the path it overwrites — materialize before
        # the write (touched-partitions-sized, not table-sized; the
        # unpartitioned degenerate case is table-sized, as documented).
        merged = merged.localCheckpoint()
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            writer = merged.write.format("parquet").mode("overwrite")
            if partition_date_col is not None:
                writer = writer.partitionBy("dt")
            writer.save(path)
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
        if partition_date_col is not None:
            # Dynamic overwrite cannot write an EMPTY partition: a dt
            # whose every row was deleted is absent from `merged` and
            # its stale directory would survive — remove the emptied
            # ones. Null dt participates too (ADVICE r7): its rows live
            # under dt=__HIVE_DEFAULT_PARTITION__, so a delete batch
            # that empties it must also remove the directory, or the
            # pre-delete images resurrect.
            import shutil

            remaining = {
                r.dt for r in merged.select("dt").distinct().collect()
            }
            for d in touched - remaining:
                part_dir = _partition_dir(path, d)
                if os.path.isdir(part_dir):
                    shutil.rmtree(part_dir)
    finally:
        df.unpersist()
