"""read_table / read_table_stream time-axis normalization: every
parquet timestamp encoding the lake can accumulate (nanos, NTZ, LTZ)
must surface as the SAME session-tz TimestampType with the SAME
instant, so downstream operators never branch on writer choices."""

from __future__ import annotations

import datetime

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from energydatalake_spark.io.readers import read_table, read_table_stream

T0 = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)


def _write(tmp_path, name, arrow_type):
    arr = pa.array([T0], type=arrow_type)
    table = pa.table({"ts": arr, "v": pa.array([1.0])})
    pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


def _one(spark, sf_dir, name):
    df = read_table(spark, sf_dir, name)
    assert df.schema["ts"].dataType.typeName() == "timestamp", df.schema
    return df.collect()[0]


def test_read_table_normalizes_ntz(spark, tmp_path):
    sf = _write(tmp_path, "t_ntz", pa.timestamp("us"))  # no tz → NTZ
    row = _one(spark, sf, "t_ntz")
    assert row.ts == T0  # session tz is UTC: wall-clock preserved


def test_read_table_passes_ltz_through(spark, tmp_path):
    sf = _write(tmp_path, "t_ltz", pa.timestamp("us", tz="UTC"))
    row = _one(spark, sf, "t_ltz")
    assert row.ts == T0


def test_read_table_rebuilds_nanos(spark, tmp_path):
    sf = _write(tmp_path, "t_ns", pa.timestamp("ns"))
    row = _one(spark, sf, "t_ns")
    assert row.ts == T0  # truncated to µs precision, same instant


def test_all_encodings_agree_on_the_instant(spark, tmp_path):
    rows = {}
    for name, at in [
        ("e_ntz", pa.timestamp("us")),
        ("e_ltz", pa.timestamp("us", tz="UTC")),
        ("e_ns", pa.timestamp("ns")),
    ]:
        sf = _write(tmp_path, name, at)
        rows[name] = _one(spark, sf, name).ts
    assert rows["e_ntz"] == rows["e_ltz"] == rows["e_ns"]


def test_stream_reader_matches_batch_types(spark, tmp_path):
    sf = _write(tmp_path, "s_ntz", pa.timestamp("us"))
    batch = read_table(spark, sf, "s_ntz")
    stream = read_table_stream(spark, sf, "s_ntz")
    assert [f.dataType for f in stream.schema.fields] == [
        f.dataType for f in batch.schema.fields
    ]
    assert stream.isStreaming


def test_read_table_int96_not_mangled(spark, tmp_path):
    """Legacy Hive/Spark2 int96 timestamps: pyarrow's footer probe
    reports them as timestamp[ns], but Spark reads int96 natively as
    TIMESTAMP — the nanos rebuild must branch on the actual read dtype
    and leave them alone."""
    arr = pa.array([T0], type=pa.timestamp("ns"))
    table = pa.table({"ts": arr, "v": pa.array([1.0])})
    pq.write_table(
        table,
        str(tmp_path / "t_i96.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    row = _one(spark, str(tmp_path), "t_i96")
    assert row.ts == T0


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL source/sink: explicit-schema read, corrupt lines quarantine
    into _corrupt_record instead of failing the job, write→read
    round-trips values, empty folder is a clean no-op."""
    import gzip
    import json
    import os

    from energydatalake_spark.io.readers import read_jsonl_folder
    from energydatalake_spark.io.writers import write_jsonl

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "hello"}) + "\n")
        f.write("{not valid json\n")
        f.write(json.dumps({"doc_id": 2, "text": "world"}) + "\n")

    df = read_jsonl_folder(spark, str(src), "doc_id bigint, text string")
    good = df.filter(df["_corrupt_record"].isNull())
    bad = df.filter(df["_corrupt_record"].isNotNull())
    assert {(r.doc_id, r.text) for r in good.collect()} == {
        (1, "hello"),
        (2, "world"),
    }
    # full-row collect: a corrupt-column-only query is disallowed by
    # Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — dead-letter routing
    # carries whole rows, which sidesteps it by construction
    assert len(bad.collect()) == 1  # quarantined, not fatal

    out = str(tmp_path / "out")
    write_jsonl(good.select("doc_id", "text"), out)
    parts = [n for n in os.listdir(out) if n.startswith("part-")]
    assert parts and all(n.endswith(".gz") for n in parts)
    with gzip.open(os.path.join(out, parts[0]), "rt") as f:
        assert json.loads(f.readline())["text"] in {"hello", "world"}
    back = read_jsonl_folder(spark, out, "doc_id bigint, text string")
    assert back is not None  # .gz shards must not hide from the reader
    assert {(r.doc_id, r.text) for r in back.collect()} == {
        (1, "hello"),
        (2, "world"),
    }

    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_jsonl_folder(spark, str(empty), "doc_id bigint") is None


def test_nanos_conf_not_leaked(spark, tmp_path):
    """read_table scopes the nanosAsLong conf to the call — the session
    must not silently accept nanos parquet afterwards."""
    sf = _write(tmp_path, "leak_ns", pa.timestamp("ns"))
    read_table(spark, sf, "leak_ns").collect()
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
        or spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    )


def test_compact_folder_merges_small_files(spark, tmp_path):
    """Many small part files → few target-sized files, identical rows,
    original untouched on a failed verify (exercised via the happy
    path + statistics check on the sorted layout)."""
    from pyspark.sql import functions as F

    from energydatalake_spark.io.maintenance import compact_folder

    folder = str(tmp_path / "warehouse")
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 97).alias("key")
    )
    # 32 shuffle partitions → many small files, like per-batch appends
    df.repartition(32).write.mode("overwrite").parquet(folder)
    import os

    before = [f for f in os.listdir(folder) if f.endswith(".parquet")]
    assert len(before) > 4
    stats = compact_folder(
        spark, folder, target_rows_per_file=2_500, sort_by=["id"]
    )
    assert stats["rows"] == 10_000
    assert stats["files_before"] == len(before)
    assert stats["files_after"] == 4
    out = spark.read.parquet(folder)
    assert out.count() == 10_000
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))
    # range-partitioned sort → per-file id ranges are disjoint, so a
    # selective filter reads one file's row groups (min/max pruning)
    files = sorted(
        os.path.join(folder, f)
        for f in os.listdir(folder)
        if f.endswith(".parquet")
    )
    ranges = []
    for f in files:
        r = spark.read.parquet(f).agg(F.min("id"), F.max("id")).collect()[0]
        ranges.append((r[0], r[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint


def test_compact_folder_refuses_partitioned_root(spark, tmp_path):
    """A hive-partitioned root must be refused — a flat rewrite would
    silently drop the dt= layout and poison the next partitioned
    append."""
    import pytest
    from pyspark.sql import functions as F

    from energydatalake_spark.io.maintenance import compact_folder

    folder = str(tmp_path / "warehouse_part")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("dt")
    )
    df.write.mode("overwrite").partitionBy("dt").parquet(folder)
    with pytest.raises(ValueError, match="hive-partitioned root"):
        compact_folder(spark, folder)
    # per-partition compaction of a subfolder still works
    import os

    sub = os.path.join(folder, "dt=0")
    stats = compact_folder(spark, sub, target_rows_per_file=1000)
    assert stats["rows"] == 34 and stats["files_after"] == 1


def test_compact_folder_refuses_foreign_entries(spark, tmp_path):
    """Entries a flat parquet rewrite would silently drop — nested
    directories, non-parquet data files — must refuse the compaction
    up front (the row-count/checksum verify cannot see them)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from energydatalake_spark.io.maintenance import compact_folder

    folder = str(tmp_path / "warehouse_mixed")
    spark.range(0, 100).select(F.col("id")).write.parquet(folder)
    side = os.path.join(folder, "export.csv")
    with open(side, "w") as f:
        f.write("id\n1\n")
    with pytest.raises(ValueError, match="non-parquet"):
        compact_folder(spark, folder)
    assert os.path.exists(side)  # untouched

    os.remove(side)
    os.mkdir(os.path.join(folder, "nested"))
    with pytest.raises(ValueError, match="non-parquet"):
        compact_folder(spark, folder)
    assert spark.read.parquet(folder).count() == 100  # untouched


def test_compact_folder_checksum_blocks_corrupt_rewrite(spark, tmp_path, monkeypatch):
    """The swap must be gated on CONTENT, not just row count: if the
    rewritten folder hashes differently from the source, nothing is
    renamed or deleted and the original stays canonical."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from energydatalake_spark.io import maintenance

    folder = str(tmp_path / "warehouse_ck")
    spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    ).repartition(4).write.parquet(folder)

    real = maintenance._content_checksum
    calls = {"n": 0}

    def corrupted(df):
        # source checksum passes through; the rewrite's is perturbed,
        # simulating a rewrite that kept the row count but changed a
        # value somewhere.
        calls["n"] += 1
        return real(df) + (1 if calls["n"] > 1 else 0)

    monkeypatch.setattr(maintenance, "_content_checksum", corrupted)
    with pytest.raises(RuntimeError, match="content checksum"):
        maintenance.compact_folder(spark, folder, target_rows_per_file=500)
    # original canonical and intact; temp rewrite cleaned up
    assert spark.read.parquet(folder).count() == 1000
    parent = os.path.dirname(folder)
    leftovers = [f for f in os.listdir(parent) if "__compact" in f or "__precompact" in f]
    assert leftovers == []


def test_compacted_sorted_layout_prunes_row_groups(spark, tmp_path):
    """The pruning claim, measured (VERDICT r6 #4): after compaction
    with sort_by, a selective range predicate decodes only the files
    whose min/max overlap the range. Evidence = the FileSourceScan
    'numOutputRows' metric (rows surviving parquet row-group skipping,
    before Spark's residual Filter): ~all rows on the unsorted layout,
    roughly one file's worth on the sorted one."""
    from pyspark.sql import functions as F

    from energydatalake_spark.io.maintenance import compact_folder

    def scan_rows(df):
        df.collect()
        scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        return scan.metrics().apply("numOutputRows").value()

    n, pred = 40_000, "id BETWEEN 1000 AND 1099"
    folder = str(tmp_path / "warehouse_sorted")
    # unsorted accretion layout: every file spans the full id range
    spark.range(0, n).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(8).write.parquet(folder)

    before = scan_rows(spark.read.parquet(folder).filter(pred))
    assert before == n  # no skipping possible: all row groups overlap

    stats = compact_folder(
        spark, folder, target_rows_per_file=5_000, sort_by=["id"]
    )
    assert stats["files_after"] == 8
    after_df = spark.read.parquet(folder).filter(pred)
    after = scan_rows(after_df)
    # disjoint per-file ranges: the predicate overlaps one ~5k-row
    # file (repartitionByRange bounds come from a sample, so file row
    # counts wobble around the target — allow 1.5x one file)
    assert after <= 7_500, f"sorted layout decoded {after} rows"
    assert after < before / 4
    assert after_df.count() == 100


def test_orc_roundtrip_and_drift(spark, tmp_path):
    """ORC sink/source: lossless round trip for the warehouse types
    (timestamp, decimal, double, string), empty-folder no-op, loud
    drift on a type change, and the same pushdown/statistics behavior
    as parquet (filter reaches the ORC scan)."""
    import pytest
    from pyspark.sql import functions as F

    from energydatalake_spark.io.readers import read_orc_folder, write_orc
    from energydatalake_spark.io.schemas import SchemaDriftError

    folder = str(tmp_path / "orc_out")
    ddl = "k string, v decimal(10,2), x double, t timestamp"
    df = spark.createDataFrame(
        [("a", "1.25", 0.5, "2024-01-01 00:00:00"),
         ("b", "2.50", 1.5, "2024-01-02 12:00:00")],
        "k string, v string, x double, t string",
    ).select(
        "k",
        F.col("v").cast("decimal(10,2)").alias("v"),
        "x",
        F.to_timestamp("t").alias("t"),
    )
    assert read_orc_folder(spark, folder) is None  # empty → no-op

    write_orc(df, folder)
    back = read_orc_folder(spark, folder, schema=ddl)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    assert [f.dataType for f in back.schema.fields] == [
        f.dataType for f in df.schema.fields
    ]

    with pytest.raises(SchemaDriftError, match="v:decimal"):
        read_orc_folder(spark, folder, schema="k string, v double, x double, t timestamp")

    # pushdown parity with parquet: the predicate reaches the ORC scan
    plan = ""
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        read_orc_folder(spark, folder).filter(F.col("x") > 1.0).explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "GreaterThan(x" in plan


def test_zorder_compaction_prunes_on_both_columns(spark, tmp_path):
    """Morton layout: after zorder_by=["x","y"], selective scans on
    EITHER column decode a fraction of the rows — the property a
    single-column sort has only for its leading column (measured: the
    x-sorted layout decodes everything for a y-predicate)."""
    from pyspark.sql import functions as F

    from energydatalake_spark.io.maintenance import compact_folder

    def scan_rows(df):
        df.collect()
        scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        return scan.metrics().apply("numOutputRows").value()

    n = 65_536
    base = spark.range(0, n).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("bigint").alias("y"),
        F.col("id").alias("payload"),
    )
    x_pred, y_pred = "x BETWEEN 0 AND 15", "y BETWEEN 0 AND 15"

    sorted_dir = str(tmp_path / "xsorted")
    base.repartition(8).write.parquet(sorted_dir)
    compact_folder(spark, sorted_dir, target_rows_per_file=4_096, sort_by=["x"])
    # leading column prunes… (the bound tolerates one file/row-group straddle:
    # a 1/16-of-domain slice can land across a file boundary, adding up to one
    # extra file's rows to the decode count depending on writer block layout)
    assert scan_rows(spark.read.parquet(sorted_dir).filter(x_pred)) <= n // 8 + 4_096
    # …but the second column reads everything
    assert scan_rows(spark.read.parquet(sorted_dir).filter(y_pred)) == n

    z_dir = str(tmp_path / "zorder")
    base.repartition(8).write.parquet(z_dir)
    stats = compact_folder(
        spark, z_dir, target_rows_per_file=4_096, zorder_by=["x", "y"]
    )
    assert stats["files_after"] == 16
    zr = spark.read.parquet(z_dir)
    assert "__zval" not in zr.columns  # layout key stays internal
    x_rows = scan_rows(zr.filter(x_pred))
    y_rows = scan_rows(spark.read.parquet(z_dir).filter(y_pred))
    # each 1/16-of-space slice touches a strict subset of files on BOTH axes
    assert x_rows < n // 2, f"x predicate decoded {x_rows}"
    assert y_rows < n // 2, f"y predicate decoded {y_rows}"
    # and the data survives bit-for-bit (checksum gate ran inside)
    assert zr.count() == n


def test_expire_partitions_retention(spark, tmp_path):
    """Retention sweep: partitions older than the cutoff drop (by
    directory, no data read), newer ones and the null-dt partition
    survive, non-dt entries refuse, and a no-op pass drops nothing."""
    import datetime
    import os

    import pytest

    from energydatalake_spark.io.maintenance import expire_partitions

    root = str(tmp_path / "wh")
    for d in ("2024-01-01", "2024-02-01", "2024-03-01"):
        os.makedirs(os.path.join(root, f"dt={d}"))
    os.makedirs(os.path.join(root, "dt=__HIVE_DEFAULT_PARTITION__"))
    today = datetime.date(2024, 3, 10)

    res = expire_partitions(root, keep_days=45, today=today)  # cutoff 01-25
    assert res["dropped"] == ["dt=2024-01-01"]
    assert res["kept"] == 3
    assert sorted(os.listdir(root)) == [
        "dt=2024-02-01",
        "dt=2024-03-01",
        "dt=__HIVE_DEFAULT_PARTITION__",
    ]
    # idempotent second sweep: nothing left to drop
    assert expire_partitions(root, keep_days=45, today=today)["dropped"] == []
    # keep_days=0 drops everything strictly before today
    res = expire_partitions(root, keep_days=0, today=today)
    assert res["dropped"] == ["dt=2024-02-01", "dt=2024-03-01"]
    assert os.path.isdir(os.path.join(root, "dt=__HIVE_DEFAULT_PARTITION__"))

    bad = str(tmp_path / "bad")
    os.makedirs(os.path.join(bad, "dt=2024-01-01"))
    open(os.path.join(bad, "stray.csv"), "w").write("x\n")
    with pytest.raises(ValueError, match="not a dt=-partitioned root"):
        expire_partitions(bad, keep_days=1, today=today)
    with pytest.raises(ValueError, match="keep_days"):
        expire_partitions(root, keep_days=-1, today=today)


def test_compact_partitioned_root_per_partition(spark, tmp_path):
    """The per-partition OPTIMIZE loop: every dt partition compacts to
    its own file budget, rows and content survive, untouched layout
    (the partition dirs themselves) stays; flat folders refuse."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from energydatalake_spark.io.maintenance import compact_partitioned_root

    root = str(tmp_path / "proot")
    df = spark.range(200).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "2024-01-01").otherwise("2024-01-02")
        .alias("dt"),
    )
    # many small files per partition
    df.repartition(8).write.partitionBy("dt").parquet(root)
    res = compact_partitioned_root(spark, root, target_rows_per_file=1000)
    assert set(res) == {"dt=2024-01-01", "dt=2024-01-02"}
    for r in res.values():
        assert r["files_after"] == 1 and r["files_before"] > 1
    back = spark.read.parquet(root)
    assert back.count() == 200
    assert back.select(F.sum("id")).collect()[0][0] == sum(range(200))

    flat = str(tmp_path / "flat")
    spark.range(5).write.parquet(flat)
    with pytest.raises(ValueError, match="no col= partition"):
        compact_partitioned_root(spark, flat)


def test_vacuum_folder_recovers_and_cleans(spark, tmp_path):
    """The three crash states of compact_folder's swap: stale temp →
    removed; backup beside a live canonical folder → removed; backup
    with the canonical folder missing (crash between renames) →
    renamed back, data intact."""
    import os

    from energydatalake_spark.io.maintenance import vacuum_folder

    base = tmp_path / "tbl"
    spark.range(10).write.parquet(str(base))
    os.makedirs(str(tmp_path / "tbl__compact_deadbeef"))
    os.makedirs(str(tmp_path / "tbl__precompact_12345678"))
    res = vacuum_folder(str(base))
    assert res["removed"] == [
        "tbl__compact_deadbeef", "tbl__precompact_12345678"
    ] and not res["recovered"]

    # crash between the two renames: canonical gone, backup holds data
    os.rename(str(base), str(tmp_path / "tbl__precompact_aaaaaaaa"))
    res = vacuum_folder(str(base))
    assert res["recovered"] == ["tbl__precompact_aaaaaaaa"]
    assert spark.read.parquet(str(base)).count() == 10

    # recover=False reports instead of acting
    os.rename(str(base), str(tmp_path / "tbl__precompact_bbbbbbbb"))
    res = vacuum_folder(str(base), recover=False)
    assert res["needs_action"] == ["tbl__precompact_bbbbbbbb"]
    os.rename(str(tmp_path / "tbl__precompact_bbbbbbbb"), str(base))

    # unrelated siblings untouched
    other = tmp_path / "tbl_other"
    os.makedirs(str(other))
    assert vacuum_folder(str(base)) == {
        "removed": [], "recovered": [], "needs_action": []
    }
    assert os.path.isdir(str(other))


def test_table_stats_footer_only(spark, tmp_path):
    """ANALYZE-equivalent from footers: exact rows/files, correct
    min/max/null counts per column — cross-checked against a real
    scan of the same data."""
    import pytest
    from pyspark.sql import functions as F

    from energydatalake_spark.io.maintenance import table_stats

    p = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 2.5)
        .alias("v"),
    )
    df.repartition(4).write.parquet(p)
    st = table_stats(p)
    assert st["n_rows"] == 100 and st["n_files"] == 4 and st["n_bytes"] > 0
    assert st["columns"]["id"]["min"] == 0
    assert st["columns"]["id"]["max"] == 99
    assert st["columns"]["id"]["null_count"] == 0
    assert st["columns"]["v"]["null_count"] == 10
    assert st["columns"]["v"]["max"] == 99 * 2.5
    import os

    os.makedirs(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="no parquet files"):
        table_stats(str(tmp_path / "empty"))


def test_read_table_int96_timestamps(spark, tmp_path):
    """Legacy INT96 parquet timestamps (old Spark/Hive writers; the
    one mainstream encoding the driver has NOT yet shipped) must
    normalize through read_table like the NANOS and naive-us shapes
    the schema-canary already covers."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from energydatalake_spark.io.readers import read_table

    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [
                    pd.Timestamp("2024-01-01 10:00"),
                    pd.Timestamp("2024-01-01 11:30"),
                ],
                pa.timestamp("ns"),
            ),
        }
    )
    pq.write_table(
        tbl,
        str(tmp_path / "events.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    df = read_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r.event_id: r.ts for r in df.collect()}
    assert got[1].hour == 10 and got[2].minute == 30


def _csv_dir(tmp_path, name, files):
    d = tmp_path / name
    d.mkdir()
    for fname, text in files.items():
        (d / fname).write_text(text)
    return str(d)


def test_csv_header_matches_spark_inference(spark, tmp_path):
    """read_csv_folder reads header names on the driver instead of by a
    Spark inference job; they must be the names Spark would infer."""
    from energydatalake_spark.io.readers import _csv_header
    from energydatalake_spark.pipelines.fixtures import generate_all

    folders = list(generate_all(str(tmp_path / "src")).values())
    folders.append(
        _csv_dir(
            tmp_path,
            "quoted",
            {"a.csv": '"Interval Start","Load, MW",time\n1,2,2024-01-01\n'},
        )
    )
    for d in folders:
        inferred = spark.read.option("header", "true").csv(d).columns
        assert _csv_header(d) == inferred, d
    assert _csv_header(folders[-1]) == ["Interval Start", "Load, MW", "time"]


def test_read_csv_folder_rejects_mixed_column_order(spark, tmp_path):
    """Files naming their columns in different orders must fail the
    read, not bind by position (which would put a load value in the
    time column and let drop_nulls silently discard the row)."""
    import pytest

    from energydatalake_spark.io.readers import read_csv_folder

    d = _csv_dir(
        tmp_path,
        "mixed",
        {
            "a.csv": "Time,Load\n2024-01-01 00:00:00,1\n",
            "b.csv": "Load,Time\n2,2024-01-01 01:00:00\n",
        },
    )
    with pytest.raises(Exception, match="CSV header does not conform"):
        read_csv_folder(spark, d).collect()


def test_read_csv_folder_one_column_order_reads_as_inferred(spark, tmp_path):
    from energydatalake_spark.io.readers import read_csv_folder

    d = _csv_dir(
        tmp_path,
        "same",
        {
            "a.csv": "Time,Load\n2024-01-01 00:00:00,1\n2024-01-01 00:05:00,\n",
            "b.csv": 'Time,Load\n2024-01-01 01:00:00,"2"\n',
        },
    )
    got = read_csv_folder(spark, d)
    want = spark.read.option("header", "true").csv(d)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_read_csv_folder_rejects_empty_and_duplicate_names(spark, tmp_path):
    import pytest

    from energydatalake_spark.io.readers import read_csv_folder

    empty = _csv_dir(tmp_path, "empty", {"a.csv": "a,,b\n1,2,3\n"})
    with pytest.raises(ValueError, match="empty column name"):
        read_csv_folder(spark, empty)
    dup = _csv_dir(tmp_path, "dup", {"a.csv": "x,x\n1,2\n"})
    with pytest.raises(Exception, match="COLUMN_ALREADY_EXISTS"):
        read_csv_folder(spark, dup).collect()
