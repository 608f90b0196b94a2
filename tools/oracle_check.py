"""Local mirror of the driver's correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compares row count, column names, and an
order-insensitive value multiset (exact string compare after a
normalization mirroring what a value-hash would see). Exit code 0 only
if every declared pair matches.

Usage: python tools/oracle_check.py [--json OUT.json] [sf_dir] [query ...]

``--json`` writes the per-query verdict as a committed artifact
(MIRROR_r{N}.json) so mirror coverage can be diffed without re-running
Spark — the registry's driver window covers only the first 50 entries,
and this artifact is the standing evidence for the parked remainder.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # shortest round-trip repr — exposes any ULP drift
    if isinstance(v, Decimal):
        return str(v)
    return str(v)


def _norm_rows(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(",".join(_norm_cell(r[i]) for i in order) for r in rows)


# Spark simpleString dtype -> equivalent DuckDB type name.  Anything not in
# this map (arrays, structs, maps) is skipped by the type check — the value
# compare still covers it.  The driver's gate hashes TYPED values, so a
# DuckDB HUGEINT vs Spark BIGINT mismatch fails there even when the numbers
# agree; this check surfaces that class of bug locally (round-1 lesson:
# drop_nulls / normalize_names).
_SPARK_TO_DUCK = {
    "tinyint": {"TINYINT"},
    "smallint": {"SMALLINT"},
    "int": {"INTEGER"},
    "bigint": {"BIGINT"},
    "float": {"FLOAT"},
    "double": {"DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
    "binary": {"BLOB"},
}


def _type_mismatches(sdf, con, oracle_sql: str) -> list[str]:
    duck_types = {
        r[0]: r[1]
        for r in con.sql(f"DESCRIBE {oracle_sql}").fetchall()
    }
    msgs = []
    for field in sdf.schema.fields:
        s_t = field.dataType.simpleString()
        d_t = duck_types.get(field.name)
        if d_t is None:
            continue
        if s_t.startswith("decimal"):
            want = s_t.upper().replace("DECIMAL", "DECIMAL")
            if d_t.replace(" ", "") != want.replace(" ", ""):
                msgs.append(f"{field.name}: spark {s_t} vs duckdb {d_t}")
            continue
        expected = _SPARK_TO_DUCK.get(s_t)
        if expected is not None and d_t not in expected:
            msgs.append(f"{field.name}: spark {s_t} vs duckdb {d_t}")
    return msgs


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    from energydatalake_spark.plans.registry import QUERIES

    unknown = only - set(QUERIES)
    if unknown:
        # a typo'd restriction silently checked NOTHING and printed
        # ALL OK (bitten in r7 by an unregistered query name)
        print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
        return 2
    from energydatalake_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from energydatalake_spark import release_caches

    # Some queries size their model with the corpus above a bound on
    # the embeddings count (dedup_embedding_lsh's hyperplanes,
    # semantic_dedup's codebook) while their DuckDB mirror is frozen at
    # the static parameters — beyond the bound the static mirror is the
    # WRONG oracle, not the query wrong (r11 review: a gen_sf x10 dir
    # holds 20k embeddings and would spuriously FAIL). Surface the
    # scale-tier case as an explicit rows-only verdict.
    from energydatalake_spark.plans.llm_ops import ORACLE_STATIC_BOUNDS

    def _table_rows(table: str) -> int:
        if not os.path.exists(os.path.join(sf_dir, f"{table}.parquet")):
            return 0
        return con.sql(f"SELECT COUNT(*) FROM {table}").fetchone()[0]

    table_rows = {
        t: _table_rows(t)
        for t in {t for t, _ in ORACLE_STATIC_BOUNDS.values()}
    }

    failures = 0
    verdicts: dict[str, dict] = {}
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        table, bound = ORACLE_STATIC_BOUNDS.get(name, (None, None))
        n_emb = table_rows.get(table, 0)
        if bound is not None and n_emb > bound:
            try:
                n_rows = q.build(spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: spark error: {exc}")
                failures += 1
                verdicts[name] = {
                    "status": "FAIL",
                    "detail": f"spark error: {exc}"[:500],
                }
                continue
            finally:
                # ORACLE_STATIC_BOUNDS now routes shingle-persisting
                # queries (minhash_pairs, dedup_clusters — breaker
                # armed above MH_ORACLE_MAX_DOCS) through this branch,
                # and each build persists the shingle explode plus the
                # probe-signature frame. Same storage-leak class as
                # the main loop below: release on success AND failure.
                release_caches()
            print(
                f"ok*   {name}: rows-only ({n_rows} rows) — {n_emb} "
                f"{table} rows exceed the static-mirror bound "
                f"{bound}; the corpus-sized model diverges "
                f"from the frozen-parameter oracle BY DESIGN"
            )
            verdicts[name] = {"status": "rows_only", "rows": n_rows,
                              "detail": "beyond static-mirror bound"}
            continue
        t0 = time.time()
        try:
            sdf = q.build(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = sdf.collect()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            verdicts[name] = {"status": "FAIL", "detail": f"spark error: {exc}"[:500]}
            continue
        finally:
            # Shingle-persisting queries (minhash / ngram / the corpus
            # compositions) must not accumulate cached partitions
            # across an 81-query session (the r1 storage-leak class) —
            # released on BOTH the success and the failure path.
            release_caches()
        if q.oracle is None:
            print(f"ok*   {name}: rows-only ({len(s_rows)} rows, "
                  f"{time.time()-t0:.1f}s) — no oracle declared")
            verdicts[name] = {
                "status": "rows_only",
                "rows": len(s_rows),
                "sec": round(time.time() - t0, 2),
            }
            continue
        try:
            rel = con.sql(q.oracle)
            d_cols = list(rel.columns)
            d_rows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            verdicts[name] = {"status": "FAIL", "detail": f"duckdb error: {exc}"[:500]}
            continue

        msgs = []
        if len(s_rows) != len(d_rows):
            msgs.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            msgs.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        else:
            t_msgs = _type_mismatches(sdf, con, q.oracle)
            if t_msgs:
                msgs.append("types: " + "; ".join(t_msgs))
        if not msgs:
            ns, nd = _norm_rows(s_cols, s_rows), _norm_rows(d_cols, d_rows)
            if ns != nd:
                diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                msgs.append(f"values differ; first diffs: {diff}")
        if msgs:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(msgs))
            verdicts[name] = {"status": "FAIL", "detail": "; ".join(msgs)[:500]}
        else:
            print(f"OK    {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            verdicts[name] = {
                "status": "OK",
                "rows": len(s_rows),
                "sec": round(time.time() - t0, 2),
            }

    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    if json_out:
        payload = {
            "tool": "tools/oracle_check.py",
            "compare": "rowcount + column-name + typed order-insensitive "
                       "value multiset vs DuckDB oracle SQL",
            # rows_only is PASS-grade (ADVICE r11 #4): the query ran and
            # returned rows, but no static oracle applies at this scale
            # (no oracle declared, or beyond ORACLE_STATIC_BOUNDS where
            # the frozen-parameter mirror is the wrong oracle by
            # design). Only status == "FAIL" counts toward n_fail.
            "status_legend": {
                "OK": "value-hash match vs oracle",
                "rows_only": "pass-grade: ran, no static oracle at this scale",
                "FAIL": "mismatch or engine error",
            },
            "sf_dir": sf_dir,
            "n_queries": len(verdicts),
            "n_fail": failures,
            "queries": verdicts,
        }
        with open(json_out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=False)
            fh.write("\n")
        print(f"# wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
