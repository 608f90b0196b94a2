"""Correctness gate: DuckDB answers for registry queries.

A result is summarised as ``(row count, value hash)``. The hash is
order-insensitive: the rows are normalised and sorted by
``tools/oracle_check.py``'s ``_norm_rows`` (columns sorted by name,
floats by shortest round-trip repr, NULL as ``NULL``), so this gate and
the repository's oracle check cannot drift apart, and the sorted list
is hashed. Spark results are summarised the same way in the workload
process, so only the two summaries cross the process boundary.

Oracle answers depend only on the inputs and the SQL, so they are
computed once per seed and cached as JSON next to the generated tables.
"""

from __future__ import annotations

import hashlib
import json
import os

from gen import TABLES
from tools.oracle_check import _norm_rows


def summarize(cols: list[str], rows) -> dict:
    """Row count plus order-insensitive value hash of a result."""
    lines = _norm_rows(list(cols), rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(lines), "hash": h.hexdigest()}


def oracle_answers(table_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    """Summaries of each oracle SQL over the parquet tables in
    ``table_dir``, cached in ``<table_dir>/oracle.json`` under the query
    name and a hash of its SQL, so an edited oracle is recomputed."""
    cache = os.path.join(table_dir, "oracle.json")
    have: dict[str, dict] = {}
    if os.path.exists(cache):
        with open(cache) as fh:
            have = json.load(fh)
    keys = {
        n: f"{n}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        for n, sql in oracles.items()
    }
    todo = {n: sql for n, sql in oracles.items() if keys[n] not in have}
    if todo:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            for t in TABLES:
                path = os.path.join(table_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name, sql in todo.items():
                rel = con.sql(sql)
                have[keys[name]] = summarize(list(rel.columns), rel.fetchall())
        finally:
            con.close()
        tmp = cache + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(have, fh, indent=1, sort_keys=True)
        os.replace(tmp, cache)
    return {n: have[keys[n]] for n in oracles}
