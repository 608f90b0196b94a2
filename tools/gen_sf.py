"""Full-table sf1 generator for the whole-registry scale bench
(VERDICT r8 #3 — promote the 9-query heavy probe to all 99 queries).

The driver ships parquet only up to sf0.1; this tool synthesizes a
10× directory with every table the registry reads:

- ``region`` / ``nation``: copied verbatim (fixed dimensions — TPC-H
  does not scale them either).
- ``customer supplier part orders lineitem events``: 10 disjoint
  replicas of the sf0.1 rows with CONSISTENT key offsets — each key
  family (custkey, suppkey, partkey, orderkey, event_id, user_id)
  shifts by ``replica × (max_key + 1)`` in every table it appears in,
  so referential structure (orders→customer, lineitem→orders/part/
  supplier) is preserved exactly and every aggregate/join grows
  linearly. Non-key columns (dates, prices, flags) are untouched:
  group-by keys keep their domains, groups get 10× the rows.
- ``documents`` / ``embeddings``: NOT replicated — replication would
  plant a 10× exact-duplicate rate and blow up every dedup query
  superlinearly for a reason that has nothing to do with the plans.
  Instead ``gen_documents`` / ``gen_embeddings`` below grow the corpus
  10× with the sf0.1 distribution shape (same dup rates, span pool ∝ n).

Writes to the given output dir (default /tmp/sfgen/sf1). Usage:

    python tools/gen_sf.py [out_dir] [multiplier]
    python tools/gen_sf.py [out_dir] --skew

``--skew`` emits a SAME-SIZE fourth distribution (VERDICT r9 #6):
every table copied verbatim except the fact-side FK columns
``lineitem.l_suppkey``, ``orders.o_custkey`` and ``events.user_id``,
which are redrawn from a 30% point-mass on one hot key + 70%
Zipf(s=1.2) mixture over the EXISTING dimension keys (deterministic
seed) — referential integrity holds, but one key owns ~a third of
the fact table and the tail follows a power law. gen_sf's replica
mode is uniform by construction, so this is the distribution that
actually exercises salting / AQE skew handling; the oracle gate is
distribution-independent (DuckDB reads the same parquet), which is
exactly the property the skew run verifies.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_GEN_SEED = 4242

VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window",
    "order", "data", "column", "join", "small", "customer", "query", "big",
    "stream", "group", "filter", "vector", "sessionize",
]


def gen_documents(path: str, n_docs: int, rng: np.random.Generator) -> None:
    """~54-token docs over the 31-word vocab; ~0.2% exact dups and a
    planted pool of shared 6-token spans (the sf0.1 corpus shows ~1k
    cross-doc spans at k=5-8) so dedup finds real structure."""
    spans = [
        list(rng.choice(VOCAB, size=6)) for _ in range(max(20, n_docs // 250))
    ]
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.002:
            texts.append(texts[rng.integers(0, len(texts))])  # exact dup
            continue
        toks = list(rng.choice(VOCAB, size=int(rng.integers(40, 69))))
        if rng.random() < 0.3:  # plant a shared span mid-document
            span = spans[rng.integers(0, len(spans))]
            p = int(rng.integers(0, len(toks) - 6))
            toks[p : p + 6] = span
        texts.append(" ".join(toks))
    langs = rng.choice(["en", "de", "fr", "es", "pt"], size=n_docs)
    sources = rng.choice([f"src{i}" for i in range(20)], size=n_docs)
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array(sources.tolist()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, path)


def gen_embeddings(path: str, n_vecs: int, rng: np.random.Generator) -> None:
    """Unit-norm 64-dim vectors in 10 clusters + ~2% planted near-dup
    twins (tiny perturbation of an earlier vector)."""
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_vecs, 64))
    dup = rng.random(n_vecs) < 0.02
    for i in np.flatnonzero(dup):
        if i == 0:
            continue
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + 0.01 * rng.normal(size=64)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(tbl, path)


SRC = os.environ.get("SPARK_GRAFT_GEN_SRC", "/root/testdata/sf0.1")

#: table -> {column: key_family}; every member of a family shifts by
#: the same per-replica offset so joins keep matching.
KEYED = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    # user_id is an FK into customer.c_custkey (streaming_enrich joins
    # e.user_id = c.c_custkey), so it MUST shift with the cust family —
    # a private family would pair replica-i events with replica-0
    # customers and break the referential invariant (caught by r9
    # self-review; pinned in test_gen_sf_events_user_fk).
    "events": {"event_id": "evt", "user_id": "cust"},
}
COPY = ["region", "nation"]


#: fact table -> (fk column, dimension table, dimension key) for the
#: --skew redraw. events.user_id is an FK into customer (see KEYED).
SKEW_FKS = {
    "lineitem": ("l_suppkey", "supplier", "s_suppkey"),
    "orders": ("o_custkey", "customer", "c_custkey"),
    "events": ("user_id", "customer", "c_custkey"),
}
SKEW_HOT_SHARE = 0.30
SKEW_ZIPF_S = 1.2


def _skew_main(out: str) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(20260814)
    all_tables = COPY + list(KEYED)
    for t in all_tables:
        if t not in SKEW_FKS:
            shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
            print(f"{t}: copied")
    for t in ("documents", "embeddings"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
        print(f"{t}: copied")
    for t, (fk, dim, dim_key) in SKEW_FKS.items():
        tab = pq.read_table(f"{SRC}/{t}.parquet")
        keys = np.sort(
            pc.unique(pq.read_table(f"{SRC}/{dim}.parquet")[dim_key])
            .to_numpy(zero_copy_only=False)
        )
        n = tab.num_rows
        # 30% point-mass on the smallest key + Zipf(s) ranks over all
        # keys: one hot zone plus a power-law tail.
        ranks = np.arange(1, len(keys) + 1, dtype=np.float64)
        pmf = ranks ** -SKEW_ZIPF_S
        pmf /= pmf.sum()
        draw = np.where(
            rng.random(n) < SKEW_HOT_SHARE,
            keys[0],
            rng.choice(keys, size=n, p=pmf),
        )
        idx = tab.schema.get_field_index(fk)
        typ = tab.schema.field(idx).type
        tab = tab.set_column(
            idx, tab.schema.field(idx), pc.cast(pa.array(draw), typ)
        )
        pq.write_table(tab, f"{out}/{t}.parquet")
        hot = (draw == keys[0]).mean()
        print(f"{t}: {fk} redrawn over {len(keys)} keys, hot share {hot:.2%}")
    print(f"wrote {out}")


def main() -> None:
    # Recognize --skew anywhere in argv (r10 bug: only argv[2:] was
    # scanned, so `gen_sf.py --skew` silently wrote to ./--skew), and
    # refuse an out_dir that looks like a flag.
    skew = "--skew" in sys.argv[1:]
    pos = [a for a in sys.argv[1:] if a != "--skew"]
    usage = "usage: gen_sf.py [out_dir] [multiplier | --skew]"
    # Validate EVERY positional, not just pos[0] (r11 review): a
    # flag-like token anywhere, a non-integer multiplier, or an extra
    # argument must error loudly instead of tracebacking or being
    # silently dropped (--skew takes no multiplier; a dropped one would
    # write a same-size dir the caller believes is scaled).
    for a in pos:
        if a.startswith("-"):
            raise SystemExit(f"gen_sf: unrecognized flag {a!r}; {usage}")
    if len(pos) > 2 or (skew and len(pos) > 1):
        raise SystemExit(f"gen_sf: too many arguments {pos!r}; {usage}")
    out = pos[0] if pos else ("/tmp/sfgen/skew" if skew else "/tmp/sfgen/sf1")
    if skew:
        _skew_main(out)
        return
    if len(pos) > 1:
        try:
            mult = int(pos[1])
        except ValueError:
            raise SystemExit(
                f"gen_sf: multiplier {pos[1]!r} is not an integer; {usage}"
            ) from None
        if mult < 1:
            # 0 would "succeed" writing empty scaled tables (ADVICE
            # r11 #3); negatives only tripped the flag check above
            # with a misleading message.
            raise SystemExit(
                f"gen_sf: multiplier must be >= 1, got {mult}; {usage}"
            )
    else:
        mult = 10
    os.makedirs(out, exist_ok=True)

    for t in COPY:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
        print(f"{t}: copied")

    # Family offsets from the data, shared across tables.
    offsets: dict[str, int] = {}
    tables = {t: pq.read_table(f"{SRC}/{t}.parquet") for t in KEYED}
    for t, cols in KEYED.items():
        for col, fam in cols.items():
            m = pc.max(tables[t][col]).as_py() + 1
            offsets[fam] = max(offsets.get(fam, 0), m)

    for t, cols in KEYED.items():
        src = tables[t]
        replicas = []
        for i in range(mult):
            if i == 0:
                replicas.append(src)
                continue
            rep = src
            for col, fam in cols.items():
                idx = rep.schema.get_field_index(col)
                typ = rep.schema.field(idx).type
                # Shifted keys must still fit the source dtype; fail with
                # a message naming the multiplier/key-width interaction
                # instead of pyarrow's bare overflow error.
                top = (mult - 1) * offsets[fam] + offsets[fam] - 1
                lim = {pa.int32(): 2**31 - 1, pa.int64(): 2**63 - 1}.get(typ)
                if lim is not None and top > lim:
                    raise OverflowError(
                        f"{t}.{col} ({typ}) cannot hold replica keys up to "
                        f"{top} at multiplier {mult}; lower the multiplier "
                        f"or widen the key column"
                    )
                shifted = pc.cast(
                    pc.add(pc.cast(rep[col], pa.int64()), i * offsets[fam]), typ
                )
                rep = rep.set_column(idx, rep.schema.field(idx), shifted)
            replicas.append(rep)
        big = pa.concat_tables(replicas)
        pq.write_table(big, f"{out}/{t}.parquet")
        print(f"{t}: {src.num_rows} -> {big.num_rows}")

    n_docs, n_vecs = 5_000 * mult, 2_000 * mult
    rng = np.random.default_rng(_GEN_SEED)
    gen_documents(f"{out}/documents.parquet", n_docs, rng)
    gen_embeddings(f"{out}/embeddings.parquet", n_vecs, rng)
    print(f"documents: {n_docs}, embeddings: {n_vecs}")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
