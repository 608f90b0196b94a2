"""Physical-plan audit over every registry query: the ".explain and
iterate" discipline, mechanized. Emits PLANS.md — one row per query
with the plan facts that matter at 100 TB (shuffle count, codegen
spans, scan pushdown, join strategies, red flags).

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RED_FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin")

#: Queries whose SEMANTICS are a cross product against a broadcast tiny
#: side (brute-force top-k scores every corpus x query pair). The
#: nested-loop there is the algorithm, not an accident — whitelisted,
#: not flagged. (The IVF queries left this set in r6: assignment and
#: probing became map-side literal-codebook argmax expressions.)
INTENDED_CROSS = {
    "similarity_topk",
    "ann_recall",  # composes similarity_topk — same intended broadcast cross
    "ivf_recall",  # same: the exact side IS similarity_topk's plan
    "quantized_recall",  # same: both sides are cosine_topk's plan
}

#: Queries that cross-join a broadcast ONE-ROW aggregate back onto the
#: stream (corpus doc count, continuation-vocab size, percentile
#: bounds). A 1-row broadcast nested loop is the canonical scalar
#: re-attach — constant work per row, no pair expansion — so it is
#: annotated, not flagged.
SCALAR_CROSS = {
    "tfidf_topk",
    "lm_score",
    "doc_outliers",
    "source_profile",
    "corpus_funnel",  # inherits lm_score's 1-row vocab-size re-attach
    "lm_buckets",  # inherits lm_score's 1-row vocab-size re-attach
    "quality_probe",  # 1-row trained-model (moment sums) re-attach
    "curation_funnel",  # composes quality_probe — same 1-row re-attach
    "hashed_tfidf",  # 1-row corpus-doc-count (idf denominator) re-attach
    "dedup_recall",  # two 1-row count frames re-attach onto the verdict
    "join_skew_profile",  # 1-row (total_rows, n_keys) summary re-attach
    "decile_stats",  # 1-row exact-percentile cutpoint re-attach
    "semantic_recall",  # 3-row tier frame (non-equi) + 1-row count re-attach
}

#: Queries whose nested-loop is the bucketed as-of tier's carry-grid
#: construction: distinct right keys × spark.range(time_buckets) — a
#: model-sized cross (≤ n_keys × time_buckets rows, 4 × 32 here) that
#: exists precisely so the DATA-sized work can partition by (key,
#: bucket). Bounded by the caller's low-cardinality opt-in; annotated,
#: not flagged.
GRID_CROSS = {
    "asof_lowcard",
}

#: Streaming queries execute during build (memory sink) — their plan is
#: the post-hoc memory-table scan, so mark them instead of mis-auditing.
STREAMING = {"streaming_hourly", "streaming_dedup", "streaming_enrich"}


def audit(plan: str) -> dict:
    return {
        # formatted mode numbers the nodes: "(7) Exchange"
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "pandas": plan.count("InPandas") + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "flags": [f for f in RED_FLAGS if f in plan],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    from energydatalake_spark.plans.registry import QUERIES, bench_order
    from energydatalake_spark.session import get_spark

    spark = get_spark("plan-audit")
    # Audit each query under its DRIVER-SCALE dispatch tier (r19): the
    # r19 auto-dispatch picks a temporal-join tier from right-side key
    # cardinality vs spark.sql.shuffle.partitions, and this audit's
    # corpus (sf0.001) is 10× smaller than the driver's sf0.01 gate —
    # at the default threshold (32) the smoke corpus's ~15 event users
    # would flip the user_id-keyed as-ofs to the bucketed tier, making
    # the audit describe a plan the driver/bench never runs (and
    # breaking row comparability with ≤r18). Threshold 8 reproduces
    # the driver-scale outcomes on this corpus: user_id keys (15 here,
    # 150+ at sf0.01) audit PLAIN; asof_lowcard's 4-value segment
    # still audits its production BUCKETED grid.
    spark.conf.set("spark.graft.asof.autoBucketMaxKeys", "8")
    spark.conf.set("spark.graft.band.autoBucketMaxKeys", "8")
    from energydatalake_spark import release_caches

    rows = []
    # FROZEN order (registry.BENCH_ORDER, r18): explain output is
    # session-state-dependent — a shared sub-frame audits as
    # InMemoryRelation when its cache slot is free and as raw
    # codegen'd scans when earlier builds hold it (the r17/ADVICE
    # ngram_jaccard 2-vs-0 codegen flip, reproduced by replaying the
    # r16 audit prefix) — so rows are only comparable round-over-round
    # if every query keeps its audit position across window rotations.
    # r20: ALSO release the engine's scratch caches between builds —
    # the bench does (release_caches per query), and without it the
    # CacheManager substitutes an EARLIER query's persisted frame into
    # a later query's audited plan wherever the subtrees match, so a
    # new persist in query A silently rewrote query B's audit row.
    # With the release, each row audits the query as the bench runs it.
    for name in bench_order():
        q = QUERIES[name]
        if name in STREAMING:
            rows.append((name, None))
            continue
        release_caches()
        df = q.build(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        a = audit(buf.getvalue())
        if name in INTENDED_CROSS:
            a["flags"] = [f"{f} (intended: broadcast cross)" for f in a["flags"]]
            a["intended"] = True
        elif name in SCALAR_CROSS:
            a["flags"] = [
                f"{f} (intended: 1-row scalar broadcast)" for f in a["flags"]
            ]
            a["intended"] = True
        elif name in GRID_CROSS:
            a["flags"] = [
                f"{f} (intended: model-sized keys×buckets carry grid)"
                for f in a["flags"]
            ]
            a["intended"] = True
        rows.append((name, a))

    with open(out_md, "w") as f:
        f.write(
            "# Physical-plan audit\n\n"
            f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Columns:\n"
            "shuffle exchanges / whole-stage-codegen spans / parquet filter\n"
            "pushdown present / broadcast-hash joins / sort-merge joins /\n"
            "Arrow-batched Python stages / red flags (cartesian or\n"
            "nested-loop joins — should ALWAYS be none).\n\n"
            "| query | exch | codegen | pushdown | BHJ | SMJ | pandas | flags |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for name, a in rows:
            if a is None:
                f.write(f"| {name} | — | — | — | — | — | — | streaming (memory-sink result) |\n")
                continue
            f.write(
                f"| {name} | {a['exchanges']} | {a['codegen']} |"
                f" {'yes' if a['pushed'] else '—'} | {a['bhj']} | {a['smj']} |"
                f" {a['pandas']} | {', '.join(a['flags']) or '—'} |\n"
            )
    n_flagged = sum(1 for _, a in rows if a and a["flags"] and not a.get("intended"))
    print(f"{out_md}: {len(rows)} queries, {n_flagged} with red flags")
    if n_flagged:
        sys.exit(1)


if __name__ == "__main__":
    main()
