"""One benchmark workload in its own process, closed loop.

Started by ``run.py`` with the repository root on ``PYTHONPATH`` (so
Spark's Python workers can import the engine) and the repository root
as working directory. It starts the Spark session, warms up, then runs
whole passes over the workload's operations, one operation after the
other, until ``--seconds`` have passed (always at least one pass). It
writes everything it measured to ``--out`` as JSON; the parent checks
results and prints the metrics.

An operation is one registry query (``analytics``, ``curation``:
build + collect) or one pipeline job (``ingest``). An ``ingest`` pass
lands ``INGEST_BATCHES`` batches of CSVs, each followed by the five
ERCOT jobs; its warm-up lands and processes one more batch first.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from oracle import summarize  # noqa: E402
from layers import PIPELINES, SIMILARITY_FNS, TEXT_FNS  # noqa: E402
from spans import SparkProbe, Tracer, instrument, self_times  # noqa: E402

#: The reference's BI and ELT operators over the TPC-H-ish tables.
ANALYTICS = (
    "pricing_summary", "avg_by_hour", "mix_percentage", "pearson_corr",
    "asof_join", "asof_forward", "asof_lowcard", "band_join",
    "resample_hourly", "moving_avg", "rollup_revenue", "pivot_revenue",
    "dedup_latest", "decimal_cast", "timestamp_parse", "tz_convert",
    "outer_join", "skew_join", "revenue_by_nation", "sessionize",
    "cohort_retention", "decile_stats",
)

#: The LLM-data curation tier over documents/embeddings: every text
#: and similarity operator the per-layer trace covers, the funnels that
#: chain them over the session's shared shingle frames, and the
#: builder-light scorers.
CURATION = (
    "minhash_pairs", "ngram_jaccard", "boilerplate_filter", "line_dedup",
    "substring_dedup", "simhash_pairs", "dedup_clusters", "curation_funnel",
    "corpus_funnel", "lm_score", "lm_buckets", "tfidf_topk", "hashed_tfidf",
    "vocab_coverage", "dedup_embedding_lsh", "semantic_dedup",
    "similarity_ivf_kmeans", "embedding_clusters_kmeans", "doc_repetition",
    "contamination",
)

QUERY_OPS = {"analytics": ANALYTICS, "curation": CURATION}

#: Tables each query workload reads; the warm-up scans each once.
TABLES = {
    "analytics": ("lineitem", "orders", "customer", "nation", "events", "part"),
    "curation": ("documents", "embeddings"),
}

INGEST_BATCHES = 3

#: similarity function -> module of energydatalake_spark.similarity
SIMILARITY_MODULES = {
    "embedding_near_dup_lsh": "neardup",
    "embedding_semantic_dedup": "neardup",
    "kmeans_centroids": "search",
    "ivf_topk": "search",
}

#: span name -> (module, function) wrapped in the traced run
TRACED = {
    "operators.asof_join": ("energydatalake_spark.operators.asof", "asof_join"),
    "operators.band_join": ("energydatalake_spark.operators.band", "band_join"),
    "operators.dispatch_probe.key_count_estimate": (
        "energydatalake_spark.operators.dispatch", "key_count_estimate"),
    "operators.dispatch_probe.keys_below_threshold": (
        "energydatalake_spark.operators.dispatch", "keys_below_threshold"),
    "operators.connected_components": (
        "energydatalake_spark.operators.graph", "connected_components"),
    **{
        f"text.{fn}": ("energydatalake_spark.text.dedup", fn)
        for fn in TEXT_FNS
    },
    **{
        f"similarity.{fn}": (f"energydatalake_spark.similarity.{SIMILARITY_MODULES[fn]}", fn)
        for fn in SIMILARITY_FNS
    },
    **{
        f"pipelines.{p}": ("energydatalake_spark.pipelines.ercot", p)
        for p in PIPELINES
    },
    "io.read_csv": ("energydatalake_spark.io.readers", "read_csv_folder"),
    "io.upsert": ("energydatalake_spark.io.writers", "upsert_table"),
    "io.archive": ("energydatalake_spark.io.archive", "archive_folder"),
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def jvm_rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of the JVM, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """State of one workload run: session, tracer, op records."""

    def __init__(self, args):
        self.args = args
        self.ops: list[dict] = []
        self.passes: list[float] = []
        self.batches: list[float] = []
        self.tracer: Tracer | None = None
        self.probe: SparkProbe | None = None
        self.spark_totals: dict[str, float] = {}
        self.cache_peak = 0
        self.frames_released = 0
        self.landed: dict[int, dict[str, list[str]]] = {}
        self.landed_bytes = 0

    # ---------------------------------------------------------- set-up
    def start_session(self) -> float:
        from energydatalake_spark.session import get_spark

        work = os.path.abspath(self.args.work)
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            extra_conf={
                # A fixed-size heap (-Xms = -Xmx): under a growing heap
                # the RSS peak tracks G1's timing-driven expansion, not
                # the workload. The heap is then touched in full, so the
                # peak moves with native and off-heap memory, and more
                # heap use shows as GC time in the timings instead.
                "spark.driver.extraJavaOptions":
                    f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g')}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """Identical on both sides of any comparison. ``ingest``: one
        untimed batch, so the measured batches all MERGE into existing
        sinks. Query workloads: scan each input table once; ``curation``
        also starts the Python worker pool."""
        if self.args.workload == "ingest":
            self.ingest_batch(None)
            return
        from energydatalake_spark.io.readers import read_table

        for t in TABLES[self.args.workload]:
            read_table(self.spark, self.args.data, t).count()
        if self.args.workload == "curation":
            n = self.spark.sparkContext.defaultParallelism
            self.spark.range(0, n, 1, n).mapInPandas(
                lambda it: it, "id long"
            ).collect()

    # ---------------------------------------------------------- tracing
    def span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name)

    def start_tracing(self) -> list[str]:
        self.probe = SparkProbe(self.spark)
        self.tracer = Tracer(
            f"{self.args.workload}-s{self.args.seed}", jobs=self.probe.jobs_started
        )
        self.probe.new_stage_totals()  # set-up stages are not workload
        hooks = {
            "io.upsert": lambda df, path, *a, **k: self.tracer.counts.update(
                {"io.upsert_input_bytes": dir_bytes(path)}
            )
        }
        self._restore, missing = instrument(self.tracer, TRACED, hooks)
        return missing

    def after_op(self, df=None) -> None:
        """Per-op Spark accounting (traced run only), then release the
        engine's scratch caches as every long-lived caller does."""
        from energydatalake_spark import release_caches

        if self.probe is not None:
            tot = self.probe.new_stage_totals()
            if df is not None:
                tot["spark.catalyst_s"] += self.probe.catalyst_s(df)
            for k, v in tot.items():
                self.spark_totals[k] = self.spark_totals.get(k, 0) + v
            self.cache_peak = max(self.cache_peak, self.probe.cached_bytes())
        self.frames_released += release_caches()

    # ---------------------------------------------------------- workloads
    def query_op(self, name: str, pass_no: int) -> None:
        from energydatalake_spark.plans.registry import QUERIES

        rec = {"name": name, "pass": pass_no}
        df = None
        t0 = time.perf_counter()
        try:
            with self.span("harness.op") as root:
                if root is not None:
                    root["op"] = name
                with self.span("plans.build"):
                    df = QUERIES[name].build(self.spark, self.args.data)
                with self.span("plans.action"):
                    rows = df.collect()
            rec["seconds"] = time.perf_counter() - t0
            if name == self.args.corrupt:
                rows = rows[:-1]  # planted wrong result for the gate test
            rec.update(summarize(df.columns, rows))
        except Exception as exc:  # one failed op must not end the run
            rec["seconds"] = time.perf_counter() - t0
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        self.ops.append(rec)
        self.after_op(df if "error" not in rec else None)

    def ingest_batch(self, pass_no: int | None) -> float:
        """Land the next batch, then run the five jobs over it; returns
        the seconds the jobs took, landing excluded. With ``pass_no=None``
        (warm-up) nothing is recorded."""
        from energydatalake_spark.__main__ import build_configs
        from energydatalake_spark.pipelines import ercot

        import gen

        configs = build_configs(self.args.lake)
        batch = len(self.landed)
        frames = gen.batch_frames(self.args.seed, batch)
        self.landed_bytes += gen.land_batch(self.args.lake, frames)
        self.landed[batch] = {f: [n for n, _ in files] for f, files in frames.items()}
        t_batch = time.perf_counter()
        for name in PIPELINES:
            rec = {"name": name, "pass": pass_no, "batch": batch}
            t0 = time.perf_counter()
            try:
                with self.span("harness.op") as root:
                    if root is not None:
                        root["op"] = name
                    if name != self.args.corrupt or pass_no is None:
                        getattr(ercot, name)(self.spark, configs[name])
            except Exception as exc:  # one failed job must not end the run
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            rec["seconds"] = time.perf_counter() - t0
            if pass_no is None:
                if "error" in rec:
                    raise RuntimeError(f"warm-up batch failed: {rec['error']}")
                continue
            self.ops.append(rec)
            self.after_op()
        jobs_s = time.perf_counter() - t_batch
        if pass_no is not None:
            self.batches.append(jobs_s)
        return jobs_s

    def measure(self) -> None:
        """Whole passes until ``--seconds`` have passed. An ``ingest``
        pass is the time of its batches' jobs: landing the CSVs is the
        harness's work, not the engine's."""
        deadline = time.perf_counter() + self.args.seconds
        pass_no = 0
        while True:
            if self.args.workload == "ingest":
                self.passes.append(
                    sum(self.ingest_batch(pass_no) for _ in range(INGEST_BATCHES))
                )
            else:
                t0 = time.perf_counter()
                for name in QUERY_OPS[self.args.workload]:
                    self.query_op(name, pass_no)
                self.passes.append(time.perf_counter() - t0)
            pass_no += 1
            if time.perf_counter() >= deadline:
                break

    # ---------------------------------------------------------- teardown
    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True, help="input directory")
    ap.add_argument("--lake", help="ingest lake root (queues, sinks, archive)")
    ap.add_argument("--work", required=True, help="scratch directory")
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--corrupt", default="",
        help="planted fault: this query loses a row / this job is skipped",
    )
    args = ap.parse_args()

    run = Run(args)
    t0 = time.perf_counter()
    session_s = run.start_session()
    run.warm_up()
    setup_s = time.perf_counter() - t0
    jvm_pid = int(run.spark._jvm.java.lang.ProcessHandle.current().pid())
    missing = run.start_tracing() if args.trace else []
    run.measure()
    rss = jvm_rss_peak_mb(jvm_pid)
    import duckdb
    import pyspark

    out = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_s": setup_s,
        "session_start_s": session_s,
        "passes": run.passes,
        "batches": run.batches,
        "ops": run.ops,
        "jvm_rss_peak_mb": rss,
        "versions": {
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "duckdb": duckdb.__version__,
        },
        "frames_released": run.frames_released,
        "landed": run.landed,
        "landed_bytes": run.landed_bytes,
    }
    if run.tracer is not None:
        run._restore()
        out["trace"] = {
            "spans": self_times(run.tracer.spans),
            "counts": dict(run.tracer.counts),
            "spark": run.spark_totals,
            "cache_bytes_peak": run.cache_peak,
            "missing": missing,
        }
    run.stop()
    with open(args.out, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
