"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The workload runs use the smallest inputs (``--sf 0.001``) and one pass
over each workload's declared operations; each still starts a Spark
session, so the module takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from layers import LAYER_METRICS  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

SEED = 7


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", str(SEED), "--seconds", "0",
        "--trace", str(trace), "--sf", "0.001", *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def last_json(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def record(workload: str, trace: int) -> dict:
    path = os.path.join(HERE, ".runs", f"{workload}-s{SEED}-t{trace}.json")
    with open(path) as fh:
        return json.load(fh)


# ------------------------------------------------------------ no Spark


def test_declared_per_layer_metrics_match_the_trace_table():
    spec = bench_spec()
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, u) for n, u, _ in LAYER_METRICS
    ]


def test_every_layer_function_is_traced():
    from workload import TRACED

    spans = {
        n.rsplit(".", 1)[0] if n.startswith(("text.", "similarity.")) else n[: -len("_s")]
        for n, unit, _ in LAYER_METRICS
        if n.startswith(("text.", "similarity.", "pipelines.")) and unit == "s"
    }
    assert spans <= set(TRACED)


def test_self_times_are_non_negative_and_add_up():
    now = [0.0]
    tr = Tracer("t", clock=lambda: now[0])

    def tick(dt):
        now[0] += dt

    with tr.span("harness.op"):
        tick(1)
        with tr.span("plans.build"):
            tick(2)
            with tr.span("text.minhash_pairs"):
                tick(3)
            tick(1)
        with tr.span("plans.action"):
            tick(4)
    spans = self_times(tr.spans)
    by = {s["name"]: s for s in spans}
    assert by["plans.build"]["self_s"] == 3
    assert by["text.minhash_pairs"]["self_s"] == 3
    assert by["harness.op"]["self_s"] == 1
    assert all(s["self_s"] >= 0 for s in spans)
    assert sum(s["self_s"] for s in spans) == 11
    assert [s["parent"] for s in spans] == [None, 0, 1, 0]
    assert all(s["run"] == "t" for s in spans)


def test_instrument_rebinds_imported_names():
    from energydatalake_spark.operators import asof
    from energydatalake_spark.pipelines import ercot
    from energydatalake_spark.plans import registry

    from spans import instrument

    original = asof.asof_join
    tr = Tracer("t")
    restore, missing = instrument(
        tr,
        {
            "operators.asof_join": ("energydatalake_spark.operators.asof", "asof_join"),
            "gone": ("energydatalake_spark.operators.asof", "no_such_function"),
        },
    )
    try:
        assert missing == ["gone"]
        assert registry.asof_join is not original
        assert ercot.asof_join is registry.asof_join is asof.asof_join
    finally:
        restore()
    assert registry.asof_join is original and ercot.asof_join is original


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".data", ".work", ".runs", "__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ------------------------------------------------------------ with Spark


@pytest.mark.parametrize("workload", ["analytics", "curation", "ingest"])
def test_traced_run_reports_every_layer_metric(workload):
    out = last_json(run_bench(workload, 1))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {n: u for n, u, _ in LAYER_METRICS}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    rec = record(workload, 1)
    spans = rec["spans"]
    assert all(s["self_s"] >= -1e-9 and s["self_jobs"] >= 0 for s in spans)
    roots = [s for s in spans if s["parent"] is None]
    assert all(s["name"] == "harness.op" for s in roots)
    # layer self times + harness self time == time inside the op spans
    inside = sum(s["end"] - s["start"] for s in roots)
    assert sum(s["self_s"] for s in spans) == pytest.approx(inside, abs=1e-6)
    harness = rec["metrics"]["harness.self_s"]["value"]
    layers = sum(s["self_s"] for s in spans if s["name"] != "harness.op")
    assert layers == pytest.approx(inside - harness, abs=1e-6)
    assert inside <= rec["metrics"]["trace.wall_s"]["value"] + 1e-6
    assert rec["trace_missing"] == []
    if workload == "ingest":
        assert rec["metrics"]["pipelines.fm_load_merge_s"]["value"] > 0
        assert rec["metrics"]["io.upsert_input_bytes"]["value"] > 0
    if workload == "curation":
        assert rec["metrics"]["operators.connected_components_s"]["value"] > 0
        assert rec["metrics"]["similarity.kmeans_centroids.self_s"]["value"] > 0


def test_untraced_run_prints_every_end_to_end_metric_and_host_facts():
    out = last_json(run_bench("ingest", 0))
    want = {m["name"]: m["unit"] for m in bench_spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    host = record("ingest", 0)["host"]
    assert {"nproc", "SPARK_GRAFT_CPUS", "commit", "dirty", "seed"} <= set(host)


@pytest.mark.parametrize(
    "workload,op", [("curation", "dedup_clusters"), ("ingest", "spp_weather_merge")]
)
def test_planted_wrong_result_counts_as_failed(workload, op):
    out = last_json(run_bench(workload, 0, "--corrupt", op))
    assert not out["correct"]
    assert out["failed"] >= 1
    assert out["metrics"]["ok_ratio"]["value"] == pytest.approx(
        1 - out["failed"] / out["attempted"]
    )
