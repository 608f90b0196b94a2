"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload analytics --seed 42 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``analytics``: relational and temporal registry queries over the
  TPC-H-ish tables;
- ``curation``: LLM-data curation registry queries over the
  ``documents`` / ``embeddings`` tables;
- ``ingest``: timed batches of ERCOT/weather CSVs through the five
  pipeline jobs into growing MERGE sinks.

The harness makes the seeded inputs (``gen.py``) and the DuckDB oracle
answers (``oracle.py``) under ``perfbench/.data``, starts the workload
in its own process (``workload.py``: one closed-loop client on
``local[nproc]``), checks every result, and prints the metrics as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the workload records spans around calls into each layer
and the metrics are the per-layer ones. Either way the full record,
stamped with host facts, is written to ``perfbench/.runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("analytics", "curation", "ingest")
#: scale factor of the generated tables (lineitem ~6M x SF rows)
SF = 0.01
#: the whole run must end within this many seconds
RUN_LIMIT_S = 170


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n: int) -> float:
    """The highest percentile with at least ten of ``n`` samples beyond
    it; p90 when ``n`` < 100 (a run has tens of operations)."""
    return max(0.9, 1.0 - 10.0 / n)


def code_state() -> dict:
    """Commit of the checkout and the tracked files that differ from
    it; ``unknown`` outside a git checkout."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        status = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        ).stdout
    except (OSError, subprocess.SubprocessError):
        sha, status = "", ""
    return {
        "commit": sha or "unknown",
        "dirty": [line[3:] for line in status.splitlines() if line.strip()],
    }


def ensure_tables(seed: int, sf: float) -> str:
    """Generate the seed's tables once; later runs reuse them."""
    import gen

    path = os.path.join(HERE, ".data", f"s{seed}-sf{sf}")
    if not os.path.exists(os.path.join(path, "done")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp, seed, sf)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def launch_env(work: str) -> dict[str, str]:
    """The workload's environment: repo root importable by Spark's
    Python workers, cores pinned to the host's, scratch inside the
    checkout."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # 1g rather than the engine's 8g default: the inputs are small, the
    # heap is fixed-size (see workload.py) and a run stays near 1.6 GiB
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too: no perf data in /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def live_members(pgid: int) -> list[int]:
    """Processes of group ``pgid`` that are not zombies."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_group(pgid: int) -> None:
    """Kill whatever is left of the workload's process group (the JVM
    and Spark's Python workers) and wait until it is gone."""
    for _ in range(100):
        if not live_members(pgid):
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise SystemExit(f"process group {pgid} did not exit")


def run_workload(args, data: str, work: str, deadline: float) -> dict:
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--lake", os.path.join(work, "lake"),
        "--work", work, "--out", out,
    ]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    env = launch_env(work)
    log_path = os.path.join(work, "workload.log")
    steal0 = steal_s()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stop_group(proc.pid)
            proc.wait()
            raise SystemExit(f"workload timed out; log: {log_path}")
        finally:
            stop_group(proc.pid)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"workload exited with {proc.returncode}")
    with open(out) as fh:
        res = json.load(fh)
    # paths relative to the checkout root, which is also the cwd
    res["launch_env"] = {
        k: env[k].replace(ROOT + os.sep, "").replace(ROOT, ".")
        for k in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                  "SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS")
    }
    res["host_steal_s"] = steal_s() - steal0
    return res


def check_queries(res: dict, data: str) -> list[str]:
    from energydatalake_spark.plans.registry import QUERIES

    import oracle

    names = sorted({op["name"] for op in res["ops"]})
    want = oracle.oracle_answers(data, {n: QUERIES[n].oracle for n in names})
    bad = []
    for op in res["ops"]:
        if "error" in op:
            bad.append(f"{op['name']}: {op['error']}")
        elif {"rows": op["rows"], "hash": op["hash"]} != want[op["name"]]:
            bad.append(
                f"{op['name']}: {op['rows']} rows / hash differs from the oracle "
                f"({want[op['name']]['rows']} rows)"
            )
    return bad


def check_ingest(res: dict, lake: str) -> list[str]:
    from energydatalake_spark.__main__ import build_configs

    import ingest_check

    bad = [f"{op['name']}: {op['error']}" for op in res["ops"] if "error" in op]
    landed = {int(b): files for b, files in res["landed"].items()}
    return bad + ingest_check.check(lake, build_configs(lake), res["seed"], landed)


def end_to_end(res: dict, failed: int) -> dict[str, tuple[float, str]]:
    lat = [op["seconds"] for op in res["ops"]]
    return {
        "wall_s": (statistics.median(res["passes"]), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (percentile(lat, tail_q(len(lat))), "s"),
        "ok_ratio": (1.0 - failed / len(lat), "ratio"),
        "setup_s": (res["setup_s"], "s"),
        "jvm_rss_peak_mb": (res["jvm_rss_peak_mb"], "MiB"),
    }


def per_layer(res: dict, lake: str) -> dict[str, tuple[float, str]]:
    """The metrics of ``layers.LAYER_METRICS`` from the traced run."""
    from layers import LAYER_METRICS
    from workload import dir_bytes

    tr = res["trace"]
    totals: dict[str, float] = dict(tr["spark"])
    for s in tr["spans"]:
        name = s["name"]
        if name.startswith("operators.dispatch_probe."):
            name = "operators.dispatch_probes"
            totals[name] = totals.get(name, 0) + 1
            continue
        for suffix, key in (("_s", "self_s"), ("_jobs", "self_jobs")):
            totals[name + suffix] = totals.get(name + suffix, 0) + s[key]
    sink = dir_bytes(os.path.join(lake, "warehouse")) if res["workload"] == "ingest" else 0
    totals.update(
        {
            "session.start_s": res["session_start_s"],
            "cache.bytes_peak": tr["cache_bytes_peak"],
            "cache.frames_released": res["frames_released"],
            "io.upsert_input_bytes": tr["counts"].get("io.upsert_input_bytes", 0),
            "io.sink_bytes": sink,
            "io.stored_bytes_per_input_byte": (
                sink / res["landed_bytes"] if res["landed_bytes"] else 0.0
            ),
            "harness.self_s": totals.get("harness.op_s", 0.0),
            "trace.wall_s": sum(res["passes"]),
        }
    )
    out = {}
    for name, unit, _ in LAYER_METRICS:
        key = name
        if name.startswith(("text.", "similarity.")):  # <fn>.self_s / <fn>.jobs
            key = name.replace(".self_s", "_s").replace(".jobs", "_jobs")
        out[name] = (totals.get(key, 0), unit)
    return out


def rollup(res: dict, metrics: dict) -> dict:
    """Per-layer self time, jobs and share of the traced wall, with the
    bytes each layer moved where it is known: Spark's stage totals and
    the io layer's MERGE read-back and sink bytes."""
    wall = sum(res["passes"])
    layers: dict[str, dict] = {}
    for s in res["trace"]["spans"]:
        d = layers.setdefault(s["name"].split(".")[0], {"self_s": 0.0, "jobs": 0})
        d["self_s"] += s["self_s"]
        d["jobs"] += s["self_jobs"]
    for d in layers.values():
        d["share_of_wall"] = d["self_s"] / wall if wall else 0.0
    layers["spark"] = dict(res["trace"]["spark"])
    if "io" in layers:
        for k in ("io.upsert_input_bytes", "io.sink_bytes"):
            layers["io"][k.split(".", 1)[1]] = metrics[k][0]
    return layers


def host_facts(args) -> dict:
    import platform

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(nproc())),
        **code_state(),
        "seed": args.seed,
        "machine": platform.machine(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", default="", help=argparse.SUPPRESS)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S

    if not os.path.isdir(os.path.join(ROOT, "energydatalake_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        import energydatalake_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = ensure_tables(args.seed, args.sf) if args.workload != "ingest" else work
        if args.workload != "ingest":
            import oracle
            from energydatalake_spark.plans.registry import QUERIES
            from workload import QUERY_OPS

            oracle.oracle_answers(
                data, {n: QUERIES[n].oracle for n in QUERY_OPS[args.workload]}
            )
        res = run_workload(args, data, work, deadline)
        lake = os.path.join(work, "lake")
        problems = (
            check_ingest(res, lake) if args.workload == "ingest"
            else check_queries(res, data)
        )
        attempted = len(res["ops"])
        failed = min(attempted, len(problems))
        metrics = per_layer(res, lake) if args.trace else end_to_end(res, failed)
        record = {
            "host": host_facts(args),
            "versions": res["versions"],
            "launch_env": res["launch_env"],
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
            "sf": args.sf if args.workload != "ingest" else None,
            "host_steal_s": res["host_steal_s"],
            "problems": problems,
            "passes": res["passes"],
            "batches": res["batches"],
            "ops": [
                {k: op.get(k) for k in ("name", "pass", "seconds", "rows", "error")}
                for op in res["ops"]
            ],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if args.trace:
            record["layers"] = rollup(res, metrics)
            record["trace_missing"] = res["trace"]["missing"]
            record["spans"] = res["trace"]["spans"]
        runs = os.path.join(HERE, ".runs")
        os.makedirs(runs, exist_ok=True)
        with open(
            os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
        ) as fh:
            json.dump(record, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"# FAILED {p}", file=sys.stderr)
    print(f"# host {json.dumps(record['host'])} versions {json.dumps(record['versions'])}",
          file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": record["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
