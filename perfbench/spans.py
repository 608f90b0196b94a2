"""Spans and counters for the traced run.

A span records a name, start, end, parent span, run id and the Spark
jobs started while it was open. Spans nest by call order (one driver
thread), are kept in memory and written out when the run ends. A
span's self time is its duration minus the durations of its direct
children, and the same holds for jobs.

``instrument`` wraps public engine functions in spans. Every binding
of a wrapped function is replaced, not only the one in its defining
module: registry and pipeline modules import operators by name, and a
call through such a binding would otherwise go unseen.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``jobs`` returns the number of Spark
    jobs started so far (monotone); it defaults to 0 for runs without
    Spark."""

    def __init__(self, run_id: str, jobs=lambda: 0, clock=time.perf_counter):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._jobs = jobs
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": self._clock(),
        }
        jobs0 = self._jobs()
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["jobs"] = self._jobs() - jobs0
            rec["end"] = self._clock()


def self_times(spans: list[dict]) -> list[dict]:
    """Each span with ``self_s`` and ``self_jobs`` added: its own
    duration and jobs minus those of its direct children."""
    child_s = Counter()
    child_jobs = Counter()
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
            child_jobs[s["parent"]] += s["jobs"]
    return [
        {
            **s,
            "self_s": (s["end"] - s["start"]) - child_s[s["id"]],
            "self_jobs": s["jobs"] - child_jobs[s["id"]],
        }
        for s in spans
    ]


def instrument(tracer: Tracer, targets: dict[str, tuple[str, str]], hooks=None):
    """Wrap each ``targets[span_name] = (module, function)`` in a span
    named ``span_name`` at every binding inside the engine package.
    ``hooks[span_name](*args, **kwargs)`` runs before the call, inside
    the span. Returns ``(restore, missing)``: a callable that puts the
    original functions back, and the span names whose function no
    longer exists."""
    hooks = hooks or {}
    originals: dict[int, tuple[object, object]] = {}
    missing = []
    for span_name, (mod_name, fn_name) in targets.items():
        fn = getattr(importlib.import_module(mod_name), fn_name, None)
        if fn is None:
            missing.append(span_name)
            continue
        originals[id(fn)] = (fn, _wrap(tracer, span_name, fn, hooks.get(span_name)))
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("energydatalake_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                patched.append((mod, attr, val))

    def restore() -> None:
        for mod, attr, val in patched:
            setattr(mod, attr, val)

    return restore, missing


def _wrap(tracer: Tracer, span_name: str, fn, hook):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            if hook is not None:
                hook(*args, **kwargs)
            return fn(*args, **kwargs)

    return traced


class SparkProbe:
    """Reads Spark's own accounting over py4j (works with the UI off):
    the job counter, completed-stage metrics, Catalyst phase times of a
    final plan, and persisted-RDD bytes."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_stage = -1

    def jobs_started(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def new_stage_totals(self) -> Counter:
        """Totals over stages that finished since the previous call."""
        out = Counter()
        stages = self._sc.statusStore().stageList(
            None, False, False, self._no_quantiles, None
        )
        top = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                continue
            top = max(top, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numTasks()
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.input_bytes"] += s.inputBytes()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._last_stage = top
        return out

    def catalyst_s(self, df) -> float:
        """Analysis + optimization + planning time of ``df``'s plan."""
        phases = self._spark._jvm.scala.collection.JavaConverters.mapAsJavaMap(
            df._jdf.queryExecution().tracker().phases()
        )
        return sum(phases.get(k).durationMs() for k in phases.keySet()) / 1e3

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo())
