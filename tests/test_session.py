"""The engine runs the same wherever it is launched: its Python
workers import the package even when the driver's working directory
is elsewhere and PYTHONPATH is unset."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

ROOT = str(Path(__file__).resolve().parent.parent)

SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from energydatalake_spark.plans.registry import QUERIES
from energydatalake_spark.session import get_spark

spark = get_spark("worker-import", shuffle_partitions=2)
# multimodal_decode runs a mapInPandas closure, dedup_embedding an
# applyInPandas one; both import the package inside the worker.
for name in ("multimodal_decode", "dedup_embedding"):
    QUERIES[name].build(spark, {sf!r}).collect()
    print("ok", name)
"""


def test_pandas_udf_workers_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=ROOT, sf=SF_SMOKE)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["ok", "multimodal_decode", "ok", "dedup_embedding"]
