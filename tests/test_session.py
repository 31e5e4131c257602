"""Session factory: Python workers import the package from any working
directory when it is not installed."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from filemap_spark import get_spark
from filemap_spark.registry import all_queries
spark = get_spark("worker-import", master="local[2]")
print("ROWS", len(dict(all_queries())["mm_decode_jpeg"](spark, sys.argv[2]).collect()))
"""


def test_workers_import_package_from_foreign_cwd(tmp_path, sf_dir):
    """mm_decode_jpeg decodes in a mapInPandas worker. Started from a temp
    cwd with PYTHONPATH unset, only get_spark can tell the workers where
    the checkout is."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO, os.path.abspath(sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    rows = [line for line in run.stdout.splitlines() if line.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, run.stdout[-2000:]
