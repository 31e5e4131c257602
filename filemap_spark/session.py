"""SparkSession factory + defensive runtime conf for driver-owned sessions.

The reference runs shell pipelines over local files with no engine config at
all (SURVEY §1.1 [K]); here the equivalent "just works on the data" posture is
a session pre-configured for the contract data: UTC, ns-timestamp parquet
compat (FIXTURES.md trap #1), Arrow transfer for the pandas-UDF boundary, and
AQE for runtime re-planning at scale (SURVEY §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and required) to set at runtime on ANY session,
# including one the verify driver created itself. All are dynamic SQLConfs.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet is timestamp[ns]; without this PySpark 4.1.2 throws
    # [PARQUET_TYPE_ILLEGAL] INT64 (TIMESTAMP(NANOS,false)).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    # Dataset at test scale is small; AQE coalesces up from this at runtime.
    "spark.sql.shuffle.partitions": "16",
    # The 128-column MinHash signature project/agg exceeds the default
    # whole-stage-codegen field limit (100) and silently falls back to
    # interpreted mode; 200 keeps wide sketch aggregates in codegen
    # (measured ~12% on the signature stage).
    "spark.sql.codegen.maxFields": "200",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the required dynamic confs to an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable on this build — leave the session's value in place.
            pass
    return spark


def _worker_pythonpath() -> str | None:
    """The directory holding this package when it is not installed, else None.

    Python workers import from Spark's own path, the site directories and
    PYTHONPATH. A package imported from a checkout (through the driver's
    working directory or a `sys.path` edit) is invisible to them once the
    driver runs from another directory."""
    import site

    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    site_dirs = [*site.getsitepackages(), site.getusersitepackages()]
    return None if parent in map(os.path.abspath, site_dirs) else parent


def get_spark(app_name: str = "filemap-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a session configured for the contract data.

    Honors the driver env vars: SPARK_GRAFT_CPUS selects local parallelism.
    On a real cluster the same confs apply; only `master` changes. When the
    package is not installed, its parent directory goes on the workers'
    PYTHONPATH so Python UDFs can import it from any working directory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    pythonpath = _worker_pythonpath()
    if pythonpath is not None:
        builder = builder.config("spark.executorEnv.PYTHONPATH", pythonpath)
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return ensure_runtime_confs(builder.getOrCreate())
