"""Table loading & view registration over the contract parquet datasets.

The reference's data model is "dataset = directory of files" (SURVEY §1.1
[K]); here a dataset is a parquet path and the schema comes from the footer.
The one normalization this layer owns is the `events.ts` nanosecond trap
(FIXTURES.md trap #1): with `nanosAsLong` the column arrives as int64
ns-since-epoch and is converted to a microsecond-truncated TIMESTAMP_NTZ.

Loads are lazy `spark.read.parquet` handles; nothing here collects or
caches data. What the session does keep is a schema catalog
(`read_parquet`): inferring a parquet schema runs one Spark job to read the
footer, so each local path's inferred schema is kept and re-applied while
the dataset's file state ((relative path, size, mtime_ns) per file), the
schema-shaping parquet confs and the application are unchanged. Any rewrite
changes the file state and re-infers, the same make-style freshness rule
as every other cache in the engine. Only plain local paths are cached; a
URI (`s3a://`, `file://`) re-infers on every read, because `os.stat` cannot
see a rewrite in a remote store. The ns conversion is a single projected
expression (whole-stage codegen, no UDF).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from filemap_spark.session import ensure_runtime_confs

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _spark_hidden(name: str) -> bool:
    """Spark's file-index rule (`InMemoryFileIndex.shouldFilterOutPathName`)
    for names a read skips: `_SUCCESS`, `.crc` checksums, staging dirs."""
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    hidden = hidden or name.endswith("._COPYING_")
    return hidden and not name.startswith(("_common_metadata", "_metadata"))


def table_fingerprint(path: str) -> tuple:
    """File-state fingerprint ((relative path, size, mtime_ns) per file a
    Spark read sees) of one dataset path — the make-style freshness rule
    shared by every cache in the engine (the schema catalog, worker-side
    similarity indexes, the CC label cache): a rewritten dataset changes the
    fingerprint and invalidates. Hidden names (`_SUCCESS`, `.crc`) are
    skipped as Spark skips them, so touching a commit marker does not
    invalidate. A missing path fingerprints as ()."""
    stat: list[tuple] = []
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not _spark_hidden(d))
            for f in sorted(files):
                if _spark_hidden(f):
                    continue
                full = os.path.join(root, f)
                st = os.stat(full)
                stat.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    elif os.path.isfile(path):
        st = os.stat(path)
        stat.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    return tuple(stat)


# SQL confs that change the schema a parquet read infers from the same files.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# Session schema catalog: path -> (key, inferred StructType). One entry per
# path, so it stays bounded by the number of datasets read; a stale entry is
# overwritten by the next miss on its path.
_SCHEMA_CATALOG: dict[str, tuple[tuple, StructType]] = {}


def _catalog_key(spark: SparkSession, path: str) -> tuple | None:
    """(applicationId, schema confs, file state) for a cacheable path, else
    None: URIs (the file state of a remote store is not visible to
    `os.stat`) and paths with no files take the inferring read every time."""
    if urlparse(path).scheme:
        return None
    state = table_fingerprint(path)
    if not state:
        return None
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    return (spark.sparkContext.applicationId, confs, state)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` through the session schema catalog.

    A hit applies the stored schema with `spark.read.schema(...)`, which
    runs no Spark job; a miss infers it (one job reading the footer) and
    stores it. Either way the DataFrame lists its files when it is created,
    so later appends do not change what it reads. The key is taken BEFORE
    the read: a file rewritten while the schema is inferred leaves an entry
    under the old state, which the next call re-infers. Concurrent misses
    on one path both infer and store equal values."""
    key = _catalog_key(spark, path)
    entry = _SCHEMA_CATALOG.get(path)
    if key is not None and entry is not None and entry[0] == key:
        return spark.read.schema(entry[1]).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMA_CATALOG[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one contract table, normalizing `events.ts` ns→µs.

    Reads through `read_parquet`'s session schema catalog: the first load
    of a table in a session infers its schema (one Spark job), later loads
    of the unchanged table run none. A rewrite of any file, a change to a
    schema-shaping parquet conf or a new application re-infers; URIs are
    never cached.

    Integer arithmetic (not float division) — a double round-trip at 1.7e18 ns
    has ~0.25 µs quantization error and silently corrupts timestamps. FLOOR
    semantics, not truncation: DuckDB's `epoch_ns(ts) // 1000` floors, while
    Spark's `div` truncates toward zero, so pre-1970 (negative-ns) timestamps
    would diverge by 1 µs under plain `div`. The matching DuckDB-side
    normalization is EVENTS_NORM_SQL below.
    """
    ensure_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            floor_us = "(ts div 1000) - (CASE WHEN ts < 0 AND ts % 1000 != 0 THEN 1 ELSE 0 END)"
            df = df.withColumn("ts", F.timestamp_micros(F.expr(floor_us)))
        elif ts_type == "timestamp_ntz":
            # µs-precision naive timestamps (isAdjustedToUTC=false parquet).
            # Session tz is pinned to UTC (session.py), so NTZ→TIMESTAMP is an
            # exact identity on the underlying µs value; downstream operators
            # (unix_micros, window functions) expect the LTZ type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread_single_split(df: DataFrame) -> DataFrame:
    """Parallelism guard for a heavy Python/Arrow compute stage fed by an
    under-split scan (optimization guide §2.5 input skew + §4).

    The sf-scale contract tables are ONE parquet file under one 128 MB
    split, so a decode-heavy `mapInPandas` directly over the scan runs as
    ONE task: r17 measured `mm_dhash_near_dup` decoding 5,000 PNGs in a
    single task (12.6 s wall) while 31 cores idled. Round-robin
    repartition to the session parallelism when (and only when) the
    input arrives with fewer than parallelism/4 partitions — at
    production scale a many-file table already clears the threshold and
    this is a no-op, and on a cluster `defaultParallelism` is the
    executor-core total, so the target stays scale-adaptive rather than
    a local[32] constant. The exchange moves each payload ONCE, straight
    into the only stage that reads it (the guide §8 "move heavy bytes
    once" shape); decode outputs are content-determined per row, so
    results are partitioning-invariant. Extracted from mm_decode_jpeg's
    r14 inline fix so every decode-stage consumer shares one guard.

    PRECONDITION (mechanically enforced since r18 — VERDICT r17 task 5):
    call this on scan-fed plans only (scan + narrow projections).
    `.rdd.getNumPartitions()` is free there, but on a plan containing
    exchanges it EXECUTES every upstream AQE stage a second time
    (measured +4 s on the incremental mm ingests before their guard
    moved to the raw scan); post-shuffle frames that need spreading use
    an unconditional bounded repartition instead (functions/blocked.py's
    candidate joins document that pattern). A call on a plan with any
    shuffle-inducing operator raises instead of silently paying the
    double execution."""
    _assert_scan_only(df)
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 4):
        df = df.repartition(target)
    return df


# Logical operators whose presence means `.rdd.getNumPartitions()` will
# plan (and under AQE, EXECUTE) a shuffle stage — the exact double-
# execution hazard spread_single_split's precondition exists to prevent.
# Narrow operators (Project/Filter/Generate/Union/scan relations) are
# fine and deliberately not listed.
_SPREAD_UNSAFE_NODES = frozenset(
    {
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Distinct",
        "Deduplicate",
        "Intersect",
        "Except",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "CollectMetrics",
        "GlobalLimit",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
    }
)


def _assert_scan_only(df: DataFrame) -> None:
    """Raise if `df`'s analyzed plan contains a shuffle-inducing operator
    (wide node or explicit repartition). Pure plan inspection — nothing is
    executed; every node of the analyzed tree is matched by its class name
    (not `nodeName()`, which prints `Except All` for `exceptAll`)."""
    hits: set[str] = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name in _SPREAD_UNSAFE_NODES:
            hits.add(name)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    if hits:
        raise ValueError(
            "spread_single_split requires a scan-only input plan "
            "(scan + narrow projections): found shuffle-inducing "
            f"operator(s) {sorted(hits)}. Probing partition counts here would "
            "re-execute every upstream AQE stage; use an unconditional "
            "bounded repartition instead (see functions/blocked.py)."
        )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Register all tables as temp views for `spark.sql` entry-point ops."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    return spark


# DuckDB reads events.ts at full ns precision; graded oracle SQL must truncate
# identically to Spark's µs. Prepend this CTE to any oracle query that touches
# `events` — the CTE shadows the driver-registered view of the same name.
EVENTS_NORM_SQL = (
    "WITH events AS (SELECT * REPLACE "
    "(make_timestamp(epoch_ns(ts) // 1000) AS ts) FROM main.events)"
)
