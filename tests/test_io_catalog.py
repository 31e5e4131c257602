"""Session parquet schema catalog (`io.read_parquet`): a hit applies the
stored schema and runs no Spark job, and the result is the same DataFrame an
inferring read gives. Every test reads copies in `tmp_path`, so each path
starts uncached."""

from __future__ import annotations

import os
import shutil
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from filemap_spark import io
from filemap_spark.io import TABLES, load_table, read_parquet, register_views

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted), counted through a job group."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def sf_copy(sf_dir, tmp_path):
    dst = tmp_path / "sf"
    shutil.copytree(sf_dir, dst)
    return str(dst)


def _write(path, columns: dict) -> None:
    pq.write_table(pa.table(columns), str(path), version="2.6")


def test_hit_schema_equals_inferring_read(spark, sf_copy):
    for name in TABLES:
        path = f"{sf_copy}/{name}.parquet"
        read_parquet(spark, path)
        hit, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0, name
        assert hit.schema == spark.read.parquet(path).schema, name


def test_load_table_counter_pins(spark, sf_copy):
    """Job counts, not times, so host load cannot move them: a miss infers
    the schema with exactly one job; once every table is in the catalog,
    registering the views of the unchanged dir again runs none."""
    _, miss_jobs = _jobs(spark, lambda: load_table(spark, sf_copy, "orders"))
    assert miss_jobs == 1
    register_views(spark, sf_copy)
    _, again_jobs = _jobs(spark, lambda: register_views(spark, sf_copy))
    assert again_jobs == 0


def test_rewrite_with_added_column_misses(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, {"a": [1, 2]})
    assert read_parquet(spark, str(path)).columns == ["a"]
    _write(path, {"a": [1, 2], "b": ["x", "y"]})
    df, jobs = _jobs(spark, lambda: read_parquet(spark, str(path)))
    assert jobs == 1
    assert df.columns == ["a", "b"]
    assert df.schema == spark.read.parquet(str(path)).schema
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def _ns_events(sf: str) -> None:
    ns = [-1500, 1_700_000_000_123_456_789, 0, -1000]
    _write(
        f"{sf}/events.parquet",
        {"event_id": pa.array(range(4), pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))},
    )


def test_events_ts_same_on_hit_and_miss(spark, tmp_path):
    """The ns→µs floor of `events.ts` runs on the cached schema as well."""
    _ns_events(tmp_path)

    def micros():
        df = load_table(spark, str(tmp_path), "events")
        return df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id").collect()

    miss, miss_jobs = _jobs(spark, micros)
    hit, hit_jobs = _jobs(spark, micros)
    assert [r.us for r in miss] == [-2, 1_700_000_000_123_456, 0, -1]
    assert hit == miss
    assert hit_jobs == miss_jobs - 1


def test_nanos_as_long_flip_misses(spark, tmp_path):
    """A cached bigint `ts` must not be applied once nanosAsLong is off: the
    read re-infers and fails on TIMESTAMP(NANOS) exactly as an uncached
    read does."""
    _ns_events(tmp_path)
    path = f"{tmp_path}/events.parquet"
    read_parquet(spark, path)
    read_parquet(spark, path)
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(NANOS_AS_LONG, "true")
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"


def test_uri_is_never_cached(spark, sf_copy):
    uri = f"file://{sf_copy}/nation.parquet"
    for _ in range(2):
        df, jobs = _jobs(spark, lambda: read_parquet(spark, uri))
        assert jobs == 1
    assert uri not in io._SCHEMA_CATALOG
    assert df.count() == spark.read.parquet(f"{sf_copy}/nation.parquet").count()


def test_rewrites_leave_one_entry_per_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    before = len(io._SCHEMA_CATALOG)
    for width in range(1, 5):
        _write(path, {f"c{i}": [i] for i in range(width)})
        assert len(read_parquet(spark, path).columns) == width
    assert len(io._SCHEMA_CATALOG) == before + 1


def test_concurrent_loads_get_equal_schemas(spark, sf_copy):
    expected = spark.read.parquet(f"{sf_copy}/lineitem.parquet").schema
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            futures = [
                pool.submit(lambda: load_table(spark, sf_copy, "lineitem").schema)
                for _ in range(24)
            ]
            schemas = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(s == expected for s in schemas)
    assert io._SCHEMA_CATALOG[f"{sf_copy}/lineitem.parquet"][1] == expected


def test_append_after_load_does_not_change_frame(spark, tmp_path):
    """The file listing is taken when the DataFrame is created, on a hit as
    on a miss, so a file appended afterwards is not read by it."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", {"a": [1, 2, 3]})
    miss = read_parquet(spark, str(table))
    hit = read_parquet(spark, str(table))
    _write(table / "part-1.parquet", {"a": [4]})
    assert miss.count() == hit.count() == 3
    assert read_parquet(spark, str(table)).count() == 4


def test_commit_marker_touch_still_hits(spark, tmp_path):
    """The memo layer touches `_SUCCESS` on every hit; names Spark does not
    read (`_SUCCESS`, `.crc`) stay out of the file state, so its reads keep
    hitting the catalog."""
    path = str(tmp_path / "out")
    spark.range(3).write.parquet(path)
    read_parquet(spark, path)
    os.utime(os.path.join(path, "_SUCCESS"))
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert df.count() == 3
