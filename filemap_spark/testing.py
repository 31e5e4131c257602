"""Local differential harness mirroring the driver's correctness gate.

The driver runs each `queries()[name]` on Spark and `oracle_sql()[name]` on
DuckDB over the same parquet, then compares row-count + schema +
order-insensitive value-hash (SURVEY §5.2). This module reproduces that
check locally so every operator is validated before the driver ever sees it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from filemap_spark.io import TABLES


def count_jobs(spark, fn) -> tuple[Any, int]:
    """(fn(), number of Spark jobs fn submitted), counted through a job
    group on the calling thread."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _fmt_scalar(v: Any) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, (np.floating, float)):
        if isinstance(v, float) and math.isnan(v) or isinstance(v, np.floating) and np.isnan(v):
            return "<NULL>"
        r = round(float(v), 6)
        if r == 0:
            r = 0.0  # normalize -0.0
        return format(r, ".6f")
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_fmt_scalar(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if v is pd.NaT:
        return "<NULL>"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    """Sort columns by name, stringify values (floats at 6dp), sort rows."""
    cols = sorted(pdf.columns)
    pdf = pdf.reindex(cols, axis=1)
    rows = [tuple(_fmt_scalar(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    rows.sort()
    return list(cols), rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str = ""
    spark_rows: int = 0
    oracle_rows: int = 0
    diffs: list[str] = field(default_factory=list)

    def __str__(self) -> str:  # pragma: no cover - debug aid
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name} ({self.spark_rows} rows)"
        if not self.ok:
            msg += f" — {self.detail}"
            for d in self.diffs[:6]:
                msg += f"\n    {d}"
        return msg


def compare_frames(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> CompareResult:
    res = CompareResult(name, ok=True, spark_rows=len(spark_pdf), oracle_rows=len(duck_pdf))
    s_cols, s_rows = canonical_rows(spark_pdf)
    d_cols, d_rows = canonical_rows(duck_pdf)
    if s_cols != d_cols:
        res.ok = False
        res.detail = f"schema mismatch: spark={s_cols} oracle={d_cols}"
        return res
    if len(s_rows) != len(d_rows):
        res.ok = False
        res.detail = f"row-count mismatch: spark={len(s_rows)} oracle={len(d_rows)}"
    if s_rows != d_rows:
        res.ok = False
        res.detail = res.detail or "value mismatch"
        for sr, dr in zip(s_rows, d_rows):
            if sr != dr:
                res.diffs.append(f"spark={sr} oracle={dr}")
            if len(res.diffs) >= 6:
                break
    return res


def driver_canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """The DRIVER's canonicalization step, reproduced faithfully: sort
    columns by name, then pandas-lexsort the RAW frame over all columns
    (`sort_values`). This is applied to EVERY result — including
    rows-only ones — so a cell pandas cannot factorize (numpy array,
    dict, …) raises TypeError here exactly as it does driver-side.
    The r1 `agg_collect_sorted` and r4 `emb_pca_project` failures were
    both this class; running it locally makes the class unshippable."""
    cols = sorted(pdf.columns)
    pdf = pdf.reindex(cols, axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort")
    return pdf


def complex_output_columns(schema) -> list[str]:
    """Top-level ArrayType/MapType/StructType columns in a result schema.
    The grading driver pandas-lexsorts every declared result, and those
    types materialize as unhashable cells there — no declared query may
    emit them (flatten/array_join/explode before returning)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def run_one(name: str, fn, sql: str | None, spark, sf_dir: str) -> CompareResult:
    sdf = fn(spark, sf_dir)
    bad = complex_output_columns(sdf.schema)
    if bad:
        return CompareResult(
            name,
            ok=False,
            detail=f"driver-unsafe output schema: complex-typed columns {bad}",
        )
    spark_pdf = sdf.toPandas()
    # mirror the driver: canonicalization must not crash on ANY declared
    # result, rows-only included (unhashable array/map cells -> TypeError)
    try:
        driver_canon(spark_pdf)
    except TypeError as e:
        return CompareResult(
            name,
            ok=False,
            detail=f"driver-canon crash: {e}",
            spark_rows=len(spark_pdf),
        )
    if sql is None:
        ok = len(spark_pdf) >= 0
        return CompareResult(name, ok=ok, detail="rows-only", spark_rows=len(spark_pdf))
    con = duck_connect(sf_dir)
    try:
        duck_pdf = con.execute(sql).df()
    finally:
        con.close()
    return compare_frames(name, spark_pdf, duck_pdf)
