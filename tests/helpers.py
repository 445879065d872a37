"""Local replica of the driver's t2 compare: row-count + schema (column
names) + order-insensitive value hash, Spark vs DuckDB on the same parquet.

Stricter than any reasonable driver: floats compare by exact repr (we
engineer determinism via decimal aggregation / ordered folds), timestamps by
isoformat."""

from __future__ import annotations

import datetime as dt
import math
import uuid
from decimal import Decimal


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple[str, ...]]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)
    return sorted_cols, out


def fetch_duckdb(duck, sql: str) -> tuple[list[str], list[tuple]]:
    """Fetch an oracle result the way the driver does: through Arrow.

    This is deliberately NOT ``fetchall()``: the native fetch renders
    HUGEINT (DuckDB's type for SUM over integers) as arbitrary-precision
    Python int, which masked the r8 ``events_overlap_duration`` red row —
    the driver's Arrow path maps HUGEINT to decimal128 and renders
    ``1085100976.0`` where Spark's BIGINT renders ``1085100976``. Fetching
    through Arrow makes the local compare at least as type-strict as the
    driver's value hash (nullable ints stay ints, unlike a pandas fetch).
    """
    rel = duck.sql(sql)
    cols = rel.columns
    tbl = rel.arrow()
    pycols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    rows = list(zip(*pycols)) if pycols else []
    return cols, rows


def compare_spark_duckdb(sdf, duck, sql: str) -> None:
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    dcols, drows = fetch_duckdb(duck, sql)
    assert sorted(scols) == sorted(dcols), f"schema mismatch: {sorted(scols)} vs {sorted(dcols)}"
    assert len(srows) == len(drows), f"row count mismatch: {len(srows)} vs {len(drows)}"
    sc, sr = canon_rows(scols, srows)
    dc, dr = canon_rows(dcols, drows)
    mismatches = [(a, b) for a, b in zip(sr, dr) if a != b]
    assert not mismatches, f"value mismatch ({len(mismatches)} rows), first: {mismatches[0]}"


def count_jobs(spark, run) -> int:
    """Spark jobs that ``run()`` starts, counted under a job group."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store has every job
    return len(sc.statusTracker().getJobIdsForGroup(group))
