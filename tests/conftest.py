"""Shared test fixtures: one local SparkSession + a DuckDB oracle harness
that mirrors the driver's correctness gate (row-count + column names +
order-insensitive value comparison)."""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from hyperswitch_data_backfill_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    spark = get_spark(app_name="tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if not os.path.exists(path):
            continue  # tools/gen_ci_fixture.py writes orders/lineitem only
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for engine-neutral comparison."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def assert_oracle_match(spark_df, duck_con, sql: str, name: str = "?"):
    """Driver-gate mirror: same column names (sorted), same multiset of rows.

    Also refuses nested-typed result columns up front: the external
    driver's pandas-sort canonicalizer crashes on array/map/struct cells
    (the CORRECTNESS_r14 pgwire_scan_embeddings red row), while this
    mirror's tuple-normalization used to digest them silently — so a key
    the driver would reject could pass locally. Fail here instead.
    """
    from hyperswitch_data_backfill_spark.registry import (
        driver_canon_unsafe_columns,
    )

    unsafe = driver_canon_unsafe_columns(spark_df.schema)
    assert not unsafe, (
        f"[{name}] result carries nested-typed columns {unsafe} — the "
        f"external driver's canonicalizer cannot sort these; project to "
        f"scalars (posexplode / array_to_string) before returning"
    )
    spark_cols = sorted(spark_df.columns)
    srows = [tuple(_norm(r[c]) for c in spark_cols) for r in spark_df.collect()]

    res = duck_con.sql(sql)
    duck_cols_order = res.columns
    drows_raw = res.fetchall()
    dmap = {c: i for i, c in enumerate(duck_cols_order)}
    duck_cols = sorted(duck_cols_order)
    assert spark_cols == duck_cols, (
        f"[{name}] column mismatch: spark={spark_cols} duck={duck_cols}"
    )
    drows = [tuple(_norm(row[dmap[c]]) for c in duck_cols) for row in drows_raw]
    assert len(srows) == len(drows), (
        f"[{name}] row count mismatch: spark={len(srows)} duck={len(drows)}"
    )
    assert sorted(srows, key=repr) == sorted(drows, key=repr), (
        f"[{name}] value mismatch (first spark rows: {sorted(srows, key=repr)[:3]} "
        f"vs duck: {sorted(drows, key=repr)[:3]})"
    )
