"""Benchmark inputs: the replica tables, their COPY text, and the oracle.

The two tables have the shape of the sf0.01 TPC-H fixtures the demo
entities read (``plans.spec.DEMO_ENTITIES``): 15,000 ``orders`` rows and
about 60,000 ``lineitem`` rows. Their content is fixed (``CONTENT_SEED``);
the run seed only permutes the row order loaded into Postgres and picks
the merchant-slice merchants and window, so every seed replays the same
rows in another physical order.

The oracle computes each topic's expected ``(key, value)`` records with
DuckDB over a parquet copy of the same rows, by SQL derived from the
entity specs in the way ``pipeline_backfill_job``'s oracle is written.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np

CONTENT_SEED = 20_260_101
N_ORDERS = 15_000
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
FIRST_DAY = date(1995, 1, 1)
N_DAYS = 2_404                     # 1995-01-01 .. 2001-08-01
SLICE_MERCHANTS = 8
SHIP_LAG_DAYS = 121
SLICE_WINDOW_DAYS = 730            # the targeted re-backfill's ~2 years

ORDERS_DDL = (
    "CREATE TABLE orders (o_orderkey bigint, o_custkey bigint,"
    " o_orderstatus text, o_totalprice float8, o_orderdate timestamp,"
    " o_orderpriority text)")
LINEITEM_DDL = (
    "CREATE TABLE lineitem (l_orderkey bigint, l_partkey bigint,"
    " l_suppkey bigint, l_linenumber integer, l_quantity float8,"
    " l_extendedprice float8, l_discount float8, l_tax float8,"
    " l_returnflag text, l_linestatus text, l_shipdate timestamp)")

_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"])


@dataclass(frozen=True)
class Table:
    name: str
    ddl: str
    columns: dict[str, np.ndarray]  # in DDL order, rows in load order


def _days_to_ts(days: np.ndarray) -> np.ndarray:
    return (np.datetime64(FIRST_DAY.isoformat(), "D") + days).astype(
        "datetime64[us]")


def _content() -> tuple[dict[str, np.ndarray], dict[str, np.ndarray]]:
    rng = np.random.default_rng(CONTENT_SEED)
    okey = np.arange(N_ORDERS, dtype=np.int64)
    odays = rng.integers(0, N_DAYS, N_ORDERS)
    orders = {
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), N_ORDERS),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2),
        "o_orderdate": _days_to_ts(odays),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
    }
    lines_per_order = rng.integers(1, 8, N_ORDERS)
    n = int(lines_per_order.sum())
    l_order = np.repeat(okey, lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order,
                       lines_per_order)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, 2_001, n).astype(np.int64),
        # every supplier ships the same number of lines, so the
        # merchant slice's size depends little on which merchants it picks
        "l_suppkey": rng.permutation(np.arange(n) % N_SUPPLIERS + 1),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _days_to_ts(np.repeat(odays, lines_per_order)
                                  + rng.integers(1, SHIP_LAG_DAYS + 1, n)),
    }
    return orders, lineitem


def _seed_key(seed: int) -> int:
    """Any integer seed as the non-negative key numpy requires."""
    return seed % 2**64


def make_tables(seed: int) -> list[Table]:
    """The fixed rows, in the load order ``seed`` picks."""
    orders, lineitem = _content()
    rng = np.random.default_rng(_seed_key(seed))
    out = []
    for name, ddl, cols in (("orders", ORDERS_DDL, orders),
                            ("lineitem", LINEITEM_DDL, lineitem)):
        perm = rng.permutation(len(next(iter(cols.values()))))
        out.append(Table(name, ddl, {c: v[perm] for c, v in cols.items()}))
    return out


def pick_slice(seed: int) -> tuple[list[int], str, str]:
    """merchant_slice's merchants and window. Ids come from the range
    both merchant columns share (customer and supplier keys), so each
    picked merchant owns orders AND lineitems."""
    rng = np.random.default_rng([_seed_key(seed), 1])
    merchants = sorted(int(m) for m in rng.choice(
        np.arange(1, N_SUPPLIERS), SLICE_MERCHANTS, replace=False))
    # start past the first ship dates' ramp-up (lines ship up to
    # SHIP_LAG_DAYS after their order), where rows per day are level
    first = int(rng.integers(SHIP_LAG_DAYS, N_DAYS - SLICE_WINDOW_DAYS))
    start = FIRST_DAY + timedelta(days=first)
    end = start + timedelta(days=SLICE_WINDOW_DAYS)
    return merchants, f"{start} 00:00:00", f"{end} 23:59:59"


def _text_column(values: np.ndarray) -> list[str]:
    if values.dtype.kind == "M":
        return [str(v).replace("T", " ") for v in values.astype("datetime64[s]")]
    if values.dtype.kind == "f":
        return [repr(v) for v in values.tolist()]
    return [str(v) for v in values.tolist()]


def copy_lines(table: Table) -> list[str]:
    """The table as ``COPY ... FROM STDIN`` text lines (no value needs
    escaping: the generator emits no tabs, backslashes or NULLs)."""
    cols = [_text_column(v) for v in table.columns.values()]
    return ["\t".join(row) for row in zip(*cols)]


def write_parquet(table: Table, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(table.columns), path)
    return path


def _oracle_select(spec, parquet: str, start: str, end: str,
                   merchants: list[int] | None, tenant_id: str) -> str:
    if not spec.remap:
        raise ValueError(f"{spec.table}: the oracle needs an explicit remap")
    key = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in spec.key_cols)
    fields = ", ".join(f"{dst} := {src}" for src, dst in spec.remap.items())
    where = f"{spec.time_col} BETWEEN TIMESTAMP '{start}' AND TIMESTAMP '{end}'"
    if merchants is not None:
        where += f" AND {spec.merchant_col} IN ({', '.join(map(str, merchants))})"
    return (
        f"SELECT {key} AS key, to_json(struct_pack({fields},"
        f" tenant_id := '{tenant_id}')) AS value FROM read_parquet('{parquet}')"
        f" WHERE {where}")


def expected_records(entities, parquet_dir: str, start: str, end: str,
                     merchants: list[int] | None, consolidated_topic: str,
                     tenant_id: str = "default") -> dict[str, list[tuple[str, str]]]:
    """``{topic: [(key, value), ...]}`` the job must produce: each entity
    topic, plus every entity's records again on the consolidated topic
    (the ``pipeline_backfill_job`` oracle's UNION ALL)."""
    import duckdb

    con = duckdb.connect()
    try:
        out: dict[str, list[tuple[str, str]]] = {}
        for spec in entities:
            sql = _oracle_select(
                spec, os.path.join(parquet_dir, f"{spec.table}.parquet"),
                start, end, merchants, tenant_id)
            rows = con.sql(sql).fetchall()
            out.setdefault(spec.topic, []).extend(rows)
            out.setdefault(consolidated_topic, []).extend(rows)
        return out
    finally:
        con.close()
