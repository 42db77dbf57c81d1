"""Generate a larger synthetic scale point from an existing fixture dir.

The driver ships sf0.001/sf0.01/sf0.1; the round-4 verdict's stretch
item asks for a measured sf1 bench point. This tool inflates a fixture
directory Nx (default 10x: sf0.1 -> sf1-equivalent) with key-shifted
replicas that preserve referential integrity (each replica shifts every
key family by the same offset, so FK joins behave exactly like the
original) and schema (DuckDB reads/writes the same parquet types):

- region/nation: copied (TPC-H dims are scale-invariant);
- customer/supplier/part/orders/lineitem: key columns shifted by
  rep * <table offset>;
- events: event_id/user_id shifted (more users, same per-user history —
  the events axis convention from scale_rehearsal.py);
- documents: doc_id shifted AND every token salted with the replica id
  (a BIGGER corpus, not a duplicate explosion — dedup operators would
  otherwise see 10x duplicates, the one thing the fixtures don't model);
- embeddings: vec_id shifted, replicas jittered (+-0.3 uniform noise
  per component) so ANN sees new points near the manifold.

Usage: python tools/make_bigsf.py [src_dir] [dst_dir] [factor] [row_group_size]
Default: the sf0.1 fixture -> .benchdata/sf1 in this checkout, x10, auto

row_group_size controls parquet row-group width — Spark's indivisible
split unit. The driver fixtures are one row group per table, which
serializes every scan stage regardless of core count (measured in
BENCH_NOTES "Round-10: cores-scaling row"); the round-10 addendum's
4096-row fixture proved the opposite failure (micro-splits: footer and
scheduling overhead per ~50 KB group bite the cheap full-scan queries).

Default 'auto' (r10 verdict item 6) sizes groups PER TABLE between
those failure modes, production-proportionally: at most TARGET_GROUPS
(=64, 2x the 32-core box) groups per table, and at least ~1 MB of rows
per group (footer amortized). On a real 100 TB table both constraints
are inactive — groups are ~128 MB and counts are huge — so 'auto'
models the production property that matters (a scan is many
independent, non-trivial splits) at fixture byte sizes. An integer
forces a uniform width (122880 reproduces the old DuckDB default).

Then:    SPARK_GRAFT_SF_DIR=.benchdata/sf1 python bench.py
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb

# key-family offsets — one per id namespace, shared across tables so
# FKs stay consistent within a replica
OFF = {
    "custkey": 10_000_000,
    "orderkey": 100_000_000,
    "partkey": 10_000_000,
    "suppkey": 1_000_000,
    "event_id": 1_000_000_000,
    "user_id": 10_000_000,
    "doc_id": 10_000_000,
    "vec_id": 10_000_000,
}


TARGET_GROUPS = 64  # cap groups per table: 2x the 32-core box
MIN_GROUP_BYTES = 1 << 20  # floor: ~1 MB of rows per group


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = (sys.argv[2] if len(sys.argv) > 2
           else str(Path(__file__).resolve().parent.parent / ".benchdata" / "sf1"))
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    rg_arg = sys.argv[4] if len(sys.argv) > 4 else "auto"
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW reps AS SELECT unnest(generate_series(0, {n - 1})) AS rep")

    def auto_width(table: str) -> int:
        """Per-table group width: ≤ TARGET_GROUPS groups, each ≥ ~1 MB.
        Bytes/row estimated from the SOURCE parquet (replication keeps
        it roughly invariant)."""
        rows_src = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{src}/{table}.parquet')"
        ).fetchone()[0]
        bytes_src = os.path.getsize(f"{src}/{table}.parquet")
        reps = 1 if table in ("region", "nation") else n
        rows_out = rows_src * reps
        rows_per_mb = max(1, int(rows_src * MIN_GROUP_BYTES / max(bytes_src, 1)))
        return max(rows_out // TARGET_GROUPS, rows_per_mb, 1)

    def emit(table: str, select: str) -> None:
        width = auto_width(table) if rg_arg == "auto" else int(rg_arg)
        con.execute(
            f"COPY ({select}) TO '{dst}/{table}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE {width})"
        )
        rows = con.sql(f"SELECT COUNT(*) FROM read_parquet('{dst}/{table}.parquet')").fetchone()[0]
        print(f"{table}: {rows} rows (row_group_size {width})")

    def t(table: str) -> str:
        return f"read_parquet('{src}/{table}.parquet')"

    for dim in ("region", "nation"):
        emit(dim, f"SELECT * FROM {t(dim)}")

    emit("customer", f"""
        SELECT c_custkey + rep * {OFF['custkey']} AS c_custkey,
               c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM {t('customer')}, reps""")
    emit("supplier", f"""
        SELECT s_suppkey + rep * {OFF['suppkey']} AS s_suppkey,
               s_name, s_nationkey, s_acctbal
        FROM {t('supplier')}, reps""")
    emit("part", f"""
        SELECT p_partkey + rep * {OFF['partkey']} AS p_partkey,
               p_name, p_brand, p_type, p_size, p_retailprice
        FROM {t('part')}, reps""")
    emit("orders", f"""
        SELECT o_orderkey + rep * {OFF['orderkey']} AS o_orderkey,
               o_custkey + rep * {OFF['custkey']} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM {t('orders')}, reps""")
    emit("lineitem", f"""
        SELECT l_orderkey + rep * {OFF['orderkey']} AS l_orderkey,
               l_partkey + rep * {OFF['partkey']} AS l_partkey,
               l_suppkey + rep * {OFF['suppkey']} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM {t('lineitem')}, reps""")
    emit("events", f"""
        SELECT event_id + rep * {OFF['event_id']} AS event_id,
               ts,
               user_id + rep * {OFF['user_id']} AS user_id,
               event_type, value, props
        FROM {t('events')}, reps""")
    emit("documents", f"""
        SELECT doc_id + rep * {OFF['doc_id']} AS doc_id,
               CASE WHEN rep = 0 THEN text
                    ELSE array_to_string(
                        list_transform(str_split(text, ' '),
                                       x -> x || '_' || CAST(rep AS VARCHAR)),
                        ' ')
               END AS text,
               lang, source, n_chars
        FROM {t('documents')}, reps""")
    # Jitter is HASH-derived from (vec_id, rep, component index), not
    # random(): every regeneration produces the identical embedding
    # table, so measured cosine pair sets / LSH recall numbers are
    # re-checkable evidence instead of a one-shot roll (r11 verdict
    # item 3). Same +-0.3 uniform envelope as before.
    emit("embeddings", f"""
        SELECT vec_id + rep * {OFF['vec_id']} AS vec_id,
               CASE WHEN rep = 0 THEN embedding
                    ELSE CAST(list_transform(embedding,
                         (x, i) -> x + ((hash((vec_id + rep * {OFF['vec_id']})
                                              * 1024 + i) % 1000000)
                                        / 1e6 - 0.5) * 0.6) AS FLOAT[])
               END AS embedding,
               label
        FROM {t('embeddings')}, reps""")
    con.close()


if __name__ == "__main__":
    main()
