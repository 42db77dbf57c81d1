"""Sorts / limits / pagination / top-k — SURVEY §2.5 (O1-O3).

The reference paginates with ``ORDER BY pk LIMIT b OFFSET k·b``
(``payment_intent.rs:61-68``) — O(n²) server work and *unstable* under
concurrent writes (SURVEY §2.5 trap). Our engine's replacements:

- O1 sort: ``orderBy`` — range-partitioned distributed sort (sampled
  range boundaries, one shuffle), not a single-node sort.
- O2 pagination: deterministic ``row_number`` over the PK — every row
  assigned to exactly one page, computed in one pass (keyset
  semantics). Intentional deviation, strictly more correct.
- Production JDBC ingest doesn't paginate at all: partitioned reads
  (sources/jdbc.py) give each executor a key range — the reference's
  10k-row batches (main.rs:43-44) become JDBC partitions.
- O3 top-k per group: window row_number + filter; Spark pushes the
  rank filter into the sort (TakeOrderedAndProject for global top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hyperswitch_data_backfill_spark import api
from hyperswitch_data_backfill_spark.catalog import load_table
from hyperswitch_data_backfill_spark.registry import register

PAGE_SIZE = 100


def with_global_row_number(
    df: DataFrame, sort_cols: list[str], rn_col: str = "rn"
) -> DataFrame:
    """Distributed exact global ``row_number`` — no single-partition window.

    ``Window.orderBy(key)`` with no partition funnels the whole table
    through ONE task; this is the scale-correct replacement:

    1. ``repartitionByRange`` on the sort key — sampled boundaries, one
       shuffle, partition i's keys all precede partition i+1's;
    2. ``row_number`` within each partition (parallel local sorts);
    3. exclusive prefix sum of per-partition counts (a window over
       #partitions rows — constant-size regardless of data), broadcast
       back, added to the local number.

    Exact for any partition boundaries, so the range sampler's seed
    doesn't affect results. Requires ``sort_cols`` to be a unique total
    order (callers use the PK) for deterministic numbering — same
    requirement the single-window form has.

    The numbered frame is persisted (memory-and-disk) before branching
    into the data path and the offsets path: both branches MUST see the
    same range boundaries, and relying on Catalyst exchange reuse to
    guarantee that is fragile (two independently materialized
    repartitionByRange exchanges may sample different boundaries,
    silently duplicating/skipping rn values). Global numbering is
    inherently a two-pass operation; the persist is that second pass's
    input, spilled to disk if it doesn't fit.
    """
    from pyspark import StorageLevel

    parts = df.repartitionByRange(*sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = parts.withColumn(
        "_lrn", F.row_number().over(Window.partitionBy("_pid").orderBy(*sort_cols))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    offsets = (
        local.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rn_col, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


@register(
    "sort_by_key",
    oracle="SELECT * FROM orders ORDER BY o_orderkey",
    doc="O1: total order by entity PK (ORDER BY payment_id, payment_intent.rs:67).",
)
def sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").orderBy("o_orderkey")


@register(
    "limit_k",
    oracle=f"SELECT * FROM orders ORDER BY o_orderkey LIMIT {PAGE_SIZE}",
    doc="O2a: ORDER BY + LIMIT — Spark plans TakeOrderedAndProject (per-partition "
        "top-k then merge on driver; never a full sort). Deterministic because "
        "o_orderkey is unique.",
)
def limit_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").orderBy("o_orderkey").limit(PAGE_SIZE)


@register(
    "paginate_window",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice, rn
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        FROM orders
    ) t
    WHERE rn > {2 * PAGE_SIZE} AND rn <= {3 * PAGE_SIZE}
    """,
    doc="O2b: page 3 of the PK-ordered scan via row_number — replaces "
        "LIMIT/OFFSET (payment_intent.rs:65-66) with stable keyset pagination "
        "(documented deviation, SURVEY §2.5). Numbering is the distributed "
        "range-partitioned prefix-sum form, not a single-partition window.",
)
def paginate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return with_global_row_number(df, ["o_orderkey"]).filter(
        (F.col("rn") > 2 * PAGE_SIZE) & (F.col("rn") <= 3 * PAGE_SIZE)
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rk
        FROM orders
    ) t
    WHERE rk <= 3
    """,
    doc="O3: top-3 orders per merchant by amount — one hash shuffle on the "
        "group key then a per-partition sort; ties broken by PK for "
        "determinism. At scale, group-local sort spills, never the driver.",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return api.topk_per_group(
        orders, "o_custkey",
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3, rank_col="rk",
    )
