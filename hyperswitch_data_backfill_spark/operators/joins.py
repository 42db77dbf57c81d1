"""Joins — SURVEY §2.3 (J1-J3).

The reference's only join is executed by hand: each fact row is combined
with its merchant's (small) key store fetched once per merchant
(``main.rs:219-249`` feeding ``payment_intent.rs:94-101``). In Spark
that is a broadcast hash join — the dimension ships to every executor
once, the 100 TB fact side streams through map-side with NO shuffle.

J3 (header×child) is the classic big×big equi-join: shuffle-partitioned
sort-merge on the join key. At scale both sides hash-partition on
l_orderkey/o_orderkey; AQE handles skewed keys (skewJoin splits oversized
partitions). If the tables were bucketed on the key at write time the
shuffle disappears entirely — sources/parquet.py exposes bucketed writes
for exactly this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperswitch_data_backfill_spark import api
from hyperswitch_data_backfill_spark.catalog import load_table
from hyperswitch_data_backfill_spark.registry import register


@register(
    "join_broadcast",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="J1: broadcast equi-join fact×dimension — the per-merchant key-store "
        "lookup (main.rs:219-249) as one map-side join; dimension broadcast, "
        "zero shuffle of the fact table.",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_semi",
    oracle="""
    SELECT * FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 1000.0)
    """,
    doc="J2: left-semi join (merchant allow-list, main.rs:49-50,191-206) — "
        "broadcast the small allow-list; fact side never shuffles.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    allow = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 1000.0)
    return orders.join(
        F.broadcast(allow), orders.o_custkey == allow.c_custkey, "left_semi"
    )


@register(
    "join_smj",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
           l.l_linenumber, l.l_quantity, l.l_extendedprice
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
    doc="J3: header×child equi-join (payment_intent×payment_attempt on "
        "payment_id — present in the data model, payment_intent.rs:6 / "
        "payment_attempt.rs:3, though the tool never joins them). Big×big → "
        "shuffle sort-merge; AQE skew-split at scale.",
)
def join_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "inner").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "l_linenumber", "l_quantity", "l_extendedprice",
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    doc="J3b: left outer dimension×fact — customers with no orders survive "
        "with NULL order columns.",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                AND TIMESTAMP '1995-06-30 23:59:59'
    )
    """,
    doc="J3c: left-anti join — merchants with no activity in a window "
        "(every fixture customer has *some* order, so the unwindowed anti "
        "set is empty; the windowed variant keeps the check non-trivial). "
        "The filter sits on the right side *before* the anti join, so it "
        "prunes the build input.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1995-06-30 23:59:59").cast("timestamp_ntz"),
        )
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def _asof_purchases(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Every event as-of joined to the same user's purchases by
    ``api.asof_join`` (strict, event_id tiebreak; ``kw`` passes
    direction/tolerance): event_id, user_id, ts, ts_asof, p_val_asof."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("p_val")
    )
    return api.asof_join(
        ev.select("event_id", "user_id", "ts"), purchases, on="ts",
        by="user_id", value_cols=["p_val"], tiebreak="event_id", **kw,
    )


@register(
    "join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, p.p_ts, p.p_value
    FROM events e
    ASOF LEFT JOIN (
        SELECT user_id, ts AS p_ts, value AS p_value
        FROM events WHERE event_type = 'purchase'
    ) p ON e.user_id = p.user_id AND p.p_ts < e.ts
    """,
    doc="J4: as-of (point-in-time) join — each event annotated with the "
        "most recent strictly-earlier purchase by the same user. Spark has "
        "no ASOF join; composed as union + carry-forward window "
        "(last_value ignoreNulls): tag purchase rows, sort each user "
        "partition once by (ts, tag, id), and the window carries the last "
        "purchase forward — ZERO joins, one shuffle on user_id, one "
        "in-partition sort. The trades×quotes shape at 100 TB: cost is a "
        "keyed sort, never a range cross-product. (Fixture purchase "
        "timestamps are tie-free per user, so native ASOF is a "
        "deterministic oracle.)",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_purchases(spark, sf_dir).withColumnsRenamed(
        {"ts_asof": "p_ts", "p_val_asof": "p_value"}
    )


@register(
    "join_range",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_orderdate, l.l_shipdate,
           l.l_extendedprice
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate BETWEEN o.o_orderdate
                          AND o.o_orderdate + INTERVAL 60 DAY
    """,
    doc="J5: range-bounded join — child rows within the header's validity "
        "window. The equi key (orderkey) carries the shuffle; the range "
        "predicate is a cheap post-join residual, so the plan stays a "
        "plain equi join. A PURE range join (no equi key) at 100 TB must "
        "instead band both sides into fixed-width time buckets (explode "
        "intervals to bucket ids, equi-join on bucket, re-filter) — never "
        "a nested-loop cross product.",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(
            F.col("l_shipdate").between(
                F.col("o_orderdate"), F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
        )
        .select("o_orderkey", "l_linenumber", "o_orderdate", "l_shipdate", "l_extendedprice")
    )


N_JOIN_SALT = 8


@register(
    "join_skew_salted",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, l.l_extendedprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="salted equi-join for hot-key skew — the join-side twin of "
        "agg_salted_skew. The fact side gets a deterministic salt from a "
        "NON-key attribute (pmod(xxhash64(linenumber))); the dim side is "
        "exploded into one copy per salt value; the join key becomes "
        "(key, salt), so a whale key's rows spread across N_JOIN_SALT "
        "reducers instead of serializing one. The oracle is the PLAIN "
        "join — proving the rewrite changes the physical distribution "
        "and nothing else. At 100 TB this is the manual fallback when "
        "AQE skew-join can't split (e.g. a single key larger than one "
        "executor); salt count scales with the observed hot-key factor.",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.xxhash64("l_linenumber"), F.lit(N_JOIN_SALT)).cast("int")
    )
    # Repartition the dim BEFORE the ×N_JOIN_SALT explode: a compact dim
    # often arrives as one or two parquet splits, and exploding N× inside
    # those few scan tasks serializes the fan-out + its shuffle write on
    # one core — measured 2.5 s single-task vs spread at the 6M-row skew
    # bench point (tools/skew_bench.py). One extra O(dim) shuffle buys
    # explode/build parallelism that scales with the cluster.
    orders = (
        load_table(spark, sf_dir, "orders")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(N_JOIN_SALT - 1))))
    )
    # Hint the EXPLODED DIM side as the hash build side: its partition
    # size is bounded by |orders|/N_JOIN_SALT no matter how skewed the
    # fact key is, while building on the fact side would re-create the
    # whale-key blowup the salt exists to prevent. (And keep it a
    # shuffle join at all — salting a broadcast would be pointless.)
    return (
        li.join(
            orders.hint("shuffle_hash"),
            (li.l_orderkey == orders.o_orderkey) & (li._salt == orders._salt),
        )
        .select("l_orderkey", "l_linenumber", "o_orderdate", "l_extendedprice")
    )


MAX_HOT_KEYS = 64  # a hot SET bigger than this is not "skew", it's a
# mis-chosen join key — raise instead of silently broadcasting a big slice


@register(
    "join_skew_split",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, l.l_extendedprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="hot/cold split-union equi-join — the 100 TB skew pattern that "
        "BEATS full-dim salting when the dim is too big to replicate "
        "(tools/skew_bench.py: at the 6M-row 90%-whale point the "
        "x8-explode salted join pays more in dim replication than it "
        "saves on the whale). Detect the hot key set (keys holding more "
        "than hot_factor x the average partition's share of fact rows — "
        "a bounded driver probe, <= MAX_HOT_KEYS by contract), then "
        "split: hot fact rows join a BROADCAST of just their few dim "
        "rows (map-side, the whale never crosses a shuffle), cold rows "
        "take the ordinary shuffle join; unionByName glues the disjoint "
        "halves. Oracle is the plain join - the rewrite changes only "
        "physical distribution. On an unskewed corpus the hot set is "
        "empty and the operator degenerates to exactly the plain join. "
        "At 100 TB the detection pass rides a sample or prior stats "
        "instead of the exact groupBy used here for determinism.",
)
def join_skew_split(
    spark: SparkSession, sf_dir: str, hot_factor: float = 4.0
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def project(joined: DataFrame) -> DataFrame:
        return joined.select(
            "l_orderkey", "l_linenumber", "o_orderdate", "l_extendedprice"
        )

    n_part = spark.sparkContext.defaultParallelism
    total = li.count()
    threshold = max(int(hot_factor * total / n_part), 1000)
    hot_rows = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > threshold)
        .select("l_orderkey")
        .limit(MAX_HOT_KEYS + 1)
        .collect()
    )
    if len(hot_rows) > MAX_HOT_KEYS:
        raise ValueError(
            f"more than {MAX_HOT_KEYS} keys exceed the hot threshold "
            f"({threshold} rows): the key is uniformly heavy, not skewed - "
            "use the plain shuffle join (or bucketing), not a hot-key split"
        )
    hot = [r["l_orderkey"] for r in hot_rows]
    plain = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    if not hot:
        return project(plain)
    li_hot = li.filter(F.col("l_orderkey").isin(hot))
    li_cold = li.filter(~F.col("l_orderkey").isin(hot))
    dim_hot = orders.filter(F.col("o_orderkey").isin(hot))
    hot_join = li_hot.join(
        F.broadcast(dim_hot), li_hot.l_orderkey == dim_hot.o_orderkey
    )
    cold_join = li_cold.join(
        orders.hint("shuffle_hash"), li_cold.l_orderkey == orders.o_orderkey
    )
    return project(hot_join).unionByName(project(cold_join))


@register(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, n.n_ts, n.n_value
    FROM events e
    ASOF LEFT JOIN (
        SELECT user_id, ts AS n_ts, value AS n_value
        FROM events WHERE event_type = 'purchase'
    ) n ON e.user_id = n.user_id AND n.n_ts > e.ts
    """,
    doc="J4b: forward as-of join — each event annotated with the NEXT "
        "strictly-later purchase by the same user (time-to-conversion "
        "shape). Same zero-join carry window as join_asof, mirrored: sort "
        "each user partition descending and carry the last-seen purchase "
        "backward. One shuffle on user_id, one in-partition sort; never a "
        "range cross-product. (Fixture purchase timestamps are tie-free "
        "per user, so native ASOF is a deterministic oracle.)",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_purchases(spark, sf_dir, direction="forward").withColumnsRenamed(
        {"ts_asof": "n_ts", "p_val_asof": "n_value"}
    )


@register(
    "tpch_q3_topk",
    oracle="""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="flagship composed analytics (TPC-H Q3 shape): dim filter -> "
        "broadcast customer into orders, shuffle join to lineitem on the "
        "order key, decimal-exact revenue aggregate, top-10 via "
        "TakeOrderedAndProject (heap per partition + driver merge of 10 "
        "rows — no global sort materialization). The exact multi-join "
        "shape the downstream ClickHouse dashboards run over the replayed "
        "events [dep]; deterministic tiebreak on l_orderkey.",
)
def tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("double")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


ASOF_TOLERANCE_US = 7 * 24 * 3600 * 1_000_000  # 7 days


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH j AS (
        SELECT e.event_id, e.user_id, e.ts, p.p_ts, p.p_value
        FROM events e
        ASOF LEFT JOIN (
            SELECT user_id, ts AS p_ts, value AS p_value
            FROM events WHERE event_type = 'purchase'
        ) p ON e.user_id = p.user_id AND p.p_ts < e.ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN p_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(p_ts) <= {ASOF_TOLERANCE_US}
                THEN p_ts END AS p_ts,
           CASE WHEN p_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(p_ts) <= {ASOF_TOLERANCE_US}
                THEN p_value END AS p_value
    FROM j
    """,
    doc="J4c: as-of join with a staleness tolerance — the feature-store "
        "contract (a feature older than the freshness SLA must NOT be "
        "served; a too-old match is a miss, not a hit). Same zero-join "
        "carry-forward window as join_asof with one extra codegen "
        "predicate nulling matches older than 7 days; identical shuffle "
        "envelope (one keyed sort), so the tolerance costs nothing at "
        "100 TB.",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_purchases(
        spark, sf_dir, tolerance_us=ASOF_TOLERANCE_US
    ).withColumnsRenamed({"ts_asof": "p_ts", "p_val_asof": "p_value"})


@register(
    "join_full_outer",
    oracle="""
    WITH act AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                              AND TIMESTAMP '1995-06-30 23:59:59'
        GROUP BY o_custkey
    ), rich AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 5000.0
    )
    SELECT COALESCE(a.o_custkey, r.c_custkey) AS custkey,
           a.n_orders, a.spend, r.c_name, r.c_acctbal
    FROM act a FULL OUTER JOIN rich r ON a.o_custkey = r.c_custkey
    """,
    doc="J3d: full outer join — reconciliation between two independently "
        "derived keyed sets (active-in-window spenders vs high-balance "
        "customers), keeping unmatched rows from BOTH sides with NULLs on "
        "the other. The one outer shape the inventory lacked. Both legs "
        "shuffle on the same custkey, so the agg's Exchange is reused by "
        "the join (one shuffle total on the fact side); broadcast is "
        "ineligible for full-outer in Spark, which is exactly why the "
        "plan-shape matters at 100 TB: co-partitioned storage (bucketed "
        "by key) makes the reconciliation Exchange-free.",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    act = (
        orders.filter(
            F.col("o_orderdate").between("1995-01-01 00:00:00", "1995-06-30 23:59:59")
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("spend"),
        )
    )
    rich = cust.filter(F.col("c_acctbal") > 5000.0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    return act.join(rich, act.o_custkey == rich.c_custkey, "full_outer").select(
        F.coalesce(act.o_custkey, rich.c_custkey).alias("custkey"),
        "n_orders", "spend", "c_name", "c_acctbal",
    )
