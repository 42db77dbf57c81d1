"""Window functions + batch tumbling windows — SURVEY §2.7, §2.10.

None exist in the reference; they are the sanctioned replacements for
its pagination (row_number, ordering.py) and the downstream-analytics
shapes its Kafka events feed [dep]: previous-attempt status (lag),
running totals, hourly event buckets.

Scale: a window over ``partitionBy(k)`` is one hash shuffle on k then a
sort within each group — same cost envelope as a grouped aggregate.
Windows with no PARTITION BY (global row_number) serialize onto a single
partition and are only used for test-scale pagination; production
pagination partitions by key range first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hyperswitch_data_backfill_spark import api
from hyperswitch_data_backfill_spark.catalog import load_table
from hyperswitch_data_backfill_spark.registry import register


@register(
    "win_rownum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
    """,
    doc="row_number per merchant in time order (tie-broken by PK for determinism).",
)
def win_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("rn", F.row_number().over(w))
    )


@register(
    "win_lag",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
    FROM orders
    """,
    doc="lag: previous order amount per merchant — the 'previous attempt "
        "status' analytics shape (SURVEY §2.7).",
)
def win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("prev_price", F.lag("o_totalprice").over(w))
        .select("o_custkey", "o_orderkey", "o_totalprice", "prev_price")
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total
    FROM orders
    """,
    doc="running per-merchant revenue (decimal-exact accumulation, "
        "rowsBetween unboundedPreceding..current).",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn(
            "running_total",
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double"),
        )
        .select("o_custkey", "o_orderkey", "running_total")
    )


SESSION_GAP_MIN = 240  # shared with streaming/pipeline.py sessionize_stream


@register(
    "win_session",
    oracle=f"""
    WITH e AS (
        -- micros-exact on BOTH sides: Spark reads events.ts nanos
        -- truncated to micros (catalog.py), so the oracle must gap-test
        -- and emit at micros too (same trick as win_range_frame) or
        -- ns-precision MIN/MAX and boundary flips diverge.
        SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
    ), o AS (
        SELECT user_id, us, event_id, value,
               CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                    OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                       > {SESSION_GAP_MIN * 60 * 1_000_000}
               THEN 1 ELSE 0 END AS is_new
        FROM e
    ), s AS (
        -- CAST: DuckDB windowed SUM over ints yields HUGEINT, which
        -- pandas materializes as float64 (1.0) vs Spark's int64 (1) —
        -- the driver's exact hash then diverges on identical values.
        SELECT *, CAST(SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_id
        FROM o
    )
    SELECT user_id, session_id,
           make_timestamp(MIN(us)) AS session_start,
           make_timestamp(MAX(us)) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_id
    """,
    doc="batch sessionization: gap-based session windows (new session when "
        "the per-user inter-event gap exceeds 240 min) via lag + running sum "
        "of session-start flags. Semantics twin of the stateful streaming "
        "sessionizer (streaming/pipeline.py). Scale: one shuffle on user_id "
        "+ in-partition sort — the same envelope as any keyed window; no "
        "state, no iteration.",
)
def win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        api.sessionize(
            ev, "user_id", "ts", SESSION_GAP_MIN * 60 * 1_000_000, ["event_id"]
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )


@register(
    "win_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    doc="batch-emulated tumbling window over the event stream: "
        "window(ts, '1 hour') groupBy — identical semantics to the Structured "
        "Streaming variant (streaming/pipeline.py) minus the watermark.",
)
def win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "n", "total_value")
    )


@register(
    "stream_tumbling_replay",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) FROM events) - INTERVAL 2 HOUR
    GROUP BY 1, 2
    """,
    doc="A REAL watermarked Structured Streaming aggregation, driver-"
        "hash-verified: the events fixture replays through streaming/"
        "pipeline.py's tumbling_event_counts (withWatermark('2 hours') "
        "+ window('1 hour') groupBy) as a live StreamingQuery — file "
        "stream → availableNow → APPEND-mode memory sink. Append mode "
        "emits exactly the FINALIZED windows (window end ≤ watermark = "
        "max event time − 2 h; unfinalized tail windows stay in state), "
        "so the oracle encodes watermark-finalization semantics itself "
        "rather than approximating them away. Third streaming execution "
        "style under the oracle gate (after applyInPandasWithState "
        "replay and foreachBatch CDC): the built-in watermarked "
        "stateful-agg engine. State is O(active windows) — the property "
        "that lets this run forever on a 100 TB/day stream.",
)
def stream_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from hyperswitch_data_backfill_spark.catalog import load_stream_table
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        tumbling_event_counts,
        write_memory_sink,
    )

    name = f"tumb_replay_{uuid.uuid4().hex[:8]}"
    stream = load_stream_table(spark, sf_dir, "events")
    q = write_memory_sink(tumbling_event_counts(stream), name, complete=False)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_tumbling_replay did not finish in 300s")
    return spark.table(name)


@register(
    "win_rank_stats",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="rank / dense_rank / percent_rank / ntile per merchant by order "
        "value — one keyed shuffle + sort serves all four rank functions "
        "(Spark evaluates them in a single Window physical node).",
)
def win_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS roll_value,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS roll_n
    FROM events
    """,
    doc="time-RANGE window frame: per-user trailing-1-hour rolling sum/count "
        "over the event stream. The frame bound is integer event-time micros "
        "(not N rows), so irregular event spacing is handled exactly; one "
        "keyed shuffle + sort, both aggregates share the single Window node. "
        "Decimal-exact sum → engine-equal doubles.",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("roll_value"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


@register(
    "win_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER w AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
           ROUND(CUME_DIST() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
           ), 6) AS cdist
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    doc="first_value / last_value / nth_value over the full partition frame "
        "(explicit UNBOUNDED FOLLOWING — the default frame would make "
        "last_value degenerate to the current row) + cume_dist; all four "
        "share one keyed shuffle, the two sort orders fold into two Window "
        "nodes over the same exchange.",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wc = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.first("o_totalprice").over(full).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
        F.round(F.cume_dist().over(wc), 6).alias("cdist"),
    )


@register(
    "win_sliding",
    oracle="""
    WITH x AS (
        SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) - s.off AS win_start_us, value
        FROM events, (VALUES (CAST(0 AS BIGINT)), (CAST(3600000000 AS BIGINT))) s(off)
    )
    SELECT win_start_us,
           win_start_us + 7200000000 AS win_end_us,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM x GROUP BY 1
    """,
    doc="batch-emulated SLIDING window (2h size, 1h slide) over the event "
        "stream — the overlapping-window twin of win_tumbling. Spark's "
        "window() expands each row into size/slide = 2 bucket replicas "
        "before one grouped aggregate (Expand + single shuffle, map-side "
        "partials); the oracle enumerates the same two epoch-aligned "
        "starts per event arithmetically. Micros-bigint bounds on both "
        "sides. Streaming twin: the same expression under a watermark "
        "(streaming/pipeline.py tumbling_agg generalizes).",
)
def win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("win_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("win_end_us"),
            "n",
            "total_value",
        )
    )


@register(
    "win_ntile",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    doc="distribution window functions — ntile/percent_rank/cume_dist per "
        "status partition (quartile bucketing for spend-tier segmentation, "
        "the window shapes the inventory lacked). Deterministic total order "
        "inside each partition via the (o_totalprice, o_orderkey) tiebreak, "
        "so rank-derived doubles are bit-identical across engines (rounded "
        "at 9dp as a belt). One shuffle on o_orderstatus; at 100 TB a "
        "3-value partition key is the textbook skew case — the scale path "
        "is two-phase: per-(status, salt) local histograms, then a "
        "broadcast CDF merge, same shape as agg_salted_skew.",
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )
