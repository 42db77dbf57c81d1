"""Aggregations — SURVEY §2.4 (A1-A4).

The reference runs COUNT(*) once per merchant in a driver loop
(``main.rs:190-313`` × ``payment_intent.rs:36-43``) — N round-trips. One
``groupBy("merchant_id").count()`` replaces all of them with a single
shuffle whose map side pre-aggregates (partial_count), so bytes shuffled
are O(groups), not O(rows). That map-side combine is what makes these
viable at 100 TB.

Float determinism: SUM/AVG over doubles is order-dependent, and Spark
and DuckDB reduce in different orders. Every money/quantity aggregate
here is computed over ``DECIMAL(18,4)`` casts — exact, associative,
engine-neutral — then cast back to double for a stable comparison
schema. This mirrors the reference's [dep] stance of i64 minor-unit
amounts (never float money, SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperswitch_data_backfill_spark import api
from hyperswitch_data_backfill_spark.catalog import load_table
from hyperswitch_data_backfill_spark.registry import register


def _dec(col: str):
    return F.col(col).cast("decimal(18,4)")


@register(
    "agg_group_count",
    oracle="SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey",
    doc="A2: per-merchant counts — one shuffle replaces the reference's "
        "per-merchant COUNT loop (main.rs:190-313).",
)
def agg_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A3: grouped sum/avg/min/max (TPC-H Q1 shape) — downstream-analytics "
        "parity for the ClickHouse dashboards the Kafka events feed [dep]. "
        "Decimal-exact sums; avg derived as sum/count in double.",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sum_qty = F.sum(_dec("l_quantity")).cast("double")
    sum_price = F.sum(_dec("l_extendedprice")).cast("double")
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_price.alias("sum_price"),
        (sum_qty / cnt).alias("avg_qty"),
        (sum_price / cnt).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        cnt.alias("cnt"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_merchants
    FROM orders GROUP BY o_orderstatus
    """,
    doc="A3b: exact distinct count per group — expands to a two-phase "
        "aggregate (partial distinct then merge); for 100 TB cardinality "
        "estimation prefer agg_approx_distinct (HLL, constant memory).",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("n_merchants"))
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # approximate by construction → rows-only check
    doc="A3c: HyperLogLog++ distinct estimate (rsd=0.01). The 100 TB default: "
        "constant memory per group vs the unbounded hash set of exact distinct. "
        "Envelope gap: the driver-hashed twin (agg_approx_distinct_err, rel "
        "err ≤ 0.05) catches wiring breaks — wrong column, wrong grouping, a "
        "garbage sketch — but NOT a precision drift inside the 5x slack "
        "(rsd quietly degrading 0.01→0.03 stays green); catching that would "
        "take re-tightening the bound to the rsd itself, which would flake "
        "on unlucky groups.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.01).alias("n_merchants_approx"))
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS o_year, COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, CAST(year(o_orderdate) AS INTEGER))
    """,
    doc="A4: rollup over the tenant→merchant→day-style hierarchy "
        "(status→year here): grand total + per-status + per-(status,year) in "
        "one pass; Spark expands grouping sets before the shuffle so it is "
        "still a single map-side-combined aggregation.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .rollup("o_orderstatus", "o_year")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="A4b: cube — all 2^k grouping sets (status×priority, each margin, "
        "grand total) in one shuffle; same expand-before-aggregate shape "
        "as rollup, for dashboard cross-tabs over the event stream.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="A5: exact grouped percentiles (continuous interpolation — Spark "
        "percentile ≡ DuckDB quantile_cont). Exact percentile needs the "
        "group's values collected per reducer — fine per-group; at 100 TB "
        "prefer agg_approx_percentile below.",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # array form: ONE percentile state per group serves all three
    # quantiles (3 separate calls would buffer the group 3×)
    return (
        li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, array(0.50, 0.95, 0.99))").alias("pcts"))
        .select(
            "l_returnflag",
            *[
                F.round(F.col("pcts")[i], 4).alias(f"p{int(q * 100)}")
                for i, q in enumerate((0.50, 0.95, 0.99))
            ],
        )
    )


PIVOT_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@register(
    "agg_pivot",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
           COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
           COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
           COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
           COUNT(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
    FROM orders GROUP BY o_orderstatus
    """,
    doc="A6: pivot / cross-tab — one grouped aggregation with a "
        "conditional-count column per pivot value (values enumerated, so "
        "no second pass to discover them and the plan is a plain "
        "map-side-combined aggregate; never pivot on an unbounded-"
        "cardinality column at scale).",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(PIVOT_PRIORITIES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(PIVOT_PRIORITIES))
    )


@register(
    "sample_stable_split",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'train' ELSE 'eval' END AS split
    FROM documents
    """,
    doc="L6: deterministic train/eval split by md5(doc_id) — stable under "
        "re-runs, re-partitioning, and engine changes (unlike rand() or "
        "engine-native hash). The standard sharding/sampling primitive "
        "for training-data pipelines: a pure per-row expression, no "
        "shuffle, no state, trivially 100 TB-safe.",
)
def sample_stable_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return api.stable_split(docs, "doc_id", {"train": 0.9, "eval": 0.1}).select(
        "doc_id", "lang", "split"
    )


@register(
    "agg_approx_percentile",
    oracle=None,  # sketch-based (KLL/GK) → engine-specific → rows-only
    doc="A5b: approx_percentile — mergeable quantile sketch, constant "
        "memory per group, one map-side-combined shuffle. The 100 TB "
        "replacement for exact percentiles: error is bounded by the "
        "accuracy knob (10000 ≈ 0.01% rank error), state is O(sketch), "
        "not O(rows). Envelope gap: the driver-hashed twin "
        "(agg_approx_percentile_err, rel ≤ 0.005 vs exact) catches a "
        "broken sketch or a rank-error blow-up, NOT a within-bound "
        "accuracy regression (accuracy 10000→1000 can stay under 0.5% "
        "on this distribution); the pytest guard brackets each returned "
        "quantile between neighboring exact ranks "
        "(test_quality_guards.py), which would.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # scalar projection (not the raw array) — mirrors agg_percentile's
    # output shape so the two are drop-in interchangeable downstream
    return (
        li.groupBy("l_returnflag")
        .agg(F.percentile_approx("l_extendedprice", [0.50, 0.95, 0.99], 10000).alias("pcts"))
        .select(
            "l_returnflag",
            F.col("pcts")[0].alias("p50"),
            F.col("pcts")[1].alias("p95"),
            F.col("pcts")[2].alias("p99"),
        )
    )


N_SALT = 8


@register(
    "agg_salted_skew",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders GROUP BY o_custkey
    """,
    doc="A7: skew-resistant two-phase aggregation — phase 1 groups by "
        "(key, salt) so a hot key's rows spread over N_SALT reducers, "
        "phase 2 merges the partials by key. Same result as the direct "
        "groupBy (the oracle proves it); the pattern is what keeps a "
        "single viral merchant/document from serializing a 1000-executor "
        "aggregation. Salt is derived from a stable row attribute, not "
        "rand(), so the plan stays deterministic.",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    salted = orders.withColumn("_salt", (F.xxhash64("o_orderkey") % N_SALT).cast("int"))
    partial = salted.groupBy("o_custkey", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(_dec("o_totalprice")).alias("pt"),
    )
    return partial.groupBy("o_custkey").agg(
        F.sum("pn").alias("n"),
        F.sum("pt").cast("double").alias("total"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="A4b: explicit GROUPING SETS — the general form rollup/cube "
        "specialize. One pass over the input expands each row into its "
        "grouping-set combinations before the single aggregation shuffle "
        "(Spark's Expand node); GROUPING() markers disambiguate 'NULL "
        "because aggregated away' from NULL data, exactly as downstream "
        "tenant→merchant→day dashboards need.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


STRATUM_N = 40


@register(
    "sample_stratified_fixed",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) AS rk
        FROM documents
    ) t WHERE rk <= {STRATUM_N}
    """,
    doc="L6b: deterministic fixed-size stratified sample — exactly "
        "min(N, |stratum|) docs per language, chosen by md5(doc_id) order "
        "so the sample is stable under re-runs and engine changes (a "
        "seeded rand() is neither portable nor re-run-stable). One "
        "shuffle on the stratum key; at 100 TB with a hot stratum, "
        "pre-filter with an md5-threshold guess (keep ~2N by bucket) "
        "before the window so the sort never sees the full stratum.",
)
def sample_stratified_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATUM_N)
        .select("doc_id", "lang")
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INTEGER) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
    doc="A8: fixed-width histogram — floor-division binning then a plain "
        "grouped count/sum, the distribution profile every data-quality "
        "dashboard wants. Binning is a per-row codegen expression, so the "
        "shuffle carries O(buckets) after map-side partial aggregation — "
        "the cheapest possible profile of a 100 TB column (contrast an "
        "exact percentile, which buffers values per group).",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


@register(
    "agg_mode",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY COUNT(*) DESC, o_orderpriority
               ) AS rn
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ) t WHERE rn = 1
    """,
    doc="A9: deterministic per-group mode (most frequent value, "
        "lexicographic tiebreak) — two-phase: grouped counts shuffle on "
        "the composite key with map-side partials, then the argmax window "
        "runs over O(distinct values) rows, not the corpus. The SQL-exact "
        "sibling of what a heavy-hitters sketch approximates at 100 TB.",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("n"), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@register(
    "anomaly_zscore",
    oracle="""
    WITH stats AS (
        SELECT user_id,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
                    AS DOUBLE) AS s2
        FROM events GROUP BY user_id
    ), scored AS (
        SELECT e.event_id, e.user_id, e.value,
               (e.value - s.s1 / s.n)
                 / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) AS z
        FROM events e JOIN stats s USING (user_id)
        WHERE s.n > 1 AND s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n) > 0
    )
    SELECT event_id, user_id, value, ROUND(z, 6) AS z
    FROM scored WHERE abs(z) > 2.5
    """,
    doc="A10: per-key z-score anomaly gate — population moments from "
        "DECIMAL-exact sums (s1, s2), so mean/variance/z are computed "
        "from bit-identical operands on both engines; only the final "
        "round(6) touches a fold-order-free double pipeline. Shape: one "
        "grouped aggregate (map-side partials) + a stats join back on "
        "the key — the grouped-stats twin of text_tfidf's skew-safe "
        "broadcast pattern; no global window, no second pass.",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,4)")
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.join(stats, "user_id")
        .filter((F.col("n") > 1) & (var > 0))
        .withColumn("_z", z)  # gate on the UNROUNDED z, exactly like the oracle
        .filter(F.abs(F.col("_z")) > 2.5)
        .select("event_id", "user_id", "value", F.round("_z", 6).alias("z"))
    )


@register(
    "agg_incremental_merge",
    oracle="""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
               AS avg_price
    FROM orders
    GROUP BY CAST(DATE_TRUNC('month', o_orderdate) AS DATE)
    """,
    doc="incremental aggregate maintenance — merge partial aggregates from "
        "an existing rollup and a new delta batch instead of recomputing "
        "the rollup from raw history. The engine path materializes per-"
        "(month, batch) partials (count/decimal-sum/min/max — each "
        "commutative and mergeable), then merges by re-aggregation: "
        "sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes; avg is "
        "DERIVED from merged sum/count, never averaged-of-averages. The "
        "oracle recomputes from raw rows, so the merge is proven "
        "indistinguishable from a full rebuild. At 100 TB this is the "
        "daily-rollup pattern: the delta is the only raw data touched, "
        "the rollup merge shuffles O(groups) not O(rows), and every "
        "partial is a few bytes per group — the same algebra Spark's own "
        "ObjectHashAggregate exploits map-side.",
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # the pre-existing rollup (base) and tonight's delta, split disjointly
    # by key exactly as an incremental pipeline would see them
    month = F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month")
    partials = (
        orders.withColumn("batch", (F.col("o_orderkey") % 2).cast("int"))
        .groupBy(month, F.col("batch"))
        .agg(
            F.count(F.lit(1)).alias("p_cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("p_sum"),
            F.min("o_totalprice").alias("p_min"),
            F.max("o_totalprice").alias("p_max"),
        )
    )
    merged = partials.groupBy("month").agg(
        F.sum("p_cnt").alias("cnt"),
        F.sum("p_sum").cast("double").alias("total"),
        F.min("p_min").alias("min_price"),
        F.max("p_max").alias("max_price"),
    )
    return merged.select(
        "month", "cnt", "total", "min_price", "max_price",
        (F.col("total") / F.col("cnt")).alias("avg_price"),
    )


@register(
    "agg_heavy_hitters",
    oracle="""
    WITH freq AS (
        SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
    ), stats AS (
        SELECT CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean_cnt FROM freq
    )
    SELECT f.l_partkey, f.cnt
    FROM freq f, stats s
    WHERE f.cnt > 1.5 * s.mean_cnt
    """,
    doc="heavy-hitter detection — keys whose frequency exceeds 1.5x the "
        "mean per-key frequency (hot-part skew diagnosis; the same probe "
        "that decides when join_skew_salted / agg_salted_skew are worth "
        "their salt). Exact two-pass plan: one partial-aggregating "
        "shuffle builds the per-key frequency table (map-side combine "
        "means shuffle traffic is O(distinct keys), not O(rows)); the "
        "global mean is a single-row broadcast joined back codegen-side. "
        "At 100 TB with a distinct-key set too large to re-scan, the "
        "documented sketch path is Misra-Gries per partition + merge "
        "(candidates are a superset; one exact re-count pass confirms) — "
        "same two-shuffle budget, memory O(1/threshold).",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Materialize the frequency table once: both the mean branch and the
    # filter branch consume it, and without the checkpoint Catalyst
    # duplicates the whole scan+agg subtree into each (two raw scans —
    # the text_unigram_logprob lesson). At 100 TB freq is the frame
    # you'd land as a table; localCheckpoint is the in-session stand-in.
    freq = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    stats = freq.agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mean_cnt")
    )
    return (
        freq.join(F.broadcast(stats))
        .filter(F.col("cnt") > 1.5 * F.col("mean_cnt"))
        .select("l_partkey", "cnt")
    )


# Count-min sketch geometry: d independent hash rows × w counters.
# Hashes are engine-neutral integer arithmetic ((k*a+b) mod p) mod w —
# NOT xxhash — precisely so the whole sketch is oracle-replayable.
_CM_P = 2147483647
_CM_W = 256
_CM_HASHES = [(0, 999983, 12345), (1, 999979, 54321), (2, 999961, 7777), (3, 999959, 31337)]


@register(
    "agg_countmin",
    oracle=f"""
    WITH h(i, a, b) AS (VALUES {", ".join(f"({i},{a},{b})" for i, a, b in _CM_HASHES)}),
    hashed AS (
        SELECT l_partkey, h.i,
               ((l_partkey * h.a + h.b) % {_CM_P}) % {_CM_W} AS pos
        FROM lineitem CROSS JOIN h
    ),
    sketch AS (SELECT i, pos, COUNT(*) AS cnt FROM hashed GROUP BY i, pos),
    probe AS (SELECT DISTINCT l_partkey FROM lineitem),
    ph AS (
        SELECT p.l_partkey, h.i,
               ((p.l_partkey * h.a + h.b) % {_CM_P}) % {_CM_W} AS pos
        FROM probe p CROSS JOIN h
    )
    SELECT ph.l_partkey, MIN(s.cnt) AS est
    FROM ph JOIN sketch s USING (i, pos)
    GROUP BY ph.l_partkey
    """,
    doc="A13: count-min sketch — build a d=4 × w=256 counter grid over "
        "the key stream, then answer per-key frequency estimates as the "
        "min over the d counters. est >= true always (no false "
        "negatives); overestimate bounded by collision mass, shrinking "
        "as w grows. The sketch itself is the 100 TB story: counters "
        "are commutative partial sums, so the full sketch is O(d*w) "
        "bytes per partition, merges by addition, and the only "
        "full-data shuffle carries (i, pos) partial counts — "
        "independent of the number of distinct keys (contrast "
        "agg_heavy_hitters' exact O(distinct) table). Hash rows use "
        "engine-neutral modular arithmetic, so unlike most sketch "
        "implementations this one is fully oracle-hashable.",
)
def agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    hashes = [
        F.struct(
            F.lit(i).alias("i"),
            (((F.col("l_partkey") * a + b) % _CM_P) % _CM_W).alias("pos"),
        )
        for i, a, b in _CM_HASHES
    ]
    sketch = (
        li.select("l_partkey", F.explode(F.array(*hashes)).alias("h"))
        .select("h.i", "h.pos")
        .groupBy("i", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probe = (
        li.select("l_partkey")
        .distinct()
        .select("l_partkey", F.explode(F.array(*hashes)).alias("h"))
        .select("l_partkey", "h.i", "h.pos")
    )
    return (
        probe.join(F.broadcast(sketch), ["i", "pos"])
        .groupBy("l_partkey")
        .agg(F.min("cnt").alias("est"))
    )


EQUIDEPTH_BUCKETS = 16


@register(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH ranked AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               NTILE({EQUIDEPTH_BUCKETS}) OVER (
                   ORDER BY o_totalprice, o_orderkey
               ) AS bucket
        FROM orders
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
    FROM ranked GROUP BY bucket
    """,
    doc="Equi-depth (equi-height) histogram — the optimizer-statistics "
        "histogram ANALYZE builds (equal row counts per bucket, "
        "variable-width bounds), complementing agg_histogram's "
        "equi-WIDTH buckets. NTILE over (price, orderkey) makes the "
        "tie-break total, so bucket bounds are deterministic and the "
        "oracle replays them exactly. The fixture uses the exact "
        "single-ordering NTILE; at 100 TB the production path is the "
        "mergeable-sketch twin (agg_approx_percentile's KLL quantiles "
        "at k/16 ranks) — same duality this module already documents "
        "for exact vs approx percentiles.",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    return api.histogram_equidepth(
        orders, "cents", EQUIDEPTH_BUCKETS, ["o_orderkey"]
    ).withColumnsRenamed({"lo": "lo_cents", "hi": "hi_cents"})


HLL_MERGE_BUCKETS = 8


@register(
    "agg_hll_merge",
    oracle=None,  # sketch estimate → rows-only; merge≡direct pinned in pytest
    doc="A3d: mergeable HyperLogLog partials (Datasketches "
        "hll_sketch_agg / hll_union_agg) — the production path "
        "agg_approx_distinct's docstring promises for 100 TB: each "
        "partition/batch builds its own constant-size sketch, sketches "
        "union associatively (register maxima), and the union of "
        "partials carries the same information as a direct pass — so "
        "incremental/daily sketches replace re-scans. Output is one "
        "row: bucketed-merge estimate, direct estimate (identical in "
        "sparse mode — pytest-pinned at sf0.001; within the sketch "
        "envelope after dense-mode promotion, where the union's "
        "target-type estimator can differ by a few counts — see "
        "agg_hll_merge_err), exact distinct, and relative error. The "
        "sketch column is the thing a real rollup table stores next to "
        "its counts. Envelope gap: the driver-hashed twin only asserts "
        "≤ 5% relative agreement on both legs, so a few-count dense-mode "
        "estimator regression stays green; the merged ≡ direct EXACT "
        "equality (sparse mode) is pinned only in pytest at sf0.001 "
        "(test_quality_guards.py).",
)
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    parts = (
        orders.withColumn("b", F.col("o_orderkey") % HLL_MERGE_BUCKETS)
        .groupBy("b")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    )
    merged = parts.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("direct_est"),
        F.countDistinct("o_custkey").alias("exact"),
    )
    return merged.crossJoin(direct).select(
        F.lit(HLL_MERGE_BUCKETS).alias("n_buckets"),
        "merged_est",
        "direct_est",
        "exact",
        F.round(
            F.abs(F.col("merged_est") - F.col("exact")) / F.col("exact"), 6
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Error-envelope twins (round-7): driver-hashable evidence for the sketch
# estimators above. The sketches themselves are engine-specific (no DuckDB
# twin exists), but the CLAIM each one makes — "within ε of exact" — is
# SQL-checkable: compute approx AND exact in one Spark plan, emit a
# per-group within-bound flag, and let the oracle assert the flag. A
# sketch regression (wrong merge, broken accuracy knob) flips a flag and
# the driver hash goes red. Bounds are set from measured fixture error
# with ≥5× headroom (sf0.01/sf0.1 probe, round 7):
#   approx_percentile  max rel err 2.1e-4   → bound 5e-3
#   approx_distinct    max rel err 6.9e-3   → bound 5e-2 (rsd=0.01)
#   HLL merge          rel err 8e-3         → bound 5e-2
# All three estimators are deterministic for a given dataset, so the
# flags are stable across runs at any sf.
# ---------------------------------------------------------------------------

APPROX_PCT_REL_BOUND = 0.005
APPROX_DISTINCT_REL_BOUND = 0.05
HLL_REL_BOUND = 0.05


@register(
    "agg_approx_percentile_err",
    oracle="SELECT l_returnflag, TRUE AS within_bound FROM lineitem GROUP BY l_returnflag",
    doc="A5b-err: error envelope for agg_approx_percentile — per group, "
        "the worst relative deviation of the sketch quantiles (accuracy "
        f"10000) from the exact percentiles stays under "
        f"{APPROX_PCT_REL_BOUND}. Both sides ride ONE groupBy (two "
        "aggregate buffers, one shuffle).",
)
def agg_approx_percentile_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.50, 0.95, 0.99))").alias("ex"),
        F.percentile_approx("l_extendedprice", [0.50, 0.95, 0.99], 10000).alias("ap"),
    )
    max_err = F.array_max(
        F.zip_with("ex", "ap", lambda e, a: F.abs(a.cast("double") - e) / e)
    )
    return per.select(
        "l_returnflag", (max_err <= APPROX_PCT_REL_BOUND).alias("within_bound")
    )


# The referee runs on a deterministic md5 carve of the KEY SPACE, not
# the full table: an exact two-phase countDistinct over every key at
# sf1 dominated the whole sweep tail (172 s wall for a 3-row envelope —
# r13 verdict item 5) while proving nothing the carve doesn't. Keeping
# 1/APPROX_DISTINCT_CARVE_MOD of custkeys (selected by md5, so the same
# keys at every sf and in every engine) bounds the referee leg to
# O(rows/8) with the SAME claim: the sketch and the exact count see the
# identical carved key population, so a wiring regression (wrong column,
# wrong rsd, broken merge) still flips the flag. The full-population
# bound is carried by the sketch's rsd guarantee, as the 100 TB
# deployment note below says.
APPROX_DISTINCT_CARVE_MOD = 8


@register(
    "agg_approx_distinct_err",
    oracle="SELECT o_orderstatus, TRUE AS within_bound FROM orders GROUP BY o_orderstatus",
    doc="A3c-err: error envelope for agg_approx_distinct — per group, "
        "|HLL++(rsd=0.01) − exact| / exact ≤ "
        f"{APPROX_DISTINCT_REL_BOUND}, checked on a deterministic md5 "
        f"carve (1/{APPROX_DISTINCT_CARVE_MOD} of custkeys) so the "
        "exact-countDistinct referee stays O(seconds) at every sf; at "
        "100 TB the referee leg is dropped entirely and the bound is "
        "carried by the sketch's rsd guarantee — this key exists to pin "
        "that the wiring (not the math) is right.",
)
def agg_approx_distinct_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10
    ).cast("long") % APPROX_DISTINCT_CARVE_MOD
    # r16 (guide §2.2): mixing countDistinct with the sketch in one
    # aggregate planned an Expand (×2 row duplication) into the
    # two-exchange distinct expansion. HLL++ is duplicate-insensitive
    # (inserting a value twice leaves the sketch bit-identical), so
    # deduping (status, custkey) FIRST and then running BOTH legs over
    # the distinct keys — where the exact leg is a plain count — yields
    # the identical (ap, ex) pair (verified value-equal at sf0.1) from
    # plain map-side-combined HashAggregates.
    keys = (
        orders.where(bucket == 0)
        .select("o_orderstatus", "o_custkey")
        .distinct()
    )
    per = keys.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("ap"),
        F.count("o_custkey").alias("ex"),
    )
    rel = F.abs(F.col("ap") - F.col("ex")) / F.col("ex")
    return per.select(
        "o_orderstatus", (rel <= APPROX_DISTINCT_REL_BOUND).alias("within_bound")
    )


@register(
    "agg_hll_merge_err",
    oracle=f"""
    SELECT CAST({HLL_MERGE_BUCKETS} AS INTEGER) AS n_buckets,
           TRUE AS merge_within_bound, TRUE AS est_within_bound
    """,
    doc="A3d-err: error envelope for agg_hll_merge. NOTE the honest "
        "contract: merged ≡ direct holds EXACTLY only while both "
        "sketches stay in sparse mode (small cardinalities — pinned in "
        "pytest at sf0.001); after dense-mode promotion the union's "
        "target-type estimator can differ by a few counts (measured "
        "1488 vs 1494 at sf0.01), so the driver-checkable claim is "
        f"relative agreement ≤ {HLL_REL_BOUND} on both legs: "
        "merged-vs-direct and merged-vs-exact.",
)
def agg_hll_merge_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = agg_hll_merge(spark, sf_dir)
    merge_rel = F.abs(F.col("merged_est") - F.col("direct_est")) / F.col("direct_est")
    return base.select(
        F.col("n_buckets").cast("int").alias("n_buckets"),
        (merge_rel <= HLL_REL_BOUND).alias("merge_within_bound"),
        (F.col("rel_err") <= HLL_REL_BOUND).alias("est_within_bound"),
    )
