"""Snapshot compaction / merge — the backfill-core change-data operators.

The reference is a *replay* tool: it re-reads historical entity rows and
re-publishes them to Kafka (``main.rs:190-313``), relying on downstream
ClickHouse ReplacingMergeTree to collapse duplicates by latest version
[dep].  That collapse — and the snapshot maintenance around it — is a
first-class batch operator here, in three standard shapes:

- ``compact_latest``   — latest-row-per-key compaction (what the
  downstream ReplacingMergeTree does at merge time, expressed as one
  keyed window).  Run after any at-least-once replay to restore
  point-in-time semantics.
- ``merge_upsert``     — snapshot ⊕ changeset merge (the MERGE / upsert
  half of an incremental backfill): delta rows win by key, untouched
  base rows carry over.
- ``scd2_intervals``   — change-history construction: each version row
  becomes a validity interval ``[valid_from, valid_to)`` closed by the
  next version's timestamp (SCD-2), the point-in-time join feed for
  ``join_asof``.

Scale notes (100 TB): all three are single-shuffle plans keyed on the
entity key.  ``compact_latest`` is a window degenerating to a per-key
top-1 — map-side partial via AQE is not possible for row_number, but the
shuffle carries only the surviving columns; at extreme scale swap to
``max_by`` aggregates (one partial-aggregating shuffle).  The upsert's
anti-join shuffles base and delta on the same key — with both sides
bucketed by key on storage it is Exchange-free; a small delta broadcasts.
Timestamps compare at microseconds on both engine and oracle sides
(events.ts is parquet TIMESTAMP(NANOS); see catalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperswitch_data_backfill_spark import api
from hyperswitch_data_backfill_spark.catalog import load_table
from hyperswitch_data_backfill_spark.registry import register

_MERGE_CUTOFF = "1997-06-01"
_MERGE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
_SCD2_COLS = {"from_col": "valid_from_us", "to_col": "valid_to_us"}
_SCD2_OUT = ("user_id", "event_id", "event_type", "valid_from_us", "valid_to_us")


def _versioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events version log keyed by user, versioned at micros (us)."""
    return load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )


@register(
    "compact_latest",
    oracle="""
    SELECT user_id, event_id, ts_us, event_type, value
    FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
    doc="latest-row-per-key compaction: the batch twin of ClickHouse "
        "ReplacingMergeTree's merge-time collapse that the reference's "
        "at-least-once replay depends on [dep]. One shuffle on the key; "
        "deterministic tiebreak (event_id) for equal timestamps; "
        "micros-exact ordering on both sides.",
)
def compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    return api.first_row_per_group(
        ev, "user_id", [F.col("ts_us").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_id", "ts_us", "event_type", "value")


@register(
    "merge_upsert",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'base' AS src
        FROM orders WHERE o_orderstatus = 'F'
    ), delta AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'delta' AS src
        FROM orders WHERE o_orderdate >= TIMESTAMP '{_MERGE_CUTOFF}'
    )
    SELECT * FROM delta
    UNION ALL
    SELECT * FROM base
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
    """,
    doc="snapshot-merge upsert (MERGE WHEN MATCHED → delta wins, ELSE keep "
        "base): delta ∪ (base ⟕anti delta) — the incremental-backfill "
        "write path without a table format. Both legs shuffle on the same "
        "key, so bucketed-by-key storage makes the anti-join Exchange-free "
        "and a small changeset broadcasts.",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderstatus") == "F").select(
        *_MERGE_COLS, F.lit("base").alias("src")
    )
    delta = orders.filter(
        F.col("o_orderdate") >= F.lit(_MERGE_CUTOFF).cast("timestamp")
    ).select(*_MERGE_COLS, F.lit("delta").alias("src"))
    return api.merge_upsert(base, delta, "o_orderkey")


@register(
    "scd2_intervals",
    oracle="""
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS valid_from_us,
           LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS valid_to_us
    FROM events
    """,
    doc="SCD-2 history build: each version row becomes a validity interval "
        "closed by the next version's timestamp (open current row → NULL). "
        "One keyed window — the producer side of the as-of join "
        "(operators/joins.py join_asof consumes exactly this shape).",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return api.scd2_build(
        _versioned_events(spark, sf_dir), "user_id", "us", ["event_id"], **_SCD2_COLS
    ).select(*_SCD2_OUT)


@register(
    "scd2_apply",
    oracle="""
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS valid_from_us,
           LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS valid_to_us
    FROM events
    """,
    doc="Incremental SCD-2 maintenance — apply a CDC delta to an existing "
        "history WITHOUT rebuilding it: the delta's key set is isolated "
        "(distinct + broadcast semi-join), only those keys' interval rows "
        "are re-opened, unioned with the delta, and re-windowed; every "
        "untouched key's rows pass through an anti-join untouched. "
        "Correctness contract, enforced by the oracle: applying the "
        "odd-event_id half as a delta onto the snapshot built from the "
        "even half must be INDISTINGUISHABLE from building the history "
        "from the full log. At 100 TB the rewrite cost is O(affected "
        "keys), not O(history) — deltas are small, so the semi/anti "
        "probes broadcast and the only shuffle is the re-window of the "
        "affected slice.",
)
def scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    versioned = _versioned_events(spark, sf_dir)
    delta = versioned.filter(F.col("event_id") % 2 == 1)
    # the pre-existing SCD2 snapshot (what a real caller would read back
    # from the lake): intervals built over the even half
    snapshot = api.scd2_build(
        versioned.filter(F.col("event_id") % 2 == 0),
        "user_id", "us", ["event_id"], **_SCD2_COLS,
    )
    return api.scd2_apply(
        snapshot, delta, "user_id", "us", ["event_id"], **_SCD2_COLS
    ).select(*_SCD2_OUT)


@register(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 0
    ), new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           n.o_orderstatus AS new_status, n.o_totalprice AS new_price,
           o.o_orderstatus AS old_status, o.o_totalprice AS old_price
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice  IS DISTINCT FROM n.o_totalprice
    """,
    doc="C5: snapshot differencing — derive a CDC changelog "
        "(insert/update/delete + before/after images) from two full "
        "snapshots that share no change-tracking metadata. This is the "
        "inverse of merge_upsert: the reference replays FROM a changelog "
        "(main.rs:190-313); when upstream can only hand you nightly "
        "snapshots, this operator manufactures that changelog. One "
        "full-outer shuffle join keyed on the entity key with null-safe "
        "column comparison; unchanged rows (the overwhelming majority of "
        "a 100 TB snapshot pair) are dropped BEFORE any downstream work. "
        "With both snapshots bucketed by key at write time the join is "
        "Exchange-free, making daily diffs O(changed-rows) in shuffle "
        "traffic.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return api.snapshot_diff(old, new, "o_orderkey").select(
        "o_orderkey",
        "op",
        F.col("new_o_orderstatus").alias("new_status"),
        F.col("new_o_totalprice").alias("new_price"),
        F.col("old_o_orderstatus").alias("old_status"),
        F.col("old_o_totalprice").alias("old_price"),
    )
