"""Declarative pipeline spec — the engine's "query plan" surface.

The reference hard-codes its plan as a loop nest (``main.rs:59-321``:
merchants → entities → batches → rows). Ours is a declarative spec
compiled to ONE record frame for the whole job (one lineage per entity,
concatenated); Catalyst plans the physical execution (pushdown,
broadcast, partition count), and a single Spark job replaces the
reference's O(merchants × entities × batches) round-trips (SURVEY §3.4).

A ``BackfillSpec`` mirrors the reference CLI (``main.rs:33-57``):
time window (default-open bounds, F5), optional merchant allow-list,
per-entity source table + column remap + topic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hyperswitch_data_backfill_spark.catalog import load_table
from hyperswitch_data_backfill_spark.registry import register
from hyperswitch_data_backfill_spark.sinks.kafka import event_frame

# Default-open window bounds (F5): the reference defaults start to year 0
# and end to PrimitiveDateTime::MAX (main.rs:52-56); we clamp to the
# timestamp range Spark/parquet/DuckDB all agree on.
DEFAULT_START = "0001-01-01 00:00:00"
DEFAULT_END = "9999-12-31 23:59:59"


@dataclass(frozen=True)
class EntitySpec:
    """One entity pipeline (≙ dump_payment_intents & siblings)."""

    table: str
    merchant_col: str  # ≙ merchant_id
    time_col: str      # ≙ created_at
    key_cols: tuple[str, ...]  # event key (deterministic, for downstream dedup)
    topic: str
    remap: dict[str, str] = field(default_factory=dict)  # source col → event field


@dataclass(frozen=True)
class BackfillSpec:
    """Whole-job spec (≙ the reference CLI, main.rs:33-57)."""

    entities: tuple[EntitySpec, ...]
    start: str = DEFAULT_START
    end: str = DEFAULT_END
    merchant_ids: tuple[int, ...] | None = None  # None → all merchants
    tenant_id: str = "default"


def compile_entity(
    df: DataFrame,
    spec: EntitySpec,
    job: BackfillSpec,
    key_dim: DataFrame | None = None,
    key_dim_col: str | None = None,
) -> DataFrame:
    """Compile one entity pipeline to a Kafka-record DataFrame.

    scan → window filter (F2) → allow-list semi-filter (J2) → broadcast
    key-store join (J1, optional) → remap (U2) → event projection (S4).
    Every predicate lands before the join so Catalyst pushes it into the
    scan; the dimension is broadcast so the fact never shuffles.

    ``df`` may be a STREAMING DataFrame: every stage here (filter,
    stream-static broadcast join, projection) is stream-compatible, so
    the same spec compiles to the continuous-backfill variant — readStream
    (CDC/Kafka) in, ``writeStream.format("kafka")`` out. Proven by
    tests/test_streaming.py::test_compile_entity_on_stream_equals_batch.
    """
    out = df.filter(
        F.col(spec.time_col).between(
            F.lit(job.start).cast("timestamp_ntz"), F.lit(job.end).cast("timestamp_ntz")
        )
    )
    if job.merchant_ids is not None:
        out = out.filter(F.col(spec.merchant_col).isin(list(job.merchant_ids)))
    if key_dim is not None and key_dim_col is not None:
        out = out.join(
            F.broadcast(key_dim), out[spec.merchant_col] == key_dim[key_dim_col], "inner"
        )
    payload: list[Column] = (
        [F.col(src).alias(dst) for src, dst in spec.remap.items()]
        if spec.remap
        else [F.col(c) for c in df.columns]
    )
    return event_frame(out, list(spec.key_cols), spec.topic, job.tenant_id, payload)


def compile_job(
    tables: Mapping[str, DataFrame],
    job: BackfillSpec,
    consolidated_topic: str | None = None,
    key_dims: Mapping[str, tuple[DataFrame, str]] | None = None,
) -> dict[str, DataFrame]:
    """Compile the WHOLE backfill job — every entity plus the consolidated
    feed — to ONE key/value/topic record frame.

    The reference's main loop (``main.rs:190-313``) runs 4 entity dumps ×
    N merchants × B batches as sequential async tasks; its consolidated
    topic (``development.toml:672``) is populated by each dump writing
    every event twice. Here each entity compiles to its own lineage
    (``compile_entity``: filters pushed into its scan); when
    ``consolidated_topic`` is set, its topic column becomes
    ``explode(array(entity_topic, consolidated_topic))`` with the two
    names de-duplicated at compile time; and the entity frames are
    concatenated by ``unionByName`` (partition concatenation, no
    shuffle). So each source row is scanned, filtered and
    ``to_json``-projected once and emitted once per topic it belongs to:
    its entity topic and the consolidated topic, or once when the two
    are the same name. Two entities that share a topic both keep their
    rows on it. ``Generate`` runs on streams, so the frame stays
    stream-compatible.

    Returns ``{"*": records}``: ``"*"`` marks a frame carrying every
    topic, one action for the whole job; sinks route each row on its
    ``topic`` column. ``key_dims`` optionally maps an entity table name
    to ``(dimension_df, join_col)`` — the merchant key-store broadcast
    join of ``compile_entity``.
    """
    if not job.entities:
        raise ValueError("compile_job: BackfillSpec has no entities")
    records = None
    for spec in job.entities:
        dim = (key_dims or {}).get(spec.table)
        compiled = compile_entity(
            tables[spec.table],
            spec,
            job,
            key_dim=dim[0] if dim else None,
            key_dim_col=dim[1] if dim else None,
        )
        if consolidated_topic is not None:
            # a literal array per entity: Catalyst folds it, so no row
            # builds or de-duplicates an array of its own
            topics = dict.fromkeys([spec.topic, consolidated_topic])
            compiled = compiled.withColumn(
                "topic", F.explode(F.array(*[F.lit(t) for t in topics]))
            )
        records = compiled if records is None else records.unionByName(compiled)
    return {"*": records}


# --- fixture: the whole-job pipeline over orders (≙ payment_intent) and
# lineitem (≙ payment_attempt), checked end-to-end against a UNION ALL oracle.

_JOB_START, _JOB_END = "1996-01-01 00:00:00", "1997-12-31 23:59:59"

# Demo entity pair (≙ the reference's compiled-in dump_* pipelines) over
# the fixture tables — shared by the registered fixture query below and
# the CLI's default entity set (__main__.DEMO_ENTITIES imports this).
DEMO_ENTITIES: tuple[EntitySpec, ...] = (
    EntitySpec(
        table="orders",
        merchant_col="o_custkey",
        time_col="o_orderdate",
        key_cols=("o_custkey", "o_orderkey"),
        topic="orders-events",
        remap={"o_orderkey": "entity_id", "o_custkey": "merchant_id",
               "o_orderstatus": "status"},
    ),
    EntitySpec(
        table="lineitem",
        merchant_col="l_suppkey",
        time_col="l_shipdate",
        key_cols=("l_suppkey", "l_orderkey", "l_linenumber"),
        topic="lineitem-events",
        remap={"l_orderkey": "entity_id", "l_suppkey": "merchant_id",
               "l_linestatus": "status"},
    ),
)

_JOB = BackfillSpec(entities=DEMO_ENTITIES, start=_JOB_START, end=_JOB_END)


@register(
    "pipeline_backfill_job",
    oracle=f"""
    SELECT CAST(o_custkey AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR) AS key,
           to_json(struct_pack(
               entity_id := o_orderkey, merchant_id := o_custkey,
               status := o_orderstatus, tenant_id := 'default')) AS value,
           'consolidated-events' AS topic
    FROM orders
    WHERE o_orderdate BETWEEN '{_JOB_START}' AND '{_JOB_END}'
    UNION ALL
    SELECT CAST(l_suppkey AS VARCHAR) || ':' || CAST(l_orderkey AS VARCHAR)
               || ':' || CAST(l_linenumber AS VARCHAR) AS key,
           to_json(struct_pack(
               entity_id := l_orderkey, merchant_id := l_suppkey,
               status := l_linestatus, tenant_id := 'default')) AS value,
           'consolidated-events' AS topic
    FROM lineitem
    WHERE l_shipdate BETWEEN '{_JOB_START}' AND '{_JOB_END}'
    """,
    doc="Whole-job orchestration (≙ main.rs:190-313): two entity pipelines "
        "compiled in one call to one record frame, each row exploded onto "
        "its entity topic and the consolidated topic (development.toml:672); "
        "this key is that frame's consolidated-topic rows.",
)
def pipeline_backfill_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {
        "orders": load_table(spark, sf_dir, "orders"),
        "lineitem": load_table(spark, sf_dir, "lineitem"),
    }
    records = compile_job(tables, _JOB, consolidated_topic="consolidated-events")["*"]
    return records.filter(F.col("topic") == "consolidated-events")
