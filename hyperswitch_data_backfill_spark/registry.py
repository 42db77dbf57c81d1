"""Fixture-query registry — the driver-facing operator inventory.

Every operator in SURVEY.md §2 lands here as a named query: a PySpark
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an
equivalent DuckDB oracle SQL string. ``__spark_entry__.py`` exposes this
registry verbatim to the correctness driver.

Contract notes (see __spark_entry__ docstring):
- column names must match between Spark result and oracle SQL — alias
  everything on both sides;
- the value hash is order-insensitive but *exact*, so aggregates over
  doubles are computed via decimal casts (deterministic, engine-neutral)
  or rounded where a float pipeline is inherent (cosine similarity).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class FixtureQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, FixtureQuery] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a fixture query."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = FixtureQuery(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


# The external correctness driver sweeps at most 50 queries per round, in
# the order queries() yields them.  Rotation policy: once a key is
# driver-green AND its implementation is unchanged, it may drop out of
# the window to make room for unswept or changed keys; every key —
# oracle-backed AND rows-only — must be either in the window or have a
# driver record in a shipped CORRECTNESS_r*.json (enforced by
# tests/test_registry.py::test_driver_window_covers_every_unproven_key,
# extended to rows-only keys in round 5 per the r4 verdict).
#
# The window below is MECHANICALLY DERIVED, not hand-curated (r8 verdict
# item 2 — the r7/r8 hand-listed windows let an executed-looking
# rotation go stale). It is the verbatim output of
#   tools/rotation.suggested_window(50, prepend=_WINDOW_PREPEND,
#                                   max_round=_WINDOW_EVIDENCE_ROUND)
# and tests/test_registry.py::test_driver_window_matches_rotation_output
# fails the suite whenever the committed copy drifts from what the
# shipped CORRECTNESS files say it should be. To regenerate after new
# driver artifacts land: `python tools/rotation.py` and paste (the
# evidence pin below derives itself from the shipped artifacts).
#
# Prepend hook: evidence files cannot detect a key whose IMPLEMENTATION
# changed since its latest green — list those here by hand and they go
# first, ahead of the age-ranked tail. (New keys need no entry: a key
# with no driver record anywhere ranks first automatically.)
# Round 15: implementations changed under nine driver-checkable keys —
# the lz4 size-walk gained truncation bounds checks (r14 ADVICE) riding
# under both wire-roundtrip hashes; KafkaWireStreamReader.read()'s
# group-mode first-sight pin was restructured (r14 ADVICE medium) and
# its __del__ hardened, under both simple-reader streaming keys;
# stream_pgwire_tail's drain went stall-based (r14 verdict item 5);
# the pgwire reader's pushdown literal gained the non-finite guard and
# the OID map grew json/jsonb/uuid, on the path of both real-PG scan
# keys; decode_avi now binds to the single 'vids' stream (r14 ADVICE),
# under both video perceptual keys. pgwire_scan_embeddings (reshaped to
# the canon-safe posexplode projection, r14 verdict item 1) needs no
# entry: its latest record is RED, which ranks it ahead of every green
# automatically. Round-14 prepends are cleared (their r14 records cover
# the shipped implementations).
# Round 16: implementations changed under nine driver-checkable keys —
# stream_pgwire_tail gained the snapshot-fenced cursor and its fixture
# restored the executor-parallel mid-flight wave (r15 verdict item 1);
# both kafka tumbling keys and the pgwire tail now wait through the
# shared streaming/drain.py helper (r15 verdict item 8); the lz4
# size-walk's continuation loops gained uniform ValueError bounds (r15
# ADVICE), riding under both wire-roundtrip hashes; pgwire.py's OID map
# grew pg_lsn/record/void and PgConnection/_startup grew the
# replication-mode parameter, on the module path of all real-PG keys.
# stream_pgwire_cdc (new: logical-replication CDC, r15 verdict item 2)
# needs no entry — no driver record ranks it first automatically.
# Round-15 prepends are cleared (their r15 records cover the shipped
# implementations).
# Round 16 OPTIMIZATION pass: implementations changed (plan reshapes,
# all oracle-proven result-identical — OPTIMIZATION_r16.md) under these
# driver-checkable keys whose executed plans the round-17 optimization
# pass reshaped: graph_pagerank (adjacency checkpointed partitioned+
# sorted on src, one exchange per round — also under api.pagerank);
# the lsh_cosine_pairs single-banding-evaluation census, riding under
# neardup_cosine_lsh, its recall-floor referee and
# dedup_semantic_clusters; the hash-prefixed exact-dedup windows
# (dedup_exact, pipeline_corpus_build); profile_columns' empty-table
# n_rows coalesce; stream_pgwire_tail's stall-class verification
# before the bounded restart. Round-16 prepends are cleared — all 19
# are green in CORRECTNESS_r16 on their reshaped implementations.
# Wire-leg pass: implementations changed under these driver-checkable
# keys. Every pgwire read now goes through PgConnection's buffered
# message reader, and Spark scans decode columnar Arrow batches
# (pgwire_scan_*, pipeline_pg_to_kafka, the pgwire tail and CDC
# streams); CRC-32C is lane-parallel and _recv_frame fills a
# preallocated buffer (every kafka-wire produce, fetch and stream key
# below). Round-17 prepends are cleared — all eight have r17 records on
# their reshaped implementations.
# One-producer pass: every kafka-wire produce key below (and
# pipeline_pg_to_kafka, the tumbling and CDC-maintained streams) now
# produces through the one leader-routed produce_rows; the list is
# unchanged, as each was already prepended.
# One-frame pass: pipeline_backfill_job is now the consolidated-topic
# rows of compile_job's single exploded record frame, and
# graph_pagerank runs api.pagerank, whose AQE toggle is now
# lock-guarded and restores an unset conf by unsetting it.
# One-implementation pass: these thirteen keys are now adapters over
# their api.py kernels (as-of join, first-row/top-k per group, upsert,
# SCD-2 build/apply, snapshot diff, sessionize, equi-depth histogram,
# stable split, BM25); their hand-written bodies are gone.
# One-pass record-batch pass: the magic-2 batch encoder and decoder
# each run one loop over a batch's bytes (varint table, index
# arithmetic), under every v3 produce and v4 fetch key; these four
# ride them through the producer, the broker double and the consumer.
# ANN/dedup/clean-corpus pass: the two top-k keys, incremental exact
# dedup and the clean-corpus funnel are now adapters over api.ann_topk,
# dedup_incremental and clean_corpus (sim_topk_recall_floor runs both
# top-k keys); ann_topk's LSH branch took sim_topk's plan, and
# snapshot_diff dropped its new-side marker (cdc_snapshot_diff, listed).
_WINDOW_PREPEND: tuple[str, ...] = (
    "sim_exact_small",
    "sim_topk",
    "sim_topk_recall_floor",
    "dedup_incremental_exact",
    "pipeline_clean_corpus",
    "kafka_wire_v2_roundtrip",
    "kafka_wire_fetch_roundtrip",
    "stream_kafka_wire_tumbling",
    "stream_kafka_wire_tumbling_parallel",
    "join_asof",
    "join_asof_forward",
    "join_asof_tolerance",
    "compact_latest",
    "merge_upsert",
    "scd2_intervals",
    "scd2_apply",
    "cdc_snapshot_diff",
    "topk_per_group",
    "win_session",
    "agg_equidepth_histogram",
    "sample_stable_split",
    "text_bm25",
    "pipeline_backfill_job",
    "graph_pagerank",
    "pgwire_scan_orders",
    "pgwire_scan_embeddings",
    "pgwire_scan_props",
    "pipeline_pg_to_kafka",
    "stream_pgwire_tail",
    "stream_pgwire_cdc",
    "kafka_wire_roundtrip",
    "kafka_wire_routed_roundtrip",
    "stream_cdc_kafka_maintained",
)

_CORRECTNESS_RE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _shipped_evidence_rounds() -> list[int]:
    """Round numbers of every shipped driver artifact, ascending by the
    PARSED number (r10 after r9). Mirrors tools/rotation.correctness_files
    (which tools can import registry, not vice versa)."""
    repo = Path(__file__).resolve().parent.parent
    return sorted(
        int(m.group(1))
        for f in repo.glob("CORRECTNESS_*.json")
        if (m := _CORRECTNESS_RE.fullmatch(f.name)) is not None
    )


# The newest CORRECTNESS_r*.json round the committed window reflects.
# DERIVED, not hand-pinned (r12 verdict wrong-item 1: the per-round
# "bump the literal" chore kept recurring): the pin is the newest
# shipped artifact round at import time. The driver dropping a NEW
# artifact post-snapshot moves the pin forward by one, so the rotation
# tripwire in tests/test_registry.py accepts a committed window that
# matches the suggestion at the pin OR at pin-1 (the inevitable
# post-snapshot drop) — while a window left unrotated for a full round
# matches neither and fails.
_WINDOW_EVIDENCE_ROUND: int = max(_shipped_evidence_rounds(), default=0)

# ANN/DEDUP/CLEAN-CORPUS WINDOW = rotation output at evidence pin r17
# with the thirty-three changed-implementation prepends above, then the
# r13 and r14 cohorts oldest-evidence-first.
_DRIVER_WINDOW: list[str] = [
    "sim_exact_small",  # green r15
    "sim_topk",  # rows_only r16
    "sim_topk_recall_floor",  # green r13
    "dedup_incremental_exact",  # green r15
    "pipeline_clean_corpus",  # green r14
    "kafka_wire_v2_roundtrip",  # green r15
    "kafka_wire_fetch_roundtrip",  # green r15
    "stream_kafka_wire_tumbling",  # green r15
    "stream_kafka_wire_tumbling_parallel",  # green r14
    "join_asof",  # green r16
    "join_asof_forward",  # green r17
    "join_asof_tolerance",  # green r17
    "compact_latest",  # green r17
    "merge_upsert",  # green r14
    "scd2_intervals",  # green r15
    "scd2_apply",  # green r13
    "cdc_snapshot_diff",  # green r15
    "topk_per_group",  # green r14
    "win_session",  # green r17
    "agg_equidepth_histogram",  # green r15
    "sample_stable_split",  # green r13
    "text_bm25",  # green r15
    "pipeline_backfill_job",  # green r14
    "graph_pagerank",  # green r17
    "pgwire_scan_orders",  # green r15
    "pgwire_scan_embeddings",  # green r15
    "pgwire_scan_props",  # green r15
    "pipeline_pg_to_kafka",  # green r15
    "stream_pgwire_tail",  # green r17
    "stream_pgwire_cdc",  # green r16
    "kafka_wire_roundtrip",  # green r17
    "kafka_wire_routed_roundtrip",  # green r17
    "stream_cdc_kafka_maintained",  # green r15
    "paginate_window",  # green r13
    "project_subset",  # green r13
    "remap_columns",  # green r13
    "seq_pattern_funnel",  # green r13
    "seq_pattern_funnel_sessioned",  # green r13
    "text_collapse_runs",  # green r13
    "tpch_q3_topk",  # green r13
    "ts_gapfill",  # green r13
    "win_ntile",  # green r13
    "win_time_weighted_avg",  # green r13
    "decontam_ngram",  # green r14
    "dedup_exact_hashkey",  # green r14
    "emb_centroid_per_label",  # green r14
    "emb_quantize_int8",  # green r14
    "emb_random_projection",  # green r14
    "funnel_steps",  # green r14
    "json_extract",  # green r14
]


def _ordered_names() -> list[str]:
    """Driver-window keys first (stable order), then the rest in
    registration order."""
    window = [n for n in _DRIVER_WINDOW if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(window)]
    return window + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all_operator_modules()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _load_all_operator_modules()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


def driver_canon_unsafe_columns(schema) -> list[str]:
    """Columns the external driver's canonicalizer cannot digest.

    The driver hashes an oracle-backed result by collecting it to pandas
    and sorting the frame; array/map/struct cells arrive as ndarray /
    dict / Row objects that pandas' sort-factorize rejects ("unhashable
    type: 'numpy.ndarray'" — the CORRECTNESS_r14 red row on
    pgwire_scan_embeddings). Both local mirrors (tests/conftest.py's
    assert_oracle_match and tools/sweep.py) call this and FAIL loudly on
    such columns, so a key the driver would reject cannot pass locally
    (r14 verdict item 2). BinaryType is in the rejection set too: Spark
    collects it as bytearray, exactly as unhashable in a pandas
    sort-factorize as an ndarray cell (r15 ADVICE — latent until a
    binary-output oracle ships). Rows-only keys are exempt: the driver
    only counts their rows.
    """
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, BinaryType, MapType,
                                   StructType))
    ]


_LOADED = False


def _load_all_operator_modules() -> None:
    """Import every module that registers fixture queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Import order = driver sweep order: cheap oracle-backed modules
    # first, expensive approximate/crypto queries last, so a truncated
    # sweep (hard time budget) loses the least oracle evidence.
    import hyperswitch_data_backfill_spark.operators.relational  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.joins  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.aggregates  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.ordering  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.setops  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.windows  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.compaction  # noqa: F401
    import hyperswitch_data_backfill_spark.functions.datetime_parse  # noqa: F401
    import hyperswitch_data_backfill_spark.functions.json_fns  # noqa: F401
    import hyperswitch_data_backfill_spark.functions.money  # noqa: F401
    import hyperswitch_data_backfill_spark.functions.arrays  # noqa: F401
    import hyperswitch_data_backfill_spark.sinks.kafka  # noqa: F401
    import hyperswitch_data_backfill_spark.sinks.kafka_wire  # noqa: F401
    import hyperswitch_data_backfill_spark.sinks.kafka_wire_v2  # noqa: F401
    import hyperswitch_data_backfill_spark.sources.kafka_fetch  # noqa: F401
    import hyperswitch_data_backfill_spark.sources.pgwire  # noqa: F401
    import hyperswitch_data_backfill_spark.sources.pgwire_cdc  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.perceptual  # noqa: F401
    import hyperswitch_data_backfill_spark.plans.spec  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.text  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.corpus  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.analytics  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.graph  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.multimodal  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.dedup  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.similarity  # noqa: F401
    import hyperswitch_data_backfill_spark.functions.crypto  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.layout  # noqa: F401
    import hyperswitch_data_backfill_spark.operators.lakehouse  # noqa: F401
    _LOADED = True
