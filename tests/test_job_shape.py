"""The backfill job's shape: one record frame, one scan per source
table, one Spark action per job.

``compile_job`` returns ``{"*": records}`` — every topic in one frame,
each entity row exploded onto its entity topic and the consolidated
topic — so the CLI and the wire sinks run the whole job as ONE action.
These tests pin the topic semantics of that frame, count what a real
replica reads for it (``pg_stat_user_tables``), count the Spark jobs it
runs, and check that ``--dry-run``'s one-pass counts equal what a real
produce delivers.
"""

from __future__ import annotations

import time
import uuid
from collections import Counter
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent


def _entity(table: str, topic: str):
    from hyperswitch_data_backfill_spark.plans.spec import EntitySpec

    return EntitySpec(table=table, merchant_col="m", time_col="ts",
                      key_cols=("id",), topic=topic,
                      remap={"id": "entity_id", "m": "merchant_id"})


def _topic_counts(records) -> Counter:
    return Counter({r["topic"]: r["count"]
                    for r in records.groupBy("topic").count().collect()})


@pytest.fixture(scope="module")
def small_tables(spark):
    from datetime import datetime

    ts = datetime(2024, 1, 2, 3, 4, 5)
    return {
        t: spark.createDataFrame(
            [(i, i % 3, ts) for i in range(n)], "id bigint, m bigint, ts timestamp_ntz")
        for t, n in (("a", 5), ("b", 7))
    }


# ------------------------------------------------------------ topic semantics

def test_one_frame_with_entity_and_consolidated_topics(spark, small_tables):
    from hyperswitch_data_backfill_spark.plans.spec import BackfillSpec, compile_job

    job = BackfillSpec(entities=(_entity("a", "a-events"), _entity("b", "b-events")))
    out = compile_job(small_tables, job, consolidated_topic="all-events")
    assert list(out) == ["*"]
    assert out["*"].columns == ["key", "value", "topic"]
    assert _topic_counts(out["*"]) == {"a-events": 5, "b-events": 7, "all-events": 12}


def test_without_consolidated_topic_only_entity_topics(spark, small_tables):
    from hyperswitch_data_backfill_spark.plans.spec import BackfillSpec, compile_job

    job = BackfillSpec(entities=(_entity("a", "a-events"), _entity("b", "b-events")))
    records = compile_job(small_tables, job)["*"]
    assert _topic_counts(records) == {"a-events": 5, "b-events": 7}


def test_entity_topic_equal_to_consolidated_is_emitted_once(spark, small_tables):
    """An entity whose own topic IS the consolidated topic gets its rows
    once on that topic, not twice."""
    from hyperswitch_data_backfill_spark.plans.spec import BackfillSpec, compile_job

    job = BackfillSpec(entities=(_entity("a", "all-events"), _entity("b", "b-events")))
    records = compile_job(small_tables, job, consolidated_topic="all-events")["*"]
    assert _topic_counts(records) == {"all-events": 12, "b-events": 7}
    keys = [r["key"] for r in records.filter("topic = 'all-events'").collect()]
    assert len(keys) == 12


def test_two_entities_sharing_a_topic_both_kept(spark, small_tables):
    from hyperswitch_data_backfill_spark.plans.spec import BackfillSpec, compile_job

    job = BackfillSpec(entities=(_entity("a", "shared"), _entity("b", "shared")))
    assert _topic_counts(compile_job(small_tables, job)["*"]) == {"shared": 12}
    both = compile_job(small_tables, job, consolidated_topic="all-events")["*"]
    assert _topic_counts(both) == {"shared": 12, "all-events": 12}


# ------------------------------------------------- the job on a real replica

def _oracle_by_topic(duck) -> dict[str, Counter]:
    """Per-topic (key, value) multisets from the registered
    ``pipeline_backfill_job`` oracle: its two UNION ALL halves are the
    orders and lineitem entities, and the consolidated topic is both."""
    from hyperswitch_data_backfill_spark.plans.spec import DEMO_ENTITIES
    from hyperswitch_data_backfill_spark.registry import REGISTRY

    halves = REGISTRY["pipeline_backfill_job"].oracle.split("UNION ALL")
    out: dict[str, Counter] = {"consolidated-events": Counter()}
    for spec, sql in zip(DEMO_ENTITIES, halves, strict=True):
        rows = Counter((k, v) for k, v, _t in duck.sql(sql).fetchall())
        out[spec.topic] = rows
        out["consolidated-events"] += rows
    return out


def _broker_by_topic(broker, topics) -> dict[str, Counter]:
    return {t: Counter((k.decode(), v.decode()) for k, v in broker.records(t))
            for t in topics}


def _table_reads(conn) -> dict[str, int]:
    _c, rows = conn.query(
        "SELECT relname, seq_tup_read + coalesce(idx_tup_fetch, 0)"
        " FROM pg_stat_user_tables")
    return {r[0]: int(r[1]) for r in rows}


def _wait_other_backends_gone(conn, timeout: float = 20.0) -> None:
    """Backends flush their table statistics when they exit."""
    deadline = time.monotonic() + timeout
    while True:
        _c, rows = conn.query(
            "SELECT count(*) FROM pg_stat_activity WHERE backend_type ="
            " 'client backend' AND pid <> pg_backend_pid()")
        if int(rows[0][0]) == 0:
            return
        assert time.monotonic() < deadline, "replica sessions still open"
        time.sleep(0.05)


def test_job_scans_each_replica_table_once_in_one_spark_job(spark, duck):
    """PgServer replica → ``read_pgwire`` range slices → ``compile_job``
    → ``write_kafka_wire_v2`` → ``WireBroker``: every replica row the
    job selects is read exactly once, the write is one Spark job, and
    each topic holds exactly the oracle's records."""
    from hyperswitch_data_backfill_spark.catalog import load_table
    from hyperswitch_data_backfill_spark.plans.spec import (
        _JOB,
        DEMO_ENTITIES,
        compile_job,
    )
    from hyperswitch_data_backfill_spark.sinks.kafka_wire import WireBroker
    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        write_kafka_wire_v2,
    )
    from hyperswitch_data_backfill_spark.sources.pgwire import (
        PgServer,
        PgServerUnavailable,
        read_pgwire,
        write_pgwire,
    )
    from hyperswitch_data_backfill_spark.telemetry import job_group

    ddl = {
        "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus text,"
                  " o_orderdate timestamp",
        "lineitem": "l_orderkey bigint, l_suppkey bigint, l_linenumber int,"
                    " l_linestatus text, l_shipdate timestamp",
    }
    held = {}
    try:
        pg = PgServer().__enter__()
    except PgServerUnavailable as exc:
        pytest.skip(f"no usable PostgreSQL server binaries: {exc}")
    try:
        with pg.connect() as conn:
            for spec in DEMO_ENTITIES:
                conn.execute(f"CREATE TABLE {spec.table} ({ddl[spec.table]})")
                src = load_table(spark, SF_DIR, spec.table).select(
                    *[c.split()[0] for c in ddl[spec.table].split(",")])
                held[spec.table] = src.count()
                write_pgwire(src.repartition(2), pg.host, pg.port, spec.table,
                             user=pg.user, database=pg.database)
                conn.execute(f"CREATE INDEX ON {spec.table}"
                             f" ({spec.merchant_col}, {spec.time_col})")
            conn.execute("ANALYZE")
            # each range slice must read only its own rows: on tables
            # this small the planner would otherwise seq-scan the whole
            # heap once per slice, and no job shape could read it once
            conn.execute(f"ALTER DATABASE {pg.database} SET enable_seqscan = off")
        tables = {
            spec.table: read_pgwire(
                spark, pg.host, pg.port, spec.table, user=pg.user,
                database=pg.database, partition_column=spec.merchant_col,
                num_partitions=2)
            for spec in DEMO_ENTITIES
        }
        group = f"backfill:* {uuid.uuid4().hex[:8]}"
        with pg.connect() as monitor:
            _wait_other_backends_gone(monitor)  # the bounds probes' reads
            before = _table_reads(monitor)
            records = compile_job(tables, _JOB,
                                  consolidated_topic="consolidated-events")["*"]
            with WireBroker() as broker, job_group(spark, group, "produce every topic"):
                write_kafka_wire_v2(records, "127.0.0.1", broker.port)
                got = _broker_by_topic(broker, broker.topics())
            _wait_other_backends_gone(monitor)
            after = _table_reads(monitor)
    finally:
        pg.__exit__(None, None, None)

    # the window is pushed into each slice's query, so the index scans
    # read exactly the rows the job selects: once, not once per topic
    expected = _oracle_by_topic(duck)
    selected = {s.table: sum(expected[s.topic].values()) for s in DEMO_ENTITIES}
    reads = {t: after[t] - before[t] for t in held}
    assert reads == selected, (
        f"replica tuples read {reads}, rows selected {selected} of {held}")
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert {t: sum(c.values()) for t, c in got.items()} == {
        t: sum(c.values()) for t, c in expected.items()}
    assert got == expected


# ------------------------------------------------------------------ dry run

def test_cli_dry_run_counts_equal_produced_counts_in_one_job(spark, capsys):
    """``--dry-run`` over ``--parquet-dir`` prints, from one Spark job,
    the per-topic counts that producing the same compiled frame to a
    broker delivers."""
    import hyperswitch_data_backfill_spark.__main__ as cli
    from hyperswitch_data_backfill_spark.catalog import load_table
    from hyperswitch_data_backfill_spark.plans.spec import (
        DEMO_ENTITIES,
        BackfillSpec,
        compile_job,
    )
    from hyperswitch_data_backfill_spark.sinks.kafka_wire import WireBroker
    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        write_kafka_wire_v2,
    )

    consolidated = "hyperswitch-consolidated-events"  # ci-dry-run.toml
    start, end = "1996-01-01 00:00:00", "1997-12-31 23:59:59"
    st = spark.sparkContext.statusTracker()
    jobs_before = set(st.getJobIdsForGroup("backfill:*"))
    rc = cli.main([
        "-f", str(REPO / "examples" / "e2e" / "ci-dry-run.toml"),
        "-s", start, "-e", end, "--parquet-dir", SF_DIR, "--dry-run",
    ], spark=spark)
    assert rc == 0
    assert len(set(st.getJobIdsForGroup("backfill:*")) - jobs_before) == 1
    lines = capsys.readouterr().out.strip().splitlines()
    dry = {ln.split("\t")[0]: int(ln.split("\t")[1]) for ln in lines}
    topics = [s.topic for s in DEMO_ENTITIES] + [consolidated]
    assert list(dry) == topics

    tables = {s.table: load_table(spark, SF_DIR, s.table) for s in DEMO_ENTITIES}
    job = BackfillSpec(entities=DEMO_ENTITIES, start=start, end=end)
    records = compile_job(tables, job, consolidated_topic=consolidated)["*"]
    with WireBroker() as broker:
        write_kafka_wire_v2(records, "127.0.0.1", broker.port)
        produced = {t: len(broker.records(t)) for t in topics}
    assert dry == produced
    assert dry[consolidated] == dry["orders-events"] + dry["lineitem-events"] > 0


def test_dry_run_sample_is_a_record_of_its_topic(spark):
    from hyperswitch_data_backfill_spark.__main__ import observe_topics

    records = spark.createDataFrame(
        [("k1", "v2", "t"), ("k2", "v1", "t"), ("k3", "v9", "u")],
        "key string, value string, topic string")
    got = observe_topics(records, ["t", "u", "empty"])
    assert got == {"t": (2, "v1"), "u": (1, "v9"), "empty": (0, None)}
