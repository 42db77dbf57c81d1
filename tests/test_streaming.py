"""Structured Streaming twin: file-source bounded replay of the events
table through the watermarked tumbling window must equal the batch
``win_tumbling``-style aggregation on the same data."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hyperswitch_data_backfill_spark.catalog import load_table
from hyperswitch_data_backfill_spark.streaming.pipeline import (
    read_parquet_stream,
    sessionize_stream,
    stream_to_kafka_records,
    tumbling_event_counts,
    write_memory_sink,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_stream_dir(spark):
    """Materialize the (nanos-fixed) events table as a streamable dir."""
    d = tempfile.mkdtemp(prefix="evstream-")
    load_table(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_tumbling_equals_batch(spark, event_stream_dir):
    batch_events = spark.read.parquet(event_stream_dir)
    expected = {
        (r["bucket_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in (
            batch_events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            )
            .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "total_value")
            .collect()
        )
    }

    stream = read_parquet_stream(spark, event_stream_dir, batch_events.schema, max_files_per_trigger=2)
    assert stream.isStreaming
    agg = tumbling_event_counts(stream)
    q = write_memory_sink(agg, "tumbling_test", complete=True)
    q.awaitTermination(120)
    got = {
        (r["bucket_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert got == expected


def test_stream_event_projection_shape(spark, event_stream_dir):
    batch_events = spark.read.parquet(event_stream_dir)
    stream = read_parquet_stream(spark, event_stream_dir, batch_events.schema)
    records = stream_to_kafka_records(stream, ["user_id", "event_id"], "events-topic")
    assert records.isStreaming
    assert records.columns == ["key", "value", "topic"]
    q = write_memory_sink(records, "stream_records", complete=False)
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) AS n FROM stream_records").first()["n"]
    assert n == batch_events.count()


@pytest.fixture(scope="module")
def sliced_event_dir(spark):
    """Events split into 3 time-ordered files → 3 in-order micro-batches."""
    import os
    import time

    d = tempfile.mkdtemp(prefix="evslices-")
    ev = load_table(spark, SF_DIR, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    for i in range(3):
        s, e = lo + i * span, hi if i == 2 else lo + (i + 1) * span
        cond = (F.col("ts") >= s) & ((F.col("ts") <= e) if i == 2 else (F.col("ts") < e))
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(f"{d}/slice{i}")
        # file source orders batches by mod time — make it monotone
        for root, _, files in os.walk(f"{d}/slice{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (time.time() + i, time.time() + i))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stateful_sessionize_equals_batch(spark, sliced_event_dir):
    """Closed sessions from the stateful stream == batch win_session minus
    each user's final (still-open-at-stream-end) session."""
    from hyperswitch_data_backfill_spark.operators.windows import win_session

    from pyspark.sql.window import Window

    batch = win_session(spark, SF_DIR)
    w_last = F.max("session_id").over(Window.partitionBy("user_id"))
    expected = {
        tuple(r) for r in batch.withColumn("_last", w_last).filter(F.col("session_id") != F.col("_last"))
        .drop("_last").collect()
    }

    schema = load_table(spark, SF_DIR, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sliced_event_dir}/slice*")
    )
    sessions = sessionize_stream(stream)
    q = write_memory_sink(sessions, "sessions_test", complete=False)
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.sql("SELECT * FROM sessions_test").collect()}
    assert got == expected


def test_stateful_sessionize_event_time_timeout_flush(spark, sliced_event_dir):
    """With event-time timeout, quiet users' open sessions flush once the
    watermark passes; every flushed session matches a batch session."""
    from hyperswitch_data_backfill_spark.operators.windows import win_session

    schema = load_table(spark, SF_DIR, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sliced_event_dir}/slice*")
    )
    sessions = sessionize_stream(stream, timeout="event_time", watermark="0 seconds")
    q = write_memory_sink(sessions, "sessions_flush_test", complete=False)
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.sql("SELECT * FROM sessions_flush_test").collect()}
    batch_all = {tuple(r) for r in win_session(spark, SF_DIR).collect()}
    # timeout flushes strictly more sessions than gap-closing alone: with a
    # 0s watermark every session whose gap elapsed before stream end flushes,
    # and each flushed session must be a genuine batch session.
    n_users = spark.sql(
        "SELECT count(DISTINCT user_id) AS n FROM sessions_flush_test"
    ).first()["n"]
    assert got <= batch_all
    assert n_users > 0 and len(got) > n_users  # more than one session/user → flush fired


def test_stream_dedup_within_watermark(spark, sliced_event_dir):
    """Replaying the events with every row duplicated must yield each
    event exactly once (duplicates arrive inside the watermark)."""
    from hyperswitch_data_backfill_spark.streaming.pipeline import dedup_stream

    d = tempfile.mkdtemp(prefix="evdup-")
    ev = load_table(spark, SF_DIR, "events")
    ev.unionByName(ev).coalesce(1).write.mode("overwrite").parquet(f"{d}/all")
    try:
        schema = ev.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/all")
        )
        deduped = dedup_stream(stream)
        q = write_memory_sink(deduped, "dedup_stream_test", complete=False)
        q.awaitTermination(180)
        n = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_stream_test").first()
        assert n["n"] == ev.count()
        assert n["d"] == n["n"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join_equals_batch(spark, sliced_event_dir):
    """Purchases joined to same-user clicks in the prior hour: the
    streaming interval join must produce exactly the batch join's rows
    (single-batch replay → watermark eviction cannot drop matches)."""
    from hyperswitch_data_backfill_spark.streaming.pipeline import interval_join_streams

    ev = load_table(spark, SF_DIR, "events")
    d = tempfile.mkdtemp(prefix="evjoin-")
    try:
        ev.filter(F.col("event_type") == "purchase").coalesce(1).write.parquet(f"{d}/l")
        ev.filter(F.col("event_type") == "click").coalesce(1).write.parquet(f"{d}/r")
        purchases = spark.read.parquet(f"{d}/l")
        clicks = spark.read.parquet(f"{d}/r")

        expected = sorted(
            (r["l_event_id"], r["r_event_id"])
            for r in interval_join_streams(purchases, clicks, key="user_id").collect()
        )
        assert expected, "fixture produced no purchase←click pairs"

        joined = interval_join_streams(
            spark.readStream.schema(purchases.schema).parquet(f"{d}/l"),
            spark.readStream.schema(clicks.schema).parquet(f"{d}/r"),
            key="user_id",
        )
        assert joined.isStreaming
        q = write_memory_sink(joined, "ssjoin_test", complete=False)
        q.awaitTermination(180)
        got = sorted(
            (r["l_event_id"], r["r_event_id"])
            for r in spark.sql("SELECT * FROM ssjoin_test").collect()
        )
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compile_entity_on_stream_equals_batch(spark):
    """The SAME EntitySpec compiles onto a streaming source unchanged —
    window filter, stream-static broadcast join, remap, and the Kafka
    event projection are all stream-compatible — and a bounded replay
    yields exactly the batch pipeline's records."""
    from hyperswitch_data_backfill_spark.plans.spec import (
        BackfillSpec, EntitySpec, compile_entity,
    )

    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", F.col("c_name").alias("merchant_name")
    )
    spec = EntitySpec(
        table="orders", merchant_col="o_custkey", time_col="o_orderdate",
        key_cols=("o_custkey", "o_orderkey"), topic="orders-events",
        remap={"o_orderkey": "payment_id", "merchant_name": "merchant_name"},
    )
    job = BackfillSpec(
        entities=(spec,), start="1995-01-01 00:00:00", end="1996-12-31 23:59:59",
        tenant_id="tenantS",
    )
    expected = sorted(
        (r["key"], r["value"], r["topic"])
        for r in compile_entity(orders, spec, job, key_dim=cust, key_dim_col="c_custkey").collect()
    )
    assert expected

    d = tempfile.mkdtemp(prefix="ordstream-")
    try:
        orders.repartition(3).write.mode("overwrite").parquet(d)
        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        out = compile_entity(stream, spec, job, key_dim=cust, key_dim_col="c_custkey")
        assert out.isStreaming
        q = write_memory_sink(out, "entity_stream_test", complete=False)
        q.awaitTermination(180)
        got = sorted(
            (r["key"], r["value"], r["topic"])
            for r in spark.sql("SELECT * FROM entity_stream_test").collect()
        )
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_left_outer_join_flushes_unmatched(spark):
    """Left-outer interval join: a matched left emits its pair; an
    unmatched left emits null right columns once the watermark (driven
    by later batches) proves no future match is possible."""
    import time as _time

    from pyspark.sql.types import (
        LongType, StructField, StructType, TimestampType,
    )

    from hyperswitch_data_backfill_spark.streaming.pipeline import interval_join_streams

    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
    ])

    def rows(*triples):
        import datetime as dt

        return [
            (u, e, dt.datetime(2024, 1, 1, h, m)) for (u, e, h, m) in triples
        ]

    d = tempfile.mkdtemp(prefix="ssouter-")
    try:
        # batch 1: the data under test; batches 2-3: watermark advancers
        # (batch 3 exists so eviction runs while data still flows —
        # bounded replay does not guarantee a final no-data flush batch).
        for i, (lrows, rrows) in enumerate([
            (rows((1, 10, 10, 0), (2, 20, 10, 0)), rows((1, 110, 9, 30))),
            (rows((98, 98, 20, 0)), rows((98, 198, 20, 0))),
            (rows((99, 99, 21, 0)), rows((99, 199, 21, 0))),
        ]):
            spark.createDataFrame(lrows, schema).coalesce(1).write.parquet(f"{d}/l/b{i}")
            spark.createDataFrame(rrows, schema).coalesce(1).write.parquet(f"{d}/r/b{i}")
            _time.sleep(1.1)  # distinct mtimes → deterministic batch order
        joined = interval_join_streams(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(f"{d}/l/*"),
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(f"{d}/r/*"),
            key="user_id", how="leftOuter",
        )
        q = write_memory_sink(joined, "ssouter_test", complete=False)
        q.awaitTermination(180)
        got = {
            r["l_event_id"]: r["r_event_id"]
            for r in spark.sql(
                "SELECT * FROM ssouter_test WHERE l_key IN (1, 2)"
            ).collect()
        }
        assert got == {10: 110, 20: None}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_foreach_batch_bridge_delivers_all_rows_once(spark):
    """foreachBatch: a batch-only writer (dict keyed by batch_id —
    idempotent per the contract) must receive every source row exactly
    once across micro-batches in a bounded replay."""
    from hyperswitch_data_backfill_spark.streaming.pipeline import run_foreach_batch

    orders = load_table(spark, SF_DIR, "orders")
    d = tempfile.mkdtemp(prefix="febatch-")
    try:
        orders.repartition(4).write.mode("overwrite").parquet(d)
        received: dict[int, list] = {}

        def writer(batch_df, batch_id):
            # idempotent: a retry of batch_id overwrites, never appends
            received[batch_id] = batch_df.select("o_orderkey").collect()

        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = run_foreach_batch(stream, writer)
        q.awaitTermination(180)
        assert len(received) >= 2, "expected multiple micro-batches"
        got = sorted(r["o_orderkey"] for rows in received.values() for r in rows)
        assert got == sorted(r["o_orderkey"] for r in orders.collect())
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sessionize_timeout_preserves_session_numbering(spark):
    """A user who goes quiet (session flushed by event-time timeout) and then
    returns must continue session numbering (sid 2), not restart at 1 —
    the tombstone-state path in sessionize_stream."""
    import os
    import time

    d = tempfile.mkdtemp(prefix="sidcont-")
    try:
        t0 = "2024-01-01 00:00:00"
        rows = {
            # slice0: user 1 opens a session; user 2 seeds the watermark
            0: [(1, 1, t0, 10.0), (2, 1, "2024-01-01 00:01:00", 10.0),
                (3, 2, t0, 1.0)],
            # slice1: user 2 advances event time 10h -> watermark passes
            # user 1's last event + 4h gap at the END of this batch
            1: [(4, 2, "2024-01-01 10:00:00", 1.0)],
            # slice2: no user-1 data -> user 1's state fires hasTimedOut,
            # flushing session 1 and leaving the sid=2 tombstone
            2: [(5, 2, "2024-01-01 10:00:01", 1.0)],
            # slice3: user 1 returns 20h in -> must get session_id 2
            3: [(6, 1, "2024-01-01 20:00:00", 5.0),
                (7, 1, "2024-01-01 20:01:00", 5.0)],
            # slice4+5: advance the watermark again to flush user 1's
            # second session via timeout too
            4: [(8, 2, "2024-01-02 16:00:00", 1.0)],
            5: [(9, 2, "2024-01-02 16:00:02", 1.0)],
        }
        schema = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP_NTZ, value DOUBLE"
        for i, batch in rows.items():
            df = spark.createDataFrame(
                [(e, u, __import__("datetime").datetime.fromisoformat(ts), v)
                 for e, u, ts, v in batch], schema)
            df.coalesce(1).write.mode("overwrite").parquet(f"{d}/slice{i}")
            for root, _, files in os.walk(f"{d}/slice{i}"):
                for f in files:
                    os.utime(os.path.join(root, f), (time.time() + i, time.time() + i))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/slice*")
        )
        sessions = sessionize_stream(stream, timeout="event_time", watermark="0 seconds")
        q = write_memory_sink(sessions, "sid_continuity_test", complete=False)
        q.awaitTermination(180)
        got = sorted(
            (r["session_id"], r["n_events"])
            for r in spark.sql(
                "SELECT * FROM sid_continuity_test WHERE user_id = 1"
            ).collect()
        )
        assert got == [(1, 2), (2, 2)], f"expected sessions 1 and 2, got {got}"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compile_job_on_streams_equals_batch(spark):
    """The WHOLE job (two entities unioned, each row exploded onto its
    entity and the consolidated topic) compiles onto streaming sources
    unchanged — the continuous-backfill variant of
    main.rs:190-313 — and a bounded replay of the consolidated feed equals
    the batch compile_job's consolidated frame."""
    from hyperswitch_data_backfill_spark.plans.spec import _JOB, compile_job

    batch_tables = {
        "orders": load_table(spark, SF_DIR, "orders"),
        "lineitem": load_table(spark, SF_DIR, "lineitem"),
    }
    expected = sorted(
        (r["key"], r["value"], r["topic"])
        for r in compile_job(batch_tables, _JOB, consolidated_topic="consolidated-events")["*"]
        .filter("topic = 'consolidated-events'")
        .collect()
    )
    assert expected

    dirs = {}
    try:
        for t, df in batch_tables.items():
            d = tempfile.mkdtemp(prefix=f"jobstream-{t}-")
            dirs[t] = d
            df.repartition(3).write.mode("overwrite").parquet(d)
        stream_tables = {
            t: spark.readStream.schema(batch_tables[t].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            for t, d in dirs.items()
        }
        frames = compile_job(stream_tables, _JOB, consolidated_topic="consolidated-events")
        out = frames["*"].filter("topic = 'consolidated-events'")
        assert out.isStreaming
        q = write_memory_sink(out, "job_stream_test", complete=False)
        q.awaitTermination(240)
        got = sorted(
            (r["key"], r["value"], r["topic"])
            for r in spark.sql("SELECT * FROM job_stream_test").collect()
        )
        assert got == expected
    finally:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)


def test_stream_static_enrichment_equals_batch(spark, event_stream_dir):
    """enrich_stream_with_dim: replaying the event stream joined to a
    static user dimension must equal the batch broadcast join, and
    unmatched facts must survive a left enrichment."""
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        enrich_stream_with_dim,
        read_parquet_stream,
        write_memory_sink,
    )

    ev_batch = load_table(spark, SF_DIR, "events")
    # static dim: one attribute per user, deliberately missing some keys
    dim = (
        ev_batch.select("user_id").distinct()
        .filter(F.col("user_id") % 3 != 0)
        .withColumn("tier", (F.col("user_id") % 5).cast("int"))
    )
    stream = read_parquet_stream(
        spark, event_stream_dir, ev_batch.schema, max_files_per_trigger=2
    )
    enriched = enrich_stream_with_dim(
        stream.select("event_id", "user_id"), dim, "user_id", how="left"
    )
    q = write_memory_sink(enriched, "enriched_mem", complete=False)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.event_id, r.user_id, r.tier)
        for r in spark.table("enriched_mem").collect()
    }
    want = {
        (r.event_id, r.user_id, r.tier)
        for r in ev_batch.select("event_id", "user_id")
        .join(F.broadcast(dim), "user_id", "left")
        .collect()
    }
    assert got == want
    assert any(t is None for (_, _, t) in got), "expected unmatched facts kept"


def test_write_kafka_stream_foreachbatch_produces_exact_triples(spark, tmp_path):
    """S4 sink action end-to-end: the streaming produce path executes via
    foreachBatch (no broker in this container) and must emit exactly the
    key/value/topic triples of the oracle-checked batch projection."""
    from hyperswitch_data_backfill_spark.sinks.kafka import (
        KafkaSinkConfig,
        kafka_payload_shape,
        write_kafka_stream,
    )

    # materialize orders as a multi-file stream source
    src = str(tmp_path / "orders_stream")
    load_table(spark, SF_DIR, "orders").repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_parquet_stream(spark, src, schema, max_files_per_trigger=2)

    # identical projection as the batch fixture query, on the stream
    from pyspark.sql import functions as F

    from hyperswitch_data_backfill_spark.sinks.kafka import event_frame

    payload = [
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("amount_minor"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("created_at"),
    ]
    records = event_frame(
        stream, ["o_custkey", "o_orderkey"], "orders-events", "default", payload
    )

    produced: list[tuple] = []
    batch_ids: list[int] = []

    def sink(batch_df, batch_id):
        batch_ids.append(batch_id)
        produced.extend(
            (r["key"], r["value"], r["topic"]) for r in batch_df.collect()
        )

    cfg = KafkaSinkConfig(bootstrap_servers="unused:9092")
    q = write_kafka_stream(records, cfg, str(tmp_path / "ckpt"), batch_sink=sink)
    q.awaitTermination(120)

    expected = {
        (r["key"], r["value"], r["topic"])
        for r in kafka_payload_shape(spark, SF_DIR).collect()
    }
    assert len(produced) == len(expected), "row count through the sink action"
    assert set(produced) == expected, "exact key/value/topic triples"
    assert batch_ids, "foreachBatch writer was never invoked"


@pytest.mark.parametrize("n_slices", [2, 7])
def test_stateful_sessionize_parity_property_sf001(spark, n_slices, tmp_path):
    """Batch≡stream sessionizer contract at 10x fixture scale (sf0.01)
    and varying replay granularity: however the event history is sliced
    into in-order micro-batches, the stateful sessionizer's closed
    sessions must equal the batch win_session result minus each user's
    final (still-open) session. Slice boundaries land at arbitrary
    points inside sessions, so state must correctly carry sessions
    across micro-batch boundaries."""
    import os
    import time

    from pyspark.sql.window import Window

    from hyperswitch_data_backfill_spark.operators.windows import win_session

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / n_slices
    d = str(tmp_path / f"slices{n_slices}")
    for i in range(n_slices):
        s = lo + i * span
        e = hi if i == n_slices - 1 else lo + (i + 1) * span
        cond = (F.col("ts") >= s) & (
            (F.col("ts") <= e) if i == n_slices - 1 else (F.col("ts") < e)
        )
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(f"{d}/slice{i}")
        for root, _, files in os.walk(f"{d}/slice{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (time.time() + i, time.time() + i))

    batch = win_session(spark, sf)
    w_last = F.max("session_id").over(Window.partitionBy("user_id"))
    expected = {
        tuple(r)
        for r in batch.withColumn("_last", w_last)
        .filter(F.col("session_id") != F.col("_last"))
        .drop("_last")
        .collect()
    }
    assert expected, "sf0.01 must yield closed sessions — vacuous otherwise"

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{d}/slice*")
    )
    sessions = sessionize_stream(stream)
    q = write_memory_sink(sessions, f"sessions_prop_{n_slices}", complete=False)
    q.awaitTermination(300)
    got = {
        tuple(r)
        for r in spark.sql(f"SELECT * FROM sessions_prop_{n_slices}").collect()
    }
    assert got == expected


def test_idempotent_batch_writer_replay_is_duplicate_free(spark, tmp_path):
    """Re-invoking the writer with the same batch_id (Spark's retry
    shape) must leave exactly one copy of the batch's rows."""
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        idempotent_parquet_batch_writer,
    )

    out = str(tmp_path / "lake")
    write = idempotent_parquet_batch_writer(out)
    b0 = spark.range(10).withColumnRenamed("id", "v")
    b1 = spark.range(10, 15).withColumnRenamed("id", "v")
    write(b0, 0)
    write(b1, 1)
    write(b1, 1)  # retry replays the same batch
    got = spark.read.parquet(out)
    assert got.count() == 15
    assert got.select("v").distinct().count() == 15
    # partition column discovered and prunable
    assert got.filter("batch_id = 1").count() == 5


def test_idempotent_writer_end_to_end_stream(spark, tmp_path):
    """Drive it through a real writeStream.foreachBatch run."""
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        idempotent_parquet_batch_writer,
        read_parquet_stream,
    )

    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events").limit(200)
    ev.repartition(2).write.mode("overwrite").parquet(src)
    stream = read_parquet_stream(spark, src, ev.schema, max_files_per_trigger=1)
    out = str(tmp_path / "lake")
    q = (
        stream.writeStream.foreachBatch(idempotent_parquet_batch_writer(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.select("event_id").distinct().count() == 200


def test_kafka_wire_roundtrip_against_real_broker(spark, tmp_path):
    """The one reference behavior with no in-container executable
    coverage: the Kafka sink ACTION against a real broker
    (main.rs:146-153 -> payment_intent.rs:102-105). Opt-in integration
    test: set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port on a cluster that
    has the spark-sql-kafka connector; skips cleanly otherwise (this
    container ships neither broker nor connector jar — the plan-level
    seam is covered by the foreachBatch test above)."""
    import os
    import uuid

    import pytest

    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip("no broker: set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port")
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception:
        pytest.skip("spark-sql-kafka connector jar not on the classpath")

    from hyperswitch_data_backfill_spark.sinks.kafka import (
        KafkaSinkConfig,
        event_frame,
        write_kafka,
    )

    topic = f"it-backfill-{uuid.uuid4().hex[:12]}"
    src = spark.createDataFrame(
        [(1, "m1", 100), (2, "m1", 250), (3, "m2", 975)],
        "entity_id long, merchant_id string, amount long",
    )
    records = event_frame(src, ["merchant_id", "entity_id"], topic, "tenant-a")
    expected = {
        (r["key"], r["value"]) for r in records.collect()
    }
    write_kafka(records, KafkaSinkConfig(bootstrap_servers=bootstrap))

    back = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
        .select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
        )
    )
    got = {(r["key"], r["value"]) for r in back.collect()}
    assert got == expected, "broker round-trip must preserve exact key/value pairs"


def test_cdc_snapshot_maintainer_stream_equals_batch(spark, tmp_path):
    """Batch≡stream CDC parity: stream the orders changelog in
    micro-batches through cdc_snapshot_maintainer, materialize the
    final snapshot with apply_latest_changes, and it must equal the
    batch cdc_apply_changes operator exactly — for two different batch
    slicings, plus a replayed (at-least-once) batch. The maintained
    state is a max-merge, so slicing and replay cannot change it."""
    import os
    import time

    from hyperswitch_data_backfill_spark.operators.lakehouse import (
        apply_latest_changes,
        orders_changelog,
    )
    from hyperswitch_data_backfill_spark.registry import REGISTRY, queries
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        cdc_snapshot_maintainer,
        run_foreach_batch,
    )

    queries()
    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    changes = orders_changelog(orders)
    expected = {
        tuple(r) for r in REGISTRY["cdc_apply_changes"].fn(spark, sf).collect()
    }
    assert expected

    for n_slices in (3, 7):
        d = str(tmp_path / f"cdc{n_slices}")
        for i in range(n_slices):
            changes.filter(F.col("k") % n_slices == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{d}/slice{i}")
            for root, _, files in os.walk(f"{d}/slice{i}"):
                for f in files:
                    os.utime(
                        os.path.join(root, f), (time.time() + i, time.time() + i)
                    )
        state_dir = str(tmp_path / f"state{n_slices}")
        maintainer = cdc_snapshot_maintainer(state_dir)
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/slice*")
        )
        q = run_foreach_batch(stream, maintainer)
        q.awaitTermination(300)
        state = maintainer.current_state(spark)
        base = load_table(spark, sf, "customer")
        got = {tuple(r) for r in apply_latest_changes(base, state).collect()}
        assert got == expected, f"slicing {n_slices} diverged from batch"

    # at-least-once replay: re-invoke the LAST batch writer call with a
    # fresh read of its own slice — the state must not change
    replay_batch = spark.read.parquet(f"{d}/slice{n_slices - 1}")
    before = {tuple(r) for r in maintainer.current_state(spark).collect()}
    maintainer(replay_batch, batch_id=999)
    after = {tuple(r) for r in maintainer.current_state(spark).collect()}
    assert after == before


def test_cdc_snapshot_maintainer_ignores_partial_versions(spark, tmp_path):
    """Crash-safety of the version reader: a v= directory WITHOUT a
    _SUCCESS marker (a write that died mid-flight) must stay invisible —
    current_state keeps serving the last committed version until the
    batch retry overwrites the partial one."""
    import os

    from hyperswitch_data_backfill_spark.operators.lakehouse import (
        orders_changelog,
    )
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        cdc_snapshot_maintainer,
    )

    sf = "/root/testdata/sf0.001"
    changes = orders_changelog(load_table(spark, sf, "orders"))
    state_dir = str(tmp_path / "state")
    maintainer = cdc_snapshot_maintainer(state_dir)
    maintainer(changes, batch_id=0)
    committed = {tuple(r) for r in maintainer.current_state(spark).collect()}
    assert committed

    # simulate a crash mid-write of the next version: files, no _SUCCESS
    partial = f"{state_dir}/v=000000001"
    os.makedirs(partial)
    with open(f"{partial}/part-00000.parquet", "wb") as f:
        f.write(b"\x00garbage not parquet")
    assert {tuple(r) for r in maintainer.current_state(spark).collect()} == committed

    # the retried batch overwrites the partial dir and becomes visible
    maintainer(changes.limit(0), batch_id=1)
    assert {tuple(r) for r in maintainer.current_state(spark).collect()} == committed


def test_attribute_stream_equals_batch(spark, sliced_event_dir):
    """Batch≡stream attribution parity: the stateful one-row-per-user
    carry-forward must reproduce the batch attr_last_touch result
    exactly when the history is replayed as in-order micro-batches
    (slice boundaries land between a touch and its purchase, so state
    must carry touches across batches)."""
    from hyperswitch_data_backfill_spark.operators.analytics import (
        last_touch_attribution,
    )
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        attribute_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    expected = {tuple(r) for r in last_touch_attribution(ev).collect()}
    assert expected and any(r[3] != "direct" for r in expected)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sliced_event_dir}/slice*")
    )
    attributed = attribute_stream(stream)
    q = write_memory_sink(attributed, "attr_stream", complete=False)
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.sql("SELECT * FROM attr_stream").collect()}
    assert got == expected


def test_time_weighted_stream_equals_batch(spark, sliced_event_dir):
    """Batch≡stream TWA parity: replay the event log as in-order
    micro-batches through the five-integer-state TWA; each user's LAST
    emission (the largest completed-hold count) must equal the batch
    win_time_weighted_avg row exactly — integer cents×micros arithmetic
    makes the comparison bit-exact, and slice boundaries landing inside
    holds prove the carried last-observation state."""
    from hyperswitch_data_backfill_spark.operators.analytics import (
        time_weighted_avg,
    )
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        time_weighted_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    expected = {tuple(r) for r in time_weighted_avg(ev).collect()}
    assert expected

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sliced_event_dir}/slice*")
    )
    q = write_memory_sink(time_weighted_stream(stream), "twa_stream", complete=False)
    q.awaitTermination(300)
    final = spark.sql(
        """
        SELECT user_id, n_events, held_us, twa_cents FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY n_events DESC
            ) AS rk FROM twa_stream
        ) WHERE rk = 1
        """
    )
    got = {tuple(r) for r in final.collect()}
    assert got == expected


def test_twa_stream_survives_restart_from_checkpoint(spark, tmp_path):
    """State-store recovery: run the stateful TWA stream over the first
    part of the history with a checkpointLocation, STOP it, then start a
    NEW query from the same checkpoint over later-arriving files. The
    second run must restore per-user state (not reprocess or reset), so
    the union of emissions ends at exactly the batch result — the
    restart-continuity property a production deployment relies on."""
    import os
    import time

    from hyperswitch_data_backfill_spark.operators.analytics import (
        time_weighted_avg,
    )
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        time_weighted_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    d = str(tmp_path / "slices")
    ckpt = str(tmp_path / "ckpt")

    def write_slice(i, cond):
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(f"{d}/slice{i}")
        for root, _, files in os.walk(f"{d}/slice{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (time.time() + i, time.time() + i))

    # phase 1: only the first half exists
    write_slice(0, F.col("ts") < mid)
    schema = ev.schema

    out = str(tmp_path / "out")

    def run_phase():
        # memory sink can't recover from a checkpoint; the parquet FILE
        # sink is the fault-tolerant one — emissions accumulate in `out`
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/slice*")
        )
        q = (
            time_weighted_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out).collect()

    first = run_phase()
    assert first, "phase 1 must emit rows"
    n_first = len(first)

    # phase 2: the rest of the history arrives; new query, same checkpoint
    write_slice(1, F.col("ts") >= mid)
    emissions = run_phase()
    assert len(emissions) > n_first, "phase 2 must emit rows (state continued)"

    expected = {tuple(r) for r in time_weighted_avg(ev).collect()}
    final: dict[int, tuple] = {}
    for r in emissions:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[1]:
            final[r["user_id"]] = tuple(r)
    assert set(final.values()) == expected


def test_funnel_stream_equals_batch_closed_sessions(spark, sliced_event_dir):
    """Batch≡stream funnel parity: the stateful session-funnel must
    reproduce seq_pattern_funnel_sessioned exactly for every CLOSED
    session (the open final session per user is withheld, same contract
    as the sessionizer parity tests)."""
    from pyspark.sql.window import Window as W

    from hyperswitch_data_backfill_spark.operators.analytics import (
        sessioned_funnel,
    )
    from hyperswitch_data_backfill_spark.streaming.pipeline import funnel_stream

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    batch = sessioned_funnel(ev)
    last = F.max("session_id").over(W.partitionBy("user_id"))
    expected = {
        tuple(r)
        for r in batch.withColumn("_last", last)
        .filter(F.col("session_id") != F.col("_last"))
        .drop("_last")
        .collect()
    }
    # sf0.001's closed sessions contain no full funnel hit; the hit flag
    # itself is oracle-verified at sf0.01 by seq_pattern_funnel_sessioned.
    # Here the exact seq strings carry the content comparison — require
    # multi-event sessions so the ordering inside a session is exercised.
    assert expected and any(r[2] >= 3 for r in expected)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sliced_event_dir}/slice*")
    )
    q = write_memory_sink(funnel_stream(stream), "funnel_stream", complete=False)
    q.awaitTermination(300)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, session_id, n_events, seq, hit FROM funnel_stream"
        ).collect()
    }
    assert got == expected


def test_funnel_stream_hits_parity_sf001(spark, tmp_path):
    """Same closed-session funnel parity at sf0.01, where complete
    view>click>purchase sessions exist — the `hit` flag's true-case is
    exercised through the stream."""
    import os
    import time

    from pyspark.sql.window import Window as W

    from hyperswitch_data_backfill_spark.operators.analytics import (
        sessioned_funnel,
    )
    from hyperswitch_data_backfill_spark.streaming.pipeline import funnel_stream

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    d = str(tmp_path / "slices")
    for i in range(3):
        s_, e_ = lo + i * span, (hi if i == 2 else lo + (i + 1) * span)
        cond = (F.col("ts") >= s_) & (
            (F.col("ts") <= e_) if i == 2 else (F.col("ts") < e_)
        )
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(f"{d}/slice{i}")
        for root, _, files in os.walk(f"{d}/slice{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (time.time() + i, time.time() + i))

    batch = sessioned_funnel(ev)
    last = F.max("session_id").over(W.partitionBy("user_id"))
    expected = {
        tuple(r)
        for r in batch.withColumn("_last", last)
        .filter(F.col("session_id") != F.col("_last"))
        .drop("_last")
        .collect()
    }
    assert any(r[4] for r in expected), "sf0.01 must contain closed funnel hits"

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{d}/slice*")
    )
    q = write_memory_sink(funnel_stream(stream), "funnel_hits", complete=False)
    q.awaitTermination(300)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, session_id, n_events, seq, hit FROM funnel_hits"
        ).collect()
    }
    assert got == expected


def test_stream_tumbling_replay_append_matches_finalized_windows(spark):
    """The registered live-StreamingQuery key (windows.py
    stream_tumbling_replay) emits in APPEND mode, so its output must be
    exactly the FINALIZED windows: batch tumbling rows whose window end
    <= watermark (max event time - 2h). Unfinalized tail windows must
    be withheld (state, not output) - this is the semantics the DuckDB
    oracle encodes, so the test also guards the oracle's WHERE clause."""
    from hyperswitch_data_backfill_spark.registry import REGISTRY, queries

    queries()  # force operator-module load so REGISTRY is populated
    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket_start"),
            "event_type", "n", "total_value",
        )
    )
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=2)
    finalized = {
        tuple(r)
        for r in batch.filter(
            F.col("bucket_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(cutoff)
        ).collect()
    }
    withheld = batch.count() - len(finalized)
    assert finalized and withheld > 0, "fixture must exercise both emitted and withheld windows"

    got = {tuple(r) for r in REGISTRY["stream_tumbling_replay"].fn(spark, sf).collect()}
    assert got == finalized


def test_crash_between_sink_write_and_checkpoint_commit_replays_exactly_once(
    spark, tmp_path
):
    """r6 verdict stretch 9 — the full kill-replay loop through Spark's
    checkpoint machinery (not a hand re-invocation of the writer): the
    query is killed AFTER the sink finished writing batch 1 but BEFORE
    Spark committed that batch to the checkpoint — the exact window
    where at-least-once delivery duplicates a non-idempotent sink. On
    restart from the same checkpoint Spark re-delivers the batch with
    the SAME batch_id; the idempotent writer overwrites its own
    batch_id partition; the lake ends with exactly one copy of every
    source row."""
    import pytest as _pytest

    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        idempotent_parquet_batch_writer,
        read_parquet_stream,
    )

    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events").limit(300)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    inner = idempotent_parquet_batch_writer(out)
    crash_flag = tmp_path / "crashed_once"
    seen_batches = []

    def crashing(batch_df, batch_id):
        inner(batch_df, batch_id)  # sink write COMPLETES...
        seen_batches.append(batch_id)
        if batch_id == 1 and not crash_flag.exists():
            crash_flag.write_text("x")
            # ...then the process dies before the checkpoint commit
            raise RuntimeError("injected crash between sink write and commit")

    def start():
        stream = read_parquet_stream(
            spark, src, ev.schema, max_files_per_trigger=1
        )
        return (
            stream.writeStream.foreachBatch(crashing)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with _pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)

    q2 = start()  # same checkpoint: resume, replay the uncommitted batch
    q2.awaitTermination(300)

    assert seen_batches.count(1) == 2, (
        f"batch 1 should run twice (crash + replay): {seen_batches}"
    )
    got = spark.read.parquet(out)
    assert got.count() == 300
    assert got.select("event_id").distinct().count() == 300
    # every batch directory holds exactly the rows of its final write
    assert got.select("batch_id").distinct().count() == len(set(seen_batches))


def test_stream_cdc_kafka_maintained_fixture_matches_oracle(spark, duck):
    """The CDC-over-the-wire composition at the pytest sf: changelog
    produced to the broker double, consumed back by a LIVE capped
    stream, state maintained via foreachBatch, snapshot hash-equal to
    the one-shot cdc_apply_changes oracle restricted to the carve."""
    from hyperswitch_data_backfill_spark.registry import (
        REGISTRY,
        _load_all_operator_modules,
    )
    from tests.conftest import SF_DIR, assert_oracle_match

    _load_all_operator_modules()
    q = REGISTRY["stream_cdc_kafka_maintained"]
    df = q.fn(spark, SF_DIR)
    assert df.count() > 0
    assert_oracle_match(df, duck, q.oracle, name="stream_cdc_kafka_maintained")
