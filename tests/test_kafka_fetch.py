"""Consume-leg proof: Fetch/ListOffsets codecs, broker-double serving,
the metadata-routed consumer, and the kafkawire Spark source (batch +
streaming) — the produce/consume loop closed on real sockets
(r12 verdict next-round item 1)."""

import socket
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
    UnsupportedApiVersionError,
    WireBroker,
    WireCluster,
    encode_message_v0,
    produce_rows,
    write_kafka_wire,
)
from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
    encode_record_batch_v2,
    parse_produce_request_v3,
    parse_record_batches_v2,
)
from hyperswitch_data_backfill_spark.sources import kafka_fetch as kf
from tests.conftest import SF_DIR, assert_oracle_match

pytestmark = pytest.mark.usefixtures()


def _rows(topic, n, prefix=""):
    return [{"key": f"{prefix}k{i}", "value": f"{prefix}v{i}", "topic": topic}
            for i in range(n)]


# ------------------------------------------------------------- codecs

def test_fetch_request_roundtrip_all_versions():
    parts = {"a": {0: (5, 1 << 16), 3: (0, 9)}, "b": {1: (7, 10)}}
    for version in range(5):
        frame = kf.encode_fetch_request(
            42, parts, version=version, max_wait_ms=11, min_bytes=3,
            max_bytes=123456, isolation_level=1,
        )
        req = kf.parse_fetch_request(frame[4:])
        assert req.correlation_id == 42
        assert req.api_version == version
        assert req.parts == parts
        assert req.max_wait_ms == 11 and req.min_bytes == 3
        assert req.max_bytes == (123456 if version >= 3 else -1)
        assert req.isolation_level == (1 if version >= 4 else 0)


def test_fetch_request_rejects_unknown_version():
    with pytest.raises(ValueError, match="unsupported Fetch version"):
        kf.encode_fetch_request(0, {}, version=5)
    frame = kf.encode_fetch_request(0, {"t": {0: (0, 100)}}, version=2)
    bad = bytearray(frame[4:])
    struct.pack_into(">h", bad, 2, 9)
    with pytest.raises(ValueError, match="not a Fetch"):
        kf.parse_fetch_request(bytes(bad))


def test_fetch_response_roundtrip_both_dialects():
    msgs = [(b"k1", b"v1"), (None, b"v2"), (b"k3", None)]
    for version in (0, 1, 4):
        records = kf.encode_log_slice(msgs, 0, 1 << 20, api_version=version)
        frame = kf.encode_fetch_response(
            7, {"t": {0: (0, 3, records)}}, version=version)
        out = kf.parse_fetch_response(frame[4:], version=version)["t"][0]
        assert out.error_code == 0 and out.high_watermark == 3
        assert out.records == [(0, b"k1", b"v1"), (1, None, b"v2"), (2, b"k3", None)]


def test_message_set_absolute_offsets_and_partial_tail():
    log = [(f"k{i}".encode(), f"v{i}".encode()) for i in range(14)]
    buf = kf.encode_log_slice(log, 10, 1 << 20, api_version=0)
    got = kf.parse_message_set_offsets(buf)
    assert [o for o, _k, _v in got] == [10, 11, 12, 13]
    assert [(k, v) for _o, k, v in got] == log[10:]
    # spec: a response may cut mid-entry at max_bytes — tail discarded
    assert kf.parse_message_set_offsets(buf[:-5]) == got[:-1]


def test_fetched_compressed_legacy_message_refused():
    msg = bytearray(encode_message_v0(b"k", b"v"))
    msg[5] |= 0x01  # attributes codec bits: gzip
    import zlib
    struct.pack_into(">I", msg, 0, zlib.crc32(bytes(msg[4:])) & 0xFFFFFFFF)
    buf = struct.pack(">qi", 0, len(msg)) + bytes(msg)
    with pytest.raises(ValueError, match="legacy message compression"):
        kf.parse_message_set_offsets(buf)


def test_record_batches_absolute_offsets_and_truncation_modes():
    b1 = encode_record_batch_v2([(b"a", b"1"), (b"b", b"2")], base_offset=5)
    b2 = encode_record_batch_v2([(b"c", b"3")], base_offset=7)
    got = parse_record_batches_v2(b1 + b2)
    assert got == [(5, b"a", b"1"), (6, b"b", b"2"), (7, b"c", b"3")]
    # consumer mode: partial trailing batch discarded
    assert parse_record_batches_v2(
        b1 + b2[:-3], tolerate_truncation=True) == got[:2]
    # produce mode: partial trailing batch is corrupt
    with pytest.raises(ValueError, match="truncated record batch"):
        parse_record_batches_v2(b1 + b2[:-3])


def test_produce_v3_accepts_multiple_batches_per_partition():
    """r12 ADVICE item 1: real v3 clients may concatenate several
    record batches in one partition's records field."""
    import io
    from hyperswitch_data_backfill_spark.sinks.kafka_wire import _kstring

    batches = (
        encode_record_batch_v2([(b"k1", b"v1"), (b"k2", b"v2")])
        + encode_record_batch_v2([(b"k3", b"v3")])
    )
    body = io.BytesIO()
    body.write(struct.pack(">hhi", 0, 3, 99))
    body.write(_kstring("double-batcher"))
    body.write(_kstring(None))
    body.write(struct.pack(">hi", 1, 10_000))
    body.write(struct.pack(">i", 1))
    body.write(_kstring("t"))
    body.write(struct.pack(">i", 1))
    body.write(struct.pack(">ii", 0, len(batches)))
    body.write(batches)
    req = parse_produce_request_v3(body.getvalue())
    assert req.records["t"][0] == [(b"k1", b"v1"), (b"k2", b"v2"), (b"k3", b"v3")]


def test_list_offsets_codec_roundtrip():
    frame = kf.encode_list_offsets_request_v0(3, {"t": {0: (-1, 1), 2: (-2, 5)}})
    corr, parts = kf.parse_list_offsets_request_v0(frame[4:])
    assert corr == 3 and parts == {"t": {0: (-1, 1), 2: (-2, 5)}}
    resp = kf.encode_list_offsets_response_v0(3, {"t": {0: (0, [17]), 2: (0, [0])}})
    out = kf.parse_list_offsets_response_v0(resp[4:])
    assert out == {"t": {0: (0, [17]), 2: (0, [0])}}


@settings(max_examples=50, deadline=None)
@given(
    msgs=st.lists(
        st.tuples(
            st.one_of(st.none(), st.binary(max_size=40)),
            st.one_of(st.none(), st.binary(max_size=60)),
        ),
        min_size=1, max_size=12,
    ),
    base=st.integers(min_value=0, max_value=1 << 30),
    version=st.sampled_from([0, 4]),
)
def test_log_slice_roundtrip_property(msgs, base, version):
    """Any log span re-encoded for fetch decodes back byte-identical
    with consecutive absolute offsets, in both dialects."""
    buf = kf.encode_log_slice(msgs, 0, 1 << 30, api_version=version)
    if version >= 4:
        got = parse_record_batches_v2(buf, tolerate_truncation=True)
    else:
        got = kf.parse_message_set_offsets(buf)
    assert [(k, v) for _o, k, v in got] == msgs
    assert [o for o, _k, _v in got] == list(range(len(msgs)))
    # base_offset rides the wire too
    buf2 = kf.encode_log_slice(list(msgs), 0, 1 << 30, api_version=version)
    assert buf2 == buf


# ------------------------------------------------- broker double serving

def test_broker_fetch_paging_respects_max_bytes_with_at_least_one():
    with WireBroker() as b:
        produce_rows(iter(_rows("t", 30)), "127.0.0.1", b.port, batch_size=7)
        for version in (0, 4):
            out = kf.consume_topic(
                "127.0.0.1", b.port, "t", version=version, max_bytes=64)
            assert [(k, v) for _p, _o, k, v in out] == [
                (f"k{i}".encode(), f"v{i}".encode()) for i in range(30)]
        # a message far bigger than the budget still returns, alone
        produce_rows(iter([{"key": "big", "value": "x" * 4096, "topic": "big"}]),
                     "127.0.0.1", b.port)
        out = kf.consume_topic("127.0.0.1", b.port, "big", max_bytes=64)
        assert len(out) == 1 and out[0][3] == b"x" * 4096


def test_broker_fetch_error_codes():
    with WireBroker() as b:
        produce_rows(iter(_rows("t", 3)), "127.0.0.1", b.port)
        sock = kf._connect("127.0.0.1", b.port, version=0, timeout=5)
        try:
            with pytest.raises(kf.FetchError, match="OFFSET_OUT_OF_RANGE"):
                kf.fetch_partition(sock, "t", 0, 4, version=0)
            with pytest.raises(kf.FetchError, match="UNKNOWN_TOPIC_OR_PARTITION"):
                kf.fetch_partition(sock, "nope", 0, 0, version=0)
            # fetch at the high watermark is legal: empty, not an error
            sock.sendall(kf.encode_fetch_request(
                1, {"t": {0: (3, 1 << 20)}}, version=0))
            from hyperswitch_data_backfill_spark.sinks.kafka_wire import _recv_frame
            res = kf.parse_fetch_response(_recv_frame(sock), version=0)["t"][0]
            assert res.error_code == 0 and res.records == [] and res.high_watermark == 3
        finally:
            sock.close()


def test_broker_list_offsets_semantics():
    with WireBroker() as b:
        produce_rows(iter(_rows("t", 9)), "127.0.0.1", b.port)
        sock = kf._connect("127.0.0.1", b.port, version=0, timeout=5)
        try:
            assert kf.list_offset(sock, "t", 0, timestamp=kf.EARLIEST_TIMESTAMP) == 0
            assert kf.list_offset(sock, "t", 0, timestamp=kf.LATEST_TIMESTAMP) == 9
        finally:
            sock.close()


def test_cluster_fetch_leadership_refusal_and_routing():
    """Non-leaders refuse fetches (error 6); the consumer reads every
    partition from its leader only."""
    with WireCluster(n_brokers=2, topics={"pay": 4}) as cluster:
        host, port = cluster.bootstrap
        produce_rows(iter(_rows("pay", 80)), host, port, batch_size=16)
        out = kf.consume_topic(host, port, "pay", version=4)
        assert len(out) == 80
        assert {p for p, _o, _k, _v in out} == {0, 1, 2, 3}
        # direct fetch of a partition from the WRONG node: NOT_LEADER
        wrong = None
        for node in cluster.brokers:
            if cluster.meta.leaders["pay"][0] != node.node_id:
                wrong = node
                break
        sock = kf._connect("127.0.0.1", wrong.port, version=0, timeout=5)
        try:
            with pytest.raises(kf.FetchError, match="NOT_LEADER"):
                kf.fetch_partition(sock, "pay", 0, 0, version=0)
        finally:
            sock.close()


def test_consumer_handshake_refuses_incapable_broker():
    from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
        _API_API_VERSIONS, _API_METADATA, _API_PRODUCE,
    )
    with WireBroker(api_versions={
        _API_PRODUCE: (0, 3), _API_METADATA: (0, 0), _API_API_VERSIONS: (0, 0),
    }) as b:  # no Fetch/ListOffsets advertised — a produce-only broker
        with pytest.raises(UnsupportedApiVersionError):
            kf.consume_topic("127.0.0.1", b.port, "t")


# -------------------------------------------------------- Spark source

def test_kafkawire_batch_source_partition_parallel(spark):
    df = spark.createDataFrame(
        _rows("pay", 120), "key string, value string, topic string"
    ).selectExpr("key", "value", "topic")
    with WireCluster(n_brokers=2, topics={"pay": 4}) as cluster:
        host, port = cluster.bootstrap
        write_kafka_wire(df.repartition(4), host, port, batch_size=32)
        for version in (0, 4):
            got = kf.read_kafka_wire(spark, host, port, "pay", version=version)
            assert got.schema.simpleString() == (
                "struct<key:binary,value:binary,topic:string,"
                "partition:int,offset:bigint>"
            )
            rows = got.collect()
            assert len(rows) == 120
            assert {r.partition for r in rows} == {0, 1, 2, 3}
            # offsets are dense per partition starting at 0
            by_part = {}
            for r in rows:
                by_part.setdefault(r.partition, []).append(r.offset)
            for offs in by_part.values():
                assert sorted(offs) == list(range(len(offs)))


def test_kafkawire_stream_source_incremental_and_replay(spark):
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        decode_event_stream,
        read_kafka_wire_stream,
    )

    with WireBroker() as b:
        produce_rows(
            iter([{"key": f"k{i}",
                   "value": f'{{"user_id": {i}, "amount": {i * 10}}}',
                   "topic": "ev"} for i in range(20)]),
            "127.0.0.1", b.port, batch_size=8, wire_version=3)
        stream = read_kafka_wire_stream(spark, "127.0.0.1", b.port, "ev",
                                        version=4)
        typed = decode_event_stream(stream, "user_id bigint, amount bigint")
        q = (typed.writeStream.format("memory").queryName("wire_ev")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql(
            "select count(*) n, sum(amount) s from wire_ev").collect()[0]
        assert (got.n, got.s) == (20, sum(i * 10 for i in range(20)))
        # exact replay: readBetweenOffsets re-fetches a fixed slice
        reader = kf.KafkaWireStreamReader(
            {"port": str(b.port), "topic": "ev", "version": "4"})
        rows = list(reader.readBetweenOffsets({"0": 5}, {"0": 11}))
        assert [r[4] for r in rows] == [5, 6, 7, 8, 9, 10]
        assert rows == list(reader.readBetweenOffsets({"0": 5}, {"0": 11}))


def test_fetch_roundtrip_fixture_matches_oracle(spark, duck):
    from hyperswitch_data_backfill_spark.registry import (
        REGISTRY,
        _load_all_operator_modules,
    )

    _load_all_operator_modules()
    q = REGISTRY["kafka_wire_fetch_roundtrip"]
    df = q.fn(spark, SF_DIR)
    assert df.count() > 0
    assert_oracle_match(df, duck, q.oracle, name="kafka_wire_fetch_roundtrip")


# ----------------------------------------------- consumer-group offsets

def test_offset_commit_fetch_codec_roundtrip():
    frame = kf.encode_offset_commit_request_v0(5, "g1", {"t": {0: 17, 2: 3}})
    corr, group, offs = kf.parse_offset_commit_request_v0(frame[4:])
    assert (corr, group, offs) == (5, "g1", {"t": {0: 17, 2: 3}})
    resp = kf.encode_offset_commit_response_v0(5, {"t": {0: 0, 2: 0}})
    assert kf.parse_offset_commit_response_v0(resp[4:]) == {"t": {0: 0, 2: 0}}
    freq = kf.encode_offset_fetch_request_v0(6, "g1", {"t": [0, 2]})
    corr, group, parts = kf.parse_offset_fetch_request_v0(freq[4:])
    assert (corr, group, parts) == (6, "g1", {"t": [0, 2]})
    fresp = kf.encode_offset_fetch_response_v0(
        6, {"t": {0: (17, None, 0), 2: (-1, None, 0)}})
    assert kf.parse_offset_fetch_response_v0(fresp[4:]) == {
        "t": {0: (17, None, 0), 2: (-1, None, 0)}}


def test_broker_group_offset_store_roundtrip():
    """Commit then fetch through the broker double: per-group isolation,
    -1 for never-committed partitions, last write wins."""
    with WireBroker() as b:
        produce_rows(iter(_rows("t", 5)), "127.0.0.1", b.port)
        sock = kf._connect("127.0.0.1", b.port, version=0, timeout=5)
        try:
            assert kf.fetch_committed(sock, "g1", {"t": [0]}) == {"t": {0: -1}}
            kf.commit_offsets(sock, "g1", {"t": {0: 3}})
            assert kf.fetch_committed(sock, "g1", {"t": [0]}) == {"t": {0: 3}}
            kf.commit_offsets(sock, "g1", {"t": {0: 5}})
            assert kf.fetch_committed(sock, "g1", {"t": [0]}) == {"t": {0: 5}}
            # a different group sees its own (empty) cursor
            assert kf.fetch_committed(sock, "g2", {"t": [0]}) == {"t": {0: -1}}
        finally:
            sock.close()


def test_stream_reader_group_resume_and_commit(spark):
    """The groupId option makes progress broker-durable: a FRESH stream
    reader (no Spark checkpoint carried over) resumes from the group's
    committed offsets instead of re-reading the whole topic."""
    with WireBroker() as b:
        produce_rows(iter(_rows("t", 30)), "127.0.0.1", b.port)
        opts = {"port": str(b.port), "topic": "t", "groupid": "cg"}
        r1 = kf.KafkaWireStreamReader(dict(opts))
        start = r1.initialOffset()
        assert start == {"0": 0}  # nothing committed yet -> earliest
        rows, end = r1.read(start)
        assert len(list(rows)) == 30 and end == {"0": 30}
        r1.commit(end)
        # fresh reader, same group: resumes at the committed cursor
        r2 = kf.KafkaWireStreamReader(dict(opts))
        assert r2.initialOffset() == {"0": 30}
        produce_rows(iter(_rows("t", 4, prefix="x")), "127.0.0.1", b.port)
        rows2, end2 = r2.read(r2.initialOffset())
        assert len(list(rows2)) == 4 and end2 == {"0": 34}
        # group-less reader still starts from earliest
        r3 = kf.KafkaWireStreamReader({"port": str(b.port), "topic": "t"})
        assert r3.initialOffset() == {"0": 0}


def test_kafkawire_filter_pushdown_prunes_partitions_and_offsets(spark):
    """Planning-level pruning from pushed predicates: a partition
    equality drops whole InputPartitions (their leaders are never
    dialed), an offset lower bound lifts each fetch start — and because
    every filter stays residual, results are exactly the plain filtered
    read (prune = optimization, never semantics)."""
    df = spark.createDataFrame(
        _rows("pay", 160), "key string, value string, topic string")
    with WireCluster(n_brokers=2, topics={"pay": 4}) as cluster:
        host, port = cluster.bootstrap
        write_kafka_wire(df.repartition(4), host, port, batch_size=32)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        src = kf.read_kafka_wire(spark, host, port, "pay", version=4)

        only_p2 = src.filter("partition = 2")
        rows = only_p2.collect()
        assert rows and all(r.partition == 2 for r in rows)
        # planner-level proof: a pruned reader plans exactly one split
        reader = kf.KafkaWireReader(
            {"port": str(port), "host": host, "topic": "pay", "version": "4"})
        from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual
        residual = list(reader.pushFilters(
            [EqualTo(("partition",), 2), GreaterThanOrEqual(("offset",), 5)]))
        assert len(residual) == 2  # everything stays residual
        plans = reader.partitions()
        assert [p.partition for p in plans] == [2]
        assert plans[0].start == 5

        # equivalence: pushed-down read == plain read filtered after
        want = {(bytes(r.key), r.partition, r.offset)
                for r in src.collect()
                if r.partition == 2 and r.offset >= 5}
        got = {(bytes(r.key), r.partition, r.offset)
               for r in src.filter("partition = 2 AND offset >= 5").collect()}
        assert got == want and got


# ------------------------------------- multi-node streaming leader routing

def test_stream_reader_routes_to_leaders_in_cluster(spark):
    """Regression (round 13): the stream reader used to send ListOffsets
    and Fetch for EVERY partition to the bootstrap node — against a
    multi-node cluster the non-led partitions refused with NOT_LEADER.
    Both _offsets and _rows_between must resolve each partition's
    current leader from metadata, like the batch planner."""
    with WireCluster(n_brokers=2, topics={"pay": 4}) as cluster:
        host, port = cluster.bootstrap
        produce_rows(iter(_rows("pay", 60)), host, port, batch_size=16)
        reader = kf.KafkaWireStreamReader(
            {"host": host, "port": str(port), "topic": "pay"})
        start = reader.initialOffset()
        assert set(start) == {"0", "1", "2", "3"}
        rows, end = reader.read(start)
        rows = list(rows)
        assert len(rows) == 60
        assert {r[3] for r in rows} == {0, 1, 2, 3}
        assert sum(int(end[p]) for p in end) == 60
        # exact replay crosses brokers too
        again = list(reader.readBetweenOffsets(start, end))
        assert sorted(again) == sorted(rows)


def test_stream_kafka_wire_tumbling_fixture_matches_oracle(spark, duck):
    """The streaming-over-the-wire driver key end-to-end at the pytest
    sf: produce → readStream(kafkawire) → watermarked tumbling agg →
    append sink, hash-compared to the watermark-finalization oracle."""
    from hyperswitch_data_backfill_spark.registry import (
        REGISTRY,
        _load_all_operator_modules,
    )

    _load_all_operator_modules()
    q = REGISTRY["stream_kafka_wire_tumbling"]
    df = q.fn(spark, SF_DIR)
    assert df.count() > 0
    assert_oracle_match(df, duck, q.oracle, name="stream_kafka_wire_tumbling")


# --------------------------------------------- fetch-side fault injection

def test_read_span_survives_fetch_faults_exactly_once():
    """fail_fetches=2: the broker answers the first two Fetch requests
    REQUEST_TIMED_OUT and drops the connection; _read_span reconnects,
    resumes from its cursor, and still yields the planned span exactly
    once — no loss, no duplicates."""
    with WireBroker(fail_fetches=2) as b:
        produce_rows(iter(_rows("t", 25)), "127.0.0.1", b.port)
        p = kf.KafkaWirePartition("t", 0, "127.0.0.1", b.port, 0, 25, 0, 1 << 20)
        got = list(kf._read_span(p))
        assert [r[4] for r in got] == list(range(25))
        assert [r[0] for r in got] == [f"k{i}".encode() for i in range(25)]


def test_read_span_fault_budget_exhausted_raises():
    """More injected faults than reconnect budget: the span read raises
    (and the Spark task retry takes over) instead of spinning."""
    with WireBroker(fail_fetches=10) as b:
        produce_rows(iter(_rows("t", 5)), "127.0.0.1", b.port)
        p = kf.KafkaWirePartition("t", 0, "127.0.0.1", b.port, 0, 5, 0, 1 << 20)
        with pytest.raises((kf.FetchError, ConnectionError, OSError)):
            list(kf._read_span(p, max_retries=2))


def test_read_span_offset_out_of_range_not_retried():
    """A non-retriable fetch error surfaces immediately — retrying an
    OFFSET_OUT_OF_RANGE can never succeed and must not burn the
    reconnect budget."""
    with WireBroker() as b:
        produce_rows(iter(_rows("t", 3)), "127.0.0.1", b.port)
        p = kf.KafkaWirePartition("t", 0, "127.0.0.1", b.port, 7, 9, 0, 1 << 20)
        with pytest.raises(kf.FetchError, match="OFFSET_OUT_OF_RANGE"):
            list(kf._read_span(p))


def test_read_span_follows_not_leader_to_true_leader():
    """A span planned against a stale/wrong leader address recovers:
    NOT_LEADER → Metadata refresh (any node answers for the cluster) →
    re-dial the true leader → full span."""
    with WireCluster(n_brokers=2, topics={"pay": 2}) as cluster:
        host, port = cluster.bootstrap
        produce_rows(iter(_rows("pay", 40)), host, port, batch_size=8)
        # how many landed in partition 0, and who leads it
        true_leader = cluster.meta.leaders["pay"][0]
        wrong = next(b for b in cluster.brokers if b.node_id != true_leader)
        n0 = len(cluster.brokers[true_leader]._logs[("pay", 0)].messages)
        assert n0 > 0
        p = kf.KafkaWirePartition(
            "pay", 0, "127.0.0.1", wrong.port, 0, n0, 0, 1 << 20)
        got = list(kf._read_span(p))
        assert [r[4] for r in got] == list(range(n0))


# ------------------------------------------------- streaming admission

def test_stream_reader_max_records_per_batch_chunks_backlog():
    """maxRecordsPerBatch bounds each micro-batch's total take and the
    cursor chain drains the backlog without loss or duplication — the
    maxOffsetsPerTrigger recovery behavior."""
    with WireBroker() as b:
        produce_rows(iter(_rows("t", 35)), "127.0.0.1", b.port)
        reader = kf.KafkaWireStreamReader(
            {"port": str(b.port), "topic": "t", "maxrecordsperbatch": "10"})
        cursor = reader.initialOffset()
        seen = []
        batches = 0
        while True:
            rows, nxt = reader.read(cursor)
            rows = list(rows)
            if not rows and nxt == cursor:
                break
            batches += 1
            assert len(rows) <= 10
            seen.extend(rows)
            cursor = nxt
        assert batches == 4                      # 10+10+10+5
        assert [r[4] for r in seen] == list(range(35))


def test_stream_reader_admission_proportional_across_partitions():
    """The per-batch budget splits proportionally to partition backlog
    (largest backlogs soak up the rounding remainder)."""
    reader = kf.KafkaWireStreamReader(
        {"port": "1", "topic": "t", "maxrecordsperbatch": "10"})
    start = {"0": 0, "1": 0, "2": 0}
    end = {"0": 30, "1": 10, "2": 0}
    capped = reader._admit(start, end)
    assert sum(capped[p] - start[p] for p in capped) == 10
    assert capped["0"] > capped["1"] >= capped["2"] == 0
    # unbounded when cap=0 or backlog fits
    r2 = kf.KafkaWireStreamReader({"port": "1", "topic": "t"})
    assert r2._admit(start, end) == end
    with pytest.raises(ValueError, match="maxRecordsPerBatch"):
        kf.KafkaWireStreamReader(
            {"port": "1", "topic": "t", "maxrecordsperbatch": "-1"})


def test_stream_chunked_with_group_commit(spark):
    """The full admission + durable-cursor shape end-to-end: a capped
    LIVE stream drains a 60-record backlog in multiple micro-batches,
    committing each one broker-side; after the query stops, the
    group's committed cursor equals the high watermark, so a FRESH
    reader (wiped checkpoint) starts at the end instead of re-reading."""
    import time

    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        read_kafka_wire_stream,
    )

    with WireBroker() as b:
        produce_rows(iter(_rows("ev", 60)), "127.0.0.1", b.port, batch_size=16)
        stream = read_kafka_wire_stream(
            spark, "127.0.0.1", b.port, "ev",
            group_id="cg-chunk", max_records_per_batch=25,
        )
        q = (stream.writeStream.format("memory").queryName("wire_chunked")
             .trigger(processingTime="250 milliseconds").start())
        try:
            deadline = time.time() + 120
            while spark.table("wire_chunked").count() < 60:
                assert q.exception() is None, q.exception()
                assert time.time() < deadline, "backlog did not drain"
                time.sleep(0.25)
            # a second wave: the later triggers it causes also flush the
            # earlier batches' source commits (commit() lags a trigger —
            # the group cursor is at-least-once, like a real consumer)
            produce_rows(iter(_rows("ev", 15, prefix="x")),
                         "127.0.0.1", b.port, batch_size=16)
            # fresh budget: a slow first drain must not starve this wait
            # (r13 ADVICE item 3 — flake risk on loaded hosts)
            deadline = time.time() + 120
            while spark.table("wire_chunked").count() < 75:
                assert q.exception() is None, q.exception()
                assert time.time() < deadline, "second wave did not drain"
                time.sleep(0.25)
        finally:
            q.stop()
        q.awaitTermination(60)
        assert spark.table("wire_chunked").count() == 75
        # admission respected: no micro-batch exceeded the cap
        assert all(p["numInputRows"] <= 25 for p in q.recentProgress)
        # and the first backlog alone needed >= 3 batches at cap 25
        assert sum(1 for p in q.recentProgress if p["numInputRows"]) >= 3
        # durable cursor: everything up to the second wave is committed
        # broker-side (the wave's own tail may lag — at-least-once), so
        # a FRESH reader (wiped checkpoint) resumes past the first
        # backlog instead of re-reading from 0.
        r2 = kf.KafkaWireStreamReader(
            {"port": str(b.port), "topic": "ev", "groupid": "cg-chunk"})
        resumed = int(r2.initialOffset()["0"])
        assert 60 <= resumed <= 75


def test_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill-and-resume: a capped stream writes a parquet sink with a
    real checkpoint, is stopped mid-backlog, and a SECOND query resumes
    from the same checkpoint. The sink must end with every record
    exactly once — Spark replays the in-flight batch through
    readBetweenOffsets (exact [start,end) re-fetch) and the file sink's
    transaction log dedups the overlap. This is the recovery contract
    a 100 TB deployment leans on."""
    import time

    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        read_kafka_wire_stream,
    )

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start_query():
        stream = read_kafka_wire_stream(
            spark, "127.0.0.1", b.port, "ev", max_records_per_batch=20)
        return (stream.selectExpr("CAST(key AS STRING) AS key", "offset")
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="250 milliseconds")
                .start())

    def sink_count():
        try:
            return spark.read.parquet(sink).count()
        except Exception:
            return 0

    with WireBroker() as b:
        produce_rows(iter(_rows("ev", 60)), "127.0.0.1", b.port, batch_size=16)
        q1 = start_query()
        try:
            deadline = time.time() + 120
            # let it make partial progress (>= 1 batch, < full backlog)
            while not any(p["numInputRows"] for p in q1.recentProgress):
                assert q1.exception() is None, q1.exception()
                assert time.time() < deadline
                time.sleep(0.1)
        finally:
            q1.stop()           # crash stand-in: stop without draining
        q1.awaitTermination(60)
        partial = sink_count()
        assert partial < 60, "stopped query should not have drained all 60"

        q2 = start_query()
        try:
            deadline = time.time() + 120
            while sink_count() < 60:
                assert q2.exception() is None, q2.exception()
                assert time.time() < deadline, "resume did not drain backlog"
                time.sleep(0.25)
        finally:
            q2.stop()
        q2.awaitTermination(60)

    out = spark.read.parquet(sink)
    assert out.count() == 60                       # no loss, no dup
    assert out.select("key").distinct().count() == 60
    offs = sorted(r.offset for r in out.collect())
    assert offs == list(range(60))


@settings(max_examples=100, deadline=None)
@given(
    backlog=st.dictionaries(
        st.integers(min_value=0, max_value=7).map(str),
        st.integers(min_value=0, max_value=10_000),
        min_size=1, max_size=8,
    ),
    starts=st.integers(min_value=0, max_value=1 << 40),
    cap=st.integers(min_value=0, max_value=5_000),
)
def test_admission_allocation_properties(backlog, starts, cap):
    """_admit invariants for any backlog shape: (1) total take =
    min(cap, backlog) when capped, full backlog otherwise; (2) no
    partition is taken past its own backlog; (3) cursors never move
    backwards; (4) idempotent on its own output."""
    start = {p: starts + i for i, p in enumerate(sorted(backlog))}
    end = {p: start[p] + b for p, b in backlog.items()}
    opts = {"port": "1", "topic": "t"}
    if cap:
        opts["maxrecordsperbatch"] = str(cap)
    reader = kf.KafkaWireStreamReader(opts)
    admitted = reader._admit(start, end)
    takes = {p: admitted[p] - start[p] for p in end}
    total = sum(backlog.values())
    want = min(cap, total) if cap else total
    assert sum(takes.values()) == want
    assert all(0 <= takes[p] <= backlog[p] for p in end)
    # re-admitting from the admitted cursor takes the next slice
    admitted2 = reader._admit(admitted, end)
    assert all(admitted[p] <= admitted2[p] <= end[p] for p in end)


# ------------------------------------------- executor-parallel stream

def test_parallel_stream_reader_cluster_e2e(spark):
    """.option('parallel','true') switches to the full stream-reader
    protocol: driver plans leader-direct per-partition spans, fetches
    run executor-side (_read_span). A capped live query over a 2-node/
    4-partition cluster drains the backlog completely and respects the
    per-batch admission cap."""
    import time

    with WireCluster(n_brokers=2, topics={"pay": 4}) as cluster:
        host, port = cluster.bootstrap
        produce_rows(iter(_rows("pay", 120)), host, port, batch_size=32)
        kf.register_kafka_wire_source(spark)
        stream = (
            spark.readStream.format("kafkawire")
            .option("host", host).option("port", str(port))
            .option("topic", "pay")
            .option("parallel", "true")
            .option("groupId", "par-e2e")   # required with a cap
            .option("maxRecordsPerBatch", "50")
            .load()
        )
        q = (stream.selectExpr(
                "CAST(key AS STRING) key", "partition", "offset")
             .writeStream.format("memory").queryName("par_stream")
             .trigger(processingTime="250 milliseconds").start())
        try:
            deadline = time.time() + 120
            while spark.table("par_stream").count() < 120:
                assert q.exception() is None, q.exception()
                assert time.time() < deadline, "parallel stream stalled"
                time.sleep(0.25)
        finally:
            q.stop()
        q.awaitTermination(60)
        got = spark.table("par_stream")
        assert got.count() == 120
        assert got.select("key").distinct().count() == 120
        assert {r.partition for r in got.collect()} == {0, 1, 2, 3}
        assert all(p["numInputRows"] <= 50 for p in q.recentProgress)
        assert sum(1 for p in q.recentProgress if p["numInputRows"]) >= 3


def test_parallel_reader_offset_model_unit():
    """Unit-level contract: latestOffset advances the lifetime cursor
    by at most the cap; partitions() plans leader-direct clamped spans;
    a cursorless restart without a group admits everything once."""
    with WireBroker() as b:
        produce_rows(iter(_rows("t", 40)), "127.0.0.1", b.port)
        # a cap without a group refuses at construction: a checkpoint
        # restart would otherwise silently re-emit the topic (review)
        with pytest.raises(ValueError, match="broker-durable cursor"):
            kf.KafkaWireParallelStreamReader(
                {"port": str(b.port), "topic": "t",
                 "maxrecordsperbatch": "15", "parallel": "true"})
        opts = {"port": str(b.port), "topic": "t", "groupid": "par-unit",
                "maxrecordsperbatch": "15", "parallel": "true"}
        r = kf.KafkaWireParallelStreamReader(dict(opts))
        start = r.initialOffset()
        assert start == {"0": 0}
        e1 = r.latestOffset()
        assert e1 == {"0": 15}
        e2 = r.latestOffset()
        assert e2 == {"0": 30}
        plans = r.partitions(e1, e2)
        assert len(plans) == 1 and (plans[0].start, plans[0].end) == (15, 30)
        rows = list(r.read(plans[0]))
        assert [x[4] for x in rows] == list(range(15, 30))
        # stale span clamps to a no-op plan, never a negative read
        noop = r.partitions({"0": 30}, {"0": 30})
        assert len(noop) == 1 and noop[0].start >= noop[0].end
        # cursorless start (engine may never call initialOffset —
        # measured): the cursor self-seeds from the group's committed
        # offsets (none yet -> earliest), caps hold from the first batch
        r2 = kf.KafkaWireParallelStreamReader(dict(opts))
        assert r2.latestOffset() == {"0": 15}
        # commit() fast-forwards the cursor (e.g. checkpoint replayed
        # further than our seed), so later caps resume from there
        r2.commit({"0": 40})
        produce_rows(iter(_rows("t", 30, prefix="y")), "127.0.0.1", b.port)
        assert r2.latestOffset() == {"0": 55}  # 40 + cap


def test_read_span_recovers_via_bootstrap_when_planned_leader_dead():
    """The planned leader address is a corpse (connection refused); the
    span still completes: the reconnect failure burns retry budget
    inside the guarded loop, metadata falls back to the bootstrap
    address carried in the partition plan, and the fetch follows the
    partition to its live leader."""
    # a port that is guaranteed closed: bind, grab, release
    dead = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    dead.bind(("127.0.0.1", 0))
    dead_port = dead.getsockname()[1]
    dead.close()

    with WireCluster(n_brokers=2, topics={"pay": 2}) as cluster:
        host, port = cluster.bootstrap
        produce_rows(iter(_rows("pay", 40)), host, port, batch_size=8)
        leader = cluster.meta.leaders["pay"][0]
        n0 = len(cluster.brokers[leader]._logs[("pay", 0)].messages)
        assert n0 > 0
        p = kf.KafkaWirePartition(
            "pay", 0, "127.0.0.1", dead_port, 0, n0, 0, 1 << 20,
            boot_host=host, boot_port=port)
        got = list(kf._read_span(p))
        assert [r[4] for r in got] == list(range(n0))
        # without the bootstrap fallback the same span must fail
        p2 = kf.KafkaWirePartition(
            "pay", 0, "127.0.0.1", dead_port, 0, n0, 0, 1 << 20)
        with pytest.raises((ConnectionError, OSError)):
            list(kf._read_span(p2))
