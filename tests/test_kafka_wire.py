"""Executed proof for the S4 wire leg (sinks/kafka_wire.py): the codec,
the executor-side foreachPartition producer in both dialects
(``wire_version`` 0 and 3), the broker double's CRC verification, the
transient-error retry path, the exhausted-retries failure path and the
handshake refusal — the tests the module docstring promises (r8 verdict
item 3; reference produce loop: main.rs:146-153).
"""

from __future__ import annotations

import logging
import socket
import zlib

import pytest
from pyspark.sql import functions as F

from hyperswitch_data_backfill_spark.sinks import kafka_wire
from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
    _recv_frame,
    UnsupportedApiVersionError,
    WireBroker,
    WireCluster,
    encode_api_versions_request_v0,
    encode_api_versions_response_v0,
    encode_message_v0,
    encode_metadata_request_v0,
    encode_metadata_response_v0,
    encode_produce_request_v0,
    kafka_wire_roundtrip,
    kafka_wire_routed_roundtrip,
    murmur2,
    negotiate_api_versions,
    parse_api_versions_request_v0,
    parse_api_versions_response_v0,
    parse_metadata_request_v0,
    parse_metadata_response_v0,
    parse_produce_request_v0,
    parse_produce_response,
    partition_for_key,
    produce_rows,
    write_kafka_wire,
)
from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
    write_kafka_wire_v2,
)
from tests.conftest import SF_DIR, assert_oracle_match

# Every producer test runs in both dialects: Produce v0 message sets and
# Produce v3 record batches.
wire_versions = pytest.mark.parametrize("wire_version", [0, 3])


# ------------------------------------------------------------------ codec

def test_codec_roundtrip_preserves_records_and_crc():
    batches = {
        "t-a": [(b"k1", b"v1"), (None, b"only-value"), (b"only-key", None)],
        "t-b": [(b"k2", "émoji ✓".encode("utf-8"))],
    }
    frame = encode_produce_request_v0(7, batches, acks=1, timeout_ms=1234)
    # strip the int32 size prefix the broker's framing layer consumes
    req = parse_produce_request_v0(frame[4:])
    assert req.correlation_id == 7
    assert req.acks == 1 and req.timeout_ms == 1234
    assert req.records == {t: {0: msgs} for t, msgs in batches.items()}


def test_corrupted_byte_fails_crc_check():
    frame = bytearray(encode_produce_request_v0(1, {"t": [(b"k", b"v")]}))
    frame[-1] ^= 0xFF  # flip a bit inside the value payload
    with pytest.raises(ValueError, match="CRC"):
        parse_produce_request_v0(bytes(frame[4:]))


def test_message_v0_crc_is_crc32_of_body():
    msg = encode_message_v0(b"k", b"v")
    crc = int.from_bytes(msg[:4], "big")
    assert crc == zlib.crc32(msg[4:]) & 0xFFFFFFFF
    assert msg[4] == 0  # magic 0


def test_murmur2_matches_published_kafka_vectors():
    """Bit-for-bit parity with org.apache.kafka.common.utils.Utils.murmur2
    — the exact vectors from Apache Kafka's UtilsTest#testMurmur2. If
    this holds, partition_for_key routes records to the SAME partitions a
    real Java/rdkafka default-partitioner client would."""
    def signed(x):
        return x - (1 << 32) if x >= (1 << 31) else x

    vectors = {
        b"21": -973932308,
        b"foobar": -790332482,
        b"a-little-bit-long-string": -985981536,
        b"a-little-bit-longer-string": -1486304829,
        b"lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8": -58897971,
        b"": 275646681,
    }
    for key, want in vectors.items():
        assert signed(murmur2(key)) == want, key


def test_partition_for_key_positive_mask_and_null_fallback():
    for n in (1, 3, 4, 7):
        for i in range(50):
            assert 0 <= partition_for_key(f"k{i}".encode(), n) < n
    assert partition_for_key(None, 4, fallback=2) == 2


def test_metadata_codec_roundtrip():
    req = encode_metadata_request_v0(42, ["orders-events", "t2"])
    corr, client_id, topics = parse_metadata_request_v0(req[4:])
    assert (corr, topics) == (42, ["orders-events", "t2"])
    assert client_id == "spark-backfill-wire"

    brokers = {0: ("127.0.0.1", 9092), 1: ("127.0.0.1", 9093)}
    leaders = {"orders-events": {0: 0, 1: 1, 2: 0, 3: 1}, "t2": {0: 1}}
    resp = encode_metadata_response_v0(42, brokers, leaders)
    got_brokers, got_leaders = parse_metadata_response_v0(resp[4:])
    assert got_brokers == brokers
    assert got_leaders == leaders


# --------------------------------------------- Spark foreachPartition leg

@wire_versions
def test_write_kafka_wire_multipartition_exact_multiset(spark, wire_version):
    """Parallel executor tasks (4 input partitions) each open a real TCP
    connection; the broker-decoded multiset equals the input exactly,
    through ``write_kafka_wire`` (v0) and ``write_kafka_wire_v2`` (v3)."""
    write = write_kafka_wire if wire_version == 0 else write_kafka_wire_v2
    df = (
        spark.range(0, 200)
        .select(
            F.concat(F.lit("key-"), F.col("id")).alias("key"),
            F.concat(F.lit("value-"), F.col("id")).alias("value"),
            F.when(F.col("id") % 2 == 0, F.lit("topic-even"))
            .otherwise(F.lit("topic-odd"))
            .alias("topic"),
        )
        .repartition(4)
    )
    with WireBroker() as broker:
        write(df, "127.0.0.1", broker.port, batch_size=32)
        got = {
            topic: sorted(broker.records(topic))
            for topic in broker.topics()
        }
        connections = broker.connections
    assert sorted(got) == ["topic-even", "topic-odd"]
    for parity, topic in ((0, "topic-even"), (1, "topic-odd")):
        expected = sorted(
            (f"key-{i}".encode(), f"value-{i}".encode())
            for i in range(parity, 200, 2)
        )
        assert got[topic] == expected
    # one connection per non-empty task; 200 rows over 4 round-robin
    # partitions → all 4 produced
    assert connections == 4


# ------------------------------------------------------------- retry path

def _rows(n=10, topic="retry-topic"):
    return [
        {"key": f"k{i}", "value": f"v{i}", "topic": topic} for i in range(n)
    ]


def _warnings(caplog) -> list[str]:
    return [r.getMessage() for r in caplog.records
            if r.name == kafka_wire.__name__ and r.levelno == logging.WARNING]


@wire_versions
def test_transient_error_retries_to_exactly_one_copy(wire_version, caplog):
    """fail_requests=1: the first Produce gets error_code 2 + drop; the
    reconnect-retry succeeds and the log holds exactly ONE copy. The
    failed attempt is logged, not retried silently."""
    caplog.set_level(logging.WARNING, logger=kafka_wire.__name__)
    with WireBroker(fail_requests=1) as broker:
        sent = produce_rows(
            iter(_rows()), "127.0.0.1", broker.port, max_retries=2,
            wire_version=wire_version,
        )
        records = broker.records("retry-topic")
        connections = broker.connections
    assert sent == 10
    assert records == [(f"k{i}".encode(), f"v{i}".encode()) for i in range(10)]
    assert connections == 2  # failed-and-dropped + successful retry
    [warning] = _warnings(caplog)
    assert "attempt 1/3 to node 0" in warning
    assert "('retry-topic', 0): 2" in warning


def test_refused_bootstrap_connect_is_retried(monkeypatch, caplog):
    """A refused connect at task start costs one attempt of the retry
    budget, not the task: the Metadata bootstrap retries like a flush,
    and every record still lands exactly once."""
    caplog.set_level(logging.WARNING, logger=kafka_wire.__name__)
    real = socket.create_connection
    calls = []

    def refuse_first(*args, **kwargs):
        calls.append(args[0])
        if len(calls) == 1:
            raise ConnectionRefusedError("refused by the test")
        return real(*args, **kwargs)

    monkeypatch.setattr(kafka_wire.socket, "create_connection", refuse_first)
    with WireBroker() as broker:
        sent = produce_rows(iter(_rows()), "127.0.0.1", broker.port,
                            max_retries=2)
        records = broker.records("retry-topic")
        connections = broker.connections
    assert sent == 10
    assert records == [(f"k{i}".encode(), f"v{i}".encode()) for i in range(10)]
    assert len(calls) == 2 and connections == 1
    [warning] = _warnings(caplog)
    assert "attempt 1/3: metadata failed" in warning
    assert "refused by the test" in warning


@wire_versions
def test_one_connection_and_handshake_per_task_on_a_standalone_broker(
        wire_version):
    """Three topics on a standalone broker: the bootstrap connection is
    re-used for the leader Metadata names, so the task opens exactly one
    connection and runs exactly one handshake."""
    rows = [r for t in ("t-a", "t-b", "t-c") for r in _rows(20, topic=t)]
    with WireBroker() as broker:
        sent = produce_rows(iter(rows), "127.0.0.1", broker.port,
                            batch_size=16, wire_version=wire_version)
        topics = broker.topics()
        connections = broker.connections
        handshakes = broker.api_versions_requests
    assert sent == 60
    assert topics == ["t-a", "t-b", "t-c"]
    assert (connections, handshakes) == (1, 1)


def test_malformed_frame_recorded_and_connection_closed():
    """A frame that length-prefixes garbage must not kill the handler
    thread with an unraised traceback: the broker records the parse
    error on broker.errors and closes the connection deliberately
    (round-9 ADVICE), so a producer-side encoding bug surfaces as an
    inspectable error instead of a bare client timeout."""
    import struct
    import time

    with WireBroker() as broker:
        s = socket.create_connection(("127.0.0.1", broker.port), timeout=5)
        garbage = b"\x00\x00notakafkaframe"
        s.sendall(struct.pack(">i", len(garbage)) + garbage)
        # Broker closes the connection after recording the error.
        s.settimeout(5)
        assert s.recv(1024) == b""
        s.close()
        deadline = time.monotonic() + 5
        while not broker.errors and time.monotonic() < deadline:
            time.sleep(0.01)
        errors = list(broker.errors)
        topics = broker.topics()
    assert len(errors) == 1, errors
    assert topics == []  # nothing appended to any log


@wire_versions
def test_exhausted_retries_raise(wire_version, caplog):
    """More injected failures than retry budget → produce_rows raises
    (Spark would then retry the task: at-least-once, never silent loss),
    chained from the last broker error, after logging every attempt."""
    caplog.set_level(logging.WARNING, logger=kafka_wire.__name__)
    with WireBroker(fail_requests=10) as broker:
        with pytest.raises(IOError, match="failed after 3 attempts") as exc:
            produce_rows(iter(_rows()), "127.0.0.1", broker.port,
                         max_retries=2, wire_version=wire_version)
        assert broker.records("retry-topic") == []
    assert isinstance(exc.value.__cause__, OSError)
    assert "('retry-topic', 0): 2" in str(exc.value.__cause__)
    warnings = _warnings(caplog)
    assert len(warnings) == 3
    for attempt, warning in enumerate(warnings, 1):
        assert f"attempt {attempt}/3 to node 0" in warning


# ------------------------------------------------- ApiVersions (KIP-35)

def test_api_versions_codec_roundtrip():
    frame = encode_api_versions_request_v0(11, client_id="t-client")
    corr, client = parse_api_versions_request_v0(frame[4:])
    assert (corr, client) == (11, "t-client")
    resp = encode_api_versions_response_v0(11, {0: (0, 9), 18: (0, 3)})
    err, versions = parse_api_versions_response_v0(resp[4:])
    assert err == 0
    assert versions == {0: (0, 9), 18: (0, 3)}


def test_negotiation_against_live_broker():
    """A raw-socket KIP-35 handshake against the double: the default
    broker advertises the v0 dialect plus the r12 record-batch dialect
    (Produce 0..3) plus the r13 consume side (Fetch 0..4, ListOffsets 0)
    plus the r14 group-coordination legs (JoinGroup/Heartbeat/
    LeaveGroup/SyncGroup v0) and counts the exchange."""
    with WireBroker() as broker:
        s = socket.create_connection(("127.0.0.1", broker.port), timeout=5)
        versions = negotiate_api_versions(s, 1, required={0: 0, 3: 0, 18: 0})
        s.close()
        handshakes = broker.api_versions_requests
    assert versions == {0: (0, 3), 1: (0, 4), 2: (0, 0), 3: (0, 0),
                        8: (0, 0), 9: (0, 0), 11: (0, 0), 12: (0, 0),
                        13: (0, 0), 14: (0, 0), 18: (0, 0)}
    assert handshakes == 1


# A broker each dialect cannot use: Produce min v2 (a cluster too new for
# a v0 client) and Produce v0 only (too old for a v3 client).
_INCOMPATIBLE = {
    0: {0: (2, 9), 3: (0, 12), 18: (0, 3)},
    3: {0: (0, 0), 3: (0, 0), 18: (0, 0)},
}


@wire_versions
def test_producer_refuses_incompatible_broker(wire_version):
    """The dialect gap fails FAST at connect, in both directions:
    UnsupportedApiVersionError escapes the retry loop — retrying can't
    fix a version mismatch — and nothing reaches any log."""
    with WireBroker(api_versions=_INCOMPATIBLE[wire_version]) as broker:
        with pytest.raises(UnsupportedApiVersionError,
                           match=f"api_key=0 v{wire_version}"):
            produce_rows(iter(_rows()), "127.0.0.1", broker.port,
                         max_retries=2, wire_version=wire_version)
        assert broker.topics() == []
        assert broker.api_versions_requests == 1  # no blind retry spam


def test_routed_producer_negotiates_once_per_node_connection():
    """The routed producer runs the handshake on each (task, node)
    connection it opens — both cluster nodes see exactly one exchange
    for a single-task produce that touches all partitions."""
    with WireCluster(n_brokers=2, topics={"nego-t": 4}) as cluster:
        host, port = cluster.bootstrap
        sent = produce_rows(
            iter(_rows(n=50, topic="nego-t")), host, port, batch_size=16)
        counts = [b.api_versions_requests for b in cluster.brokers]
    assert sent == 50
    assert counts == [1, 1]


# ----------------------------------------------- leader routing (cluster)

def test_routed_produce_lands_every_record_on_its_murmur2_leader():
    """2 brokers, 4 partitions striped p%2: after a routed produce,
    (a) each broker's log holds ONLY partitions it leads, (b) every
    record sits in exactly the partition murmur2 says, (c) the union is
    the exact input multiset."""
    rows = [
        {"key": f"k{i}", "value": f"v{i}", "topic": "routed-t"}
        for i in range(100)
    ]
    with WireCluster(n_brokers=2, topics={"routed-t": 4}) as cluster:
        host, port = cluster.bootstrap
        sent = produce_rows(iter(rows), host, port, batch_size=16)
        placed = cluster.all_records()
    assert sent == 100
    assert len(placed) == 100
    got = set()
    for topic, partition, node, key, value in placed:
        assert topic == "routed-t"
        assert node == partition % 2, "record on a broker that doesn't lead it"
        assert partition == partition_for_key(key, 4)
        got.add((key, value))
    assert got == {(f"k{i}".encode(), f"v{i}".encode()) for i in range(100)}


def test_unrouted_produce_to_non_leader_is_refused():
    """The cluster's teeth: a raw Produce v0 that ignores metadata, aimed
    at a node that doesn't lead the partition, is answered
    NOT_LEADER_FOR_PARTITION (error 6) and appends nothing — proving a
    hash-green routed roundtrip can't come from a producer that ignores
    metadata."""
    with WireCluster(n_brokers=2, topics={"strict-t": 1}) as cluster:
        # partition 0 of strict-t leads on node 0; aim at node 1
        wrong = cluster.brokers[1]
        with socket.create_connection(("127.0.0.1", wrong.port),
                                      timeout=5) as s:
            s.sendall(encode_produce_request_v0(1, {"strict-t": [(b"k", b"v")]}))
            resp = parse_produce_response(_recv_frame(s))
        assert resp == {"strict-t": {0: (6, -1)}}
        assert cluster.records("strict-t", 0) == []


def test_routed_produce_survives_mid_stream_reassignment():
    """Stale-metadata recovery: leadership flips AFTER the producer
    cached its routing map (first flush done); the next flush is refused
    with error 6, the producer refreshes metadata, re-routes, and every
    record still lands exactly once on the NEW leader."""
    flipped = {"done": False}

    def rows(cluster):
        for i in range(40):
            if i == 20 and not flipped["done"]:
                # between flushes (batch_size=20): move both partitions
                # to the other node
                cluster.reassign("flip-t", 0, 1)
                cluster.reassign("flip-t", 1, 0)
                flipped["done"] = True
            yield {"key": f"k{i}", "value": f"v{i}", "topic": "flip-t"}

    with WireCluster(n_brokers=2, topics={"flip-t": 2}) as cluster:
        host, port = cluster.bootstrap
        sent = produce_rows(iter(rows(cluster)), host, port, batch_size=20)
        placed = cluster.all_records()
    assert sent == 40
    assert flipped["done"]
    keys = [key for _t, _p, _n, key, _v in placed]
    assert len(keys) == len(set(keys)) == 40, "lost or duplicated records"
    # second-half records must sit on the post-flip leader
    for topic, partition, node, key, _value in placed:
        assert partition == partition_for_key(key, 2)
        idx = int(key.decode()[1:])
        expected_node = (partition + 1) % 2 if idx >= 20 else partition % 2
        assert node == expected_node, (key, partition, node)


def test_write_kafka_wire_routed_from_spark_tasks(spark):
    """4 executor tasks × 2 brokers: each task runs its own metadata
    bootstrap + routed produce; union equals input exactly."""
    df = (
        spark.range(0, 120)
        .select(
            F.concat(F.lit("rk-"), F.col("id")).alias("key"),
            F.concat(F.lit("rv-"), F.col("id")).alias("value"),
            F.lit("spark-routed-t").alias("topic"),
        )
        .repartition(4)
    )
    with WireCluster(n_brokers=2, topics={"spark-routed-t": 4}) as cluster:
        host, port = cluster.bootstrap
        write_kafka_wire(df, host, port, batch_size=32)
        placed = cluster.all_records()
    assert len(placed) == 120
    for _topic, partition, node, key, _value in placed:
        assert node == partition % 2
        assert partition == partition_for_key(key, 4)
    got = {(k, v) for _t, _p, _n, k, v in placed}
    assert got == {
        (f"rk-{i}".encode(), f"rv-{i}".encode()) for i in range(120)
    }


# ------------------------------------------------------ fixture key oracle

def test_kafka_wire_roundtrip_matches_oracle(spark, duck):
    """The driver-hashed fixture: wire-produced bytes, decoded off the
    broker log, must byte-match the DuckDB JSON oracle."""
    from hyperswitch_data_backfill_spark.registry import REGISTRY, _load_all_operator_modules

    _load_all_operator_modules()
    q = REGISTRY["kafka_wire_roundtrip"]
    df = kafka_wire_roundtrip(spark, SF_DIR)
    assert df.count() > 0
    assert_oracle_match(df, duck, q.oracle, name="kafka_wire_roundtrip")


def test_kafka_wire_routed_roundtrip_matches_oracle(spark, duck):
    """The routed driver-hashed fixture: bytes produced through metadata
    bootstrap + murmur2 routing against a 2-broker cluster must
    byte-match the same DuckDB JSON oracle shape."""
    from hyperswitch_data_backfill_spark.registry import REGISTRY, _load_all_operator_modules

    _load_all_operator_modules()
    q = REGISTRY["kafka_wire_routed_roundtrip"]
    df = kafka_wire_routed_roundtrip(spark, SF_DIR)
    assert df.count() > 0
    assert_oracle_match(df, duck, q.oracle, name="kafka_wire_routed_roundtrip")
