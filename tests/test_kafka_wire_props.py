"""Property-based guards for the Kafka wire codecs (sinks/kafka_wire.py).

The example-based tests in test_kafka_wire.py prove the happy paths the
module docstring promises; these hypothesis properties sweep the codec
pair (encode_X ∘ parse_X = id) across arbitrary topic names, binary
keys/values (including None — Kafka tombstones), partition maps, and
version ranges, plus the two adversarial invariants a wire format must
hold: single-byte payload corruption is caught by the CRC, and the
default-partitioner routing stays in range and deterministic for any
key. Pure-Python, no sockets, no Spark — they run in milliseconds.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings, strategies as st

from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
    encode_api_versions_response_v0,
    encode_metadata_request_v0,
    encode_metadata_response_v0,
    _kstring,
    encode_produce_request_v0_parts,
    encode_produce_response,
    parse_api_versions_response_v0,
    parse_metadata_request_v0,
    parse_metadata_response_v0,
    parse_produce_request_v0,
    parse_produce_response,
    partition_for_key,
)

# Kafka-legal topic characters (broker rejects others; the codec itself
# is UTF-8-clean but properties should sweep the real input space).
_topic = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789._-", min_size=1, max_size=24)
_kv = st.one_of(st.none(), st.binary(max_size=48))
_i16 = st.integers(min_value=0, max_value=2**15 - 1)

_batches = st.dictionaries(
    _topic,
    st.dictionaries(
        st.integers(min_value=0, max_value=63),
        st.lists(st.tuples(_kv, _kv), max_size=6),
        min_size=1, max_size=3,
    ),
    min_size=1, max_size=3,
)


@settings(max_examples=100, deadline=None)
@given(corr=st.integers(min_value=0, max_value=2**31 - 1), batches=_batches,
       acks=st.sampled_from([0, 1, -1]),
       timeout_ms=st.integers(min_value=0, max_value=60_000))
def test_produce_request_roundtrip(corr, batches, acks, timeout_ms):
    frame = encode_produce_request_v0_parts(
        corr, batches, acks=acks, timeout_ms=timeout_ms)
    # size prefix is exact
    assert struct.unpack(">i", frame[:4])[0] == len(frame) - 4
    req = parse_produce_request_v0(frame[4:])
    assert req.correlation_id == corr
    assert req.acks == acks
    assert req.timeout_ms == timeout_ms
    assert req.records == batches


@settings(max_examples=50, deadline=None)
@given(value=st.binary(min_size=8, max_size=32),
       flip=st.integers(min_value=0, max_value=7))
def test_single_byte_corruption_is_caught(value, flip):
    """Flip one byte inside a message VALUE on the wire: the CRC32 the
    producer stamped no longer matches and the broker-side parse must
    refuse the frame rather than log a silently-corrupt record."""
    # a marker prefix that cannot collide with the frame's own header
    # bytes makes the value locatable inside the encoded frame
    marker = b"\xfe\xed\xfa\xce" + value
    frame = encode_produce_request_v0_parts(7, {"t": {0: [(None, marker)]}})
    at = frame.find(marker)
    assert at > 0
    pos = at + 4 + flip                    # flip inside `value`, not marker
    bad = frame[:pos] + bytes([frame[pos] ^ 0x5A]) + frame[pos + 1:]
    with pytest.raises(ValueError, match="CRC"):
        parse_produce_request_v0(bad[4:])


@settings(max_examples=100, deadline=None)
@given(corr=st.integers(min_value=0, max_value=2**31 - 1),
       topics=st.lists(_topic, max_size=5))
def test_metadata_request_roundtrip(corr, topics):
    frame = encode_metadata_request_v0(corr, topics, client_id="prop-client")
    got_corr, client, got_topics = parse_metadata_request_v0(frame[4:])
    assert (got_corr, client, got_topics) == (corr, "prop-client", topics)


_brokers = st.dictionaries(
    st.integers(min_value=0, max_value=1000),
    st.tuples(st.sampled_from(["127.0.0.1", "broker.local"]),
              st.integers(min_value=1, max_value=65535)),
    min_size=1, max_size=4,
)
_leaders = st.dictionaries(
    _topic,
    st.dictionaries(st.integers(min_value=0, max_value=63),
                    st.integers(min_value=0, max_value=1000),
                    min_size=1, max_size=8),
    max_size=3,
)


@settings(max_examples=100, deadline=None)
@given(corr=st.integers(min_value=0, max_value=2**31 - 1),
       brokers=_brokers, leaders=_leaders)
def test_metadata_response_roundtrip(corr, brokers, leaders):
    frame = encode_metadata_response_v0(corr, brokers, leaders)
    got_brokers, got_leaders = parse_metadata_response_v0(frame[4:])
    assert got_brokers == brokers
    assert got_leaders == leaders


@settings(max_examples=100, deadline=None)
@given(corr=st.integers(min_value=0, max_value=2**31 - 1),
       versions=st.dictionaries(
           _i16, st.tuples(_i16, _i16).map(lambda t: (min(t), max(t))),
           max_size=8),
       error_code=st.sampled_from([0, 35]))
def test_api_versions_response_roundtrip(corr, versions, error_code):
    frame = encode_api_versions_response_v0(corr, versions,
                                            error_code=error_code)
    err, got = parse_api_versions_response_v0(frame[4:])
    assert (err, got) == (error_code, versions)


@settings(max_examples=100, deadline=None)
@given(corr=st.integers(min_value=0, max_value=2**31 - 1),
       offsets=st.dictionaries(
           _topic,
           st.dictionaries(
               st.integers(min_value=0, max_value=63),
               st.tuples(st.sampled_from([0, 2, 6]),
                         st.integers(min_value=0, max_value=2**62)),
               min_size=1, max_size=4),
           min_size=1, max_size=3),
       version=st.integers(min_value=0, max_value=3),
       throttle_ms=st.integers(min_value=0, max_value=2**31 - 1))
def test_produce_response_roundtrip(corr, offsets, version, throttle_ms):
    """Every Produce response version round-trips, and its bytes are the
    protocol guide's layout: v0 (partition, error_code, base_offset);
    v1 + trailing throttle_time_ms; v2 and v3 + per-partition
    log_append_time, -1 for create-time records."""
    frame = encode_produce_response(corr, offsets, version=version,
                                    throttle_time_ms=throttle_ms)
    assert parse_produce_response(frame[4:], version) == offsets
    body = struct.pack(">ii", corr, len(offsets))
    for topic, parts in offsets.items():
        body += _kstring(topic) + struct.pack(">i", len(parts))
        for partition, (error_code, base_offset) in parts.items():
            body += struct.pack(">ihq", partition, error_code, base_offset)
            if version >= 2:
                body += struct.pack(">q", -1)
    if version >= 1:
        body += struct.pack(">i", throttle_ms)
    assert frame == struct.pack(">i", len(body)) + body


@settings(max_examples=200, deadline=None)
@given(key=st.one_of(st.none(), st.binary(max_size=64)),
       n=st.integers(min_value=1, max_value=1024))
def test_partition_for_key_in_range_and_deterministic(key, n):
    p = partition_for_key(key, n)
    assert 0 <= p < n
    assert partition_for_key(key, n) == p          # stable across calls
    if key is None:
        assert p == 0                              # documented fallback
