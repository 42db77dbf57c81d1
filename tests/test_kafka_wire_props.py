"""Property-based guards for the Kafka wire codecs (sinks/kafka_wire.py
and the magic-2 record batch of sinks/kafka_wire_v2.py).

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
    _Reader,
)
from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
    _encode_records,
    _parse_records,
    encode_record_batch_v2,
    encode_record_v2,
    encode_varint,
    parse_record_batch_v2,
    parse_record_batches_v2,
    record_size_v2,
)
from tests.test_kafka_wire_v2 import _batch_of

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


# ------------------------------------------------ record batch v2 (magic 2)

# Lengths on each varint-width boundary: 63/64 (one → two bytes),
# 8191/8192 (two → three, the end of the varint table) and
# 1,048,575/1,048,576 (three → four).
_boundary_blob = st.sampled_from(
    [0, 1, 63, 64, 8191, 8192, 1_048_575, 1_048_576]).map(lambda n: b"\x5a" * n)
_v2_blob = st.one_of(st.none(), st.binary(max_size=96), _boundary_blob)
_v2_msgs = st.lists(st.tuples(_v2_blob, _v2_blob), max_size=8)
# leading tombstones push the drawn records' offset deltas across the
# one/two-byte boundary and past the varint table
_pad = st.sampled_from([0, 60, 8185, 8192])
_headers = st.lists(
    st.tuples(st.text(max_size=8), st.one_of(st.none(), st.binary(max_size=16))),
    max_size=3)


def _reference_parse_records(block: bytes, count: int) -> list:
    """The per-record ``_Reader`` loop the single-pass decoder replaced:
    one reader per record, one ``take(1)`` per varint byte."""
    def varint(r: _Reader) -> int:
        u = shift = 0
        while True:
            b = r.take(1)[0]
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                return (u >> 1) ^ -(u & 1)
            shift += 7
            if shift > 70:
                raise ValueError("varint longer than 10 bytes")

    r = _Reader(block)
    out = []
    for _ in range(count):
        rec = _Reader(r.take(varint(r)))
        rec.i8()                                   # attributes
        varint(rec)                                # timestampDelta
        offset_delta = varint(rec)
        klen = varint(rec)
        key = None if klen < 0 else rec.take(klen)
        vlen = varint(rec)
        value = None if vlen < 0 else rec.take(vlen)
        for _h in range(varint(rec)):
            rec.take(varint(rec))
            hvlen = varint(rec)
            if hvlen > 0:
                rec.take(hvlen)
        out.append((offset_delta, key, value))
    return out


@settings(max_examples=60, deadline=None)
@given(msgs=_v2_msgs, pad=_pad)
def test_batch_encoder_is_byte_identical_to_per_record_encoder(msgs, pad):
    msgs = [(None, None)] * pad + msgs
    want = b"".join(encode_record_v2(i, 0, k, v) for i, (k, v) in enumerate(msgs))
    assert _encode_records(msgs) == want
    assert [record_size_v2(i, k, v) for i, (k, v) in enumerate(msgs)] == [
        len(encode_record_v2(i, 0, k, v)) for i, (k, v) in enumerate(msgs)]


@settings(max_examples=60, deadline=None)
@given(msgs=_v2_msgs, pad=_pad, base=st.integers(0, 2**40))
def test_record_batch_roundtrip_with_offsets(msgs, pad, base):
    msgs = [(None, None)] * pad + msgs
    batch = encode_record_batch_v2(msgs, base_offset=base)
    assert parse_record_batch_v2(batch) == msgs
    assert parse_record_batches_v2(batch) == [
        (base + i, k, v) for i, (k, v) in enumerate(msgs)]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.one_of(st.none(), st.binary(max_size=48)),
                          st.one_of(st.none(), st.binary(max_size=48)),
                          _headers), max_size=8))
def test_records_with_headers_spliced_in_roundtrip_and_match_reference(recs):
    block = b"".join(encode_record_v2(i, 0, k, v, headers=h)
                     for i, (k, v, h) in enumerate(recs))
    want = [(i, k, v) for i, (k, v, _h) in enumerate(recs)]
    assert _parse_records(block, 0, len(recs), 0) == want
    assert _reference_parse_records(block, len(recs)) == want
    assert parse_record_batches_v2(_batch_of(block, len(recs))) == want


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(st.one_of(st.none(), st.binary(max_size=80)),
                          st.one_of(st.none(), st.binary(max_size=200)),
                          _headers), min_size=1, max_size=4))
def test_every_truncation_point_raises(recs):
    """Every proper prefix of a records block, and of the batch around
    it, raises ValueError, as the reference decoder does; the full
    block decodes the same through both."""
    block = b"".join(encode_record_v2(i, 0, k, v, headers=h)
                     for i, (k, v, h) in enumerate(recs))
    n = len(recs)
    assert _parse_records(block, 0, n, 0) == _reference_parse_records(block, n)
    for t in range(len(block)):
        with pytest.raises(ValueError):
            _parse_records(block[:t], 0, n, 0)
        with pytest.raises(ValueError):
            _reference_parse_records(block[:t], n)
    batch = _batch_of(block, n)
    for t in range(len(batch)):
        with pytest.raises(ValueError):
            parse_record_batch_v2(batch[:t])
    for t in range(1, len(batch)):             # no bytes: zero batches
        with pytest.raises(ValueError):
            parse_record_batches_v2(batch[:t])


@settings(max_examples=60, deadline=None)
@given(key=st.one_of(st.none(), st.binary(max_size=80)),
       value=st.one_of(st.none(), st.binary(max_size=200)),
       headers=_headers, short=st.integers(1, 6))
def test_length_prefix_shorter_than_fields_raises(key, value, headers, short):
    """A record whose fields run past its own length prefix is refused
    by both decoders, even when the bytes after it would carry them."""
    rec = encode_record_v2(0, 0, key, value, headers=headers)
    body_len = next(n for n in range(len(rec))
                    if len(encode_varint(n)) + n == len(rec))
    block = encode_varint(body_len - short) + rec[len(rec) - body_len:]
    with pytest.raises(ValueError):
        _parse_records(block, 0, 1, 0)
    with pytest.raises(ValueError):
        _reference_parse_records(block, 1)
