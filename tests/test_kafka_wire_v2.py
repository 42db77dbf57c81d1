"""Executed proof for the magic-2 record-batch wire leg
(sinks/kafka_wire_v2.py, r11 verdict stretch item 8): CRC-32C pinned to
its published vector, varint/zigzag property round-trips, record-batch
codec + corruption detection, version-dispatched broker double, the
producer's ``wire_version=3`` dialect, and the driver-hashed fixture.
The producer tests both dialects share (retry, exhausted retries,
handshake refusal in both directions, Spark-task multiset) are
parametrized over ``wire_version`` in test_kafka_wire.py.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings, strategies as st

from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
    WireBroker,
    encode_produce_response,
    parse_produce_response,
    produce_rows,
)
from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
    crc32c,
    encode_produce_request_v3,
    encode_record_batch_v2,
    encode_record_v2,
    encode_varint,
    kafka_wire_v2_roundtrip,
    parse_produce_request_v3,
    parse_record_batch_v2,
    parse_record_batches_v2,
)
from tests.conftest import SF_DIR, assert_oracle_match


# ------------------------------------------------------------------ crc32c

def test_crc32c_published_vectors():
    """RFC 3720 §B.4 check vector + boundary cases (an implementation
    that merely round-trips with itself would hide a polynomial or
    reflection bug — only published vectors prove interop with real
    brokers)."""
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0x00000000
    assert crc32c(b"\x00" * 32) == 0x8A9136AA  # RFC 3720: 32 zeros
    assert crc32c(b"\xff" * 32) == 0x62A8AB43  # RFC 3720: 32 ones
    assert crc32c(bytes(range(32))) == 0x46DD794E  # incrementing
    assert crc32c(bytes(range(31, -1, -1))) == 0x113FDB5C  # decrementing


def _crc32c_bytewise(data: bytes) -> int:
    """Reference: the plain RFC 3720 bytewise table walk, built here
    independently of the module under test."""
    table = []
    for n in range(256):
        for _ in range(8):
            n = (n >> 1) ^ 0x82F63B78 if n & 1 else n >> 1
        table.append(n)
    crc = 0xFFFFFFFF
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _random_bytes(n: int, seed: int) -> bytes:
    import numpy as np

    return np.random.default_rng(seed).integers(
        0, 256, n, dtype=np.uint8).tobytes()


def test_crc32c_equals_bytewise_around_lane_and_cutover_sizes():
    """Every length across the bytewise/lane cut-over and the first
    lane-count doublings, so partial lanes (lengths that are not a
    multiple of the lane width) and odd lane counts are all walked."""
    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        _CRC32C_LANE,
        _CRC32C_SHORT,
    )

    data = _random_bytes(_CRC32C_SHORT + 9 * _CRC32C_LANE, 7)
    for n in range(_CRC32C_SHORT - 8, len(data) + 1):
        assert crc32c(data[:n]) == _crc32c_bytewise(data[:n]), n
    zeros = bytes(4 * _CRC32C_SHORT)
    assert crc32c(zeros) == _crc32c_bytewise(zeros)


@settings(max_examples=40, deadline=None)
@given(st.one_of(st.integers(0, 8192), st.integers(0, 2 * 1024 * 1024)),
       st.integers(0, 2**32 - 1))
def test_crc32c_equals_bytewise_property(n, seed):
    data = _random_bytes(n, seed)
    want = _crc32c_bytewise(data)
    assert crc32c(data) == want
    assert crc32c(bytearray(data)) == crc32c(memoryview(data)) == want


# --------------------------------------------------------- varint / zigzag

@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_varint_roundtrip_any_int64(n):
    """Any int64 written as a record's offset and timestamp deltas reads
    back through the batch decoder: one-byte varints take its inline
    path, longer ones its helper."""
    batch = _batch_of(encode_record_v2(n, n, b"k", b"v"), 1)
    assert parse_record_batches_v2(batch) == [(n, b"k", b"v")]


def test_overlong_varint_refused():
    """An offset delta of 11 continuation bytes is refused as over-long,
    not read as a wrapped number."""
    body = b"\x00\x00" + b"\xff" * 11 + b"\x01" + b"\x01\x01\x00"
    batch = _batch_of(encode_varint(len(body)) + body, 1)
    with pytest.raises(ValueError, match="varint longer than 10 bytes"):
        parse_record_batches_v2(batch)


def test_varint_known_encodings():
    """Zigzag pins: 0→00, -1→01, 1→02, -2→03 (protobuf/Kafka shared
    encoding) — a sign-handling bug would still round-trip."""
    assert encode_varint(0) == b"\x00"
    assert encode_varint(-1) == b"\x01"
    assert encode_varint(1) == b"\x02"
    assert encode_varint(-2) == b"\x03"
    assert encode_varint(150) == b"\xac\x02"  # zigzag(150)=300=0b100101100


# ------------------------------------------------------------ record batch

def _batch_of(records: bytes, count: int) -> bytes:
    """An uncompressed baseOffset-0 RecordBatch around already-encoded
    records: the splice for records the batch encoder does not write."""
    crc_span = struct.pack(">hiqqqhii", 0, max(count - 1, 0), 0, 0, -1, -1,
                           -1, count) + records
    head = struct.pack(">iBI", -1, 2, crc32c(crc_span))
    return struct.pack(">qi", 0, len(head) + len(crc_span)) + head + crc_span


_blob = st.one_of(st.none(), st.binary(max_size=64))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(_blob, _blob), min_size=0, max_size=16),
       st.integers(min_value=0, max_value=2**40),
       st.sampled_from(["none", "gzip", "snappy", "lz4", "zstd"]))
def test_record_batch_roundtrip_property(msgs, ts, codec):
    assert parse_record_batch_v2(
        encode_record_batch_v2(msgs, base_timestamp=ts, compression=codec)
    ) == msgs


def test_gzip_batch_attributes_and_determinism():
    """gzip batches carry codec bit 1, are byte-deterministic (mtime
    pinned — the fixture-hash requirement), reject unknown codecs, and
    corruption inside the COMPRESSED block still fails the batch CRC
    (the CRC covers the compressed bytes, per spec)."""
    msgs = [(b"k" * 50, b"v" * 500), (None, b"x" * 500)]
    a = encode_record_batch_v2(msgs, compression="gzip")
    b = encode_record_batch_v2(msgs, compression="gzip")
    assert a == b
    assert len(a) < len(encode_record_batch_v2(msgs)) // 2
    attrs = int.from_bytes(a[21:23], "big")  # 8+4+4+1+4 header bytes
    assert attrs & 0x07 == 1
    with pytest.raises(ValueError, match="compression"):
        encode_record_batch_v2(msgs, compression="brotli")
    bad = bytearray(a)
    bad[-3] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-32C"):
        parse_record_batch_v2(bytes(bad))


def test_record_batch_corruption_detected():
    batch = bytearray(encode_record_batch_v2([(b"k", b"v"), (None, b"x")]))
    batch[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-32C"):
        parse_record_batch_v2(bytes(batch))
    # magic guard
    batch2 = bytearray(encode_record_batch_v2([(b"k", b"v")]))
    batch2[16] = 1  # magic byte offset: 8 (baseOffset) + 4 (len) + 4 (epoch)
    with pytest.raises(ValueError, match="magic"):
        parse_record_batch_v2(bytes(batch2))


def test_record_with_headers_roundtrips():
    # headers are encoded and skipped on decode (the log stores k/v) —
    # the parser must consume them exactly, or every following record
    # frame-shifts
    rec = encode_record_v2(0, 0, b"k", b"v", headers=[("h1", b"x"), ("h2", b"")])
    tail = encode_record_v2(1, 0, b"a", b"b")
    assert parse_record_batch_v2(_batch_of(rec + tail, 2)) == [
        (b"k", b"v"), (b"a", b"b")]


# ------------------------------------------------------------- produce v3

def test_produce_v3_codec_roundtrip():
    batches = {
        "t-a": [(b"k1", b"v1"), (None, b"only-value"), (b"only-key", None)],
        "t-b": [(b"k2", "émoji ✓".encode("utf-8"))],
    }
    frame = encode_produce_request_v3(9, batches, acks=1, timeout_ms=1234)
    req = parse_produce_request_v3(frame[4:])
    assert req.correlation_id == 9
    assert req.acks == 1 and req.timeout_ms == 1234
    assert req.records == {t: {0: msgs} for t, msgs in batches.items()}
    resp = encode_produce_response(9, {"t-a": {0: (0, 17)}}, version=3)
    assert parse_produce_response(resp[4:], 3) == {"t-a": {0: (0, 17)}}


# --------------------------------------------------- broker double dispatch

def _rows(n=10, topic="v2-topic"):
    return [{"key": f"k{i}", "value": f"v{i}", "topic": topic} for i in range(n)]


def test_broker_double_accepts_both_dialects_same_log():
    """Version dispatch like a real broker: v0 message sets and v2
    record batches land in the same decoded log."""
    with WireBroker() as broker:
        produce_rows(iter(_rows(5, "mixed")), "127.0.0.1", broker.port)
        produce_rows(iter(_rows(5, "mixed")), "127.0.0.1", broker.port,
                     wire_version=3)
        records = broker.records("mixed")
    assert records == [
        (f"k{i}".encode(), f"v{i}".encode()) for i in range(5)
    ] * 2


def test_v2_gzip_produce_lands_decoded():
    """The compressed path end-to-end: gzip batches over TCP, broker
    decompresses inside the batch parser, same decoded log."""
    with WireBroker() as broker:
        sent = produce_rows(
            iter(_rows(8, "gz")), "127.0.0.1", broker.port,
            wire_version=3, compression="gzip",
        )
        records = broker.records("gz")
    assert sent == 8
    assert records == [(f"k{i}".encode(), f"v{i}".encode()) for i in range(8)]


# ---------------------------------------------------------------- fixture

def test_kafka_wire_v2_roundtrip_matches_oracle(spark, duck):
    from hyperswitch_data_backfill_spark.registry import (
        REGISTRY,
        _load_all_operator_modules,
    )

    _load_all_operator_modules()
    q = REGISTRY["kafka_wire_v2_roundtrip"]
    df = kafka_wire_v2_roundtrip(spark, SF_DIR)
    assert df.count() > 0
    assert_oracle_match(df, duck, q.oracle, name="kafka_wire_v2_roundtrip")


def test_broker_serves_every_advertised_produce_version():
    """r12 review finding: the double advertises Produce 0..3, so a
    conforming client picking v1 or v2 (magic-0 OR magic-1 message
    sets) must be SERVED, not dropped as malformed. Raw-socket v1/v2
    requests land in the log and get version-correct responses."""
    import io
    import socket
    import struct
    import zlib

    from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
        _kstring,
        encode_message_v0,
    )

    def msg_v1(key, value, ts=123456):
        body = struct.pack(">bbq", 1, 0, ts) + b"".join(
            struct.pack(">i", len(b)) + b if b is not None else struct.pack(">i", -1)
            for b in (key, value)
        )
        return struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF) + body

    def produce_req(version, corr, topic, messages, magic):
        mset = io.BytesIO()
        for k, v in messages:
            m = msg_v1(k, v) if magic == 1 else encode_message_v0(k, v)
            mset.write(struct.pack(">qi", 0, len(m)))
            mset.write(m)
        ms = mset.getvalue()
        body = io.BytesIO()
        body.write(struct.pack(">hhi", 0, version, corr))
        body.write(_kstring("legacy-client"))
        body.write(struct.pack(">hi", 1, 5000))
        body.write(struct.pack(">i", 1))
        body.write(_kstring(topic))
        body.write(struct.pack(">i", 1))
        body.write(struct.pack(">ii", 0, len(ms)))
        body.write(ms)
        payload = body.getvalue()
        return struct.pack(">i", len(payload)) + payload

    from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
        WireBroker,
        _recv_frame,
        _Reader,
    )

    with WireBroker() as broker:
        with socket.create_connection(("127.0.0.1", broker.port), timeout=5) as s:
            # v1 request, magic-0 messages
            s.sendall(produce_req(1, 11, "legacy", [(b"k1", b"v1")], magic=0))
            r = _Reader(_recv_frame(s))
            assert r.i32() == 11                        # correlation
            assert r.i32() == 1                         # one topic
            assert r.string() == "legacy"
            assert r.i32() == 1                         # one partition entry
            r.i32()                                     # partition id
            assert r.i16() == 0                         # error code
            r.i64()                                     # base offset
            assert r.i32() == 0                         # throttle_time (v1 tail)
            # v2 request, magic-1 messages (timestamped)
            s.sendall(produce_req(2, 12, "legacy", [(b"k2", b"v2")], magic=1))
            r = _Reader(_recv_frame(s))
            assert r.i32() == 12
            assert r.i32() == 1
            assert r.string() == "legacy"
            assert r.i32() == 1                         # one partition entry
            r.i32()                                     # partition id
            assert r.i16() == 0                         # error code
            r.i64()                                     # base offset
            assert r.i64() == -1                        # log_append_time (v2)
            assert r.i32() == 0                         # throttle_time
        assert broker.records("legacy") == [(b"k1", b"v1"), (b"k2", b"v2")]
        assert broker.errors == []


def test_routed_producer_speaks_v2_dialect():
    """routing × modern dialect: the leader-routed producer with
    wire_version=3 (gzip batches) bootstraps Metadata, murmur2-routes,
    and lands every record on its partition's leader as magic-2
    batches — brokers still REFUSE non-led partitions, so a green log
    proves routing worked in the new dialect too."""
    from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
        WireCluster,
        partition_for_key,
    )

    rows = [
        {"key": f"rk{i}", "value": f"rv{i}", "topic": "routed-v2"}
        for i in range(40)
    ]
    with WireCluster(n_brokers=2, topics={"routed-v2": 4}) as cluster:
        host, port = cluster.bootstrap
        sent = produce_rows(
            iter(rows), host, port, wire_version=3, compression="gzip"
        )
        landed = cluster.all_records()
    assert sent == 40
    by_part: dict[int, set] = {}
    for topic, partition, _node, key, value in landed:
        assert topic == "routed-v2"
        by_part.setdefault(partition, set()).add((key, value))
    got = set().union(*by_part.values())
    assert got == {(f"rk{i}".encode(), f"rv{i}".encode()) for i in range(40)}
    for partition, kvs in by_part.items():
        for key, _v in kvs:
            assert partition_for_key(key, 4) == partition


def test_routed_v2_rejects_bad_knobs():
    with pytest.raises(ValueError, match="wire_version"):
        produce_rows(iter([]), "127.0.0.1", 1, wire_version=2)
    with pytest.raises(ValueError, match="compression"):
        produce_rows(iter([]), "127.0.0.1", 1, compression="gzip")


def test_snappy_zstd_batches_attributes_and_corruption():
    """r12 verdict stretch item 8: snappy (codec bits 2) and zstd (4)
    batches ride pyarrow's codecs with the content size recovered from
    the STREAM itself (snappy's leading uvarint; zstd's RFC 8878
    Frame_Content_Size) — and corruption inside the compressed block
    still fails the batch CRC, same as gzip."""
    msgs = [(b"k" * 50, b"v" * 500), (None, b"x" * 500), (b"q", None)]
    for codec, bits in (("snappy", 2), ("lz4", 3), ("zstd", 4)):
        buf = encode_record_batch_v2(msgs, compression=codec)
        assert parse_record_batch_v2(buf) == msgs
        attrs = int.from_bytes(buf[21:23], "big")
        assert attrs & 0x07 == bits
        assert len(buf) < len(encode_record_batch_v2(msgs))
        bad = bytearray(buf)
        bad[-3] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            parse_record_batch_v2(bytes(bad))


def test_snappy_zstd_wire_roundtrip_over_tcp():
    """Both new codecs through the full socket path: produce v3 with
    compression, broker double decodes into the same log."""
    from hyperswitch_data_backfill_spark.sinks.kafka_wire import WireBroker

    for codec in ("snappy", "lz4", "zstd"):
        rows = [{"key": f"k{i}", "value": f"v{i}" * 40, "topic": f"t-{codec}"}
                for i in range(25)]
        with WireBroker() as b:
            sent = produce_rows(iter(rows), "127.0.0.1", b.port,
                                batch_size=10, wire_version=3,
                                compression=codec)
            assert sent == 25
            got = b.records(f"t-{codec}")
            assert got == [(f"k{i}".encode(), (f"v{i}" * 40).encode())
                           for i in range(25)]


# ------------------------------------------------------------- LZ4 frame


def test_xxh32_published_vectors():
    """XXH32 pinned to the published xxHash test values (same discipline
    as the CRC-32C RFC 3720 pin)."""
    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import xxh32

    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"a") == 0x550D7456
    assert xxh32(b"abc") == 0x32D153FF
    assert xxh32(b"", seed=1) == 0x0B2CB792


def test_lz4_frame_roundtrip_and_content_size():
    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        lz4_frame_compress,
        lz4_frame_decompress,
    )

    for payload in (b"", b"short", b"ab" * 5000, bytes(range(256)) * 300):
        frame = lz4_frame_compress(payload)
        assert lz4_frame_decompress(frame) == payload
        # FLG 0x68: version 01, independent blocks, ContentSize present
        assert frame[4] == 0x68
        import struct as _s

        assert _s.unpack_from("<Q", frame, 6)[0] == len(payload)


def test_lz4_frame_cross_decode_with_pyarrow():
    """Cross-encoder interop both directions: pyarrow's LZ4-frame codec
    (an independent real implementation) decodes OUR frames, and our
    from-spec parser decodes pyarrow's frames — which carry NO
    ContentSize, exercising the pure-Python block-decode path."""
    import pyarrow as pa

    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        lz4_frame_compress,
        lz4_frame_decompress,
    )

    payload = b"the quick brown fox " * 2000
    theirs = pa.Codec("lz4").compress(payload, asbytes=True)
    assert lz4_frame_decompress(theirs) == payload
    ours = lz4_frame_compress(payload)
    assert pa.Codec("lz4").decompress(
        ours, decompressed_size=len(payload), asbytes=True) == payload
    # >64 KB forces pyarrow into MULTI-BLOCK BLOCK-LINKED mode (FLG
    # independence bit unset; matches reach into prior blocks): the
    # windowed Python decoder must handle the linkage
    big = (b"the quick brown fox jumps over 12345 " * 60000)[: 2 << 20]
    linked = pa.Codec("lz4").compress(big, asbytes=True)
    assert (linked[4] >> 5) & 1 == 0  # really linked mode
    assert lz4_frame_decompress(linked) == big


def test_lz4_block_decoded_size_matches_actual():
    """The sequence-header size walk (the native-path validator) agrees
    with the actual decode on real blocks of every shape."""
    import os as _os

    import pyarrow as pa

    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        _lz4_block_decompress,
        _lz4_block_decoded_size,
    )

    raw = pa.Codec("lz4_raw")
    for payload in (b"a", b"ab" * 5000, _os.urandom(300),
                    b"x" * 70000, bytes(range(256)) * 100):
        block = raw.compress(payload, asbytes=True)
        assert _lz4_block_decoded_size(block) == len(payload)
        assert _lz4_block_decompress(block, 4 << 20) == payload


def test_lz4_block_decoded_size_refuses_truncation():
    """Truncated/corrupt blocks must raise, never return an INFLATED
    size: the size goes to pyarrow's one-shot decompressor, which pads
    an oversized destination with uninitialized memory instead of
    erroring — a silent-wrong-bytes path (r14 ADVICE)."""
    import pyarrow as pa
    import pytest as _pytest

    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        _lz4_block_decoded_size,
    )

    raw = pa.Codec("lz4_raw")
    block = raw.compress(b"ab" * 5000, asbytes=True)
    # The error contract is UNIFORM: every truncation raises the walk's
    # own ValueError, never a bare IndexError leaking from an unchecked
    # src[i] (r15 ADVICE — the old continuation loops leaked one and
    # this test masked it by accepting both types).
    # cut inside the final literal run: the run claims bytes past the
    # end — the old walk counted them anyway (i += lit unchecked)
    with _pytest.raises(ValueError):
        _lz4_block_decoded_size(block[: len(block) - 1])
    # a match offset truncated to one byte (1 literal + half an offset)
    with _pytest.raises(ValueError):
        _lz4_block_decoded_size(bytes([0x14]) + b"z\x01")
    # a literal run claiming bytes past the block's end
    with _pytest.raises(ValueError):
        _lz4_block_decoded_size(bytes([0x50]) + b"ab")  # 5 lits, 2 present
    # a length-byte continuation (0xF token nibble) cut mid-run
    with _pytest.raises(ValueError):
        _lz4_block_decoded_size(bytes([0xF0, 0xFF]))
    with _pytest.raises(ValueError):  # match-length continuation cut
        _lz4_block_decoded_size(bytes([0x1F]) + b"z\x01\x00\xff")
    # every truncation point raises ValueError or reports ≤ true size
    true_size = _lz4_block_decoded_size(block)
    for cut in range(1, len(block)):
        try:
            got = _lz4_block_decoded_size(block[:cut])
        except ValueError:
            continue
        assert got <= true_size


def test_lz4_frame_refuses_corruption():
    import struct as _s

    import pytest as _pytest

    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        lz4_frame_compress,
        lz4_frame_decompress,
    )

    frame = bytearray(lz4_frame_compress(b"payload" * 100))
    bad = bytearray(frame)
    bad[5] ^= 0x10  # descriptor bit flip → header checksum mismatch
    with _pytest.raises(ValueError, match="header checksum"):
        lz4_frame_decompress(bytes(bad))
    bad = bytearray(frame)
    _s.pack_into("<Q", bad, 6, 999)  # ContentSize lie
    bad[14] = (  # re-seal the header checksum so the SIZE check trips
        __import__(
            "hyperswitch_data_backfill_spark.sinks.kafka_wire_v2",
            fromlist=["xxh32"],
        ).xxh32(bytes(bad[4:14])) >> 8
    ) & 0xFF
    with _pytest.raises(ValueError, match="ContentSize"):
        lz4_frame_decompress(bytes(bad))
    with _pytest.raises(ValueError, match="magic"):
        lz4_frame_decompress(b"\x00\x11\x22\x33rest")


def test_lz4_stored_block_path():
    """Incompressible content falls back to a stored block (high bit of
    the block-size word) and still round-trips."""
    import os as _os

    from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
        lz4_frame_compress,
        lz4_frame_decompress,
    )

    payload = _os.urandom(4096)  # incompressible
    frame = lz4_frame_compress(payload)
    import struct as _s

    (word,) = _s.unpack_from("<I", frame, 15)  # first block size word
    assert word >> 31 == 1  # stored, not compressed
    assert lz4_frame_decompress(frame) == payload
