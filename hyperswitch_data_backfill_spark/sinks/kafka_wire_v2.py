"""Kafka Produce v3 / record-batch v2 (magic 2) wire leg — r11 verdict
stretch item 8.

The v0 leg (kafka_wire.py) speaks the oldest stable dialect; real 2.x+
brokers still accept it, but their DEFAULT path — what rdkafka and the
Java client actually send since Kafka 0.11 / KIP-98 — is the v2
**record batch**: varint/zigzag-packed records, per-batch (not
per-message) CRC-32C, timestamps, and idempotent-producer fields. This
module closes that gap from the public spec
(kafka.apache.org/protocol: RecordBatch + Record grammars, Produce v3
request/response; CRC-32C per RFC 3720 §B.4, pinned to its published
test vector) with the same executed-proof discipline as the v0 leg:

- codec round-trips + corruption detection + hypothesis property tests
  (tests/test_kafka_wire_v2.py; the one-pass batch encoder and decoder
  against their per-record references in tests/test_kafka_wire_props.py),
- ``encode_produce_request_v3_parts``, the codec the one producer
  (``kafka_wire.produce_rows``) looks up for ``wire_version=3``, and
  ``write_kafka_wire_v2``, which drives that producer per Spark task:
  its KIP-35 handshake REQUIRES Produce v3, refusing a v0-only broker
  the same way ``wire_version=0`` refuses a broker without Produce v0,
- the broker double (kafka_wire.WireBroker) now parses BOTH dialects,
  version-dispatched exactly like a real broker, storing decoded
  records in the same log either way,
- the driver-hashed fixture key ``kafka_wire_v2_roundtrip``.

Like the v0 leg this is a TEST DOUBLE of the wire path, not a
production sink (at 100 TB: ``write_kafka`` + connector jar, where the
JVM client batches/compresses). producerId=-1 (non-idempotent) — the
default un-configured producer shape; batch compression (attribute
bits 0-2) supports gzip (stdlib, byte-deterministic), snappy and zstd
(r13 — pyarrow codecs, content size recovered from the stream itself:
snappy's leading uvarint, zstd's RFC 8878 Frame_Content_Size), and —
r14 — lz4: a from-spec LZ4 Frame layer (lz4_Frame_format.md) whose
produce side writes frames WITH ContentSize + the XXH32 header
checksum (pyarrow's lz4_raw codec for the block compression), and
whose consume side parses ANY conforming frame — ContentSize absent,
multi-block, uncompressed blocks — via a from-spec pure-Python LZ4
block decoder, so real mixed-client topics (librdkafka defaults to
lz4) decode instead of refusing. The point is executed, assertable
magic-2 bytes on a real socket, not a client library.
"""

from __future__ import annotations

import gzip
import io
import struct

import numpy as np
from pyspark.sql import DataFrame

from hyperswitch_data_backfill_spark.registry import register
from hyperswitch_data_backfill_spark.sinks.kafka import _intent_payload_frame
from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
    _API_PRODUCE,
    _Reader,
    _kstring,
    ProduceRequest,
    produce_rows,
)

PRODUCE_V3 = 3
_MAGIC_V2 = 2

# ------------------------------------------------------------- CRC-32C
# Castagnoli polynomial 0x1EDC6F41 (reflected 0x82F63B78), init/xorout
# 0xFFFFFFFF — RFC 3720 §B.4; the published check vector
# crc32c(b"123456789") == 0xE3069283 is pinned in tests.
#
# A CRC without init/xorout is linear over GF(2): the register after
# A||B is shift(crc(A), len(B)) ^ crc(B), where shift(r, k) runs the
# register over k zero bytes. Long inputs are therefore cut into equal
# lanes whose registers advance together, one numpy table step per
# 4-byte word column, and the lane registers are folded pairwise up a
# binary tree, each level shifting the left halves by its lane length.
# shift(r, k) is itself linear in r, so for each k = 2**i one table per
# register byte holds it (_CRC32C_SHIFT[i]). The init value is folded
# in by inverting the first four message bytes (equivalent for a
# table-driven reflected CRC); leading zero padding leaves an
# init-free register at 0, which is what makes padding and odd lane
# counts free. Inputs shorter than _CRC32C_SHORT keep the bytewise walk,
# which beats the numpy set-up cost there.

_CRC32C_TABLE: list[int] = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)

_CRC32C_LANE = 32      # bytes per lane: a power of two, a multiple of 4
_CRC32C_SHORT = 1024   # below this many bytes the bytewise walk is faster


def _crc32c_shift(regs: np.ndarray, tables: np.ndarray) -> np.ndarray:
    """Apply a per-byte shift table set (4 x 256) to little-endian u32
    registers: XOR of one table lookup per register byte."""
    b = regs.view(np.uint8).reshape(-1, 4)
    return (tables[0][b[:, 0]] ^ tables[1][b[:, 1]]
            ^ tables[2][b[:, 2]] ^ tables[3][b[:, 3]])


def _crc32c_shift_tables(levels: int) -> list[np.ndarray]:
    """[i] = tables shifting a register over 2**i zero bytes."""
    table = np.array(_CRC32C_TABLE, dtype="<u4")
    regs = (np.arange(256, dtype="<u4")
            << (8 * np.arange(4, dtype="<u4"))[:, None])
    out = [table[regs & 0xFF] ^ (regs >> 8)]   # one zero byte
    for _ in range(levels - 1):                # 2**(i+1) = 2**i twice
        out.append(_crc32c_shift(out[-1].reshape(-1), out[-1]).reshape(4, 256))
    return out


# 2**48 bytes of lanes: far past any frame a 32-bit length can carry
_CRC32C_SHIFT = _crc32c_shift_tables(48)


def crc32c(data: bytes) -> int:
    n = len(data)
    if n < _CRC32C_SHORT:
        crc = 0xFFFFFFFF
        for b in data:
            crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
        return crc ^ 0xFFFFFFFF
    pad = -n % _CRC32C_LANE
    buf = np.zeros(pad + n, dtype=np.uint8)
    buf[pad:] = np.frombuffer(data, dtype=np.uint8)
    buf[pad:pad + 4] ^= 0xFF                   # the 0xFFFFFFFF init
    words = buf.view("<u4").reshape(-1, _CRC32C_LANE // 4).T.copy()
    step = _CRC32C_SHIFT[2]                    # a word is 4 bytes
    regs = np.zeros(words.shape[1], dtype="<u4")
    for column in words:
        regs = _crc32c_shift(regs ^ column, step)
    level = _CRC32C_LANE.bit_length() - 1      # lane length = 2**level
    while len(regs) > 1:
        if len(regs) & 1:                      # a leading zero lane
            regs = np.concatenate((np.zeros(1, dtype="<u4"), regs))
        regs = (_crc32c_shift(regs[0::2].copy(), _CRC32C_SHIFT[level])
                ^ regs[1::2])
        level += 1
    return int(regs[0]) ^ 0xFFFFFFFF


# ------------------------------------------------- varint / zigzag
# Record-level integers are zigzag varints (protocol guide: the same
# encoding as protobuf); batch-level integers stay fixed-width.

def zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def encode_varint(n: int) -> bytes:
    """Zigzag varint (signed, up to 64-bit)."""
    u = zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# The varints of 0..8191, every non-negative value that encodes in one
# or two bytes: record lengths, offset deltas and key/value lengths of
# ordinary records fall inside it, and encode_varint covers the rest.
_VARINTS = tuple(encode_varint(n) for n in range(8192))
_N_VARINTS = len(_VARINTS)


def _varint_at(buf: bytes, i: int, end: int) -> tuple[int, int]:
    """(value, next index) of the zigzag varint at ``buf[i]``, which
    must end before ``end``."""
    u = shift = 0
    while True:
        if i >= end:
            raise ValueError("truncated Kafka frame")
        b = buf[i]
        i += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return unzigzag(u), i
        shift += 7
        if shift > 70:
            raise ValueError("varint longer than 10 bytes")


# ----------------------------------------------------- record batch v2

def encode_record_v2(
    offset_delta: int,
    timestamp_delta: int,
    key: bytes | None,
    value: bytes | None,
    headers: list[tuple[str, bytes]] | None = None,
) -> bytes:
    """One magic-2 Record, length-prefixed (varint): attributes 0, then
    the timestamp and offset deltas, key, value and headers, a null key,
    value or header value written as length -1. This is the general
    path: ``encode_record_batch_v2`` writes header-less, timestamp-delta-0
    records in one pass of its own, pinned byte-for-byte to this
    function by tests/test_kafka_wire_props.py."""
    if headers is None:
        headers = ()
    body = io.BytesIO()
    body.write(b"\x00")  # record attributes: unused, must be 0
    body.write(encode_varint(timestamp_delta))
    body.write(encode_varint(offset_delta))
    for blob in (key, value):
        if blob is None:
            body.write(encode_varint(-1))
        else:
            body.write(encode_varint(len(blob)))
            body.write(blob)
    body.write(encode_varint(len(headers)))
    for hk, hv in headers:
        hkb = hk.encode("utf-8")
        body.write(encode_varint(len(hkb)))
        body.write(hkb)
        if hv is None:
            body.write(encode_varint(-1))
        else:
            body.write(encode_varint(len(hv)))
            body.write(hv)
    payload = body.getvalue()
    return encode_varint(len(payload)) + payload


def _varint_size(n: int) -> int:
    return len(_VARINTS[n]) if 0 <= n < _N_VARINTS else len(encode_varint(n))


def record_size_v2(
    offset_delta: int, key: bytes | None, value: bytes | None,
) -> int:
    """``len(encode_record_v2(offset_delta, 0, key, value))``, from the
    varint table without encoding the record."""
    body = 3 + _varint_size(offset_delta)  # attributes, timestamp 0, 0 headers
    for blob in (key, value):
        body += 1 if blob is None else _varint_size(len(blob)) + len(blob)
    return _varint_size(body) + body


def _encode_records(
    messages: list[tuple[bytes | None, bytes | None]],
) -> bytes:
    """The records of a batch, ``b"".join(encode_record_v2(i, 0, k, v)
    for i, (k, v) in enumerate(messages))``, built in one pass: every
    varint comes from ``_VARINTS`` (``encode_varint`` past its end) and
    every part goes into one list joined once."""
    varints, n_varints = _VARINTS, _N_VARINTS
    parts: list[bytes] = []
    for delta, (key, value) in enumerate(messages):
        delta_bytes = (varints[delta] if delta < n_varints
                       else encode_varint(delta))
        if key is None:
            klen, key = b"\x01", b""          # zigzag(-1)
        else:
            n = len(key)
            klen = varints[n] if n < n_varints else encode_varint(n)
        if value is None:
            vlen, value = b"\x01", b""
        else:
            n = len(value)
            vlen = varints[n] if n < n_varints else encode_varint(n)
        n = (3 + len(delta_bytes) + len(klen) + len(key)
             + len(vlen) + len(value))
        # length, attributes 0, timestampDelta 0, offsetDelta, key,
        # value, 0 headers
        parts += (varints[n] if n < n_varints else encode_varint(n),
                  b"\x00\x00", delta_bytes, klen, key, vlen, value, b"\x00")
    return b"".join(parts)


# RecordBatch attribute bits 0-2: compression codec (protocol guide).
_CODEC_NONE = 0
_CODEC_GZIP = 1
_CODEC_SNAPPY = 2
_CODEC_LZ4 = 3
_CODEC_ZSTD = 4
_CODEC_MASK = 0x07

_CODEC_IDS = {"none": _CODEC_NONE, "gzip": _CODEC_GZIP,
              "snappy": _CODEC_SNAPPY, "lz4": _CODEC_LZ4,
              "zstd": _CODEC_ZSTD}


def _pa_codec(name: str):
    """pyarrow codec for the snappy/zstd legs (r12 verdict stretch
    item 8) — optional-dependency gate in the codecs.py PIL/soundfile
    style: a missing pyarrow build is an explicit capability error,
    never a silent fallback."""
    try:
        import pyarrow as pa

        return pa.Codec(name)
    except Exception as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            f"record-batch {name} compression needs a pyarrow build with "
            f"the {name} codec: {exc}"
        ) from exc


def _snappy_uncompressed_size(buf: bytes) -> int:
    """Raw snappy block format (google/snappy format description): the
    stream LEADS with the uncompressed length as a uvarint — which is
    what lets a one-shot decompressor size its output; Kafka's v2
    snappy batches are exactly this raw block format."""
    size = shift = 0
    for i, c in enumerate(buf[:10]):
        size |= (c & 0x7F) << shift
        if not c & 0x80:
            return size
        shift += 7
    raise ValueError("malformed snappy stream: unterminated length uvarint")


def _zstd_content_size(buf: bytes) -> int:
    """Frame_Content_Size from a zstd frame header (RFC 8878 §3.1.1).
    One-shot zstd compressors (pyarrow's included) set it; a streaming
    frame without it is a loud capability error — the double cannot
    size the output buffer."""
    if len(buf) < 5 or buf[:4] != b"\x28\xb5\x2f\xfd":
        raise ValueError("not a zstd frame")
    flg = buf[4]
    fcs_flag = flg >> 6
    single_segment = (flg >> 5) & 1
    pos = 5
    # Window_Descriptor byte is absent when Single_Segment_flag is set
    if not single_segment:
        pos += 1
    pos += (0, 1, 2, 4)[flg & 0x03]                 # Dictionary_ID field
    if fcs_flag == 0:
        if not single_segment:
            raise NotImplementedError(
                "zstd frame without Frame_Content_Size: streaming frames "
                "are not decodable one-shot — re-compress with a one-shot "
                "encoder (content size present)"
            )
        return buf[pos]
    if fcs_flag == 1:
        return int.from_bytes(buf[pos:pos + 2], "little") + 256
    if fcs_flag == 2:
        return int.from_bytes(buf[pos:pos + 4], "little")
    return int.from_bytes(buf[pos:pos + 8], "little")


# ----------------------------------------------------------- LZ4 frame
# Kafka's lz4 codec wraps the records block in the public LZ4 Frame
# format (lz4_Frame_format.md). pyarrow's one-shot Codec("lz4")
# compressor omits the frame's optional ContentSize field, and its
# decompressor demands the decompressed size up front — so this leg is
# implemented from the spec instead (r13 verdict item 3): the produce
# side writes frames WITH ContentSize (+ the mandatory XXH32 header
# checksum), the consume side parses any conforming frame and falls
# back to a from-spec pure-Python LZ4 *block* decoder whenever the
# frame doesn't carry the sizes a one-shot native decode would need.
# XXH32 itself is implemented from its public spec below (stdlib has
# no xxHash); both are pinned to published test vectors in
# tests/test_kafka_wire_v2.py.

_XXH_PRIME1 = 2654435761
_XXH_PRIME2 = 2246822519
_XXH_PRIME3 = 3266489917
_XXH_PRIME4 = 668265263
_XXH_PRIME5 = 374761393
_U32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _U32


def xxh32(data: bytes, seed: int = 0) -> int:
    """XXH32 (xxHash spec) — the LZ4 frame header-checksum hash."""
    i, n = 0, len(data)
    if n >= 16:
        v1 = (seed + _XXH_PRIME1 + _XXH_PRIME2) & _U32
        v2 = (seed + _XXH_PRIME2) & _U32
        v3 = seed & _U32
        v4 = (seed - _XXH_PRIME1) & _U32
        while i <= n - 16:
            lanes = struct.unpack_from("<IIII", data, i)
            v1 = (_rotl32((v1 + lanes[0] * _XXH_PRIME2) & _U32, 13)
                  * _XXH_PRIME1) & _U32
            v2 = (_rotl32((v2 + lanes[1] * _XXH_PRIME2) & _U32, 13)
                  * _XXH_PRIME1) & _U32
            v3 = (_rotl32((v3 + lanes[2] * _XXH_PRIME2) & _U32, 13)
                  * _XXH_PRIME1) & _U32
            v4 = (_rotl32((v4 + lanes[3] * _XXH_PRIME2) & _U32, 13)
                  * _XXH_PRIME1) & _U32
            i += 16
        h = (_rotl32(v1, 1) + _rotl32(v2, 7)
             + _rotl32(v3, 12) + _rotl32(v4, 18)) & _U32
    else:
        h = (seed + _XXH_PRIME5) & _U32
    h = (h + n) & _U32
    while i <= n - 4:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl32((h + lane * _XXH_PRIME3) & _U32, 17) * _XXH_PRIME4) & _U32
        i += 4
    while i < n:
        h = (_rotl32((h + data[i] * _XXH_PRIME5) & _U32, 11)
             * _XXH_PRIME1) & _U32
        i += 1
    h ^= h >> 15
    h = (h * _XXH_PRIME2) & _U32
    h ^= h >> 13
    h = (h * _XXH_PRIME3) & _U32
    h ^= h >> 16
    return h


def _lz4_block_decompress(
    src: bytes, max_out: int, history: bytes = b""
) -> bytes:
    """From-spec LZ4 *block* decoder (lz4_Block_format.md): token =
    literal-length nibble + match-length nibble, 255-continuation
    lengths, 2-byte little-endian match offsets, minmatch 4.
    ``history`` is the preceding output window for BLOCK-LINKED frames
    (FLG Block-Independence unset — lz4/pyarrow's default): matches may
    reach up to 64 KB back into prior blocks. Pure Python — the path
    for client frames whose block sizes a one-shot native decoder
    can't know; harness-scale volumes only (the 100 TB path is the
    connector jar, same stance as the rest of the double)."""
    out = bytearray(history[-65536:] if history else b"")
    base = len(out)
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if lit:
            if i + lit > n:
                raise ValueError("lz4 block: literal run past end")
            out += src[i : i + lit]
            i += lit
        if i >= n:
            break  # last sequence is literals-only by spec
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("lz4 block: zero match offset")
        mlen = token & 0x0F
        if mlen == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        mlen += 4
        start = len(out) - offset
        if start < 0:
            raise ValueError("lz4 block: match offset before output start")
        if offset >= mlen:
            out += out[start : start + mlen]
        else:  # overlapping match: byte-serial copy is the semantics
            for _ in range(mlen):
                out.append(out[start])
                start += 1
        if len(out) - base > max_out:
            raise ValueError("lz4 block: output exceeds frame block max")
    return bytes(out[base:])


def _lz4_block_decoded_size(src: bytes) -> int:
    """Decoded length of an LZ4 block from its sequence headers alone —
    O(#sequences), no byte copying. Lets the decoder VALIDATE a
    declared size before handing the block to a native one-shot
    decompressor: pyarrow's lz4/lz4_raw decompress pads an oversized
    destination with uninitialized memory instead of erroring
    (measured), so an unvalidated expected size would ship
    silently-wrong bytes on a lying ContentSize."""
    n = len(src)
    i = 0
    total = 0
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if i >= n:
                    raise ValueError("lz4 block: truncated length byte")
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        total += lit
        i += lit
        if i >= n:
            # i > n means the literal run claims bytes past the block's
            # end — counting them would overstate the decoded size, and
            # pyarrow's one-shot pads an oversized destination with
            # uninitialized memory instead of erroring (r14 ADVICE):
            # refuse, like the copying decoder does.
            if i > n:
                raise ValueError("lz4 block: literal run past end")
            break  # last sequence is literals-only by spec
        if i + 2 > n:
            raise ValueError("lz4 block: truncated match offset")
        i += 2  # match offset
        mlen = token & 0x0F
        if mlen == 15:
            while True:
                if i >= n:
                    raise ValueError("lz4 block: truncated length byte")
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        total += mlen + 4
    return total


_LZ4F_MAGIC = 0x184D2204
_LZ4F_BLOCK_MAX = 4 << 20  # BD code 7


def lz4_frame_compress(content: bytes) -> bytes:
    """LZ4 frame with ContentSize present (FLG 0x68: v01, independent
    blocks, content-size) — one compressed block per 4 MB chunk, stored
    uncompressed when compression doesn't shrink it (high bit of the
    block size word, per spec)."""
    raw = _pa_codec("lz4_raw")
    out = io.BytesIO()
    out.write(struct.pack("<I", _LZ4F_MAGIC))
    descriptor = bytes([0x68, 0x70]) + struct.pack("<Q", len(content))
    out.write(descriptor)
    out.write(bytes([(xxh32(descriptor) >> 8) & 0xFF]))
    for off in range(0, len(content), _LZ4F_BLOCK_MAX):
        chunk = content[off : off + _LZ4F_BLOCK_MAX]
        comp = raw.compress(chunk, asbytes=True)
        if len(comp) < len(chunk):
            out.write(struct.pack("<I", len(comp)))
            out.write(comp)
        else:
            out.write(struct.pack("<I", len(chunk) | 0x80000000))
            out.write(chunk)
    out.write(struct.pack("<I", 0))  # EndMark
    return out.getvalue()


def lz4_frame_decompress(buf: bytes) -> bytes:
    """Parse any conforming LZ4 frame: ContentSize optional, blocks
    compressed or stored, optional block checksums skipped, header
    checksum VERIFIED (a corrupt descriptor must refuse loudly)."""
    if len(buf) < 7 or struct.unpack_from("<I", buf, 0)[0] != _LZ4F_MAGIC:
        raise ValueError("not an LZ4 frame (bad magic)")
    flg, bd = buf[4], buf[5]
    if (flg >> 6) != 0b01:
        raise ValueError(f"unsupported LZ4 frame version {flg >> 6}")
    block_independent = (flg >> 5) & 1
    has_block_checksum = (flg >> 4) & 1
    has_content_size = (flg >> 3) & 1
    has_dict_id = flg & 1
    pos = 6
    content_size = None
    if has_content_size:
        (content_size,) = struct.unpack_from("<Q", buf, pos)
        pos += 8
    if has_dict_id:
        pos += 4
    if buf[pos] != (xxh32(buf[4:pos]) >> 8) & 0xFF:
        raise ValueError("LZ4 frame header checksum mismatch")
    pos += 1
    bmax_code = (bd >> 4) & 0x07
    if bmax_code < 4:
        raise ValueError(f"reserved LZ4 frame block-max code {bmax_code}")
    block_max = 1 << (8 + 2 * bmax_code)  # 4→64 KB … 7→4 MB
    out = bytearray()
    while True:
        (word,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        if word == 0:  # EndMark
            break
        stored = word >> 31
        size = word & 0x7FFFFFFF
        block = buf[pos : pos + size]
        if len(block) != size:
            raise ValueError("LZ4 frame truncated mid-block")
        pos += size
        if has_block_checksum:
            pos += 4  # optional integrity leg, not verified here
        if stored:
            out += block
            continue
        # Native fast path: a compressed block's decoded length is
        # derivable from its sequence headers in O(#sequences)
        # (_lz4_block_decoded_size) — VALIDATED against the frame's
        # remaining budget, the exact size then goes to pyarrow's
        # lz4_raw one-shot, which decodes the bytes C-side. Validation
        # is mandatory, not belt-and-braces: pyarrow pads an oversized
        # destination with uninitialized memory instead of erroring, so
        # a lying ContentSize must be caught BEFORE the native call
        # (r14 review follow-up; the corruption test pins this). Blocks
        # whose declared sizes disagree fall back to the from-spec
        # Python decoder, whose end-of-frame check refuses loudly.
        decoded_size = _lz4_block_decoded_size(block)
        budget_ok = (
            content_size is None or decoded_size <= content_size - len(out))
        if block_independent and 0 < decoded_size <= block_max and budget_ok:
            # lz4_raw decodes one INDEPENDENT block; linked-mode blocks
            # (matches reaching into prior blocks — lz4/pyarrow default)
            # must go through the windowed Python decoder
            out += _pa_codec("lz4_raw").decompress(
                block, decompressed_size=decoded_size, asbytes=True)
        else:
            out += _lz4_block_decompress(
                block, block_max, history=bytes(out))
    if content_size is not None and len(out) != content_size:
        raise ValueError(
            f"LZ4 frame ContentSize {content_size} != decoded {len(out)}")
    return bytes(out)


def _compress_records(records: bytes, compression: str) -> tuple[bytes, int]:
    """(compressed records block, attribute codec bits). gzip is the
    stdlib default (mtime pinned to 0 — deterministic bytes, which the
    fixture hash requires); snappy/zstd ride pyarrow's codecs; lz4 is
    the from-spec frame layer above (deterministic given pyarrow's
    lz4_raw block encoder)."""
    if compression == "none":
        return records, _CODEC_NONE
    if compression == "gzip":
        return gzip.compress(records, mtime=0), _CODEC_GZIP
    if compression in ("snappy", "zstd"):
        return (
            _pa_codec(compression).compress(records, asbytes=True),
            _CODEC_IDS[compression],
        )
    if compression == "lz4":
        return lz4_frame_compress(records), _CODEC_LZ4
    raise ValueError(
        f"compression must be none|gzip|snappy|zstd|lz4, got {compression!r}"
    )


def _decompress_records(buf: bytes, codec: int) -> bytes:
    """Inverse of _compress_records, dispatched on the attribute bits a
    CLIENT set — unsupported codecs are explicit capability errors,
    mirroring the produce-side stance (never silently-wrong contents)."""
    if codec == _CODEC_GZIP:
        return gzip.decompress(buf)
    if codec == _CODEC_SNAPPY:
        return _pa_codec("snappy").decompress(
            buf, decompressed_size=_snappy_uncompressed_size(buf), asbytes=True
        )
    if codec == _CODEC_LZ4:
        return lz4_frame_decompress(buf)
    if codec == _CODEC_ZSTD:
        return _pa_codec("zstd").decompress(
            buf, decompressed_size=_zstd_content_size(buf), asbytes=True
        )
    raise ValueError(f"unsupported record batch compression codec {codec}")


def encode_record_batch_v2(
    messages: list[tuple[bytes | None, bytes | None]],
    *,
    base_timestamp: int = 0,
    compression: str = "none",
    base_offset: int = 0,
) -> bytes:
    """One magic-2 RecordBatch: fixed-width header with per-BATCH
    CRC-32C (covering attributes → end, exactly the span the spec
    names), then varint-packed records — gzip-compressed as one block
    when ``compression="gzip"`` (attribute bits 0-2 = 1; recordCount
    stays the UNcompressed record count, per spec). producerId/epoch/
    sequence are -1 (non-idempotent) and partitionLeaderEpoch is -1,
    the un-configured client defaults; timestamps are
    ``base_timestamp`` with delta 0 per record — deterministic, which
    the fixture hash requires (gzip mtime pinned to 0 for the same
    reason). ``base_offset`` is 0 on the produce side (the broker
    assigns the real one) and the log position on the FETCH side, where
    the broker re-encodes its log with the offsets it assigned
    (sources/kafka_fetch.py)."""
    records, attrs = _compress_records(_encode_records(messages), compression)
    n = len(messages)
    crc_span = (
        struct.pack(
            ">hiqqqhii",
            attrs,                    # attributes: codec bits + create-time
            max(n - 1, 0),            # lastOffsetDelta
            base_timestamp,           # baseTimestamp
            base_timestamp,           # maxTimestamp (delta 0 records)
            -1,                       # producerId
            -1,                       # producerEpoch
            -1,                       # baseSequence
            n,                        # recordCount
        )
        + records
    )
    head = struct.pack(">iBI", -1, _MAGIC_V2, crc32c(crc_span))
    #                    ^ partitionLeaderEpoch
    batch_length = len(head) + len(crc_span)
    return struct.pack(">qi", base_offset, batch_length) + head + crc_span


def _parse_one_record_batch(
    buf: bytes,
) -> list[tuple[int, bytes | None, bytes | None]]:
    """Decode exactly one RecordBatch frame (12-byte baseOffset+length
    header + body), verifying magic and CRC-32C — one corrupted byte
    anywhere past the CRC field fails loudly. Returns
    [(absolute_offset, key, value)]: absolute offset = the frame's
    baseOffset + each record's own offsetDelta field (NOT its index —
    a conforming encoder may compact deltas)."""
    r = _Reader(buf)
    base_offset = r.i64()                          # broker-assigned on fetch
    batch_length = r.i32()
    if batch_length != len(buf) - 12:
        raise ValueError(
            f"record batch length mismatch: header says {batch_length}, "
            f"frame carries {len(buf) - 12}"
        )
    r.i32()                                        # partitionLeaderEpoch
    magic = r.i8()
    if magic != _MAGIC_V2:
        raise ValueError(f"unsupported record batch magic {magic}")
    crc = r.u32()
    crc_start = r._i
    if crc32c(buf[crc_start:]) != crc:
        raise ValueError("record batch CRC-32C mismatch")
    attrs = r.i16()
    r.i32()                                        # lastOffsetDelta
    r.i64()                                        # baseTimestamp
    r.i64()                                        # maxTimestamp
    r.i64()                                        # producerId
    r.i16()                                        # producerEpoch
    r.i32()                                        # baseSequence
    count = r.i32()
    codec = attrs & _CODEC_MASK
    if codec == _CODEC_NONE:
        return _parse_records(buf, r._i, count, base_offset)
    # the records block (everything after the fixed header) is one
    # compressed stream; CRC above already covered the COMPRESSED
    # bytes. gzip/snappy/zstd decode; lz4/unknown are loud errors.
    records = _decompress_records(buf[r._i:], codec)
    return _parse_records(records, 0, count, base_offset)


def _parse_records(
    buf: bytes, i: int, count: int, base_offset: int,
) -> list[tuple[int, bytes | None, bytes | None]]:
    """Decode ``count`` Records from ``buf[i:]`` in one pass over the
    bytes: one-byte varints (values -64..63) are read inline, longer
    ones by ``_varint_at``; keys and values are sliced once, headers
    skipped by length. Each record's fields must end inside its length
    prefix. The index only moves forward, so a field read past its
    record's end is caught once, after the record."""
    end = len(buf)
    out: list[tuple[int, bytes | None, bytes | None]] = []
    append = out.append
    try:
        for _ in range(count):
            b = buf[i]
            if b < 0x80:
                length, i = (b >> 1) ^ -(b & 1), i + 1
            else:
                length, i = _varint_at(buf, i, end)
            rec_end = i + length
            if length < 0 or rec_end > end:
                raise ValueError("truncated Kafka frame")
            i += 1                                 # record attributes
            if buf[i] < 0x80:                      # timestampDelta
                i += 1
            else:
                _ts, i = _varint_at(buf, i, rec_end)
            b = buf[i]
            if b < 0x80:
                delta, i = (b >> 1) ^ -(b & 1), i + 1
            else:
                delta, i = _varint_at(buf, i, rec_end)
            b = buf[i]
            if b < 0x80:
                n, i = (b >> 1) ^ -(b & 1), i + 1
            else:
                n, i = _varint_at(buf, i, rec_end)
            if n < 0:
                key = None
            else:
                key, i = buf[i:i + n], i + n
            b = buf[i]
            if b < 0x80:
                n, i = (b >> 1) ^ -(b & 1), i + 1
            else:
                n, i = _varint_at(buf, i, rec_end)
            if n < 0:
                value = None
            else:
                value, i = buf[i:i + n], i + n
            if buf[i]:                             # headers
                n_headers, i = _varint_at(buf, i, rec_end)
                for _h in range(n_headers):
                    n, i = _varint_at(buf, i, rec_end)   # key length
                    i += max(n, 0)
                    n, i = _varint_at(buf, i, rec_end)   # value length
                    i += max(n, 0)
            else:
                i += 1
            if i > rec_end:
                raise ValueError("truncated Kafka frame")
            append((base_offset + delta, key, value))
            i = rec_end
    except IndexError:
        raise ValueError("truncated Kafka frame") from None
    return out


def parse_record_batch_v2(
    buf: bytes,
) -> list[tuple[bytes | None, bytes | None]]:
    """Decode one RecordBatch covering the whole buffer (the produce-
    side single-batch shape ``encode_record_batch_v2`` emits)."""
    return [(k, v) for _off, k, v in _parse_one_record_batch(buf)]


def parse_record_batches_v2(
    buf: bytes,
    *,
    tolerate_truncation: bool = False,
) -> list[tuple[int, bytes | None, bytes | None]]:
    """Decode a sequence of CONCATENATED RecordBatch frames — the shape
    a partition's records field legally carries in both directions: a
    real v3 producer may pack several batches per partition (r12 ADVICE
    item 1), and a fetch response returns whatever contiguous span of
    the log fits max_bytes. Returns [(absolute_offset, key, value)]
    across all batches.

    ``tolerate_truncation=True`` is the CONSUMER-side mode (Kafka spec:
    a fetch response may end with a partial batch the client must
    discard and re-fetch); the produce-side parser keeps the strict
    default, where a trailing partial batch is a corrupt request."""
    out: list[tuple[int, bytes | None, bytes | None]] = []
    i = 0
    while i < len(buf):
        if i + 12 > len(buf):
            if tolerate_truncation:
                break
            raise ValueError("truncated record batch header")
        (batch_length,) = struct.unpack(">i", buf[i + 8:i + 12])
        end = i + 12 + batch_length
        if batch_length < 0 or end > len(buf):
            if tolerate_truncation:
                break
            raise ValueError("truncated record batch body")
        out.extend(_parse_one_record_batch(buf[i:end]))
        i = end
    return out


# ------------------------------------------------------ produce v3

def encode_produce_request_v3(
    correlation_id: int,
    topic_batches: dict[str, list[tuple[bytes | None, bytes | None]]],
    *,
    client_id: str = "spark-backfill-wire-v2",
    acks: int = 1,
    timeout_ms: int = 10_000,
    partition: int = 0,
    base_timestamp: int = 0,
    compression: str = "none",
) -> bytes:
    """Size-prefixed Produce v3 request (the first version that REQUIRES
    magic-2 record batches; adds transactional_id, null here). One
    partition per topic — the leader-direct single-broker shape the v0
    fixture also uses."""
    return encode_produce_request_v3_parts(
        correlation_id,
        {t: {partition: msgs} for t, msgs in topic_batches.items()},
        client_id=client_id, acks=acks, timeout_ms=timeout_ms,
        base_timestamp=base_timestamp, compression=compression,
    )


def encode_produce_request_v3_parts(
    correlation_id: int,
    batches: dict[str, dict[int, list[tuple[bytes | None, bytes | None]]]],
    *,
    client_id: str = "spark-backfill-wire-v2",
    acks: int = 1,
    timeout_ms: int = 10_000,
    base_timestamp: int = 0,
    compression: str = "none",
) -> bytes:
    """General Produce v3: topic → partition → messages, one record
    batch per partition — the shape the producer needs to batch every
    partition a node leads into one request (mirror of
    kafka_wire.encode_produce_request_v0_parts)."""
    body = io.BytesIO()
    body.write(struct.pack(">hhi", _API_PRODUCE, PRODUCE_V3, correlation_id))
    body.write(_kstring(client_id))
    body.write(_kstring(None))                     # transactional_id
    body.write(struct.pack(">hi", acks, timeout_ms))
    body.write(struct.pack(">i", len(batches)))
    for topic, parts in batches.items():
        body.write(_kstring(topic))
        body.write(struct.pack(">i", len(parts)))
        for partition, messages in parts.items():
            batch = encode_record_batch_v2(
                messages, base_timestamp=base_timestamp,
                compression=compression,
            )
            body.write(struct.pack(">ii", partition, len(batch)))
            body.write(batch)
    payload = body.getvalue()
    return struct.pack(">i", len(payload)) + payload


def parse_produce_request_v3(frame: bytes) -> ProduceRequest:
    """Decode a size-stripped Produce v3 request into the SAME
    ProduceRequest shape the v0 parser yields, so the broker double's
    leadership / error-injection / log-append logic is dialect-blind
    (exactly like a real broker's request pipeline past the codec)."""
    r = _Reader(frame)
    api_key, api_version = r.i16(), r.i16()
    if api_key != _API_PRODUCE or api_version != PRODUCE_V3:
        raise ValueError(
            f"not a Produce v3 request: key={api_key} v={api_version}"
        )
    corr, client_id = r.i32(), r.string()
    r.string()                                     # transactional_id
    acks, timeout_ms = r.i16(), r.i32()
    records: dict[str, dict[int, list[tuple[bytes | None, bytes | None]]]] = {}
    for _ in range(r.i32()):
        topic = r.string() or ""
        for _p in range(r.i32()):
            partition = r.i32()
            batches = r.take(r.i32())
            msgs = records.setdefault(topic, {}).setdefault(partition, [])
            # A partition's records field may carry SEVERAL concatenated
            # record batches (real clients flush multiple linger windows
            # into one request — r12 ADVICE item 1); strict mode: a
            # trailing partial batch in a PRODUCE request is corrupt.
            msgs.extend(
                (k, v) for _off, k, v in parse_record_batches_v2(batches)
            )
    return ProduceRequest(corr, client_id, acks, timeout_ms, records)


# -------------------------------------------------------- producer

def write_kafka_wire_v2(
    records: DataFrame,
    host: str,
    port: int,
    *,
    batch_size: int = 1000,
    compression: str = "none",
) -> None:
    """Produce a key/value/topic frame as Produce v3 requests carrying
    magic-2 record batches — the modern-default twin of
    kafka_wire.write_kafka_wire, over the same producer
    (``kafka_wire.produce_rows`` with ``wire_version=3``): every executor
    task bootstraps from ``(host, port)`` and produces to its
    partitions' leaders; nothing is collected to the driver."""
    records.foreachPartition(
        lambda rows: produce_rows(
            rows, host, port, batch_size=batch_size, wire_version=PRODUCE_V3,
            compression=compression,
        )
    )


# --------------------------------------------------------- fixture query

@register(
    "kafka_wire_v2_roundtrip",
    oracle="""
    SELECT CAST(o_custkey AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR) AS key,
           to_json(struct_pack(
               o_orderkey := o_orderkey,
               o_custkey := o_custkey,
               o_orderstatus := o_orderstatus,
               amount_minor := CAST(ROUND(o_totalprice * 100) AS BIGINT),
               created_at := strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
               tenant_id := 'default'
           )) AS value,
           'orders-events' AS topic
    FROM orders
    WHERE o_orderkey % 400 = 13
    """,
    doc="S4 wire leg, modern dialect: a deterministic orders subset "
        "produced over real TCP as Produce v3 requests carrying "
        "GZIP-COMPRESSED magic-2 record batches (varint/zigzag records, "
        "per-batch CRC-32C over the compressed block, verified and "
        "decompressed by the broker double), decoded back off the "
        "broker log and value-hash-compared against the oracle's JSON — "
        "the configured-producer path of every post-0.11 broker, "
        "alongside the v0 leg "
        "(main.rs:146-153 → payment_intent.rs:102-105).",
)
def kafka_wire_v2_roundtrip(spark, sf_dir: str) -> DataFrame:
    """Round-trip the event projection through the v2 record-batch wire
    leg: 4 executor tasks, each its own TCP connection + KIP-35
    handshake requiring Produce ≥ v3. Same bounded verification carve
    and driver-side decode rationale as kafka_wire_roundtrip (~0.25% of
    orders; 100 TB path = write_kafka)."""
    from hyperswitch_data_backfill_spark.sinks.kafka_wire import WireBroker

    frame = _intent_payload_frame(spark, sf_dir, where="o_orderkey % 400 = 13")
    with WireBroker() as broker:
        write_kafka_wire_v2(frame.repartition(4), "127.0.0.1", broker.port,
                            batch_size=256, compression="gzip")
        # same at-least-once dedup rationale as kafka_wire_roundtrip
        decoded = sorted({
            (key.decode("utf-8"), value.decode("utf-8"), topic)
            for topic in broker.topics()
            for key, value in broker.records(topic)
        })
    return spark.createDataFrame(decoded, "key string, value string, topic string")
