"""TFRecord + tf.Example codec from scratch (round 12): the record
framing TensorFlow training pipelines read (length / masked-CRC-32C /
payload / masked-CRC-32C), the Castagnoli CRC itself (slice-by-8
tables generated from the reflected polynomial 0x82F63B78 — NOT
zlib's IEEE CRC-32), and a minimal protocol-buffers wire codec for the
``tf.Example`` message family (Example → Features map → Feature oneof
of BytesList / FloatList / Int64List) — nothing imported.

TFRecord is THE packaged-example wire format of TF/JAX training
stacks (tf.data.TFRecordDataset, array_record's ancestor, YT-8M,
C4's original release): a 100 TB pipeline that exports training
shards for those consumers needs the writer, and one that ingests
published corpora (C4, YT-8M features) needs the reader. It joins
tar-WebDataset (PyTorch loaders), .jsonl.zst (HF exports) and WARC
(crawl segments) as the fourth shard wire in the container family.

Framing, per record (all little-endian):

    uint64  length
    uint32  masked_crc32c(length_bytes)
    byte[]  data
    uint32  masked_crc32c(data)

where ``mask(c) = ((c >> 15 | c << 17) + 0xA282EAD8) mod 2^32`` — the
published masking TensorFlow applies so CRCs stored inside
CRC-protected files stay well-distributed.

Protobuf wire (the public encoding spec): varints with two's-complement
int64, tag = field_number << 3 | wire_type, length-delimited messages;
the decoder skips unknown fields by wire type (forward compatibility —
a reader of newer Examples must not crash) and accepts BOTH packed and
unpacked repeated scalars (TF writes packed; the spec requires parsers
to accept either).

Reference parity note: the reference archiver has no binary export at
all (it row-inserts into SQLite, /root/reference/cmds/archive.py); this
extends the driver-mandated training-data shard surface
(SURVEY.md §2.8 wire-format family, E90/E95).

Oracle recipe: the gzip/zstd/tar one — documents → tf.Example records
→ TFRecord shards → listing decode → md5(text) must equal DuckDB's
md5(text); one digest certifies framing, CRC-32C and the protobuf wire
end to end. Known-vector pins (the iSCSI/RFC 7143 CRC-32C test
vectors, a TensorFlow-derived masked CRC) + roundtrip fuzz live in
tests/test_tfrecord.py.

Decode raises typed ``ValueError`` on malformed input (truncation, CRC
mismatch, bomb, malformed varint/tag) so the quarantine path keeps
corrupt rows as rows.
"""

from __future__ import annotations

import struct

from yark_spark.operators.varint import read_uvarint, write_uvarint

__all__ = [
    "crc32c",
    "masked_crc32c",
    "tfrecord_build",
    "tfrecord_records",
    "encode_example",
    "decode_example",
]

# --------------------------------------------------------------------------
# CRC-32C (Castagnoli), slice-by-8
# --------------------------------------------------------------------------

_POLY = 0x82F63B78  # reflected Castagnoli polynomial


def _gen_tables() -> list[list[int]]:
    t0 = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ (_POLY if c & 1 else 0)
        t0.append(c)
    tables = [t0]
    for _ in range(7):
        prev = tables[-1]
        tables.append([t0[prev[n] & 0xFF] ^ (prev[n] >> 8) for n in range(256)])
    return tables


_T = _gen_tables()


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C over ``data`` (slice-by-8; incremental via ``crc``)."""
    c = (~crc) & 0xFFFFFFFF
    t0, t1, t2, t3, t4, t5, t6, t7 = _T
    n = len(data)
    i = 0
    end8 = n - (n % 8)
    while i < end8:
        c ^= data[i] | data[i + 1] << 8 | data[i + 2] << 16 | data[i + 3] << 24
        c = (
            t7[c & 0xFF]
            ^ t6[(c >> 8) & 0xFF]
            ^ t5[(c >> 16) & 0xFF]
            ^ t4[c >> 24]
            ^ t3[data[i + 4]]
            ^ t2[data[i + 5]]
            ^ t1[data[i + 6]]
            ^ t0[data[i + 7]]
        )
        i += 8
    while i < n:
        c = t0[(c ^ data[i]) & 0xFF] ^ (c >> 8)
        i += 1
    return (~c) & 0xFFFFFFFF


_MASK_DELTA = 0xA282EAD8


def masked_crc32c(data: bytes) -> int:
    """TensorFlow's masked CRC: rotate right 15, add the mask delta."""
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + _MASK_DELTA) & 0xFFFFFFFF


# --------------------------------------------------------------------------
# Record framing
# --------------------------------------------------------------------------


def tfrecord_build(records: list[bytes]) -> bytes:
    """Serialize ``records`` into TFRecord framing (length, masked CRC of
    the length bytes, data, masked CRC of the data)."""
    out = bytearray()
    for rec in records:
        ln = struct.pack("<Q", len(rec))
        out += ln
        out += struct.pack("<I", masked_crc32c(ln))
        out += rec
        out += struct.pack("<I", masked_crc32c(rec))
    return bytes(out)


def tfrecord_records(payload: bytes, max_output: int | None = None) -> list[bytes]:
    """Parse a TFRecord stream, verifying BOTH masked CRCs per record.

    Raises ``ValueError`` on truncation, CRC mismatch, or when the
    cumulative decoded size exceeds ``max_output`` (bomb guard).
    """
    view = memoryview(payload)
    n = len(view)
    pos = 0
    total = 0
    out: list[bytes] = []
    while pos < n:
        if n - pos < 12:
            raise ValueError("tfrecord: truncated record header")
        ln_bytes = bytes(view[pos : pos + 8])
        (length,) = struct.unpack("<Q", ln_bytes)
        (ln_crc,) = struct.unpack_from("<I", view, pos + 8)
        if masked_crc32c(ln_bytes) != ln_crc:
            raise ValueError("tfrecord: length CRC mismatch")
        pos += 12
        if length > n - pos:
            raise ValueError("tfrecord: truncated record data")
        total += length
        if max_output is not None and total > max_output:
            raise ValueError("tfrecord: decoded size exceeds bomb guard")
        data = bytes(view[pos : pos + length])
        pos += length
        if n - pos < 4:
            raise ValueError("tfrecord: truncated data CRC")
        (data_crc,) = struct.unpack_from("<I", view, pos)
        if masked_crc32c(data) != data_crc:
            raise ValueError("tfrecord: data CRC mismatch")
        pos += 4
        out.append(data)
    return out


# --------------------------------------------------------------------------
# Protobuf wire — minimal, enough for tf.Example
# --------------------------------------------------------------------------

_WIRE_VARINT = 0
_WIRE_I64 = 1
_WIRE_LEN = 2
_WIRE_I32 = 5


def _write_varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("protobuf: varint must be non-negative (mask int64 first)")
    return write_uvarint(n)


def _read_varint(buf: memoryview, pos: int) -> tuple[int, int]:
    return read_uvarint(buf, pos, max_shift=70, what="protobuf")


def _tag(field: int, wire: int) -> bytes:
    return _write_varint(field << 3 | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, _WIRE_LEN) + _write_varint(len(payload)) + payload


def _encode_feature(kind: str, values: list) -> bytes:
    if kind == "bytes":
        inner = b"".join(
            _len_delim(1, v if isinstance(v, bytes) else bytes(v)) for v in values
        )
        return _len_delim(1, inner)
    if kind == "float":
        packed = b"".join(struct.pack("<f", float(v)) for v in values)
        return _len_delim(2, _len_delim(1, packed))
    if kind == "int64":
        packed = b"".join(
            _write_varint(v & 0xFFFFFFFFFFFFFFFF) for v in values
        )
        return _len_delim(3, _len_delim(1, packed))
    raise ValueError(f"protobuf: unknown feature kind {kind!r}")


def encode_example(features: dict[str, tuple[str, list]]) -> bytes:
    """Encode a ``tf.Example``: ``features`` maps name → (kind, values),
    kind ∈ {"bytes", "float", "int64"}. Map entries emit sorted by key
    so the encoding is deterministic (protobuf map order is
    unspecified; TF accepts any)."""
    body = bytearray()
    for key in sorted(features):
        kind, values = features[key]
        entry = _len_delim(1, key.encode("utf-8")) + _len_delim(
            2, _encode_feature(kind, values)
        )
        body += _len_delim(1, entry)
    return _len_delim(1, bytes(body))


def _fields(buf: memoryview):
    """Yield (field_number, wire_type, value_or_span) over a message.

    LEN fields yield the payload memoryview; VARINT fields yield the
    raw unsigned value; I32/I64 yield the little-endian byte span.
    """
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if field == 0:
            raise ValueError("protobuf: field number 0")
        if wire == _WIRE_VARINT:
            val, pos = _read_varint(buf, pos)
            yield field, wire, val
        elif wire == _WIRE_LEN:
            ln, pos = _read_varint(buf, pos)
            if pos + ln > n:
                raise ValueError("protobuf: truncated length-delimited field")
            yield field, wire, buf[pos : pos + ln]
            pos += ln
        elif wire in (_WIRE_I64, _WIRE_I32):
            width = 8 if wire == _WIRE_I64 else 4
            if pos + width > n:
                raise ValueError("protobuf: truncated fixed-width field")
            yield field, wire, buf[pos : pos + width]
            pos += width
        else:
            raise ValueError(f"protobuf: unsupported wire type {wire}")


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _decode_scalar_list(wire: int, value, kind: str, out: list) -> None:
    """Append values for one occurrence of a repeated scalar field,
    accepting both packed (LEN) and unpacked encodings."""
    if kind == "int64":
        if wire == _WIRE_VARINT:
            out.append(_signed64(value))
        elif wire == _WIRE_LEN:
            pos = 0
            while pos < len(value):
                v, pos = _read_varint(value, pos)
                out.append(_signed64(v))
        else:
            raise ValueError("protobuf: bad wire type for int64 list")
    elif kind == "float":
        if wire == _WIRE_I32:
            out.append(struct.unpack("<f", bytes(value))[0])
        elif wire == _WIRE_LEN:
            if len(value) % 4:
                raise ValueError("protobuf: packed float list not 4-aligned")
            out.extend(
                struct.unpack(f"<{len(value) // 4}f", bytes(value))
            )
        else:
            raise ValueError("protobuf: bad wire type for float list")


def _decode_feature(buf: memoryview) -> tuple[str, list]:
    kind, values = None, []
    for field, wire, value in _fields(buf):
        if field == 1:  # BytesList
            if wire != _WIRE_LEN:
                raise ValueError("protobuf: BytesList must be length-delimited")
            kind = "bytes"
            for f2, w2, v2 in _fields(value):
                if f2 == 1:
                    if w2 != _WIRE_LEN:
                        raise ValueError("protobuf: bytes value must be LEN")
                    values.append(bytes(v2))
        elif field == 2:  # FloatList
            kind = "float"
            if wire != _WIRE_LEN:
                raise ValueError("protobuf: FloatList must be length-delimited")
            for f2, w2, v2 in _fields(value):
                if f2 == 1:
                    _decode_scalar_list(w2, v2, "float", values)
        elif field == 3:  # Int64List
            kind = "int64"
            if wire != _WIRE_LEN:
                raise ValueError("protobuf: Int64List must be length-delimited")
            for f2, w2, v2 in _fields(value):
                if f2 == 1:
                    _decode_scalar_list(w2, v2, "int64", values)
        # unknown fields: already consumed by _fields, skip silently
    if kind is None:
        raise ValueError("protobuf: Feature with no recognized kind")
    return kind, values


def decode_example(data: bytes) -> dict[str, tuple[str, list]]:
    """Decode a ``tf.Example`` into name → (kind, values). Unknown
    fields anywhere in the tree are skipped (forward compatibility);
    malformed wire raises ``ValueError``."""
    out: dict[str, tuple[str, list]] = {}
    buf = memoryview(data)
    for field, wire, value in _fields(buf):
        if field != 1 or wire != _WIRE_LEN:
            continue  # unknown Example field
        for f2, w2, entry in _fields(value):
            if f2 != 1 or w2 != _WIRE_LEN:
                continue  # unknown Features field
            key, feat = None, None
            for f3, w3, v3 in _fields(entry):
                if f3 == 1 and w3 == _WIRE_LEN:
                    key = bytes(v3).decode("utf-8")
                elif f3 == 2 and w3 == _WIRE_LEN:
                    feat = _decode_feature(v3)
            if key is None or feat is None:
                raise ValueError("protobuf: map entry missing key or value")
            out[key] = feat
    return out
