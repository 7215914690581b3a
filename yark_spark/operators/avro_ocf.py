"""Avro object-container-file codec from scratch (round 12): the
binary encoding of the Avro 1.11 specification (zigzag-varint longs,
length-prefixed strings/bytes, tagless record concatenation,
block-encoded arrays and maps, union branch indices, enums, fixed) and
the container framing (``Obj\\x01`` magic, file-metadata map with
``avro.schema``/``avro.codec``, 16-byte sync markers, counted data
blocks) — nothing imported. The codec layer dispatches to null,
deflate (the in-repo RFC 1951 encoder from ``operators/png``) and
snappy (``operators/snappy``, each block followed by the spec's
4-byte BIG-endian CRC-32 of the uncompressed data).

Avro OCF is the Hadoop-lineage record wire — Kafka archives, Hive
tables, Sqoop exports and many published event corpora ship as
``.avro`` — so it joins TFRecord (tf.data), tar-WebDataset (PyTorch),
.jsonl.zst (HF) and WARC (crawl) in the shard-wire family
(SURVEY.md §2.8 E90/E95/E101). The encoder/decoder pair is fully
SCHEMA-DRIVEN (any composition of the spec's types round-trips, not
just the fixture record). Round 13 adds schema RESOLUTION per Avro
1.11 "Schema Resolution": pass ``reader_schema`` to ``avro_records``
/ ``avro_scan`` and records decode with the WRITER schema from the
file but materialize per the READER schema — record fields matched
BY NAME (writer-only fields skipped, reader-only fields take their
JSON defaults), int→long→float→double and string↔bytes promotions,
enum symbols resolved by name (reader ``default`` for unknown
symbols), and union-vs-union / union-vs-single matching both ways.
Unresolvable pairs raise typed ValueError. Aliases stay a documented
boundary.

Decode raises typed ``ValueError`` on malformed input (bad magic,
sync-marker mismatch, truncation, unknown codec/branch/symbol, bomb)
so the quarantine path keeps corrupt rows as rows.

Oracle recipe: the container family's — md5 of the text decoded
through magic → metadata → codec → binary records must equal DuckDB's
md5(text), one digest certifying framing + codec + encoding end to
end, with the codec CYCLED null/deflate/snappy across shards so one
key exercises all three wires. Wire vectors + generic-type roundtrip
fuzz live in tests/test_avro.py.
"""

from __future__ import annotations

import json
import struct
import zlib

from yark_spark.operators.bzip2 import bz2_compress, bz2_decompress
from yark_spark.operators.png import inflate, zlib_compress
from yark_spark.operators.snappy import snappy_compress, snappy_decompress
from yark_spark.operators.varint import read_uvarint, write_uvarint

__all__ = [
    "avro_encode",
    "avro_decode",
    "avro_resolve_decode",
    "avro_build",
    "avro_records",
    "avro_scan",
    "zigzag_encode",
    "zigzag_decode",
]

MAGIC = b"Obj\x01"

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# ---------------------------------------------------------------------------
# Primitive wire
# ---------------------------------------------------------------------------


def zigzag_encode(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint."""
    z = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    return write_uvarint(z)


def zigzag_decode(buf, pos: int) -> tuple[int, int]:
    result, pos = read_uvarint(buf, pos, max_shift=70, what="avro")
    return (result >> 1) ^ -(result & 1), pos


def _read_bytes(buf, pos: int) -> tuple[bytes, int]:
    ln, pos = zigzag_decode(buf, pos)
    if ln < 0 or pos + ln > len(buf):
        raise ValueError("avro: truncated bytes/string")
    return bytes(buf[pos : pos + ln]), pos + ln


# ---------------------------------------------------------------------------
# Schema-driven datum encode/decode
# ---------------------------------------------------------------------------


def _is_decimal(schema) -> bool:
    return isinstance(schema, dict) and schema.get("logicalType") == "decimal"


def _decimal_bytes(v: int) -> bytes:
    # minimal big-endian two's complement: -128 is ONE byte (0x80),
    # +128 needs two (0x00 0x80)
    n = (8 + (v + (v < 0)).bit_length()) // 8
    return v.to_bytes(n, "big", signed=True)


def _type_of(schema):
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def avro_encode(schema, datum) -> bytes:
    """Encode one datum under ``schema`` (parsed JSON). Unions pick the
    first branch the datum fits (None → "null", bool → "boolean", int →
    first integer branch, str → "string", ...)."""
    t = _type_of(schema)
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if datum else b"\x00"
    if t in ("int", "long"):
        return zigzag_encode(int(datum))
    if t == "float":
        return struct.pack("<f", float(datum))
    if t == "double":
        return struct.pack("<d", float(datum))
    if t == "bytes":
        if _is_decimal(schema) and isinstance(datum, int):
            # logicalType decimal (round 15): the UNSCALED int rides
            # as minimal big-endian two's complement bytes (spec
            # "Decimal" — the parquet/ORC unscaled-int contract)
            datum = _decimal_bytes(datum)
        return zigzag_encode(len(datum)) + bytes(datum)
    if t == "string":
        b = datum.encode("utf-8")
        return zigzag_encode(len(b)) + b
    if t == "union":
        for idx, branch in enumerate(schema):
            if _fits(branch, datum):
                return zigzag_encode(idx) + avro_encode(branch, datum)
        raise ValueError(f"avro: no union branch fits {type(datum).__name__}")
    if t == "record":
        out = bytearray()
        for field in schema["fields"]:
            out += avro_encode(field["type"], datum[field["name"]])
        return bytes(out)
    if t == "array":
        if not datum:
            return b"\x00"
        body = b"".join(avro_encode(schema["items"], v) for v in datum)
        return zigzag_encode(len(datum)) + body + b"\x00"
    if t == "map":
        if not datum:
            return b"\x00"
        body = bytearray()
        for k, v in datum.items():
            kb = k.encode("utf-8")
            body += zigzag_encode(len(kb)) + kb + avro_encode(schema["values"], v)
        return zigzag_encode(len(datum)) + bytes(body) + b"\x00"
    if t == "enum":
        return zigzag_encode(schema["symbols"].index(datum))
    if t == "fixed":
        if _is_decimal(schema) and isinstance(datum, int):
            # fixed decimal: sign-extended to the declared size
            datum = datum.to_bytes(schema["size"], "big", signed=True)
        if len(datum) != schema["size"]:
            raise ValueError("avro: fixed size mismatch")
        return bytes(datum)
    raise ValueError(f"avro: unknown schema type {t!r}")


def _fits(branch, datum) -> bool:
    t = _type_of(branch)
    if t == "null":
        return datum is None
    if t == "boolean":
        return isinstance(datum, bool)
    if t in ("int", "long"):
        return isinstance(datum, int) and not isinstance(datum, bool)
    if t in ("float", "double"):
        return isinstance(datum, float)
    if t == "string":
        return isinstance(datum, str)
    if t in ("bytes", "fixed"):
        if _is_decimal(branch) and isinstance(datum, int):
            return True
        return isinstance(datum, (bytes, bytearray))
    if t == "record":
        return isinstance(datum, dict)
    if t == "array":
        return isinstance(datum, list)
    if t == "map":
        return isinstance(datum, dict)
    if t == "enum":
        return isinstance(datum, str)
    return False


def avro_decode(schema, buf, pos: int = 0):
    """Decode one datum; returns (value, next_pos)."""
    t = _type_of(schema)
    if t == "null":
        return None, pos
    if t == "boolean":
        if pos >= len(buf):
            raise ValueError("avro: truncated boolean")
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return zigzag_decode(buf, pos)
    if t == "float":
        if pos + 4 > len(buf):
            raise ValueError("avro: truncated float")
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        if pos + 8 > len(buf):
            raise ValueError("avro: truncated double")
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "bytes":
        b, pos = _read_bytes(buf, pos)
        if _is_decimal(schema):
            return int.from_bytes(b, "big", signed=True), pos
        return b, pos
    if t == "string":
        b, pos = _read_bytes(buf, pos)
        return b.decode("utf-8"), pos
    if t == "union":
        idx, pos = zigzag_decode(buf, pos)
        if not 0 <= idx < len(schema):
            raise ValueError(f"avro: union branch {idx} out of range")
        return avro_decode(schema[idx], buf, pos)
    if t == "record":
        out = {}
        for field in schema["fields"]:
            out[field["name"]], pos = avro_decode(field["type"], buf, pos)
        return out, pos
    if t == "array":
        out = []
        while True:
            count, pos = zigzag_decode(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:  # block with byte size (skippable form)
                count = -count
                _, pos = zigzag_decode(buf, pos)
            for _ in range(count):
                v, pos = avro_decode(schema["items"], buf, pos)
                out.append(v)
    if t == "map":
        out = {}
        while True:
            count, pos = zigzag_decode(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:
                count = -count
                _, pos = zigzag_decode(buf, pos)
            for _ in range(count):
                kb, pos = _read_bytes(buf, pos)
                out[kb.decode("utf-8")], pos = avro_decode(schema["values"], buf, pos)
    if t == "enum":
        idx, pos = zigzag_decode(buf, pos)
        symbols = schema["symbols"]
        if not 0 <= idx < len(symbols):
            raise ValueError(f"avro: enum index {idx} out of range")
        return symbols[idx], pos
    if t == "fixed":
        size = schema["size"]
        if pos + size > len(buf):
            raise ValueError("avro: truncated fixed")
        raw = bytes(buf[pos : pos + size])
        if _is_decimal(schema):
            return int.from_bytes(raw, "big", signed=True), pos + size
        return raw, pos + size
    raise ValueError(f"avro: unknown schema type {t!r}")


# ---------------------------------------------------------------------------
# Codecs
# ---------------------------------------------------------------------------


def _codec_compress(codec: str, raw: bytes) -> bytes:
    if codec == "null":
        return raw
    if codec == "deflate":  # raw RFC 1951 stream (no zlib wrapper)
        return zlib_compress(raw)[2:-4]
    if codec == "snappy":  # spec: big-endian CRC-32 of the UNCOMPRESSED data
        return snappy_compress(raw) + struct.pack(">I", zlib.crc32(raw))
    # zstd/xz import lazily: avro's import must stay cheap for the many
    # readers that never touch those codecs
    if codec == "zstd":
        from yark_spark.operators.zstd import zstd_compress

        return zstd_compress(raw, method="compressed")
    if codec == "bzip2":
        return bz2_compress(raw)
    if codec == "xz":
        from yark_spark.operators.xz import xz_compress

        return xz_compress(raw)
    raise ValueError(f"avro: unknown codec {codec!r}")


def _codec_decompress(codec: str, data: bytes, max_output: int | None) -> bytes:
    if codec == "null":
        return data
    if codec == "deflate":
        return inflate(data, max_output=max_output)
    if codec == "snappy":
        if len(data) < 4:
            raise ValueError("avro: snappy block missing CRC")
        raw = snappy_decompress(data[:-4], max_output=max_output)
        (want,) = struct.unpack(">I", data[-4:])
        if zlib.crc32(raw) != want:
            raise ValueError("avro: snappy block CRC mismatch")
        return raw
    if codec == "zstd":
        from yark_spark.operators.zstd import zstd_frames

        return b"".join(zstd_frames(data, max_output=max_output or (1 << 28)))
    if codec == "bzip2":
        return bz2_decompress(data, max_output=max_output or (1 << 28))
    if codec == "xz":
        from yark_spark.operators.xz import xz_decompress

        return xz_decompress(data, max_output=max_output or (1 << 28))
    raise ValueError(f"avro: unknown codec {codec!r}")


# ---------------------------------------------------------------------------
# Object container file
# ---------------------------------------------------------------------------


def _meta_map(meta: dict[str, bytes]) -> bytes:
    body = bytearray()
    for k, v in meta.items():
        kb = k.encode("utf-8")
        body += zigzag_encode(len(kb)) + kb + zigzag_encode(len(v)) + v
    return zigzag_encode(len(meta)) + bytes(body) + b"\x00" if meta else b"\x00"


def avro_build(
    schema: dict | str | list,
    records: list,
    codec: str = "null",
    sync: bytes | None = None,
    records_per_block: int = 1000,
) -> bytes:
    """Serialize ``records`` into one Avro object container file."""
    if sync is None:
        # deterministic but content-dependent (fixtures stay reproducible)
        h = zlib.crc32(json.dumps(schema, sort_keys=True).encode())
        sync = struct.pack("<IIII", h, len(records), 0x9E3779B9, 0x85EBCA6B)
    if len(sync) != 16:
        raise ValueError("avro: sync marker must be 16 bytes")
    out = bytearray(MAGIC)
    out += _meta_map(
        {
            "avro.schema": json.dumps(schema).encode("utf-8"),
            "avro.codec": codec.encode("utf-8"),
        }
    )
    out += sync
    for i in range(0, len(records), records_per_block):
        block = records[i : i + records_per_block]
        raw = b"".join(avro_encode(schema, r) for r in block)
        packed = _codec_compress(codec, raw)
        out += zigzag_encode(len(block)) + zigzag_encode(len(packed)) + packed + sync
    return bytes(out)


def avro_records(
    payload: bytes, max_output: int | None = None, reader_schema=None
) -> list:
    """Parse an Avro object container file with the embedded writer
    schema; verifies the magic and every block's sync marker.
    ``reader_schema`` (round 13) resolves every record against a
    DIFFERENT schema per Avro 1.11 schema resolution."""
    return avro_scan(payload, max_output=max_output, reader_schema=reader_schema)[1]


def avro_scan(
    payload: bytes, max_output: int | None = None, reader_schema=None
) -> tuple[str, list]:
    """Like ``avro_records`` but also returns the codec the file
    declares — (codec, records) — so listings can surface WHICH wire a
    shard took without re-parsing the metadata map."""
    buf = memoryview(payload)
    if bytes(buf[:4]) != MAGIC:
        raise ValueError("avro: bad magic")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = zigzag_decode(buf, pos)
        if count == 0:
            break
        if count < 0:
            count = -count
            _, pos = zigzag_decode(buf, pos)
        for _ in range(count):
            kb, pos = _read_bytes(buf, pos)
            vb, pos = _read_bytes(buf, pos)
            meta[kb.decode("utf-8")] = vb
    if "avro.schema" not in meta:
        raise ValueError("avro: missing avro.schema metadata")
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if pos + 16 > len(buf):
        raise ValueError("avro: truncated header sync marker")
    sync = bytes(buf[pos : pos + 16])
    pos += 16
    out: list = []
    total = 0
    while pos < len(buf):
        count, pos = zigzag_decode(buf, pos)
        size, pos = zigzag_decode(buf, pos)
        if count < 0 or size < 0 or pos + size + 16 > len(buf):
            raise ValueError("avro: truncated data block")
        budget = None if max_output is None else max_output - total
        raw = _codec_decompress(codec, bytes(buf[pos : pos + size]), budget)
        total += len(raw)
        if max_output is not None and total > max_output:
            raise ValueError("avro: decoded size exceeds bomb guard")
        pos += size
        if bytes(buf[pos : pos + 16]) != sync:
            raise ValueError("avro: sync marker mismatch")
        pos += 16
        rp = 0
        for _ in range(count):
            if reader_schema is not None:
                datum, rp = avro_resolve_decode(schema, reader_schema, raw, rp)
            else:
                datum, rp = avro_decode(schema, raw, rp)
            out.append(datum)
        if rp != len(raw):
            raise ValueError("avro: trailing bytes in data block")
    return codec, out


# ---------------------------------------------------------------------------
# Schema resolution (Avro 1.11 "Schema Resolution", round 13)
# ---------------------------------------------------------------------------

#: writer type -> reader types it promotes to (beyond exact equality)
_PROMOTIONS = {
    "int": ("long", "float", "double"),
    "long": ("float", "double"),
    "float": ("double",),
    "string": ("bytes",),
    "bytes": ("string",),
}


def _resolvable(writer, reader) -> bool:
    """Can data written as ``writer`` be read as ``reader``? (shallow
    check — nested mismatches surface as typed errors during decode)"""
    tw, tr = _type_of(writer), _type_of(reader)
    if tw == "union" or tr == "union":
        if tw == "union" and tr != "union":
            return any(_resolvable(b, reader) for b in writer)
        if tw != "union" and tr == "union":
            return any(_resolvable(writer, b) for b in reader)
        return any(
            any(_resolvable(wb, rb) for rb in reader) for wb in writer
        )
    if tw == tr:
        return True
    return tr in _PROMOTIONS.get(tw, ())


def _promote(tw: str, tr: str, value):
    if tr in ("float", "double") and tw in ("int", "long", "float"):
        return float(value)
    if tw == "string" and tr == "bytes":
        return value.encode("utf-8")
    if tw == "bytes" and tr == "string":
        return value.decode("utf-8")
    return value


def _default_datum(schema, default):
    """Materialize a reader field's JSON ``default`` as a datum of
    ``schema`` (bytes/fixed defaults are code-point strings; a union
    default belongs to its FIRST branch, per spec)."""
    t = _type_of(schema)
    if t == "union":
        return _default_datum(schema[0], default)
    if t in ("bytes", "fixed"):
        return default.encode("latin-1")
    if t == "float" or t == "double":
        return float(default)
    if t == "record":
        return {
            f["name"]: _default_datum(f["type"], default[f["name"]])
            for f in schema["fields"]
        }
    if t == "array":
        return [_default_datum(schema["items"], v) for v in default]
    if t == "map":
        return {k: _default_datum(schema["values"], v) for k, v in default.items()}
    return default


def avro_resolve_decode(writer, reader, buf, pos: int = 0):
    """Decode one datum written under ``writer`` but materialized per
    ``reader`` (Avro 1.11 schema resolution); returns (value,
    next_pos). Raises typed ValueError for unresolvable pairs."""
    tw, tr = _type_of(writer), _type_of(reader)
    if tw == "union":
        idx, pos = zigzag_decode(buf, pos)
        if not 0 <= idx < len(writer):
            raise ValueError(f"avro: union branch {idx} out of range")
        return avro_resolve_decode(writer[idx], reader, buf, pos)
    if tr == "union":
        # writer non-union against a reader union: first matching branch
        for branch in reader:
            if _resolvable(writer, branch):
                return avro_resolve_decode(writer, branch, buf, pos)
        raise ValueError(
            f"avro: no reader union branch accepts writer type {tw!r}"
        )
    if tw != tr:
        if tr not in _PROMOTIONS.get(tw, ()):
            raise ValueError(f"avro: cannot resolve writer {tw!r} as reader {tr!r}")
        value, pos = avro_decode(writer, buf, pos)
        return _promote(tw, tr, value), pos
    if tw == "record":
        reader_fields = {f["name"]: f for f in reader["fields"]}
        out = {}
        seen = set()
        for wf in writer["fields"]:
            rf = reader_fields.get(wf["name"])
            if rf is None:
                # writer-only field: decode and DISCARD (skip)
                _, pos = avro_decode(wf["type"], buf, pos)
                continue
            out[wf["name"]], pos = avro_resolve_decode(
                wf["type"], rf["type"], buf, pos
            )
            seen.add(wf["name"])
        for rf in reader["fields"]:
            if rf["name"] in seen:
                continue
            if "default" not in rf:
                raise ValueError(
                    f"avro: reader field {rf['name']!r} absent from writer "
                    "and has no default"
                )
            out[rf["name"]] = _default_datum(rf["type"], rf["default"])
        return out, pos
    if tw == "array":
        out = []
        while True:
            count, pos = zigzag_decode(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:
                count = -count
                _, pos = zigzag_decode(buf, pos)
            for _ in range(count):
                v, pos = avro_resolve_decode(
                    writer["items"], reader["items"], buf, pos
                )
                out.append(v)
    if tw == "map":
        out = {}
        while True:
            count, pos = zigzag_decode(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:
                count = -count
                _, pos = zigzag_decode(buf, pos)
            for _ in range(count):
                kb, pos = _read_bytes(buf, pos)
                out[kb.decode("utf-8")], pos = avro_resolve_decode(
                    writer["values"], reader["values"], buf, pos
                )
    if tw == "enum":
        idx, pos = zigzag_decode(buf, pos)
        wsyms = writer["symbols"]
        if not 0 <= idx < len(wsyms):
            raise ValueError(f"avro: enum index {idx} out of range")
        name = wsyms[idx]  # symbols resolve BY NAME, not position
        if name in reader["symbols"]:
            return name, pos
        if "default" in reader:
            return reader["default"], pos
        raise ValueError(
            f"avro: writer enum symbol {name!r} unknown to reader "
            "(no enum default)"
        )
    if tw == "fixed":
        if writer.get("size") != reader.get("size"):
            raise ValueError("avro: fixed size mismatch between schemas")
        return avro_decode(reader, buf, pos)
    # identical primitive types
    return avro_decode(reader, buf, pos)
