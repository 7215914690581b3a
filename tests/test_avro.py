"""Avro object-container codec tests (round 12): zigzag vectors from
the spec, a hand-built container file (byte-by-byte from the 1.11
spec, no writer involvement), the full generic type matrix (unions,
arrays, maps, enums, fixed, nested records, negative-count blocks),
the three codecs, sync-marker/truncation/CRC typed errors, bomb
guard, and roundtrip fuzz over random schema-driven data."""

import json
import random
import struct

import pytest

from yark_spark.operators.avro_ocf import (
    MAGIC,
    avro_build,
    avro_decode,
    avro_encode,
    avro_records,
    avro_scan,
    zigzag_decode,
    zigzag_encode,
)
from zlib import crc32

DOC_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
    ],
}


# ---------------------------------------------------------------------------
# zigzag — spec vector table
# ---------------------------------------------------------------------------


def test_zigzag_spec_vectors():
    # the table from the Avro spec's binary-encoding section
    for n, wire in [
        (0, b"\x00"),
        (-1, b"\x01"),
        (1, b"\x02"),
        (-2, b"\x03"),
        (2, b"\x04"),
        (-64, b"\x7f"),
        (64, b"\x80\x01"),
    ]:
        assert zigzag_encode(n) == wire
        assert zigzag_decode(wire, 0) == (n, len(wire))


def test_zigzag_int64_extremes():
    for n in (2**63 - 1, -(2**63), 2**40, -(2**40)):
        wire = zigzag_encode(n)
        assert zigzag_decode(wire, 0) == (n, len(wire))


# ---------------------------------------------------------------------------
# Hand-built container file (no writer involvement)
# ---------------------------------------------------------------------------


def test_hand_built_container_decodes():
    schema_json = json.dumps(DOC_SCHEMA).encode()
    sync = bytes(range(16))
    # metadata map: 2 entries, then end-of-map 0
    meta = bytearray()
    meta += zigzag_encode(2)
    for k, v in [(b"avro.schema", schema_json), (b"avro.codec", b"null")]:
        meta += zigzag_encode(len(k)) + k + zigzag_encode(len(v)) + v
    meta += b"\x00"
    # one record: doc_id 3 (zigzag 6), text "hi" (len 2)
    datum = zigzag_encode(3) + zigzag_encode(2) + b"hi"
    block = zigzag_encode(1) + zigzag_encode(len(datum)) + datum + sync
    blob = MAGIC + bytes(meta) + sync + block
    assert avro_records(blob) == [{"doc_id": 3, "text": "hi"}]
    assert avro_scan(blob)[0] == "null"


def test_negative_block_counts_accepted():
    # spec: negative array/map block count means abs(count) + byte-size
    schema = {"type": "array", "items": "long"}
    body = zigzag_encode(-2)  # block of 2, size-prefixed
    items = zigzag_encode(7) + zigzag_encode(-7)
    body += zigzag_encode(len(items)) + items + b"\x00"
    assert avro_decode(schema, body) == ([7, -7], len(body))


# ---------------------------------------------------------------------------
# Generic datum encode/decode
# ---------------------------------------------------------------------------

GENERIC_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "u", "type": ["null", "long", "string"]},
        {"name": "arr", "type": {"type": "array", "items": "double"}},
        {"name": "m", "type": {"type": "map", "values": "int"}},
        {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "F", "size": 4}},
        {"name": "b", "type": "boolean"},
        {"name": "raw", "type": "bytes"},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "f", "type": "float"}],
            },
        },
    ],
}


@pytest.mark.parametrize(
    "datum",
    [
        {
            "u": "x",
            "arr": [1.5, -2.25],
            "m": {"k": 3, "j": -9},
            "e": "B",
            "fx": b"\x01\x02\x03\x04",
            "b": True,
            "raw": b"\x00\xff",
            "nested": {"f": 0.5},
        },
        {
            "u": None,
            "arr": [],
            "m": {},
            "e": "C",
            "fx": b"abcd",
            "b": False,
            "raw": b"",
            "nested": {"f": -1.0},
        },
        {
            "u": 2**62,
            "arr": [0.0],
            "m": {"": 0},
            "e": "A",
            "fx": b"\x00" * 4,
            "b": True,
            "raw": bytes(range(256)),
            "nested": {"f": 65504.0},
        },
    ],
)
def test_generic_roundtrip(datum):
    enc = avro_encode(GENERIC_SCHEMA, datum)
    dec, pos = avro_decode(GENERIC_SCHEMA, enc)
    assert dec == datum and pos == len(enc)


def test_union_branch_selection():
    schema = ["null", "long", "string"]
    assert avro_encode(schema, None) == b"\x00"
    assert avro_encode(schema, 5)[:1] == zigzag_encode(1)
    assert avro_encode(schema, "s")[:1] == zigzag_encode(2)
    with pytest.raises(ValueError, match="union"):
        avro_encode(schema, 1.5)


def test_enum_out_of_range_raises():
    schema = {"type": "enum", "name": "E", "symbols": ["A"]}
    with pytest.raises(ValueError, match="enum"):
        avro_decode(schema, zigzag_encode(3))


# ---------------------------------------------------------------------------
# Container + codecs
# ---------------------------------------------------------------------------

RECORDS = [{"doc_id": i, "text": f"doc {i} body " * (i % 5)} for i in range(40)]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_container_roundtrip_all_codecs(codec):
    blob = avro_build(DOC_SCHEMA, RECORDS, codec=codec, records_per_block=7)
    got_codec, got = avro_scan(blob)
    assert got == RECORDS and got_codec == codec


def test_container_multiple_blocks():
    blob = avro_build(DOC_SCHEMA, RECORDS, codec="null", records_per_block=3)
    assert avro_records(blob) == RECORDS


def test_bad_magic_rejected():
    blob = avro_build(DOC_SCHEMA, RECORDS[:2])
    with pytest.raises(ValueError, match="magic"):
        avro_records(b"Obj\x02" + blob[4:])


def test_sync_marker_mismatch_rejected():
    blob = bytearray(avro_build(DOC_SCHEMA, RECORDS[:4], records_per_block=2))
    blob[-1] ^= 0x01  # corrupt the final sync marker
    with pytest.raises(ValueError, match="sync"):
        avro_records(bytes(blob))


def test_snappy_crc_mismatch_rejected():
    blob = bytearray(
        avro_build(DOC_SCHEMA, RECORDS[:4], codec="snappy", records_per_block=4)
    )
    # the snappy CRC is the 4 bytes before the trailing sync marker
    blob[-17] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        avro_records(bytes(blob))


def test_truncation_rejected():
    blob = avro_build(DOC_SCHEMA, RECORDS[:4])
    for cut in (2, 5, len(blob) // 2, len(blob) - 1):
        with pytest.raises(ValueError):
            avro_records(blob[:cut])


def test_bomb_guard():
    blob = avro_build(DOC_SCHEMA, RECORDS, codec="deflate")
    raw_size = sum(len(avro_encode(DOC_SCHEMA, r)) for r in RECORDS)
    with pytest.raises(ValueError):
        avro_records(blob, max_output=raw_size - 1)
    assert avro_records(blob, max_output=raw_size) == RECORDS


def test_missing_schema_metadata_rejected():
    sync = bytes(16)
    blob = MAGIC + b"\x00" + sync  # empty metadata map
    with pytest.raises(ValueError, match="avro.schema"):
        avro_records(blob)


def test_snappy_crc_is_big_endian_of_uncompressed():
    blob = avro_build(DOC_SCHEMA, RECORDS[:2], codec="snappy", records_per_block=2)
    raw = b"".join(avro_encode(DOC_SCHEMA, r) for r in RECORDS[:2])
    want = struct.pack(">I", crc32(raw))
    assert want == bytes(blob[-20:-16])


# ---------------------------------------------------------------------------
# Fuzz
# ---------------------------------------------------------------------------


def test_container_fuzz_roundtrip():
    rng = random.Random(17)
    for _ in range(20):
        recs = [
            {
                "doc_id": rng.randrange(-(2**62), 2**62),
                "text": "".join(
                    rng.choice("abc é中") for _ in range(rng.randrange(50))
                ),
            }
            for _ in range(rng.randrange(1, 30))
        ]
        codec = rng.choice(["null", "deflate", "snappy"])
        bs = rng.randrange(1, 10)
        assert (
            avro_records(avro_build(DOC_SCHEMA, recs, codec=codec, records_per_block=bs))
            == recs
        )


# ---------------------------------------------------------------------------
# Schema resolution (round 13)
# ---------------------------------------------------------------------------


def _roundtrip_resolved(writer, reader, datum):
    from yark_spark.operators.avro_ocf import avro_encode, avro_resolve_decode

    buf = avro_encode(writer, datum)
    got, pos = avro_resolve_decode(writer, reader, buf)
    assert pos == len(buf)
    return got


def test_resolution_promotions():
    assert _roundtrip_resolved("int", "long", 7) == 7
    assert _roundtrip_resolved("int", "double", 7) == 7.0
    assert isinstance(_roundtrip_resolved("long", "float", 3), float)
    assert _roundtrip_resolved("string", "bytes", "hi") == b"hi"
    assert _roundtrip_resolved("bytes", "string", b"hi") == "hi"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot resolve"):
        _roundtrip_resolved("double", "int", 1.5)


def test_resolution_record_by_name_defaults_and_skip():
    writer = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "gone", "type": "string"},  # writer-only: skipped
            {"name": "b", "type": "string"},
        ],
    }
    reader = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "b", "type": "string"},  # reordered: by-name match
            {"name": "a", "type": "long"},  # promoted
            {"name": "c", "type": "int", "default": 9},  # reader-only
        ],
    }
    got = _roundtrip_resolved(writer, reader, {"a": 5, "gone": "x", "b": "t"})
    assert got == {"a": 5, "b": "t", "c": 9}
    reader_no_default = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "zz", "type": "int"}],
    }
    with pytest.raises(ValueError, match="no default"):
        _roundtrip_resolved(writer, reader_no_default, {"a": 1, "gone": "", "b": ""})


def test_resolution_enum_by_name():
    w = {"type": "enum", "name": "C", "symbols": ["green", "blue", "red"]}
    r = {"type": "enum", "name": "C", "symbols": ["red", "green", "blue"]}
    # writer index 2 = 'red'; a positional reader would say 'blue'
    assert _roundtrip_resolved(w, r, "red") == "red"
    r2 = {"type": "enum", "name": "C", "symbols": ["red"], "default": "red"}
    assert _roundtrip_resolved(w, r2, "blue") == "red"  # enum default
    r3 = {"type": "enum", "name": "C", "symbols": ["red"]}
    with pytest.raises(ValueError, match="unknown to reader"):
        _roundtrip_resolved(w, r3, "blue")


def test_resolution_unions_both_directions():
    # writer union -> reader single
    assert _roundtrip_resolved(["null", "string"], "string", "x") == "x"
    # writer single -> reader union (first matching branch)
    assert _roundtrip_resolved("int", ["null", "long"], 4) == 4
    with pytest.raises(ValueError, match="no reader union branch"):
        _roundtrip_resolved("string", ["null", "int"], "x")


def test_resolution_nested_and_fixed():
    w = {"type": "array", "items": {"type": "map", "values": "int"}}
    r = {"type": "array", "items": {"type": "map", "values": "double"}}
    assert _roundtrip_resolved(w, r, [{"k": 1}]) == [{"k": 1.0}]
    fw = {"type": "fixed", "name": "F", "size": 2}
    fr = {"type": "fixed", "name": "F", "size": 3}
    with pytest.raises(ValueError, match="fixed size"):
        _roundtrip_resolved(fw, fr, b"ab")


def test_resolution_default_datum_forms():
    from yark_spark.operators.avro_ocf import _default_datum

    assert _default_datum("double", 1) == 1.0
    # bytes defaults are code-point strings (spec): U+0001 U+00FF
    assert _default_datum("bytes", "\u0001\u00ff") == b"\x01\xff"
    assert _default_datum(["null", "int"], None) is None  # first branch
    assert _default_datum({"type": "array", "items": "int"}, [1, 2]) == [1, 2]


def test_ocf_scan_with_reader_schema():
    from yark_spark.operators.avro_ocf import avro_build, avro_records

    writer = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "tmp", "type": "string"},
        ],
    }
    reader = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "id", "type": "double"},
            {"name": "tag", "type": "string", "default": "none"},
        ],
    }
    blob = avro_build(writer, [{"id": 3, "tmp": "x"}], codec="deflate")
    assert avro_records(blob, reader_schema=reader) == [
        {"id": 3.0, "tag": "none"}
    ]


def test_extended_block_codecs():
    """Round 14 s3: the spec's optional block codecs — zstd, bzip2, xz
    — through the in-repo implementations (snappy's big-endian CRC32
    of the uncompressed block was already in); stdlib lanes pin the
    bzip2/xz wire as genuinely those formats."""
    import bz2 as _bz2
    import lzma as _lzma
    import struct as _struct

    from yark_spark.operators.avro_ocf import avro_build, avro_records

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": "string"},
        ],
    }
    recs = [{"a": i, "s": "val-%03d" % i} for i in range(500)]
    for codec in ("zstd", "bzip2", "xz"):
        blob = avro_build(schema, recs, codec=codec)
        assert avro_records(blob) == recs, codec
    # the bzip2/xz block payloads decode in the real libraries: walk
    # to the first block's payload (header meta + sync, then counts)
    for codec, real in (("bzip2", _bz2.decompress), ("xz", _lzma.decompress)):
        blob = avro_build(schema, recs[:50], codec=codec, sync=b"S" * 16)
        at = blob.index(b"S" * 16) + 16  # end of header
        # varints: record count, byte length
        from yark_spark.operators.avro_ocf import zigzag_decode

        _n, at = zigzag_decode(blob, at)
        ln, at = zigzag_decode(blob, at)
        assert real(blob[at : at + ln])  # real library accepts our wire


# ---------------------------------------------------------------------------
# Round 15: logical types — decimal on bytes AND fixed, temporal
# annotations riding their primitive wires
# ---------------------------------------------------------------------------


def test_logical_types_roundtrip():
    from yark_spark.operators.avro_ocf import avro_build, avro_records

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
            {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                     "precision": 18, "scale": 3}},
            {"name": "decf", "type": {"type": "fixed", "name": "d8",
                                      "size": 8, "logicalType": "decimal",
                                      "precision": 18, "scale": 3}},
            {"name": "u", "type": ["null",
                                   {"type": "bytes", "logicalType": "decimal",
                                    "precision": 9, "scale": 2}]},
            {"name": "uu", "type": {"type": "string", "logicalType": "uuid"}},
        ],
    }
    rows = [
        {"id": 1, "d": 19000, "ts": 1_700_000_000_123_456, "dec": -12345,
         "decf": 99999, "u": None,
         "uu": "00000000-0000-0000-0000-000000000001"},
        {"id": 2, "d": -3, "ts": -7, "dec": 0, "decf": -1, "u": 42,
         "uu": "00000000-0000-0000-0000-000000000002"},
    ]
    for codec in ("null", "deflate", "snappy"):
        blob = avro_build(schema, rows, codec=codec)
        assert avro_records(blob) == rows


def test_decimal_wire_bytes_are_spec_exact():
    """The decimal bytes carrier is the MINIMAL big-endian two's
    complement of the unscaled int (Avro spec 'Decimal') — pinned
    against hand-derived vectors so the wire, not just the roundtrip,
    is right."""
    from yark_spark.operators.avro_ocf import avro_decode, avro_encode

    sch = {"type": "bytes", "logicalType": "decimal",
           "precision": 9, "scale": 2}
    for v, want in [
        (0, b"\x00"), (1, b"\x01"), (-1, b"\xff"), (127, b"\x7f"),
        (128, b"\x00\x80"), (-128, b"\x80"), (-12345, b"\xcf\xc7"),
        (65535, b"\x00\xff\xff"),
    ]:
        enc = avro_encode(sch, v)
        # length varint + payload
        assert enc[1:] == want, (v, enc.hex())
        got, _ = avro_decode(sch, enc)
        assert got == v
    # fixed carrier sign-extends to size
    schf = {"type": "fixed", "name": "f4", "size": 4,
            "logicalType": "decimal", "precision": 9, "scale": 2}
    assert avro_encode(schf, -2) == b"\xff\xff\xff\xfe"
    got, _ = avro_decode(schf, b"\xff\xff\xff\xfe")
    assert got == -2
