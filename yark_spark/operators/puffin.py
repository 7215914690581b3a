"""Puffin file format (round 16): Iceberg's statistics-and-blob
container (iceberg.apache.org/puffin-spec/) and the v3 DELETION
VECTOR blob that rides in it — the third lakehouse row-level-delete
wire beside Delta DVs and Iceberg v2 position/equality delete files.

Layout per the public spec:

* file = ``Magic | Blob₁..Blobₙ | Footer``; magic = ``PFA1``;
* footer = ``Magic | FooterPayload | FooterPayloadSize (4-byte LE) |
  Flags (4 bytes) | Magic`` — payload is UTF-8 JSON
  ``{"blobs": [BlobMetadata...], "properties": {...}}``; flags bit 0
  of byte 0 marks an LZ4-compressed payload (typed boundary here —
  no LZ4 frame encoder ships in-container, uncompressed is what the
  reference Java writer emits by default);
* BlobMetadata carries ``type``, ``fields``, ``snapshot-id``,
  ``sequence-number``, ``offset``, ``length`` (+ optional
  ``compression-codec``, ``properties``).

Deletion vector blob (``deletion-vector-v1``, Iceberg v3 spec): a
4-byte BIG-endian length of (magic + vector), the magic bytes
``D1 D3 39 64``, the vector serialized in Delta's RoaringBitmapArray
portable format (magic 1681511377 — ``operators/roaring`` both
directions, deliberately Delta-compatible per the v3 spec), and a
4-byte big-endian CRC-32C (Castagnoli, NOT zlib's CRC-32 — the
slice-by-8 ``tfrecord.crc32c``) over magic + vector. Blob properties must carry ``referenced-data-file``
and ``cardinality``.

Reference parity note: the reference archiver (SupBlizard/yark)
stores row state in SQLite; row-level delete wires are
driver-mandated lakehouse surface (SURVEY.md §2.8).
"""

from __future__ import annotations

import json
import struct

from yark_spark.operators.roaring import (
    roaring64_array_deserialize,
    roaring64_array_serialize,
)
from yark_spark.operators.tfrecord import crc32c

__all__ = [
    "crc32c",
    "dv_blob_build",
    "dv_blob_parse",
    "puffin_blob",
    "puffin_build",
    "puffin_footer",
]

_MAGIC = b"PFA1"
_DV_MAGIC = bytes([0xD1, 0xD3, 0x39, 0x64])


def dv_blob_build(rows: "list[int] | set[int]") -> tuple[bytes, int]:
    """Serialize a row-id set into the ``deletion-vector-v1`` blob
    body; returns ``(blob_bytes, cardinality)``."""
    rows = sorted(set(int(r) for r in rows))
    vector = roaring64_array_serialize(rows)
    body = _DV_MAGIC + vector
    return (
        struct.pack(">i", len(body))
        + body
        + struct.pack(">I", crc32c(body)),
        len(rows),
    )


def dv_blob_parse(blob: bytes) -> set[int]:
    """Decode a ``deletion-vector-v1`` blob back into its row ids,
    cross-checking the length word, the DV magic and the CRC-32C."""
    if len(blob) < 12:
        raise ValueError("puffin: DV blob shorter than its framing")
    (length,) = struct.unpack_from(">i", blob, 0)
    if length != len(blob) - 8:
        raise ValueError(
            f"puffin: DV length word {length} != body {len(blob) - 8}"
        )
    body = blob[4 : 4 + length]
    if body[:4] != _DV_MAGIC:
        raise ValueError("puffin: bad DV magic")
    (stored,) = struct.unpack_from(">I", blob, 4 + length)
    if crc32c(body) != stored:
        raise ValueError("puffin: DV CRC-32C mismatch")
    return roaring64_array_deserialize(body[4:])


def puffin_build(
    blobs: list[dict], properties: "dict[str, str] | None" = None
) -> bytes:
    """Serialize ``blobs`` = [{"type", "data", optional "fields",
    "snapshot-id", "sequence-number", "properties"}] into a puffin
    file (uncompressed footer payload)."""
    out = bytearray(_MAGIC)
    metas = []
    for b in blobs:
        data = b["data"]
        meta = {
            "type": b["type"],
            "fields": list(b.get("fields") or []),
            "snapshot-id": b.get("snapshot-id", 0),
            "sequence-number": b.get("sequence-number", 0),
            "offset": len(out),
            "length": len(data),
        }
        if b.get("properties"):
            meta["properties"] = {
                str(k): str(v) for k, v in b["properties"].items()
            }
        metas.append(meta)
        out += data
    payload = json.dumps(
        {"blobs": metas, "properties": dict(properties or {})}
    ).encode("utf-8")
    out += _MAGIC
    out += payload
    out += struct.pack("<i", len(payload))
    out += b"\x00\x00\x00\x00"  # flags: payload uncompressed
    out += _MAGIC
    return bytes(out)


def puffin_footer(payload: bytes) -> dict:
    """Parse the footer: ``{"blobs": [...], "properties": {...}}``.
    Typed errors for bad magic, truncation, and the LZ4-compressed
    payload flag (no LZ4 frame codec in-container)."""
    if len(payload) < 20 or payload[:4] != _MAGIC or payload[-4:] != _MAGIC:
        raise ValueError("puffin: missing PFA1 magic")
    flags = payload[-8:-4]
    (psize,) = struct.unpack_from("<i", payload, len(payload) - 12)
    if psize < 0 or len(payload) < psize + 24:
        raise ValueError("puffin: footer payload size out of range")
    start = len(payload) - 12 - psize
    if payload[start - 4 : start] != _MAGIC:
        raise ValueError("puffin: footer start magic missing")
    if flags[0] & 0x01:
        raise NotImplementedError(
            "puffin: LZ4-compressed footer payload not supported"
        )
    if any(flags[1:]) or flags[0] & ~0x01:
        raise ValueError("puffin: reserved footer flag bits set")
    footer = json.loads(payload[start : start + psize].decode("utf-8"))
    for meta in footer.get("blobs", []):
        off, length = meta.get("offset"), meta.get("length")
        if not isinstance(off, int) or not isinstance(length, int):
            raise ValueError("puffin: blob metadata missing offset/length")
        if off < 4 or off + length > start - 4:
            raise ValueError("puffin: blob span outside the blob region")
    return footer


def puffin_blob(payload: bytes, meta: dict) -> bytes:
    """Extract one blob's bytes by its footer metadata (the ranged
    read a real planner issues). ``compression-codec`` on the blob is
    a typed boundary (the DV blob type is always uncompressed)."""
    if meta.get("compression-codec"):
        raise NotImplementedError(
            f"puffin: blob compression {meta['compression-codec']!r}"
        )
    return payload[meta["offset"] : meta["offset"] + meta["length"]]
