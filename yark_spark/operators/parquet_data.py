"""Parquet DATA-page reader from scratch (round 13): extends the E118
footer audit (operators/parquet_meta — Thrift compact + FileMetaData)
down to the values themselves, so the repo carries a complete
independent read path for flat parquet columns:

    PAR1 trailer → Thrift footer → row groups → column chunks →
    page headers (Thrift) → codec (UNCOMPRESSED / SNAPPY / GZIP /
    ZSTD / BROTLI / LZ4_RAW / legacy Hadoop-framed LZ4, all
    in-repo) → definition levels (RLE/bit-packed hybrid)
    → PLAIN or dictionary (RLE_DICTIONARY index runs over a PLAIN
    dictionary page) values → typed Python rows.

Parquet is THE 100 TB storage substrate; reading it with a second,
unrelated implementation and demanding row-level agreement with
DuckDB's C++ reader (and Spark's, transitively, via the oracle
harness) is the strongest differential the repo can state — any
drift in hybrid-run decoding, level semantics, dictionary fallback
mid-chunk, or page-boundary bookkeeping breaks the hash.

Both DataPage (v1) and DataPageV2 layouts are handled (v2 keeps its
level sections uncompressed ahead of the compressed values). Pages
after a dictionary fallback (pyarrow switches to PLAIN when the
dictionary outgrows its cap) decode per-page by their own declared
encoding.

The full DELTA encoding family decodes too (round-13 second pass):
DELTA_BINARY_PACKED (block/miniblock geometry, zigzag headers,
MODULAR delta arithmetic at the physical width — overflowing deltas
wrap exactly like the writer's two's complement), DELTA_LENGTH_
BYTE_ARRAY, DELTA_BYTE_ARRAY (prefix sharing), and BYTE_STREAM_SPLIT
— each pinned by pyarrow-written fixtures differentialed against
DuckDB.

Boundaries (documented, typed): the deprecated BIT_PACKED level
encoding and the LZO codec (GPL reference implementation only) raise
``NotImplementedError``; malformed pages raise ``ValueError`` so the
ingest quarantine keeps corrupt files as rows.

Reference parity note: the reference archiver has no columnar layer
(SQLite row store, /root/reference/cmds/archive.py); this is
driver-mandated pipeline surface (SURVEY.md §2.8).
"""

from __future__ import annotations

import struct

from yark_spark.operators.parquet_meta import (
    _read_struct,
    parquet_column_index,
    parquet_footer,
    parquet_offset_index,
    sbbf_contains,
    sbbf_parse,
)

__all__ = ["parquet_read_columns"]

_PAGE_DATA = 0
_PAGE_DICT = 2
_PAGE_DATA_V2 = 3

_ENC_PLAIN = 0
_ENC_PLAIN_DICT = 2
_ENC_RLE = 3
_ENC_RLE_DICT = 8

_ENC_DELTA_BINARY = 5
_ENC_DELTA_LENGTH_BA = 6
_ENC_DELTA_BA = 7
_ENC_BYTE_STREAM_SPLIT = 9

_UNSUPPORTED_ENC = {
    4: "BIT_PACKED (deprecated)",
}


def _uvarint(buf: bytes, pos: int, end: int) -> tuple[int, int]:
    x = 0
    shift = 0
    while True:
        if pos >= end:
            raise ValueError("parquet: truncated ULEB128 varint")
        b = buf[pos]
        pos += 1
        x |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return x, pos


def _zigzag(buf: bytes, pos: int, end: int) -> tuple[int, int]:
    u, pos = _uvarint(buf, pos, end)
    return (u >> 1) ^ -(u & 1), pos


def _delta_binary_packed(
    buf: bytes, pos: int, end: int, bits: int
) -> tuple[list[int], int]:
    """DELTA_BINARY_PACKED (parquet encodings spec): block/miniblock
    header, zigzag first value, per-block zigzag min_delta + miniblock
    bit widths, LSB-first packed deltas; arithmetic is MODULAR at the
    physical width (``bits`` = 32 or 64), so overflowing deltas wrap
    exactly like the writer's two's complement did. Returns (values,
    next_pos)."""
    block_size, pos = _uvarint(buf, pos, end)
    n_mini, pos = _uvarint(buf, pos, end)
    total, pos = _uvarint(buf, pos, end)
    first, pos = _zigzag(buf, pos, end)
    if n_mini == 0 or block_size % 128 or (block_size // n_mini) % 32:
        raise ValueError("parquet: invalid delta block geometry")
    per_mini = block_size // n_mini
    mask = (1 << bits) - 1
    sign = 1 << (bits - 1)

    def _wrap(v: int) -> int:
        v &= mask
        return v - (1 << bits) if v & sign else v

    out = [_wrap(first)]
    acc = out[0]
    remaining = total - 1
    while remaining > 0:
        min_delta, pos = _zigzag(buf, pos, end)
        if pos + n_mini > end:
            raise ValueError("parquet: truncated miniblock widths")
        widths = buf[pos : pos + n_mini]
        pos += n_mini
        for w in widths:
            if w > bits + 1:
                raise ValueError("parquet: miniblock width exceeds type")
            n_bytes = per_mini * w // 8
            if pos + n_bytes > end:
                raise ValueError("parquet: truncated miniblock")
            if remaining > 0 and w:
                acc_bits = int.from_bytes(buf[pos : pos + n_bytes], "little")
                take = min(per_mini, remaining)
                m = (1 << w) - 1
                for i in range(take):
                    delta = ((acc_bits >> (i * w)) & m) + min_delta
                    acc = _wrap(acc + delta)
                    out.append(acc)
                remaining -= take
            elif remaining > 0:  # zero width: all deltas = min_delta
                take = min(per_mini, remaining)
                for _ in range(take):
                    acc = _wrap(acc + min_delta)
                    out.append(acc)
                remaining -= take
            pos += n_bytes
    if len(out) != total:
        raise ValueError("parquet: delta value count mismatch")
    return out, pos


def _delta_length_byte_array(
    buf: bytes, pos: int, end: int
) -> tuple[list[bytes], int]:
    lengths, pos = _delta_binary_packed(buf, pos, end, 32)
    out = []
    for ln in lengths:
        if ln < 0 or pos + ln > end:
            raise ValueError("parquet: DELTA_LENGTH_BYTE_ARRAY body truncated")
        out.append(bytes(buf[pos : pos + ln]))
        pos += ln
    return out, pos


def _delta_byte_array(buf: bytes, pos: int, end: int) -> list[bytes]:
    prefixes, pos = _delta_binary_packed(buf, pos, end, 32)
    suffixes, _pos = _delta_length_byte_array(buf, pos, end)
    if len(prefixes) != len(suffixes):
        raise ValueError("parquet: DELTA_BYTE_ARRAY prefix/suffix mismatch")
    out: list[bytes] = []
    prev = b""
    for pl, suf in zip(prefixes, suffixes):
        if pl < 0 or pl > len(prev):
            raise ValueError("parquet: DELTA_BYTE_ARRAY prefix out of range")
        prev = prev[:pl] + suf
        out.append(prev)
    return out


def _byte_stream_split(ptype: str, buf: bytes, pos: int, end: int, count: int) -> list:
    width = {"FLOAT": 4, "DOUBLE": 8, "INT32": 4, "INT64": 8}.get(ptype)
    if width is None:
        raise NotImplementedError(
            f"parquet: BYTE_STREAM_SPLIT for {ptype} not supported"
        )
    if end - pos != width * count:
        raise ValueError("parquet: BYTE_STREAM_SPLIT section size mismatch")
    streams = [buf[pos + k * count : pos + (k + 1) * count] for k in range(width)]
    fmt = {"FLOAT": "<f", "DOUBLE": "<d", "INT32": "<i", "INT64": "<q"}[ptype]
    return [
        struct.unpack(fmt, bytes(s[i] for s in streams))[0] for i in range(count)
    ]


def _bit_width(v: int) -> int:
    return v.bit_length()


def _lz4_hadoop_decompress(data: bytes, uncompressed_size: int) -> bytes:
    """Legacy LZ4 codec (wire id 5): Hadoop's BlockCompressorStream
    framing — repeated [uncompressed_len BE4][compressed_len BE4]
    [raw lz4 block] — with arrow C++'s fallback: if the frame walk
    doesn't reproduce exactly ``uncompressed_size`` bytes, treat the
    whole payload as one raw block (old parquet-cpp wrote that)."""
    from yark_spark.operators.lz4 import lz4_block_decompress

    try:
        pos, parts, total = 0, [], 0
        while pos < len(data):
            if pos + 8 > len(data):
                raise ValueError("lz4-hadoop: truncated frame header")
            unc, comp = struct.unpack_from(">II", data, pos)
            pos += 8
            if comp > len(data) - pos:
                raise ValueError("lz4-hadoop: block overruns payload")
            parts.append(
                lz4_block_decompress(data[pos : pos + comp], max_output=unc)
            )
            if len(parts[-1]) != unc:
                raise ValueError("lz4-hadoop: block size mismatch")
            pos += comp
            total += unc
        if total != uncompressed_size:
            raise ValueError("lz4-hadoop: frame total mismatch")
        return b"".join(parts)
    except ValueError:
        return lz4_block_decompress(data, max_output=uncompressed_size)


def _decompress(codec: str, data: bytes, uncompressed_size: int) -> bytes:
    if codec == "UNCOMPRESSED" or codec == 0:
        out = data
    elif codec == "SNAPPY":
        from yark_spark.operators.snappy import snappy_decompress

        out = snappy_decompress(data, max_output=256 << 20)
    elif codec == "GZIP":
        from yark_spark.operators.containers import gzip_decompress

        out = gzip_decompress(data, max_output=256 << 20)
    elif codec == "ZSTD":
        from yark_spark.operators.zstd import zstd_frames

        out = b"".join(zstd_frames(data, max_output=256 << 20))
    elif codec == "BROTLI":
        from yark_spark.operators.brotli import brotli_decompress

        out = brotli_decompress(data, max_output=256 << 20)
    elif codec == "LZ4_RAW":
        from yark_spark.operators.lz4 import lz4_block_decompress

        out = lz4_block_decompress(data, max_output=uncompressed_size)
    elif codec == "LZ4":
        out = _lz4_hadoop_decompress(data, uncompressed_size)
    else:
        raise NotImplementedError(f"parquet: codec {codec} not supported")
    if len(out) != uncompressed_size:
        raise ValueError(
            f"parquet: page decompressed to {len(out)} bytes, "
            f"header declared {uncompressed_size}"
        )
    return out


def _hybrid_runs(buf: bytes, pos: int, end: int, bit_width: int, count: int) -> list[int]:
    """RLE / bit-packed hybrid (parquet encoding spec §RLE): header
    varint — LSB 0 → RLE run of (header>>1) copies of a fixed-width
    little-endian value; LSB 1 → (header>>1) groups of 8 values packed
    LSB-first at ``bit_width`` bits. Stops after ``count`` values."""
    out: list[int] = []
    byte_w = (bit_width + 7) // 8
    mask = (1 << bit_width) - 1
    while len(out) < count:
        if pos >= end:
            raise ValueError("parquet: hybrid run section truncated")
        header = 0
        shift = 0
        while True:
            if pos >= end:
                raise ValueError("parquet: truncated hybrid header varint")
            b = buf[pos]
            pos += 1
            header |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        if header & 1:  # bit-packed groups
            n_groups = header >> 1
            n_vals = n_groups * 8
            n_bytes = n_groups * bit_width
            if pos + n_bytes > end:
                raise ValueError("parquet: bit-packed run past section end")
            take = min(n_vals, count - len(out))
            # Decode per GROUP of eight (byte-aligned at 8 x bit_width
            # bits = bit_width bytes): shifting one whole-run integer per
            # value copied the ever-shrinking bigint each time — O(n^2)
            # bytes over a long dictionary-index run. Same values.
            full, tail = divmod(take, 8)
            gpos = pos
            for _ in range(full):
                acc = int.from_bytes(buf[gpos : gpos + bit_width], "little")
                gpos += bit_width
                out.append(acc & mask)
                out.append((acc >> bit_width) & mask)
                out.append((acc >> (2 * bit_width)) & mask)
                out.append((acc >> (3 * bit_width)) & mask)
                out.append((acc >> (4 * bit_width)) & mask)
                out.append((acc >> (5 * bit_width)) & mask)
                out.append((acc >> (6 * bit_width)) & mask)
                out.append((acc >> (7 * bit_width)) & mask)
            if tail:
                acc = int.from_bytes(buf[gpos : gpos + bit_width], "little")
                for i in range(tail):
                    out.append((acc >> (i * bit_width)) & mask)
            pos += n_bytes
        else:  # RLE run
            n = header >> 1
            if pos + byte_w > end:
                raise ValueError("parquet: RLE run value past section end")
            v = int.from_bytes(buf[pos : pos + byte_w], "little") & mask
            pos += byte_w
            out.extend([v] * min(n, count - len(out)))
    return out


def _plain_values(
    ptype: str, buf: bytes, pos: int, end: int, count: int, type_length: "int | None" = None
) -> list:
    """PLAIN-encoded values of one physical type."""
    if ptype == "BOOLEAN":
        out = []
        for i in range(count):
            byte = pos + (i >> 3)
            if byte >= end:
                raise ValueError("parquet: PLAIN boolean run truncated")
            out.append(bool((buf[byte] >> (i & 7)) & 1))
        return out
    if ptype in ("INT32", "INT64", "FLOAT", "DOUBLE"):
        fmt, width = {
            "INT32": ("<i", 4),
            "INT64": ("<q", 8),
            "FLOAT": ("<f", 4),
            "DOUBLE": ("<d", 8),
        }[ptype]
        if pos + width * count > end:
            raise ValueError(f"parquet: PLAIN {ptype} section truncated")
        # one struct.unpack for the whole section — same per-value
        # decoding, without a Python call + tuple per value
        return list(
            struct.unpack_from(f"<{count}{fmt[1]}", buf, pos)
        )
    if ptype == "BYTE_ARRAY":
        out = []
        for _ in range(count):
            if pos + 4 > end:
                raise ValueError("parquet: BYTE_ARRAY length truncated")
            (ln,) = struct.unpack_from("<I", buf, pos)
            pos += 4
            if pos + ln > end:
                raise ValueError("parquet: BYTE_ARRAY value truncated")
            out.append(bytes(buf[pos : pos + ln]))
            pos += ln
        return out
    if ptype == "INT96":
        # The legacy Spark/Hive timestamp: 8-byte LE nanos-of-day +
        # 4-byte LE Julian day. Decoded to MICROSECONDS since epoch
        # (2440588 = the Unix-epoch Julian day) — round 13 s3.
        if pos + 12 * count > end:
            raise ValueError("parquet: PLAIN INT96 section truncated")
        out = []
        for i in range(count):
            # both fields SIGNED: pre-epoch instants ride as a
            # negative nanos-of-day against the epoch Julian day
            nanos = int.from_bytes(
                buf[pos + i * 12 : pos + i * 12 + 8], "little", signed=True
            )
            jd = int.from_bytes(
                buf[pos + i * 12 + 8 : pos + i * 12 + 12], "little", signed=True
            )
            out.append((jd - 2440588) * 86_400_000_000 + nanos // 1000)
        return out
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        if not type_length:
            raise ValueError("parquet: FLBA without a schema type_length")
        if pos + type_length * count > end:
            raise ValueError("parquet: PLAIN FLBA section truncated")
        return [
            bytes(buf[pos + i * type_length : pos + (i + 1) * type_length])
            for i in range(count)
        ]
    raise NotImplementedError(f"parquet: physical type {ptype} not supported")


def _read_chunk(
    data: bytes,
    col: dict,
    max_def: int,
    max_rep: int = 0,
    type_length: "int | None" = None,
    return_levels: bool = False,
):
    """Decode one column chunk. Flat columns (``max_rep == 0``)
    return the woven value list (None for nulls); repeated columns
    return ``(defs, reps, present_values)`` for the caller's record
    assembly. ``return_levels`` forces the level form even at
    ``max_rep == 0`` (generic Dremel assembly needs the exact def
    level of non-repeated leaves to tell a null struct from a null
    field; reps come back all-zero)."""
    ptype = col["type"]
    codec = col["codec"]
    n_total = col["num_values"]  # level entries, not rows
    start = col["data_page_offset"]
    if col["dictionary_page_offset"] is not None:
        start = min(start, col["dictionary_page_offset"])
    pos = start
    dictionary: list | None = None
    values: list = []
    all_defs: list[int] = []
    all_reps: list[int] = []
    seen = 0
    while seen < n_total:
        header, body_at = _read_struct(data, pos)
        page_type = header.get(1)
        unc_size = header.get(2)
        comp_size = header.get(3)
        if unc_size is None or comp_size is None:
            raise ValueError("parquet: page header missing sizes")
        raw = data[body_at : body_at + comp_size]
        if len(raw) != comp_size:
            raise ValueError("parquet: page body truncated")
        stored_crc = header.get(4)
        if stored_crc is not None:
            # PageHeader.crc covers the page bytes AS WRITTEN (the
            # compressed body, header excluded) — verified when the
            # writer emitted it, so silent page corruption becomes a
            # typed quarantine row instead of garbled values
            import zlib as _zlib

            if _zlib.crc32(raw) & 0xFFFFFFFF != stored_crc & 0xFFFFFFFF:
                raise ValueError("parquet: page checksum mismatch")
        pos = body_at + comp_size
        if page_type == _PAGE_DICT:
            dh = header.get(7) or {}
            n_dict = dh.get(1, 0)
            enc = dh.get(2, _ENC_PLAIN)
            if enc not in (_ENC_PLAIN, _ENC_PLAIN_DICT):
                raise NotImplementedError(
                    f"parquet: dictionary page encoding {enc}"
                )
            page = _decompress(codec, raw, unc_size)
            dictionary = _plain_values(ptype, page, 0, len(page), n_dict, type_length)
            continue
        if page_type == _PAGE_DATA:
            dh = header.get(5) or {}
            n_vals = dh.get(1)
            enc = dh.get(2)
            page = _decompress(codec, raw, unc_size)
            p = 0
            # v1 layout: [rep levels][def levels][values], each level
            # section 4-byte-length-prefixed RLE
            reps = None
            if max_rep > 0:
                (sec_len,) = struct.unpack_from("<I", page, p)
                p += 4
                reps = _hybrid_runs(
                    page, p, p + sec_len, _bit_width(max_rep), n_vals
                )
                p += sec_len
            defs = None
            if max_def > 0:
                (sec_len,) = struct.unpack_from("<I", page, p)
                p += 4
                defs = _hybrid_runs(
                    page, p, p + sec_len, _bit_width(max_def), n_vals
                )
                p += sec_len
            n_present = (
                n_vals if defs is None else sum(1 for d in defs if d == max_def)
            )
            vals = _decode_values(
                ptype, enc, page, p, len(page), n_present, dictionary, type_length
            )
        elif page_type == _PAGE_DATA_V2:
            dh = header.get(8) or {}
            n_vals = dh.get(1)
            n_nulls = dh.get(2, 0)
            enc = dh.get(4)
            def_len = dh.get(5, 0)
            rep_len = dh.get(6, 0)
            is_compressed = dh.get(7, True)
            levels = raw[: rep_len + def_len]
            body = raw[rep_len + def_len :]
            if is_compressed:
                body = _decompress(codec, body, unc_size - def_len - rep_len)
            reps = None
            if max_rep > 0:
                # v2 level sections carry NO length prefix; reps first
                reps = _hybrid_runs(levels, 0, rep_len, _bit_width(max_rep), n_vals)
            defs = None
            if max_def > 0:
                defs = _hybrid_runs(
                    levels, rep_len, rep_len + def_len, _bit_width(max_def), n_vals
                )
            vals = _decode_values(
                ptype, enc, body, 0, len(body), n_vals - n_nulls, dictionary, type_length
            )
        else:
            raise NotImplementedError(f"parquet: page type {page_type}")
        seen += n_vals
        if max_rep > 0 or return_levels:
            all_defs.extend(defs if defs is not None else [max_def] * n_vals)
            all_reps.extend(reps if reps is not None else [0] * n_vals)
            values.extend(vals)
        else:
            values.extend(_weave(defs, vals, max_def, n_vals))
    if seen != n_total:
        raise ValueError("parquet: chunk value count mismatch")
    if max_rep > 0 or return_levels:
        return all_defs, all_reps, values
    return values


def _decode_values(ptype, enc, buf, pos, end, count, dictionary, type_length=None) -> list:
    if count == 0:
        return []
    if enc in (_ENC_RLE_DICT, _ENC_PLAIN_DICT):
        if dictionary is None:
            raise ValueError("parquet: dictionary-encoded page before dict page")
        bw = buf[pos]
        idx = _hybrid_runs(buf, pos + 1, end, bw, count)
        try:
            return [dictionary[i] for i in idx]
        except IndexError:
            raise ValueError("parquet: dictionary index out of range") from None
    if enc == _ENC_PLAIN:
        return _plain_values(ptype, buf, pos, end, count, type_length)
    if enc == _ENC_RLE:
        # booleans as a values encoding (DataPageV2 writes them this
        # way): uint32 length prefix + hybrid runs at bit width 1
        if ptype != "BOOLEAN":
            raise NotImplementedError(
                f"parquet: RLE value encoding for {ptype}"
            )
        if pos + 4 > end:
            raise ValueError("parquet: RLE boolean section truncated")
        (sec_len,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        bits = _hybrid_runs(buf, pos, min(pos + sec_len, end), 1, count)
        return [bool(b) for b in bits]
    if enc == _ENC_DELTA_BINARY:
        if ptype not in ("INT32", "INT64"):
            raise ValueError(f"parquet: DELTA_BINARY_PACKED for {ptype}")
        vals, _ = _delta_binary_packed(
            buf, pos, end, 32 if ptype == "INT32" else 64
        )
        if len(vals) != count:
            raise ValueError("parquet: delta count != page value count")
        return vals
    if enc == _ENC_DELTA_LENGTH_BA:
        if ptype != "BYTE_ARRAY":
            raise ValueError(f"parquet: DELTA_LENGTH_BYTE_ARRAY for {ptype}")
        vals, _ = _delta_length_byte_array(buf, pos, end)
        if len(vals) != count:
            raise ValueError("parquet: delta-length count mismatch")
        return vals
    if enc == _ENC_DELTA_BA:
        if ptype != "BYTE_ARRAY":
            raise ValueError(f"parquet: DELTA_BYTE_ARRAY for {ptype}")
        vals = _delta_byte_array(buf, pos, end)
        if len(vals) != count:
            raise ValueError("parquet: delta-byte-array count mismatch")
        return vals
    if enc == _ENC_BYTE_STREAM_SPLIT:
        return _byte_stream_split(ptype, buf, pos, end, count)
    if enc in _UNSUPPORTED_ENC:
        raise NotImplementedError(
            f"parquet: encoding {_UNSUPPORTED_ENC[enc]} not supported"
        )
    raise ValueError(f"parquet: unknown value encoding {enc}")


def _weave(defs, vals, max_def: int, n_vals: int) -> list:
    if defs is None:
        if len(vals) != n_vals:
            raise ValueError("parquet: value count mismatch in page")
        return vals
    out = []
    it = iter(vals)
    for d in defs:
        out.append(next(it) if d == max_def else None)
    return out


def _assemble_lists(defs, reps, vals, max_def: int, def_outer: int) -> list:
    """Record assembly for the standard 3-level LIST shape: rep 0
    starts a row; def < def_outer → null row; def == def_outer →
    empty list; above that an entry exists, a value iff def ==
    max_def."""
    rows: list = []
    it = iter(vals)
    cur: list | None = None
    started = False
    for d, r in zip(defs, reps):
        if r == 0:
            if started:
                rows.append(cur)
            started = True
            if d < def_outer:
                cur = None
                continue
            cur = []
            if d == def_outer:
                continue  # empty list
        elif cur is None:
            raise ValueError("parquet: repeated entry in a null row")
        cur.append(next(it) if d == max_def else None)
    if started:
        rows.append(cur)
    return rows


# ---------------------------------------------------------------------------
# Generic Dremel record assembly (round 15): MAP columns, list<struct>,
# struct<list>, list<list<…>> — any depth of repeated/optional nesting.
# The 3-level-LIST fast path above stays for the common embedding shape;
# everything deeper routes here.
# ---------------------------------------------------------------------------

_CONV_MAP, _CONV_MAP_KV, _CONV_LIST = 1, 2, 3


def _schema_subtrees(schema: list[dict]) -> dict[str, dict]:
    """Parse the flat depth-first SchemaElement list into one tree per
    top-level column: ``{name: node}`` with node = {el, name, rep,
    conv, children}."""

    def build(i: int) -> tuple[dict, int]:
        el = schema[i]
        node = {
            "el": el,
            "name": el["name"],
            "rep": el["repetition"],
            "conv": el.get("converted_type"),
            "children": [],
        }
        j = i + 1
        for _ in range(el["num_children"]):
            child, j = build(j)
            node["children"].append(child)
        return node, j

    roots: dict[str, dict] = {}
    i = 1
    for _ in range(schema[0]["num_children"]):
        node, i = build(i)
        roots[node["name"]] = node
    return roots


def _nested_leaves(node: dict, path: tuple, d: int, r: int, out: list) -> None:
    """Collect leaf descriptors: (path, max_def, max_rep, element)."""
    d2 = d + (1 if node["rep"] in (1, 2) else 0)
    r2 = r + (1 if node["rep"] == 2 else 0)
    if not node["children"]:
        out.append(
            {
                "path": path + (node["name"],),
                "max_def": d2,
                "max_rep": r2,
                "el": node["el"],
            }
        )
        return
    for c in node["children"]:
        _nested_leaves(c, path + (node["name"],), d2, r2, out)


def _rep_def_levels(node: dict, leaf_path: tuple, d: int = 0) -> list[int]:
    """Cumulative def level AT each repeated node along ``leaf_path``
    (the assembly's list-nesting schedule for that leaf)."""
    out: list[int] = []
    cur = node
    d += 1 if cur["rep"] in (1, 2) else 0
    if cur["rep"] == 2:
        out.append(d)
    for name in leaf_path[1:]:
        nxt = next(c for c in cur["children"] if c["name"] == name)
        d += 1 if nxt["rep"] in (1, 2) else 0
        if nxt["rep"] == 2:
            out.append(d)
        cur = nxt
    return out


def _assemble_skeleton(
    defs: list, reps: list, vals: list, rep_defs: list[int], max_def: int
) -> list:
    """One leaf's (def, rep, value) stream → one skeleton per record:
    nested Python lists, one nesting level per repeated node on the
    leaf's path; wherever the definition chain stops short of the next
    repeated level, a ``("v", d, value)`` marker records HOW FAR it
    got (null struct vs null field vs empty list are distinguished by
    the merge step against the schema's per-node def levels)."""
    records: list = []
    it = iter(vals)
    m = len(rep_defs)
    stack: list = []
    started = False
    cur_root = None
    for d, r in zip(defs, reps):
        v = next(it) if d == max_def else None
        q = 0
        while q < m and rep_defs[q] <= d:
            q += 1
        if r == 0:
            if started:
                records.append(cur_root)
            started = True
            if q == 0:
                cur_root = ("v", d, v)
                stack = []
                continue
            lst: list = []
            cur_root = lst
            stack = [lst]
            base = 1
        else:
            if r > len(stack):
                raise ValueError(
                    "parquet: repetition level continues a list that "
                    "does not exist"
                )
            del stack[r:]
            base = r
        for _ in range(base, q):
            nl: list = []
            stack[-1].append(nl)
            stack.append(nl)
        stack[-1].append(("v", d, v))
    if started:
        records.append(cur_root)
    return records


def _is_marker(slot) -> bool:
    return isinstance(slot, tuple) and len(slot) == 3 and slot[0] == "v"


def _merge_value(node: dict, slots: dict, d0: int):
    """Build the Python value for ``node`` at one structural position
    from each descendant leaf's skeleton slot. Lists for repeated
    nodes, dicts for structs, (key, value) tuple lists for MAP groups,
    None for null optionals."""
    if node["rep"] == 2:
        # a repeated node: value is the list of its occurrences; a
        # marker here means the chain never reached it → empty list
        slot0 = next(iter(slots.values()))
        if _is_marker(slot0):
            return []
        n = len(slot0)
        out = []
        for i in range(n):
            sub = {k: s[i] for k, s in slots.items()}
            out.append(_element_value(node, sub, d0 + 1))
        return out
    d1 = d0 + (1 if node["rep"] == 1 else 0)
    if not node["children"]:
        _tag, dd, v = next(iter(slots.values()))
        return v if dd >= d1 else None
    # group: null iff every leaf's chain stopped above this node
    if all(_is_marker(s) and s[1] < d1 for s in slots.values()):
        return None
    if (
        node["conv"] in (_CONV_LIST, _CONV_MAP, _CONV_MAP_KV)
        and len(node["children"]) == 1
    ):
        child = node["children"][0]
        if child["rep"] == 2:
            val = _merge_value(child, _child_slots(slots, child["name"]), d1)
            if node["conv"] in (_CONV_MAP, _CONV_MAP_KV) and len(
                child["children"]
            ) == 2:
                kname = child["children"][0]["name"]
                vname = child["children"][1]["name"]
                return [
                    (e[kname], e[vname]) if isinstance(e, dict) else e
                    for e in val
                ]
            return val
    return {
        c["name"]: _merge_value(
            c, _child_slots(slots, c["name"]), d1
        )
        for c in node["children"]
    }


def _element_value(node: dict, slots: dict, d: int):
    """One occurrence of repeated ``node``: the element itself."""
    if not node["children"]:
        _tag, _dd, v = next(iter(slots.values()))
        return v
    # modern 3-level shape: repeated group wrapping ONE element field
    # (names "list"/"item"/"element" by convention); legacy 2-level
    # keeps the repeated group itself as a struct element, as does the
    # MAP key_value pair
    if len(node["children"]) == 1 and node["name"] not in ("array",) and not node[
        "name"
    ].endswith("_tuple"):
        child = node["children"][0]
        return _merge_value(child, _child_slots(slots, child["name"]), d)
    return {
        c["name"]: _merge_value(c, _child_slots(slots, c["name"]), d)
        for c in node["children"]
    }


def _child_slots(slots: dict, name: str) -> dict:
    sub = {k: v for k, v in slots.items() if k[0] == name}
    return {k[1:]: v for k, v in sub.items()}


def _leaf_convert(el: dict, vals: list) -> list:
    """Mirror the flat path's value conventions: UTF8 BYTE_ARRAY →
    str, FLBA DECIMAL → unscaled int; everything else verbatim."""
    if el["type"] == "BYTE_ARRAY":
        if el.get("converted_type") == 0:  # UTF8
            return [
                v.decode("utf-8") if isinstance(v, bytes) else v for v in vals
            ]
        return vals
    if el["type"] == "FIXED_LEN_BYTE_ARRAY" and el.get("converted_type") == 5:
        return [
            int.from_bytes(v, "big", signed=True) if isinstance(v, bytes) else v
            for v in vals
        ]
    return vals


def _read_nested_column(
    payload: bytes, footer: dict, node: dict, row_groups: "list[dict] | None"
) -> list:
    """Full Dremel read of one top-level nested column: every leaf
    chunk under it decodes to (defs, reps, values), assembles into a
    per-record skeleton, and the skeletons merge into Python values
    guided by the schema subtree. The per-row-group loop is the same
    unit of work the 100 TB plan distributes."""
    leaf_infos: list[dict] = []
    _nested_leaves(node, (), 0, 0, leaf_infos)
    for li in leaf_infos:
        li["rep_defs"] = _rep_def_levels(node, li["path"])
    out: list = []
    for rg in footer["row_groups"] if row_groups is None else row_groups:
        by_path = {tuple(c["path_in_schema"]): c for c in rg["columns"]}
        per_leaf: dict[tuple, list] = {}
        for li in leaf_infos:
            col = by_path.get(li["path"])
            if col is None:
                raise ValueError(
                    f"parquet: column chunk missing for {li['path']!r}"
                )
            defs, reps, vals = _read_chunk(
                payload,
                col,
                li["max_def"],
                max_rep=li["max_rep"],
                type_length=li["el"].get("type_length"),
                return_levels=True,
            )
            vals = _leaf_convert(li["el"], vals)
            skel = _assemble_skeleton(
                defs, reps, vals, li["rep_defs"], li["max_def"]
            )
            per_leaf[li["path"][1:]] = skel
        counts = {len(s) for s in per_leaf.values()}
        if len(counts) != 1:
            raise ValueError("parquet: leaf record counts disagree")
        (n_rows,) = counts
        for ri in range(n_rows):
            slots = {p: s[ri] for p, s in per_leaf.items()}
            out.append(_merge_value(node, slots, 0))
    return out


def parquet_read_columns(
    payload: bytes,
    columns: list[str],
    row_groups: "list[dict] | None" = None,
) -> dict[str, list]:
    """Read columns from a parquet file held in memory, across all
    row groups, returning ``{name: [values…]}`` with ``None`` for
    nulls and UTF-8-decoded strings for BYTE_ARRAY. Standard 3-level
    LIST columns (``group > repeated group > leaf`` — the embedding
    ``array<float>`` shape) come back as Python lists via
    repetition-level record assembly; deeper nesting stays typed.

    At 100 TB the unit of work is (file, row group) with ranged
    fetches of footer + needed chunks; this in-memory form is the
    per-task kernel of that plan.
    """
    footer = parquet_footer(payload)
    # schema walk: root (num_children=N), then subtrees in order
    schema = footer["schema"]
    if not schema:
        raise ValueError("parquet: empty schema")
    leaves: dict[str, dict] = {}
    lists: dict[str, dict] = {}
    struct_leaves: dict[str, dict] = {}
    nested: set[str] = set()

    def _skip_subtree(i: int) -> int:
        n = schema[i]["num_children"]
        i += 1
        for _ in range(n):
            i = _skip_subtree(i)
        return i

    i = 1
    for _ in range(schema[0]["num_children"]):
        el = schema[i]
        if el["num_children"] == 0 and el["repetition"] != 2:
            leaves[el["name"]] = el
            i += 1
            continue
        # the standard LIST shape: optional/required group with ONE
        # repeated-group child holding ONE primitive leaf
        if (
            el["num_children"] == 1
            and el["repetition"] in (0, 1)
            and i + 2 < len(schema)
            and schema[i + 1]["repetition"] == 2
            and schema[i + 1]["num_children"] == 1
            and schema[i + 2]["num_children"] == 0
            and schema[i + 2]["repetition"] in (0, 1)
        ):
            mid, leaf = schema[i + 1], schema[i + 2]
            def_outer = 1 if el["repetition"] == 1 else 0
            lists[el["name"]] = {
                "path": (el["name"], mid["name"], leaf["name"]),
                "leaf": leaf,
                "def_outer": def_outer,
                "max_def": def_outer + 1 + (1 if leaf["repetition"] == 1 else 0),
            }
            i += 3
            continue
        nested.add(el["name"])  # the GROUP name itself stays unreadable
        # ...but its non-repeated leaves are plain def-level weaves:
        # register them under dotted names ("add.path") — the Delta
        # checkpoint / nested-metadata shape (round 13 s3). A repeated
        # node anywhere on the path keeps that subtree a typed
        # boundary (full Dremel assembly).
        def _register(j: int, prefix: list, d: int) -> int:
            e = schema[j]
            if e["repetition"] == 2:
                return _skip_subtree(j)
            dd = d + (1 if e["repetition"] == 1 else 0)
            if e["num_children"] == 0:
                struct_leaves[".".join(prefix + [e["name"]])] = {
                    "path": tuple(prefix + [e["name"]]),
                    "max_def": dd,
                    "el": e,
                }
                return j + 1
            k = j + 1
            for _ in range(e["num_children"]):
                k = _register(k, prefix + [e["name"]], dd)
            return k

        _register(i, [], 0)
        i = _skip_subtree(i)
    # requesting a nested GROUP column by its top-level name runs the
    # full Dremel assembler (round 15): MAP, list<struct>, struct<list>,
    # arbitrary depth — dotted struct-leaf access stays available
    wanted_nested = [
        c for c in columns if c in nested and c not in struct_leaves
    ]
    missing = [
        c
        for c in columns
        if c not in leaves
        and c not in lists
        and c not in struct_leaves
        and c not in wanted_nested
    ]
    if missing:
        raise ValueError(f"parquet: columns not in schema: {missing}")
    out: dict[str, list] = {c: [] for c in columns}
    if wanted_nested:
        roots = _schema_subtrees(schema)
        for c in wanted_nested:
            out[c] = _read_nested_column(payload, footer, roots[c], row_groups)
    columns = [c for c in columns if c not in wanted_nested]
    for rg in footer["row_groups"] if row_groups is None else row_groups:
        by_path = {tuple(c["path_in_schema"]): c for c in rg["columns"]}
        for name in columns:
            info = lists.get(name)
            sinfo = struct_leaves.get(name) if info is None else None
            if info is not None:
                want_path = info["path"]
            elif sinfo is not None:
                want_path = sinfo["path"]
            else:
                want_path = (name,)
            col = by_path.get(want_path)
            if col is None:
                raise ValueError(f"parquet: column chunk missing for {name!r}")
            if info is None:
                if sinfo is not None:
                    max_def = sinfo["max_def"]
                    el = sinfo.get("el") or {}
                else:
                    el = leaves[name]
                    max_def = 1 if el["repetition"] == 1 else 0
                vals = _read_chunk(
                    payload, col, max_def, type_length=el.get("type_length")
                )
                # UTF8-annotated BYTE_ARRAY → str; an element that
                # EXPLICITLY lacks the annotation (round 17: raw
                # BINARY leaves — variant buffers, blobs) stays bytes
                raw_binary = (
                    bool(el)
                    and "converted_type" in el
                    and el["converted_type"] is None
                )
                if col["type"] == "BYTE_ARRAY" and not raw_binary:
                    vals = [
                        v.decode("utf-8") if isinstance(v, bytes) else v
                        for v in vals
                    ]
                elif (
                    col["type"] == "FIXED_LEN_BYTE_ARRAY"
                    and el.get("converted_type") == 5  # DECIMAL
                ):
                    # unscaled big-endian two's-complement integer;
                    # the schema's scale applies downstream
                    vals = [
                        int.from_bytes(v, "big", signed=True)
                        if isinstance(v, bytes)
                        else v
                        for v in vals
                    ]
                out[name].extend(vals)
            else:
                defs, reps, vals = _read_chunk(
                    payload, col, info["max_def"], max_rep=1
                )
                if col["type"] == "BYTE_ARRAY":
                    vals = [
                        v.decode("utf-8") if isinstance(v, bytes) else v
                        for v in vals
                    ]
                out[name].extend(
                    _assemble_lists(
                        defs, reps, vals, info["max_def"], info["def_outer"]
                    )
                )
    return out


# ---------------------------------------------------------------------------
# Predicate-driven row-group skipping (round 13, session 3)
# ---------------------------------------------------------------------------


def _stat_decode(ptype: str, b: bytes):
    if b is None:
        return None
    if ptype == "BOOLEAN":
        return b != b"\x00"
    if ptype in ("INT32", "INT64", "FLOAT", "DOUBLE"):
        fmt = {"INT32": "<i", "INT64": "<q", "FLOAT": "<f", "DOUBLE": "<d"}[ptype]
        return struct.unpack("<" + fmt[1], b)[0]
    return bytes(b)


def _probe_encode(ptype: str, v) -> bytes:
    """A probe value's plain bytes — MUST mirror the writer's
    _stat_encode (bloom hash input / statistics encoding)."""
    if ptype == "BOOLEAN":
        return b"\x01" if v else b"\x00"
    if ptype in ("INT32", "INT64", "FLOAT", "DOUBLE"):
        fmt = {"INT32": "<i", "INT64": "<q", "FLOAT": "<f", "DOUBLE": "<d"}[ptype]
        return struct.pack(fmt, v)
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


def parquet_scan_filtered(
    payload: bytes,
    columns: list[str],
    pred_col: str,
    lo,
    hi=None,
) -> tuple[dict[str, list], dict[str, int]]:
    """Scan with the predicate ``pred_col BETWEEN lo AND hi`` (or
    ``= lo`` when ``hi`` is None), skipping row groups the footer
    already rules out — min/max statistics first, then (for point
    probes) the column's split-block bloom filter. Returns
    ``(columns, counters)`` where counters report
    ``{groups_total, skipped_stats, skipped_bloom, groups_scanned}``
    — a scan that decodes pages a 100 TB planner would never fetch is
    wrong even when its rows are right, so the counters are part of
    the contract. Rows are exact-filtered after decode (statistics
    are a superset guarantee, bloom has false positives by design)."""
    footer = parquet_footer(payload)
    hi_eff = lo if hi is None else hi
    counters = {
        "groups_total": len(footer["row_groups"]),
        "skipped_stats": 0,
        "skipped_bloom": 0,
        "groups_scanned": 0,
    }
    survivors = []
    for rg in footer["row_groups"]:
        col = next(
            (c for c in rg["columns"] if c["path_in_schema"] == [pred_col]), None
        )
        if col is None:
            raise ValueError(f"parquet: predicate column {pred_col!r} missing")
        ptype = col["type"]
        st = col.get("statistics")
        if st is not None and st["min_value"] is not None:
            mn = _stat_decode(ptype, st["min_value"])
            mx = _stat_decode(ptype, st["max_value"])
            probe_lo = _probe_encode(ptype, lo) if ptype == "BYTE_ARRAY" else lo
            probe_hi = (
                _probe_encode(ptype, hi_eff) if ptype == "BYTE_ARRAY" else hi_eff
            )
            if probe_hi < mn or probe_lo > mx:
                counters["skipped_stats"] += 1
                continue
        if hi is None and col.get("bloom_filter_offset") is not None:
            from yark_spark.operators.zstd import xxh64

            off = col["bloom_filter_offset"]
            ln = col.get("bloom_filter_length")
            end = off + ln if ln else len(payload)
            bitset = sbbf_parse(bytes(payload[off:end]))
            if not sbbf_contains(bitset, xxh64(_probe_encode(ptype, lo))):
                counters["skipped_bloom"] += 1
                continue
        survivors.append(rg)
    counters["groups_scanned"] = len(survivors)
    cols = parquet_read_columns(
        payload, list(dict.fromkeys([*columns, pred_col])), row_groups=survivors
    )
    keep = [
        i
        for i, v in enumerate(cols[pred_col])
        if v is not None and lo <= v <= hi_eff
    ]
    return {c: [cols[c][i] for i in keep] for c in columns}, counters


# ---------------------------------------------------------------------------
# Page-granular skipping via the page index (round 13, session 3)
# ---------------------------------------------------------------------------


def _read_dictionary(data: bytes, col: dict) -> "list | None":
    """Decode a chunk's dictionary page (when present) without
    touching any data page — the one page every page-selective read
    still needs."""
    off = col["dictionary_page_offset"]
    if off is None:
        return None
    header, body_at = _read_struct(data, off)
    if header.get(1) != _PAGE_DICT:
        raise ValueError("parquet: dictionary_page_offset is not a dict page")
    raw = data[body_at : body_at + header.get(3)]
    page = _decompress(col["codec"], raw, header.get(2))
    dh = header.get(7) or {}
    return _plain_values(col["type"], page, 0, len(page), dh.get(1, 0))


def _decode_one_page(
    data: bytes,
    off: int,
    col: dict,
    max_def: int,
    dictionary: "list | None",
    list_info: "dict | None" = None,
) -> list:
    """Decode exactly one data page at ``off`` (a PageLocation offset)
    into its woven row values — the ranged-fetch unit of a page-
    selective scan. ``list_info`` (round 14) marks a standard-LIST
    leaf: repetition levels decode too and the page assembles into
    per-row lists via the Dremel record assembly, so point probes on
    tables carrying embeddings stay page-granular instead of falling
    back to whole-row-group decode. Page-index pages start at row
    boundaries (spec requirement for indexed files), so rows never
    straddle the fetch unit."""
    ptype, codec = col["type"], col["codec"]
    if list_info is not None:
        max_def = list_info["max_def"]
    max_rep = 1 if list_info is not None else 0
    header, body_at = _read_struct(data, off)
    page_type = header.get(1)
    unc_size, comp_size = header.get(2), header.get(3)
    if unc_size is None or comp_size is None:
        raise ValueError("parquet: page header missing sizes")
    raw = data[body_at : body_at + comp_size]
    if len(raw) != comp_size:
        raise ValueError("parquet: page body truncated")
    reps = None
    if page_type == _PAGE_DATA:
        dh = header.get(5) or {}
        n_vals, enc = dh.get(1), dh.get(2)
        page = _decompress(codec, raw, unc_size)
        p = 0
        defs = None
        # v1 layout: [rep levels][def levels][values], each level
        # block uint32-length-prefixed
        if max_rep > 0:
            (sec_len,) = struct.unpack_from("<I", page, p)
            p += 4
            reps = _hybrid_runs(page, p, p + sec_len, _bit_width(max_rep), n_vals)
            p += sec_len
        if max_def > 0:
            (sec_len,) = struct.unpack_from("<I", page, p)
            p += 4
            defs = _hybrid_runs(page, p, p + sec_len, _bit_width(max_def), n_vals)
            p += sec_len
        n_present = (
            n_vals if defs is None else sum(1 for d in defs if d == max_def)
        )
        vals = _decode_values(ptype, enc, page, p, len(page), n_present, dictionary)
    elif page_type == _PAGE_DATA_V2:
        dh = header.get(8) or {}
        n_vals, n_nulls, enc = dh.get(1), dh.get(2, 0), dh.get(4)
        def_len, rep_len = dh.get(5, 0), dh.get(6, 0)
        if rep_len and max_rep == 0:
            raise ValueError("parquet: repetition levels on a flat column")
        body = raw[rep_len + def_len :]
        if dh.get(7, True):
            body = _decompress(codec, body, unc_size - def_len - rep_len)
        if max_rep > 0:
            reps = _hybrid_runs(raw, 0, rep_len, _bit_width(max_rep), n_vals)
        defs = (
            _hybrid_runs(
                raw, rep_len, rep_len + def_len, _bit_width(max_def), n_vals
            )
            if max_def > 0
            else None
        )
        vals = _decode_values(ptype, enc, body, 0, len(body), n_vals - n_nulls, dictionary)
    else:
        raise ValueError(f"parquet: PageLocation points at page type {page_type}")
    if list_info is not None:
        if reps is None or defs is None:
            raise ValueError("parquet: LIST page missing rep/def levels")
        return _assemble_lists(
            defs, reps, vals, max_def, list_info["def_outer"]
        )
    if defs is None:
        return vals
    return _weave(defs, vals, max_def, n_vals)


def parquet_page_scan_filtered(
    payload: bytes,
    columns: list[str],
    pred_col: str,
    lo,
    hi=None,
) -> tuple[dict[str, list], dict[str, int]]:
    """Page-granular selective scan driven by the PAGE INDEX
    (ColumnIndex min/max/null_pages + OffsetIndex page locations —
    the parquet feature real writers emit via write_page_index):
    prune the predicate column's pages against ``[lo, hi]``, map the
    survivors to row ranges via first_row_index, fetch ONLY the pages
    of the requested columns that overlap those rows, and exact-filter
    at the end. Decoded bytes scale with the SELECTED rows, not the
    row group — inside a 10M-row group a point probe decodes one page
    per column. Counters report pages_total/pages_skipped/
    pages_scanned for the predicate column (the plan contract).
    Requires the page index (typed ValueError when absent — use
    parquet_scan_filtered's row-group pruning then)."""
    footer = parquet_footer(payload)
    # flat leaves: definition depth from the schema's repetition;
    # standard-LIST columns (round 14): def_outer/max_def for Dremel
    # assembly inside single pages
    schema = footer["schema"]
    max_defs = {
        el["name"]: (1 if el["repetition"] == 1 else 0)
        for el in schema[1:]
        if el["num_children"] == 0
    }
    list_infos: dict[str, dict] = {}
    j = 1
    for _ in range(schema[0]["num_children"]):
        el = schema[j]
        if (
            el["num_children"] == 1
            and el["repetition"] in (0, 1)
            and j + 2 < len(schema)
            and schema[j + 1]["repetition"] == 2
            and schema[j + 1]["num_children"] == 1
            and schema[j + 2]["num_children"] == 0
        ):
            def_outer = 1 if el["repetition"] == 1 else 0
            list_infos[el["name"]] = {
                "def_outer": def_outer,
                "max_def": def_outer
                + 1
                + (1 if schema[j + 2]["repetition"] == 1 else 0),
            }
            j += 3
            continue
        n = el["num_children"]
        j += 1
        stack = [n]
        while stack:
            k = stack.pop()
            for _i2 in range(k):
                stack.append(schema[j]["num_children"])
                j += 1
    hi_eff = lo if hi is None else hi
    counters = {"pages_total": 0, "pages_skipped": 0, "pages_scanned": 0}
    out: dict[str, list] = {c: [] for c in columns}
    need = list(dict.fromkeys([*columns, pred_col]))
    for rg in footer["row_groups"]:
        by_name = {
            c["path_in_schema"][0]: c
            for c in rg["columns"]
            if len(c["path_in_schema"]) == 1
            or (
                len(c["path_in_schema"]) == 3
                and c["path_in_schema"][0] in list_infos
            )
        }
        if pred_col not in by_name:
            raise ValueError(f"parquet: predicate column {pred_col!r} missing")
        if pred_col in list_infos:
            raise ValueError("parquet: predicate column cannot be a LIST")
        pcol = by_name[pred_col]
        ci = parquet_column_index(payload, pcol)
        oi = parquet_offset_index(payload, pcol)
        if ci is None or oi is None:
            raise ValueError(
                "parquet: no page index on predicate column "
                "(row-group pruning via parquet_scan_filtered instead)"
            )
        n_rows = rg["num_rows"]
        bounds = [p["first_row_index"] for p in oi] + [n_rows]
        ptype = pcol["type"]
        counters["pages_total"] += len(oi)

        def _pv(b):
            return _stat_decode(ptype, b) if ptype != "BYTE_ARRAY" else bytes(b)

        plo = _probe_encode(ptype, lo) if ptype == "BYTE_ARRAY" else lo
        phi = _probe_encode(ptype, hi_eff) if ptype == "BYTE_ARRAY" else hi_eff
        surviving = []
        for i in range(len(oi)):
            if ci["null_pages"][i]:
                counters["pages_skipped"] += 1
                continue
            mn, mx = _pv(ci["min_values"][i]), _pv(ci["max_values"][i])
            if phi < mn or plo > mx:
                counters["pages_skipped"] += 1
                continue
            surviving.append(i)
        counters["pages_scanned"] += len(surviving)
        if not surviving:
            continue
        # decode the predicate column's surviving pages, collect hits
        pdict = _read_dictionary(payload, pcol)
        pdef = max_defs.get(pred_col, 1)
        hits: list[int] = []
        pred_vals: dict[int, object] = {}
        for i in surviving:
            vals = _decode_one_page(payload, oi[i]["offset"], pcol, pdef, pdict)
            if len(vals) != bounds[i + 1] - bounds[i]:
                raise ValueError("parquet: page row count != offset index span")
            for j, v in enumerate(vals):
                if v is not None:
                    if isinstance(v, bytes):
                        v = v.decode("utf-8")
                    if lo <= v <= hi_eff:
                        ridx = bounds[i] + j
                        hits.append(ridx)
                        pred_vals[ridx] = v
        if not hits:
            continue
        hit_set = set(hits)
        col_vals: dict[str, dict[int, object]] = {}
        for name in need:
            if name == pred_col:
                col_vals[name] = pred_vals
                continue
            ccol = by_name.get(name)
            if ccol is None:
                raise ValueError(f"parquet: column {name!r} missing")
            coi = parquet_offset_index(payload, ccol)
            if coi is None:
                raise ValueError(f"parquet: no offset index on {name!r}")
            cbounds = [p["first_row_index"] for p in coi] + [n_rows]
            cdict = _read_dictionary(payload, ccol)
            got: dict[int, object] = {}
            for i in range(len(coi)):
                if not any(cbounds[i] <= r < cbounds[i + 1] for r in hits):
                    continue
                vals = _decode_one_page(
                    payload,
                    coi[i]["offset"],
                    ccol,
                    max_defs.get(name, 1),
                    cdict,
                    list_info=list_infos.get(name),
                )
                if len(vals) != cbounds[i + 1] - cbounds[i]:
                    raise ValueError(
                        "parquet: page row count != offset index span"
                    )
                for jj, v in enumerate(vals):
                    r = cbounds[i] + jj
                    if r in hit_set:
                        got[r] = v.decode("utf-8") if isinstance(v, bytes) else v
            col_vals[name] = got
        for r in hits:
            for c in columns:
                out[c].append(col_vals[c].get(r))
    return out, counters
