"""Arrow IPC (Feather V2) from scratch, BOTH directions — round 14, s3.

Arrow IPC is the interchange wire of the ML-data world: flight
streams, feather files, dataframe spills, inter-engine handoff. The
format (arrow.apache.org/docs/format/Columnar.html#serialization-and-
interprocess-communication) is:

  FILE:   "ARROW1\\0\\0" … blocks … footer-flatbuffer
          int32 footer_len "ARROW1"
  STREAM: encapsulated messages only — each
          [0xFFFFFFFF][int32 metadata_len][Message flatbuffer][body]
          terminated by a zero-length marker.

Both layers are decoded here from first principles:

* a minimal FLATBUFFER reader (vtables → field offsets, tables,
  structs, vectors, strings, unions) — flatbuffers is Arrow's
  metadata substrate and has a public spec
  (flatbuffers.dev/md__internals.html); field slot numbers below
  follow the public Schema.fbs / Message.fbs / File.fbs;
* the Arrow COLUMNAR layout: per-field validity bitmaps (LSB-first),
  primitive data buffers, int32 offset buffers for var-width types,
  list/fixed-size-list/struct nesting by pre-order node+buffer
  assignment, and the optional per-buffer BodyCompression framing
  ([int64 uncompressed_len | -1][payload]) with LZ4-frame and zstd
  codecs through the in-repo decoders.

Every value read is pinned against the writer of record: pyarrow
writes the fixtures (tests/test_arrow_ipc.py — types × nulls ×
compressions × chunking), and the q_arrow_ipc_* keys hash-match
DuckDB oracles over the same documents/embeddings tables.

The WRITER half (second pass) serializes the same wire back — a
hand-built flatbuffer builder plus the columnar body — and REAL
pyarrow reads our files and streams value-for-value
(q_arrow_ipc_write_roundtrip pins it through the oracle).

Dictionary-encoded columns decode too (second pass): DictionaryBatch
messages register value vectors by encoding id (delta batches
append), and record-batch columns hold indices of the declared Int
type. Typed boundaries: unions, run-end encoding, and big-endian
files raise ``NotImplementedError``.

Reference parity note: the reference archiver (SupBlizard/yark) has
no columnar interchange; this is driver-mandated pipeline surface
(SURVEY.md §2.8).
"""

from __future__ import annotations

import struct

__all__ = [
    "arrow_file_read",
    "arrow_file_write",
    "arrow_schema",
    "arrow_stream_read",
    "arrow_stream_write",
]


# ---------------------------------------------------------------------------
# flatbuffer primitives
# ---------------------------------------------------------------------------


def _i8(b, o):
    return struct.unpack_from("<b", b, o)[0]


def _u8(b, o):
    return b[o]


def _i16(b, o):
    return struct.unpack_from("<h", b, o)[0]


def _u16(b, o):
    return struct.unpack_from("<H", b, o)[0]


def _i32(b, o):
    return struct.unpack_from("<i", b, o)[0]


def _u32(b, o):
    return struct.unpack_from("<I", b, o)[0]


def _i64(b, o):
    return struct.unpack_from("<q", b, o)[0]


def _root(b: bytes, base: int = 0) -> int:
    """Root table position: uoffset at the buffer head."""
    return base + _u32(b, base)


def _field(b: bytes, table: int, slot: int) -> int | None:
    """Absolute position of field ``slot``'s data, or None if absent.
    vtable: int32 soffset at table start points BACK to the vtable
    (vtable_pos = table - soffset); vtable = [u16 vt_size, u16
    table_size, u16 field_off...] with offsets relative to the table
    start (0 = absent)."""
    vt = table - _i32(b, table)
    vt_size = _u16(b, vt)
    entry = 4 + 2 * slot
    if entry + 2 > vt_size:
        return None
    off = _u16(b, vt + entry)
    if off == 0:
        return None
    return table + off


def _tab(b: bytes, pos: int) -> int:
    """Follow a uoffset to a sub-table/vector/string."""
    return pos + _u32(b, pos)


def _string(b: bytes, pos: int) -> str:
    p = _tab(b, pos)
    n = _u32(b, p)
    return b[p + 4 : p + 4 + n].decode("utf-8")


def _vector(b: bytes, pos: int) -> tuple[int, int]:
    """(element_count, first_element_pos)."""
    p = _tab(b, pos)
    return _u32(b, p), p + 4


def _scalar(b, table, slot, reader, default):
    pos = _field(b, table, slot)
    return default if pos is None else reader(b, pos)


# ---------------------------------------------------------------------------
# Arrow flatbuffer tables (public Schema.fbs / Message.fbs / File.fbs)
# ---------------------------------------------------------------------------

# Type union tags (Schema.fbs enum Type)
_T_NULL, _T_INT, _T_FLOAT, _T_BINARY, _T_UTF8, _T_BOOL = 1, 2, 3, 4, 5, 6
_T_DECIMAL, _T_DATE, _T_TIME, _T_TIMESTAMP = 7, 8, 9, 10
_T_LIST, _T_STRUCT = 12, 13
_T_FIXED_SIZE_BINARY, _T_FIXED_SIZE_LIST, _T_MAP = 15, 16, 17
_T_DURATION = 18
_T_LARGE_BINARY, _T_LARGE_UTF8, _T_LARGE_LIST = 19, 20, 21

# MessageHeader union tags (Message.fbs)
_H_SCHEMA, _H_DICTIONARY, _H_RECORD_BATCH = 1, 2, 3


def _parse_field(b: bytes, table: int) -> dict:
    name_pos = _field(b, table, 0)
    name = _string(b, name_pos) if name_pos is not None else ""
    nullable = bool(_scalar(b, table, 1, _u8, 0))
    ttype = _scalar(b, table, 2, _u8, 0)
    tpos = _field(b, table, 3)
    ttab = _tab(b, tpos) if tpos is not None else None
    dic = None
    dpos = _field(b, table, 4)
    if dpos is not None:
        # DictionaryEncoding: id + index Int type (default int32 signed)
        dtab = _tab(b, dpos)
        bits, signed = 32, True
        itpos = _field(b, dtab, 1)
        if itpos is not None:
            itab = _tab(b, itpos)
            bits = _scalar(b, itab, 0, _i32, 0)
            signed = bool(_scalar(b, itab, 1, _u8, 0))
        dic = {
            "id": _scalar(b, dtab, 0, _i64, 0),
            "bits": bits,
            "signed": signed,
        }
    children = []
    cpos = _field(b, table, 5)
    if cpos is not None:
        n, at = _vector(b, cpos)
        for i in range(n):
            children.append(_parse_field(b, _tab(b, at + 4 * i)))
    f: dict = {"name": name, "nullable": nullable, "children": children}
    if dic is not None:
        f["dict"] = dic
    if ttype == _T_INT:
        f["type"] = "int"
        f["bits"] = _scalar(b, ttab, 0, _i32, 0)
        f["signed"] = bool(_scalar(b, ttab, 1, _u8, 0))
    elif ttype == _T_FLOAT:
        f["type"] = "float"
        f["precision"] = _scalar(b, ttab, 0, _i16, 0)  # 0 half 1 single 2 double
    elif ttype == _T_UTF8:
        f["type"] = "utf8"
    elif ttype == _T_LARGE_UTF8:
        f["type"] = "large_utf8"
    elif ttype == _T_BINARY:
        f["type"] = "binary"
    elif ttype == _T_LARGE_BINARY:
        f["type"] = "large_binary"
    elif ttype == _T_BOOL:
        f["type"] = "bool"
    elif ttype == _T_NULL:
        f["type"] = "null"
    elif ttype == _T_TIMESTAMP:
        f["type"] = "timestamp"
        f["unit"] = _scalar(b, ttab, 0, _i16, 0)
    elif ttype == _T_DATE:
        f["type"] = "date"
        f["unit"] = _scalar(b, ttab, 0, _i16, 1)
    elif ttype == _T_TIME:
        f["type"] = "time"
        f["unit"] = _scalar(b, ttab, 0, _i16, 1)
        f["bits"] = _scalar(b, ttab, 1, _i32, 32)
    elif ttype == _T_DURATION:
        f["type"] = "duration"
        f["unit"] = _scalar(b, ttab, 0, _i16, 1)
    elif ttype == _T_DECIMAL:
        f["type"] = "decimal"
        f["precision"] = _scalar(b, ttab, 0, _i32, 0)
        f["scale"] = _scalar(b, ttab, 1, _i32, 0)
        f["bits"] = _scalar(b, ttab, 2, _i32, 128)
    elif ttype == _T_MAP:
        f["type"] = "map"
    elif ttype == _T_LIST:
        f["type"] = "list"
    elif ttype == _T_LARGE_LIST:
        f["type"] = "large_list"
    elif ttype == _T_FIXED_SIZE_LIST:
        f["type"] = "fixed_size_list"
        f["list_size"] = _scalar(b, ttab, 0, _i32, 0)
    elif ttype == _T_STRUCT:
        f["type"] = "struct"
    elif ttype == _T_FIXED_SIZE_BINARY:
        f["type"] = "fixed_size_binary"
        f["byte_width"] = _scalar(b, ttab, 0, _i32, 0)
    else:
        raise NotImplementedError(f"arrow-ipc: type tag {ttype}")
    return f


def _parse_schema(b: bytes, table: int) -> list[dict]:
    endianness = _scalar(b, table, 0, _i16, 0)
    if endianness != 0:
        raise NotImplementedError("arrow-ipc: big-endian file")
    fpos = _field(b, table, 1)
    fields = []
    if fpos is not None:
        n, at = _vector(b, fpos)
        for i in range(n):
            fields.append(_parse_field(b, _tab(b, at + 4 * i)))
    return fields


# ---------------------------------------------------------------------------
# record-batch body decode
# ---------------------------------------------------------------------------

def _buffer(body: bytes, off: int, length: int, codec: int | None) -> bytes:
    raw = body[off : off + length]
    if codec is None or length == 0:
        return raw
    unc = _i64(raw, 0)
    if unc == -1:  # below compression threshold: stored as-is
        return raw[8:]
    if codec == 0:  # LZ4_FRAME
        from yark_spark.operators.lz4 import lz4_frame_decompress

        out = lz4_frame_decompress(raw[8:], max_output=max(unc, 1))
    elif codec == 1:  # ZSTD
        from yark_spark.operators.zstd import zstd_frames

        out = b"".join(zstd_frames(raw[8:], max_output=max(unc, 1)))
    else:
        raise NotImplementedError(f"arrow-ipc: compression codec {codec}")
    if len(out) != unc:
        raise ValueError("arrow-ipc: buffer decompressed to wrong length")
    return out


def _bit(buf: bytes, i: int) -> int:
    return (buf[i >> 3] >> (i & 7)) & 1


_INT_FMT = {
    (8, True): "<b", (8, False): "<B",
    (16, True): "<h", (16, False): "<H",
    (32, True): "<i", (32, False): "<I",
    (64, True): "<q", (64, False): "<Q",
}


class _BatchCursor:
    """Pre-order node/buffer assignment over a record batch."""

    def __init__(self, b, nodes_at, n_nodes, bufs_at, n_bufs, body, codec):
        self.b = b
        self.nodes_at = nodes_at
        self.n_nodes = n_nodes
        self.bufs_at = bufs_at
        self.n_bufs = n_bufs
        self.body = body
        self.codec = codec
        self.node_i = 0
        self.buf_i = 0

    def node(self) -> tuple[int, int]:
        if self.node_i >= self.n_nodes:
            raise ValueError("arrow-ipc: node underrun")
        at = self.nodes_at + 16 * self.node_i
        self.node_i += 1
        return _i64(self.b, at), _i64(self.b, at + 8)  # (length, null_count)

    def buffer(self) -> bytes:
        if self.buf_i >= self.n_bufs:
            raise ValueError("arrow-ipc: buffer underrun")
        at = self.bufs_at + 16 * self.buf_i
        self.buf_i += 1
        off, ln = _i64(self.b, at), _i64(self.b, at + 8)
        return _buffer(self.body, off, ln, self.codec)


def _decode_field(cur: _BatchCursor, f: dict, dicts: dict | None = None) -> list:
    t = f["type"]
    if f.get("dict") is not None and dicts is not None:
        # dictionary-encoded column: the data buffer holds INDICES of
        # the field's index Int type; values come from the dictionary
        # batch registered under the encoding id
        n, null_count = cur.node()
        validity = cur.buffer()
        present = (
            [bool(_bit(validity, i)) for i in range(n)]
            if validity
            else [True] * n
        )
        dic = f["dict"]
        fmt = _INT_FMT.get((dic["bits"], dic["signed"]))
        if fmt is None:
            raise NotImplementedError("arrow-ipc: dictionary index width")
        data = cur.buffer()
        width = struct.calcsize(fmt)
        values = dicts.get(dic["id"])
        if values is None:
            raise ValueError(
                f"arrow-ipc: no dictionary batch for id {dic['id']}"
            )
        out = []
        for i in range(n):
            if not present[i]:
                out.append(None)
                continue
            idx = struct.unpack_from(fmt, data, width * i)[0]
            if not 0 <= idx < len(values):
                raise ValueError("arrow-ipc: dictionary index out of range")
            out.append(values[idx])
        return out
    if t == "null":
        n, _nc = cur.node()
        return [None] * n
    n, null_count = cur.node()
    validity = cur.buffer()
    if null_count and not validity:
        raise ValueError("arrow-ipc: nulls declared but no validity buffer")
    present = (
        [True] * n
        if null_count == 0 and not validity
        else [bool(_bit(validity, i)) for i in range(n)]
        if validity
        else [True] * n
    )
    if t in ("int", "timestamp", "date", "time", "duration"):
        data = cur.buffer()
        if t == "int":
            fmt = _INT_FMT.get((f["bits"], f["signed"]))
            if fmt is None:
                raise NotImplementedError(f"arrow-ipc: int{f['bits']}")
        elif t in ("timestamp", "duration"):
            fmt = "<q"
        elif t == "time":
            fmt = "<i" if f.get("bits", 32) == 32 else "<q"
        else:
            fmt = "<i" if f.get("unit", 1) == 0 else "<q"
        width = struct.calcsize(fmt)
        vals = [
            struct.unpack_from(fmt, data, width * i)[0] if present[i] else None
            for i in range(n)
        ]
    elif t == "float":
        if f["precision"] == 2:
            fmt, width = "<d", 8
        elif f["precision"] == 1:
            fmt, width = "<f", 4
        else:
            raise NotImplementedError("arrow-ipc: half floats")
        data = cur.buffer()
        vals = [
            struct.unpack_from(fmt, data, width * i)[0] if present[i] else None
            for i in range(n)
        ]
    elif t == "bool":
        data = cur.buffer()
        vals = [bool(_bit(data, i)) if present[i] else None for i in range(n)]
    elif t in ("utf8", "binary", "large_utf8", "large_binary"):
        offsets = cur.buffer()
        data = cur.buffer()
        wide = t.startswith("large_")
        rd = _i64 if wide else _i32
        w = 8 if wide else 4
        vals = []
        for i in range(n):
            if not present[i]:
                vals.append(None)
                continue
            lo, hi = rd(offsets, w * i), rd(offsets, w * (i + 1))
            piece = data[lo:hi]
            vals.append(
                piece.decode("utf-8") if t.endswith("utf8") else bytes(piece)
            )
    elif t == "fixed_size_binary":
        data = cur.buffer()
        w = f["byte_width"]
        vals = [
            bytes(data[w * i : w * (i + 1)]) if present[i] else None
            for i in range(n)
        ]
    elif t == "decimal":
        # fixed-width little-endian two's complement → UNSCALED int
        # (the schema's scale applies downstream, the parquet/ORC
        # decimal contract)
        data = cur.buffer()
        w = f.get("bits", 128) // 8
        vals = [
            int.from_bytes(data[w * i : w * (i + 1)], "little", signed=True)
            if present[i]
            else None
            for i in range(n)
        ]
    elif t == "map":
        # offsets + one "entries" struct child (key, value) → list of
        # (k, v) tuples per row, the repo's MAP surface
        offsets = cur.buffer()
        entries = _decode_field(cur, f["children"][0], dicts)
        vals = []
        for i in range(n):
            if not present[i]:
                vals.append(None)
                continue
            lo, hi = _i32(offsets, 4 * i), _i32(offsets, 4 * (i + 1))
            vals.append(
                [tuple(e.values()) for e in entries[lo:hi]]
            )
    elif t in ("list", "large_list"):
        offsets = cur.buffer()
        rd = _i64 if t == "large_list" else _i32
        w = 8 if t == "large_list" else 4
        child = _decode_field(cur, f["children"][0], dicts)
        vals = []
        for i in range(n):
            if not present[i]:
                vals.append(None)
                continue
            vals.append(child[rd(offsets, w * i) : rd(offsets, w * (i + 1))])
    elif t == "fixed_size_list":
        child = _decode_field(cur, f["children"][0], dicts)
        k = f["list_size"]
        vals = [
            child[k * i : k * (i + 1)] if present[i] else None for i in range(n)
        ]
    elif t == "struct":
        kids = {c["name"]: _decode_field(cur, c, dicts) for c in f["children"]}
        vals = [
            {nm: kids[nm][i] for nm in kids} if present[i] else None
            for i in range(n)
        ]
    else:
        raise NotImplementedError(f"arrow-ipc: decode of {t}")
    return vals


def _decode_batch(
    b: bytes, header: int, body: bytes, fields: list[dict],
    dicts: dict | None = None,
) -> dict:
    n_rows = _scalar(b, header, 0, _i64, 0)
    npos = _field(b, header, 1)
    bpos = _field(b, header, 2)
    n_nodes, nodes_at = _vector(b, npos) if npos is not None else (0, 0)
    n_bufs, bufs_at = _vector(b, bpos) if bpos is not None else (0, 0)
    codec = None
    cpos = _field(b, header, 3)
    if cpos is not None:
        ctab = _tab(b, cpos)
        codec = _scalar(b, ctab, 0, _i8, 0)
        if _scalar(b, ctab, 1, _i8, 0) != 0:
            raise NotImplementedError("arrow-ipc: non-buffer compression method")
    cur = _BatchCursor(b, nodes_at, n_nodes, bufs_at, n_bufs, body, codec)
    out = {f["name"]: _decode_field(cur, f, dicts) for f in fields}
    if cur.node_i != n_nodes or cur.buf_i != n_bufs:
        raise ValueError("arrow-ipc: node/buffer walk incomplete")
    for f in fields:
        if len(out[f["name"]]) != n_rows:
            raise ValueError("arrow-ipc: column length != batch length")
    return out


# ---------------------------------------------------------------------------
# encapsulated messages, file + stream layers
# ---------------------------------------------------------------------------


def _value_field(f: dict) -> dict:
    """The dictionary's VALUE field: the encoded field minus its
    dictionary marker (per spec, the field's type describes values)."""
    g = {k: v for k, v in f.items() if k != "dict"}
    g["name"] = "values"
    return g


def _apply_dictionary_batch(
    meta: bytes, header: int, body: bytes, fields: list[dict], dicts: dict
) -> None:
    dict_id = _scalar(meta, header, 0, _i64, 0)
    is_delta = bool(_scalar(meta, header, 2, _u8, 0))
    dpos = _field(meta, header, 1)
    if dpos is None:
        raise ValueError("arrow-ipc: dictionary batch without data")
    rb = _tab(meta, dpos)
    src = next(
        (f for f in _walk_fields(fields) if f.get("dict", {}).get("id") == dict_id),
        None,
    )
    if src is None:
        raise ValueError(f"arrow-ipc: dictionary id {dict_id} not in schema")
    vals = _decode_batch(meta, rb, body, [_value_field(src)], dicts)["values"]
    if is_delta and dict_id in dicts:
        dicts[dict_id] = dicts[dict_id] + vals
    else:
        dicts[dict_id] = vals


def _walk_fields(fields: list[dict]):
    for f in fields:
        yield f
        yield from _walk_fields(f.get("children", []))


def _read_message(b: bytes, pos: int) -> tuple[int | None, int, bytes, int]:
    """(header_tag, header_table_pos, body, next_pos); tag None = EOS."""
    if pos + 4 > len(b):
        raise ValueError("arrow-ipc: truncated message")
    first = _u32(b, pos)
    if first == 0xFFFFFFFF:
        meta_len = _i32(b, pos + 4)
        meta_at = pos + 8
    else:  # pre-1.0 framing without the continuation marker
        meta_len = _i32(b, pos)
        meta_at = pos + 4
    if meta_len == 0:
        return None, 0, b"", meta_at
    meta = b[meta_at : meta_at + meta_len]
    table = _root(meta)
    tag = _scalar(meta, table, 1, _u8, 0)
    hpos = _field(meta, table, 2)
    header = _tab(meta, hpos) if hpos is not None else None
    body_len = _scalar(meta, table, 3, _i64, 0)
    body_at = meta_at + meta_len
    body = b[body_at : body_at + body_len]
    if len(body) != body_len:
        raise ValueError("arrow-ipc: truncated message body")
    return tag, (meta, header), body, body_at + body_len


def arrow_schema(payload: bytes) -> list[dict]:
    """Parse just the schema of a file or stream payload."""
    b = bytes(payload)
    if b[:6] == b"ARROW1":
        return _file_footer(b)[0]
    tag, (meta, header), _body, _nxt = _read_message(b, 0)
    if tag != _H_SCHEMA:
        raise ValueError("arrow-ipc: stream does not start with a schema")
    return _parse_schema(meta, header)


def _file_footer(b: bytes) -> tuple[list[dict], list[tuple[int, int, int]]]:
    if b[:6] != b"ARROW1" or b[-6:] != b"ARROW1":
        raise ValueError("arrow-ipc: bad magic")
    footer_len = _i32(b, len(b) - 10)
    foot = b[len(b) - 10 - footer_len : len(b) - 10]
    table = _root(foot)
    spos = _field(foot, table, 1)
    if spos is None:
        raise ValueError("arrow-ipc: footer carries no schema")
    fields = _parse_schema(foot, _tab(foot, spos))
    def _blocks_at(slot: int) -> list[tuple[int, int, int]]:
        pos = _field(foot, table, slot)
        got: list[tuple[int, int, int]] = []
        if pos is not None:
            n, at = _vector(foot, pos)
            for i in range(n):
                # struct Block { long offset; int metaDataLength;
                # long bodyLength } — 24 bytes, 4 padding after the int
                p = at + 24 * i
                got.append(
                    (_i64(foot, p), _i32(foot, p + 8), _i64(foot, p + 16))
                )
        return got

    return fields, _blocks_at(3), _blocks_at(2)


def arrow_file_read(
    payload: bytes, columns: list[str] | None = None
) -> dict[str, list]:
    """Decode an Arrow IPC FILE (Feather V2): footer blocks → record
    batches, concatenated in order."""
    b = bytes(payload)
    fields, blocks, dict_blocks = _file_footer(b)
    names = [f["name"] for f in fields]
    want = columns if columns is not None else names
    for c in want:
        if c not in names:
            raise ValueError(f"arrow-ipc: column {c!r} not in schema")
    dicts: dict = {}
    for offset, _ml, _bl in dict_blocks:
        tag, (meta, header), body, _nxt = _read_message(b, offset)
        if tag != _H_DICTIONARY:
            raise ValueError("arrow-ipc: dictionary block holds wrong tag")
        _apply_dictionary_batch(meta, header, body, fields, dicts)
    out: dict[str, list] = {c: [] for c in want}
    for offset, _meta_len, _body_len in blocks:
        tag, (meta, header), body, _nxt = _read_message(b, offset)
        if tag != _H_RECORD_BATCH:
            raise ValueError(f"arrow-ipc: block holds message tag {tag}")
        batch = _decode_batch(meta, header, body, fields, dicts)
        for c in want:
            out[c].extend(batch[c])
    return out


def arrow_stream_read(
    payload: bytes, columns: list[str] | None = None
) -> dict[str, list]:
    """Decode an Arrow IPC STREAM: schema message, then record
    batches until the end-of-stream marker."""
    b = bytes(payload)
    tag, (meta, header), _body, pos = _read_message(b, 0)
    if tag != _H_SCHEMA:
        raise ValueError("arrow-ipc: stream does not start with a schema")
    fields = _parse_schema(meta, header)
    names = [f["name"] for f in fields]
    want = columns if columns is not None else names
    for c in want:
        if c not in names:
            raise ValueError(f"arrow-ipc: column {c!r} not in schema")
    out: dict[str, list] = {c: [] for c in want}
    dicts: dict = {}
    while pos < len(b):
        tag, payload_pair, body, pos = _read_message(b, pos)
        if tag is None:
            break
        if tag == _H_DICTIONARY:
            meta, header = payload_pair
            _apply_dictionary_batch(meta, header, body, fields, dicts)
            continue
        if tag != _H_RECORD_BATCH:
            raise ValueError(f"arrow-ipc: unexpected message tag {tag}")
        meta, header = payload_pair
        batch = _decode_batch(meta, header, body, fields, dicts)
        for c in want:
            out[c].extend(batch[c])
    return out

# ---------------------------------------------------------------------------
# WRITER — round 14, session 3 second pass: the loop's other half.
# A minimal flatbuffer BUILDER (grow-downward buffer, vtables, strings,
# vectors, structs — the public wire layout) serializing the same
# Schema/Message/Footer tables the reader above parses, then the
# columnar body (validity bitmaps, offset buffers, 8-byte-aligned
# buffer layout, optional per-buffer zstd/lz4-frame compression).
# Certificate: REAL pyarrow reads our files and streams value-for-value
# (tests/test_arrow_ipc.py), alongside the self-roundtrip.
# ---------------------------------------------------------------------------


class _FBBuilder:
    """Flatbuffers build-down builder. ``self.buf`` is a byte-level
    MIRROR of the final buffer (final = buf[::-1]); a position is
    ``len(buf)`` right after an item is written = the item's offset
    from the final buffer's END to its own START. uoffsets therefore
    serialize as (here_pos - target_pos), and alignment of final
    addresses reduces to aligning ``len(buf)`` because finish() pads
    the total to ``minalign``."""

    def __init__(self):
        self.buf = bytearray()
        self.minalign = 4

    def prep(self, align: int, extra: int = 0) -> None:
        if align > self.minalign:
            self.minalign = align
        while (len(self.buf) + extra) % align:
            self.buf.append(0)

    def push(self, fmt: str, *vals) -> int:
        self.prep(struct.calcsize(fmt) if len(fmt) == 2 else 1)
        self.buf.extend(struct.pack(fmt, *vals)[::-1])
        return len(self.buf)

    def push_blob(self, final_order: bytes) -> int:
        self.buf.extend(final_order[::-1])
        return len(self.buf)

    def uoffset(self, target: int) -> int:
        self.prep(4)
        value = len(self.buf) + 4 - target
        return self.push("<I", value)

    def string(self, s: str) -> int:
        raw = s.encode("utf-8")
        # pad FIRST so the int32 length lands 4-aligned with the bytes
        # immediately after it (the data must be adjacent)
        self.prep(4, len(raw) + 1 + 4)
        self.push_blob(b"\x00")
        self.push_blob(raw)
        return self.push("<I", len(raw))

    def vector_of_offsets(self, targets: list[int]) -> int:
        self.prep(4, 4 * len(targets) + 4)
        for t in reversed(targets):
            self.uoffset(t)
        return self.push("<I", len(targets))

    def vector_of_structs(
        self, fmt: str, rows: list[tuple], align: int
    ) -> int:
        size = struct.calcsize(fmt)
        self.prep(4, size * len(rows) + 4)
        self.prep(align, size * len(rows))
        for row in reversed(rows):
            self.push_blob(struct.pack(fmt, *row))
        return self.push("<I", len(rows))

    def table(self, slots: list[tuple[int, str, object]]) -> int:
        """slots = [(slot_index, kind, value)]; kind ∈ u8/bool/i16/
        i32/i64/off; value None omits the slot (reader default)."""
        a_start = len(self.buf)
        positions: dict[int, int] = {}
        for i, kind, v in slots:
            if v is None:
                continue
            if kind == "off":
                positions[i] = self.uoffset(v)
            elif kind in ("u8", "bool"):
                positions[i] = self.push("<B", int(v))
            elif kind == "i16":
                positions[i] = self.push("<h", v)
            elif kind == "i32":
                positions[i] = self.push("<i", v)
            elif kind == "i64":
                self.prep(8, 4)
                positions[i] = self.push("<q", v)
            else:
                raise ValueError(f"flatbuffer slot kind {kind!r}")
        self.prep(4)
        table_pos = self.push("<i", 0)  # soffset placeholder
        max_slot = max(positions, default=-1)
        vt_size = 4 + 2 * (max_slot + 1)
        vt = struct.pack("<HH", vt_size, table_pos - a_start)
        for s in range(max_slot + 1):
            p = positions.get(s)
            vt += struct.pack("<H", table_pos - p if p else 0)
        self.prep(2)
        vt_pos = self.push_blob(vt)
        # soffset = table_addr - vtable_addr = vt_pos - table_pos
        packed = struct.pack("<i", vt_pos - table_pos)[::-1]
        self.buf[table_pos - 4 : table_pos] = packed
        return table_pos

    def finish(self, root: int) -> bytes:
        self.prep(self.minalign, 4)
        self.uoffset(root)
        return bytes(self.buf[::-1])


def _type_fb(b: _FBBuilder, f: dict) -> tuple[int, int]:
    """(union tag, type-table offset) for a writer field spec."""
    t = f["type"]
    if t == "int":
        return _T_INT, b.table(
            [(0, "i32", f["bits"]), (1, "bool", 1 if f["signed"] else None)]
        )
    if t == "float":
        return _T_FLOAT, b.table([(0, "i16", f["precision"])])
    if t == "utf8":
        return _T_UTF8, b.table([])
    if t == "binary":
        return _T_BINARY, b.table([])
    if t == "bool":
        return _T_BOOL, b.table([])
    if t == "list":
        return _T_LIST, b.table([])
    if t == "timestamp":
        return _T_TIMESTAMP, b.table([(0, "i16", f.get("unit", 2))])
    if t == "date":
        # unit DAY = 0 must be written explicitly (the IDL default is
        # MILLISECOND, so an omitted slot would flip the width)
        return _T_DATE, b.table([(0, "i16", f.get("unit", 0))])
    if t == "time":
        return _T_TIME, b.table(
            [(0, "i16", f.get("unit", 1)), (1, "i32", f.get("bits", 32))]
        )
    if t == "decimal":
        return _T_DECIMAL, b.table(
            [(0, "i32", f["precision"]), (1, "i32", f["scale"]),
             (2, "i32", f.get("bits", 128))]
        )
    if t == "struct":
        return _T_STRUCT, b.table([])
    if t == "map":
        return _T_MAP, b.table([])
    raise NotImplementedError(f"arrow-ipc write: type {t}")


def _field_fb(b: _FBBuilder, f: dict) -> int:
    children = [_field_fb(b, c) for c in f.get("children", [])]
    kids = b.vector_of_offsets(children)
    tag, ttab = _type_fb(b, f)
    name = b.string(f["name"])
    return b.table(
        [
            (0, "off", name),
            # nullable unless the spec says otherwise (map entries and
            # keys MUST be non-nullable per the Arrow format)
            (1, "bool", 1 if f.get("nullable", True) else None),
            (2, "u8", tag),
            (3, "off", ttab),
            (5, "off", kids),
        ]
    )


def _message(header_tag: int, header_off: int, b: _FBBuilder, body_len: int) -> bytes:
    msg = b.table(
        [
            (0, "i16", 4),  # MetadataVersion V5
            (1, "u8", header_tag),
            (2, "off", header_off),
            (3, "i64", body_len if body_len else None),
        ]
    )
    meta = b.finish(msg)
    pad = (-(len(meta) + 8)) % 8  # body must start 8-aligned
    meta += b"\x00" * pad
    return b"\xff\xff\xff\xff" + struct.pack("<i", len(meta)) + meta


def _schema_fb(b: _FBBuilder, fields: list[dict]) -> int:
    offs = [_field_fb(b, f) for f in fields]
    vec = b.vector_of_offsets(offs)
    return b.table([(1, "off", vec)])


_WRITE_INT_FMT = {64: "<q", 32: "<i", 16: "<h", 8: "<b"}


def _infer_field(name: str, values: list) -> dict:
    probe = next((v for v in values if v is not None), None)
    if isinstance(probe, bool):
        return {"name": name, "type": "bool"}
    if isinstance(probe, int) or probe is None:
        return {"name": name, "type": "int", "bits": 64, "signed": True}
    if isinstance(probe, float):
        return {"name": name, "type": "float", "precision": 2}
    if isinstance(probe, str):
        return {"name": name, "type": "utf8"}
    if isinstance(probe, (bytes, bytearray)):
        return {"name": name, "type": "binary"}
    if isinstance(probe, (list, tuple)):
        return {
            "name": name,
            "type": "list",
            "children": [
                {"name": "item", "type": "float", "precision": 1}
            ],
        }
    raise NotImplementedError(f"arrow-ipc write: cannot infer {name!r}")


def _validity(values: list) -> tuple[bytes, int]:
    nulls = sum(1 for v in values if v is None)
    if nulls == 0:
        return b"", 0
    bits = bytearray((len(values) + 7) // 8)
    for i, v in enumerate(values):
        if v is not None:
            bits[i >> 3] |= 1 << (i & 7)
    return bytes(bits), nulls


def _encode_column(f: dict, values: list, nodes: list, raw_buffers: list) -> None:
    n = len(values)
    t = f["type"]
    validity, nulls = _validity(values)
    nodes.append((n, nulls))
    raw_buffers.append(validity)
    if t == "int":
        fmt = _WRITE_INT_FMT[f["bits"]]
        raw_buffers.append(
            b"".join(struct.pack(fmt, v if v is not None else 0) for v in values)
        )
    elif t == "float":
        fmt = "<d" if f["precision"] == 2 else "<f"
        raw_buffers.append(
            b"".join(
                struct.pack(fmt, float(v) if v is not None else 0.0)
                for v in values
            )
        )
    elif t == "bool":
        bits = bytearray((n + 7) // 8)
        for i, v in enumerate(values):
            if v:
                bits[i >> 3] |= 1 << (i & 7)
        raw_buffers.append(bytes(bits))
    elif t in ("utf8", "binary"):
        blobs = [
            (v.encode("utf-8") if isinstance(v, str) else bytes(v))
            if v is not None
            else b""
            for v in values
        ]
        offs = [0]
        for blob in blobs:
            offs.append(offs[-1] + len(blob))
        raw_buffers.append(b"".join(struct.pack("<i", o) for o in offs))
        raw_buffers.append(b"".join(blobs))
    elif t == "list":
        offs = [0]
        flat = []
        for v in values:
            if v is not None:
                flat.extend(v)
            offs.append(len(flat))
        raw_buffers.append(b"".join(struct.pack("<i", o) for o in offs))
        _encode_column(f["children"][0], flat, nodes, raw_buffers)
    elif t in ("timestamp", "duration"):
        raw_buffers.append(
            b"".join(
                struct.pack("<q", int(v) if v is not None else 0)
                for v in values
            )
        )
    elif t == "date":
        fmt = "<i" if f.get("unit", 0) == 0 else "<q"
        raw_buffers.append(
            b"".join(
                struct.pack(fmt, int(v) if v is not None else 0)
                for v in values
            )
        )
    elif t == "time":
        fmt = "<i" if f.get("bits", 32) == 32 else "<q"
        raw_buffers.append(
            b"".join(
                struct.pack(fmt, int(v) if v is not None else 0)
                for v in values
            )
        )
    elif t == "decimal":
        w = f.get("bits", 128) // 8
        raw_buffers.append(
            b"".join(
                (int(v) if v is not None else 0).to_bytes(
                    w, "little", signed=True
                )
                for v in values
            )
        )
    elif t == "struct":
        for c in f["children"]:
            _encode_column(
                c,
                [None if v is None else v.get(c["name"]) for v in values],
                nodes,
                raw_buffers,
            )
    elif t == "map":
        # offsets + entries struct (required key, optional value)
        offs = [0]
        flat = []
        for v in values:
            if v is not None:
                flat.extend(
                    list(v.items()) if isinstance(v, dict) else list(v)
                )
            offs.append(len(flat))
        raw_buffers.append(b"".join(struct.pack("<i", o) for o in offs))
        entries = f["children"][0]
        kf, vf = entries["children"]
        nodes.append((len(flat), 0))
        raw_buffers.append(b"")  # entries struct: no nulls
        _encode_column(kf, [k for k, _v in flat], nodes, raw_buffers)
        _encode_column(vf, [v for _k, v in flat], nodes, raw_buffers)
    else:
        raise NotImplementedError(f"arrow-ipc write: encode {t}")


def _batch_message(
    fields: list[dict], columns: dict[str, list], compression: str | None
) -> bytes:
    n = len(columns[fields[0]["name"]]) if fields else 0
    nodes: list[tuple[int, int]] = []
    raw_buffers: list[bytes] = []
    for f in fields:
        _encode_column(f, columns[f["name"]], nodes, raw_buffers)
    codec_id = {None: None, "lz4": 0, "zstd": 1}[compression]
    body = bytearray()
    bufmeta: list[tuple[int, int]] = []
    from yark_spark.operators.lz4 import lz4_frame_compress
    from yark_spark.operators.zstd import zstd_compress

    for raw in raw_buffers:
        if codec_id is None:
            payload = raw
        elif not raw:
            payload = b""
        elif codec_id == 0:
            payload = struct.pack("<q", len(raw)) + lz4_frame_compress(raw)
        else:
            payload = struct.pack("<q", len(raw)) + zstd_compress(
                raw, method="compressed"
            )
        bufmeta.append((len(body), len(payload)))
        body.extend(payload)
        body.extend(b"\x00" * ((-len(body)) % 8))
    b = _FBBuilder()
    comp_off = None
    if codec_id is not None:
        comp_off = b.table([(0, "u8", codec_id if codec_id else None)])
    nodes_vec = b.vector_of_structs("<qq", nodes, 8)
    bufs_vec = b.vector_of_structs("<qq", bufmeta, 8)
    header = b.table(
        [
            (0, "i64", n),
            (1, "off", nodes_vec),
            (2, "off", bufs_vec),
            (3, "off", comp_off),
        ]
    )
    return _message(_H_RECORD_BATCH, header, b, len(body)) + bytes(body)


def _normalize_fields(
    columns: dict[str, list], fields: list[dict] | None
) -> list[dict]:
    if fields is None:
        return [_infer_field(nm, vals) for nm, vals in columns.items()]
    return fields


def arrow_stream_write(
    columns: dict[str, list],
    fields: list[dict] | None = None,
    compression: str | None = None,
    batch_rows: int | None = None,
) -> bytes:
    """Serialize ``{name: values}`` as an Arrow IPC STREAM."""
    fields = _normalize_fields(columns, fields)
    b = _FBBuilder()
    schema = _schema_fb(b, fields)
    out = bytearray(_message(_H_SCHEMA, schema, b, 0))
    n = len(columns[fields[0]["name"]]) if fields else 0
    step = batch_rows or max(n, 1)
    for at in range(0, max(n, 1), step) if n else []:
        chunk = {nm: vals[at : at + step] for nm, vals in columns.items()}
        out += _batch_message(fields, chunk, compression)
    out += b"\xff\xff\xff\xff\x00\x00\x00\x00"  # EOS
    return bytes(out)


def arrow_file_write(
    columns: dict[str, list],
    fields: list[dict] | None = None,
    compression: str | None = None,
    batch_rows: int | None = None,
) -> bytes:
    """Serialize ``{name: values}`` as an Arrow IPC FILE (Feather V2)."""
    fields = _normalize_fields(columns, fields)
    out = bytearray(b"ARROW1\x00\x00")
    b = _FBBuilder()
    schema_msg = _message(_H_SCHEMA, _schema_fb(b, fields), b, 0)
    out += schema_msg
    n = len(columns[fields[0]["name"]]) if fields else 0
    step = batch_rows or max(n, 1)
    blocks: list[tuple[int, int, int]] = []
    for at in range(0, max(n, 1), step) if n else []:
        chunk = {nm: vals[at : at + step] for nm, vals in columns.items()}
        msg = _batch_message(fields, chunk, compression)
        # metadata length includes the continuation + length prefix
        meta_len = 8 + struct.unpack_from("<i", msg, 4)[0]
        blocks.append((len(out), meta_len, len(msg) - meta_len))
        out += msg
    fb = _FBBuilder()
    schema2 = _schema_fb(fb, fields)
    blocks_vec = fb.vector_of_structs("<qi4xq", blocks, 8)
    dict_vec = fb.vector_of_structs("<qi4xq", [], 8)
    footer = fb.table(
        [
            (0, "i16", 4),
            (1, "off", schema2),
            (2, "off", dict_vec),
            (3, "off", blocks_vec),
        ]
    )
    foot = fb.finish(footer)
    out += foot
    out += struct.pack("<i", len(foot))
    out += b"ARROW1"
    return bytes(out)
