"""Parquet WRITER from scratch (round 13): the other direction of
E118/E130 — serialize flat columns into a real parquet file with
nothing imported:

    values → PLAIN or dictionary pages (RLE/bit-packed hybrid
    indices + definition levels) → page codec (UNCOMPRESSED /
    SNAPPY / GZIP / ZSTD, all in-repo encoders) → Thrift COMPACT
    page headers → row groups → Thrift FileMetaData → PAR1 trailer.

With E130's reader this closes the loop on THE 100 TB storage
substrate: the repo now reads what others write and writes what
others read. Correctness is cross-library: DuckDB's C++ reader and
pyarrow's reader both consume our files (values, schema, nulls,
UTF8 annotation, multi row groups, every codec), our own reader
round-trips them, and DuckDB's ``parquet_metadata()`` agrees with
the footer we serialized (tests/test_parquet_write.py).

Types: BOOLEAN, INT32, INT64, FLOAT, DOUBLE, BYTE_ARRAY (strings,
annotated UTF8 via ConvertedType so SQL engines read VARCHAR).
``None`` values become definition-level nulls (columns are written
OPTIONAL). Dictionary encoding is applied per column chunk when the
value cardinality is small enough to pay for itself, with the PLAIN
fallback real writers use — both paths exercise E130's reader.

Boundaries (typed): nested schemas, INT96/FLBA, and exotic codecs
raise ``NotImplementedError``.

Reference parity note: the reference archiver has no columnar layer
(SQLite row store, /root/reference/cmds/archive.py); this is
driver-mandated pipeline surface (SURVEY.md §2.8).
"""

from __future__ import annotations

import struct

import numpy as np

from yark_spark.operators.parquet_meta import (
    sbbf_insert,
    sbbf_serialize,
    sbbf_size_bytes,
)

__all__ = ["parquet_write", "plist", "pmap"]

# thrift compact wire types
_CT_TRUE, _CT_FALSE = 1, 2
_CT_I32, _CT_I64 = 5, 6
_CT_BINARY = 8
_CT_LIST = 9
_CT_STRUCT = 12

_TYPE_IDS = {
    "BOOLEAN": 0,
    "INT32": 1,
    "INT64": 2,
    "FLOAT": 4,
    "DOUBLE": 5,
    "BYTE_ARRAY": 6,
    # raw binary (round 17): same physical type, NO UTF8 ConvertedType
    # — the reader returns bytes (variant buffers, blobs)
    "BINARY": 6,
}
_CODEC_IDS = {
    "UNCOMPRESSED": 0,
    "SNAPPY": 1,
    "GZIP": 2,
    "BROTLI": 4,
    "LZ4": 5,  # legacy Hadoop framing
    "ZSTD": 6,
    "LZ4_RAW": 7,
}

_ENC_PLAIN, _ENC_RLE, _ENC_RLE_DICT = 0, 3, 8
_ENC_DELTA_BINARY, _ENC_DELTA_LENGTH_BA, _ENC_BYTE_STREAM_SPLIT = 5, 6, 9
_PAGE_DATA, _PAGE_DICT, _PAGE_DATA_V2 = 0, 2, 3


# ---------------------------------------------------------------------------
# Thrift compact protocol — writer half (the parser lives in
# parquet_meta; hand-rolled vectors in the tests pin the two against
# each other)
# ---------------------------------------------------------------------------


def _uvarint(x: int) -> bytes:
    out = bytearray()
    while x >= 0x80:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)
    return bytes(out)


def _zigzag(x: int) -> bytes:
    return _uvarint((x << 1) ^ (x >> 63) if x < 0 else x << 1)


class _TStruct:
    """Builds one compact-protocol struct: fields MUST be added in
    ascending id order (the delta encoding requires it)."""

    def __init__(self):
        self.buf = bytearray()
        self.last_id = 0

    def _header(self, fid: int, ctype: int) -> None:
        delta = fid - self.last_id
        if 1 <= delta <= 15:
            self.buf.append((delta << 4) | ctype)
        else:
            self.buf.append(ctype)
            self.buf += _zigzag(fid)
        self.last_id = fid

    def i32(self, fid: int, v: int) -> "_TStruct":
        self._header(fid, _CT_I32)
        self.buf += _zigzag(v)
        return self

    def i64(self, fid: int, v: int) -> "_TStruct":
        self._header(fid, _CT_I64)
        self.buf += _zigzag(v)
        return self

    def binary(self, fid: int, v: bytes) -> "_TStruct":
        self._header(fid, _CT_BINARY)
        self.buf += _uvarint(len(v)) + v
        return self

    def boolean(self, fid: int, v: bool) -> "_TStruct":
        self._header(fid, _CT_TRUE if v else _CT_FALSE)
        return self

    def struct(self, fid: int, body: bytes) -> "_TStruct":
        self._header(fid, _CT_STRUCT)
        self.buf += body
        return self

    def list_of(self, fid: int, elem_type: int, items: list[bytes]) -> "_TStruct":
        self._header(fid, _CT_LIST)
        n = len(items)
        if n < 15:
            self.buf.append((n << 4) | elem_type)
        else:
            self.buf.append(0xF0 | elem_type)
            self.buf += _uvarint(n)
        for it in items:
            self.buf += it
        return self

    def done(self) -> bytes:
        return bytes(self.buf) + b"\x00"  # STOP


def _t_i32_elem(v: int) -> bytes:
    return _zigzag(v)


def _t_binary_elem(v: bytes) -> bytes:
    return _uvarint(len(v)) + v


# ---------------------------------------------------------------------------
# RLE/bit-packed hybrid — writer half
# ---------------------------------------------------------------------------


def _hybrid_encode_const(value: int, count: int, bit_width: int) -> bytes:
    """``_hybrid_encode([value] * count, bit_width)`` without building
    the list — byte-identical: a run of 8+ is one RLE run, a shorter
    one is a single padded bit-packed group (the encoder's final-group
    grammar). The null-free numeric fast path uses this for its
    all-ones definition levels."""
    if count == 0:
        return b""
    byte_w = max(1, (bit_width + 7) // 8)
    if count >= 8:
        return _uvarint(count << 1) + value.to_bytes(byte_w, "little")
    acc = 0
    for k in range(count):
        acc |= (value & ((1 << bit_width) - 1)) << (k * bit_width)
    return _uvarint(3) + acc.to_bytes(bit_width, "little")


def _hybrid_encode(values: list[int], bit_width: int) -> bytes:
    """Encode small ints at ``bit_width``: RLE runs for repeats of 8+,
    bit-packed groups otherwise. Spec discipline: RLE runs carry an
    exact count, but a bit-packed run covers groups of EIGHT — only
    the FINAL group of the whole encoding may pad, so pending values
    are held until they align before an RLE run can be emitted."""
    out = bytearray()
    byte_w = max(1, (bit_width + 7) // 8)
    pend: list[int] = []

    def _flush(final: bool) -> None:
        if not pend:
            return
        if not final and len(pend) % 8:
            raise ValueError("parquet-write: internal bit-pack misalignment")
        groups = (len(pend) + 7) // 8
        out.extend(_uvarint((groups << 1) | 1))
        # Pack PER GROUP of eight: each group is byte-aligned (8 values x
        # bit_width bits = bit_width bytes), so concatenating per-group
        # little-endian bytes is identical to packing the whole run into
        # one integer — which the previous code did, making every |= copy
        # the ever-growing accumulator: O(n^2) bytes. 200k random
        # dictionary indices at 18 bits: 8.0 s -> 0.09 s, same output.
        if len(pend) % 8:
            pend.extend([0] * (8 - len(pend) % 8))
        for g in range(groups):
            acc = 0
            base = g * 8
            for k in range(8):
                acc |= pend[base + k] << (k * bit_width)
            out.extend(acc.to_bytes(bit_width, "little"))
        pend.clear()

    i, n = 0, len(values)
    while i < n:
        run = 1
        while i + run < n and values[i + run] == values[i]:
            run += 1
        if run >= 8:
            if len(pend) % 8:
                # absorb just enough of the run to realign, re-assess
                take = min(run, (-len(pend)) % 8)
                pend.extend(values[i : i + take])
                i += take
                continue
            _flush(final=False)
            out.extend(_uvarint(run << 1))
            out.extend(values[i].to_bytes(byte_w, "little"))
            i += run
        else:
            pend.extend(values[i : i + run])
            i += run
    _flush(final=True)
    return bytes(out)


def _plain_encode(ptype: str, values: list) -> bytes:
    if ptype == "BOOLEAN":
        out = bytearray((len(values) + 7) // 8)
        for i, v in enumerate(values):
            if v:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)
    if ptype in ("INT32", "INT64", "FLOAT", "DOUBLE"):
        code = {"INT32": "i", "INT64": "q", "FLOAT": "f", "DOUBLE": "d"}[ptype]
        if isinstance(values, np.ndarray):
            # one C buffer copy when the cast is lossless; anything
            # that could overflow/narrow falls through to struct.pack,
            # which keeps the per-value error semantics
            target = {"INT32": "<i4", "INT64": "<i8",
                      "FLOAT": "<f4", "DOUBLE": "<f8"}[ptype]
            if values.dtype == target or np.can_cast(
                values.dtype, target, casting="safe"
            ):
                return values.astype(target, copy=False).tobytes()
        # one struct.pack call for the whole column — same per-value
        # conversion semantics as packing one at a time, without a Python
        # call + 8-byte bytes object per value
        return struct.pack(f"<{len(values)}{code}", *values)
    if ptype == "BYTE_ARRAY":
        out = bytearray()
        for v in values:
            if isinstance(v, str):
                v = v.encode("utf-8")
            out += struct.pack("<I", len(v)) + v
        return bytes(out)
    raise NotImplementedError(f"parquet-write: type {ptype}")


# ---------------------------------------------------------------------------
# Modern value encodings — writer half (round 14): the encodings real
# post-2.x writers emit, each read back by pyarrow AND DuckDB in tests
# ---------------------------------------------------------------------------


def _zz64(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _bitpack_le(values: list[int], width: int) -> bytes:
    """Little-endian bit packing (the DELTA miniblock order)."""
    if width == 0:
        return b""
    acc = 0
    for k, v in enumerate(values):
        acc |= (v & ((1 << width) - 1)) << (k * width)
    return acc.to_bytes((len(values) * width + 7) // 8, "little")


def _delta_binary_encode(values: list[int]) -> bytes:
    """DELTA_BINARY_PACKED: 128-value blocks of 4×32-value miniblocks,
    zigzag header (block size, miniblocks/block, count, first value),
    per-block zigzag min-delta + per-miniblock bit widths + LE-packed
    (delta − min_delta). Incomplete miniblocks pad with zeros."""
    out = bytearray()
    out += _uvarint(128)
    out += _uvarint(4)
    out += _uvarint(len(values))
    out += _uvarint(_zz64(values[0] if values else 0))
    if len(values) <= 1:
        return bytes(out)
    deltas = [values[i + 1] - values[i] for i in range(len(values) - 1)]
    for at in range(0, len(deltas), 128):
        block = deltas[at : at + 128]
        mind = min(block)
        out += _uvarint(_zz64(mind))
        adj = [d - mind for d in block]
        adj += [0] * (128 - len(adj))
        widths = []
        packed = []
        for mb in range(4):
            vals = adj[mb * 32 : mb * 32 + 32]
            w = max(v.bit_length() for v in vals) if any(vals) else 0
            widths.append(w)
            packed.append(_bitpack_le(vals, w))
        out += bytes(widths)
        for p in packed:
            out += p
    return bytes(out)


def _byte_stream_split_encode(ptype: str, values: list) -> bytes:
    """BYTE_STREAM_SPLIT: the k-th bytes of every value concatenated —
    float/double columns compress far better this way."""
    fmt = {"FLOAT": "<f", "DOUBLE": "<d"}.get(ptype)
    if fmt is None:
        raise NotImplementedError(
            f"parquet-write: BYTE_STREAM_SPLIT for {ptype}"
        )
    width = 4 if ptype == "FLOAT" else 8
    raw = b"".join(struct.pack(fmt, v) for v in values)
    return b"".join(raw[k::width] for k in range(width))


def _delta_length_ba_encode(values: list) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY: all lengths as one DELTA_BINARY_PACKED
    run, then the concatenated bytes."""
    blobs = [v.encode("utf-8") if isinstance(v, str) else bytes(v) for v in values]
    return _delta_binary_encode([len(b) for b in blobs]) + b"".join(blobs)


def _compress(codec: str, data: bytes) -> bytes:
    if codec == "UNCOMPRESSED":
        return data
    if codec == "SNAPPY":
        from yark_spark.operators.snappy import snappy_compress

        return snappy_compress(data)
    if codec == "GZIP":
        from yark_spark.operators.containers import gzip_compress

        return gzip_compress(data)
    if codec == "ZSTD":
        from yark_spark.operators.zstd import zstd_compress

        return zstd_compress(data, method="compressed")
    if codec == "BROTLI":
        from yark_spark.operators.brotli import brotli_compress

        return brotli_compress(data)
    from yark_spark.operators.lz4 import lz4_block_compress

    if codec == "LZ4_RAW":
        return lz4_block_compress(data)
    if codec == "LZ4":
        # Legacy Hadoop framing (wire id 5): one
        # [uncompressed BE4][compressed BE4][raw block] frame —
        # the shape arrow C++'s Lz4HadoopCodec and parquet-mr emit.
        block = lz4_block_compress(data)
        return struct.pack(">II", len(data), len(block)) + block
    raise NotImplementedError(f"parquet-write: codec {codec}")


def _bit_width(v: int) -> int:
    return v.bit_length()


def _stat_encode(ptype: str, v) -> bytes:
    """One value's plain bytes — the Statistics min_value/max_value
    encoding AND the bloom-filter hash input (BYTE_ARRAY carries no
    length prefix in either role, matching parquet-mr)."""
    if ptype == "BOOLEAN":
        return b"\x01" if v else b"\x00"
    if ptype in ("INT32", "INT64", "FLOAT", "DOUBLE"):
        fmt = {"INT32": "<i", "INT64": "<q", "FLOAT": "<f", "DOUBLE": "<d"}[ptype]
        return struct.pack(fmt, v)
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


def _stat_order_key(ptype: str, v):
    """Sort key matching the column's ordering: signed numerics,
    unsigned lexicographic bytes for BYTE_ARRAY (UTF8's order)."""
    return _stat_encode(ptype, v) if ptype == "BYTE_ARRAY" else v


def _minmax_encoded(ptype: str, present: list) -> "tuple[bytes, bytes] | None":
    """min/max in the column's statistics order, via PLAIN ``min``/``max``
    (C-speed, no per-element key call — the keyed form billed 1.6M Python
    key evaluations per 200k-row 2-column chunk, ~a third of the writer's
    non-codec time). Equivalence to the keyed order: numerics/booleans
    compare natively (the key was the identity); an all-``str`` column
    compares by code point, which equals unsigned-lexicographic UTF-8
    byte order (UTF-8 is code-point-order preserving); an all-``bytes``
    column compares unsigned-lexicographically natively. Only a column
    mixing ``str`` and ``bytes`` values falls back to the keyed form
    (native comparison raises TypeError there).

    Leniency note (ADVICE r17): a str column containing lone
    surrogates (surrogateescape decoding) no longer fails here — it
    fails later in ``_stat_encode`` only if the surrogate value is the
    min/max. The keyed fallback would hit the same encode error, so no
    fallback is attempted; written stats are unchanged whenever the
    encode succeeds."""
    if len(present) == 0:
        return None
    if isinstance(present, np.ndarray):
        # C-speed reduction; floats only when NaN-free (builtin min/max
        # skip NaN position-dependently, np.min propagates it)
        if present.dtype.kind in "iu" or (
            present.dtype.kind == "f" and not np.isnan(present).any()
        ):
            return (
                _stat_encode(ptype, present.min()),
                _stat_encode(ptype, present.max()),
            )
        present = present.tolist()
    try:
        lo, hi = min(present), max(present)
    except TypeError:  # BYTE_ARRAY column mixing str and bytes
        lo = min(present, key=lambda v: _stat_order_key(ptype, v))
        hi = max(present, key=lambda v: _stat_order_key(ptype, v))
    return _stat_encode(ptype, lo), _stat_encode(ptype, hi)


def _statistics_struct(ptype: str, vals: list, present: list) -> bytes:
    st = _TStruct()
    st.i64(3, len(vals) - len(present))
    mm = _minmax_encoded(ptype, present)
    if mm is not None:
        st.binary(5, mm[1])
        st.binary(6, mm[0])
    return st.done()


def _infer_type(name: str, values: list) -> str:
    if isinstance(values, np.ndarray) and len(values):
        # dtype decides directly (np scalars are not Python int/float)
        if values.dtype.kind == "b":
            return "BOOLEAN"
        if values.dtype.kind in "iu":
            lo, hi = int(values.min()), int(values.max())
            return (
                "INT32" if -(2**31) <= lo and hi < 2**31 else "INT64"
            )
        if values.dtype.kind == "f":
            return "DOUBLE"
        values = values.tolist()
    kind = None
    wide = False
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            k = "BOOLEAN"
        elif isinstance(v, int):
            k = "INT"
            if not -(2**31) <= v < 2**31:
                wide = True
        elif isinstance(v, float):
            k = "DOUBLE"
        elif isinstance(v, (str, bytes)):
            k = "BYTE_ARRAY"
        else:
            raise NotImplementedError(
                f"parquet-write: unsupported value {type(v).__name__} in {name!r}"
            )
        if kind is None:
            kind = k
        elif kind != k:
            raise ValueError(f"parquet-write: mixed types in column {name!r}")
    if kind == "INT":
        return "INT64" if wide else "INT32"
    return kind or "BYTE_ARRAY"  # all-null column


def plist(element_spec) -> dict:
    """Type-spec marker for a standard 3-level LIST column: optional
    group (ConvertedType LIST) → repeated group ``list`` → optional
    ``element`` of ``element_spec`` (a physical type string, a struct
    dict, or another plist/pmap). Row values are Python lists (None =
    null list, [] = empty)."""
    return {"__list__": element_spec}


def pmap(key_type: str, value_spec) -> dict:
    """Type-spec marker for a MAP column: optional group (ConvertedType
    MAP) → repeated group ``key_value`` (MAP_KEY_VALUE) → required
    ``key`` of physical ``key_type`` + optional ``value`` of
    ``value_spec``. Row values are dicts or (key, value) tuple lists;
    keys must be non-null."""
    if key_type not in _TYPE_IDS:
        raise NotImplementedError(f"parquet-write: map key type {key_type}")
    return {"__map__": (key_type, value_spec)}


def _has_markers(spec) -> bool:
    if not isinstance(spec, dict):
        return False
    if "__list__" in spec or "__map__" in spec:
        return True
    return any(_has_markers(v) for v in spec.values())


def _ident(v):
    return v


def _map_pairs(v):
    if isinstance(v, dict):
        return list(v.items())
    return list(v)


def _field_getter(name):
    def get(v):
        return v.get(name)

    return get


def _pair_key(p):
    return p[0]


def _pair_value(p):
    return p[1]


def _gexpand(
    disp: str,
    spec,
    path: list[str],
    steps: list,
    d: int,
    r: int,
    out: list,
) -> None:
    """Expand a marker-bearing type spec into generic leaves:
    {"disp", "path", "ptype", "steps", "max_def", "max_rep"}. ``steps``
    is the shredding program — ("opt", extract) optional node (null →
    stop-emit, else def+1 then move to the child value), ("req"/
    "reqkey", extract) required node, ("rep", ordinal) repeated node
    (empty → stop-emit, else iterate, first element inheriting the
    incoming rep level), ("leaf",) terminal emit."""
    if isinstance(spec, str):
        if spec not in _TYPE_IDS:
            raise NotImplementedError(f"parquet-write: type {spec} for {disp}")
        out.append(
            {
                "disp": disp,
                "path": path,
                "ptype": spec,
                "steps": steps + [("opt", _ident), ("leaf",)],
                "max_def": d + 1,
                "max_rep": r,
            }
        )
    elif "__list__" in spec:
        _gexpand(
            disp,
            spec["__list__"],
            path + ["list", "element"],
            steps + [("opt", _ident), ("rep", r + 1)],
            d + 2,
            r + 1,
            out,
        )
    elif "__map__" in spec:
        ktype, vspec = spec["__map__"]
        kv_steps = steps + [("opt", _map_pairs), ("rep", r + 1)]
        out.append(
            {
                "disp": disp + ".key",
                "path": path + ["key_value", "key"],
                "ptype": ktype,
                "steps": kv_steps + [("reqkey", _pair_key), ("leaf",)],
                "max_def": d + 2,
                "max_rep": r + 1,
            }
        )
        _gexpand(
            disp + ".value",
            vspec,
            path + ["key_value", "value"],
            kv_steps + [("req", _pair_value)],
            d + 2,
            r + 1,
            out,
        )
    else:  # struct
        for fn, sub in spec.items():
            _gexpand(
                f"{disp}.{fn}",
                sub,
                path + [fn],
                steps + [("opt", _field_getter(fn))],
                d + 1,
                r,
                out,
            )


def _shred(val, steps: list, si: int, d: int, r: int, entries: list) -> None:
    """Run one row value through a leaf's shredding program, emitting
    (def, rep, value) entries — the write-side Dremel."""
    while True:
        kind = steps[si][0]
        if kind == "opt":
            if val is None:
                entries.append((d, r, None))
                return
            d += 1
            val = steps[si][1](val)
        elif kind == "req":
            val = steps[si][1](val)
        elif kind == "reqkey":
            val = steps[si][1](val)
            if val is None:
                raise ValueError("parquet-write: map keys must be non-null")
        elif kind == "rep":
            if not isinstance(val, (list, tuple)):
                raise ValueError(
                    f"parquet-write: expected a list value, got {type(val).__name__}"
                )
            if not val:
                entries.append((d, r, None))
                return
            d += 1
            rl = steps[si][1]
            for j, el in enumerate(val):
                _shred(el, steps, si + 1, d, r if j == 0 else rl, entries)
            return
        else:  # leaf
            entries.append((d, r, val))
            return
        si += 1


def _gschema_elems(
    fn: str, spec, elems: list, field_ids: "dict | None", disp: str
) -> None:
    """SchemaElement emission for a marker-bearing spec (mirrors
    _gexpand's tree shape: groups carry repetition + ConvertedType +
    num_children; leaves reuse the flat emitter's conventions)."""

    def group(name: str, repetition: int, n: int, conv: "int | None" = None):
        g = _TStruct()
        g.i32(3, repetition)
        g.binary(4, name.encode("utf-8"))
        g.i32(5, n)
        if conv is not None:
            g.i32(6, conv)
        elems.append(g.done())

    def leaf(name: str, t: str, repetition: int, leaf_disp: str):
        el = _TStruct()
        el.i32(1, _TYPE_IDS[t])
        el.i32(3, repetition)
        el.binary(4, name.encode("utf-8"))
        if t == "BYTE_ARRAY":
            el.i32(6, 0)  # ConvertedType UTF8
        if field_ids and leaf_disp in field_ids:
            el.i32(9, field_ids[leaf_disp])
        elems.append(el.done())

    if isinstance(spec, str):
        leaf(fn, spec, 1, disp)
    elif "__list__" in spec:
        group(fn, 1, 1, conv=3)  # ConvertedType LIST
        group("list", 2, 1)
        _gschema_elems("element", spec["__list__"], elems, field_ids, disp)
    elif "__map__" in spec:
        ktype, vspec = spec["__map__"]
        group(fn, 1, 1, conv=1)  # ConvertedType MAP
        group("key_value", 2, 2, conv=2)  # MAP_KEY_VALUE
        leaf("key", ktype, 0, disp + ".key")
        _gschema_elems("value", vspec, elems, field_ids, disp + ".value")
    else:
        group(fn, 1, len(spec))
        for sub, t in spec.items():
            _gschema_elems(sub, t, elems, field_ids, f"{disp}.{sub}")


def parquet_write(
    columns: dict[str, list],
    types: dict[str, str] | None = None,
    codec: str = "SNAPPY",
    row_group_size: int | None = None,
    dictionary_max_cardinality: int = 1024,
    created_by: str = "yark_spark parquet writer",
    bloom_filter_columns: "list[str] | None" = None,
    write_page_index: bool = False,
    column_encodings: "dict[str, str] | None" = None,
    data_page_version: int = 1,
    field_ids: "dict[str, int] | None" = None,
    write_page_checksum: bool = False,
) -> bytes:
    """Serialize ``{name: values}`` (equal lengths, ``None`` = null)
    into parquet bytes. ``types`` overrides per-column physical types
    ({'BOOLEAN','INT32','INT64','FLOAT','DOUBLE','BYTE_ARRAY'});
    strings are annotated UTF8. Dictionary encoding is chosen per
    chunk when distinct non-null values fit
    ``dictionary_max_cardinality``, else PLAIN."""
    if codec not in _CODEC_IDS:
        raise NotImplementedError(f"parquet-write: codec {codec}")
    names = list(columns)
    if not names:
        raise ValueError("parquet-write: no columns")
    n_rows = len(columns[names[0]])
    for c in names:
        if len(columns[c]) != n_rows:
            raise ValueError("parquet-write: ragged columns")
    # a dict in ``types`` declares an OPTIONAL STRUCT column (round 14
    # — Delta checkpoints are nested-struct action rows), RECURSIVELY:
    # {"add": {"path": "BYTE_ARRAY", "deletionVector": {"offset":
    # "INT64"}}} with row values nested-dict-or-None; a leaf under k
    # optional struct levels writes at max definition level k+1.
    # plist()/pmap() markers anywhere in a dict spec route the column
    # through the generic rep/def shredder instead (round 15): LIST,
    # MAP, list<struct>, struct<list>, any depth.
    marker_fields: dict[str, dict] = {
        c: t
        for c, t in (types or {}).items()
        if isinstance(t, dict) and c in names and _has_markers(t)
    }
    struct_fields: dict[str, dict] = {
        c: t
        for c, t in (types or {}).items()
        if isinstance(t, dict) and c in names and c not in marker_fields
    }
    ctypes = {
        c: (types or {}).get(c) or _infer_type(c, columns[c])
        for c in names
        if c not in struct_fields and c not in marker_fields
    }
    for c, t in ctypes.items():
        if t not in _TYPE_IDS:
            raise NotImplementedError(f"parquet-write: type {t} for {c!r}")
    rg_size = row_group_size or max(1, n_rows)

    # expand to leaves: (display name, schema path, ptype, field path
    # below the top column or None for flat)
    leaves: list[tuple[str, list[str], str, "list[str] | None"]] = []

    def _expand(top: str, spec: dict, prefix: list[str]) -> None:
        for fn, t in spec.items():
            if isinstance(t, dict):
                _expand(top, t, prefix + [fn])
            elif t in _TYPE_IDS:
                fpath = prefix + [fn]
                leaves.append(
                    (".".join([top, *fpath]), [top, *fpath], t, fpath)
                )
            else:
                raise NotImplementedError(
                    f"parquet-write: type {t} for {top}.{'.'.join(prefix + [fn])}"
                )

    gleaves: dict[str, dict] = {}  # disp -> generic leaf descriptor
    for name in names:
        if name in marker_fields:
            gl: list = []
            _gexpand(name, marker_fields[name], [name], [], 0, 0, gl)
            for li in gl:
                leaves.append((li["disp"], li["path"], li["ptype"], None))
                gleaves[li["disp"]] = li
        elif name in struct_fields:
            _expand(name, struct_fields[name], [])
        else:
            leaves.append((name, [name], ctypes[name], None))

    def _nested(rows: list, fpath: list[str]) -> tuple[list, list[int], int]:
        """(leaf values, def levels, max_def) for one struct leaf: the
        def level counts the present optional levels from the top
        struct down to the leaf value."""
        max_def = len(fpath) + 1
        vals, defs = [], []
        for r in rows:
            cur = r
            lvl = 0
            for f in fpath:
                if cur is None:
                    break
                lvl += 1
                cur = cur.get(f)
            if cur is not None:
                lvl += 1
            vals.append(cur)
            defs.append(lvl)
        return vals, defs, max_def

    out = bytearray(b"PAR1")
    rg_infos: list[tuple[int, int, list]] = []  # (rows, total, [col info])
    for rg_start in range(0, max(n_rows, 1), rg_size):
        rg_rows = min(rg_size, n_rows - rg_start) if n_rows else 0
        col_infos: list = []
        rg_total = 0
        for disp, path, ptype, fpath in leaves:
            if ptype == "BINARY":
                ptype = "BYTE_ARRAY"  # schema keeps the raw annotation
            rows = columns[path[0]][rg_start : rg_start + rg_rows]
            reps_pair = None
            if disp in gleaves:
                gl = gleaves[disp]
                entries: list = []
                for rv in rows:
                    _shred(rv, gl["steps"], 0, 0, 0, entries)
                vals = [e[2] for e in entries]
                defs_pair = ([e[0] for e in entries], gl["max_def"])
                # non-repeated leaves (struct-only paths inside a
                # marker spec) carry NO repetition section on the wire
                if gl["max_rep"] > 0:
                    reps_pair = ([e[1] for e in entries], gl["max_rep"])
            elif fpath is None:
                vals = rows
                defs_pair = None
            else:
                vals, defs, max_def = _nested(rows, fpath)
                defs_pair = (defs, max_def)
            meta_bytes, cstart, csize, pinfo = _write_chunk(
                out,
                path,
                ptype,
                vals,
                codec,
                dictionary_max_cardinality,
                bloom=disp in (bloom_filter_columns or ()),
                defs_pair=defs_pair,
                reps_pair=reps_pair,
                force_encoding=(column_encodings or {}).get(disp),
                page_version=data_page_version,
                page_checksum=write_page_checksum,
            )
            col_infos.append((meta_bytes, cstart, pinfo))
            rg_total += csize
        rg_infos.append((rg_rows, rg_total, col_infos))
        if n_rows == 0:
            break

    # Page index (ColumnIndex + OffsetIndex, spec position: after the
    # last row group, before the footer). One page per chunk in this
    # writer, so each index carries exactly one entry — the same wire
    # shape multi-page writers emit, just unit-length.
    index_locs: "dict[tuple[int, int], tuple[int, int, int, int]] | None" = None
    if write_page_index:
        index_locs = {}
        ci_offs: dict[tuple[int, int], tuple[int, int]] = {}
        for gi, (_, _, col_infos) in enumerate(rg_infos):
            for cj, (_, _, pinfo) in enumerate(col_infos):
                ci = (
                    _TStruct()
                    .list_of(
                        1, _CT_TRUE, [b"\x01" if pinfo["min"] is None else b"\x02"]
                    )
                    .list_of(
                        2, _CT_BINARY, [_t_binary_elem(pinfo["min"] or b"")]
                    )
                    .list_of(
                        3, _CT_BINARY, [_t_binary_elem(pinfo["max"] or b"")]
                    )
                    .i32(4, 0)  # boundary_order UNORDERED
                    .list_of(5, _CT_I64, [_t_i32_elem(pinfo["nulls"])])
                    .done()
                )
                ci_offs[(gi, cj)] = (len(out), len(ci))
                out += ci
        for gi, (_, _, col_infos) in enumerate(rg_infos):
            for cj, (_, _, pinfo) in enumerate(col_infos):
                loc = (
                    _TStruct()
                    .i64(1, pinfo["page_offset"])
                    .i32(2, pinfo["page_size"])
                    .i64(3, 0)  # first_row_index within the row group
                    .done()
                )
                oi = _TStruct().list_of(1, _CT_STRUCT, [loc]).done()
                co, cl = ci_offs[(gi, cj)]
                index_locs[(gi, cj)] = (len(out), len(oi), co, cl)
                out += oi

    rg_structs: list[bytes] = []
    for gi, (rg_rows, rg_total, col_infos) in enumerate(rg_infos):
        col_structs = []
        for cj, (meta_bytes, cstart, _pinfo) in enumerate(col_infos):
            cc = _TStruct().i64(2, cstart).struct(3, meta_bytes)
            if index_locs is not None:
                oi_off, oi_len, ci_off, ci_len = index_locs[(gi, cj)]
                cc.i64(4, oi_off).i32(5, oi_len).i64(6, ci_off).i32(7, ci_len)
            col_structs.append(cc.done())
        rg_structs.append(
            _TStruct()
            .list_of(1, _CT_STRUCT, col_structs)
            .i64(2, rg_total)
            .i64(3, rg_rows)
            .done()
        )

    schema_elems = [
        _TStruct().binary(4, b"schema").i32(5, len(names)).done()
    ]

    def _leaf_elem(fn: str, t: str) -> bytes:
        el = _TStruct()
        el.i32(1, _TYPE_IDS[t])
        el.i32(3, 1)  # OPTIONAL
        el.binary(4, fn.encode("utf-8"))
        if t == "BYTE_ARRAY":
            el.i32(6, 0)  # ConvertedType UTF8
        if field_ids and fn in field_ids:
            el.i32(9, field_ids[fn])  # Iceberg/engine field id
        return el.done()

    def _emit_schema(fn: str, spec) -> None:
        if isinstance(spec, dict):
            grp = _TStruct()
            grp.i32(3, 1)  # OPTIONAL group, no physical type
            grp.binary(4, fn.encode("utf-8"))
            grp.i32(5, len(spec))
            schema_elems.append(grp.done())
            for sub, t in spec.items():
                _emit_schema(sub, t)
        else:
            schema_elems.append(_leaf_elem(fn, spec))

    for name in names:
        if name in marker_fields:
            _gschema_elems(name, marker_fields[name], schema_elems, field_ids, name)
        elif name in struct_fields:
            _emit_schema(name, struct_fields[name])
        else:
            schema_elems.append(_leaf_elem(name, ctypes[name]))

    # column_orders (field 7): one TypeDefinedOrder union per leaf —
    # WITHOUT this, spec-compliant readers must IGNORE the chunks'
    # min_value/max_value statistics (pyarrow does exactly that).
    type_order = _TStruct().struct(1, _TStruct().done()).done()
    fmeta = (
        _TStruct()
        .i32(1, 2)  # version
        .list_of(2, _CT_STRUCT, schema_elems)
        .i64(3, n_rows)
        .list_of(4, _CT_STRUCT, rg_structs)
        .binary(6, created_by.encode("utf-8"))
        .list_of(7, _CT_STRUCT, [type_order] * len(leaves))
        .done()
    )
    out += fmeta
    out += struct.pack("<I", len(fmeta)) + b"PAR1"
    return bytes(out)


def _page_crc(body: bytes) -> int:
    """PageHeader.crc (field 4): CRC32 of the page bytes as written
    (header excluded), stored as a SIGNED thrift i32."""
    import zlib as _zlib

    c = _zlib.crc32(body) & 0xFFFFFFFF
    return c - (1 << 32) if c >= (1 << 31) else c


def _write_chunk(
    out: bytearray,
    name: "str | list[str]",
    ptype: str,
    vals: list,
    codec: str,
    dict_max: int = 1024,
    bloom: bool = False,
    defs_pair: "tuple[list[int], int] | None" = None,
    reps_pair: "tuple[list[int], int] | None" = None,
    force_encoding: "str | None" = None,
    page_version: int = 1,
    page_checksum: bool = False,
) -> tuple[bytes, int]:
    """Append one column chunk's pages to ``out``; return (the
    ColumnChunk thrift struct, total compressed size). ``defs_pair``
    supplies (definition levels, max level) for nested leaves —
    struct-null vs field-null vs value (round 14); flat leaves keep
    the derived 0/1 grammar. ``force_encoding`` selects a modern
    value encoding (DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY /
    BYTE_STREAM_SPLIT) instead of the dict-vs-plain choice;
    ``page_version=2`` emits DataPageV2 (levels uncompressed outside
    the compressed region, the post-2.0 page shape)."""
    path = [name] if isinstance(name, str) else name
    np_vals = None
    if isinstance(vals, np.ndarray):
        if (
            vals.dtype.kind in "iuf"
            and force_encoding is None
            and defs_pair is None
            and reps_pair is None
        ):
            # a numeric ndarray cannot hold None: the null filter and
            # def levels collapse to constants (guide §4 — the sink
            # writer hands numeric columns over as numpy, and walking
            # 200k np scalars through the generic per-value loops was
            # measurable per task)
            np_vals = vals
        else:
            vals = vals.tolist()  # generic loops assume Python scalars
    if np_vals is not None:
        present = vals
        max_def = 1
        def_section = _hybrid_encode_const(1, len(vals), 1)
    else:
        present = [v for v in vals if v is not None]
        if defs_pair is None:
            defs, max_def = [0 if v is None else 1 for v in vals], 1
        else:
            defs, max_def = defs_pair
        # definition levels: uint32-length-prefixed hybrid at max_def width
        def_section = _hybrid_encode(defs, _bit_width(max_def))
    def_block = struct.pack("<I", len(def_section)) + def_section
    # repetition levels (repeated leaves only): same hybrid grammar,
    # BEFORE the def section in v1 pages / the v2 level region
    rep_section = b""
    rep_block = b""
    n_top_rows = len(vals)
    if reps_pair is not None:
        reps, max_rep = reps_pair
        rep_section = _hybrid_encode(reps, _bit_width(max_rep))
        rep_block = struct.pack("<I", len(rep_section)) + rep_section
        n_top_rows = sum(1 for r in reps if r == 0)

    distinct = []
    seen = {}
    codes = None
    if np_vals is not None and (
        np_vals.dtype.kind != "f" or not np.isnan(np_vals).any()
    ):
        import pandas as _pd

        # factorize = the seen-scan in C: uniques in first-appearance
        # order (identical dictionary page), codes = the index column
        codes, uniques = _pd.factorize(np_vals)
        distinct = list(uniques)
    else:
        if np_vals is not None:  # float column carrying NaN
            present = present.tolist()
            np_vals = None
        for v in present:
            key = v.encode("utf-8") if isinstance(v, str) else v
            if key not in seen:
                if len(distinct) > dict_max and not bloom:
                    # dictionary is already off; only the bloom filter
                    # ever reads the full distinct set
                    break
                seen[key] = len(distinct)
                distinct.append(v)
    use_dict = (
        force_encoding is None
        and 0 < len(distinct) <= dict_max
        and len(distinct) < max(2, len(present))
        and ptype != "BOOLEAN"
    )

    encodings = {_ENC_RLE, _ENC_PLAIN}
    dict_page = b""
    dict_offset = None
    chunk_start = len(out)
    total_unc = 0
    if force_encoding is not None:
        if force_encoding == "DELTA_BINARY_PACKED":
            if ptype not in ("INT32", "INT64"):
                raise NotImplementedError(
                    f"parquet-write: DELTA_BINARY_PACKED for {ptype}"
                )
            values_raw = _delta_binary_encode(present)
            data_enc = _ENC_DELTA_BINARY
        elif force_encoding == "BYTE_STREAM_SPLIT":
            values_raw = _byte_stream_split_encode(ptype, present)
            data_enc = _ENC_BYTE_STREAM_SPLIT
        elif force_encoding == "DELTA_LENGTH_BYTE_ARRAY":
            if ptype != "BYTE_ARRAY":
                raise NotImplementedError(
                    f"parquet-write: DELTA_LENGTH_BYTE_ARRAY for {ptype}"
                )
            values_raw = _delta_length_ba_encode(present)
            data_enc = _ENC_DELTA_LENGTH_BA
        else:
            raise NotImplementedError(
                f"parquet-write: encoding {force_encoding!r}"
            )
        encodings.add(data_enc)
    elif use_dict:
        encodings.add(_ENC_RLE_DICT)
        dict_raw = _plain_encode(ptype, distinct)
        dict_comp = _compress(codec, dict_raw)
        inner = _TStruct().i32(1, len(distinct)).i32(2, _ENC_PLAIN).done()
        dh = (
            _TStruct()
            .i32(1, _PAGE_DICT)
            .i32(2, len(dict_raw))
            .i32(3, len(dict_comp))
        )
        if page_checksum:
            dh.i32(4, _page_crc(dict_comp))
        dict_hdr = dh.struct(7, inner).done()
        dict_offset = len(out)
        out += dict_hdr + dict_comp
        total_unc += len(dict_raw)
        if codes is not None:
            idx = codes.tolist()  # factorize codes ARE the seen-indexes
        else:
            idx = [
                seen[v.encode("utf-8") if isinstance(v, str) else v]
                for v in present
            ]
        bw = max(1, _bit_width(max(1, len(distinct) - 1)))
        values_raw = bytes([bw]) + _hybrid_encode(idx, bw)
        data_enc = _ENC_RLE_DICT
    else:
        values_raw = _plain_encode(ptype, present)
        data_enc = _ENC_PLAIN

    if page_version == 2:
        # DataPageV2: levels sit UNCOMPRESSED before the compressed
        # value region; the level sections carry no length prefix
        # (reps first, then defs)
        vals_comp = _compress(codec, values_raw)
        lvl = rep_section + def_section
        inner = (
            _TStruct()
            .i32(1, len(vals))  # num_values
            .i32(2, len(vals) - len(present))  # num_nulls
            .i32(3, n_top_rows)  # num_rows (one page per chunk here)
            .i32(4, data_enc)
            .i32(5, len(def_section))
            .i32(6, len(rep_section))
            .boolean(7, True)  # is_compressed
            .done()
        )
        ph = (
            _TStruct()
            .i32(1, _PAGE_DATA_V2)
            .i32(2, len(lvl) + len(values_raw))
            .i32(3, len(lvl) + len(vals_comp))
        )
        if page_checksum:
            ph.i32(4, _page_crc(lvl + vals_comp))
        page_hdr = ph.struct(8, inner).done()
        data_offset = len(out)
        out += page_hdr + lvl + vals_comp
        data_page_size = len(page_hdr) + len(lvl) + len(vals_comp)
        total_unc += len(lvl) + len(values_raw)
    else:
        page_raw = rep_block + def_block + values_raw
        page_comp = _compress(codec, page_raw)
        inner = (
            _TStruct()
            .i32(1, len(vals))
            .i32(2, data_enc)
            .i32(3, _ENC_RLE)
            .i32(4, _ENC_RLE)
            .done()
        )
        ph = (
            _TStruct()
            .i32(1, _PAGE_DATA)
            .i32(2, len(page_raw))
            .i32(3, len(page_comp))
        )
        if page_checksum:
            ph.i32(4, _page_crc(page_comp))
        page_hdr = ph.struct(5, inner).done()
        data_offset = len(out)
        out += page_hdr + page_comp
        data_page_size = len(page_hdr) + len(page_comp)
        total_unc += len(page_raw)
    total_comp = len(out) - chunk_start

    meta = _TStruct()
    meta.i32(1, _TYPE_IDS[ptype])
    meta.list_of(
        2, _CT_I32, [_t_i32_elem(e) for e in sorted(encodings)]
    )
    meta.list_of(3, _CT_BINARY, [_t_binary_elem(p.encode("utf-8")) for p in path])
    meta.i32(4, _CODEC_IDS[codec])
    meta.i64(5, len(vals))
    meta.i64(6, total_unc)
    meta.i64(7, total_comp)
    meta.i64(9, data_offset)
    if dict_offset is not None:
        meta.i64(11, dict_offset)
    meta.struct(12, _statistics_struct(ptype, vals, present))
    if bloom and len(present):
        from yark_spark.operators.zstd import xxh64

        bitset = bytearray(sbbf_size_bytes(len(distinct)))
        for v in distinct:
            sbbf_insert(bitset, xxh64(_stat_encode(ptype, v)))
        blob = sbbf_serialize(bytes(bitset))
        # bloom bytes live between chunks but do NOT count into
        # total_compressed_size (parquet-mr convention: pages only).
        meta.i64(14, len(out))
        meta.i32(15, len(blob))
        out += blob
    mm = _minmax_encoded(ptype, present)
    page_info = {
        # PageLocation.compressed_page_size includes the page header
        "page_offset": data_offset,
        "page_size": data_page_size,
        "rows": len(vals),
        "min": None if mm is None else mm[0],
        "max": None if mm is None else mm[1],
        "nulls": len(vals) - len(present),
    }
    return meta.done(), chunk_start, total_comp, page_info
