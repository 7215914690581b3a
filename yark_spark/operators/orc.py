"""ORC reader from scratch (round 13): the OTHER columnar substrate
(Hive/Trino warehouses, long-lived Hadoop corpora) — a complete
independent read path for flat ORC files:

    postscript (protobuf, parsed with the in-repo tfrecord wire
    codec) → footer/stripe-footer protobuf through ORC's 3-byte
    chunk framing (NONE / ZLIB-raw-deflate / SNAPPY / ZSTD / LZ4
    block — every codec in-repo) → per-column streams → PRESENT
    (boolean RLE) + DATA/LENGTH/DICTIONARY_DATA → byte RLE, boolean
    RLE and the full **RLEv2** integer family (short repeat, direct,
    PATCHED BASE, delta — the 5-bit FixedBitSizes width table,
    big-endian MSB-first packing, zigzag for signed columns) →
    typed Python values.

Unlike parquet there is no in-container second reader for ORC in
DuckDB, so the differential is pyarrow's ORC_CPP writer+reader:
fixtures are written by the REAL library (third-party wire, not our
own bytes) and every value must match (tests/test_orc.py); the
driver key digests pyarrow-written shards against DuckDB's SQL over
the same rows.

Column types: BOOLEAN, BYTE, SHORT, INT, LONG, FLOAT, DOUBLE,
STRING (DIRECT/DICTIONARY in both RLE generations), and since
round 13 s3 the warehouse logical types TIMESTAMP/DATE/DECIMAL/
BINARY plus nested STRUCT dotted paths; round 14 adds LIST/MAP
repeated columns (PRESENT + LENGTH assembly) and **RLE v1** integer
streams — the Hive ≤0.11 wire (delta-run/literal varints) that
long-lived Hadoop corpora still carry, differentialed against REAL
``file_version='0.11'`` ORC_CPP output — plus STRUCTS inside
repeated columns (list<struct>, map values), assembled recursively.
Remaining boundaries (documented, typed): CHAR/VARCHAR, UNION, and
LZO raise ``NotImplementedError``; malformed streams raise
``ValueError`` for the quarantine.

Reference parity note: the reference archiver has no columnar layer
(/root/reference/cmds/archive.py); driver-mandated pipeline surface
(SURVEY.md §2.8).
"""

from __future__ import annotations

import struct

from yark_spark.operators.lz4 import lz4_block_decompress
from yark_spark.operators.png import inflate, zlib_compress
from yark_spark.operators.snappy import snappy_decompress
from yark_spark.operators.tfrecord import _fields, _read_varint, _tag, _write_varint
from yark_spark.operators.zstd import zstd_frames

__all__ = ["orc_read_columns"]

_KINDS = {
    0: "BOOLEAN", 1: "BYTE", 2: "SHORT", 3: "INT", 4: "LONG",
    5: "FLOAT", 6: "DOUBLE", 7: "STRING", 8: "BINARY", 9: "TIMESTAMP",
    10: "LIST", 11: "MAP", 12: "STRUCT", 13: "UNION", 14: "DECIMAL",
    15: "DATE", 16: "VARCHAR", 17: "CHAR",
}
_PRIMITIVE = {
    "BOOLEAN", "BYTE", "SHORT", "INT", "LONG", "FLOAT", "DOUBLE", "STRING",
    # round 13 s3: the warehouse logical types (Hive corpora are full
    # of them) — TIMESTAMP → epoch micros, DATE → epoch days,
    # DECIMAL → unscaled int, BINARY → bytes
    "TIMESTAMP", "DATE", "DECIMAL", "BINARY",
}
_SIGNED_INTS = {"BYTE", "SHORT", "INT", "LONG"}

_COMPRESSION = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO", 4: "LZ4", 5: "ZSTD"}

# stream kinds
_PRESENT, _DATA, _LENGTH, _DICT_DATA = 0, 1, 2, 3
_SECONDARY = 5
_ROW_INDEX = 6

#: seconds between the Unix epoch and ORC's timestamp base (2015-01-01)
_ORC_TS_BASE = 1_420_070_400

# FixedBitSizes: 5-bit width code → bit width (RLEv2)
_FBS = [
    1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 26, 28, 30, 32, 40, 48, 56, 64,
]

def _decompress_chunks(data: bytes, compression: str, max_output: int) -> bytes:
    """ORC stream framing: 3-byte little-endian header per chunk,
    ``(length << 1) | is_original``; original chunks pass through,
    others decode with the named codec (ZLIB = RAW deflate)."""
    if compression == "NONE":
        return data
    out = bytearray()
    pos, n = 0, len(data)
    while pos < n:
        if pos + 3 > n:
            raise ValueError("orc: truncated chunk header")
        header = data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)
        pos += 3
        length = header >> 1
        if pos + length > n:
            raise ValueError("orc: chunk past stream end")
        chunk = data[pos : pos + length]
        pos += length
        if header & 1:
            out += chunk
        elif compression == "ZLIB":
            out += inflate(chunk, max_output=max_output)
        elif compression == "SNAPPY":
            out += snappy_decompress(chunk, max_output=max_output)
        elif compression == "ZSTD":
            out += b"".join(zstd_frames(bytes(chunk), max_output=max_output))
        elif compression == "LZ4":
            out += lz4_block_decompress(bytes(chunk), max_output=max_output)
        else:
            raise NotImplementedError(f"orc: compression {compression}")
        if len(out) > max_output:
            raise ValueError("orc: stream exceeds bomb guard")
    return bytes(out)


# ---------------------------------------------------------------------------
# run-length decoders
# ---------------------------------------------------------------------------


def _byte_rle(data: bytes, count: int) -> list[int]:
    out: list[int] = []
    pos, n = 0, len(data)
    while len(out) < count:
        if pos >= n:
            raise ValueError("orc: byte RLE truncated")
        c = data[pos]
        pos += 1
        if c < 128:
            if pos >= n:
                raise ValueError("orc: byte RLE run value missing")
            out.extend([data[pos]] * (c + 3))
            pos += 1
        else:
            ln = 256 - c
            if pos + ln > n:
                raise ValueError("orc: byte RLE literals truncated")
            out.extend(data[pos : pos + ln])
            pos += ln
    return out[:count]


def _bool_rle(data: bytes, count: int) -> list[bool]:
    nbytes = (count + 7) // 8
    raw = _byte_rle(data, nbytes)
    return [bool((raw[i >> 3] >> (7 - (i & 7))) & 1) for i in range(count)]


class _BitReaderBE:
    """MSB-first big-endian bit reader (RLEv2 packing order)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.bit = pos * 8

    def read(self, width: int) -> int:
        end = self.bit + width
        if end > len(self.data) * 8:
            raise ValueError("orc: bit-packed run truncated")
        lo, hi = self.bit >> 3, (end + 7) >> 3
        chunk = int.from_bytes(self.data[lo:hi], "big")
        self.bit = end
        return (chunk >> ((hi << 3) - end)) & ((1 << width) - 1)

    def byte_pos(self) -> int:
        return (self.bit + 7) >> 3


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _varint(data: bytes, pos: int) -> tuple[int, int]:
    return _read_varint(memoryview(data), pos)


def _svarint(data: bytes, pos: int) -> tuple[int, int]:
    u, pos = _varint(data, pos)
    return _unzigzag(u), pos


def _rlev1(data: bytes, count: int, signed: bool) -> list[int]:
    """ORC RLE version 1 (the Hive ≤0.11 integer wire, round 14):
    control byte < 128 → a run of (control+3) values stepping by one
    SIGNED delta byte from a varint base; control ≥ 128 → (256-control)
    literal varints. Signed streams use zigzag varints."""
    out: list[int] = []
    pos = 0
    rd = _svarint if signed else _varint
    while len(out) < count:
        if pos >= len(data):
            raise ValueError("orc: truncated RLEv1 stream")
        ctrl = data[pos]
        pos += 1
        if ctrl < 128:
            run = ctrl + 3
            if pos >= len(data):
                raise ValueError("orc: truncated RLEv1 run header")
            delta = data[pos]
            pos += 1
            if delta > 127:
                delta -= 256
            base, pos = rd(data, pos)
            out.extend(base + i * delta for i in range(run))
        else:
            for _ in range(256 - ctrl):
                v, pos = rd(data, pos)
                out.append(v)
    if len(out) < count:
        raise ValueError("orc: RLEv1 stream short of expected count")
    return out[:count]


def _int_rle(data: bytes, count: int, signed: bool, enc_kind: int) -> list[int]:
    """Dispatch an integer stream by its column encoding generation:
    DIRECT/DICTIONARY (0/1) = RLEv1, the _V2 pair (2/3) = RLEv2."""
    if enc_kind in (0, 1):
        return _rlev1(data, count, signed)
    return _rlev2(data, count, signed)


def _rlev2(data: bytes, count: int, signed: bool) -> list[int]:
    """The full RLEv2 integer family."""
    out: list[int] = []
    pos, n = 0, len(data)
    while len(out) < count:
        if pos >= n:
            raise ValueError("orc: RLEv2 stream truncated")
        b0 = data[pos]
        mode = b0 >> 6
        if mode == 0:  # SHORT REPEAT
            width = ((b0 >> 3) & 0x7) + 1
            rep = (b0 & 0x7) + 3
            if pos + 1 + width > n:
                raise ValueError("orc: short-repeat value truncated")
            v = int.from_bytes(data[pos + 1 : pos + 1 + width], "big")
            if signed:
                v = _unzigzag(v)
            out.extend([v] * rep)
            pos += 1 + width
        elif mode == 1:  # DIRECT
            if pos + 2 > n:
                raise ValueError("orc: direct header truncated")
            width = _FBS[(b0 >> 1) & 0x1F]
            length = (((b0 & 1) << 8) | data[pos + 1]) + 1
            rd = _BitReaderBE(data, pos + 2)
            vals = [rd.read(width) for _ in range(length)]
            if signed:
                vals = [_unzigzag(v) for v in vals]
            out.extend(vals)
            pos = rd.byte_pos()
        elif mode == 3:  # DELTA
            if pos + 2 > n:
                raise ValueError("orc: delta header truncated")
            wcode = (b0 >> 1) & 0x1F
            width = 0 if wcode == 0 else _FBS[wcode]
            length = (((b0 & 1) << 8) | data[pos + 1]) + 1  # value count
            pos += 2
            if signed:
                base, pos = _svarint(data, pos)
            else:
                base, pos = _varint(data, pos)
            delta_base, pos = _svarint(data, pos)
            vals = [base]
            if length > 1:
                vals.append(base + delta_base)
            if length > 2:
                if width:
                    rd = _BitReaderBE(data, pos)
                    sign = -1 if delta_base < 0 else 1
                    acc = vals[-1]
                    for _ in range(length - 2):
                        acc += sign * rd.read(width)
                        vals.append(acc)
                    pos = rd.byte_pos()
                else:  # fixed delta
                    acc = vals[-1]
                    for _ in range(length - 2):
                        acc += delta_base
                        vals.append(acc)
            out.extend(vals)
        else:  # mode == 2: PATCHED BASE
            if pos + 4 > n:
                raise ValueError("orc: patched-base header truncated")
            width = _FBS[(b0 >> 1) & 0x1F]
            length = (((b0 & 1) << 8) | data[pos + 1]) + 1
            b3, b4 = data[pos + 2], data[pos + 3]
            bw = ((b3 >> 5) & 0x7) + 1  # base width, bytes
            pw = _FBS[b3 & 0x1F]  # patch width, bits
            pgw = ((b4 >> 5) & 0x7) + 1  # patch gap width, bits
            pll = b4 & 0x1F  # patch list length
            pos += 4
            if pos + bw > n:
                raise ValueError("orc: patched-base base truncated")
            base = int.from_bytes(data[pos : pos + bw], "big")
            sign_mask = 1 << (bw * 8 - 1)
            if base & sign_mask:
                base = -(base & (sign_mask - 1))
            pos += bw
            rd = _BitReaderBE(data, pos)
            vals = [rd.read(width) for _ in range(length)]
            pos = rd.byte_pos()
            # patch list: PLL (gap, patch) entries bit-packed at the
            # closest FixedBitSizes width >= pgw + pw; gap = top pgw
            # bits, patch = low pw bits; a (gap=255, patch=0) entry is
            # the "advance 255 more" continuation
            entry_w = next(w for w in _FBS if w >= pgw + pw)
            prd = _BitReaderBE(data, pos)
            entries = [prd.read(entry_w) for _ in range(pll)]
            pos = prd.byte_pos()
            patch_mask = (1 << pw) - 1
            at = 0
            k = 0
            while k < len(entries):
                gap = entries[k] >> pw
                patch = entries[k] & patch_mask
                k += 1
                while gap == 255 and patch == 0 and k < len(entries):
                    at += 255
                    gap = entries[k] >> pw
                    patch = entries[k] & patch_mask
                    k += 1
                at += gap
                if at >= length:
                    raise ValueError("orc: patch index beyond run")
                vals[at] |= patch << width
            out.extend(base + v for v in vals)
    return out[:count]


# ---------------------------------------------------------------------------
# protobuf models (parquet-style field maps, via tfrecord._fields)
# ---------------------------------------------------------------------------


def _msg(buf) -> dict:
    """Collect a protobuf message into {field: [values...]}, keeping
    repetition; LEN fields stay memoryviews, varints ints."""
    out: dict[int, list] = {}
    for field, _wire, val in _fields(memoryview(bytes(buf))):
        out.setdefault(field, []).append(val)
    return out


def _one(m: dict, field: int, default=None):
    v = m.get(field)
    return v[0] if v else default


def _packed_or_repeated_uints(m: dict, field: int) -> list[int]:
    """ORC writers emit uint32 lists either packed or repeated."""
    out: list[int] = []
    for v in m.get(field, []):
        if isinstance(v, int):
            out.append(v)
        else:
            buf = memoryview(bytes(v))
            pos = 0
            while pos < len(buf):
                x, pos = _read_varint(buf, pos)
                out.append(x)
    return out


def orc_read_columns(
    payload: bytes, columns: list[str] | None = None, max_output: int = 1 << 28
) -> dict[str, list]:
    """Read flat columns from an ORC file in memory, across all
    stripes, returning ``{name: [values…]}`` with ``None`` for nulls.
    At 100 TB the unit of work is (file, stripe) with ranged reads of
    postscript + footer + needed streams; this is that per-task
    kernel."""
    f = _orc_open(bytes(payload), max_output)
    return _orc_read_stripes(f, columns, max_output, None)[0]


def _orc_open(b: bytes, max_output: int) -> dict:
    """Postscript → footer → schema maps; the ranged-read head every
    ORC operation starts from. Keeps the raw bounds of the METADATA
    section (stripe statistics) for the pruning path."""
    if len(b) < 4 or b[:3] != b"ORC":
        raise ValueError("orc: bad magic")
    psl = b[-1]
    if psl == 0 or psl + 1 > len(b):
        raise ValueError("orc: bad postscript length")
    ps = _msg(b[len(b) - 1 - psl : len(b) - 1])
    footer_len = _one(ps, 1, 0)
    compression = _COMPRESSION.get(_one(ps, 2, 0))
    if compression is None:
        raise ValueError("orc: unknown compression id")
    if compression == "LZO":
        raise NotImplementedError("orc: LZO compression not supported")
    metadata_len = _one(ps, 5, 0)
    footer_end = len(b) - 1 - psl
    footer_raw = b[footer_end - footer_len : footer_end]
    footer = _msg(_decompress_chunks(footer_raw, compression, max_output))

    # schema: types[0] must be a flat STRUCT of primitives
    types = [_msg(t) for t in footer.get(4, [])]
    if not types:
        raise ValueError("orc: footer carries no types")
    root = types[0]
    if _KINDS.get(_one(root, 1, -1)) != "STRUCT":
        raise NotImplementedError("orc: root type must be STRUCT")
    subtypes = _packed_or_repeated_uints(root, 2)
    names = [bytes(v).decode("utf-8") for v in root.get(3, [])]
    if len(subtypes) != len(names):
        raise ValueError("orc: schema children/name mismatch")
    col_kind: dict[int, str] = {}
    col_name: dict[str, int] = {}
    parents: dict[str, list[int]] = {}
    children: dict[int, list[int]] = {}
    field_names: dict[int, list[str]] = {}

    def _walk(tid: int, prefix: str | None, chain: list[int]) -> None:
        kind = _KINDS.get(_one(types[tid], 1, -1))
        if kind in ("VARCHAR", "CHAR"):
            # Hive length-typed strings (round 14 s3): the spec gives
            # them the exact STRING stream layout (DATA + LENGTH +
            # optional dictionary) — maxLength is a metadata-only
            # constraint, so they decode through the string path
            kind = "STRING"
        col_kind[tid] = kind
        sub = _packed_or_repeated_uints(types[tid], 2)
        children[tid] = list(sub)
        if kind == "STRUCT":
            # non-repeated nesting: children live under dotted names
            # ("s.a"), each ancestor contributing a presence level —
            # the parquet dotted-path recipe on this substrate
            # (round 13 s3). Anonymous subtrees (under LIST/MAP) keep
            # kinds/children but register no dotted names.
            sub_names = [bytes(v).decode("utf-8") for v in types[tid].get(3, [])]
            field_names[tid] = sub_names
            for nm, child in zip(sub_names, sub):
                _walk(
                    child,
                    (f"{prefix}.{nm}" if prefix else nm)
                    if prefix is not None
                    else None,
                    chain + [tid],
                )
        elif kind in ("LIST", "MAP"):
            # repeated nesting (round 14): children are anonymous —
            # the LENGTH stream on this node maps rows to child runs
            for child in sub:
                _walk(child, None, chain + [tid])
        if prefix:
            col_name[prefix] = tid
            parents[prefix] = chain

    for name, tid in zip(names, subtypes):
        _walk(tid, name, [])
    return {
        "b": b,
        "footer": footer,
        "compression": compression,
        "names": names,
        "col_name": col_name,
        "col_kind": col_kind,
        "children": children,
        "field_names": field_names,
        "parents": parents,
        "metadata_span": (footer_end - footer_len - metadata_len, footer_end - footer_len),
    }


def _orc_read_stripes(
    f: dict, columns: "list[str] | None", max_output: int, keep: "set[int] | None"
) -> tuple[dict[str, list], list[int]]:
    """Decode the stripes whose index is in ``keep`` (all when None);
    returns (columns, per-row stripe index) so callers can attribute
    rows to stripes."""
    b = f["b"]
    footer, compression = f["footer"], f["compression"]
    names, col_name, col_kind = f["names"], f["col_name"], f["col_kind"]
    parents = f.get("parents", {})
    wanted = columns if columns is not None else [
        n
        for n in names
        if col_kind[col_name[n]] in _PRIMITIVE
        or col_kind[col_name[n]] in ("LIST", "MAP", "STRUCT")
    ]
    children = f.get("children", {})
    for c in wanted:
        if c not in col_name:
            raise ValueError(f"orc: column {c!r} not in schema")
        kind = col_kind[col_name[c]]
        if kind not in _PRIMITIVE and kind not in ("LIST", "MAP", "STRUCT"):
            raise NotImplementedError(f"orc: column type {kind} not supported")

    out: dict[str, list] = {c: [] for c in wanted}
    stripe_of: list[int] = []
    for si, st in enumerate(footer.get(3, [])):
        if keep is not None and si not in keep:
            continue
        s = _msg(st)
        offset = _one(s, 1, 0)
        index_len = _one(s, 2, 0)
        data_len = _one(s, 3, 0)
        sf_len = _one(s, 4, 0)
        n_rows = _one(s, 5, 0)
        sf_raw = b[offset + index_len + data_len : offset + index_len + data_len + sf_len]
        sfoot = _msg(_decompress_chunks(sf_raw, compression, max_output))
        encodings = [
            (_one(_msg(e), 1, 0), _one(_msg(e), 2, 0)) for e in sfoot.get(2, [])
        ]
        # walk ALL streams in order to accumulate offsets
        streams: dict[tuple[int, int], bytes] = {}
        pos = offset
        for raw in sfoot.get(1, []):
            sm = _msg(raw)
            kind = _one(sm, 1, 0)
            col = _one(sm, 2, 0)
            length = _one(sm, 3, 0)
            if kind != _ROW_INDEX and kind <= 5:
                streams[(col, kind)] = b[pos : pos + length]
            pos += length

        for c in wanted:
            cid = col_name[c]
            kind = col_kind[cid]
            enc_kind = encodings[cid][0] if cid < len(encodings) else 0
            # ancestor presence chain: each struct level narrows the
            # row count its children encode (a child holds one entry
            # per PRESENT parent row), then weaves back out with
            # None for null-ancestor rows
            levels: list[list[bool]] = []
            n_level = n_rows
            for anc in parents.get(c, []):
                p_raw = _stream(streams, anc, _PRESENT, compression, max_output)
                pres = (
                    _bool_rle(p_raw, n_level)
                    if p_raw is not None
                    else [True] * n_level
                )
                levels.append(pres)
                n_level = sum(pres)
            if kind in ("LIST", "MAP", "STRUCT"):
                vals = _decode_node(
                    col_kind, children, encodings, streams, cid, n_level,
                    compression, max_output, f.get("field_names"),
                )
            else:
                vals = _decode_column(
                    kind, enc_kind, encodings[cid][1] if cid < len(encodings) else 0,
                    streams, cid, n_level, compression, max_output,
                )
            for pres in reversed(levels):
                it = iter(vals)
                vals = [next(it) if p else None for p in pres]
            out[c].extend(vals)
        stripe_of.extend([si] * n_rows)
    return out, stripe_of


def orc_scan_filtered(
    payload: bytes,
    columns: list[str],
    pred_col: str,
    lo,
    hi=None,
    max_output: int = 1 << 28,
) -> tuple[dict[str, list], dict[str, int]]:
    """Stripe-pruned scan: the predicate ``pred_col BETWEEN lo AND
    hi`` (``= lo`` when ``hi`` is None) is planned against the
    METADATA section's StripeStatistics — per-stripe ColumnStatistics
    with IntegerStatistics (sint64 zigzag min/max) or
    StringStatistics bounds, exactly as ORC_CPP writes them — and
    only surviving stripes decode. Counters
    ``{stripes_total, skipped_stats, stripes_scanned}`` are part of
    the contract: at 100 TB the stripe is the ORC scan task, and a
    reader that decodes stripes the statistics rule out is wrong even
    with right rows. Stripes with no usable statistics scan (superset
    guarantee). Rows exact-filter after decode."""
    f = _orc_open(bytes(payload), max_output)
    if pred_col not in f["col_name"]:
        raise ValueError(f"orc: predicate column {pred_col!r} missing")
    tid = f["col_name"][pred_col]
    hi_eff = lo if hi is None else hi
    stripes = f["footer"].get(3, [])
    counters = {
        "stripes_total": len(stripes),
        "skipped_stats": 0,
        "skipped_bloom": 0,
        "stripes_scanned": 0,
    }
    m0, m1 = f["metadata_span"]
    stats_by_stripe: list = [None] * len(stripes)
    if m1 > m0:
        meta = _msg(_decompress_chunks(f["b"][m0:m1], f["compression"], max_output))
        for si, ss in enumerate(meta.get(1, [])):
            if si >= len(stripes):
                break
            cols = _msg(ss).get(1, [])
            if tid < len(cols):
                stats_by_stripe[si] = _msg(cols[tid])
    keep: set[int] = set()
    for si in range(len(stripes)):
        cs = stats_by_stripe[si]
        bounds = None
        if cs is not None:
            ints = cs.get(2)
            strs = cs.get(4)
            if ints:
                m = _msg(ints[0])
                if 1 in m and 2 in m:
                    # proto sint64: zigzag varints
                    bounds = (_unzigzag(_one(m, 1)), _unzigzag(_one(m, 2)))
            elif strs:
                m = _msg(strs[0])
                if 1 in m and 2 in m:
                    bounds = (
                        bytes(_one(m, 1)).decode("utf-8"),
                        bytes(_one(m, 2)).decode("utf-8"),
                    )
        if bounds is not None and (hi_eff < bounds[0] or lo > bounds[1]):
            counters["skipped_stats"] += 1
            continue
        if hi is None and not _stripe_bloom_maybe(
            f["b"],
            _msg(stripes[si]),
            f["compression"],
            max_output,
            tid,
            f["col_kind"][tid],
            lo,
        ):
            counters["skipped_bloom"] += 1
            continue
        keep.add(si)
    counters["stripes_scanned"] = len(keep)
    need = list(dict.fromkeys([*columns, pred_col]))
    cols, _ = _orc_read_stripes(f, need, max_output, keep)
    idx = [
        i
        for i, v in enumerate(cols[pred_col])
        if v is not None and lo <= v <= hi_eff
    ]
    return {c: [cols[c][i] for i in idx] for c in columns}, counters


def _stream(streams, cid, kind, compression, max_output) -> bytes | None:
    raw = streams.get((cid, kind))
    if raw is None:
        return None
    return _decompress_chunks(raw, compression, max_output)


# ---------------------------------------------------------------------------
# row-index (row-group) pruning — round 14, session 3
# ---------------------------------------------------------------------------


def _chunks_from(
    raw: bytes, compression: str, chunk_off: int, byte_off: int,
    need: int, max_output: int,
) -> bytes:
    """Ranged stream read: decompress chunks starting at the recorded
    compressed offset (a chunk-header boundary), stop once ``need``
    decompressed bytes past ``byte_off`` exist — earlier chunks are
    never touched, which is the point of the index at 100 TB."""
    if compression == "NONE":
        return raw[byte_off : byte_off + need] if need else raw[byte_off:]
    out = bytearray()
    pos, n = chunk_off, len(raw)
    target = byte_off + need
    while pos < n and (need == 0 or len(out) < target):
        if pos + 3 > n:
            raise ValueError("orc: truncated chunk header")
        header = raw[pos] | (raw[pos + 1] << 8) | (raw[pos + 2] << 16)
        pos += 3
        length = header >> 1
        chunk = raw[pos : pos + length]
        pos += length
        out += (
            chunk
            if header & 1
            else _decompress_chunks(
                raw[pos - length - 3 : pos], compression, max_output
            )
        )
        if len(out) > max_output:
            raise ValueError("orc: stream exceeds bomb guard")
    return bytes(out[byte_off:])


def _split_positions(
    positions: list[int], stream_kinds: list[tuple[int, str]], compression: str
) -> dict[int, dict]:
    """Split a RowIndexEntry's concatenated positions into per-stream
    seek records. Layout derived EMPIRICALLY from ORC_CPP wire (see
    tests/test_orc_rowindex.py): each stream contributes, in stripe-
    directory order, [chunk_off]? + decomp_off + extras, where
    extras = (byte-run skip, bit skip) for boolean streams, (run
    skip,) for RLE/byte-RLE streams, () for raw-byte streams."""
    has_chunk = compression != "NONE"
    out: dict[int, dict] = {}
    i = 0
    for kind, shape in stream_kinds:
        rec = {"chunk": 0, "off": 0, "skip": 0, "bit": 0}
        if has_chunk:
            rec["chunk"] = positions[i]
            i += 1
        rec["off"] = positions[i]
        i += 1
        if shape == "bool":
            rec["skip"] = positions[i]
            rec["bit"] = positions[i + 1]
            i += 2
        elif shape == "rle":
            rec["skip"] = positions[i]
            i += 1
        out[kind] = rec
    if i != len(positions):
        raise ValueError("orc: row-index positions length mismatch")
    return out


def _stream_shape(col_kind: str, stream_kind: int, enc_kind: int) -> str:
    if stream_kind == _PRESENT:
        return "bool"
    if col_kind == "BOOLEAN" and stream_kind == _DATA:
        return "bool"
    if col_kind in ("FLOAT", "DOUBLE", "BINARY") and stream_kind == _DATA:
        return "raw"
    if col_kind == "STRING" and stream_kind == _DATA and enc_kind in (0, 2):
        return "raw"
    if col_kind == "BYTE" and stream_kind == _DATA:
        return "rle"  # byte-RLE: same (run skip) extra as integer RLE
    return "rle"


def _seek_bool(
    raw: bytes, rec: dict, rows: int, compression: str, max_output: int
) -> list[bool]:
    nbytes = rec["skip"] + (rec["bit"] + rows + 7) // 8
    data = _chunks_from(
        raw, compression, rec["chunk"], rec["off"], 2 * nbytes + 16, max_output
    )
    bys = _byte_rle(data, nbytes)[rec["skip"] :]
    bits = [(b >> (7 - k)) & 1 for b in bys for k in range(8)]
    return [bool(x) for x in bits[rec["bit"] : rec["bit"] + rows]]


def orc_scan_rowgroups(
    payload: bytes,
    columns: list[str],
    pred_col: str,
    lo,
    hi=None,
    max_output: int = 1 << 28,
) -> tuple[dict[str, list], dict[str, int]]:
    """Row-group-pruned scan (the ORC twin of parquet page-index
    pruning, E138'): every stripe's ROW_INDEX streams carry one
    RowIndexEntry per rowIndexStride rows — per-group
    ColumnStatistics plus SEEK POSITIONS into each of the column's
    streams. The predicate ``pred_col BETWEEN lo AND hi`` plans
    group survival off the per-group bounds, then surviving groups
    decode via the positions: chunks before the recorded compressed
    offset are never inflated, values before the recorded run skip
    never materialize. Counters {row_groups_total, skipped_stats,
    row_groups_scanned} are part of the contract. Supported seek
    shapes: integer family / DATE (RLE v1/v2), STRING DIRECT,
    FLOAT/DOUBLE, BOOLEAN, each with optional PRESENT; dictionary
    strings and nested columns raise typed errors (their positions
    index stripe-global dictionaries)."""
    f = _orc_open(bytes(payload), max_output)
    b, compression = f["b"], f["compression"]
    col_name, col_kind = f["col_name"], f["col_kind"]
    stride = _one(f["footer"], 8, 0)
    if not stride:
        raise ValueError("orc: file carries no row index stride")
    need = list(dict.fromkeys([*columns, pred_col]))
    for c in need:
        if c not in col_name:
            raise ValueError(f"orc: column {c!r} not in schema")
        if f.get("parents", {}).get(c):
            raise NotImplementedError("orc: row-group seek under nesting")
        kind = col_kind[col_name[c]]
        if kind not in _PRIMITIVE and kind != "BOOLEAN":
            raise NotImplementedError(f"orc: row-group seek for {kind}")
    hi_eff = lo if hi is None else hi
    counters = {
        "row_groups_total": 0,
        "skipped_stats": 0,
        "row_groups_scanned": 0,
    }
    out: dict[str, list] = {c: [] for c in need}
    tid_pred = col_name[pred_col]
    for st in f["footer"].get(3, []):
        s = _msg(st)
        offset = _one(s, 1, 0)
        index_len = _one(s, 2, 0)
        data_len = _one(s, 3, 0)
        sf_len = _one(s, 4, 0)
        n_rows = _one(s, 5, 0)
        sf_raw = b[
            offset + index_len + data_len : offset + index_len + data_len + sf_len
        ]
        sfoot = _msg(_decompress_chunks(sf_raw, compression, max_output))
        encodings = [
            (_one(_msg(e), 1, 0), _one(_msg(e), 2, 0)) for e in sfoot.get(2, [])
        ]
        # stream directory: raw spans per (column, kind)
        streams: dict[tuple[int, int], bytes] = {}
        row_index: dict[int, bytes] = {}
        pos = offset
        for raw_s in sfoot.get(1, []):
            sm = _msg(raw_s)
            skind = _one(sm, 1, 0)
            col = _one(sm, 2, 0)
            length = _one(sm, 3, 0)
            if skind == _ROW_INDEX:
                row_index[col] = b[pos : pos + length]
            elif skind <= 5:
                streams[(col, skind)] = b[pos : pos + length]
            pos += length
        entries: dict[int, list] = {}
        for c in need:
            tid = col_name[c]
            ri_raw = row_index.get(tid)
            if ri_raw is None:
                raise ValueError(f"orc: column {c!r} has no ROW_INDEX stream")
            ri = _msg(_decompress_chunks(ri_raw, compression, max_output))
            entries[tid] = [_msg(e) for e in ri.get(1, [])]
            enc = encodings[tid][0] if tid < len(encodings) else 0
            if col_kind[tid] == "STRING" and enc in (1, 3):
                raise NotImplementedError(
                    "orc: row-group seek into dictionary strings"
                )
        n_rg = (n_rows + stride - 1) // stride
        counters["row_groups_total"] += n_rg
        for rg in range(n_rg):
            rows = min(stride, n_rows - rg * stride)
            ent = entries[tid_pred][rg]
            bounds = None
            stats = ent.get(2)
            if stats:
                cs = _msg(stats[0])
                ints = cs.get(2)
                strs = cs.get(4)
                if ints:
                    m = _msg(ints[0])
                    if 1 in m and 2 in m:
                        bounds = (_unzigzag(_one(m, 1)), _unzigzag(_one(m, 2)))
                elif strs:
                    m = _msg(strs[0])
                    if 1 in m and 2 in m:
                        bounds = (
                            bytes(_one(m, 1)).decode("utf-8"),
                            bytes(_one(m, 2)).decode("utf-8"),
                        )
            if bounds is not None and (hi_eff < bounds[0] or lo > bounds[1]):
                counters["skipped_stats"] += 1
                continue
            counters["row_groups_scanned"] += 1
            group: dict[str, list] = {}
            for c in need:
                tid = col_name[c]
                kind = col_kind[tid]
                enc_kind = encodings[tid][0] if tid < len(encodings) else 0
                # positions follow the WRITER's record order — PRESENT,
                # DATA, LENGTH — not the stripe-directory order (which
                # ORC_CPP emits as PRESENT, LENGTH, DATA; pinned
                # empirically in tests/test_orc_rowindex.py)
                kinds_here = [
                    k
                    for k in (_PRESENT, _DATA, _LENGTH)
                    if (tid, k) in streams
                ]
                shapes = [
                    (k, _stream_shape(kind, k, enc_kind)) for k in kinds_here
                ]
                recs = _split_positions(
                    list(_packed_or_repeated_uints(entries[tid][rg], 1)),
                    shapes,
                    compression,
                )
                group[c] = _decode_rowgroup_column(
                    kind, enc_kind, streams, tid, recs, rows,
                    compression, max_output,
                )
            keep_rows = [
                i
                for i, v in enumerate(group[pred_col])
                if v is not None and lo <= v <= hi_eff
            ]
            for c in need:
                out[c].extend(group[c][i] for i in keep_rows)
    return {c: out[c] for c in columns}, counters


def _decode_rowgroup_column(
    kind: str,
    enc_kind: int,
    streams: dict,
    tid: int,
    recs: dict[int, dict],
    rows: int,
    compression: str,
    max_output: int,
) -> list:
    """Decode one row group of one column from its seek records."""
    pres_raw = streams.get((tid, _PRESENT))
    if pres_raw is not None and _PRESENT in recs:
        present = _seek_bool(
            pres_raw, recs[_PRESENT], rows, compression, max_output
        )
    else:
        present = [True] * rows
    nn = sum(present)
    data_raw = streams.get((tid, _DATA))
    rec = recs.get(_DATA, {"chunk": 0, "off": 0, "skip": 0, "bit": 0})
    if kind == "BOOLEAN":
        vals = _seek_bool(data_raw, rec, nn, compression, max_output)
    elif kind in ("SHORT", "INT", "LONG", "DATE"):
        data = _chunks_from(
            data_raw, compression, rec["chunk"], rec["off"], 0, max_output
        )
        vals = _int_rle(data, rec["skip"] + nn, True, enc_kind)[rec["skip"] :]
    elif kind in ("FLOAT", "DOUBLE"):
        width = 4 if kind == "FLOAT" else 8
        data = _chunks_from(
            data_raw, compression, rec["chunk"], rec["off"],
            width * nn, max_output,
        )
        fmt = "<f" if kind == "FLOAT" else "<d"
        vals = [struct.unpack_from(fmt, data, width * i)[0] for i in range(nn)]
    elif kind == "BYTE":
        data = _chunks_from(
            data_raw, compression, rec["chunk"], rec["off"], 0, max_output
        )
        vals = _byte_rle(data, rec["skip"] + nn)[rec["skip"] :]
        vals = [v - 256 if v > 127 else v for v in vals]
    elif kind == "STRING":
        lrec = recs.get(_LENGTH)
        len_raw = streams.get((tid, _LENGTH))
        if lrec is None or len_raw is None:
            raise ValueError("orc: string column missing LENGTH positions")
        ldata = _chunks_from(
            len_raw, compression, lrec["chunk"], lrec["off"], 0, max_output
        )
        lengths = _int_rle(ldata, lrec["skip"] + nn, False, enc_kind)[
            lrec["skip"] :
        ]
        total = sum(lengths)
        data = _chunks_from(
            data_raw, compression, rec["chunk"], rec["off"], total, max_output
        )
        vals = []
        at = 0
        for ln in lengths:
            vals.append(bytes(data[at : at + ln]).decode("utf-8"))
            at += ln
    else:
        raise NotImplementedError(f"orc: row-group seek for {kind}")
    if len(vals) != nn:
        raise ValueError("orc: row-group decoded count mismatch")
    it = iter(vals)
    return [next(it) if p else None for p in present]


def _decode_column(
    kind, enc_kind, dict_size, streams, cid, n_rows, compression, max_output
) -> list:
    present_raw = _stream(streams, cid, _PRESENT, compression, max_output)
    present = (
        _bool_rle(present_raw, n_rows) if present_raw is not None else [True] * n_rows
    )
    n_present = sum(present)
    data = _stream(streams, cid, _DATA, compression, max_output)
    if data is None:
        raise ValueError(f"orc: column {cid} has no DATA stream")
    if kind in ("SHORT", "INT", "LONG", "DATE"):
        # DATE is days since the Unix epoch on the same signed wire;
        # encoding generation picks RLEv1 (Hive ≤0.11) vs RLEv2
        vals = _int_rle(data, n_present, True, enc_kind)
    elif kind == "TIMESTAMP":
        # DATA = seconds relative to 2015-01-01 (signed), SECONDARY =
        # nanos with the trailing-zero trick: low 3 bits t > 0 mean
        # multiply (v >> 3) by 10^(t+1). Decoded to epoch MICROS.
        secs = _int_rle(data, n_present, True, enc_kind)
        sec_raw = _stream(streams, cid, _SECONDARY, compression, max_output)
        if sec_raw is None:
            raise ValueError("orc: timestamp column missing SECONDARY stream")
        nraw = _int_rle(sec_raw, n_present, False, enc_kind)
        vals = []
        for s, nv in zip(secs, nraw):
            t = nv & 0x7
            nanos = (nv >> 3) * (10 ** (t + 1)) if t else (nv >> 3)
            if nanos >= 1_000_000_000:
                raise ValueError("orc: timestamp nanos out of range")
            vals.append((_ORC_TS_BASE + s) * 1_000_000 + nanos // 1000)
    elif kind == "DECIMAL":
        # DATA = unbounded zigzag base-128 varints (NOT RLEv2);
        # SECONDARY = per-value scale. Decoded to the unscaled int
        # (the schema's scale applies downstream — same contract as
        # the parquet FLBA DECIMAL path).
        vals = []
        pos = 0
        for _ in range(n_present):
            v, pos = _svarint(data, pos)
            vals.append(v)
        sec_raw = _stream(streams, cid, _SECONDARY, compression, max_output)
        if sec_raw is None:
            raise ValueError("orc: decimal column missing SECONDARY stream")
        _int_rle(sec_raw, n_present, True, enc_kind)  # scales: validated, not applied
    elif kind == "BINARY":
        lengths_raw = _stream(streams, cid, _LENGTH, compression, max_output)
        if lengths_raw is None:
            raise ValueError("orc: binary column missing LENGTH stream")
        lengths = _int_rle(lengths_raw, n_present, False, enc_kind)
        vals = []
        at = 0
        for ln in lengths:
            if at + ln > len(data):
                raise ValueError("orc: binary values truncated")
            vals.append(bytes(data[at : at + ln]))
            at += ln
    elif kind == "BYTE":
        vals = [v - 256 if v > 127 else v for v in _byte_rle(data, n_present)]
    elif kind == "BOOLEAN":
        vals = _bool_rle(data, n_present)
    elif kind == "FLOAT":
        vals = [
            struct.unpack_from("<f", data, 4 * i)[0] for i in range(n_present)
        ]
    elif kind == "DOUBLE":
        vals = [
            struct.unpack_from("<d", data, 8 * i)[0] for i in range(n_present)
        ]
    elif kind == "STRING":
        lengths_raw = _stream(streams, cid, _LENGTH, compression, max_output)
        if lengths_raw is None:
            raise ValueError("orc: string column missing LENGTH stream")
        if enc_kind in (1, 3):  # DICTIONARY (RLEv1 idx) / DICTIONARY_V2
            dict_raw = _stream(streams, cid, _DICT_DATA, compression, max_output)
            lengths = _int_rle(lengths_raw, dict_size, False, enc_kind)
            entries = []
            at = 0
            for ln in lengths:
                entries.append(bytes(dict_raw[at : at + ln]).decode("utf-8"))
                at += ln
            idx = _int_rle(data, n_present, False, enc_kind)
            try:
                vals = [entries[i] for i in idx]
            except IndexError:
                raise ValueError("orc: dictionary index out of range") from None
        elif enc_kind in (0, 2):  # DIRECT (RLEv1 lengths) / DIRECT_V2
            lengths = _int_rle(lengths_raw, n_present, False, enc_kind)
            vals = []
            at = 0
            for ln in lengths:
                vals.append(bytes(data[at : at + ln]).decode("utf-8"))
                at += ln
        else:
            raise ValueError(f"orc: unknown string encoding {enc_kind}")
    else:
        raise NotImplementedError(f"orc: column type {kind} not supported")
    if len(vals) != n_present:
        raise ValueError("orc: decoded value count mismatch")
    it = iter(vals)
    return [next(it) if p else None for p in present]


def _decode_node(
    col_kind, children, encodings, streams, tid, n_rows, compression,
    max_output, field_names=None,
) -> list:
    """Recursive typed decode for repeated columns (round 14): a LIST
    node carries PRESENT + LENGTH (unsigned RLEv2, one entry per
    present row) and one anonymous child holding Σlengths values; a
    MAP node carries the same LENGTH over its (key, value) child pair.
    Children recurse — list<list<…>>, map<k, list<v>>, and primitive
    leaves (which keep their own PRESENT for null elements) all
    assemble from the same two streams. Null row / empty container /
    null element are distinct, mirroring the parquet rep/def
    semantics (parquet_data.py E130'')."""
    kind = col_kind.get(tid)
    if kind in _PRIMITIVE:
        enc = encodings[tid] if tid < len(encodings) else (0, 0)
        return _decode_column(
            kind, enc[0], enc[1], streams, tid, n_rows, compression, max_output
        )
    if kind == "STRUCT":
        # struct under a repeated ancestor (round 14 second pass):
        # PRESENT on the struct node, each child holding one entry per
        # PRESENT struct — rows assemble to dicts keyed by field name
        present_raw = _stream(streams, tid, _PRESENT, compression, max_output)
        pres = (
            _bool_rle(present_raw, n_rows)
            if present_raw is not None
            else [True] * n_rows
        )
        n_present = sum(pres)
        names = (field_names or {}).get(tid)
        sub = children.get(tid, [])
        if not names or len(names) != len(sub):
            raise ValueError("orc: struct children/name mismatch")
        fields = {
            nm: _decode_node(
                col_kind, children, encodings, streams, ch, n_present,
                compression, max_output, field_names,
            )
            for nm, ch in zip(names, sub)
        }
        rows: list = []
        at = 0
        for p in pres:
            if not p:
                rows.append(None)
                continue
            rows.append({nm: fields[nm][at] for nm in names})
            at += 1
        return rows
    if kind not in ("LIST", "MAP"):
        raise NotImplementedError(f"orc: column type {kind} not supported")
    enc_kind = encodings[tid][0] if tid < len(encodings) else 0
    present_raw = _stream(streams, tid, _PRESENT, compression, max_output)
    present = (
        _bool_rle(present_raw, n_rows) if present_raw is not None else [True] * n_rows
    )
    n_present = sum(present)
    len_raw = _stream(streams, tid, _LENGTH, compression, max_output)
    if len_raw is None:
        raise ValueError(f"orc: {kind} column {tid} has no LENGTH stream")
    lengths = _int_rle(len_raw, n_present, False, enc_kind)
    total = sum(lengths)
    sub = children.get(tid, [])
    if kind == "LIST":
        if len(sub) != 1:
            raise ValueError("orc: LIST type must have exactly one child")
        flat = _decode_node(
            col_kind, children, encodings, streams, sub[0], total,
            compression, max_output, field_names,
        )
    else:
        if len(sub) != 2:
            raise ValueError("orc: MAP type must have exactly two children")
        keys = _decode_node(
            col_kind, children, encodings, streams, sub[0], total,
            compression, max_output, field_names,
        )
        mvals = _decode_node(
            col_kind, children, encodings, streams, sub[1], total,
            compression, max_output, field_names,
        )
    out: list = []
    at = 0
    li = iter(lengths)
    for p in present:
        if not p:
            out.append(None)
            continue
        ln = next(li)
        if kind == "LIST":
            out.append(flat[at : at + ln])
        else:
            out.append(dict(zip(keys[at : at + ln], mvals[at : at + ln])))
        at += ln
    if at != total:
        raise ValueError("orc: repeated-column length mismatch")
    return out


# ---------------------------------------------------------------------------
# ORC WRITER (round-13 second half): flat columns → a real ORC file
# the REAL library reads back — the parquet-writer recipe applied to
# the other substrate. One stripe per `stripe_rows`; integer columns
# as RLEv2 (short-repeat for runs, DIRECT otherwise), strings
# DIRECT_V2, doubles/floats raw, booleans/presents boolean-RLE;
# NONE or ZLIB chunk framing.
# ---------------------------------------------------------------------------


def _pb_varint_field(field: int, v: int) -> bytes:
    return _tag(field, 0) + _write_varint(v)


def _pb_len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _write_varint(len(payload)) + payload


def _zigzag_enc(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _bitpack_be(vals: list[int], width: int) -> bytes:
    acc = 0
    for v in vals:
        acc = (acc << width) | v
    pad = (-(len(vals) * width)) % 8
    acc <<= pad
    return acc.to_bytes((len(vals) * width + pad) // 8, "big")


def _direct_encode(group: list[int]) -> bytes:
    bits = max(1, max(v.bit_length() for v in group))
    width = next(w for w in _FBS if w >= bits)
    wcode = _FBS.index(width)
    length = len(group) - 1
    return (
        bytes([0x40 | (wcode << 1) | (length >> 8), length & 0xFF])
        + _bitpack_be(group, width)
    )


def _patched_base_encode(raw: list[int]) -> "bytes | None":
    """PATCHED_BASE for an outlier-heavy group (round 15, the write
    twin of the decoder's mode-2 branch): values re-based at min, bit
    width sized to the 90th percentile, outliers' high bits carried in
    a ≤31-entry (gap, patch) list with (255, 0) continuations. Returns
    None when the group doesn't fit the mode (no outliers, too many
    patches, gap width overflow)."""
    if len(raw) < 8 or len(raw) > 512:
        return None
    base = min(raw)
    deltas = [v - base for v in raw]
    widths = sorted(max(1, d.bit_length()) for d in deltas)
    max_bits = widths[-1]
    p90 = widths[(len(widths) * 9) // 10 - 1] if len(widths) >= 10 else widths[
        max(0, len(widths) - 2)
    ]
    width = next(w for w in _FBS if w >= p90)
    if max_bits <= width:
        return None  # no outliers → DIRECT is strictly better
    pw = next(w for w in _FBS if w >= max_bits - width)
    patches = [
        (i, d >> width) for i, d in enumerate(deltas) if d >> width
    ]
    # entries incl. (255, 0) continuations must fit the 5-bit PLL
    entries: list[int] = []
    prev = 0
    max_gap = 0
    for idx, patch in patches:
        gap = idx - prev
        while gap > 255:
            entries.append((255 << pw) | 0)
            gap -= 255
            # the (255, 0) continuation entry itself carries gap=255, so
            # pgw/entry_w must be sized for it (ORC Java writer forces
            # the 8-bit gap width once any continuation is emitted)
            max_gap = max(max_gap, 255)
        max_gap = max(max_gap, gap)
        entries.append((gap << pw) | patch)
        prev = idx
    if not 1 <= len(entries) <= 31:
        return None
    pgw = max(1, max_gap.bit_length())
    if pgw > 8 or pgw + pw > 64 or width + pw > 64:
        return None  # real readers bound patch<<width at 64 bits
    # base: magnitude with a sign bit in the MSB of the byte span
    mag = abs(base)
    bw = max(1, (mag.bit_length() + 1 + 7) // 8)
    if bw > 8:
        return None
    base_word = mag | ((1 << (bw * 8 - 1)) if base < 0 else 0)
    entry_w = next(w for w in _FBS if w >= pgw + pw)
    length = len(raw) - 1
    wcode = _FBS.index(width)
    out = bytearray(
        [
            0x80 | (wcode << 1) | (length >> 8),
            length & 0xFF,
            ((bw - 1) << 5) | _FBS.index(pw),
            ((pgw - 1) << 5) | len(entries),
        ]
    )
    out += base_word.to_bytes(bw, "big")
    out += _bitpack_be([d & ((1 << width) - 1) for d in deltas], width)
    out += _bitpack_be(entries, entry_w)
    return bytes(out)


def _rlev2_encode(values: list[int], signed: bool) -> bytes:
    """Short-repeat runs (3..10) + DIRECT groups (<=512 values at the
    closest FixedBitSizes width) + PATCHED_BASE for outlier-heavy
    groups (round 15, picked when it beats DIRECT byte-for-byte) — a
    valid, reader-complete subset of the RLEv2 writer surface."""
    out = bytearray()
    enc = [( _zigzag_enc(v) if signed else v) for v in values]
    for v in enc:
        if v < 0:
            raise ValueError("orc-write: unsigned RLEv2 value is negative")
    i, n = 0, len(enc)
    while i < n:
        run = 1
        while run < 10 and i + run < n and enc[i + run] == enc[i]:
            run += 1
        if run >= 3:
            width = max(1, (enc[i].bit_length() + 7) // 8)
            out.append(((width - 1) << 3) | (run - 3))
            out += enc[i].to_bytes(width, "big")
            i += run
            continue
        # DIRECT group: up to 512 values, stop before the next 3+-run
        j = i + 1
        while j < n and j - i < 512:
            r = 1
            while r < 3 and j + r < n and enc[j + r] == enc[j]:
                r += 1
            if r >= 3:
                break
            j += 1
        direct = _direct_encode(enc[i:j])
        # PATCHED_BASE works on the RAW (pre-zigzag) values — the base
        # carries the sign, outliers patch in their high bits
        patched = _patched_base_encode(values[i:j])
        if patched is not None and len(patched) < len(direct):
            out += patched
        else:
            out += direct
        i = j
    return bytes(out)


def _byte_rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while run < 130 and i + run < n and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(run - 3)
            out.append(data[i])
            i += run
            continue
        j = i + 1
        while j < n and j - i < 128:
            r = 1
            while r < 3 and j + r < n and data[j + r] == data[j]:
                r += 1
            if r >= 3:
                break
            j += 1
        out.append(256 - (j - i))
        out += data[i:j]
        i = j
    return bytes(out)


def _bool_rle_encode(bits: list[bool]) -> bytes:
    raw = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        if b:
            raw[i >> 3] |= 1 << (7 - (i & 7))
    return _byte_rle_encode(bytes(raw))


def _chunks_compress(data: bytes, compression: str) -> bytes:
    """The writer half of ORC chunk framing (NONE/ZLIB)."""
    if compression == "NONE":
        return data
    if compression != "ZLIB":
        raise NotImplementedError(f"orc-write: compression {compression}")
    out = bytearray()
    block = 1 << 15
    for at in range(0, max(len(data), 1), block):
        chunk = data[at : at + block]
        comp = zlib_compress(chunk)[2:-4]  # raw deflate
        if len(comp) < len(chunk):
            header = len(comp) << 1
            body = comp
        else:
            header = (len(chunk) << 1) | 1  # original
            body = chunk
        out += bytes((header & 0xFF, (header >> 8) & 0xFF, (header >> 16) & 0xFF))
        out += body
    return bytes(out)


_KIND_IDS = {v: k for k, v in _KINDS.items()}


def orc_write(
    columns: dict[str, list],
    types: dict[str, str] | None = None,
    compression: str = "ZLIB",
    stripe_rows: int | None = None,
    bloom_filter_columns: "list[str] | None" = None,
    row_index_stride: int | None = None,
) -> bytes:
    """Serialize ``{name: values}`` (``None`` = null) into an ORC
    file. Types: LONG, DOUBLE, STRING, BOOLEAN (inferred when not
    given). Readable by the real ORC_CPP (pyarrow) and by
    ``orc_read_columns`` — both pinned in tests/test_orc.py.
    ``row_index_stride`` (round 14 s3) emits ROW_INDEX streams: every
    stream is encoded in per-stride SEGMENTS (runs never cross a
    stride, each segment its own compression chunk), so the recorded
    seek positions are exact with zero run/bit skips — spec-valid
    wire that orc_scan_rowgroups prunes and ORC_CPP still reads.
    Flat primitive columns only; the stride must be a multiple of 8
    (the PRESENT bitstream's byte grain)."""
    names = list(columns)
    if not names:
        raise ValueError("orc-write: no columns")
    n_rows = len(columns[names[0]])
    for c in names:
        if len(columns[c]) != n_rows:
            raise ValueError("orc-write: ragged columns")

    def _infer(vals):
        for v in vals:
            if v is None:
                continue
            if isinstance(v, bool):
                return "BOOLEAN"
            if isinstance(v, int):
                return "LONG"
            if isinstance(v, float):
                return "DOUBLE"
            if isinstance(v, str):
                return "STRING"
            raise NotImplementedError(
                f"orc-write: unsupported value type {type(v).__name__}"
            )
        return "STRING"

    # round 14: "LIST<ELEM>" declares a list column (PRESENT + LENGTH
    # on the list node, the element subtree flattened beneath) — the
    # write twin of _decode_node, read back by REAL ORC_CPP in tests
    if row_index_stride is not None and (
        row_index_stride <= 0 or row_index_stride % 8
    ):
        raise ValueError("orc-write: row_index_stride must be a multiple of 8")
    ctypes = {c: (types or {}).get(c) or _infer(columns[c]) for c in names}

    # round 15: the type spec is a TREE — primitives gain DATE /
    # TIMESTAMP / DECIMAL(p,s) / BINARY / STRING_DICT (forced
    # DICTIONARY_V2), containers gain {"struct": {...}},
    # {"map": (k, v)}, {"list": spec} at any depth; the legacy
    # "LIST<ELEM>" string stays as sugar for {"list": "ELEM"}.
    _PRIM_KINDS = (
        "BOOLEAN", "BYTE", "SHORT", "INT", "LONG", "FLOAT", "DOUBLE",
        "STRING", "BINARY", "DATE", "TIMESTAMP",
    )

    def _parse_type(t) -> dict:
        if isinstance(t, dict):
            if "struct" in t:
                return {
                    "kind": "STRUCT",
                    "children": [
                        (fn, _parse_type(ft)) for fn, ft in t["struct"].items()
                    ],
                }
            if "map" in t:
                kt, vt = t["map"]
                return {
                    "kind": "MAP",
                    "children": [("_key", _parse_type(kt)),
                                 ("_value", _parse_type(vt))],
                }
            if "list" in t:
                return {"kind": "LIST",
                        "children": [("_elem", _parse_type(t["list"]))]}
            raise NotImplementedError(f"orc-write: type spec {t!r}")
        if t.startswith("LIST<") and t.endswith(">"):
            return {"kind": "LIST",
                    "children": [("_elem", _parse_type(t[5:-1]))]}
        if t.startswith("DECIMAL(") and t.endswith(")"):
            p, s = (int(x) for x in t[8:-1].split(","))
            return {"kind": "DECIMAL", "precision": p, "scale": s,
                    "children": []}
        if t == "STRING_DICT":
            return {"kind": "STRING", "dict": True, "children": []}
        if t in _PRIM_KINDS:
            return {"kind": t, "children": []}
        raise NotImplementedError(f"orc-write: type {t}")

    nodes: dict[str, dict] = {}
    next_id = 1

    def _assign_ids(node: dict) -> None:
        nonlocal next_id
        node["id"] = next_id
        next_id += 1
        for _fn, ch in node["children"]:
            _assign_ids(ch)

    for c in names:
        nodes[c] = _parse_type(ctypes[c])
        _assign_ids(nodes[c])
    has_timestamp = False

    def _any_ts(node: dict) -> bool:
        return node["kind"] == "TIMESTAMP" or any(
            _any_ts(ch) for _fn, ch in node["children"]
        )

    has_timestamp = any(_any_ts(n) for n in nodes.values())

    out = bytearray(b"ORC")
    stripe_infos = []
    stripe_stats_msgs = []  # Metadata section: one StripeStatistics each
    step = stripe_rows or max(1, n_rows)
    for start in range(0, max(n_rows, 1), step):
        rows = min(step, n_rows - start) if n_rows else 0
        offset = len(out)
        streams_pb = []
        index_streams_pb = []
        encodings_pb = [_tag(1, 0) + _write_varint(0)]  # root: DIRECT
        data_blob = bytearray()
        index_blob = bytearray()
        # root ColumnStatistics: numberOfValues + hasNull=false
        cs_msgs = [_pb_varint_field(1, rows) + _pb_varint_field(10, 0)]

        def _emit(col_id, kind, payload):
            comp = _chunks_compress(payload, compression)
            data_blob.extend(comp)
            streams_pb.append(
                _pb_varint_field(1, kind)
                + _pb_varint_field(2, col_id)
                + _pb_varint_field(3, len(comp))
            )

        def _emit_segmented(col_id, kind, encode_fn, segments):
            """Encode per-stride segments (each its own chunk) and
            return the per-segment byte offsets into the stream."""
            offs, parts, at = [], [], 0
            for seg in segments:
                offs.append(at)
                blob = _chunks_compress(encode_fn(seg), compression)
                parts.append(blob)
                at += len(blob)
            data_blob.extend(b"".join(parts))
            streams_pb.append(
                _pb_varint_field(1, kind)
                + _pb_varint_field(2, col_id)
                + _pb_varint_field(3, at)
            )
            return offs

        def _pos_record(off, shape):
            """One stream's positions: [chunk_off]? + decomp_off +
            zero skips — segments start at chunk boundaries."""
            has_chunk = compression != "NONE"
            rec = ([off, 0] if has_chunk else [off])
            if shape == "bool":
                rec += [0, 0]
            elif shape == "rle":
                rec += [0]
            return rec

        def _stride_stat(t, seg_nn, seg_has_null):
            cs = _pb_varint_field(1, len(seg_nn)) + _pb_varint_field(
                10, 1 if seg_has_null else 0
            )
            if seg_nn and t == "LONG":
                cs += _pb_len_field(
                    2,
                    _tag(1, 0)
                    + _write_varint(_zigzag_enc(min(seg_nn)))
                    + _tag(2, 0)
                    + _write_varint(_zigzag_enc(max(seg_nn))),
                )
            elif seg_nn and t == "STRING":
                cs += _pb_len_field(
                    4,
                    _pb_len_field(1, min(seg_nn).encode("utf-8"))
                    + _pb_len_field(2, max(seg_nn).encode("utf-8")),
                )
            return cs

        def _emit_leaf_indexed(ci, t, vals, stride):
            """Stride-segmented streams + a ROW_INDEX stream for one
            flat primitive column."""
            segs = [
                vals[k : k + stride] for k in range(0, len(vals), stride)
            ] or [[]]
            seg_present = [[v is not None for v in sv] for sv in segs]
            seg_nn = [[v for v in sv if v is not None] for sv in segs]
            has_nulls = any(not all(p) for p in seg_present)
            entry_pos = [[] for _ in segs]
            if has_nulls:
                offs = _emit_segmented(
                    ci, _PRESENT, _bool_rle_encode, seg_present
                )
                for k, off in enumerate(offs):
                    entry_pos[k] += _pos_record(off, "bool")
            if t == "LONG":
                offs = _emit_segmented(
                    ci, _DATA, lambda v: _rlev2_encode(v, signed=True), seg_nn
                )
                shape, enc = "rle", 2
            elif t == "DOUBLE":
                offs = _emit_segmented(
                    ci, _DATA,
                    lambda v: b"".join(struct.pack("<d", x) for x in v),
                    seg_nn,
                )
                shape, enc = "raw", 0
            elif t == "FLOAT":
                offs = _emit_segmented(
                    ci, _DATA,
                    lambda v: b"".join(struct.pack("<f", x) for x in v),
                    seg_nn,
                )
                shape, enc = "raw", 0
            elif t == "BOOLEAN":
                offs = _emit_segmented(
                    ci, _DATA,
                    lambda v: _bool_rle_encode([bool(x) for x in v]),
                    seg_nn,
                )
                shape, enc = "bool", 0
            else:  # STRING DIRECT_V2
                seg_blobs = [
                    [x.encode("utf-8") for x in v] for v in seg_nn
                ]
                offs = _emit_segmented(
                    ci, _DATA, lambda bl: b"".join(bl), seg_blobs
                )
                for k, off in enumerate(offs):
                    entry_pos[k] += _pos_record(off, "raw")
                offs = _emit_segmented(
                    ci, _LENGTH,
                    lambda bl: _rlev2_encode([len(x) for x in bl], False),
                    seg_blobs,
                )
                shape, enc = "rle", 2
            for k, off in enumerate(offs):
                entry_pos[k] += _pos_record(off, shape)
            encodings_pb.append(_tag(1, 0) + _write_varint(enc))
            entries = []
            for k in range(len(segs)):
                entries.append(
                    b"".join(_pb_varint_field(1, v) for v in entry_pos[k])
                    + _pb_len_field(
                        2,
                        _stride_stat(
                            t, seg_nn[k], not all(seg_present[k])
                        ),
                    )
                )
            ri = b"".join(_pb_len_field(1, e) for e in entries)
            ri_comp = _chunks_compress(ri, compression)
            index_blob.extend(ri_comp)
            index_streams_pb.append(
                _pb_varint_field(1, _ROW_INDEX)
                + _pb_varint_field(2, ci)
                + _pb_varint_field(3, len(ri_comp))
            )
            all_nn = [v for sv in seg_nn for v in sv]
            cs_msgs.append(
                _stride_stat(t, all_nn, has_nulls)
            )
            return all_nn

        def _emit_leaf(ci, t, vals, node=None):
            """One primitive column's streams + encoding + stats entry."""
            present = [v is not None for v in vals]
            nn = [v for v in vals if v is not None]
            if not all(present):
                _emit(ci, _PRESENT, _bool_rle_encode(present))
            enc_extra = b""
            if t in ("LONG", "SHORT", "INT"):
                _emit(ci, _DATA, _rlev2_encode(nn, signed=True))
                enc = 2  # DIRECT_V2
            elif t == "DATE":
                # days since the Unix epoch on the signed wire
                _emit(ci, _DATA, _rlev2_encode([int(v) for v in nn], True))
                enc = 2
            elif t == "TIMESTAMP":
                # input = epoch MICROS (the reader's decode surface);
                # DATA = seconds relative to 2015-01-01, SECONDARY =
                # nanos with the trailing-decimal-zero trick
                secs, nanos_enc = [], []
                for v in nn:
                    s, frac = divmod(int(v), 1_000_000)
                    secs.append(s - _ORC_TS_BASE)
                    nanos = frac * 1000
                    z = 0
                    if nanos:
                        while z < 8 and nanos % 10 == 0:
                            nanos //= 10
                            z += 1
                        if z < 2:  # fewer than 2 zeros: store verbatim
                            nanos *= 10 ** z
                            z = 0
                    else:
                        z = 0
                    nanos_enc.append((nanos << 3) | (z - 1 if z >= 2 else 0))
                _emit(ci, _DATA, _rlev2_encode(secs, True))
                _emit(ci, _SECONDARY, _rlev2_encode(nanos_enc, False))
                enc = 2
            elif t == "DECIMAL":
                # DATA = unbounded zigzag varints of the UNSCALED ints,
                # SECONDARY = per-value scale (the column's fixed scale)
                scale = (node or {}).get("scale", 0)
                _emit(
                    ci, _DATA,
                    b"".join(_write_varint(_zigzag_enc(int(v))) for v in nn),
                )
                _emit(ci, _SECONDARY, _rlev2_encode([scale] * len(nn), True))
                enc = 2
            elif t == "DOUBLE":
                _emit(ci, _DATA, b"".join(struct.pack("<d", v) for v in nn))
                enc = 0
            elif t == "FLOAT":
                _emit(ci, _DATA, b"".join(struct.pack("<f", v) for v in nn))
                enc = 0
            elif t == "BOOLEAN":
                _emit(ci, _DATA, _bool_rle_encode([bool(v) for v in nn]))
                enc = 0
            elif t == "BYTE":
                _emit(
                    ci, _DATA,
                    _byte_rle_encode(bytes((int(v)) & 0xFF for v in nn)),
                )
                enc = 0
            elif t == "BINARY":
                blobs = [bytes(v) for v in nn]
                _emit(ci, _DATA, b"".join(blobs))
                _emit(ci, _LENGTH, _rlev2_encode([len(b) for b in blobs], False))
                enc = 2
            elif t == "STRING" and node is not None and node.get("dict"):
                # DICTIONARY_V2 (round 15): sorted distinct entries,
                # DATA = per-row indexes, dictionarySize in the encoding
                entries = sorted({v for v in nn})
                index = {v: i for i, v in enumerate(entries)}
                blobs = [e.encode("utf-8") for e in entries]
                _emit(ci, _DATA, _rlev2_encode([index[v] for v in nn], False))
                _emit(ci, _DICT_DATA, b"".join(blobs))
                _emit(ci, _LENGTH, _rlev2_encode([len(b) for b in blobs], False))
                enc = 3  # DICTIONARY_V2
                enc_extra = _pb_varint_field(2, len(entries))
            else:  # STRING DIRECT_V2
                blobs = [v.encode("utf-8") for v in nn]
                _emit(ci, _DATA, b"".join(blobs))
                _emit(ci, _LENGTH, _rlev2_encode([len(b) for b in blobs], False))
                enc = 2
            encodings_pb.append(_tag(1, 0) + _write_varint(enc) + enc_extra)
            # per-column StripeStatistics entry (LONG → sint64 zigzag
            # IntegerStatistics, STRING → StringStatistics); DOUBLE/
            # BOOLEAN carry counts only — absent bounds mean "scan"
            cs = _pb_varint_field(1, len(nn)) + _pb_varint_field(
                10, 0 if all(present) else 1
            )
            if nn and t == "LONG":
                cs += _pb_len_field(
                    2,
                    _tag(1, 0)
                    + _write_varint(_zigzag_enc(min(nn)))
                    + _tag(2, 0)
                    + _write_varint(_zigzag_enc(max(nn))),
                )
            elif nn and t == "STRING":
                cs += _pb_len_field(
                    4,
                    _pb_len_field(1, min(nn).encode("utf-8"))
                    + _pb_len_field(2, max(nn).encode("utf-8")),
                )
            cs_msgs.append(cs)
            return nn

        def _write_node(node, vals):
            """Recursive stream emission in PRE-ORDER column-id order
            (round 15): STRUCT carries PRESENT only, LIST/MAP carry
            PRESENT + LENGTH with children flattened beneath,
            primitives keep their own PRESENT for null elements — the
            write twin of _decode_node."""
            kind = node["kind"]
            ci = node["id"]
            if not node["children"]:
                return _emit_leaf(ci, kind, vals, node=node)
            present = [v is not None for v in vals]
            nn_rows = [v for v in vals if v is not None]
            if not all(present):
                _emit(ci, _PRESENT, _bool_rle_encode(present))
            if kind == "STRUCT":
                encodings_pb.append(_tag(1, 0) + _write_varint(0))  # DIRECT
                cs_msgs.append(
                    _pb_varint_field(1, len(nn_rows))
                    + _pb_varint_field(10, 0 if all(present) else 1)
                )
                for fn, ch in node["children"]:
                    _write_node(ch, [v.get(fn) for v in nn_rows])
                return None
            if kind == "MAP":
                pairs = [
                    list(v.items()) if isinstance(v, dict) else list(v)
                    for v in nn_rows
                ]
                _emit(
                    ci, _LENGTH,
                    _rlev2_encode([len(p) for p in pairs], signed=False),
                )
                encodings_pb.append(_tag(1, 0) + _write_varint(2))
                cs_msgs.append(
                    _pb_varint_field(1, len(nn_rows))
                    + _pb_varint_field(10, 0 if all(present) else 1)
                )
                flat = [e for p in pairs for e in p]
                _write_node(node["children"][0][1], [k for k, _v in flat])
                _write_node(node["children"][1][1], [v for _k, v in flat])
                return None
            # LIST
            _emit(
                ci, _LENGTH,
                _rlev2_encode([len(v) for v in nn_rows], signed=False),
            )
            encodings_pb.append(_tag(1, 0) + _write_varint(2))  # DIRECT_V2
            cs_msgs.append(
                _pb_varint_field(1, len(nn_rows))
                + _pb_varint_field(10, 0 if all(present) else 1)
            )
            _write_node(node["children"][0][1], [e for v in nn_rows for e in v])
            return None

        for c in names:
            node = nodes[c]
            ci = node["id"]
            vals = columns[c][start : start + rows]
            if row_index_stride is not None:
                if node["children"] or node["kind"] not in (
                    "LONG", "DOUBLE", "FLOAT", "STRING", "BOOLEAN",
                ):
                    raise NotImplementedError(
                        "orc-write: row index over nested/extended columns"
                    )
                nn = _emit_leaf_indexed(
                    ci, node["kind"], vals, row_index_stride
                )
                if c in (bloom_filter_columns or ()) and node["kind"] in (
                    "LONG", "STRING",
                ):
                    bcomp = _chunks_compress(
                        orc_bloom_build(nn, node["kind"]), compression
                    )
                    index_blob.extend(bcomp)
                    index_streams_pb.append(
                        _pb_varint_field(1, _BLOOM_FILTER_UTF8)
                        + _pb_varint_field(2, ci)
                        + _pb_varint_field(3, len(bcomp))
                    )
                continue
            nn = _write_node(node, vals)
            if (
                nn is not None
                and c in (bloom_filter_columns or ())
                and node["kind"] in ("LONG", "STRING")
            ):
                # one BLOOM_FILTER_UTF8 index stream per stripe
                # (single stride — this writer's row-index granularity)
                bcomp = _chunks_compress(
                    orc_bloom_build(nn, node["kind"]), compression
                )
                index_blob.extend(bcomp)
                index_streams_pb.append(
                    _pb_varint_field(1, _BLOOM_FILTER_UTF8)
                    + _pb_varint_field(2, ci)
                    + _pb_varint_field(3, len(bcomp))
                )

        out += index_blob
        out += data_blob
        sfoot = (
            b"".join(
                _pb_len_field(1, s) for s in index_streams_pb + streams_pb
            )
            + b"".join(_pb_len_field(2, e) for e in encodings_pb)
            # TIMESTAMP is writer-zone-relative on the wire; stamping
            # GMT makes the stored seconds plain epoch seconds for
            # every conforming reader
            + (_pb_len_field(3, b"GMT") if has_timestamp else b"")
        )
        sfoot_c = _chunks_compress(sfoot, compression)
        out += sfoot_c
        stripe_infos.append(
            _pb_varint_field(1, offset)
            + _pb_varint_field(2, len(index_blob))
            + _pb_varint_field(3, len(data_blob))
            + _pb_varint_field(4, len(sfoot_c))
            + _pb_varint_field(5, rows)
        )
        stripe_stats_msgs.append(b"".join(_pb_len_field(1, m) for m in cs_msgs))
        if n_rows == 0:
            break

    # Metadata section (StripeStatistics), between stripes and footer;
    # contentLength counts header + stripes only
    content_len_val = len(out) - 3
    metadata = b"".join(_pb_len_field(1, m) for m in stripe_stats_msgs)
    metadata_c = _chunks_compress(metadata, compression)
    out += metadata_c

    # footer: types — root struct + each field's subtree in pre-order
    root = _tag(1, 0) + _write_varint(_KIND_IDS["STRUCT"])
    for c in names:
        root += _pb_varint_field(2, nodes[c]["id"])
    for c in names:
        root += _pb_len_field(3, c.encode("utf-8"))
    type_msgs = [root]

    def _emit_type(node: dict) -> None:
        msg = _tag(1, 0) + _write_varint(_KIND_IDS[node["kind"]])
        for _fn, ch in node["children"]:
            msg += _pb_varint_field(2, ch["id"])
        if node["kind"] == "STRUCT":
            for fn, _ch in node["children"]:
                msg += _pb_len_field(3, fn.encode("utf-8"))
        if node["kind"] == "DECIMAL":
            msg += _pb_varint_field(5, node["precision"])
            msg += _pb_varint_field(6, node["scale"])
        type_msgs.append(msg)
        for _fn, ch in node["children"]:
            _emit_type(ch)

    for c in names:
        _emit_type(nodes[c])
    footer = (
        _pb_varint_field(1, 3)  # headerLength ("ORC")
        + _pb_varint_field(2, content_len_val)
        + b"".join(_pb_len_field(3, s) for s in stripe_infos)
        + b"".join(_pb_len_field(4, t) for t in type_msgs)
        + _pb_varint_field(6, n_rows)
        + _pb_varint_field(8, row_index_stride or 0)
    )
    footer_c = _chunks_compress(footer, compression)
    out += footer_c
    comp_id = {"NONE": 0, "ZLIB": 1}[compression]
    ps = (
        _pb_varint_field(1, len(footer_c))
        + _pb_varint_field(2, comp_id)
        + _pb_varint_field(3, 1 << 15)
        + _pb_len_field(4, _write_varint(0) + _write_varint(12))
        + _pb_varint_field(5, len(metadata_c))  # metadataLength
        + _pb_varint_field(6, 1)  # writerVersion
        + _pb_len_field(8000, b"ORC")
    )
    if len(ps) > 255:
        raise ValueError("orc-write: postscript too long")
    out += ps
    out.append(len(ps))
    return bytes(out)


# ---------------------------------------------------------------------------
# Bloom filter streams (round 13, session 3)
# ---------------------------------------------------------------------------
# ORC blooms live in each stripe's INDEX region as BLOOM_FILTER_UTF8
# (kind 8) streams: a BloomFilterIndex protobuf holding one
# BloomFilter per row-index stride {numHashFunctions, utf8bitset}.
# Hashing is the Hive lineage ORC_CPP implements byte-for-byte:
# strings → Murmur3 hash64 (the x64_128 h1 lane alone) with the Hive
# seed 104729; longs → the Thomas Wang 64-bit mix with ARITHMETIC
# (signed) right shifts — the C++ int64_t semantics; an unsigned
# transcription diverges exactly on negative intermediates (value 0
# maps through ~0 to 0). Both paths are differentialed against
# genuine pyarrow/ORC_CPP-written blooms in tests/test_orc.py:
# every present value must probe "maybe" (a wrong hash misses
# essentially all of them), absent values overwhelmingly "absent".

_M64 = 1 << 64
_MURMUR_C1 = 0x87C37B91114253D5
_MURMUR_C2 = 0x4CF5AD432745937F
HIVE_MURMUR_SEED = 104729

_BLOOM_FILTER = 7  # deprecated pre-ORC-135 stream kind
_BLOOM_FILTER_UTF8 = 8


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & (_M64 - 1)


def murmur3_hash64(data: bytes, seed: int = HIVE_MURMUR_SEED) -> int:
    """Hive/ORC Murmur3 64-bit variant: 8-byte little-endian blocks
    through the x64_128 h1 lane, reversed-shift tail, fmix64."""
    h = seed
    n = len(data)
    nblocks = n // 8
    for b in range(nblocks):
        k = int.from_bytes(data[b * 8 : (b + 1) * 8], "little")
        k = (k * _MURMUR_C1) & (_M64 - 1)
        k = _rotl64(k, 31)
        k = (k * _MURMUR_C2) & (_M64 - 1)
        h ^= k
        h = (_rotl64(h, 27) * 5 + 0x52DCE729) & (_M64 - 1)
    tail = data[nblocks * 8 :]
    if tail:
        k = 0
        for i in range(len(tail) - 1, -1, -1):
            k ^= tail[i] << (i * 8)
        k = (k * _MURMUR_C1) & (_M64 - 1)
        k = _rotl64(k, 31)
        k = (k * _MURMUR_C2) & (_M64 - 1)
        h ^= k
    h ^= n
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & (_M64 - 1)
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & (_M64 - 1)
    h ^= h >> 33
    return h


def _signed64(v: int) -> int:
    v &= _M64 - 1
    return v - _M64 if v >> 63 else v


def orc_long_hash(key: int) -> int:
    """Thomas Wang 64-bit mix with int64_t (ARITHMETIC-shift)
    semantics — Python's ``>>`` on negatives is arithmetic, so only
    the adds/left-shifts need explicit wrapping."""
    key = _signed64(key)
    key = _signed64((~key) + (key << 21))
    key = key ^ (key >> 24)
    key = _signed64(key + (key << 3) + (key << 8))
    key = key ^ (key >> 14)
    key = _signed64(key + (key << 2) + (key << 4))
    key = key ^ (key >> 28)
    key = _signed64(key + (key << 31))
    return key & (_M64 - 1)


def _signed32(v: int) -> int:
    v &= 0xFFFFFFFF
    return v - (1 << 32) if v & (1 << 31) else v


def bloom_hash_positions(h64: int, k: int, num_bits: int) -> list[int]:
    """Hive double hashing: h1/h2 from the 64-bit hash's halves as
    JAVA INTS, combined = h1 + i*h2 (int wrap), ~ on negatives."""
    h1 = _signed32(h64)
    h2 = _signed32(h64 >> 32)
    out = []
    for i in range(1, k + 1):
        combined = _signed32(h1 + i * h2)
        if combined < 0:
            combined = _signed32(~combined)
        out.append(combined % num_bits)
    return out


def _bloom_maybe(bitset: bytes, k: int, h64: int) -> bool:
    nb = len(bitset) * 8
    if nb == 0 or k <= 0:
        return True  # malformed bloom must not cause false negatives
    return all(
        (bitset[p >> 3] >> (p & 7)) & 1 for p in bloom_hash_positions(h64, k, nb)
    )


def _bloom_value_hash(kind: str, v) -> "int | None":
    if kind == "LONG":
        return orc_long_hash(int(v))
    if kind == "STRING":
        return murmur3_hash64(v.encode("utf-8") if isinstance(v, str) else bytes(v))
    return None  # other types: no bloom support → scan


def _stripe_bloom_maybe(
    b: bytes, st: dict, compression: str, max_output: int, tid: int, kind: str, value
) -> bool:
    """True unless EVERY stride bloom of the stripe rules the value
    out. Missing/foreign-kind streams → True (superset guarantee)."""
    h64 = _bloom_value_hash(kind, value)
    if h64 is None:
        return True
    offset = _one(st, 1, 0)
    index_len = _one(st, 2, 0)
    data_len = _one(st, 3, 0)
    sf_len = _one(st, 4, 0)
    sf_raw = b[offset + index_len + data_len : offset + index_len + data_len + sf_len]
    sfoot = _msg(_decompress_chunks(sf_raw, compression, max_output))
    pos = offset
    raw = None
    for sraw in sfoot.get(1, []):
        sm = _msg(sraw)
        s_kind = _one(sm, 1, 0)
        s_col = _one(sm, 2, 0)
        s_len = _one(sm, 3, 0)
        if s_col == tid and s_kind in (_BLOOM_FILTER, _BLOOM_FILTER_UTF8):
            raw = b[pos : pos + s_len]
            if s_kind == _BLOOM_FILTER_UTF8:
                break  # prefer the post-ORC-135 stream
        pos += s_len
    if raw is None:
        return True
    bfi = _msg(_decompress_chunks(raw, compression, max_output))
    blooms = [_msg(x) for x in bfi.get(1, [])]
    if not blooms:
        return True
    for bf in blooms:
        kf = _one(bf, 1, 0)
        u8 = _one(bf, 3)
        if u8 is not None:
            bitset = bytes(u8)
        else:
            bitset = b"".join(
                int(x).to_bytes(8, "little") for x in bf.get(2, [])
            )
        if _bloom_maybe(bitset, kf, h64):
            return True
    return False


def orc_bloom_build(values: list, kind: str, fpp_bits_per_value: int = 10) -> bytes:
    """Serialize one BloomFilterIndex (single stride) the way our
    writer stores it: numHashFunctions + utf8bitset."""
    import math

    n = max(1, len(values))
    num_bits = ((n * fpp_bits_per_value + 63) // 64) * 64
    k = max(1, round(0.693 * num_bits / n))
    bitset = bytearray(num_bits // 8)
    for v in values:
        h64 = _bloom_value_hash(kind, v)
        if h64 is None:
            raise NotImplementedError(f"orc-bloom: type {kind}")
        for p in bloom_hash_positions(h64, k, num_bits):
            bitset[p >> 3] |= 1 << (p & 7)
    bf = _pb_varint_field(1, k) + _pb_len_field(3, bytes(bitset))
    return _pb_len_field(1, bf)
