"""Brotli (RFC 7932) from scratch — round 14, VERDICT r13 item #6:
the HTTP ``br`` content-coding CDN-served crawl captures carry.

DECODER: the full meta-block grammar — stream window header, metadata
and uncompressed meta-blocks, the compressed grammar with prefix
codes in both the SIMPLE (1–4 symbols, tree-select bit) and COMPLEX
forms (the 6-symbol fixed code-length code over the spec's reordered
alphabet, 16/17 repeat symbols with the 4·(n−2)+extra accumulation
rule, kraft-space termination at 32768), block-type switching for all
three categories (type ring buffer {1,0}, the 26-symbol block-count
code), context maps (RLEMAX zero-run coding + inverse move-to-front),
the insert&copy command alphabet (704 symbols, the 11-cell
decomposition, implicit-distance cells), the distance short-code ring
buffer (16 composite codes over the last four distances) and the
NPOSTFIX/NDIRECT long-distance formula.

The decoder is COMPLETE (round 14, session 3) — the two boundaries
earlier sessions carried are closed, because the premise "literal
spec data with no in-container source" was FALSE for both:

* **static dictionary references** (distance > max_distance): the
  122,784-byte RFC 7932 dictionary and all 121 transforms were
  EXTRACTED from the container's genuine C brotli
  (``pyarrow.Codec('brotli')``) by one-command probe streams — see
  scripts/extract_brotli_dict.py and operators/brotli_dict.py.
* **UTF8/SIGNED literal-context modes**: the context tables were
  likewise extracted via identity-context-map probe streams, with
  the spec factorizations verified on all 65,536 (p1, p2) pairs per
  mode — scripts/extract_brotli_context.py.

Every real brotli stream at qualities 0–11 over text/UTF-8/binary
corpora decodes byte-exactly (tests/test_brotli_static_dict.py).

ENCODER (fixture-controllable self-contained streams): one compressed
meta-block, single block types, greedy hash-chain LZ77 over the
stream window, literal/command/distance alphabets as canonical
package-merge codes serialized through the complex form (17-runs for
zero gaps) or the simple form for tiny alphabets, implicit-distance
cells for repeat distances. The output is REAL brotli wire: the
third-party library (pyarrow.Codec('brotli'), genuine C brotli) must
decode it byte-exactly — pinned in tests/test_brotli.py, alongside
the reverse lane (real-brotli streams at qualities whose features we
support decode byte-exactly here).

Reference parity note: the reference archiver (SupBlizard/yark)
stores fetched payloads opaquely; content-codings are driver-mandated
crawl-ingest surface (SURVEY.md §2.8).
"""

from __future__ import annotations

from yark_spark.operators.png import _limited_code_lengths

__all__ = ["brotli_compress", "brotli_decompress"]


def _ferment(buf: bytearray, pos: int) -> int:
    """§8 ferment step (verified against real-brotli probe outputs on
    ASCII and multi-byte words — tests/test_brotli_static_dict.py)."""
    c = buf[pos]
    if c < 192:
        if 97 <= c <= 122:
            buf[pos] ^= 32
        return 1
    if c < 224:
        if pos + 1 < len(buf):
            buf[pos + 1] ^= 32
        return 2
    if pos + 2 < len(buf):
        buf[pos + 2] ^= 5
    return 3


def _transform_word(word: bytes, transform: tuple) -> bytes:
    prefix, op, suffix = transform
    if op == "identity":
        core = word
    elif op == "ferment_first":
        b = bytearray(word)
        if b:
            _ferment(b, 0)
        core = bytes(b)
    elif op == "ferment_all":
        b = bytearray(word)
        i = 0
        while i < len(b):
            i += _ferment(b, i)
        core = bytes(b)
    elif op.startswith("omit_first_"):
        core = word[int(op.rsplit("_", 1)[1]) :]
    elif op.startswith("omit_last_"):
        n = int(op.rsplit("_", 1)[1])
        core = word[:-n] if n < len(word) else b""
    else:
        raise ValueError(f"brotli: unknown transform op {op!r}")
    return prefix + core + suffix


# ---------------------------------------------------------------------------
# Bit I/O (LSB-first, per §2)
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.pos >= len(self.data):
                raise ValueError("brotli: truncated stream")
            v |= ((self.data[self.pos] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v

    def align(self) -> None:
        if self.bit:
            # §9.2: ignored bits up to the byte boundary must be zero
            if self.data[self.pos] >> self.bit:
                raise ValueError("brotli: non-zero padding to byte boundary")
            self.bit = 0
            self.pos += 1

    def read_bytes(self, n: int) -> bytes:
        if self.bit:
            raise ValueError("brotli: byte read while unaligned")
        if self.pos + n > len(self.data):
            raise ValueError("brotli: truncated stream")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out


class _Writer:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# Prefix codes
# ---------------------------------------------------------------------------


class _Prefix:
    """Canonical prefix decoder: bits read MSB-of-code first."""

    __slots__ = ("table", "maxlen", "single")

    def __init__(self, lengths: dict[int, int]):
        # lengths: {symbol: code length}; canonical over (len, symbol)
        items = sorted((ln, s) for s, ln in lengths.items() if ln > 0)
        self.table: dict[tuple[int, int], int] = {}
        self.single = items[0][1] if len(items) == 1 else None
        code = 0
        prev_len = 0
        for ln, s in items:
            code <<= ln - prev_len
            prev_len = ln
            self.table[(ln, code)] = s
            code += 1
        self.maxlen = prev_len

    def decode(self, r: _Reader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.maxlen + 1):
            code = (code << 1) | r.read(1)
            s = self.table.get((ln, code))
            if s is not None:
                return s
        raise ValueError("brotli: invalid prefix code word")


# fixed code for the code-length code's own lengths (§3.5): canonical
# over lengths [2,4,3,2,2,4] for symbols 0..5
_CLC_FIXED = _Prefix({0: 2, 1: 4, 2: 3, 3: 2, 4: 2, 5: 4})
_CLC_ORDER = [1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _read_prefix_code(r: _Reader, alphabet: int) -> _Prefix:
    """§3.4/§3.5: simple (HSKIP==1) or complex prefix-code header."""
    hskip = r.read(2)
    if hskip == 1:
        nsym = r.read(2) + 1
        abits = max(1, (alphabet - 1).bit_length())
        syms = []
        for _ in range(nsym):
            s = r.read(abits)
            if s >= alphabet:
                raise ValueError("brotli: simple-code symbol out of range")
            if s in syms:
                raise ValueError("brotli: duplicate simple-code symbol")
            syms.append(s)
        if nsym == 1:
            return _Prefix({syms[0]: 1})  # zero-bit in effect (single)
        if nsym == 2:
            tmpl = [1, 1]
        elif nsym == 3:
            tmpl = [1, 2, 2]
        else:
            tmpl = [1, 2, 3, 3] if r.read(1) else [2, 2, 2, 2]
        return _Prefix({s: ln for s, ln in zip(syms, tmpl)})

    # complex: code-length-code lengths in the reordered alphabet,
    # stopping when their 32-point kraft space fills
    clc_lens: dict[int, int] = {}
    space = 32
    nonzero = 0
    for i in range(hskip, 18):
        ln = _CLC_FIXED.decode(r)
        if ln:
            clc_lens[_CLC_ORDER[i]] = ln
            nonzero += 1
            space -= 32 >> ln
            if space <= 0:
                break
    if nonzero == 1:
        clc = _Prefix({next(iter(clc_lens)): 1})
        clc.single = next(iter(clc_lens))
    else:
        if space != 0:
            raise ValueError("brotli: code-length code space not exact")
        clc = _Prefix(clc_lens)

    lens: dict[int, int] = {}
    space = 32768
    sym = 0
    prev_len = 8  # §3.5: initial "previous non-zero length"
    last_rep_sym = 0
    rep_count = 0
    while space > 0:
        if sym >= alphabet:
            raise ValueError("brotli: code lengths exceed alphabet")
        c = clc.decode(r)
        if c < 16:
            last_rep_sym = 0
            if c:
                lens[sym] = c
                prev_len = c
                space -= 32768 >> c
            sym += 1
        else:
            extra_bits = 2 if c == 16 else 3
            extra = r.read(extra_bits)
            base = 3
            if last_rep_sym == c:
                # §3.5 accumulation: extend the previous repeat
                new_count = (4 if c == 16 else 8) * (rep_count - 2) + base + extra
                delta = new_count - rep_count
            else:
                rep_count = 0
                new_count = base + extra
                delta = new_count
            if c == 16:
                for _ in range(delta):
                    if sym >= alphabet:
                        raise ValueError("brotli: repeat exceeds alphabet")
                    lens[sym] = prev_len
                    space -= 32768 >> prev_len
                    sym += 1
                    if space <= 0:
                        break
            else:
                sym += delta
            rep_count = new_count
            last_rep_sym = c
    if space != 0:
        raise ValueError("brotli: prefix code space not exact")
    return _Prefix(lens)


# ---------------------------------------------------------------------------
# Spec tables (continuity-checked: offset[i] + 2^bits[i] == offset[i+1])
# ---------------------------------------------------------------------------

_BLOCK_LEN_OFFSET = [
    1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81, 97, 113, 145, 177, 209,
    241, 305, 369, 497, 753, 1265, 2289, 4337, 8433, 16625,
]
_BLOCK_LEN_BITS = [
    2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 6, 6, 7, 8, 9, 10,
    11, 12, 13, 24,
]
_INSERT_OFFSET = [
    0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50, 66, 98, 130, 194,
    322, 578, 1090, 2114, 6210, 22594,
]
_INSERT_BITS = [0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9,
                10, 12, 14, 24]
_COPY_OFFSET = [
    2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30, 38, 54, 70, 102,
    134, 198, 326, 582, 1094, 2118,
]
_COPY_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7,
              8, 9, 10, 24]
# cells 2..10 of the 704-symbol command alphabet (cells 0,1 are the
# implicit-distance copies of (0,0) and (0,8))
_CELL_INSERT = [0, 0, 8, 8, 0, 16, 8, 16, 16]
_CELL_COPY = [0, 8, 0, 8, 16, 0, 16, 8, 16]
# distance short codes: ring index (0 = most recent) and value offset
_DIST_SHORT = [
    (0, 0), (1, 0), (2, 0), (3, 0),
    (0, -1), (0, 1), (0, -2), (0, 2), (0, -3), (0, 3),
    (1, -1), (1, 1), (1, -2), (1, 2), (1, -3), (1, 3),
]


def _varlen_u8(r: _Reader) -> int:
    """§9.2 variable-length 1..256 (NBLTYPES / NTREES)."""
    if not r.read(1):
        return 1
    n = r.read(3)
    if n == 0:
        return 2
    return r.read(n) + (1 << n) + 1


def _read_context_map(r: _Reader, n_trees: int, size: int) -> list[int]:
    """§7.3: zero-run RLE + prefix code + optional inverse MTF."""
    if n_trees == 1:
        return [0] * size
    rlemax = r.read(4) + 1 if r.read(1) else 0
    code = _read_prefix_code(r, rlemax + n_trees)
    cmap: list[int] = []
    while len(cmap) < size:
        s = code.decode(r)
        if s == 0:
            cmap.append(0)
        elif s <= rlemax:
            run = (1 << s) + r.read(s)
            if len(cmap) + run > size:
                raise ValueError("brotli: context-map zero run overflow")
            cmap.extend([0] * run)
        else:
            cmap.append(s - rlemax)
    if r.read(1):  # inverse move-to-front
        mtf = list(range(256))
        for i, v in enumerate(cmap):
            cmap[i] = mtf[v]
            mtf.insert(0, mtf.pop(v))
    if any(v >= n_trees for v in cmap):
        raise ValueError("brotli: context map names a missing tree")
    return cmap


class _BlockState:
    """Per-category block switching: type code, count code, ring."""

    __slots__ = ("n_types", "type_code", "len_code", "btype", "remaining", "ring")

    def __init__(self, r: _Reader):
        self.n_types = _varlen_u8(r)
        self.btype = 0
        self.ring = [1, 0]  # [second-to-last, last]
        if self.n_types > 1:
            self.type_code = _read_prefix_code(r, self.n_types + 2)
            self.len_code = _read_prefix_code(r, 26)
            self.remaining = self._read_count(r)
        else:
            self.type_code = None
            self.len_code = None
            self.remaining = 1 << 62

    def _read_count(self, r: _Reader) -> int:
        s = self.len_code.decode(r)
        return _BLOCK_LEN_OFFSET[s] + r.read(_BLOCK_LEN_BITS[s])

    def switch(self, r: _Reader) -> None:
        s = self.type_code.decode(r)
        if s == 0:
            t = self.ring[0]
        elif s == 1:
            t = (self.ring[1] + 1) % self.n_types
        else:
            t = s - 2
        self.ring = [self.ring[1], t]
        self.btype = t
        self.remaining = self._read_count(r)

    def tick(self, r: _Reader) -> None:
        if self.remaining == 0:
            self.switch(r)
        self.remaining -= 1


# context modes (§7.1)
_LSB6, _MSB6, _UTF8, _SIGNED = 0, 1, 2, 3


def brotli_decompress(data: bytes, max_output: int = 1 << 28) -> bytes:
    # function-local: scripts/extract_brotli_*.py import this module to
    # generate brotli_dict
    from yark_spark.operators.brotli_dict import (
        CTX_SIGNED_LUT,
        CTX_UTF8_LUT0,
        CTX_UTF8_LUT1,
        DICT,
        NDBITS,
        OFFSETS,
        TRANSFORMS,
    )

    r = _Reader(bytes(data))
    # window size (§9.1)
    if r.read(1) == 0:
        wbits = 16
    else:
        n = r.read(3)
        if n != 0:
            wbits = 17 + n
        else:
            n = r.read(3)
            if n == 0:
                wbits = 17
            elif n == 1:
                raise ValueError("brotli: reserved WBITS pattern")
            else:
                wbits = 8 + n
    window = (1 << wbits) - 16
    out = bytearray()

    islast = False
    while not islast:
        islast = bool(r.read(1))
        if islast and r.read(1):  # ISLASTEMPTY
            break
        mnib = r.read(2)
        if mnib == 3:  # metadata meta-block
            if islast:
                raise ValueError("brotli: metadata meta-block cannot be last")
            if r.read(1):
                raise ValueError("brotli: metadata reserved bit set")
            skip_bytes = r.read(2)
            skip = 0
            for i in range(skip_bytes):
                b = r.read(8)
                if i == skip_bytes - 1 and skip_bytes > 1 and b == 0:
                    raise ValueError("brotli: metadata length not minimal")
                skip |= b << (8 * i)
            r.align()
            r.read_bytes(skip)
            continue
        nibbles = 4 + mnib
        mlen = 0
        for i in range(nibbles):
            v = r.read(4)
            if i == nibbles - 1 and nibbles > 4 and v == 0:
                raise ValueError("brotli: MLEN not minimal")
            mlen |= v << (4 * i)
        mlen += 1
        if len(out) + mlen > max_output:
            raise ValueError("brotli: output exceeds bound")
        if not islast and r.read(1):  # ISUNCOMPRESSED
            r.align()
            out += r.read_bytes(mlen)
            continue

        lit = _BlockState(r)
        cmd = _BlockState(r)
        dst = _BlockState(r)
        npostfix = r.read(2)
        ndirect = r.read(4) << npostfix
        ctx_modes = [r.read(2) for _ in range(lit.n_types)]
        ntrees_l = _varlen_u8(r)
        cmap_l = _read_context_map(r, ntrees_l, 64 * lit.n_types)
        ntrees_d = _varlen_u8(r)
        cmap_d = _read_context_map(r, ntrees_d, 4 * dst.n_types)
        lit_codes = [_read_prefix_code(r, 256) for _ in range(ntrees_l)]
        cmd_codes = [_read_prefix_code(r, 704) for _ in range(cmd.n_types)]
        dist_alpha = 16 + ndirect + (48 << npostfix)
        dist_codes = [_read_prefix_code(r, dist_alpha) for _ in range(ntrees_d)]

        # initial ring {16,15,11,4} under the write-pointer semantics
        # = most-recent-first [4, 11, 15, 16] (pinned against real
        # brotli short-code probes in tests/test_brotli.py)
        dist_ring = [4, 11, 15, 16]
        produced = 0
        while produced < mlen:
            cmd.tick(r)
            sym = cmd_codes[cmd.btype].decode(r)
            if sym < 128:
                implicit = True
                ins_hi, cp_hi = 0, 8 * (sym >> 6)
            else:
                implicit = False
                cell = (sym - 128) >> 6
                ins_hi, cp_hi = _CELL_INSERT[cell], _CELL_COPY[cell]
            low = sym & 63
            ins_code = ins_hi + (low >> 3)
            cp_code = cp_hi + (low & 7)
            ins_len = _INSERT_OFFSET[ins_code] + r.read(_INSERT_BITS[ins_code])
            cp_len = _COPY_OFFSET[cp_code] + r.read(_COPY_BITS[cp_code])

            for _ in range(ins_len):
                lit.tick(r)
                if ntrees_l == 1:
                    tree = 0
                else:
                    mode = ctx_modes[lit.btype]
                    p1 = out[-1] if out else 0
                    p2 = out[-2] if len(out) > 1 else 0
                    if mode == _LSB6:
                        ctx = p1 & 0x3F
                    elif mode == _MSB6:
                        ctx = p1 >> 2
                    elif mode == _UTF8:
                        ctx = CTX_UTF8_LUT0[p1] | CTX_UTF8_LUT1[p2]
                    else:  # _SIGNED
                        ctx = (CTX_SIGNED_LUT[p1] << 3) | CTX_SIGNED_LUT[p2]
                    tree = cmap_l[lit.btype * 64 + ctx]
                out.append(lit_codes[tree].decode(r))
                produced += 1
                if produced == mlen:
                    break
            if produced >= mlen:
                break

            max_dist = min(len(out), window)
            if implicit:
                distance = dist_ring[0]
            else:
                dst.tick(r)
                dctx = min(cp_len, 5) - 2
                dtree = cmap_d[dst.btype * 4 + dctx]
                dsym = dist_codes[dtree].decode(r)
                if dsym < 16:
                    ring_i, off = _DIST_SHORT[dsym]
                    distance = dist_ring[ring_i] + off
                    if distance <= 0:
                        raise ValueError("brotli: short distance underflow")
                elif dsym < 16 + ndirect:
                    distance = dsym - 16 + 1
                else:
                    dcode = dsym - ndirect - 16
                    nbits = 1 + (dcode >> (npostfix + 1))
                    extra = r.read(nbits)
                    postfix = dcode & ((1 << npostfix) - 1)
                    offset = ((2 + ((dcode >> npostfix) & 1)) << nbits) - 4
                    distance = (
                        ((offset + extra) << npostfix) + postfix + ndirect + 1
                    )
                if dsym != 0 and distance <= max_dist:
                    dist_ring.insert(0, distance)
                    dist_ring.pop()
            if distance > max_dist:
                # static-dictionary reference (§8): the word bytes and
                # all 121 transforms were EXTRACTED from the
                # container's real C brotli by scripts/
                # extract_brotli_dict.py — see operators/brotli_dict
                if not 4 <= cp_len <= 24:
                    raise ValueError(
                        f"brotli: no dictionary words of length {cp_len}"
                    )
                address = distance - max_dist - 1
                nd = NDBITS[cp_len]
                transform_id = address >> nd
                if transform_id >= len(TRANSFORMS):
                    raise ValueError("brotli: dictionary address out of range")
                base = OFFSETS[cp_len] + cp_len * (address & ((1 << nd) - 1))
                word = DICT[base : base + cp_len]
                piece = _transform_word(word, TRANSFORMS[transform_id])
                if produced + len(piece) > mlen:
                    raise ValueError(
                        "brotli: dictionary word overruns meta-block length"
                    )
                out += piece
                produced += len(piece)
                continue
            for _ in range(cp_len):
                out.append(out[-distance])
                produced += 1
                if produced == mlen:
                    break
            if produced > mlen:
                raise ValueError("brotli: copy overruns meta-block length")
    return bytes(out)


# ---------------------------------------------------------------------------
# Encoder — self-contained streams (no dictionary, single block types)
# ---------------------------------------------------------------------------


def _huff_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Package-merge lengths (≤15) over a sparse symbol histogram."""
    if not freqs:
        return {}
    top = max(freqs) + 1
    dense = [0] * top
    for s, f in freqs.items():
        dense[s] = f
    lens = _limited_code_lengths(dense, 15)
    return {s: lens[s] for s in freqs}


def _canon_map(lens: dict[int, int]) -> dict[int, tuple[int, int]]:
    """{symbol: (code, length)} canonical over (length, symbol)."""
    items = sorted((ln, s) for s, ln in lens.items() if ln > 0)
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev = 0
    for ln, s in items:
        code <<= ln - prev
        prev = ln
        out[s] = (code, ln)
        code += 1
    return out


_CLC_WRITE = {0: (0b00, 2), 1: (0b1110, 4), 2: (0b110, 3), 3: (0b01, 2),
              4: (0b10, 2), 5: (0b1111, 4)}


def _put_code(w: _Writer, code: int, ln: int) -> None:
    for i in range(ln - 1, -1, -1):  # prefix codes write MSB first
        w.write((code >> i) & 1, 1)


def _write_prefix_code(
    w: _Writer, lens: dict[int, int], alphabet: int
) -> dict[int, tuple[int, int]]:
    """Serialize a prefix code and return the EFFECTIVE {sym: (code,
    length)} emission map — simple form for ≤4 symbols (whose template
    lengths replace the huffman ones), complex form otherwise (plain
    lengths + 17-runs)."""
    syms = sorted(s for s, ln in lens.items() if ln > 0)
    if len(syms) <= 4:
        w.write(1, 2)  # HSKIP == 1 → simple
        w.write(len(syms) - 1, 2)
        abits = max(1, (alphabet - 1).bit_length())
        for s in syms:
            w.write(s, abits)
        if len(syms) == 4:
            w.write(0, 1)  # flat (2,2,2,2)
        tmpl = {1: [1], 2: [1, 1], 3: [1, 2, 2], 4: [2, 2, 2, 2]}[len(syms)]
        if len(syms) == 1:
            return {syms[0]: (0, 0)}  # zero-bit code
        return _canon_map({s: ln for s, ln in zip(syms, tmpl)})
    w.write(0, 2)  # HSKIP == 0 → complex
    # code-length-code histogram over {lens} ∪ {17 if zero gaps}
    used_clc: dict[int, int] = {}
    run_plan: list[tuple[int, int]] = []  # (clc symbol, payload)
    i = 0
    last_sym = syms[-1]
    while i <= last_sym:
        ln = lens.get(i, 0)
        if ln:
            run_plan.append((ln, 0))
            used_clc[ln] = used_clc.get(ln, 0) + 1
            i += 1
            continue
        gap = 0
        while i + gap <= last_sym and lens.get(i + gap, 0) == 0:
            gap += 1
        i += gap
        # successive 17s ACCUMULATE (4·(n−2)-style) rather than add, so
        # long gaps interleave a plain 0 between capped 17-runs
        while gap > 10:
            run_plan.append((17, 10 - 3))
            used_clc[17] = used_clc.get(17, 0) + 1
            gap -= 10
            if gap:
                run_plan.append((0, 0))
                used_clc[0] = used_clc.get(0, 0) + 1
                gap -= 1
        if gap >= 3:
            run_plan.append((17, gap - 3))
            used_clc[17] = used_clc.get(17, 0) + 1
        else:
            for _ in range(gap):
                run_plan.append((0, 0))
                used_clc[0] = used_clc.get(0, 0) + 1
    # clc code: ≤5-bit lengths (the fixed code tops out there)
    dense = [0] * 18
    for s, f in used_clc.items():
        dense[s] = f
    lens5 = _limited_code_lengths(dense, 5)
    clc_lens = {s: lens5[s] for s in used_clc}
    if len(clc_lens) == 1:
        # degenerate: pad with symbol 0 so the 32-space closes
        only = next(iter(clc_lens))
        other = 0 if only != 0 else 1
        clc_lens = {only: 1, other: 1}
    # emit clc lengths in the spec order until kraft space closes
    space = 32
    for s in _CLC_ORDER:
        ln = clc_lens.get(s, 0)
        code, width = _CLC_WRITE[ln] if ln <= 5 else (None, None)
        if ln > 5:
            raise ValueError("brotli-enc: clc length exceeds fixed code")
        _put_code(w, code, width)
        if ln:
            space -= 32 >> ln
            if space <= 0:
                break
    if space != 0:
        raise ValueError("brotli-enc: clc space not exact")
    clc_map = _canon_map(clc_lens)
    for sym, payload in run_plan:
        code, ln = clc_map[sym]
        _put_code(w, code, ln)
        if sym == 17:
            w.write(payload, 3)
    return _canon_map(lens)


def _lz77(data: bytes, window: int) -> list[tuple[int, bytes, int, int]]:
    """Greedy hash-chain matcher → [(insert_len, literals, copy_len,
    distance)]; the final command may carry copy_len 0."""
    n = len(data)
    table: dict[bytes, list[int]] = {}
    cmds: list[tuple[int, bytes, int, int]] = []
    lit_start = 0
    i = 0
    while i < n:
        best_len = 0
        best_dist = 0
        if i + 4 <= n:
            key = data[i : i + 4]
            for j in reversed(table.get(key, ())):
                dist = i - j
                if dist > window:
                    break
                ln = 4
                while i + ln < n and ln < 16777216 and data[j + ln] == data[i + ln]:
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, dist
                    if ln >= 64:
                        break
        if best_len >= 4:
            cmds.append((i - lit_start, data[lit_start:i], best_len, best_dist))
            for k in range(i, min(i + best_len, n - 3)):
                table.setdefault(data[k : k + 4], []).append(k)
                chain = table[data[k : k + 4]]
                if len(chain) > 16:
                    del chain[0]
            i += best_len
            lit_start = i
        else:
            if i + 4 <= n:
                table.setdefault(key, []).append(i)
                if len(table[key]) > 16:
                    del table[key][0]
            i += 1
    if lit_start < n or not cmds:
        cmds.append((n - lit_start, data[lit_start:], 0, 0))
    return cmds


def _insert_code(ln: int) -> tuple[int, int]:
    for c in range(23, -1, -1):
        if ln >= _INSERT_OFFSET[c]:
            return c, ln - _INSERT_OFFSET[c]
    raise ValueError("brotli-enc: bad insert length")


def _copy_code(ln: int) -> tuple[int, int]:
    for c in range(23, -1, -1):
        if ln >= _COPY_OFFSET[c]:
            return c, ln - _COPY_OFFSET[c]
    raise ValueError("brotli-enc: bad copy length")


def _cmd_symbol(ins_code: int, cp_code: int, implicit: bool) -> int:
    low = ((ins_code & 7) << 3) | (cp_code & 7)
    ins_hi, cp_hi = ins_code >> 3, cp_code >> 3
    if implicit:
        if ins_hi or cp_hi > 1:
            raise ValueError("brotli-enc: implicit cell out of range")
        return (cp_hi << 6) | low
    for c in range(9):
        if _CELL_INSERT[c] == ins_hi * 8 and _CELL_COPY[c] == cp_hi * 8:
            return 128 + (c << 6) + low
    raise ValueError("brotli-enc: no cell for command")


def _dist_symbol(distance: int) -> tuple[int, int, int]:
    """(symbol, extra value, extra bits) with NPOSTFIX=0, NDIRECT=0."""
    d = distance - 1
    for nbits in range(1, 25):
        for hbit in (0, 1):
            base = ((2 + hbit) << nbits) - 4
            if base <= d < base + (1 << nbits):
                dcode = ((nbits - 1) << 1) | hbit
                return 16 + dcode, d - base, nbits
    raise ValueError("brotli-enc: distance out of range")


def brotli_compress(data: bytes, wbits: int = 22) -> bytes:
    """Compressed meta-blocks (≤4 MiB each — MLEN is capped at 2²⁴−1
    by its 6-nibble field, and chunking keeps memory flat), single
    block types, no dictionary — self-contained RFC 7932 wire real
    brotli decodes byte-exactly."""
    data = bytes(data)
    if not 10 <= wbits <= 24 or wbits == 9:
        raise ValueError("brotli-enc: wbits out of range")
    w = _Writer()
    # window header
    if wbits == 16:
        w.write(0, 1)
    elif wbits == 17:
        w.write(1, 1)
        w.write(0, 3)
        w.write(0, 3)
    elif wbits > 17:
        w.write(1, 1)
        w.write(wbits - 17, 3)
    else:
        w.write(1, 1)
        w.write(0, 3)
        w.write(wbits - 8, 3)
    if not data:
        w.write(1, 1)  # ISLAST
        w.write(1, 1)  # ISLASTEMPTY
        return w.done()
    window = (1 << wbits) - 16
    chunk = 1 << 22
    for at in range(0, len(data), chunk):
        _compress_metablock(
            w, data[at : at + chunk], window, at + chunk >= len(data)
        )
    return w.done()


def _compress_metablock(
    w: _Writer, data: bytes, window: int, is_last: bool
) -> None:
    cmds = _lz77(data, window)
    # token stream with implicit-distance substitution (repeat = ring[0])
    tokens = []
    last_dist = 4  # initial most-recent ring slot
    for ins_len, lits, cp_len, dist in cmds:
        ic, i_extra = _insert_code(ins_len)
        if cp_len == 0:
            # dangling final copy: its code rides in the symbol and its
            # extra bits on the wire, but MLEN exhausts after the
            # insert, so the decoder never reads a distance
            cc, c_extra = 0, 0
            implicit = ic < 8  # explicit cells cover ins codes 8..23
            tokens.append((ic, i_extra, cc, c_extra, implicit, lits, None, 0))
            continue
        cc, c_extra = _copy_code(cp_len)
        if dist == last_dist and ic < 8 and cc < 16:
            implicit = True
        else:
            implicit = False
            last_dist = dist
        tokens.append((ic, i_extra, cc, c_extra, implicit, lits,
                       None if implicit else dist, cp_len))
    # histograms
    lit_freq: dict[int, int] = {}
    cmd_freq: dict[int, int] = {}
    dist_freq: dict[int, int] = {}
    sym_cache = []
    for ic, _ie, cc, _ce, implicit, lits, dist, _cl in tokens:
        if implicit and (ic >= 8 or cc >= 16):
            raise ValueError("brotli-enc: implicit token out of cell range")
        sym = _cmd_symbol(ic, cc, implicit)
        sym_cache.append(sym)
        cmd_freq[sym] = cmd_freq.get(sym, 0) + 1
        for b in lits:
            lit_freq[b] = lit_freq.get(b, 0) + 1
        if dist is not None:
            ds, _e, _nb = _dist_symbol(dist)
            dist_freq[ds] = dist_freq.get(ds, 0) + 1
    lit_lens = _huff_lengths(lit_freq) or {0: 1}
    cmd_lens = _huff_lengths(cmd_freq) or {0: 1}
    dist_lens = _huff_lengths(dist_freq) or {0: 1}

    # meta-block header
    w.write(1 if is_last else 0, 1)  # ISLAST
    if is_last:
        w.write(0, 1)  # not ISLASTEMPTY
    mlen = len(data) - 1
    nibbles = 4 if mlen < (1 << 16) else (5 if mlen < (1 << 20) else 6)
    w.write(nibbles - 4, 2)
    for i in range(nibbles):
        w.write((mlen >> (4 * i)) & 0xF, 4)
    if not is_last:
        w.write(0, 1)  # not ISUNCOMPRESSED
    w.write(0, 1)  # NBLTYPESL = 1
    w.write(0, 1)  # NBLTYPESI = 1
    w.write(0, 1)  # NBLTYPESD = 1
    w.write(0, 2)  # NPOSTFIX = 0
    w.write(0, 4)  # NDIRECT = 0
    w.write(_LSB6, 2)  # context mode (irrelevant: one tree)
    w.write(0, 1)  # NTREES_L = 1
    w.write(0, 1)  # NTREES_D = 1
    lit_map = _write_prefix_code(w, lit_lens, 256)
    cmd_map = _write_prefix_code(w, cmd_lens, 704)
    dist_map = _write_prefix_code(w, dist_lens, 64)  # 16 + 0 + 48<<0
    # single-symbol codes carry (0, 0) — zero bits on the wire
    for (ic, ie, cc, ce, implicit, lits, dist, _cl), sym in zip(
        tokens, sym_cache
    ):
        code, ln = cmd_map[sym]
        _put_code(w, code, ln)
        w.write(ie, _INSERT_BITS[ic])
        w.write(ce, _COPY_BITS[cc])
        for b in lits:
            code, ln = lit_map[b]
            _put_code(w, code, ln)
        if dist is not None:
            ds, extra, nbits = _dist_symbol(dist)
            code, ln = dist_map[ds]
            _put_code(w, code, ln)
            w.write(extra, nbits)
