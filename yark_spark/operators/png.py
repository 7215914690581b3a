"""Numpy/Python PNG codec (round 11, VERDICT r10 next-round
#1) — the last common thumbnail format whose pixels the engine could not
decode (the reference stores whatever bytes YouTube serves into its
thumbnail BLOB column — /root/reference/cmds/archive.py:88-91 — and PNG
sits beside the JPEG/WebP payloads operators/jpeg and operators/webp
already cover).

* **Decode side is native.** DEFLATE inflate, CRC-32 and Adler-32 run
  in stdlib ``zlib``; :func:`inflate` and :func:`zlib_decompress` keep
  their signatures, the ``max_output`` bomb guard and the typed
  ``ValueError`` messages, mapping zlib's errors onto them. The zlib
  container checks (CMF/FLG check bits, FDICT preset dictionaries with
  DICTID verification — the mode PNG forbids but bare zlib users rely
  on) stay here.
* **PNG** (ISO/IEC 15948): chunk walk with CRC verification, IHDR /
  PLTE / tRNS / IDAT (multi-IDAT concatenation) / IEND; the five filter
  types (None/Sub/Up/Average/Paeth) with the spec's exact Paeth
  predictor; color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
  6 (RGBA); bit depths 1/2/4/8/16 where the spec allows them; BOTH
  interlace methods — progressive Adam7 streams unfilter each of the
  seven pass sub-images independently and scatter onto the pass grid.
* **Encoder** (pure Python — fixture bytes are pinned to it): per-row
  filter selection (any fixed type, or the deterministic all-five
  rotation), DEFLATE via stored blocks, fixed-Huffman literal coding,
  or REAL compression — hash-chain LZ77 over the 32 KB window +
  length-limited dynamic Huffman codes built with package-merge (15-bit
  lit/dist, 7-bit code-length code, the RLE 16/17/18 header) — within a
  few percent of stdlib zlib -6 on text; optional IDAT splitting,
  palette, 16-bit, and Adam7 output. Bit-exact roundtrips make the
  constructed-exact analytic oracle of ``q_image_decode_png`` possible,
  the same recipe as JPEG's q100 DC-only and WebP's VP8L oracles. The
  length/distance base/extra-bit tables the encoder uses are GENERATED
  from the spec's doubling rule rather than transcribed.

The encoder is pinned against stdlib zlib in tests/test_png.py
(zlib.decompress on its streams).

Scale posture: decode is a per-payload CPU kernel invoked from map-only
``mapInPandas`` (operators/multimodal) — bytes never shuffle, and the
batch shape is the Arrow batch, so the operator parallelizes by
partition exactly like the JPEG/WebP paths.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# DEFLATE (RFC 1951) — inflate (native zlib) and the encoders' tables
# ---------------------------------------------------------------------------


def _gen_length_table() -> list[tuple[int, int]]:
    """(base, extra_bits) for length symbols 257..285, generated from
    the doubling rule: 8 zero-extra codes from 3, then groups of four
    sharing each extra-bit width; 285 is the special (258, 0)."""
    out = []
    base = 3
    for code in range(257, 285):
        eb = 0 if code < 265 else (code - 265) // 4 + 1
        out.append((base, eb))
        base += 1 << eb
    out.append((258, 0))  # symbol 285
    return out


def _gen_dist_table() -> list[tuple[int, int]]:
    """(base, extra_bits) for distance symbols 0..29: pairs of codes
    share each extra-bit width, starting at distance 1."""
    out = []
    base = 1
    for code in range(30):
        eb = max(0, code // 2 - 1)
        out.append((base, eb))
        base += 1 << eb
    return out


_LEN_TABLE = _gen_length_table()
_DIST_TABLE = _gen_dist_table()

#: RFC 1951 §3.2.7 — order in which code-length-code lengths are stored
_CLC_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15]


def _fixed_lit_lengths() -> list[int]:
    return [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8


#: input fed to zlib per call: a multi-member gzip shard hands inflate
#: the rest of the payload, and zlib copies whatever input follows the
#: stream end into ``unused_data`` — feeding bounded chunks keeps that
#: copy bounded instead of quadratic over the members
_FEED = 1 << 16


def inflate(
    data: bytes,
    max_output: int | None = None,
    window: bytes = b"",
    with_consumed: bool = False,
) -> bytes:
    """RFC 1951 DEFLATE decompression through stdlib zlib (raw stream,
    ``wbits=-15``). ``max_output`` guards against decompression bombs
    when decoding untrusted payloads (raises once exceeded; zlib never
    produces more than ``max_output + 1`` bytes). ``window`` pre-seeds
    the LZ77 history — the FDICT preset dictionary: back-references may
    reach into it, but it is not part of the returned output.
    ``with_consumed`` returns ``(bytes, n_input_bytes)`` instead — the
    byte-aligned length of the deflate stream, which multi-member
    containers (concatenated gzip, the .warc.gz convention) need to find
    the next member. zlib errors surface as typed ``ValueError``."""
    d = zlib.decompressobj(-15, zdict=window)
    view = memoryview(data)
    parts = []
    produced = 0
    pos = 0
    try:
        while not d.eof and pos < len(view):
            chunk = view[pos : pos + _FEED]
            pos += len(chunk)
            # max_length 0 = unbounded; a bounded call always asks for >= 1
            limit = 0 if max_output is None else max_output + 1 - produced
            part = d.decompress(chunk, limit)
            parts.append(part)
            produced += len(part)
            if max_output is not None and produced > max_output:
                raise ValueError("deflate: output exceeds max_output")
    except zlib.error as e:
        if "invalid stored block lengths" in str(e):
            raise ValueError("deflate: stored LEN/NLEN mismatch") from None
        raise ValueError(f"deflate: {e}") from None
    if not d.eof:
        raise ValueError("deflate: truncated stream")
    body = b"".join(parts)
    if with_consumed:
        return body, pos - len(d.unused_data)
    return body


def zlib_decompress(
    data: bytes, max_output: int | None = None, dictionary: bytes | None = None
) -> bytes:
    """RFC 1950 container: validate CMF/FLG, inflate, and verify the
    trailing Adler-32. FDICT streams verify the embedded DICTID against
    ``dictionary``'s Adler-32 and seed the LZ77 window with it — the
    preset-dictionary mode PNG forbids but bare zlib users (e.g.
    per-record compression with a shared sample dictionary) rely on;
    pinned against stdlib ``compressobj(zdict=...)`` streams in
    tests/test_png.py. A missing ``dictionary`` for an FDICT stream
    raises a typed error."""
    if len(data) < 6:
        raise ValueError("zlib: stream too short")
    cmf, flg = data[0], data[1]
    if cmf & 0x0F != 8:
        raise ValueError("zlib: compression method is not deflate")
    if ((cmf << 8) | flg) % 31 != 0:
        raise ValueError("zlib: header check bits invalid")
    body = data[2:-4]
    window = b""
    if flg & 0x20:
        if len(data) < 10:
            raise ValueError("zlib: FDICT stream too short")
        (dictid,) = struct.unpack_from(">I", data, 2)
        if dictionary is None:
            raise ValueError(
                f"zlib: stream needs a preset dictionary (DICTID {dictid:#010x})"
            )
        if zlib.adler32(dictionary) != dictid:
            raise ValueError("zlib: DICTID does not match the given dictionary")
        window = bytes(dictionary)[-32768:]  # only the last window matters
        body = data[6:-4]
    raw = inflate(body, max_output=max_output, window=window)
    (want,) = struct.unpack(">I", data[-4:])
    if zlib.adler32(raw) != want:
        raise ValueError("zlib: Adler-32 mismatch")
    return raw


# ---------------------------------------------------------------------------
# DEFLATE — encoder side (stored + fixed-Huffman literal coding)
# ---------------------------------------------------------------------------


class _BitsW:
    """LSB-first bit writer; ``code`` emits Huffman codes MSB-first."""

    def __init__(self) -> None:
        self.acc = 0
        self.n = 0
        self.out = bytearray()

    def write(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _deflate_stored(raw: bytes) -> bytes:
    out = bytearray()
    n = len(raw)
    i = 0
    while True:
        chunk = raw[i : i + 0xFFFF]
        final = 1 if i + len(chunk) >= n else 0
        out.append(final)  # BFINAL + BTYPE 00, byte-aligned by construction
        out += struct.pack("<HH", len(chunk), ~len(chunk) & 0xFFFF)
        out += chunk
        i += len(chunk)
        if final:
            return bytes(out)


def _deflate_fixed_literals(raw: bytes) -> bytes:
    """One fixed-Huffman block, literals only (no LZ77 matches) + EOB —
    the minimal real-entropy-coded stream, enough to make an inflater's
    fixed path load-bearing in roundtrips."""
    lengths = _fixed_lit_lengths()
    # canonical codes via the RFC 1951 next_code construction
    maxlen = max(lengths)
    bl_count = [0] * (maxlen + 1)
    for l in lengths:
        bl_count[l] += 1
    code = 0
    next_code = [0] * (maxlen + 1)
    for l in range(1, maxlen + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    codes = []
    for l in lengths:
        codes.append((next_code[l], l))
        next_code[l] += 1
    bw = _BitsW()
    bw.write(1, 1)  # BFINAL
    bw.write(1, 2)  # fixed
    for b in raw:
        c, l = codes[b]
        bw.code(c, l)
    c, l = codes[256]
    bw.code(c, l)
    return bw.flush()


def _lz77_tokens(raw: bytes, max_chain: int = 128, start: int = 0):
    """Greedy LZ77 over the 32 KB window via 3-byte hash chains: a list
    of int literals and ``(length, distance)`` matches (3 <= length <=
    258, 1 <= distance <= 32768). ``max_chain`` bounds the candidates
    probed per position — the standard compression/speed dial.
    ``start > 0`` treats ``raw[:start]`` as a pre-seeded WINDOW (a zstd
    dictionary's content): its positions enter the hash chains but emit
    no tokens, so matches from ``start`` on may reach back into it.

    Output is BYTE-IDENTICAL to the straightforward per-byte loop (the
    reference copy lives in tests/test_png.py and is compared across
    payload classes); only the per-position work is vectorized — this
    matcher is the per-task bill under every DEFLATE (PNG idat, gzip
    fixtures) and zstd entropy-block encode:

    - the 3-byte chain keys are precomputed per 256K-position SEGMENT
      with one numpy pass + ``tolist`` (a plain-int list lookup beats
      three byte indexes + two shifts per position, and the covered
      positions of a long match reuse the same materialized segment);
    - match extension compares 32-byte windows (one C memcmp each)
      before the per-byte tail, so a 258-byte match costs 8 compares.
    """
    n = len(raw)
    tokens: list = []
    head: dict[int, list[int]] = {}
    last = n - 3  # final position with a full 3-byte key
    seg_base = 0
    seg_end = 0
    keys: list = []
    if last >= 0:
        import numpy as np

        a = np.frombuffer(raw, dtype=np.uint8)
        u32 = np.uint32

        def _seg(pos: int) -> None:
            nonlocal seg_base, seg_end, keys
            seg_base = pos
            seg_end = min(pos + (1 << 18), last + 1)
            keys = (
                a[seg_base:seg_end].astype(u32)
                | (a[seg_base + 1 : seg_end + 1].astype(u32) << u32(8))
                | (a[seg_base + 2 : seg_end + 2].astype(u32) << u32(16))
            ).tolist()

        _seg(0)
    for k in range(max(0, min(start, n - 2))):
        if k >= seg_end:
            _seg(k)
        kk = keys[k - seg_base]
        h = head.get(kk)
        if h is None:
            head[kk] = [k]
        else:
            h.append(k)
    i = start
    while i < n:
        best_len = 0
        best_dist = 0
        if i <= last:
            if i >= seg_end or i < seg_base:
                _seg(i)
            key = keys[i - seg_base]
            chain = head.get(key)
            if chain:
                limit = min(258, n - i)
                for j in reversed(chain[-max_chain:]):
                    if i - j > 32768:
                        break
                    if best_len:
                        # a candidate can only beat the current best if
                        # it matches through position best_len — one
                        # 2-byte memcmp rejects it (exact filter: chain
                        # keys are the literal 3 bytes, not a hash)
                        if (
                            raw[j + best_len - 1 : j + best_len + 1]
                            != raw[i + best_len - 1 : i + best_len + 1]
                        ):
                            continue
                    # extend (the 3-byte prefix is equal by key):
                    # 32-byte memcmp strides, per-byte tail
                    length = 3
                    while (
                        length + 32 <= limit
                        and raw[j + length : j + length + 32]
                        == raw[i + length : i + length + 32]
                    ):
                        length += 32
                    while length < limit and raw[j + length] == raw[i + length]:
                        length += 1
                    if length > best_len:
                        best_len = length
                        best_dist = i - j
                        if length == limit:
                            break
        if best_len >= 3:
            tokens.append((best_len, best_dist))
            # index every covered position so later matches can start here
            end = min(i + best_len, n - 2)
            k = i
            while k < end:
                if k >= seg_end:
                    _seg(k)
                kk = keys[k - seg_base]
                h = head.get(kk)
                if h is None:
                    head[kk] = [k]
                else:
                    h.append(k)
                k += 1
            i += best_len
        else:
            if i <= last:
                h = head.get(key)
                if h is None:
                    head[key] = [i]
                else:
                    h.append(i)
            tokens.append(raw[i])
            i += 1
    return tokens


def _sym_for(base_table: list[tuple[int, int]], value: int, first_sym: int):
    """(symbol, extra_bits, extra_value) for a length/distance via the
    generated base tables (largest base <= value)."""
    lo, hi = 0, len(base_table) - 1
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if base_table[mid][0] <= value:
            lo = mid
        else:
            hi = mid - 1
    base, eb = base_table[lo]
    return first_sym + lo, eb, value - base


def _limited_code_lengths(freqs: list[int], maxlen: int) -> list[int]:
    """Package-merge: optimal length-limited prefix-code lengths for the
    nonzero entries of ``freqs`` (RFC 1951 caps literal/distance codes at
    15 bits, the code-length code at 7)."""
    syms = [s for s, f in enumerate(freqs) if f > 0]
    out = [0] * len(freqs)
    if not syms:
        return out
    if len(syms) == 1:
        out[syms[0]] = 1
        return out
    if len(syms) > (1 << maxlen):
        raise ValueError("deflate: alphabet too large for length limit")
    orig = sorted((freqs[s], (s,)) for s in syms)
    prev = list(orig)
    for _ in range(maxlen - 1):
        packages = [
            (prev[i][0] + prev[i + 1][0], prev[i][1] + prev[i + 1][1])
            for i in range(0, len(prev) - 1, 2)
        ]
        prev = sorted(orig + packages)
    for _, ss in prev[: 2 * (len(syms) - 1)]:
        for s in ss:
            out[s] += 1
    return out


def _canon_codes(lengths: list[int]) -> list[tuple[int, int]]:
    """(code, length) per symbol under the RFC 1951 canonical
    assignment (0 length -> (0, 0), never emitted)."""
    maxlen = max(lengths) if lengths else 0
    bl_count = [0] * (maxlen + 1)
    for l in lengths:
        if l:
            bl_count[l] += 1
    code = 0
    next_code = [0] * (maxlen + 1)
    for l in range(1, maxlen + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    out = []
    for l in lengths:
        if l:
            out.append((next_code[l], l))
            next_code[l] += 1
        else:
            out.append((0, 0))
    return out


def _rle_lengths(lens: list[int]):
    """RFC 1951 §3.2.7 RLE of the code-length vector: yields
    (clc_symbol, extra_bits, extra_value) triples using 16 (copy prev
    3-6), 17 (zero-run 3-10), 18 (zero-run 11-138)."""
    i = 0
    n = len(lens)
    while i < n:
        v = lens[i]
        run = 1
        while i + run < n and lens[i + run] == v:
            run += 1
        i += run
        if v == 0:
            while run >= 11:
                take = min(run, 138)
                yield (18, 7, take - 11)
                run -= take
            if run >= 3:
                yield (17, 3, run - 3)
                run = 0
            for _ in range(run):
                yield (0, 0, 0)
        else:
            yield (v, 0, 0)
            run -= 1
            while run >= 3:
                take = min(run, 6)
                yield (16, 2, take - 3)
                run -= take
            for _ in range(run):
                yield (v, 0, 0)


def _deflate_dynamic(raw: bytes, max_chain: int = 128) -> bytes:
    """One dynamic-Huffman block with real LZ77 matches (round 11,
    closing the encoder-side boundary the codec shipped with): token
    stream -> symbol frequencies -> package-merge length-limited codes
    (15-bit lit/dist, 7-bit code-length code) -> RFC 1951 §3.2.7 header
    (HLIT/HDIST/HCLEN, permuted CLC order, RLE 16/17/18) -> entropy-
    coded body. Verified against stdlib zlib.decompress in
    tests/test_png.py."""
    tokens = list(_lz77_tokens(raw, max_chain=max_chain))
    lit_freq = [0] * 286
    dist_freq = [0] * 30
    lit_freq[256] = 1  # EOB
    enc: list[tuple] = []  # (lit_sym, eb, ev, dist_sym, deb, dev) | literals
    for t in tokens:
        if isinstance(t, tuple):
            length, dist = t
            ls, leb, lev = _sym_for(_LEN_TABLE, length, 257)
            # symbol 284 tops out at 227+31=258, but 258 must use sym 285
            if length == 258:
                ls, leb, lev = 285, 0, 0
            ds, deb, dev = _sym_for(_DIST_TABLE, dist, 0)
            lit_freq[ls] += 1
            dist_freq[ds] += 1
            enc.append((ls, leb, lev, ds, deb, dev))
        else:
            lit_freq[t] += 1
            enc.append(t)
    lit_lens = _limited_code_lengths(lit_freq, 15)
    dist_lens = _limited_code_lengths(dist_freq, 15)
    hlit = max(257, max(s for s, l in enumerate(lit_lens) if l) + 1)
    used_dist = [s for s, l in enumerate(dist_lens) if l]
    hdist = max(1, (used_dist[-1] + 1) if used_dist else 1)
    lit_codes = _canon_codes(lit_lens)
    dist_codes = _canon_codes(dist_lens)
    # code-length code over the concatenated (trimmed) length vectors
    all_lens = lit_lens[:hlit] + dist_lens[:hdist]
    clc_syms = list(_rle_lengths(all_lens))
    clc_freq = [0] * 19
    for s, _, _ in clc_syms:
        clc_freq[s] += 1
    clc_lens = _limited_code_lengths(clc_freq, 7)
    clc_codes = _canon_codes(clc_lens)
    hclen = max(
        4, max(i + 1 for i, s in enumerate(_CLC_ORDER) if clc_lens[s] > 0)
    )
    bw = _BitsW()
    bw.write(1, 1)  # BFINAL
    bw.write(2, 2)  # dynamic
    bw.write(hlit - 257, 5)
    bw.write(hdist - 1, 5)
    bw.write(hclen - 4, 4)
    for i in range(hclen):
        bw.write(clc_lens[_CLC_ORDER[i]], 3)
    for s, eb, ev in clc_syms:
        c, l = clc_codes[s]
        bw.code(c, l)
        if eb:
            bw.write(ev, eb)
    for t in enc:
        if isinstance(t, tuple):
            ls, leb, lev, ds, deb, dev = t
            c, l = lit_codes[ls]
            bw.code(c, l)
            if leb:
                bw.write(lev, leb)
            c, l = dist_codes[ds]
            bw.code(c, l)
            if deb:
                bw.write(dev, deb)
        else:
            c, l = lit_codes[t]
            bw.code(c, l)
    c, l = lit_codes[256]
    bw.code(c, l)
    return bw.flush()


def zlib_compress(raw: bytes, method: str = "dynamic") -> bytes:
    """RFC 1950 wrap around the from-scratch deflate encoders:
    ``stored`` (bit-exact raw blocks), ``fixed`` (fixed-Huffman literal
    coding), or ``dynamic`` (LZ77 + length-limited dynamic Huffman —
    real compression, the default since round 11). 0x78 0x01 passes the
    %31 check."""
    if method == "stored":
        body = _deflate_stored(raw)
    elif method == "fixed":
        body = _deflate_fixed_literals(raw)
    elif method == "dynamic":
        body = _deflate_dynamic(raw)
    else:
        raise ValueError(f"zlib_compress: unknown method {method!r}")
    return b"\x78\x01" + body + struct.pack(">I", zlib.adler32(raw))


# ---------------------------------------------------------------------------
# PNG filters
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    """The spec's exact predictor (left, above, upper-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytearray:
    """Reverse the per-scanline filters; ``raw`` is height*(1+stride)
    bytes of (filter_type, filtered bytes) rows; ``bpp`` is the filter
    unit (ceil bytes per pixel, 1 for sub-byte depths)."""
    if len(raw) < height * (1 + stride):
        raise ValueError("png: IDAT stream shorter than image")
    out = bytearray(height * stride)
    pos = 0
    for y in range(height):
        ft = raw[pos]
        pos += 1
        row = raw[pos : pos + stride]
        pos += stride
        ro = y * stride
        po = ro - stride  # previous row offset (y>0)
        if ft == 0:  # None
            out[ro : ro + stride] = row
        elif ft == 1:  # Sub
            for x in range(stride):
                left = out[ro + x - bpp] if x >= bpp else 0
                out[ro + x] = (row[x] + left) & 0xFF
        elif ft == 2:  # Up
            if y == 0:
                out[ro : ro + stride] = row
            else:
                for x in range(stride):
                    out[ro + x] = (row[x] + out[po + x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(stride):
                left = out[ro + x - bpp] if x >= bpp else 0
                up = out[po + x] if y > 0 else 0
                out[ro + x] = (row[x] + ((left + up) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                left = out[ro + x - bpp] if x >= bpp else 0
                up = out[po + x] if y > 0 else 0
                ul = out[po + x - bpp] if (y > 0 and x >= bpp) else 0
                out[ro + x] = (row[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"png: unknown filter type {ft}")
    return out


def _filter_rows(px: bytes, height: int, stride: int, bpp: int, types) -> bytes:
    """Forward-filter ``px`` (height*stride reconstructed bytes) with the
    per-row filter ids in ``types``."""
    out = bytearray()
    for y in range(height):
        ft = types[y]
        ro = y * stride
        po = ro - stride
        out.append(ft)
        for x in range(stride):
            cur = px[ro + x]
            left = px[ro + x - bpp] if x >= bpp else 0
            up = px[po + x] if y > 0 else 0
            ul = px[po + x - bpp] if (y > 0 and x >= bpp) else 0
            if ft == 0:
                v = cur
            elif ft == 1:
                v = cur - left
            elif ft == 2:
                v = cur - up
            elif ft == 3:
                v = cur - ((left + up) >> 1)
            elif ft == 4:
                v = cur - _paeth(left, up, ul)
            else:
                raise ValueError(f"png: unknown filter type {ft}")
            out.append(v & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# PNG container
# ---------------------------------------------------------------------------

_SIG = b"\x89PNG\r\n\x1a\n"

#: Adam7 pass grid (ISO 15948 §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _adam7_pass_dims(w: int, h: int) -> list[tuple[int, int]]:
    """(pass_width, pass_height) for each of the seven passes; empty
    passes (0 in either dim) contribute no scanlines at all."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        out.append((pw, ph))
    return out

#: channels per color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: legal bit depths per color type (ISO 15948 table 11.1)
_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload))
    )


def _deframe(px: "bytes | bytearray", h: int, w: int, ch: int, depth: int, stride: int) -> np.ndarray:
    """Reconstructed scanline bytes -> sample array: (h, w) for one
    channel, (h, w, ch) otherwise; uint16 for depth 16, raw (unscaled)
    samples for sub-byte depths."""
    if depth == 8:
        arr = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, stride)[:, : w * ch]
        return arr.reshape(h, w, ch) if ch > 1 else arr.reshape(h, w)
    if depth == 16:
        arr = (
            np.frombuffer(bytes(px), dtype=">u2")
            .astype(np.uint16)
            .reshape(h, stride // 2)[:, : w * ch]
        )
        return arr.reshape(h, w, ch) if ch > 1 else arr.reshape(h, w)
    # 1/2/4-bit gray or palette indices: unpack to one sample per byte
    bits = np.unpackbits(
        np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, stride), axis=1
    )
    samples = bits[:, : w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (samples * weights).sum(axis=2).astype(np.uint8)


def decode_png(payload: bytes, max_pixels: int = 64_000_000) -> np.ndarray:
    """Decode a PNG to a numpy array: 2-D uint8/uint16 for single-channel
    images, (h, w, channels) otherwise. Palette images resolve through
    PLTE (+ tRNS alpha when present) to RGB/RGBA uint8; sub-byte
    grayscale returns the RAW sample plane (values 0..2^depth-1,
    unscaled — documented, same convention as the BMP palette-index
    plane). Verifies every chunk CRC and the zlib Adler-32. Both
    interlace methods decode (Adam7 since round 11)."""
    p = bytes(payload)
    if p[:8] != _SIG:
        raise ValueError("png: bad signature")
    pos = 8
    ihdr = None
    plte = None
    trns = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(p):
        (ln,) = struct.unpack_from(">I", p, pos)
        tag = p[pos + 4 : pos + 8]
        data = p[pos + 8 : pos + 8 + ln]
        if len(data) != ln or pos + 12 + ln > len(p):
            raise ValueError("png: truncated chunk")
        (want,) = struct.unpack_from(">I", p, pos + 8 + ln)
        if zlib.crc32(tag + data) != want:
            raise ValueError(f"png: CRC mismatch in {tag!r}")
        pos += 12 + ln
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            if ln % 3:
                raise ValueError("png: PLTE length not a multiple of 3")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            seen_iend = True
            break
        # ancillary chunks (tEXt, pHYs, ...) are skipped per spec
    if ihdr is None:
        raise ValueError("png: missing IHDR")
    if not seen_iend:
        raise ValueError("png: missing IEND")
    if not idat:
        raise ValueError("png: missing IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("png: unknown compression/filter method")
    if interlace not in (0, 1):
        raise ValueError("png: unknown interlace method")
    if ctype not in _CHANNELS or depth not in _DEPTHS[ctype]:
        raise ValueError(f"png: illegal depth/color combination {depth}/{ctype}")
    if w == 0 or h == 0 or w * h > max_pixels:
        raise ValueError("png: image dimensions out of bounds")
    ch = _CHANNELS[ctype]
    bpp = max(1, (ch * depth) // 8)
    if interlace == 0:
        stride = (w * ch * depth + 7) // 8
        raw = zlib_decompress(bytes(idat), max_output=h * (1 + stride))
        px = _unfilter(raw, h, stride, bpp)
        arr = _deframe(px, h, w, ch, depth, stride)
    else:
        # Adam7 (round 11, closing the r11 boundary the codec shipped
        # with): the zlib stream is seven independently filtered
        # sub-images on the 8x8 pass grid; empty passes contribute no
        # scanlines. Each pass unfilters with its OWN stride/history and
        # scatters onto the full-resolution grid by (start, step).
        dims = _adam7_pass_dims(w, h)
        strides = [(pw * ch * depth + 7) // 8 for pw, _ in dims]
        total = sum(ph * (1 + s) for (pw, ph), s in zip(dims, strides) if pw and ph)
        raw = zlib_decompress(bytes(idat), max_output=total)
        if len(raw) < total:
            raise ValueError("png: interlaced IDAT stream shorter than image")
        dtype = np.uint16 if depth == 16 else np.uint8
        arr = np.zeros((h, w) if ch == 1 else (h, w, ch), dtype=dtype)
        pos = 0
        for (x0, y0, dx, dy), (pw, ph), pstride in zip(_ADAM7, dims, strides):
            if pw == 0 or ph == 0:
                continue
            chunk = raw[pos : pos + ph * (1 + pstride)]
            pos += ph * (1 + pstride)
            ppx = _unfilter(chunk, ph, pstride, bpp)
            arr[y0::dy, x0::dx] = _deframe(ppx, ph, pw, ch, depth, pstride)
    if ctype == 3:
        if plte is None:
            raise ValueError("png: palette image without PLTE")
        idx = arr
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("png: palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    return arr


def encode_png(
    img: np.ndarray,
    filter_type: "int | str" = "mixed",
    deflate: str = "dynamic",
    palette: "np.ndarray | None" = None,
    trns: "bytes | None" = None,
    idat_chunk: int | None = None,
    interlace: bool = False,
) -> bytes:
    """Encode a numpy image as PNG. uint8 2-D -> grayscale (or palette
    indices when ``palette`` (n,3) is given), (h,w,2) -> gray+alpha,
    (h,w,3) -> RGB, (h,w,4) -> RGBA; uint16 arrays -> 16-bit variants.
    ``filter_type``: a fixed filter id 0-4 for every row, or ``mixed``
    (row y uses filter y % 5 — deterministic, exercises all five).
    ``deflate``: ``stored``, ``fixed``, or ``dynamic`` (real LZ77 +
    dynamic-Huffman compression — see :func:`zlib_compress`).
    ``idat_chunk`` splits the zlib stream across multiple IDAT chunks of
    that size (decoder-side concatenation coverage). ``interlace=True``
    emits Adam7: seven independently filtered pass sub-images on the
    8x8 grid (round 11). Lossless: decoding the result reproduces
    ``img`` bit-exactly."""
    img = np.asarray(img)
    if img.dtype == np.uint16:
        depth = 16
    elif img.dtype == np.uint8:
        depth = 8
    else:
        raise ValueError("png: encoder takes uint8 or uint16 arrays")
    if img.ndim == 2:
        ch = 1
        ctype = 3 if palette is not None else 0
    elif img.ndim == 3 and img.shape[2] in (2, 3, 4):
        ch = img.shape[2]
        ctype = {2: 4, 3: 2, 4: 6}[ch]
        if palette is not None:
            raise ValueError("png: palette only applies to 2-D index arrays")
    else:
        raise ValueError(f"png: unsupported image shape {img.shape}")
    if ctype == 3 and depth == 16:
        raise ValueError("png: palette images are 8-bit max")
    h, w = img.shape[:2]
    bpp = max(1, (ch * depth) // 8)

    def _row_types(n: int) -> list:
        if filter_type == "mixed":
            return [y % 5 for y in range(n)]
        return [int(filter_type)] * n

    def _plane_bytes(a: np.ndarray) -> bytes:
        return a.astype(">u2").tobytes() if depth == 16 else a.astype(np.uint8).tobytes()

    if interlace:
        parts = []
        for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_pass_dims(w, h)):
            if pw == 0 or ph == 0:
                continue
            sub = img[y0::dy, x0::dx]
            pstride = (pw * ch * depth + 7) // 8
            parts.append(
                _filter_rows(_plane_bytes(sub), ph, pstride, bpp, _row_types(ph))
            )
        filtered = b"".join(parts)
    else:
        stride = (w * ch * depth + 7) // 8
        filtered = _filter_rows(_plane_bytes(img), h, stride, bpp, _row_types(h))
    z = zlib_compress(filtered, method=deflate)
    out = bytearray(_SIG)
    out += _chunk(
        b"IHDR",
        struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1 if interlace else 0),
    )
    if ctype == 3:
        pal = np.asarray(palette, dtype=np.uint8)
        if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= len(pal) <= 256:
            raise ValueError("png: palette must be (n<=256, 3) uint8")
        if int(img.max(initial=0)) >= len(pal):
            raise ValueError("png: palette index out of range")
        out += _chunk(b"PLTE", pal.tobytes())
        if trns is not None:
            out += _chunk(b"tRNS", trns)
    if idat_chunk:
        for i in range(0, len(z), idat_chunk):
            out += _chunk(b"IDAT", z[i : i + idat_chunk])
    else:
        out += _chunk(b"IDAT", z)
    out += _chunk(b"IEND", b"")
    return bytes(out)
