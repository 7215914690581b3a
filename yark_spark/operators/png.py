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

import re
import struct
import zlib
from bisect import bisect_right
from collections import Counter
from itertools import accumulate, chain, compress, repeat
from operator import add, and_

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
# DEFLATE — encoder side (stored, fixed-Huffman literals, LZ77 + dynamic
# Huffman) and the entropy-coding kernels brotli, bzip2 and zstd share
# ---------------------------------------------------------------------------


class _BitsW:
    """LSB-first bit writer of the DEFLATE, brotli and zstd encoders:
    ``write(value, nbits)`` appends the low ``nbits`` bits of ``value``
    in one call. Each write is kept as the MSB-first binary string of
    its value — read as one integer, an LSB-first stream has the writes,
    last first, as its binary digits — so :meth:`flush` is a single
    ``int(bits, 2).to_bytes`` that zero-pads the last byte. Hot loops
    extend ``parts`` with precomputed strings (:func:`_code_strs`); a
    string holding several writes lists them last first."""

    __slots__ = ("parts",)

    def __init__(self) -> None:
        self.parts: list[str] = []

    def write(self, value: int, nbits: int) -> None:
        self.parts.append(bin((1 << nbits) | (value & ((1 << nbits) - 1)))[3:])

    def flush(self) -> bytes:
        bits = "".join(reversed(self.parts))
        if not bits:
            return b""
        return int(bits, 2).to_bytes((len(bits) + 7) // 8, "little")


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
    strs = _code_strs(_fixed_lit_lengths())
    bw = _BitsW()
    bw.write(0b011, 3)  # BFINAL, fixed
    bw.parts += map(strs.__getitem__, raw)
    bw.parts.append(strs[256])
    return bw.flush()


def _key_chains(raw: bytes, width: int, window: int) -> tuple[bytes, memoryview]:
    """Hash chains of a greedy LZ77 matcher over ``width``-byte keys (3
    or 4), computed up front. A matcher that inserts every position
    into its key's chain before moving past it sees, at position ``i``,
    every earlier position with ``i``'s key — so one stable numpy
    argsort of the keys builds every chain: ``prev[i]`` is the nearest
    earlier position with ``i``'s key (or one out of ``window``'s
    reach), and ``starts[i]`` is 1 where that position is within
    ``window``, i.e. where the greedy matcher finds a match. Needs
    ``len(raw) >= width``."""
    keyed = len(raw) - width + 1
    # key at i: the little-endian u32 read at byte i (top byte masked
    # for 3-byte keys)
    keys = np.ndarray(
        (keyed,), dtype="<u4", buffer=bytes(raw) + b"\0", strides=(1,)
    ).copy()
    if width == 3:
        keys &= 0xFFFFFF
    order = np.argsort(keys, kind="stable")
    ordered = keys[order]
    same = ordered[1:] == ordered[:-1]
    link = np.full(keyed, -window - 1, dtype=np.int32)
    link[order[1:][same]] = order[:-1][same]
    starts = np.arange(keyed) - link <= window
    return starts.tobytes(), memoryview(link)


def _lz77_tokens(raw: bytes, max_chain: int = 128, start: int = 0) -> list:
    """Greedy LZ77 over the 32 KB window via 3-byte hash chains: a list
    of int literals and ``(length, distance)`` matches (3 <= length <=
    258, 1 <= distance <= 32768). ``max_chain`` bounds the candidates
    probed per position — the standard compression/speed dial.
    ``start > 0`` treats ``raw[:start]`` as a pre-seeded WINDOW (a zstd
    dictionary's content): its positions enter the hash chains but emit
    no tokens, so matches from ``start`` on may reach back into it.

    Output is BYTE-IDENTICAL to the straightforward per-byte loop (the
    reference copy lives in tests/test_png.py and is compared across
    payload classes); the chains come from :func:`_key_chains`. This
    matcher is the per-task bill under every DEFLATE (PNG idat, gzip
    fixtures) and zstd entropy-block encode:

    - a position whose nearest earlier same-key position is missing or
      more than 32 KB back is a literal, any other position starts a
      match (its key guarantees >= 3 bytes), so literal runs are found
      with one ``bytes.find`` and emitted as a slice;
    - only match positions walk their chain; a candidate that cannot
      beat the best so far is rejected by one ``startswith``, and match
      extension compares 32-byte windows (one C memcmp each) before the
      per-byte tail, so a 258-byte match costs 8 compares.
    """
    if max_chain < 1:
        raise ValueError("lz77: max_chain must be >= 1")
    n = len(raw)
    if start >= n - 2:
        return list(raw[start:])
    starts, prev = _key_chains(raw, 3, 32768)
    tokens: list = []
    i = start
    while i < n:
        c = starts.find(1, i)
        if c < 0:
            tokens += raw[i:]
            break
        if c > i:
            tokens += raw[i:c]
            i = c
        limit = n - i if n - i < 258 else 258
        # a candidate beats the best so far only if it matches one byte
        # more: one startswith per candidate (the nearest one shares the
        # 3-byte key, so it always opens the best match)
        best_len = 2
        best_dist = 0
        j = prev[i]
        for _ in range(max_chain):
            if i - j > 32768:
                break
            if best_len == 2 or raw.startswith(probe, j):
                # extend: 32-byte memcmp strides, per-byte tail
                length = best_len + 1
                while (
                    length + 32 <= limit
                    and raw[j + length : j + length + 32]
                    == raw[i + length : i + length + 32]
                ):
                    length += 32
                while length < limit and raw[j + length] == raw[i + length]:
                    length += 1
                best_len = length
                best_dist = i - j
                if length == limit:
                    break
                probe = raw[i : i + length + 1]
            j = prev[j]
        tokens.append((best_len, best_dist))
        i += best_len
    return tokens


def _limited_code_lengths(freqs: list[int], maxlen: int) -> list[int]:
    """Package-merge: optimal length-limited prefix-code lengths for the
    nonzero entries of ``freqs`` (RFC 1951 caps literal/distance codes at
    15 bits, the code-length code at 7).

    Each level's list is the leaves merged with the pairs of the level
    below, sorted by (weight, symbol tuple), and a symbol's length is
    how often it occurs in the first 2(n-1) items of the last level.
    An item's weight is the sum of its symbols' frequencies, so two
    items of equal weight never have one tuple a prefix of the other:
    ties between a leaf and a pair are decided by their first symbols,
    and the pairs of one level are already in tuple order. An item is
    therefore the int ``weight << sh | first_symbol``, equal ints stand
    for interchangeable pairs, and the lengths come from how many leaves
    each level's selected prefix holds (leaves keep their sorted order
    in every level). A level whose paired items equal those of the
    level below repeats to the top, so building stops there."""
    out = [0] * len(freqs)
    syms = list(compress(range(len(freqs)), freqs))
    n = len(syms)
    if n <= 1:
        if n:
            out[syms[0]] = 1
        return out
    if n > (1 << maxlen):
        raise ValueError("deflate: alphabet too large for length limit")
    sh = len(freqs).bit_length()
    low = (1 << sh) - 1
    leaves = sorted([(freqs[s] << sh) | s for s in syms])
    hi = repeat(~low)
    levels = [leaves]
    prev = leaves
    for _ in range(maxlen - 1):
        # a pair's weight is the sum, its first symbol its left item's
        cur = sorted(leaves + list(map(add, prev[0::2], map(and_, prev[1::2], hi))))
        levels.append(cur)
        paired = len(cur) & ~1
        if paired == len(prev) & ~1 and cur[:paired] == prev[:paired]:
            break  # same pairs as prev: every level above equals cur
        prev = cur
    # top down: the first m items of a level are its first j leaves and
    # its first m - j pairs, which are the first 2(m - j) items below
    picked = [0] * (n + 1)  # picked[j]: levels whose prefix holds j leaves
    m = min(2 * n - 2, len(levels[-1]))
    for items in chain(repeat(levels[-1], maxlen - len(levels)), reversed(levels)):
        j = bisect_right(leaves, items[m - 1])
        picked[j] += 1
        m = 2 * (m - j)
        if not m:
            break
    # leaf r is in the prefix of every level that holds more than r leaves
    for leaf, ln in zip(reversed(leaves), accumulate(reversed(picked))):
        out[leaf & low] = ln
    return out


def _canon_codes(lengths: list[int]) -> list[tuple[int, int]]:
    """(code, length) per symbol under the RFC 1951 canonical
    assignment — consecutive codes in (length, symbol) order, shifted
    left once per length step (0 length -> (0, 0), never emitted)."""
    out = [(0, 0)] * len(lengths)
    code = 0
    prev = 0
    for s in sorted(compress(range(len(lengths)), lengths), key=lengths.__getitem__):
        ln = lengths[s]
        code <<= ln - prev
        prev = ln
        out[s] = (code, ln)
        code += 1
    return out


def _code_strs(lengths: list[int]) -> dict[int, str]:
    """{symbol: :class:`_BitsW` part} for the used symbols of the
    canonical prefix code with these lengths (the :func:`_canon_codes`
    assignment): codes go on the wire MSB-first, so a part is the
    code's bits reversed."""
    out = {}
    code = 0
    prev = 0
    for s in sorted(compress(range(len(lengths)), lengths), key=lengths.__getitem__):
        ln = lengths[s]
        code <<= ln - prev
        prev = ln
        out[s] = bin((1 << ln) | code)[:2:-1]
        code += 1
    return out


#: runs _rle_lengths codes: >= 3 zeros (17/18), a length repeated >= 4
#: times (the length, then 16s)
_LEN_RUN = re.compile(rb"\x00{3,}|([^\x00])\1{3,}")


def _rle_lengths(lens: list[int]) -> list[tuple[int, int, int]]:
    """RFC 1951 §3.2.7 RLE of the code-length vector:
    (clc_symbol, extra_bits, extra_value) triples using 16 (copy prev
    3-6), 17 (zero-run 3-10), 18 (zero-run 11-138)."""
    b = bytes(lens)
    out = []
    pos = 0
    for m in _LEN_RUN.finditer(b):
        i, pos_end = m.span()
        out += zip(b[pos:i], repeat(0), repeat(0))
        pos = pos_end
        v = b[i]
        run = pos_end - i
        if v == 0:
            while run >= 11:
                take = min(run, 138)
                out.append((18, 7, take - 11))
                run -= take
            if run >= 3:
                out.append((17, 3, run - 3))
                run = 0
        else:
            out.append((v, 0, 0))
            run -= 1
            while run >= 3:
                take = min(run, 6)
                out.append((16, 2, take - 3))
                run -= take
        out += [(v, 0, 0)] * run
    out += zip(b[pos:], repeat(0), repeat(0))
    return out


def _bits(value: int, nbits: int) -> str:
    """:class:`_BitsW` part of ``value`` as an ``nbits``-bit field."""
    return bin((1 << nbits) | value)[3:]


#: DEFLATE length symbol per match length 3..258 (258 is symbol 285,
#: not 284 + 31: the largest base <= the length wins), and the part of
#: its extra bits
_LEN_SYM = [0, 0, 0] + [
    257 + bisect_right([b for b, _ in _LEN_TABLE], ln) - 1 for ln in range(3, 259)
]
_LEN_EXTRA = ["", "", ""] + [
    _bits(ln - _LEN_TABLE[s - 257][0], _LEN_TABLE[s - 257][1])
    for ln, s in enumerate(_LEN_SYM[3:], 3)
]
_DIST_BASES = [b for b, _ in _DIST_TABLE]


def _deflate_dynamic(raw: bytes, max_chain: int = 128) -> bytes:
    """One dynamic-Huffman block with real LZ77 matches (round 11,
    closing the encoder-side boundary the codec shipped with): token
    stream -> symbol frequencies -> package-merge length-limited codes
    (15-bit lit/dist, 7-bit code-length code) -> RFC 1951 §3.2.7 header
    (HLIT/HDIST/HCLEN, permuted CLC order, RLE 16/17/18) -> entropy-
    coded body. Each distinct token's bits (code + extra bits) are
    built once and the body is one lookup per token. Verified against
    stdlib zlib.decompress in tests/test_png.py."""
    tokens = _lz77_tokens(raw, max_chain=max_chain)
    counts = Counter(tokens)
    lit_freq = [0] * 286
    dist_freq = [0] * 30
    lit_freq[256] = 1  # EOB
    matches = {}
    for t, c in counts.items():
        if t.__class__ is int:
            lit_freq[t] += c
        else:
            ls = _LEN_SYM[t[0]]
            ds = bisect_right(_DIST_BASES, t[1]) - 1
            lit_freq[ls] += c
            dist_freq[ds] += c
            matches[t] = (ls, ds)
    lit_lens = _limited_code_lengths(lit_freq, 15)
    dist_lens = _limited_code_lengths(dist_freq, 15)
    hlit = next(s for s in range(285, 255, -1) if lit_freq[s]) + 1
    hdist = next((s for s in range(29, 0, -1) if dist_freq[s]), 0) + 1
    lit_strs = _code_strs(lit_lens)
    dist_strs = _code_strs(dist_lens)
    # code-length code over the concatenated (trimmed) length vectors
    clc_syms = _rle_lengths(lit_lens[:hlit] + dist_lens[:hdist])
    clc_freq = [0] * 19
    for s, _, _ in clc_syms:
        clc_freq[s] += 1
    clc_lens = _limited_code_lengths(clc_freq, 7)
    clc_strs = _code_strs(clc_lens)
    clc_order_lens = [clc_lens[s] for s in _CLC_ORDER]
    hclen = max(4, len(bytes(clc_order_lens).rstrip(b"\0")))
    bw = _BitsW()
    # BFINAL, dynamic, HLIT, HDIST, HCLEN
    bw.write(0b101 | (hlit - 257) << 3 | (hdist - 1) << 8 | (hclen - 4) << 13, 17)
    bw.parts += [_bits(ln, 3) for ln in clc_order_lens[:hclen]]
    bw.parts += [
        _bits(ev, eb) + clc_strs[s] if eb else clc_strs[s] for s, eb, ev in clc_syms
    ]
    # a literal token is its symbol; a match is length code, length
    # extra, distance code, distance extra — one part, last write first
    emit = lit_strs
    for t, (ls, ds) in matches.items():
        dbase, deb = _DIST_TABLE[ds]
        emit[t] = (
            _bits(t[1] - dbase, deb) + dist_strs[ds] + _LEN_EXTRA[t[0]] + lit_strs[ls]
        )
    bw.parts += map(emit.__getitem__, tokens)
    bw.parts.append(emit[256])
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
