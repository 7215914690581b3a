"""Zstandard (RFC 8878) from scratch — the modern ingest codec for
``.jsonl.zst`` / ``.zst`` crawled-text shards (round 12, VERDICT r11
task #2).

Everything here is derived from the published RFC 8878 specification:
frame/block framing, FSE (tANS) normalized-count parsing + decode-table
construction, huff0 literal decoding (direct and FSE-compressed weight
descriptions, 1- and 4-stream layouts), the sequences section with all
four symbol-compression modes (predefined / RLE / FSE / repeat), the
three-slot repeat-offset history with its literals-length-0 twist, and
XXH64 content checksums. No external zstd library exists in this
environment, so correctness rests on three independent legs, the same
strategy the DEFLATE codec used minus the stdlib differential:

1. spec-table pins — the predefined FSE distributions, the LL/ML
   baseline tables, and the FSE spread-step worked example are asserted
   against values transcribed independently in tests/test_zstd.py;
2. hand-derived micro-vectors — frames constructed bit-by-bit in the
   tests from the RFC's wire description (raw, RLE, compressed blocks
   with known Huffman/FSE tables) with hand-computed expected bytes;
3. encoder↔decoder roundtrip fuzz — the in-repo encoder (raw/RLE
   framing always; real huff0 + predefined-FSE sequence compression in
   ``method="compressed"``) shares no tables with the decoder beyond
   the spec constants.

Design rules match the other codecs (operators/png, operators/jpeg):
pure stdlib + explicit ``ValueError`` on malformed input, ``max_output``
bomb guard.

Reference parity note: the reference stores fetched bytes opaquely
(/root/reference/cmds/archive.py:88-91); zstd ingest is mandate-side
training-pipeline surface (Common Crawl and HF corpora ship .jsonl.zst).
"""

from __future__ import annotations

import struct

__all__ = [
    "parse_zstd_dictionary",
    "xxh64",
    "zstd_compress",
    "zstd_decompress",
    "zstd_frames",
    "zstd_seek_table",
    "zstd_seekable_compress",
    "zstd_seekable_compress_chunks",
]

_MAGIC = 0xFD2FB528
_SKIPPABLE_LO, _SKIPPABLE_HI = 0x184D2A50, 0x184D2A5F
_BLOCK_MAX = 128 << 10

# ---------------------------------------------------------------------------
# XXH64 (public algorithm; content-checksum = low 32 bits, seed 0)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` — the frame content checksum hash."""
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while pos + 32 <= n:
            lane = struct.unpack_from("<QQQQ", data, pos)
            v1 = (_rotl((v1 + lane[0] * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + lane[1] * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + lane[2] * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + lane[3] * _P2) & _M64, 31) * _P1) & _M64
            pos += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ (_rotl((v * _P2) & _M64, 31) * _P1) & _M64) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, pos)
        h = (_rotl(h ^ (_rotl((k * _P2) & _M64, 31) * _P1) & _M64, 27) * _P1 + _P4) & _M64
        pos += 8
    if pos + 4 <= n:
        (k,) = struct.unpack_from("<I", data, pos)
        h = (_rotl(h ^ (k * _P1) & _M64, 23) * _P2 + _P3) & _M64
        pos += 4
    while pos < n:
        h = (_rotl(h ^ (data[pos] * _P5) & _M64, 11) * _P1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# Bit readers
# ---------------------------------------------------------------------------


class _ForwardBits:
    """LSB-first forward reader — FSE table descriptions only."""

    def __init__(self, data, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        out = 0
        got = 0
        while got < n:
            if self.byte >= len(self.data):
                raise ValueError("zstd: FSE header overruns input")
            take = min(8 - self.bit, n - got)
            chunk = (self.data[self.byte] >> self.bit) & ((1 << take) - 1)
            out |= chunk << got
            got += take
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return out

    def byte_align(self) -> int:
        """Consumed length in whole bytes."""
        return self.byte + (1 if self.bit else 0)


class _BackwardBits:
    """The zstd data bitstream: written LSB-first, read back-to-front.
    The last byte carries a 1-bit end marker above the data bits; reads
    return the bits just below the current position, and reads past the
    start zero-pad at the bottom (only legal for the final Huffman
    symbols — FSE paths check :meth:`exhausted` afterwards)."""

    def __init__(self, data):
        if len(data) == 0:
            raise ValueError("zstd: empty bitstream")
        data = bytes(data)
        if data[-1] == 0:
            # RFC: the LAST byte must carry the end marker; accepting a
            # zero byte would silently relocate the marker and reparse
            # the stream as a shorter one (round-12 self-review)
            raise ValueError("zstd: bitstream missing end marker")
        big = int.from_bytes(data, "little")
        self.big = big
        self.avail = big.bit_length() - 1  # bits below the marker

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self.avail -= n
        if self.avail >= 0:
            return (self.big >> self.avail) & ((1 << n) - 1)
        # zero-pad below the start (avail went negative)
        return (self.big << -self.avail) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        a = self.avail - n
        if a >= 0:
            return (self.big >> a) & ((1 << n) - 1)
        return (self.big << -a) & ((1 << n) - 1)

    def exhausted(self) -> bool:
        return self.avail == 0


# ---------------------------------------------------------------------------
# FSE — normalized counts + decode table (RFC 8878 §4.1)
# ---------------------------------------------------------------------------


def _fse_read_ncount(data, pos: int, max_symbol: int, max_log: int):
    """Parse an FSE table description → (counts, accuracy_log, bytes
    consumed). ``counts[s]`` is the normalized probability; -1 encodes
    the "less than 1" case."""
    bits = _ForwardBits(data, pos)
    acc_log = bits.read(4) + 5
    if acc_log > max_log:
        raise ValueError(f"zstd: FSE accuracy log {acc_log} > max {max_log}")
    remaining = (1 << acc_log) + 1
    threshold = 1 << acc_log
    nb = acc_log + 1
    counts: list[int] = []
    prev_zero = False
    while remaining > 1:
        if len(counts) > max_symbol:
            raise ValueError("zstd: FSE counts exceed max symbol")
        if prev_zero:
            # a zero count is followed by a 2-bit zero-run code; value 3
            # means "3 more zeros, read another code"
            while True:
                rep = bits.read(2)
                counts.extend([0] * (rep if rep < 3 else 3))
                if len(counts) > max_symbol + 1:
                    raise ValueError("zstd: FSE zero run exceeds max symbol")
                if rep < 3:
                    break
            prev_zero = False
        # value read with the spec's small/large escape: values below
        # cap fit in nb-1 bits; the rest take nb bits with fold-down
        cap = 2 * threshold - 1 - remaining
        low = bits.read(nb - 1)
        if low < cap:
            value = low
        else:
            hi = bits.read(1)
            value = low | (hi << (nb - 1))
            if value >= threshold:
                value -= cap
        count = value - 1  # -1 .. remaining-1
        remaining -= -count if count < 0 else count
        counts.append(count)
        prev_zero = count == 0
        while remaining < threshold:
            nb -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("zstd: FSE counts do not sum to table size")
    return counts, acc_log, bits.byte_align() - pos


class _FseTable:
    """Decode table: ``symbol``/``nbits``/``base`` per state, plus the
    accuracy log (initial-state width)."""

    __slots__ = ("symbol", "nbits", "base", "log")

    def __init__(self, symbol, nbits, base, log):
        self.symbol = symbol
        self.nbits = nbits
        self.base = base
        self.log = log

    @classmethod
    def from_counts(cls, counts, acc_log: int) -> "_FseTable":
        size = 1 << acc_log
        symbols = [0] * size
        high = size - 1
        nxt = [0] * len(counts)
        for s, c in enumerate(counts):
            if c == -1:
                symbols[high] = s
                high -= 1
                nxt[s] = 1
            elif c > 0:
                nxt[s] = c
        step = (size >> 1) + (size >> 3) + 3
        mask = size - 1
        pos = 0
        for s, c in enumerate(counts):
            if c <= 0:
                continue
            for _ in range(c):
                symbols[pos] = s
                pos = (pos + step) & mask
                while pos > high:
                    pos = (pos + step) & mask
        if pos != 0:
            raise ValueError("zstd: FSE table spread did not close")
        nbits = [0] * size
        base = [0] * size
        for i in range(size):
            s = symbols[i]
            x = nxt[s]
            nxt[s] += 1
            nb = acc_log - (x.bit_length() - 1)
            nbits[i] = nb
            base[i] = (x << nb) - size
        return cls(symbols, nbits, base, acc_log)

    @classmethod
    def rle(cls, sym: int) -> "_FseTable":
        return cls([sym], [0], [0], 0)


# Predefined sequence distributions (RFC 8878 §3.1.1.3.2.2).
_LL_DEFAULT = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
     2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1],
    6,
)
# Round-13 fix (libzstd differential via pyarrow.Codec): the low-
# probability region starts at symbol 46 (7 entries), not 42 — the
# round-12 transcription shifted the spread by four skip positions,
# which only real-library frames could reveal (our encoder/decoder
# pair was self-consistent, and the predefined-mode hand vectors
# happened not to land on the displaced states).
_ML_DEFAULT = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULT = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1],
    5,
)

# Literals-length codes 16..35: (baseline, extra bits).
_LL_EXTRA = [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3),
    (40, 3), (48, 4), (64, 6), (128, 7), (256, 8), (512, 9), (1024, 10),
    (2048, 11), (4096, 12), (8192, 13), (16384, 14), (32768, 15),
    (65536, 16),
]
# Match-length codes 32..52: (baseline, extra bits).
_ML_EXTRA = [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
    (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9),
    (1027, 10), (2051, 11), (4099, 12), (8195, 13), (16387, 14),
    (32771, 15), (65539, 16),
]


def _ll_value(code: int, rd: _BackwardBits) -> int:
    if code < 16:
        return code
    if code > 35:
        raise ValueError("zstd: literals-length code out of range")
    base, nb = _LL_EXTRA[code - 16]
    return base + rd.read(nb)


def _ml_value(code: int, rd: _BackwardBits) -> int:
    if code < 32:
        return code + 3
    if code > 52:
        raise ValueError("zstd: match-length code out of range")
    base, nb = _ML_EXTRA[code - 32]
    return base + rd.read(nb)


# ---------------------------------------------------------------------------
# huff0 — weights + canonical table + stream decode (RFC 8878 §4.2)
# ---------------------------------------------------------------------------


class _HufTable:
    __slots__ = ("symbols", "nbits", "log")

    def __init__(self, weights):
        """Build the decode table from the FULL weight list (explicit +
        implied last)."""
        total = sum((1 << (w - 1)) for w in weights if w > 0)
        if total == 0:
            raise ValueError("zstd: Huffman weights are all zero")
        table_log = (total - 1).bit_length()
        if table_log > 11:
            raise ValueError("zstd: Huffman table log > 11")
        if total != 1 << table_log:
            raise ValueError("zstd: Huffman weights do not sum to a power of 2")
        size = 1 << table_log
        symbols = [0] * size
        nbits = [0] * size
        pos = 0
        for w in range(1, table_log + 1):
            length = 1 << (w - 1)
            nb = table_log + 1 - w
            for sym, sw in enumerate(weights):
                if sw != w:
                    continue
                for _ in range(length):
                    symbols[pos] = sym
                    nbits[pos] = nb
                    pos += 1
        if pos != size:
            raise ValueError("zstd: Huffman table fill mismatch")
        self.symbols = symbols
        self.nbits = nbits
        self.log = table_log

    def decode_stream(self, data, n_out: int) -> bytearray:
        rd = _BackwardBits(data)
        out = bytearray(n_out)
        log = self.log
        for i in range(n_out):
            idx = rd.peek(log)
            out[i] = self.symbols[idx]
            rd.read(self.nbits[idx])
        if not rd.exhausted():
            raise ValueError("zstd: Huffman stream not fully consumed")
        return out


def _read_huf_weights(data, pos: int):
    """Huffman_Tree_Description → (full weight list incl. implied last,
    bytes consumed)."""
    if pos >= len(data):
        raise ValueError("zstd: missing Huffman description")
    head = data[pos]
    pos += 1
    if head >= 128:  # direct 4-bit weights
        n = head - 127
        nbytes = (n + 1) // 2
        if pos + nbytes > len(data):
            raise ValueError("zstd: truncated Huffman weights")
        weights = []
        for i in range(n):
            b = data[pos + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0x0F))
        consumed = 1 + nbytes
    else:  # FSE-compressed weights, two interleaved states
        csize = head
        if pos + csize > len(data):
            raise ValueError("zstd: truncated compressed Huffman weights")
        blob = bytes(data[pos : pos + csize])
        counts, log, hdr = _fse_read_ncount(blob, 0, 255, 6)
        table = _FseTable.from_counts(counts, log)
        rd = _BackwardBits(blob[hdr:])
        s1 = rd.read(table.log)
        s2 = rd.read(table.log)
        weights = []
        while True:
            weights.append(table.symbol[s1])
            s1 = table.base[s1] + rd.read(table.nbits[s1])
            if rd.avail < 0:
                weights.append(table.symbol[s2])
                break
            weights.append(table.symbol[s2])
            s2 = table.base[s2] + rd.read(table.nbits[s2])
            if rd.avail < 0:
                weights.append(table.symbol[s1])
                break
            if len(weights) > 254:
                raise ValueError("zstd: Huffman weight stream does not end")
        consumed = 1 + csize
    if len(weights) > 255:
        raise ValueError("zstd: too many Huffman weights")
    # implied last weight: completes the sum to a power of two
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError("zstd: Huffman weights empty")
    p2 = 1 << (total - 1).bit_length() if total & (total - 1) else total << 1
    rest = p2 - total
    if rest & (rest - 1):
        raise ValueError("zstd: implied Huffman weight is not a power of 2")
    weights.append(rest.bit_length())
    return weights, consumed


# ---------------------------------------------------------------------------
# Literals + sequences sections
# ---------------------------------------------------------------------------


def _decode_literals(block, state: dict):
    """Literals section → (literal bytes, bytes consumed)."""
    if len(block) < 1:
        raise ValueError("zstd: empty literals section")
    b0 = block[0]
    ltype = b0 & 3
    if ltype in (0, 1):  # Raw / RLE
        if b0 & 4 == 0:  # 1-byte header, 5-bit size
            size, pos = b0 >> 3, 1
        elif (b0 >> 2) & 3 == 1:  # 2-byte, 12-bit
            if len(block) < 2:
                raise ValueError("zstd: truncated literals header")
            size, pos = (b0 >> 4) | (block[1] << 4), 2
        else:  # 3-byte, 20-bit
            if len(block) < 3:
                raise ValueError("zstd: truncated literals header")
            size, pos = (b0 >> 4) | (block[1] << 4) | (block[2] << 12), 3
        if ltype == 0:
            if pos + size > len(block):
                raise ValueError("zstd: truncated raw literals")
            return bytes(block[pos : pos + size]), pos + size
        if pos >= len(block):
            raise ValueError("zstd: truncated RLE literal")
        return bytes([block[pos]]) * size, pos + 1
    # Compressed (2) / Treeless (3)
    fmt = (b0 >> 2) & 3
    if fmt == 0:
        if len(block) < 3:
            raise ValueError("zstd: truncated literals header")
        h = b0 | (block[1] << 8) | (block[2] << 16)
        regen = (h >> 4) & 0x3FF
        csize = (h >> 14) & 0x3FF
        pos, streams = 3, 1
    elif fmt == 1:
        if len(block) < 3:
            raise ValueError("zstd: truncated literals header")
        h = b0 | (block[1] << 8) | (block[2] << 16)
        regen = (h >> 4) & 0x3FF
        csize = (h >> 14) & 0x3FF
        pos, streams = 3, 4
    elif fmt == 2:
        if len(block) < 4:
            raise ValueError("zstd: truncated literals header")
        h = b0 | (block[1] << 8) | (block[2] << 16) | (block[3] << 24)
        regen = (h >> 4) & 0x3FFF
        csize = (h >> 18) & 0x3FFF
        pos, streams = 4, 4
    else:
        if len(block) < 5:
            raise ValueError("zstd: truncated literals header")
        h = (
            b0
            | (block[1] << 8)
            | (block[2] << 16)
            | (block[3] << 24)
            | (block[4] << 32)
        )
        regen = (h >> 4) & 0x3FFFF
        csize = (h >> 22) & 0x3FFFF
        pos, streams = 5, 4
    end = pos + csize
    if end > len(block):
        raise ValueError("zstd: truncated compressed literals")
    body = block[pos:end]
    off = 0
    if ltype == 2:
        weights, off = _read_huf_weights(body, 0)
        state["huf"] = _HufTable(weights)
    table = state.get("huf")
    if table is None:
        raise ValueError("zstd: treeless literals with no previous table")
    if streams == 1:
        lit = table.decode_stream(body[off:], regen)
    else:
        if len(body) - off < 6:
            raise ValueError("zstd: truncated Huffman jump table")
        s1, s2, s3 = struct.unpack_from("<HHH", bytes(body[off : off + 6]))
        off += 6
        seg = (regen + 3) >> 2
        sizes = [s1, s2, s3, len(body) - off - s1 - s2 - s3]
        if sizes[3] <= 0:
            raise ValueError("zstd: Huffman jump table overruns input")
        lens = [seg, seg, seg, regen - 3 * seg]
        if lens[3] < 0:
            raise ValueError("zstd: bad 4-stream regenerated size")
        lit = bytearray()
        for sz, ln in zip(sizes, lens):
            lit += table.decode_stream(body[off : off + sz], ln)
            off += sz
    if len(lit) != regen:
        raise ValueError("zstd: literal size mismatch")
    return bytes(lit), end


def _seq_table(mode: int, block, pos: int, kind: str, state: dict):
    """One sequence table per its 2-bit compression mode."""
    defaults = {"ll": _LL_DEFAULT, "ml": _ML_DEFAULT, "of": _OF_DEFAULT}
    max_sym = {"ll": 35, "ml": 52, "of": 31}[kind]
    max_log = {"ll": 9, "ml": 9, "of": 8}[kind]
    if mode == 0:  # predefined
        counts, log = defaults[kind]
        table = _FseTable.from_counts(counts, log)
    elif mode == 1:  # RLE: one byte = the constant symbol
        if pos >= len(block):
            raise ValueError("zstd: truncated RLE sequence table")
        sym = block[pos]
        if sym > max_sym:
            raise ValueError(f"zstd: RLE {kind} symbol {sym} out of range")
        table = _FseTable.rle(sym)
        pos += 1
    elif mode == 2:  # FSE-compressed description
        counts, log, used = _fse_read_ncount(block, pos, max_sym, max_log)
        table = _FseTable.from_counts(counts, log)
        pos += used
    else:  # repeat
        table = state.get(kind)
        if table is None:
            raise ValueError(f"zstd: repeat {kind} table with no previous")
        return table, pos
    state[kind] = table
    return table, pos


def _read_seq_count(block, pos: int) -> tuple[int, int]:
    """Number_of_Sequences header → (nseq, next pos). byte0 == 255 means
    nseq = byte1 + (byte2 << 8) + 0x7F00 — ADDITION, not OR (byte2's
    low bits overlap 0x7F00's set bits; an OR form misparses every
    count >= 0x8000 — caught by the round-12 self-review, pinned by the
    roundtrip test against the encoder's writer)."""
    b0 = block[pos]
    if b0 == 0:
        return 0, pos + 1
    if b0 < 128:
        return b0, pos + 1
    if b0 < 255:
        if pos + 2 > len(block):
            raise ValueError("zstd: truncated sequence count")
        return ((b0 - 128) << 8) | block[pos + 1], pos + 2
    if pos + 3 > len(block):
        raise ValueError("zstd: truncated sequence count")
    return block[pos + 1] + (block[pos + 2] << 8) + 0x7F00, pos + 3


def _decode_block(block, out: bytearray, state: dict, max_output) -> None:
    """One compressed block: literals + sequences, executed into ``out``."""
    literals, pos = _decode_literals(block, state)
    if pos >= len(block):
        raise ValueError("zstd: missing sequences header")
    nseq, pos = _read_seq_count(block, pos)
    if nseq == 0:
        _emit(out, literals, max_output)
        return
    if pos >= len(block):
        raise ValueError("zstd: missing compression modes")
    modes = block[pos]
    if modes & 3:
        raise ValueError("zstd: reserved sequence mode bits set")
    pos += 1
    ll_tbl, pos = _seq_table((modes >> 6) & 3, block, pos, "ll", state)
    of_tbl, pos = _seq_table((modes >> 4) & 3, block, pos, "of", state)
    ml_tbl, pos = _seq_table((modes >> 2) & 3, block, pos, "ml", state)
    rd = _BackwardBits(block[pos:])
    ll_s = rd.read(ll_tbl.log)
    of_s = rd.read(of_tbl.log)
    ml_s = rd.read(ml_tbl.log)
    reps = state["reps"]
    lit_pos = 0
    for i in range(nseq):
        of_code = of_tbl.symbol[of_s]
        if of_code > 31:
            raise ValueError("zstd: offset code out of range")
        offset_value = (1 << of_code) + rd.read(of_code)
        ml = _ml_value(ml_tbl.symbol[ml_s], rd)
        ll = _ll_value(ll_tbl.symbol[ll_s], rd)
        if offset_value > 3:
            offset = offset_value - 3
            reps = [offset, reps[0], reps[1]]
        else:
            v = offset_value + (1 if ll == 0 else 0)
            if v == 1:
                offset = reps[0]
            elif v == 2:
                offset = reps[1]
                reps = [offset, reps[0], reps[2]]
            elif v == 3:
                offset = reps[2]
                reps = [offset, reps[0], reps[1]]
            else:
                offset = reps[0] - 1
                if offset == 0:
                    raise ValueError("zstd: repeat offset underflow")
                reps = [offset, reps[0], reps[1]]
        if i + 1 < nseq:
            ll_s = ll_tbl.base[ll_s] + rd.read(ll_tbl.nbits[ll_s])
            ml_s = ml_tbl.base[ml_s] + rd.read(ml_tbl.nbits[ml_s])
            of_s = of_tbl.base[of_s] + rd.read(of_tbl.nbits[of_s])
        if rd.avail < 0:
            raise ValueError("zstd: sequence bitstream underflow")
        if lit_pos + ll > len(literals):
            raise ValueError("zstd: literals overrun")
        _emit(out, literals[lit_pos : lit_pos + ll], max_output)
        lit_pos += ll
        dict_content = state.get("dict_content", b"")
        if offset > len(out) + len(dict_content):
            raise ValueError("zstd: match offset beyond window")
        if max_output is not None and len(out) + ml > max_output:
            raise ValueError("zstd: output exceeds max_output")
        start = len(out) - offset
        if start >= 0:
            for j in range(ml):  # byte-wise: overlap (offset < len) is legal
                out.append(out[start + j])
        else:
            # the match begins inside the dictionary content; it may run
            # off the dictionary's end into the produced output
            take = min(ml, -start)
            out += dict_content[len(dict_content) + start :][:take]
            for j in range(take, ml):
                out.append(out[start + j])
    if not rd.exhausted():
        raise ValueError("zstd: sequence bitstream not fully consumed")
    _emit(out, literals[lit_pos:], max_output)
    state["reps"] = reps


def _emit(out: bytearray, data, max_output) -> None:
    if max_output is not None and len(out) + len(data) > max_output:
        raise ValueError("zstd: output exceeds max_output")
    out += data


# ---------------------------------------------------------------------------
# Dictionaries (RFC 8878 §5)
# ---------------------------------------------------------------------------

_DICT_MAGIC = 0xEC30A437


def parse_zstd_dictionary(blob: bytes) -> dict:
    """Parse a zstd dictionary: the structured format (magic 0xEC30A437,
    dictionary id, entropy tables — Huffman for literals then FSE for
    Offsets/Match_Lengths/Literals_Lengths — three starting repeat
    offsets, then the content) or, per the RFC's fallback, RAW CONTENT
    (any blob without the magic: window prefill only, default tables).
    The returned dict plugs into :func:`zstd_decompress`."""
    blob = bytes(blob)
    if len(blob) >= 8 and struct.unpack_from("<I", blob)[0] == _DICT_MAGIC:
        (dict_id,) = struct.unpack_from("<I", blob, 4)
        pos = 8
        weights, used = _read_huf_weights(blob, pos)
        huf = _HufTable(weights)
        pos += used
        tables = {}
        for kind, max_sym, max_log in (("of", 31, 8), ("ml", 52, 9), ("ll", 35, 9)):
            counts, log, n = _fse_read_ncount(blob, pos, max_sym, max_log)
            tables[kind] = _FseTable.from_counts(counts, log)
            pos += n
        if pos + 12 > len(blob):
            raise ValueError("zstd: dictionary truncated before rep offsets")
        reps = list(struct.unpack_from("<III", blob, pos))
        pos += 12
        content = blob[pos:]
        for r in reps:
            if r == 0 or r > len(content):
                raise ValueError("zstd: dictionary rep offset out of range")
        return {
            "dict_id": dict_id,
            "huf": huf,
            "ll": tables["ll"],
            "of": tables["of"],
            "ml": tables["ml"],
            "reps": reps,
            "content": content,
        }
    return {"dict_id": 0, "reps": [1, 4, 8], "content": blob}


def _dict_state(dictionary: "dict | None") -> dict:
    """Initial per-frame decode state, seeded from a parsed dictionary:
    the dict's entropy tables serve the first block's Repeat/Treeless
    modes, its rep offsets replace [1, 4, 8], and its content extends
    the match window below output offset 0."""
    state = {"reps": [1, 4, 8]}
    if dictionary is not None:
        state["reps"] = list(dictionary["reps"])
        state["dict_content"] = dictionary["content"]
        for k in ("huf", "ll", "of", "ml"):
            if k in dictionary:
                state[k] = dictionary[k]
    return state


# ---------------------------------------------------------------------------
# Frames
# ---------------------------------------------------------------------------


def _decode_frame(p, pos: int, max_output, dictionary=None):
    """One zstd frame at ``pos`` → (content bytes, next position)."""
    if pos + 4 > len(p):
        raise ValueError("zstd: truncated magic")
    (magic,) = struct.unpack_from("<I", p, pos)
    if magic != _MAGIC:
        raise ValueError("zstd: bad magic number")
    pos += 4
    if pos >= len(p):
        raise ValueError("zstd: missing frame header")
    fhd = p[pos]
    pos += 1
    if fhd & 0x08:
        raise ValueError("zstd: reserved frame header bit set")
    single = bool(fhd & 0x20)
    checksum = bool(fhd & 0x04)
    did_size = (0, 1, 2, 4)[fhd & 3]
    fcs_flag = fhd >> 6
    fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
    if not single:
        if pos >= len(p):
            raise ValueError("zstd: missing window descriptor")
        wd = p[pos]
        pos += 1
        window = (1 << (10 + (wd >> 3))) + ((1 << (10 + (wd >> 3))) // 8) * (wd & 7)
    frame_did = 0
    if did_size:
        frame_did = int.from_bytes(bytes(p[pos : pos + did_size]), "little")
        pos += did_size
    if frame_did:
        if dictionary is None:
            raise ValueError(f"zstd: frame wants dictionary {frame_did}, none given")
        if dictionary["dict_id"] not in (0, frame_did):
            raise ValueError(
                f"zstd: frame wants dictionary {frame_did}, "
                f"got {dictionary['dict_id']}"
            )
    content_size = None
    if fcs_size:
        if pos + fcs_size > len(p):
            raise ValueError("zstd: truncated content size")
        content_size = int.from_bytes(bytes(p[pos : pos + fcs_size]), "little")
        if fcs_size == 2:
            content_size += 256
        pos += fcs_size
    if single:
        window = content_size if content_size is not None else 0
    out = bytearray()
    state = _dict_state(dictionary)
    block_cap = min(window, _BLOCK_MAX) if window else _BLOCK_MAX
    while True:
        if pos + 3 > len(p):
            raise ValueError("zstd: truncated block header")
        hdr = p[pos] | (p[pos + 1] << 8) | (p[pos + 2] << 16)
        pos += 3
        last = hdr & 1
        btype = (hdr >> 1) & 3
        bsize = hdr >> 3
        if btype == 0:  # raw
            if bsize > block_cap:
                raise ValueError("zstd: raw block exceeds block maximum")
            if pos + bsize > len(p):
                raise ValueError("zstd: truncated raw block")
            _emit(out, p[pos : pos + bsize], max_output)
            pos += bsize
        elif btype == 1:  # RLE
            if pos >= len(p):
                raise ValueError("zstd: truncated RLE block")
            if bsize > block_cap:
                raise ValueError("zstd: RLE block exceeds block maximum")
            _emit(out, bytes([p[pos]]) * bsize, max_output)
            pos += 1
        elif btype == 2:  # compressed
            if pos + bsize > len(p):
                raise ValueError("zstd: truncated compressed block")
            before = len(out)
            _decode_block(p[pos : pos + bsize], out, state, max_output)
            if len(out) - before > block_cap:
                raise ValueError("zstd: block decompresses past block maximum")
            pos += bsize
        else:
            raise ValueError("zstd: reserved block type")
        if last:
            break
    if content_size is not None and len(out) != content_size:
        raise ValueError("zstd: content size mismatch")
    if checksum:
        if pos + 4 > len(p):
            raise ValueError("zstd: truncated content checksum")
        (want,) = struct.unpack_from("<I", p, pos)
        pos += 4
        if xxh64(bytes(out)) & 0xFFFFFFFF != want:
            raise ValueError("zstd: content checksum mismatch")
    return bytes(out), pos


def zstd_decompress(
    payload: bytes, max_output: int | None = None, dictionary=None
) -> bytes:
    """Decompress a single zstd frame (skippable frames are skipped);
    trailing garbage raises. ``max_output`` is the bomb guard;
    ``dictionary`` is raw bytes or a :func:`parse_zstd_dictionary`
    result for dictionary-compressed frames."""
    frames = zstd_frames(payload, max_output=max_output, dictionary=dictionary)
    if len(frames) != 1:
        raise ValueError(f"zstd: expected one frame, found {len(frames)}")
    return frames[0]


def zstd_frames(
    payload: bytes, max_output: int | None = None, dictionary=None
) -> list[bytes]:
    """All frames in a concatenated stream (the multi-frame convention,
    mirroring gzip_members); skippable frames are dropped."""
    if dictionary is not None and not isinstance(dictionary, dict):
        dictionary = parse_zstd_dictionary(dictionary)
    p = bytes(payload)
    out = []
    pos = 0
    total = 0
    while pos < len(p):
        if pos + 8 <= len(p):
            (magic,) = struct.unpack_from("<I", p, pos)
            if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
                (sz,) = struct.unpack_from("<I", p, pos + 4)
                pos += 8 + sz
                if pos > len(p):
                    raise ValueError("zstd: truncated skippable frame")
                continue
        # the bomb guard bounds the TOTAL across frames — per-frame
        # budgets would let frame concatenation multiply the cap
        # (round-12 self-review)
        budget = None if max_output is None else max_output - total
        content, pos = _decode_frame(p, pos, budget, dictionary)
        total += len(content)
        out.append(content)
    return out


# ---------------------------------------------------------------------------
# Encoder — raw/RLE framing (always available); see zstd_encode for the
# compressed path (huff0 literals + predefined-FSE sequences).
# ---------------------------------------------------------------------------


def zstd_compress(
    raw: bytes,
    method: str = "store",
    checksum: bool = True,
    dictionary=None,
) -> bytes:
    """Frame writer. ``store`` emits raw blocks (RLE where a chunk is a
    single repeated byte) — the spec-minimal encoder used for
    constructed-exact wire tests; ``compressed`` routes through the real
    entropy path in :func:`_compress_block` (huff0 literals +
    greedy-LZ sequences on predefined tables). ``dictionary`` (raw
    bytes or a :func:`parse_zstd_dictionary` result) makes this a
    DICTIONARY frame: the frame header carries the Dictionary_ID, the
    repeat-offset history starts from the dictionary's, and the first
    block's matcher may copy from the dictionary content (offsets
    reaching below output position 0 — RFC 8878 §3.1.1.4)."""
    raw = bytes(raw)
    n = len(raw)
    if dictionary is not None and not isinstance(dictionary, dict):
        dictionary = parse_zstd_dictionary(dictionary)
    dict_id = dictionary["dict_id"] if dictionary is not None else 0
    did_flag = 3 if dict_id else 0  # 4-byte Dictionary_ID field
    fhd = 0x20 | (0x04 if checksum else 0) | did_flag  # single segment
    if n < 256:
        fcs_flag, fcs = 0, struct.pack("<B", n)
    elif n <= 0xFFFF + 256:
        fcs_flag, fcs = 1, struct.pack("<H", n - 256)
    elif n <= 0xFFFFFFFF:
        fcs_flag, fcs = 2, struct.pack("<I", n)
    else:
        fcs_flag, fcs = 3, struct.pack("<Q", n)
    out = bytearray(struct.pack("<I", _MAGIC))
    out.append(fhd | (fcs_flag << 6))
    if dict_id:
        out += struct.pack("<I", dict_id)  # Dictionary_ID precedes FCS
    out += fcs
    chunks = [raw[i : i + _BLOCK_MAX] for i in range(0, n, _BLOCK_MAX)] or [b""]
    reps = list(dictionary["reps"]) if dictionary is not None else [1, 4, 8]
    window = dictionary["content"] if dictionary is not None else b""
    for i, chunk in enumerate(chunks):
        last = 1 if i == len(chunks) - 1 else 0
        if method == "compressed" and len(chunk) >= 16:
            # dictionary content serves the FIRST block's matcher (the
            # fixture payloads are single-block; later blocks would need
            # dict_content + prior chunks threaded as window)
            res = _compress_block(chunk, reps, window=window if i == 0 else b"")
            if res is not None:
                body, reps = res
                out += struct.pack("<I", last | (2 << 1) | (len(body) << 3))[:3]
                out += body
                continue
        if len(chunk) > 1 and chunk.count(chunk[0]) == len(chunk):
            out += struct.pack("<I", last | (1 << 1) | (len(chunk) << 3))[:3]
            out.append(chunk[0])
        else:
            out += struct.pack("<I", last | (0 << 1) | (len(chunk) << 3))[:3]
            out += chunk
    if checksum:
        out += struct.pack("<I", xxh64(raw) & 0xFFFFFFFF)
    return bytes(out)


def _compress_block(chunk: bytes, reps: list[int], window: bytes = b""):
    """Entropy-coded block writer: (body, new_reps), or None to fall
    back to raw framing."""
    # function-local: zstd_encode imports this module
    from yark_spark.operators.zstd_encode import compress_block

    return compress_block(chunk, reps, window=window)


# ---------------------------------------------------------------------------
# Seekable format (public zstd seekable-format spec): independent frames
# + a seek table in a skippable frame, so ONE huge .zst object is
# splittable — each frame decompresses alone, which is what lets a
# cluster parallelize the entropy decode of a single shard.
# ---------------------------------------------------------------------------

_SEEKABLE_MAGIC = 0x8F92EAB1
_SEEK_SKIPPABLE = 0x184D2A5E


def zstd_seekable_compress(
    raw: bytes, frame_size: int = 1 << 16, method: str = "compressed"
) -> bytes:
    """Split ``raw`` into independent zstd frames of ``frame_size``
    uncompressed bytes and append the seek table (skippable frame magic
    0x184D2A5E; per-frame compressed/decompressed sizes; footer =
    frame count, descriptor, 0x8F92EAB1). The output is a valid plain
    zstd stream (zstd_frames decodes it whole, the seek table being
    skippable) AND a random-access one (zstd_seek_table finds every
    frame boundary)."""
    raw = bytes(raw)
    chunks = [raw[i : i + frame_size] for i in range(0, len(raw), frame_size)] or [
        b""
    ]
    return zstd_seekable_compress_chunks(chunks, method=method)


def zstd_seekable_compress_chunks(chunks, method: str = "compressed") -> bytes:
    """Seekable stream from CALLER-CHOSEN chunks — record-aligned frame
    boundaries (a .jsonl packer cuts at line ends so every frame is
    independently parseable; the byte-count variant above is for opaque
    payloads)."""
    frames = [zstd_compress(bytes(c), method=method) for c in chunks]
    entries = bytearray()
    for f, c in zip(frames, chunks):
        entries += struct.pack("<II", len(f), len(c))
    table = (
        struct.pack("<II", _SEEK_SKIPPABLE, len(entries) + 9)
        + bytes(entries)
        + struct.pack("<IBI", len(frames), 0, _SEEKABLE_MAGIC)
    )
    return b"".join(frames) + table


def zstd_seek_table(payload: bytes) -> list[tuple[int, int, int]]:
    """Parse the seekable-format footer → one (compressed_offset,
    compressed_size, decompressed_size) triple per frame. Raises
    ValueError when the payload carries no seek table."""
    p = bytes(payload)
    if len(p) < 9:
        raise ValueError("zstd: no room for a seekable footer")
    (n_frames, desc, magic) = struct.unpack_from("<IBI", p, len(p) - 9)
    if magic != _SEEKABLE_MAGIC:
        raise ValueError("zstd: seekable footer magic missing")
    if desc & 0x7C:
        raise ValueError("zstd: reserved seekable descriptor bits set")
    entry_sz = 12 if desc & 0x80 else 8
    table_sz = n_frames * entry_sz + 9
    start = len(p) - 8 - table_sz  # skippable header sits before the table
    if start < 0:
        raise ValueError("zstd: seek table larger than payload")
    (skip_magic, skip_sz) = struct.unpack_from("<II", p, start)
    if skip_magic != _SEEK_SKIPPABLE or skip_sz != table_sz:
        raise ValueError("zstd: seek table skippable framing invalid")
    out = []
    off = 0
    pos = start + 8
    for _ in range(n_frames):
        c_sz, d_sz = struct.unpack_from("<II", p, pos)
        pos += entry_sz
        out.append((off, c_sz, d_sz))
        off += c_sz
    if off != start:
        raise ValueError("zstd: seek table does not cover the frames")
    return out
