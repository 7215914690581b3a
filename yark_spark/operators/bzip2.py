"""bzip2 codec (round 12). Decoding runs in stdlib ``bz2``
(libbzip2): :func:`bz2_decompress` walks concatenated streams (the
Wikipedia *multistream* dump layout) under a bomb guard and maps
libbzip2's errors onto typed ``ValueError``. The encoder is a conformant
pure-Python one (fixture bytes are pinned to it): the initial
run-length layer, numpy rank-doubling BWT, move-to-front with RUNA/RUNB
zero runs, package-merge length-limited Huffman reused from the DEFLATE
work, canonical code emission, and both CRC layers (bzip2's
non-reflected CRC-32 per block plus the rotate-combine stream CRC).
libbzip2 must read its output byte-exactly — the external pin
tests/test_bzip2.py holds it to.

Why this format: Wikipedia database dumps — a canonical LLM pretraining
source — ship exclusively as ``.xml.bz2`` (including the multistream
variant, which is just concatenated bzip2 streams, walked the way the
gzip reader walks multi-member files). With gzip, zstd, LZ4 and bzip2,
every compression wrapper a public text corpus actually arrives in
decodes through ``containers.decompress_auto``.

Reference parity note: the reference archiver ingests from archives
(/root/reference/cmds/archive.py:317-327) but stores bytes opaquely;
decoding them is mandate-side training-pipeline surface.
"""

from __future__ import annotations

import bz2

import numpy as np

from yark_spark.operators.png import _canon_codes, _limited_code_lengths

__all__ = ["bz2_compress", "bz2_decompress", "bzip2_crc32"]

_BLOCK_MAGIC = 0x314159265359
_FOOTER_MAGIC = 0x177245385090
_GROUP_SIZE = 50  # symbols per Huffman selector
_MAX_HUFF_LEN = 17  # code-length cap, the one libbzip2's own encoder uses


# ---------------------------------------------------------------------------
# bzip2 CRC-32: poly 0x04C11DB7, MSB-first (NOT reflected like zlib's),
# init/final 0xFFFFFFFF
# ---------------------------------------------------------------------------


def _make_table() -> list[int]:
    table = []
    for byte in range(256):
        crc = byte << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if crc & 0x80000000 else (
                crc << 1
            ) & 0xFFFFFFFF
        table.append(crc)
    return table


_CRC_TABLE = _make_table()


def bzip2_crc32(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# Bit writer — one continuous MSB-first bitstream (bzip2 has no byte
# alignment anywhere between the header and the final padding)
# ---------------------------------------------------------------------------


class _Writer:
    __slots__ = ("buf", "acc", "nacc")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, n: int) -> None:
        if n == 0:
            return
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nacc += n
        if self.nacc >= 8:  # move every whole byte out in one step
            keep = self.nacc & 7
            self.buf += (self.acc >> keep).to_bytes(self.nacc >> 3, "big")
            self.acc &= (1 << keep) - 1
            self.nacc = keep

    def getvalue(self) -> bytes:
        if self.nacc:  # zero-pad the final byte (stream end only)
            return bytes(self.buf) + bytes(
                [(self.acc << (8 - self.nacc)) & 0xFF]
            )
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# RLE1 — the initial run-length layer (runs of 4-255 → 4 bytes + count)
# ---------------------------------------------------------------------------


def _rle1_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while run < 259 and i + run < n and data[i + run] == data[i]:
            run += 1
        if run >= 4:
            out += data[i : i + 4]
            out.append(run - 4)
            i += run
        else:
            out += data[i : i + run]
            i += run
    return bytes(out)


# ---------------------------------------------------------------------------
# BWT — numpy rank-doubling over cyclic rotations (O(n log² n); never
# the quadratic sorted-rotations shortcut)
# ---------------------------------------------------------------------------


def _bwt_encode(data: bytes) -> tuple[bytes, int]:
    n = len(data)
    if n == 0:
        raise ValueError("bzip2: empty block")
    if n == 1:
        return data, 0
    a = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    order = np.argsort(a, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    key = a[order]
    rank[order] = np.cumsum(np.concatenate(([0], (np.diff(key) != 0).astype(np.int64))))
    k = 1
    idx = np.arange(n)
    while k < n:
        second = rank[(idx + k) % n]
        order = np.lexsort((second, rank))
        r1, r2 = rank[order], second[order]
        changed = np.concatenate(
            ([0], ((np.diff(r1) != 0) | (np.diff(r2) != 0)).astype(np.int64))
        )
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(changed)
        rank = new_rank
        if rank[order[-1]] == n - 1:
            break
        k <<= 1
    last = a[(order - 1) % n].astype(np.uint8)
    orig_ptr = int(np.nonzero(order == 0)[0][0])
    return last.tobytes(), orig_ptr


# ---------------------------------------------------------------------------
# MTF + RUNA/RUNB
# ---------------------------------------------------------------------------


def _mtf_rle2_encode(bwt: bytes, used: list[int]) -> list[int]:
    """BWT bytes → MTF symbol stream with zero runs as RUNA/RUNB
    (bijective base 2) and symbols shifted by +1; EOB appended by the
    caller. Alphabet: 0=RUNA, 1=RUNB, 2..=MTF values 1.., EOB last."""
    stack = list(used)
    out: list[int] = []
    zrun = 0

    def flush() -> None:
        nonlocal zrun
        z = zrun
        while z > 0:
            z -= 1
            out.append(z & 1)  # 0 → RUNA, 1 → RUNB
            z >>= 1
        zrun = 0

    for b in bwt:
        j = stack.index(b)
        if j == 0:
            zrun += 1
            continue
        flush()
        stack.insert(0, stack.pop(j))
        out.append(j + 1)  # MTF value j → symbol j+1
    flush()
    return out


# ---------------------------------------------------------------------------
# Huffman (canonical, MSB-first — increasing length, symbol order)
# ---------------------------------------------------------------------------


def _write_lengths(w: _Writer, lens: list[int]) -> None:
    cur = lens[0]
    w.write(cur, 5)
    for ln in lens:
        while cur < ln:
            w.write(0b10, 2)
            cur += 1
        while cur > ln:
            w.write(0b11, 2)
            cur -= 1
        w.write(0, 1)


# ---------------------------------------------------------------------------
# Stream decode (libbzip2)
# ---------------------------------------------------------------------------


def bz2_decompress(payload: bytes, max_output: int = 1 << 26) -> bytes:
    """bzip2 stream(s) → raw bytes through libbzip2. Concatenated
    streams (the Wikipedia *multistream* dump layout) decode like
    multi-member gzip: after one stream ends, the next bytes must open
    another ``BZh`` stream. Output past ``max_output`` raises."""
    rest = bytes(payload)
    if len(rest) < 10:
        raise ValueError("bzip2: payload too short")
    parts = []
    produced = 0
    while rest:
        if rest[:3] != b"BZh":
            raise ValueError("bzip2: bad stream magic")
        d = bz2.BZ2Decompressor()
        try:
            part = d.decompress(rest, max_output + 1 - produced)
        except OSError as e:
            raise ValueError(f"bzip2: {e}") from None
        parts.append(part)
        produced += len(part)
        if produced > max_output:
            raise ValueError("bzip2: output exceeds bomb guard")
        if not d.eof:
            raise ValueError("bzip2: truncated stream")
        rest = d.unused_data
    return b"".join(parts)


# ---------------------------------------------------------------------------
# Stream encode
# ---------------------------------------------------------------------------


def _encode_block(w: _Writer, raw: bytes) -> int:
    crc = bzip2_crc32(raw)
    w.write(_BLOCK_MAGIC, 48)
    w.write(crc, 32)
    w.write(0, 1)  # not randomized
    rle1 = _rle1_encode(raw)
    bwt, orig_ptr = _bwt_encode(rle1)
    w.write(orig_ptr, 24)

    used = sorted(set(bwt))
    groups_used = 0
    for b in used:
        groups_used |= 0x8000 >> (b >> 4)
    w.write(groups_used, 16)
    for g in range(16):
        if groups_used & (0x8000 >> g):
            bits = 0
            for b in used:
                if b >> 4 == g:
                    bits |= 0x8000 >> (b & 15)
            w.write(bits, 16)

    symbols = _mtf_rle2_encode(bwt, used)
    alpha = len(used) + 2
    symbols.append(alpha - 1)  # EOB

    n_groups = 2  # minimum legal; one optimal table emitted twice
    n_selectors = (len(symbols) + _GROUP_SIZE - 1) // _GROUP_SIZE
    w.write(n_groups, 3)
    w.write(n_selectors, 15)
    w.write(0, n_selectors)  # every selector MTF index 0 → unary '0'

    freqs = [0] * alpha
    for s in symbols:
        freqs[s] += 1
    lens = _limited_code_lengths(freqs, _MAX_HUFF_LEN)
    # every symbol needs a length (bzip2 tables are dense over the
    # alphabet); unused symbols get the max used length
    fill = max((l for l in lens if l), default=1)
    lens = [l if l else min(fill + 1, _MAX_HUFF_LEN) for l in lens]
    for _ in range(n_groups):
        _write_lengths(w, lens)

    # canonical codes under the bzip2 assignment: increasing length,
    # symbol order within a length — exactly the RFC 1951 rule
    codes = [
        bin((1 << ln) | (code & ((1 << ln) - 1)))[3:] for code, ln in _canon_codes(lens)
    ]
    # all symbol codes as one write (EOB makes it non-empty)
    bits = "".join(map(codes.__getitem__, symbols))
    w.write(int(bits, 2), len(bits))
    return crc


def bz2_compress(data: bytes, level: int = 9) -> bytes:
    """Raw bytes → one bzip2 stream. Blocks are cut so the post-RLE1
    size respects the level's 100k·level limit (RLE1 expands ≤ 5/4)."""
    data = bytes(data)
    if not 1 <= level <= 9:
        raise ValueError("bzip2: level must be 1-9")
    w = _Writer()
    w.write(0x425A68, 24)  # 'BZh'
    w.write(0x30 + level, 8)
    combined = 0
    max_raw = level * 100_000 * 4 // 5
    if not data:
        # an empty stream is just the footer with CRC 0 (libbzip2 parity)
        w.write(_FOOTER_MAGIC, 48)
        w.write(0, 32)
        return w.getvalue()
    for off in range(0, len(data), max_raw):
        crc = _encode_block(w, data[off : off + max_raw])
        combined = (((combined << 1) | (combined >> 31)) ^ crc) & 0xFFFFFFFF
    w.write(_FOOTER_MAGIC, 48)
    w.write(combined, 32)
    return w.getvalue()
