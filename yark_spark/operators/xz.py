"""xz / LZMA codec from scratch (round 13): the fifth and last member
of the shard-compression family (gzip, zstd, lz4, bzip2, **xz**) —
scientific datasets, software archives, and long-tail HF exports ship
``.jsonl.xz`` / ``.tar.xz``, and a 100 TB ingest meets them.

Implemented from the public LZMA specification (Igor Pavlov's
``lzma-specification.txt``, 7-Zip SDK docs) and the xz file-format
spec (tukaani.org/xz/xz-file-format.txt), both directions:

* **LZMA1 core** — the 11-bit adaptive binary range coder (shift-low
  carry propagation on the encode side), the 12-state literal/match/
  rep state machine, position-context literals with matched-byte
  decoding after matches, the 2-level length coder, the 6-bit pos-slot
  + SpecPos reverse bit-trees + 4-bit align distance model, and the
  4-deep repeat-distance history.
* **LZMA2 chunk layer** — compressed chunks (control ``0x80+`` with
  unpacked/packed size fields and the props/state/dict reset ladder)
  and uncompressed chunks (``0x01``/``0x02``), each compressed chunk a
  fresh range-coded stream, the dictionary window SHARED across chunks
  until an explicit dict reset.
* **.xz container** — stream header/footer (flags CRC-mirrored, the
  backward-size cross-check), block headers (filter chain, padding,
  CRC32), per-block integrity checks (None / CRC32 / **CRC64-ECMA
  built from the reflected polynomial** / SHA256), the Index (varint
  records cross-checked against the parsed blocks), stream padding and
  multi-stream concatenation.

The encoder is a real greedy hash-chain matcher (literals, matches,
rep0 reuse) so fixtures put every decoder path on the wire; chunk
modes and check ids CYCLE per shard in the fixture layer.

CRC64's check-input vector (``123456789`` → ``0x995DC9BBDF1939FA``)
and hand-built container grammars are pinned in tests/test_xz.py; no
lzma/xz library exists in the container, so the suite pins wire
vectors + 500-trial roundtrip fuzz; ROUND 14 FOUND stdlib liblzma
IS in the container (Python's lzma module) and added permanent
real-library lanes both directions — every frame we write decodes
in liblzma, every liblzma preset (0/6/9e) decodes here, and
[DELTA, LZMA2] filter chains written by the real library decode
through the new non-terminal-filter support (the
zstd/E95 precedent).

Reference parity note: the reference archiver stores fetched payloads
opaquely (/root/reference/cmds/archive.py:88-91); shard codecs are
driver-mandated training-pipeline surface (SURVEY.md §2.8).

Boundaries (documented, typed): RISC-V BCJ (0x0B — xz 5.6 data, this
container's liblzma 5.4 has no encoder to extract an oracle from)
raises ``NotImplementedError``; Delta (0x03, round 14 s2), the
x86/PowerPC/IA64/ARM/ARM-Thumb/SPARC branch rewriters (round 14 s3)
and ARM64 (round 15 — liblzma carries it behind CPython's filter-id
gate; the oracle drives the C library via ctypes) decode, each pinned
liblzma-byte-exact both directions; malformed streams raise
``ValueError`` so the ingest quarantine keeps corrupt shards as
rows.
"""

from __future__ import annotations

import hashlib
import struct
import zlib


__all__ = [
    "crc64",
    "lzma1_compress",
    "lzma1_decompress",
    "lzma2_compress",
    "lzma2_decompress",
    "xz_compress",
    "xz_decompress",
]

# ---------------------------------------------------------------------------
# CRC64-ECMA (xz check id 0x04): reflected polynomial, init/xorout all-ones
# ---------------------------------------------------------------------------

_CRC64_POLY = 0xC96C5795D7870F42  # reflected ECMA-182
_CRC64_TABLE: list[int] | None = None


def _crc64_table() -> list[int]:
    global _CRC64_TABLE
    if _CRC64_TABLE is None:
        tbl = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (_CRC64_POLY ^ (c >> 1)) if (c & 1) else (c >> 1)
            tbl.append(c)
        _CRC64_TABLE = tbl
    return _CRC64_TABLE


def crc64(data: bytes, crc: int = 0) -> int:
    tbl = _crc64_table()
    c = crc ^ 0xFFFFFFFFFFFFFFFF
    for b in data:
        c = tbl[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFFFFFFFFFF


# ---------------------------------------------------------------------------
# LZMA model constants
# ---------------------------------------------------------------------------

_NUM_STATES = 12
_NUM_POS_STATES_MAX = 16
_MATCH_MIN_LEN = 2
_START_POS_MODEL = 4
_END_POS_MODEL = 14
_NUM_FULL_DISTANCES = 1 << (_END_POS_MODEL >> 1)  # 128
_ALIGN_BITS = 4
_PROB_INIT = 1024  # 2048 / 2
_MAX_MATCH_LEN = _MATCH_MIN_LEN + 255 + 16  # 273


def _len_to_pos_state(length: int) -> int:
    return min(length - _MATCH_MIN_LEN, 3)


class _LzmaProbs:
    """The full probability model for one (lc, lp, pb) parameter set.
    Every array is a flat list of 11-bit probabilities initialised to
    the midpoint; ``reset()`` re-initialises (LZMA2 state reset)."""

    def __init__(self, lc: int, lp: int, pb: int):
        self.lc, self.lp, self.pb = lc, lp, pb
        self.reset()

    def reset(self) -> None:
        p = _PROB_INIT
        n_ps = 1 << self.pb
        self.is_match = [p] * (_NUM_STATES << 4)
        self.is_rep = [p] * _NUM_STATES
        self.is_rep_g0 = [p] * _NUM_STATES
        self.is_rep_g1 = [p] * _NUM_STATES
        self.is_rep_g2 = [p] * _NUM_STATES
        self.is_rep0_long = [p] * (_NUM_STATES << 4)
        self.literal = [
            [p] * 0x300 for _ in range(1 << (self.lc + self.lp))
        ]
        self.pos_slot = [[p] * 64 for _ in range(4)]
        self.spec_pos = [p] * (_NUM_FULL_DISTANCES - _END_POS_MODEL)
        self.align = [p] * (1 << _ALIGN_BITS)
        # length coders: [choice, choice2, low×8×pos, mid×8×pos, high×256]
        self.len_choice = [p, p]
        self.len_low = [[p] * 8 for _ in range(n_ps)]
        self.len_mid = [[p] * 8 for _ in range(n_ps)]
        self.len_high = [p] * 256
        self.rep_choice = [p, p]
        self.rep_low = [[p] * 8 for _ in range(n_ps)]
        self.rep_mid = [[p] * 8 for _ in range(n_ps)]
        self.rep_high = [p] * 256


def _parse_props_byte(b: int) -> tuple[int, int, int]:
    if b >= 9 * 5 * 5:
        raise ValueError("lzma: invalid properties byte")
    lc = b % 9
    b //= 9
    lp = b % 5
    pb = b // 5
    return lc, lp, pb


def _props_byte(lc: int, lp: int, pb: int) -> int:
    return (pb * 5 + lp) * 9 + lc


# ---------------------------------------------------------------------------
# Range decoder
# ---------------------------------------------------------------------------


class _RangeDecoder:
    def __init__(self, data: bytes, pos: int):
        if pos + 5 > len(data):
            raise ValueError("lzma: truncated range-coder init")
        if data[pos] != 0:
            raise ValueError("lzma: first range-coder byte must be 0")
        self.data = data
        self.pos = pos + 5
        self.range = 0xFFFFFFFF
        self.code = int.from_bytes(data[pos + 1 : pos + 5], "big")

    def _normalize(self) -> None:
        if self.range < (1 << 24):
            if self.pos >= len(self.data):
                raise ValueError("lzma: range decoder ran past end")
            self.range = (self.range << 8) & 0xFFFFFFFF
            self.code = ((self.code << 8) | self.data[self.pos]) & 0xFFFFFFFF
            self.pos += 1

    def bit(self, probs: list, i: int) -> int:
        prob = probs[i]
        bound = (self.range >> 11) * prob
        if self.code < bound:
            self.range = bound
            probs[i] = prob + ((2048 - prob) >> 5)
            self._normalize()
            return 0
        self.range -= bound
        self.code -= bound
        probs[i] = prob - (prob >> 5)
        self._normalize()
        return 1

    def bittree(self, probs: list, nbits: int) -> int:
        m = 1
        for _ in range(nbits):
            m = (m << 1) | self.bit(probs, m)
        return m - (1 << nbits)

    def bittree_reverse(self, probs: list, base: int, nbits: int) -> int:
        m = 1
        sym = 0
        for i in range(nbits):
            b = self.bit(probs, base + m)
            m = (m << 1) | b
            sym |= b << i
        return sym

    def direct_bits(self, nbits: int) -> int:
        res = 0
        for _ in range(nbits):
            self.range >>= 1
            res <<= 1
            if self.code >= self.range:
                self.code -= self.range
                res |= 1
            self._normalize()
        return res

    def finished_ok(self) -> bool:
        return self.code == 0


def _decode_len(rc: _RangeDecoder, p: _LzmaProbs, rep: bool, pos_state: int) -> int:
    choice = p.rep_choice if rep else p.len_choice
    low = p.rep_low if rep else p.len_low
    mid = p.rep_mid if rep else p.len_mid
    high = p.rep_high if rep else p.len_high
    if rc.bit(choice, 0) == 0:
        return _MATCH_MIN_LEN + rc.bittree(low[pos_state], 3)
    if rc.bit(choice, 1) == 0:
        return _MATCH_MIN_LEN + 8 + rc.bittree(mid[pos_state], 3)
    return _MATCH_MIN_LEN + 16 + rc.bittree(high, 8)


class _LzmaDecoder:
    """Raw LZMA1 decoder over a shared output window. ``out`` persists
    across LZMA2 chunks; ``dict_start`` marks the last dictionary
    reset (matches must not reach behind it)."""

    def __init__(self):
        self.out = bytearray()
        self.dict_start = 0
        self.probs: _LzmaProbs | None = None
        self.state = 0
        self.reps = [0, 0, 0, 0]

    def reset_dict(self) -> None:
        self.dict_start = len(self.out)

    def reset_state(self, props_byte: int | None) -> None:
        if props_byte is not None:
            lc, lp, pb = _parse_props_byte(props_byte)
            if self.probs is None or (lc, lp, pb) != (
                self.probs.lc,
                self.probs.lp,
                self.probs.pb,
            ):
                self.probs = _LzmaProbs(lc, lp, pb)
            else:
                self.probs.reset()
        else:
            if self.probs is None:
                raise ValueError("lzma2: state reset before any props")
            self.probs.reset()
        self.state = 0
        self.reps = [0, 0, 0, 0]

    def decode_chunk(
        self, data: bytes, pos: int, packed: int, unpacked: int,
        max_output: int, eos_ok: bool = False,
    ) -> None:
        """Decode exactly ``unpacked`` bytes from the ``packed``-byte
        range-coded stream at ``data[pos:]``. ``eos_ok`` accepts a raw
        LZMA1 stream (the ZIP method-14 / lzma_alone shape): an end
        marker may terminate early, and trailing flush bytes after the
        target are tolerated."""
        p = self.probs
        if p is None:
            raise ValueError("lzma2: chunk before props")
        end_pos = pos + packed
        if end_pos > len(data):
            raise ValueError("lzma2: packed chunk past end")
        rc = _RangeDecoder(data[:end_pos], pos)
        out = self.out
        target = len(out) + unpacked
        if target - self.dict_start > max_output:
            raise ValueError("lzma: output exceeds bomb guard")
        pb_mask = (1 << p.pb) - 1
        lp_mask = (1 << p.lp) - 1
        lc = p.lc
        while len(out) < target:
            dpos = len(out) - self.dict_start  # position within dictionary
            pos_state = dpos & pb_mask
            if rc.bit(p.is_match, (self.state << 4) + pos_state) == 0:
                prev = out[-1] if len(out) > self.dict_start else 0
                lit_ctx = ((dpos & lp_mask) << lc) + (prev >> (8 - lc) if lc else 0)
                probs = p.literal[lit_ctx]
                if self.state >= 7:
                    avail = len(out) - self.dict_start
                    if self.reps[0] + 1 > avail:
                        raise ValueError("lzma: matched literal before window")
                    match_byte = out[len(out) - self.reps[0] - 1]
                    sym = 1
                    while sym < 0x100:
                        match_bit = (match_byte >> 7) & 1
                        match_byte = (match_byte << 1) & 0xFF
                        b = rc.bit(probs, ((1 + match_bit) << 8) + sym)
                        sym = (sym << 1) | b
                        if match_bit != b:
                            while sym < 0x100:
                                sym = (sym << 1) | rc.bit(probs, sym)
                            break
                else:
                    sym = 1
                    while sym < 0x100:
                        sym = (sym << 1) | rc.bit(probs, sym)
                out.append(sym & 0xFF)
                s = self.state
                self.state = 0 if s < 4 else (s - 3 if s < 10 else s - 6)
                continue
            # match / rep
            if rc.bit(p.is_rep, self.state) == 1:
                avail = len(out) - self.dict_start
                if avail == 0:
                    raise ValueError("lzma: rep with empty window")
                if rc.bit(p.is_rep_g0, self.state) == 0:
                    if rc.bit(p.is_rep0_long, (self.state << 4) + pos_state) == 0:
                        # short rep: single byte at rep0
                        if self.reps[0] + 1 > avail:
                            raise ValueError("lzma: short rep before window")
                        out.append(out[len(out) - self.reps[0] - 1])
                        self.state = 9 if self.state < 7 else 11
                        continue
                else:
                    if rc.bit(p.is_rep_g1, self.state) == 0:
                        dist = self.reps[1]
                    else:
                        if rc.bit(p.is_rep_g2, self.state) == 0:
                            dist = self.reps[2]
                        else:
                            dist = self.reps[3]
                            self.reps[3] = self.reps[2]
                        self.reps[2] = self.reps[1]
                    self.reps[1] = self.reps[0]
                    self.reps[0] = dist
                length = _decode_len(rc, p, True, pos_state)
                self.state = 8 if self.state < 7 else 11
            else:
                length = _decode_len(rc, p, False, pos_state)
                lts = _len_to_pos_state(length)
                slot = rc.bittree(p.pos_slot[lts], 6)
                if slot < _START_POS_MODEL:
                    dist = slot
                else:
                    ndirect = (slot >> 1) - 1
                    dist = (2 | (slot & 1)) << ndirect
                    if slot < _END_POS_MODEL:
                        dist += rc.bittree_reverse(
                            p.spec_pos, dist - slot - 1, ndirect
                        )
                    else:
                        dist += rc.direct_bits(ndirect - _ALIGN_BITS) << _ALIGN_BITS
                        dist += rc.bittree_reverse(p.align, 0, _ALIGN_BITS)
                if dist == 0xFFFFFFFF:
                    if eos_ok:
                        return
                    raise ValueError("lzma2: end marker inside sized chunk")
                self.reps[3] = self.reps[2]
                self.reps[2] = self.reps[1]
                self.reps[1] = self.reps[0]
                self.reps[0] = dist
                self.state = 7 if self.state < 7 else 10
            avail = len(out) - self.dict_start
            if self.reps[0] + 1 > avail:
                raise ValueError("lzma: match distance before window")
            if len(out) + length > target:
                raise ValueError("lzma: match overruns declared chunk size")
            src = len(out) - self.reps[0] - 1
            for k in range(length):
                out.append(out[src + k])
        if rc.pos != end_pos and not eos_ok:
            raise ValueError("lzma: packed size mismatch")


# ---------------------------------------------------------------------------
# LZMA2 chunk layer
# ---------------------------------------------------------------------------


def lzma2_decompress(data: bytes, max_output: int = 1 << 26) -> bytes:
    """Decode a full LZMA2 stream (as carried by xz filter 0x21)."""
    dec = _LzmaDecoder()
    pos = 0
    n = len(data)
    need_dict_reset = True
    while True:
        if pos >= n:
            raise ValueError("lzma2: missing end-of-stream control byte")
        ctrl = data[pos]
        pos += 1
        if ctrl == 0x00:
            break
        if ctrl in (0x01, 0x02):
            if ctrl == 0x01:
                dec.reset_dict()
                need_dict_reset = False
            elif need_dict_reset:
                raise ValueError("lzma2: first chunk must reset the dictionary")
            if pos + 2 > n:
                raise ValueError("lzma2: truncated uncompressed-chunk header")
            size = struct.unpack(">H", data[pos : pos + 2])[0] + 1
            pos += 2
            if pos + size > n:
                raise ValueError("lzma2: uncompressed chunk past end")
            if len(dec.out) - dec.dict_start + size > max_output:
                raise ValueError("lzma2: output exceeds bomb guard")
            dec.out += data[pos : pos + size]
            pos += size
            # an uncompressed chunk invalidates the probability model
            dec.probs = None
            continue
        if ctrl < 0x80:
            raise ValueError(f"lzma2: invalid control byte {ctrl:#x}")
        if pos + 4 > n:
            raise ValueError("lzma2: truncated compressed-chunk header")
        unpacked = ((ctrl & 0x1F) << 16) + struct.unpack(
            ">H", data[pos : pos + 2]
        )[0] + 1
        packed = struct.unpack(">H", data[pos + 2 : pos + 4])[0] + 1
        pos += 4
        reset = (ctrl >> 5) & 0x03
        if reset == 3:
            dec.reset_dict()
            need_dict_reset = False
        elif need_dict_reset:
            raise ValueError("lzma2: first chunk must reset the dictionary")
        if reset >= 2:
            if pos >= n:
                raise ValueError("lzma2: truncated props byte")
            dec.reset_state(data[pos])
            pos += 1
        elif reset == 1:
            dec.reset_state(None)
        elif dec.probs is None:
            raise ValueError("lzma2: chunk needs a state reset after raw data")
        dec.decode_chunk(data, pos, packed, unpacked, max_output)
        pos += packed
    if pos != n:
        raise ValueError("lzma2: trailing bytes after end-of-stream")
    return bytes(dec.out)


# ---------------------------------------------------------------------------
# Range encoder + greedy LZMA encoder
# ---------------------------------------------------------------------------


class _RangeEncoder:
    def __init__(self):
        self.low = 0
        self.range = 0xFFFFFFFF
        self.cache = 0
        self.cache_size = 1
        self.out = bytearray()

    def _shift_low(self) -> None:
        if self.low < 0xFF000000 or self.low > 0xFFFFFFFF:
            carry = self.low >> 32
            self.out.append((self.cache + carry) & 0xFF)
            while self.cache_size > 1:
                self.out.append((0xFF + carry) & 0xFF)
                self.cache_size -= 1
            self.cache = (self.low >> 24) & 0xFF
            self.cache_size = 0
        self.cache_size += 1
        self.low = (self.low << 8) & 0xFFFFFFFF

    def bit(self, probs: list, i: int, b: int) -> None:
        prob = probs[i]
        bound = (self.range >> 11) * prob
        if b == 0:
            self.range = bound
            probs[i] = prob + ((2048 - prob) >> 5)
        else:
            self.low += bound
            self.range -= bound
            probs[i] = prob - (prob >> 5)
        if self.range < (1 << 24):
            self.range = (self.range << 8) & 0xFFFFFFFF
            self._shift_low()

    def bittree(self, probs: list, nbits: int, sym: int) -> None:
        m = 1
        for i in range(nbits - 1, -1, -1):
            b = (sym >> i) & 1
            self.bit(probs, m, b)
            m = (m << 1) | b

    def bittree_reverse(self, probs: list, base: int, nbits: int, sym: int) -> None:
        m = 1
        for _ in range(nbits):
            b = sym & 1
            sym >>= 1
            self.bit(probs, base + m, b)
            m = (m << 1) | b

    def direct_bits(self, nbits: int, val: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.range >>= 1
            if (val >> i) & 1:
                self.low += self.range
            if self.range < (1 << 24):
                self.range = (self.range << 8) & 0xFFFFFFFF
                self._shift_low()

    def flush(self) -> bytes:
        for _ in range(5):
            self._shift_low()
        return bytes(self.out)


def _encode_len(re_: _RangeEncoder, p: _LzmaProbs, rep: bool, pos_state: int, length: int) -> None:
    choice = p.rep_choice if rep else p.len_choice
    low = p.rep_low if rep else p.len_low
    mid = p.rep_mid if rep else p.len_mid
    high = p.rep_high if rep else p.len_high
    v = length - _MATCH_MIN_LEN
    if v < 8:
        re_.bit(choice, 0, 0)
        re_.bittree(low[pos_state], 3, v)
    elif v < 16:
        re_.bit(choice, 0, 1)
        re_.bit(choice, 1, 0)
        re_.bittree(mid[pos_state], 3, v - 8)
    else:
        re_.bit(choice, 0, 1)
        re_.bit(choice, 1, 1)
        re_.bittree(high, 8, v - 16)


class _LzmaEncoder:
    """Greedy hash-3 matcher + full model encoder, mirroring the
    decoder's context discipline exactly. ``window`` is the shared
    history (persists across LZMA2 chunks without dict reset)."""

    def __init__(self, lc: int = 3, lp: int = 0, pb: int = 2):
        self.probs = _LzmaProbs(lc, lp, pb)
        self.state = 0
        self.reps = [0, 0, 0, 0]
        self.window = bytearray()
        self.dict_start = 0
        self.hash3: dict[int, int] = {}

    def reset_dict(self) -> None:
        self.dict_start = len(self.window)
        self.hash3.clear()

    def reset_state(self) -> None:
        self.probs.reset()
        self.state = 0
        self.reps = [0, 0, 0, 0]

    def _find_match(self, data, i: int, limit: int) -> tuple[int, int]:
        """(length, distance) of a greedy match at absolute window
        position ``i``, or (0, 0). ``limit`` = bytes remaining in the
        current chunk."""
        w = self.window
        if limit < _MATCH_MIN_LEN + 1 or i + 3 > len(w):
            return 0, 0
        max_len = min(limit, _MAX_MATCH_LEN)
        best_len, best_dist = 0, 0
        # candidate 1: rep0 (cheap to encode)
        r0 = self.reps[0]
        if i - r0 - 1 >= self.dict_start:
            src = i - r0 - 1
            ln = 0
            while ln < max_len and w[src + ln] == w[i + ln]:
                ln += 1
            if ln >= _MATCH_MIN_LEN:
                best_len, best_dist = ln, r0
        # candidate 2: hash-3 head
        key = w[i] | (w[i + 1] << 8) | (w[i + 2] << 16)
        cand = self.hash3.get(key, -1)
        if cand >= self.dict_start and cand < i and i - cand <= (1 << 26):
            ln = 0
            src = cand
            while ln < max_len and w[src + ln] == w[i + ln]:
                ln += 1
            # prefer the hash match only if strictly longer than rep0's
            if ln >= 3 and ln > best_len:
                best_len, best_dist = ln, i - cand - 1
        return best_len, best_dist

    def encode_chunk(self, chunk: bytes) -> bytes:
        """Append ``chunk`` to the window and return its range-coded
        stream (one LZMA2 compressed chunk, no end marker)."""
        p = self.probs
        re_ = _RangeEncoder()
        w = self.window
        start = len(w)
        w += chunk
        end = len(w)
        pb_mask = (1 << p.pb) - 1
        lp_mask = (1 << p.lp) - 1
        lc = p.lc
        i = start
        while i < end:
            dpos = i - self.dict_start
            pos_state = dpos & pb_mask
            length, dist = self._find_match(w, i, end - i)
            if length >= _MATCH_MIN_LEN and (length > 2 or dist < 512):
                re_.bit(p.is_match, (self.state << 4) + pos_state, 1)
                if dist == self.reps[0]:
                    re_.bit(p.is_rep, self.state, 1)
                    re_.bit(p.is_rep_g0, self.state, 0)
                    re_.bit(p.is_rep0_long, (self.state << 4) + pos_state, 1)
                    _encode_len(re_, p, True, pos_state, length)
                    self.state = 8 if self.state < 7 else 11
                else:
                    re_.bit(p.is_rep, self.state, 0)
                    _encode_len(re_, p, False, pos_state, length)
                    lts = _len_to_pos_state(length)
                    slot = self._pos_slot(dist)
                    re_.bittree(p.pos_slot[lts], 6, slot)
                    if slot >= _START_POS_MODEL:
                        ndirect = (slot >> 1) - 1
                        base = (2 | (slot & 1)) << ndirect
                        rem = dist - base
                        if slot < _END_POS_MODEL:
                            re_.bittree_reverse(
                                p.spec_pos, base - slot - 1, ndirect, rem
                            )
                        else:
                            re_.direct_bits(ndirect - _ALIGN_BITS, rem >> _ALIGN_BITS)
                            re_.bittree_reverse(
                                p.align, 0, _ALIGN_BITS, rem & 0xF
                            )
                    self.reps = [dist, self.reps[0], self.reps[1], self.reps[2]]
                    self.state = 7 if self.state < 7 else 10
                for k in range(i, min(i + length, end - 2)):
                    self.hash3[w[k] | (w[k + 1] << 8) | (w[k + 2] << 16)] = k
                i += length
            else:
                re_.bit(p.is_match, (self.state << 4) + pos_state, 0)
                prev = w[i - 1] if i > self.dict_start else 0
                lit_ctx = ((dpos & lp_mask) << lc) + (prev >> (8 - lc) if lc else 0)
                probs = p.literal[lit_ctx]
                sym = w[i]
                if self.state >= 7:
                    match_byte = w[i - self.reps[0] - 1]
                    ctx = 1
                    matched = True
                    for bi in range(7, -1, -1):
                        b = (sym >> bi) & 1
                        if matched:
                            match_bit = (match_byte >> 7) & 1
                            match_byte = (match_byte << 1) & 0xFF
                            re_.bit(probs, ((1 + match_bit) << 8) + ctx, b)
                            if match_bit != b:
                                matched = False
                        else:
                            re_.bit(probs, ctx, b)
                        ctx = (ctx << 1) | b
                else:
                    ctx = 1
                    for bi in range(7, -1, -1):
                        b = (sym >> bi) & 1
                        re_.bit(probs, ctx, b)
                        ctx = (ctx << 1) | b
                s = self.state
                self.state = 0 if s < 4 else (s - 3 if s < 10 else s - 6)
                if i + 2 < end:
                    self.hash3[w[i] | (w[i + 1] << 8) | (w[i + 2] << 16)] = i
                i += 1
        return re_.flush()

    @staticmethod
    def _pos_slot(dist: int) -> int:
        if dist < _START_POS_MODEL:
            return dist
        n = dist.bit_length()
        return ((n - 1) << 1) | ((dist >> (n - 2)) & 1)


def lzma2_compress(
    data: bytes,
    lc: int = 3,
    lp: int = 0,
    pb: int = 2,
    chunk_size: int = 1 << 16,
    mode: str = "compressed",
) -> bytes:
    """Encode ``data`` as an LZMA2 stream. ``mode='compressed'`` emits
    range-coded chunks; ``'uncompressed'`` stores raw chunks;
    ``'mixed'`` alternates (every decoder reset path on one wire).
    Oversized packed chunks fall back to stored form automatically."""
    if mode not in ("compressed", "uncompressed", "mixed"):
        raise ValueError(f"lzma2: unknown mode {mode!r}")
    out = bytearray()
    enc = _LzmaEncoder(lc, lp, pb)
    first = True
    need_props = True  # props required at start and after stored chunks
    pos = 0
    idx = 0
    if not data:
        return b"\x00"

    def _emit_stored(chunk: bytes, in_window: bool) -> None:
        nonlocal first, need_props, out
        if not in_window:
            enc.window += chunk  # stored bytes still join the history
        # stored-chunk headers carry a 16-bit size-1: split larger
        # chunks (chunk_size may exceed 64 KiB for the packed path)
        for at in range(0, len(chunk), 1 << 16):
            piece = chunk[at : at + (1 << 16)]
            out.append(0x01 if first else 0x02)
            out += struct.pack(">H", len(piece) - 1)
            out += piece
            first = False
        need_props = True  # the model is void after a stored chunk
        enc.reset_state()

    while pos < len(data):
        chunk = data[pos : pos + min(chunk_size, 1 << 21)]
        pos += len(chunk)
        if mode == "uncompressed" or (mode == "mixed" and idx % 2 == 1):
            idx += 1
            _emit_stored(chunk, in_window=False)
            continue
        idx += 1
        packed = enc.encode_chunk(chunk)  # appends chunk to the window
        if len(packed) > 0xFFFF + 1 or len(packed) >= len(chunk) + 64:
            _emit_stored(chunk, in_window=True)  # incompressible fallback
            continue
        # reset ladder: 3 = dict+state+props (stream start), 2 =
        # state+props (after stored data), 0 = plain continuation —
        # probabilities and window carry across chunks like real
        # encoders produce
        reset = 3 if first else (2 if need_props else 0)
        ctrl = 0x80 | (reset << 5) | ((len(chunk) - 1) >> 16)
        out.append(ctrl)
        out += struct.pack(">H", (len(chunk) - 1) & 0xFFFF)
        out += struct.pack(">H", len(packed) - 1)
        if reset >= 2:
            out.append(_props_byte(lc, lp, pb))
        out += packed
        first = False
        need_props = False
    out.append(0x00)
    return bytes(out)


# ---------------------------------------------------------------------------
# xz container
# ---------------------------------------------------------------------------

_XZ_MAGIC = b"\xfd7zXZ\x00"
_XZ_FOOTER_MAGIC = b"YZ"
_CHECK_SIZES = {0x00: 0, 0x01: 4, 0x04: 8, 0x0A: 32}
_CHECK_NAMES = {"none": 0x00, "crc32": 0x01, "crc64": 0x04, "sha256": 0x0A}
_FILTER_LZMA2 = 0x21
_FILTER_DELTA = 0x03
_FILTER_X86 = 0x04
_FILTER_PPC, _FILTER_IA64, _FILTER_ARM = 0x05, 0x06, 0x07
_FILTER_ARMTHUMB, _FILTER_SPARC = 0x08, 0x09
_FILTER_ARM64 = 0x0A

# RISC-V (0x0B) arrived in xz 5.6; this container's liblzma 5.4 has no
# encoder to extract an oracle from, so it stays the typed boundary.
# ARM64 decodes since round 15 — liblzma 5.4.1 DOES carry it, just
# behind CPython 3.11's filter-id gate; the oracle drives the C
# library directly via ctypes (tests/test_codec_differentials.py).
_KNOWN_UNSUPPORTED = {0x0B: "RISC-V bcj"}


# IA64 branch table: per-template slot mask (templates 0x16/0x17 are
# the all-branch bundles; 0x10-0x13/0x18-0x19 carry one or two)
_IA64_BRANCH_TABLE = [
    0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0,
    4, 4, 6, 6, 0, 0, 7, 7,
    4, 4, 0, 0, 4, 4, 0, 0,
]


def _bcj_ia64(data: bytes, enc: bool, start: int = 0) -> bytes:
    """IA64 branch rewriter: 16-byte bundles, template in the low 5
    bits, three 41-bit slots; a slot converts when its opcode nibble
    (bits 37-40) is 5 AND bits 9-11 are zero — imm20 at bits 13-32
    plus the sign bit at 36 hold the 16-byte-unit displacement."""
    buf = bytearray(data)
    for i in range(0, len(buf) - 15, 16):
        mask = _IA64_BRANCH_TABLE[buf[i] & 0x1F]
        for slot in range(3):
            if not (mask >> slot) & 1:
                continue
            bit_pos = 5 + slot * 41
            byte_pos = bit_pos >> 3
            bit_res = bit_pos & 7
            instr = int.from_bytes(buf[i + byte_pos : i + byte_pos + 6], "little")
            inst_norm = instr >> bit_res
            if ((inst_norm >> 37) & 0xF) != 5 or ((inst_norm >> 9) & 0x7) != 0:
                continue
            src = ((inst_norm >> 13) & 0xFFFFF) | (((inst_norm >> 36) & 1) << 20)
            src <<= 4
            dest = (src + (start + i) if enc else src - (start + i)) & 0xFFFFFFFF
            dest >>= 4
            inst_norm &= ~((0xFFFFF << 13) | (1 << 36))
            inst_norm |= (dest & 0xFFFFF) << 13
            inst_norm |= ((dest >> 20) & 1) << 36
            instr &= (1 << bit_res) - 1
            instr |= inst_norm << bit_res
            buf[i + byte_pos : i + byte_pos + 6] = (
                instr & ((1 << 48) - 1)
            ).to_bytes(6, "little")
    return bytes(buf)


def _bcj_ppc(data: bytes, enc: bool, start: int = 0) -> bytes:
    """PowerPC branch rewriter: big-endian ``b``/``bl`` (0x48 family,
    AA|LK bits 01) 24-bit word displacement ± position."""
    buf = bytearray(data)
    for i in range(0, len(buf) - 3, 4):
        if (buf[i] & 0xFC) == 0x48 and (buf[i + 3] & 3) == 1:
            addr = (
                ((buf[i] & 3) << 24)
                | (buf[i + 1] << 16)
                | (buf[i + 2] << 8)
                | (buf[i + 3] & 0xFC)
            )
            addr = (addr + (start + i) if enc else addr - (start + i)) & 0x03FFFFFF
            buf[i] = 0x48 | ((addr >> 24) & 3)
            buf[i + 1] = (addr >> 16) & 0xFF
            buf[i + 2] = (addr >> 8) & 0xFF
            buf[i + 3] = (buf[i + 3] & 3) | (addr & 0xFC)
    return bytes(buf)


def _bcj_arm(data: bytes, enc: bool, start: int = 0) -> bytes:
    """ARM ``BL`` (0xEB in the high byte, little-endian words): 24-bit
    word displacement ± (position + 8, the ARM pipeline bias)."""
    buf = bytearray(data)
    for i in range(0, len(buf) - 3, 4):
        if buf[i + 3] == 0xEB:
            addr = ((buf[i + 2] << 16) | (buf[i + 1] << 8) | buf[i]) << 2
            addr = (
                addr + (start + i + 8) if enc else addr - (start + i + 8)
            ) & 0xFFFFFFFF
            addr >>= 2
            buf[i] = addr & 0xFF
            buf[i + 1] = (addr >> 8) & 0xFF
            buf[i + 2] = (addr >> 16) & 0xFF
    return bytes(buf)


def _bcj_armthumb(data: bytes, enc: bool, start: int = 0) -> bytes:
    """ARM Thumb ``BL`` pairs (0xF0/0xF8 half-words): 22-bit half-word
    displacement ± (position + 4); a rewritten pair consumes both
    half-words."""
    buf = bytearray(data)
    i = 0
    while i + 4 <= len(buf):
        if (buf[i + 1] & 0xF8) == 0xF0 and (buf[i + 3] & 0xF8) == 0xF8:
            addr = (
                ((buf[i + 1] & 7) << 19)
                | (buf[i] << 11)
                | ((buf[i + 3] & 7) << 8)
                | buf[i + 2]
            ) << 1
            addr = (
                addr + (start + i + 4) if enc else addr - (start + i + 4)
            ) & 0xFFFFFFFF
            addr >>= 1
            buf[i + 1] = 0xF0 | ((addr >> 19) & 7)
            buf[i] = (addr >> 11) & 0xFF
            buf[i + 3] = 0xF8 | ((addr >> 8) & 7)
            buf[i + 2] = addr & 0xFF
            i += 2
        i += 2
    return bytes(buf)


def _bcj_sparc(data: bytes, enc: bool, start: int = 0) -> bytes:
    """SPARC ``CALL`` (0x40xxxxxx / far-negative 0x7FFFC000 family):
    30-bit word displacement ± position, re-signed into the
    0x40000000-folded form liblzma emits."""
    buf = bytearray(data)
    for i in range(0, len(buf) - 3, 4):
        if (buf[i] == 0x40 and (buf[i + 1] & 0xC0) == 0) or (
            buf[i] == 0x7F and (buf[i + 1] & 0xC0) == 0xC0
        ):
            addr = (
                (buf[i] << 24) | (buf[i + 1] << 16) | (buf[i + 2] << 8) | buf[i + 3]
            ) << 2
            addr = (addr + (start + i) if enc else addr - (start + i)) & 0xFFFFFFFF
            addr >>= 2
            addr = (
                (0x40000000 - (addr & 0x400000)) | 0x40000000 | (addr & 0x3FFFFF)
            ) & 0xFFFFFFFF
            buf[i] = (addr >> 24) & 0xFF
            buf[i + 1] = (addr >> 16) & 0xFF
            buf[i + 2] = (addr >> 8) & 0xFF
            buf[i + 3] = addr & 0xFF
    return bytes(buf)


def _bcj_arm64(data: bytes, encoding: bool, start: int = 0) -> bytes:
    """ARM64 BCJ (xz ≥5.4, filter id 0x0A): BL instructions (top six
    bits 0x25) rewrite their 26-bit word-offset immediates between
    relative and absolute; ADRP (mask 0x9F000000 == 0x90000000)
    rewrites its split 21-bit page immediate ONLY within the ±512 MiB
    window (outside it the odds of a false positive beat the gain —
    the range gate below is the (src + 0x20000) & 0x1C0000 trick), the
    sign bits reconstructed into bits 21-23 on the way back. Pinned
    BYTE-EXACT against real liblzma 5.4 driven through ctypes (CPython
    3.11 predates FILTER_ARM64, so the oracle bypasses the _lzma
    module; tests/test_codec_differentials.py)."""
    buf = bytearray(data)
    mask32 = 0xFFFFFFFF
    for i in range(0, len(buf) - 3, 4):
        instr = int.from_bytes(buf[i : i + 4], "little")
        pc = (start + i) & mask32
        if (instr >> 26) == 0x25:  # BL
            src = instr & 0x03FFFFFF
            pc2 = pc >> 2
            if not encoding:
                pc2 = (-pc2) & mask32
            instr = 0x94000000 | ((src + pc2) & 0x03FFFFFF)
            buf[i : i + 4] = instr.to_bytes(4, "little")
        elif (instr & 0x9F000000) == 0x90000000:  # ADRP
            src = ((instr >> 29) & 3) | ((instr >> 3) & 0x001FFFFC)
            if ((src + 0x00020000) & 0x001C0000) != 0:
                continue  # outside ±512 MiB: left alone
            pc2 = pc >> 12
            if not encoding:
                pc2 = (-pc2) & mask32
            dest = (src + pc2) & mask32
            instr &= 0x9000001F
            instr |= (dest & 3) << 29
            instr |= (dest & 0x0003FFFC) << 3
            instr |= (-(dest & 0x00020000)) & 0x00E00000 & mask32
            buf[i : i + 4] = instr.to_bytes(4, "little")
    return bytes(buf)


_BCJ_SIMPLE = {
    _FILTER_PPC: _bcj_ppc,
    _FILTER_IA64: _bcj_ia64,
    _FILTER_ARM: _bcj_arm,
    _FILTER_ARMTHUMB: _bcj_armthumb,
    _FILTER_SPARC: _bcj_sparc,
    _FILTER_ARM64: _bcj_arm64,
}

# Per-filter start-offset alignment (liblzma simple/*.c coder init):
# a non-multiple start offset is an options error, not a valid stream.
_BCJ_ALIGNMENT = {
    _FILTER_X86: 1,
    _FILTER_PPC: 4,
    _FILTER_IA64: 16,
    _FILTER_ARM: 4,
    _FILTER_ARMTHUMB: 2,
    _FILTER_SPARC: 4,
    _FILTER_ARM64: 4,
}


# x86 BCJ filter (round 14 s3): converts relative E8/E9 CALL/JMP
# 32-bit operands to absolute addresses at encode time (making them
# repeat, which LZMA then crushes) and back at decode. The prev_mask
# state machine tracks partial 00/FF operand bytes across nearby
# candidates so both sides agree on which occurrences transform —
# pinned BYTE-EXACT against real liblzma's filter output both
# directions in tests/test_codec_differentials.py (the encoded stream
# is recovered by stripping liblzma's own LZMA2 layer with the
# in-repo decoder).
_X86_ALLOWED = [True, True, True, False, True, False, False, False]
_X86_BITNUM = [0, 1, 2, 2, 3, 3, 3, 3]


def _bcj_x86(data: bytes, encoding: bool, start: int = 0) -> bytes:
    buf = bytearray(data)
    size = len(buf)
    if size < 5:
        return bytes(buf)
    prev_mask = 0
    prev_pos = -1
    i = 0
    limit = size - 4
    while i < limit:
        if buf[i] & 0xFE != 0xE8:
            i += 1
            continue
        d = i - prev_pos
        prev_pos = i
        if d > 3:
            prev_mask = 0
        else:
            prev_mask = (prev_mask << (d - 1)) & 7
            if prev_mask != 0:
                b = buf[i + 4 - _X86_BITNUM[prev_mask]]
                if not _X86_ALLOWED[prev_mask] or b == 0 or b == 0xFF:
                    prev_mask = ((prev_mask << 1) & 7) | 1
                    i += 1
                    continue
        if buf[i + 4] in (0, 0xFF):
            src = int.from_bytes(buf[i + 1 : i + 5], "little")
            while True:
                if encoding:
                    dest = (src + (start + i + 5)) & 0xFFFFFFFF
                else:
                    dest = (src - (start + i + 5)) & 0xFFFFFFFF
                if prev_mask == 0:
                    break
                idx = _X86_BITNUM[prev_mask] * 8
                b = (dest >> (24 - idx)) & 0xFF
                if b != 0 and b != 0xFF:
                    break
                src = dest ^ ((1 << (32 - idx)) - 1)
            dest &= 0x01FFFFFF
            if dest & 0x01000000:
                dest |= 0xFFFFFFFF ^ 0x01FFFFFF
            buf[i + 1 : i + 5] = dest.to_bytes(4, "little")
            i += 5
            prev_mask = 0
        else:
            prev_mask = ((prev_mask << 1) & 7) | 1
            i += 1
    return bytes(buf)


def _delta_decode(data: bytes, dist: int) -> bytes:
    """xz DELTA filter decode (round 14): out[i] = in[i] + out[i-dist]
    mod 256 — the byte-wise predictor real archives wrap around LZMA2
    for audio/raster payloads."""
    out = bytearray(data)
    for i in range(dist, len(out)):
        out[i] = (out[i] + out[i - dist]) & 0xFF
    return bytes(out)


def _varint_encode(x: int) -> bytes:
    out = bytearray()
    while x >= 0x80:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)
    return bytes(out)


def _varint_decode(data: bytes, pos: int) -> tuple[int, int]:
    x = 0
    for i in range(9):
        if pos + i >= len(data):
            raise ValueError("xz: truncated varint")
        b = data[pos + i]
        x |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            if b == 0 and i > 0:
                raise ValueError("xz: non-minimal varint")
            return x, pos + i + 1
    raise ValueError("xz: varint longer than 9 bytes")


def _dict_size_prop(n: int) -> int:
    """Smallest LZMA2 dict-size props byte covering ``n`` bytes."""
    for p in range(41):
        size = 0xFFFFFFFF if p == 40 else (2 | (p & 1)) << (p // 2 + 11)
        if size >= n:
            return p
    raise ValueError("xz: dictionary size out of range")


def _dict_size_of_prop(p: int) -> int:
    if p > 40:
        raise ValueError("xz: invalid LZMA2 dict-size props byte")
    return 0xFFFFFFFF if p == 40 else (2 | (p & 1)) << (p // 2 + 11)


def xz_compress(
    data: bytes,
    check: str = "crc64",
    mode: str = "compressed",
    chunk_size: int = 1 << 16,
) -> bytes:
    """One-block .xz stream with the LZMA2 filter; ``check`` is the
    per-block integrity check id (none/crc32/crc64/sha256)."""
    if check not in _CHECK_NAMES:
        raise ValueError(f"xz: unknown check {check!r}")
    cid = _CHECK_NAMES[check]
    flags = bytes([0x00, cid])
    out = bytearray(_XZ_MAGIC + flags + struct.pack("<I", zlib.crc32(flags)))

    # block header: one LZMA2 filter
    body = bytearray()
    body.append(0x00)  # flags: 1 filter, no size fields
    body += _varint_encode(_FILTER_LZMA2)
    body += _varint_encode(1)
    body.append(_dict_size_prop(max(len(data), 1 << 16)))
    # pad so total (size byte + body + crc4) is a multiple of 4
    total = 1 + len(body) + 4
    pad = (4 - total % 4) % 4
    body += b"\x00" * pad
    header_size_byte = (1 + len(body) + 4) // 4 - 1
    header = bytes([header_size_byte]) + bytes(body)
    header += struct.pack("<I", zlib.crc32(header))
    out += header

    comp = lzma2_compress(data, chunk_size=chunk_size, mode=mode)
    out += comp
    data_pad = (4 - len(comp) % 4) % 4
    out += b"\x00" * data_pad
    if cid == 0x01:
        out += struct.pack("<I", zlib.crc32(data))
    elif cid == 0x04:
        out += struct.pack("<Q", crc64(data))
    elif cid == 0x0A:
        out += hashlib.sha256(data).digest()

    unpadded = len(header) + len(comp) + _CHECK_SIZES[cid]

    index = bytearray(b"\x00")  # indicator
    index += _varint_encode(1)  # one record
    index += _varint_encode(unpadded)
    index += _varint_encode(len(data))
    ipad = (4 - len(index) % 4) % 4
    index += b"\x00" * ipad
    index += struct.pack("<I", zlib.crc32(bytes(index)))
    out += index

    backward = struct.pack("<I", len(index) // 4 - 1)
    footer_body = backward + flags
    out += struct.pack("<I", zlib.crc32(footer_body)) + footer_body + _XZ_FOOTER_MAGIC
    return bytes(out)


def _parse_block(
    data: bytes, pos: int, check_id: int, max_output: int
) -> tuple[bytes, int, int, int]:
    """Parse one block at ``pos`` → (uncompressed, new_pos,
    unpadded_size, uncompressed_size)."""
    hdr_start = pos
    hsb = data[pos]
    header_size = (hsb + 1) * 4
    if pos + header_size > len(data):
        raise ValueError("xz: truncated block header")
    header = data[pos : pos + header_size]
    (stored_crc,) = struct.unpack("<I", header[-4:])
    if zlib.crc32(header[:-4]) != stored_crc:
        raise ValueError("xz: block header CRC mismatch")
    hp = 1
    bflags = header[hp]
    hp += 1
    n_filters = (bflags & 0x03) + 1
    if bflags & 0x3C:
        raise ValueError("xz: reserved block-header flag bits set")
    comp_size = unc_size = None
    if bflags & 0x40:
        comp_size, hp = _varint_decode(header, hp)
    if bflags & 0x80:
        unc_size, hp = _varint_decode(header, hp)
    filters = []
    for _ in range(n_filters):
        fid, hp = _varint_decode(header, hp)
        plen, hp = _varint_decode(header, hp)
        props = header[hp : hp + plen]
        hp += plen
        filters.append((fid, props))
    if any(b != 0 for b in header[hp:-4]):
        raise ValueError("xz: nonzero block-header padding")
    # the LAST filter must be LZMA2; earlier entries are the
    # non-terminal filters applied before it at ENCODE time (decode
    # reverses them afterwards) — DELTA supported since round 14,
    # the BCJ branch rewriters stay typed
    fid, props = filters[-1]
    if fid in _KNOWN_UNSUPPORTED:
        raise NotImplementedError(
            f"xz: {_KNOWN_UNSUPPORTED[fid]} filter not supported"
        )
    if fid != _FILTER_LZMA2:
        raise ValueError(f"xz: chain must end in LZMA2, got {fid:#x}")
    if len(props) != 1:
        raise ValueError("xz: LZMA2 props must be one byte")
    _dict_size_of_prop(props[0])  # validates
    pre: list[tuple[str, int]] = []  # non-terminal filters, chain order
    for dfid, dprops in filters[:-1]:
        if dfid in _KNOWN_UNSUPPORTED:
            raise NotImplementedError(
                f"xz: {_KNOWN_UNSUPPORTED[dfid]} filter not supported"
            )
        if dfid == _FILTER_DELTA:
            if len(dprops) != 1:
                raise ValueError("xz: delta props must be one byte")
            pre.append(("delta", dprops[0] + 1))  # stored as distance-1
        elif dfid == _FILTER_X86 or dfid in _BCJ_SIMPLE:
            if len(dprops) == 0:
                off = 0
            elif len(dprops) == 4:
                off = struct.unpack("<I", dprops)[0]
            else:
                raise ValueError("xz: BCJ props must be absent or 4 bytes")
            # liblzma rejects a start offset that is not a multiple of
            # the filter's instruction alignment (LZMA_OPTIONS_ERROR in
            # simple_coder_init); an unaligned offset would silently
            # decode bytes no conforming encoder could have produced.
            align = _BCJ_ALIGNMENT[dfid]
            if off % align:
                raise ValueError(
                    f"xz: BCJ start offset {off:#x} not aligned to "
                    f"{align} for filter {dfid:#x}"
                )
            pre.append(("x86" if dfid == _FILTER_X86 else dfid, off))
        else:
            raise ValueError(f"xz: unknown non-terminal filter {dfid:#x}")
    pos += header_size

    # LZMA2 data is self-terminating (0x00 control); decode from here.
    # Find its end by decoding, tracking consumed bytes.
    sub = data[pos:]
    consumed, raw = _lzma2_decode_consumed(sub, max_output)
    for fname, arg in reversed(pre):
        if fname == "delta":
            raw = _delta_decode(raw, arg)
        elif fname == "x86":
            raw = _bcj_x86(raw, encoding=False, start=arg)
        else:  # simple per-word BCJ rewriters: decode direction
            raw = _BCJ_SIMPLE[fname](raw, False, arg)
    pos += consumed
    if comp_size is not None and comp_size != consumed:
        raise ValueError("xz: compressed-size field mismatch")
    if unc_size is not None and unc_size != len(raw):
        raise ValueError("xz: uncompressed-size field mismatch")
    pad = (4 - consumed % 4) % 4
    if data[pos : pos + pad] != b"\x00" * pad:
        raise ValueError("xz: nonzero block padding")
    pos += pad
    csize = _CHECK_SIZES[check_id]
    chk = data[pos : pos + csize]
    if len(chk) != csize:
        raise ValueError("xz: truncated block check")
    if check_id == 0x01 and struct.unpack("<I", chk)[0] != zlib.crc32(raw):
        raise ValueError("xz: CRC32 check mismatch")
    if check_id == 0x04 and struct.unpack("<Q", chk)[0] != crc64(raw):
        raise ValueError("xz: CRC64 check mismatch")
    if check_id == 0x0A and chk != hashlib.sha256(raw).digest():
        raise ValueError("xz: SHA-256 check mismatch")
    pos += csize
    unpadded = header_size + consumed + csize  # excludes block padding
    return raw, pos, unpadded, len(raw)


def _lzma2_decode_consumed(data: bytes, max_output: int) -> tuple[int, bytes]:
    """Decode an LZMA2 stream returning (bytes consumed incl. the 0x00
    terminator, output). Mirrors lzma2_decompress but reports length."""
    dec = _LzmaDecoder()
    pos = 0
    n = len(data)
    need_dict_reset = True
    while True:
        if pos >= n:
            raise ValueError("lzma2: missing end-of-stream control byte")
        ctrl = data[pos]
        pos += 1
        if ctrl == 0x00:
            return pos, bytes(dec.out)
        if ctrl in (0x01, 0x02):
            if ctrl == 0x01:
                dec.reset_dict()
                need_dict_reset = False
            elif need_dict_reset:
                raise ValueError("lzma2: first chunk must reset the dictionary")
            size = struct.unpack(">H", data[pos : pos + 2])[0] + 1
            pos += 2
            if pos + size > n:
                raise ValueError("lzma2: uncompressed chunk past end")
            if len(dec.out) - dec.dict_start + size > max_output:
                raise ValueError("lzma2: output exceeds bomb guard")
            dec.out += data[pos : pos + size]
            pos += size
            dec.probs = None
            continue
        if ctrl < 0x80:
            raise ValueError(f"lzma2: invalid control byte {ctrl:#x}")
        if pos + 4 > n:
            raise ValueError("lzma2: truncated compressed-chunk header")
        unpacked = ((ctrl & 0x1F) << 16) + struct.unpack(
            ">H", data[pos : pos + 2]
        )[0] + 1
        packed = struct.unpack(">H", data[pos + 2 : pos + 4])[0] + 1
        pos += 4
        reset = (ctrl >> 5) & 0x03
        if reset == 3:
            dec.reset_dict()
            need_dict_reset = False
        elif need_dict_reset:
            raise ValueError("lzma2: first chunk must reset the dictionary")
        if reset >= 2:
            dec.reset_state(data[pos])
            pos += 1
        elif reset == 1:
            dec.reset_state(None)
        elif dec.probs is None:
            raise ValueError("lzma2: chunk needs a state reset after raw data")
        dec.decode_chunk(data, pos, packed, unpacked, max_output)
        pos += packed


def xz_decompress(data: bytes, max_output: int = 1 << 26) -> bytes:
    """Decode a (possibly multi-stream) .xz file, verifying every CRC,
    the per-block check, the Index and both stream-flag copies."""
    out = bytearray()
    pos = 0
    n = len(data)
    first = True
    while pos < n:
        # stream padding between streams: 4-byte groups of nulls
        if not first:
            while pos + 4 <= n and data[pos : pos + 4] == b"\x00\x00\x00\x00":
                pos += 4
            if pos == n:
                break
        first = False
        if data[pos : pos + 6] != _XZ_MAGIC:
            raise ValueError("xz: bad stream-header magic")
        flags = data[pos + 6 : pos + 8]
        (hcrc,) = struct.unpack("<I", data[pos + 8 : pos + 12])
        if zlib.crc32(flags) != hcrc:
            raise ValueError("xz: stream-header CRC mismatch")
        if flags[0] != 0 or flags[1] not in _CHECK_SIZES:
            raise ValueError("xz: unsupported stream flags")
        check_id = flags[1]
        pos += 12
        records = []
        while True:
            if pos >= n:
                raise ValueError("xz: truncated stream")
            if data[pos] == 0x00:  # index indicator
                break
            raw, pos, unpadded, usize = _parse_block(
                data, pos, check_id, max_output - len(out)
            )
            out += raw
            records.append((unpadded, usize))
        # index
        istart = pos
        pos += 1
        nrec, pos = _varint_decode(data, pos)
        if nrec != len(records):
            raise ValueError("xz: index record count mismatch")
        for want in records:
            up, pos = _varint_decode(data, pos)
            us, pos = _varint_decode(data, pos)
            if (up, us) != want:
                raise ValueError("xz: index record mismatch")
        ipad = (4 - (pos - istart) % 4) % 4
        if data[pos : pos + ipad] != b"\x00" * ipad:
            raise ValueError("xz: nonzero index padding")
        pos += ipad
        (icrc,) = struct.unpack("<I", data[pos : pos + 4])
        if zlib.crc32(data[istart:pos]) != icrc:
            raise ValueError("xz: index CRC mismatch")
        pos += 4
        index_size = pos - istart
        # footer
        if pos + 12 > n:
            raise ValueError("xz: truncated stream footer")
        (fcrc,) = struct.unpack("<I", data[pos : pos + 4])
        footer_body = data[pos + 4 : pos + 10]
        if zlib.crc32(footer_body) != fcrc:
            raise ValueError("xz: stream-footer CRC mismatch")
        (backward,) = struct.unpack("<I", footer_body[:4])
        if (backward + 1) * 4 != index_size:
            raise ValueError("xz: footer backward-size mismatch")
        if footer_body[4:6] != flags:
            raise ValueError("xz: footer flags differ from header")
        if data[pos + 10 : pos + 12] != _XZ_FOOTER_MAGIC:
            raise ValueError("xz: bad footer magic")
        pos += 12
    return bytes(out)


# ---------------------------------------------------------------------------
# raw LZMA1 (round 14, session 3): the ZIP method-14 / lzma_alone body
# shape — one continuous range-coded stream, optional end marker,
# decoded against liblzma wire in tests/test_zip_methods.py
# ---------------------------------------------------------------------------


def lzma1_decompress(
    data: bytes,
    props_byte: int,
    out_size: int,
    max_output: int = 1 << 26,
) -> bytes:
    """Decode a raw LZMA1 stream of exactly ``out_size`` bytes (an end
    marker before or after the target is tolerated — both real-writer
    shapes exist on ZIP wire)."""
    if out_size > max_output:
        raise ValueError("lzma1: declared size exceeds bomb guard")
    dec = _LzmaDecoder()
    dec.reset_state(props_byte)
    dec.decode_chunk(data, 0, len(data), out_size, max_output, eos_ok=True)
    if len(dec.out) != out_size:
        raise ValueError("lzma1: stream ended short of declared size")
    return bytes(dec.out)


def lzma1_compress(data: bytes, lc: int = 3, lp: int = 0, pb: int = 2) -> bytes:
    """Encode ``data`` as one raw LZMA1 range-coded stream (no end
    marker — readers know the size from the container, as ZIP does)."""
    enc = _LzmaEncoder(lc, lp, pb)
    return enc.encode_chunk(bytes(data))
