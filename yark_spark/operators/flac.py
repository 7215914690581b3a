"""FLAC codec from scratch (round 12): a complete RFC 9639 decoder —
metadata walk, frame sync, UTF-8-coded frame/sample numbers, CRC-8
header and CRC-16 frame checks, CONSTANT / VERBATIM / FIXED(0-4) /
LPC(1-32) subframes, wasted bits, both Rice residual methods with
partitions and the raw-bits escape, all four channel assignments
(independent, left/side, right/side, mid/side), and the STREAMINFO MD5
differential — plus a REAL encoder (constant detection, fixed-order
search, Levinson-Durbin LPC with coefficient quantization, exact-cost
Rice parameter selection, optional stereo decorrelation) so every
decode path is pinned by lossless roundtrips.

FLAC is the dominant storage format of public speech/audio training
corpora (LibriSpeech, Common Voice exports, MLS), so `.flac` ingest is
the audio twin of the PNG/DEFLATE work: until this round it sat on the
psychoacoustic NotImplementedError boundary, but FLAC is *lossless*
fixed bit-arithmetic from a public spec — no audio library needed.

Reference parity note: the reference archiver stores media bytes
opaquely (/root/reference/cmds/archive.py:88-91); decoding them is
mandate-side training-pipeline surface, same as operators/png et al.

Oracle recipe (the constructed-exact pattern from operators/
audio_codecs): FLAC is lossless, so ANY fixture decodes bit-exactly —
the md5-ascii-sample fixture used for PCM WAV works unchanged, and the
same analytic SQL truth (peak/RMS over ascii codes) pins the whole
sync→subframe→Rice→decorrelate wire. Malformed payloads raise typed
ValueError so the decode quarantine (operators/multimodal) can keep
corrupt rows as rows.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

__all__ = ["decode_flac", "decode_flac_raw", "encode_flac"]


# ---------------------------------------------------------------------------
# CRCs (FLAC uses CRC-8 poly 0x07 over frame headers and CRC-16 poly
# 0x8005 over whole frames, both MSB-first, init 0 — RFC 9639 §9.1/9.2)
# ---------------------------------------------------------------------------


def _make_crc_table(poly: int, width: int) -> list[int]:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return table


_CRC8_TABLE = _make_crc_table(0x07, 8)
_CRC16_TABLE = _make_crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC16_TABLE[((crc >> 8) ^ b) & 0xFF] ^ ((crc << 8) & 0xFFFF)
    return crc


# ---------------------------------------------------------------------------
# Bit I/O (MSB-first, unlike DEFLATE's LSB-first readers in
# operators/png — FLAC packs the opposite way around)
# ---------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes, start_byte: int = 0):
        self.data = data
        self.pos = start_byte << 3
        self.nbits = len(data) << 3

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > self.nbits:
            raise ValueError("flac: truncated bitstream")
        lo = self.pos >> 3
        hi = (end + 7) >> 3
        chunk = int.from_bytes(self.data[lo:hi], "big")
        self.pos = end
        return (chunk >> ((hi << 3) - end)) & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        if n and v & (1 << (n - 1)):
            v -= 1 << n
        return v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.pos >= self.nbits:
                raise ValueError("flac: truncated unary code")
            byte = self.data[self.pos >> 3]
            avail = 8 - (self.pos & 7)
            bits = byte & ((1 << avail) - 1)
            if bits == 0:
                q += avail
                self.pos += avail
                continue
            zeros = avail - bits.bit_length()
            self.pos += zeros + 1
            return q + zeros

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        if self.pos & 7:
            raise ValueError("flac: byte_pos on unaligned reader")
        return self.pos >> 3


class _BitWriter:
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
        while self.nacc >= 8:
            self.nacc -= 8
            self.buf.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nacc:
            self.write(0, 8 - self.nacc)

    def getvalue(self) -> bytes:
        if self.nacc:
            raise ValueError("flac: unaligned writer")
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# UTF-8-coded frame / sample numbers (RFC 9639 §9.1.5 — classic UTF-8
# extended to 7-byte sequences for 36-bit sample numbers)
# ---------------------------------------------------------------------------

_UTF8_BITS = ((1, 7), (2, 11), (3, 16), (4, 21), (5, 26), (6, 31), (7, 36))


def _utf8_number_encode(n: int) -> bytes:
    for nb, bits in _UTF8_BITS:
        if n < (1 << bits):
            if nb == 1:
                return bytes([n])
            out = bytearray()
            prefix = (0xFF00 >> nb) & 0xFF
            shift = 6 * (nb - 1)
            out.append(prefix | (n >> shift))
            for _ in range(nb - 1):
                shift -= 6
                out.append(0x80 | ((n >> shift) & 0x3F))
            return bytes(out)
    raise ValueError("flac: coded number exceeds 36 bits")


def _utf8_number_decode(r: _BitReader) -> int:
    first = r.read(8)
    if first < 0x80:
        return first
    nb = 8 - (first ^ 0xFF).bit_length()  # leading ones
    if nb < 2 or nb > 7:
        raise ValueError("flac: invalid coded-number lead byte")
    n = first & (0xFF >> (nb + 1)) if nb < 7 else 0
    for _ in range(nb - 1):
        cont = r.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("flac: invalid coded-number continuation")
        n = (n << 6) | (cont & 0x3F)
    return n


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

_BLOCK_SIZE_CODES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}
_BLOCK_SIZE_CODES.update({n: 256 << (n - 8) for n in range(8, 16)})

_SAMPLE_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}

_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

# Fixed-predictor coefficients by order (RFC 9639 §10.2.2): the o-th
# forward difference, so residual = Δ^o(signal).
_FIXED_COEFFS = {
    0: (),
    1: (1,),
    2: (2, -1),
    3: (3, -3, 1),
    4: (4, -6, 4, -1),
}


def _parse_streaminfo(body: bytes) -> dict:
    if len(body) < 34:
        raise ValueError("flac: STREAMINFO truncated")
    r = _BitReader(body)
    info = {
        "min_block": r.read(16),
        "max_block": r.read(16),
        "min_frame": r.read(24),
        "max_frame": r.read(24),
        "rate": r.read(20),
        "channels": r.read(3) + 1,
        "bps": r.read(5) + 1,
        "total": r.read(36),
        "md5": body[18:34],
    }
    if info["rate"] == 0:
        raise ValueError("flac: STREAMINFO sample rate 0")
    return info


def _decode_residual(r: _BitReader, block_size: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"flac: reserved residual method {method}")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if block_size & (nparts - 1):
        raise ValueError("flac: partition count does not divide block size")
    part_len = block_size >> porder
    out: list[int] = []
    for p in range(nparts):
        n = part_len - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("flac: predictor order exceeds first partition")
        param = r.read(param_bits)
        if param == escape:
            raw = r.read(5)
            out.extend(r.read_signed(raw) if raw else 0 for _ in range(n))
        else:
            for _ in range(n):
                q = r.read_unary()
                v = (q << param) | r.read(param)
                out.append((v >> 1) ^ -(v & 1))
    return out


def _decode_subframe(r: _BitReader, block_size: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("flac: subframe padding bit set")
    sftype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("flac: wasted bits exceed sample size")
    if sftype == 0:  # CONSTANT
        samples = [r.read_signed(eff)] * block_size
    elif sftype == 1:  # VERBATIM
        samples = [r.read_signed(eff) for _ in range(block_size)]
    elif 8 <= sftype <= 12:  # FIXED, order 0-4
        order = sftype - 8
        if order > block_size:
            raise ValueError("flac: fixed order exceeds block size")
        samples = [r.read_signed(eff) for _ in range(order)]
        res = _decode_residual(r, block_size, order)
        coeffs = _FIXED_COEFFS[order]
        for i, e in enumerate(res):
            idx = order + i
            pred = sum(c * samples[idx - 1 - j] for j, c in enumerate(coeffs))
            samples.append(e + pred)
    elif sftype >= 32:  # LPC, order 1-32
        order = sftype - 31
        if order > block_size:
            raise ValueError("flac: LPC order exceeds block size")
        samples = [r.read_signed(eff) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("flac: invalid QLP precision code 15")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative QLP shift")
        qlp = [r.read_signed(prec) for _ in range(order)]
        res = _decode_residual(r, block_size, order)
        for i, e in enumerate(res):
            idx = order + i
            acc = sum(c * samples[idx - 1 - j] for j, c in enumerate(qlp))
            samples.append(e + (acc >> shift))
    else:
        raise ValueError(f"flac: reserved subframe type {sftype}")
    arr = np.asarray(samples, dtype=np.int64)
    if wasted:
        arr <<= wasted
    return arr


def _decode_frame(
    data: bytes, start: int, info: dict
) -> tuple[np.ndarray, int, int, int]:
    """Decode one frame at byte offset ``start``; returns
    (samples[(block, channels)], rate, bps, next_byte_offset)."""
    r = _BitReader(data, start)
    if r.read(14) != 0b11111111111110:
        raise ValueError("flac: lost frame sync")
    if r.read(1):
        raise ValueError("flac: reserved frame-header bit set")
    r.read(1)  # blocking strategy (number semantics only)
    bs_code = r.read(4)
    sr_code = r.read(4)
    chan_code = r.read(4)
    size_code = r.read(3)
    if r.read(1):
        raise ValueError("flac: reserved frame-header bit set")
    _utf8_number_decode(r)
    if bs_code == 0:
        raise ValueError("flac: reserved block size code 0")
    elif bs_code == 6:
        block_size = r.read(8) + 1
    elif bs_code == 7:
        block_size = r.read(16) + 1
    else:
        block_size = _BLOCK_SIZE_CODES[bs_code]
    if sr_code == 0:
        rate = info["rate"]
    elif sr_code == 12:
        rate = r.read(8) * 1000
    elif sr_code == 13:
        rate = r.read(16)
    elif sr_code == 14:
        rate = r.read(16) * 10
    elif sr_code == 15:
        raise ValueError("flac: invalid sample rate code 15")
    else:
        rate = _SAMPLE_RATE_CODES[sr_code]
    if size_code == 0:
        bps = info["bps"]
    elif size_code == 3:
        raise ValueError("flac: reserved sample size code 3")
    else:
        bps = _SAMPLE_SIZE_CODES[size_code]
    header_end = (r.pos + 7) >> 3
    if _crc8(data[start:header_end]) != r.read(8):
        raise ValueError("flac: frame header CRC-8 mismatch")

    if chan_code <= 7:
        nch = chan_code + 1
        chans = [_decode_subframe(r, block_size, bps) for _ in range(nch)]
    elif chan_code in (8, 9, 10):
        nch = 2
        # the difference (side) channel carries one extra bit
        b0 = bps + (1 if chan_code == 9 else 0)
        b1 = bps + (1 if chan_code in (8, 10) else 0)
        c0 = _decode_subframe(r, block_size, b0)
        c1 = _decode_subframe(r, block_size, b1)
        if chan_code == 8:  # left/side: right = left - side
            chans = [c0, c0 - c1]
        elif chan_code == 9:  # side/right: left = right + side
            chans = [c1 + c0, c1]
        else:  # mid/side
            side = c1
            mid2 = (c0 << 1) | (side & 1)
            chans = [(mid2 + side) >> 1, (mid2 - side) >> 1]
    else:
        raise ValueError(f"flac: reserved channel assignment {chan_code}")
    if nch != info["channels"]:
        raise ValueError("flac: frame channel count differs from STREAMINFO")

    r.align()
    frame_end = r.byte_pos()
    if _crc16(data[start:frame_end]) != r.read(16):
        raise ValueError("flac: frame CRC-16 mismatch")
    return np.stack(chans, axis=1), rate, bps, frame_end + 2


def decode_flac_raw(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """FLAC stream → ``(rate, channels, bps, samples)`` with samples an
    int64 array of shape (n, channels) at the native bit depth. Raises
    typed ``ValueError`` on any malformed structure (bad magic, CRC
    mismatch, reserved codes, truncation) so the decode quarantine can
    catch it; verifies the STREAMINFO MD5 when present (byte-aligned
    depths) — a whole-stream differential on every decode."""
    data = bytes(payload)
    if len(data) < 42 or data[:4] != b"fLaC":
        raise ValueError("flac: bad magic")
    pos, info, last = 4, None, False
    while not last:
        if pos + 4 > len(data):
            raise ValueError("flac: truncated metadata block header")
        head = data[pos]
        last = bool(head & 0x80)
        btype = head & 0x7F
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("flac: truncated metadata block")
        if btype == 0:
            info = _parse_streaminfo(body)
        elif btype == 127:
            raise ValueError("flac: invalid metadata block type 127")
        pos += 4 + length
    if info is None:
        raise ValueError("flac: missing STREAMINFO")

    frames = []
    rate, bps = info["rate"], info["bps"]
    total = 0
    while pos < len(data):
        block, rate, bps, pos = _decode_frame(data, pos, info)
        frames.append(block)
        total += block.shape[0]
        if info["total"] and total >= info["total"]:
            break
    samples = (
        np.concatenate(frames, axis=0)
        if frames
        else np.zeros((0, info["channels"]), dtype=np.int64)
    )
    if info["total"]:
        if samples.shape[0] < info["total"]:
            raise ValueError("flac: stream ends before STREAMINFO total")
        samples = samples[: info["total"]]
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if samples.size and (samples.min() < lo or samples.max() > hi):
        raise ValueError("flac: decoded sample exceeds bit depth")
    if info["md5"] != b"\x00" * 16 and bps % 8 == 0:
        width = bps // 8
        raw = _pack_samples_le(samples, width)
        if hashlib.md5(raw).digest() != info["md5"]:
            raise ValueError("flac: MD5 signature mismatch")
    return rate, info["channels"], bps, samples


def decode_flac(payload: bytes) -> tuple[int, int, np.ndarray]:
    """FLAC → ``(rate, channels, int16 interleaved samples)`` — the
    decode_wav-shaped entry point so the audio feature extractors treat
    `.flac` and `.wav` uniformly (other depths normalize to int16 the
    same way operators/audio_codecs.decode_wav does)."""
    rate, channels, bps, samples = decode_flac_raw(payload)
    flat = samples.reshape(-1)
    shift = bps - 16
    if shift > 0:
        flat = flat >> shift
    elif shift < 0:
        flat = flat << -shift
    return rate, channels, flat.astype(np.int16)


def _pack_samples_le(samples: np.ndarray, width: int) -> bytes:
    """Interleaved samples → little-endian signed bytes at ``width``
    bytes/sample (the layout FLAC's MD5 covers)."""
    flat = samples.reshape(-1)
    if width == 1:
        return flat.astype(np.int8).tobytes()
    if width == 2:
        return flat.astype("<i2").tobytes()
    if width == 4:
        return flat.astype("<i4").tobytes()
    if width == 3:
        as32 = flat.astype("<i4").tobytes()
        arr = np.frombuffer(as32, dtype=np.uint8).reshape(-1, 4)
        return arr[:, :3].tobytes()
    raise ValueError(f"flac: unsupported sample width {width}")


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _zigzag(res: np.ndarray) -> np.ndarray:
    return np.where(res >= 0, res << 1, (-res << 1) - 1)


def _rice_cost(zz: np.ndarray, k: int) -> int:
    # exact bit count for parameter k: unary quotients + k-bit remainders
    return int(np.sum(zz >> k)) + zz.size * (k + 1)


def _best_rice_param(zz: np.ndarray) -> tuple[int, int]:
    """Exact-cost Rice parameter search (the mean-based estimate seeds
    it; neighbors ±2 cover the convex cost curve's true minimum)."""
    if zz.size == 0:
        return 0, 0
    mean = float(np.mean(zz))
    seed = max(0, int(mean).bit_length() - 1) if mean >= 1 else 0
    seed = min(seed, 28)  # keep the ±2 window inside the 5-bit param range
    best_k, best_c = 0, None
    for k in range(max(0, seed - 2), min(30, seed + 3)):
        c = _rice_cost(zz, k)
        if best_c is None or c < best_c:
            best_k, best_c = k, c
    return best_k, best_c


def _partition_plan(
    res: np.ndarray, block_size: int, order: int
) -> tuple[int, list[tuple[int, int, np.ndarray]]]:
    """Pick the Rice partition order by exact cost (the real-FLAC
    search, capped at 2^4 partitions). Returns (porder, parts) where
    each part is (param, raw_bits_or_0, zigzag_values) — raw_bits > 0
    marks an escaped partition."""
    best = None  # (total_cost, porder, parts)
    for porder in range(0, 5):
        nparts = 1 << porder
        part_len = block_size >> porder
        if block_size & (nparts - 1) or part_len <= order:
            break
        total, parts, pos = 0, [], 0
        for p in range(nparts):
            n = part_len - (order if p == 0 else 0)
            seg = res[pos : pos + n]
            pos += n
            zz = _zigzag(seg)
            k, cost = _best_rice_param(zz)
            param_bits = 4 if k <= 14 else 5
            raw = 0
            if seg.size:
                need = (
                    max(int(seg.min()).bit_length(), int(seg.max()).bit_length())
                    + 1
                )
                if need <= 31 and cost > seg.size * need + 5:
                    raw, cost = need, seg.size * need + 5
            parts.append((k, raw, zz if not raw else seg))
            total += cost + param_bits
        if best is None or total < best[0]:
            best = (total, porder, parts)
    return best[1], best[2]


def _write_residual(
    w: _BitWriter, res: np.ndarray, block_size: int, order: int
) -> None:
    """Partitioned Rice residual: exact-cost partition-order search,
    method 1 (5-bit params) when any parameter exceeds method 0's
    range, raw-bits escape per partition when fixed-width wins."""
    porder, parts = _partition_plan(res, block_size, order)
    method = 1 if any(k > 14 for k, _raw, _v in parts) else 0
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    w.write(method, 2)
    w.write(porder, 4)
    for k, raw, vals in parts:
        if raw:
            w.write(escape, param_bits)
            w.write(raw, 5)
            for v in vals:
                w.write(int(v), raw)
        else:
            w.write(k, param_bits)
            for v in vals:
                w.write_unary(int(v) >> k)
                w.write(int(v), k)


def _lpc_coeffs(x: np.ndarray, order: int) -> list[float] | None:
    """Levinson-Durbin over the raw autocorrelation; None when the
    signal is degenerate (zero energy / unstable recursion)."""
    xf = x.astype(np.float64)
    n = xf.size
    autoc = [float(np.dot(xf[: n - lag], xf[lag:])) for lag in range(order + 1)]
    err = autoc[0]
    if err <= 0:
        return None
    lpc: list[float] = []
    for i in range(order):
        acc = autoc[i + 1] - sum(lpc[j] * autoc[i - j] for j in range(i))
        if err == 0:
            return None
        k = acc / err
        lpc = [lpc[j] - k * lpc[i - 1 - j] for j in range(i)] + [k]
        err *= 1.0 - k * k
        if err <= 0:
            return None
    return lpc


def _quantize_lpc(lpc: list[float], precision: int = 14) -> tuple[list[int], int]:
    cmax = max(abs(c) for c in lpc)
    if cmax == 0:
        return [0] * len(lpc), 0
    # largest shift keeping every coefficient inside `precision` signed bits
    shift = precision - 1 - (int(cmax).bit_length() if cmax >= 1 else 0) - 1
    shift = max(0, min(15, shift))
    lim = 1 << (precision - 1)
    q = [min(lim - 1, max(-lim, round(c * (1 << shift)))) for c in lpc]
    return q, shift


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    res = x
    for _ in range(order):
        res = np.diff(res)
    return res


def _encode_subframe(
    w: _BitWriter, x: np.ndarray, bps: int, use_lpc: bool, lpc_order: int
) -> None:
    n = x.size
    if n and np.all(x == x[0]):
        w.write(0, 1)
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)
        w.write(int(x[0]), bps)
        return

    # wasted bits: a shared power-of-two factor moves out of every
    # sample (upshifted sources — 8-bit audio stored as 16-bit — are
    # common in real corpora, and this keeps the decode path exercised)
    wasted = 0
    if n:
        nz = x[x != 0]
        if nz.size:
            wasted = int((nz & -nz).min()).bit_length() - 1
    if wasted:
        x = x >> wasted
        bps -= wasted

    # candidate: best fixed order by exact Rice cost
    best = None  # (cost, kind, order, residual, extras)
    for order in range(0, min(4, n - 1) + 1):
        res = _fixed_residual(x, order)
        _, cost = _best_rice_param(_zigzag(res))
        cost += order * bps
        if best is None or cost < best[0]:
            best = (cost, "fixed", order, res, None)

    if use_lpc and n > lpc_order + 1:
        order = min(lpc_order, 32)
        lpc = _lpc_coeffs(x, order)
        if lpc is not None:
            qlp, shift = _quantize_lpc(lpc)
            qarr = np.asarray(qlp, dtype=np.int64)
            # pred[i] = (Σ_j q[j]·x[i-1-j]) >> shift = convolution at i-1;
            # int64 exact: |acc| ≤ 32 · 2^14 · 2^33 = 2^52
            pred = np.convolve(x, qarr, mode="full")[order - 1 : n - 1]
            res = x[order:] - (pred >> shift)
            _, cost = _best_rice_param(_zigzag(res))
            cost += order * bps + 4 + 5 + order * 15
            if cost < best[0]:
                best = (cost, "lpc", order, res, (qlp, shift))

    verbatim_cost = n * bps
    if best[0] >= verbatim_cost:
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        _write_wasted(w, wasted)
        for v in x:
            w.write(int(v), bps)
        return

    _, kind, order, res, extras = best
    w.write(0, 1)
    if kind == "fixed":
        w.write(8 + order, 6)
        _write_wasted(w, wasted)
        for v in x[:order]:
            w.write(int(v), bps)
    else:
        qlp, shift = extras
        w.write(32 + order - 1, 6)
        _write_wasted(w, wasted)
        for v in x[:order]:
            w.write(int(v), bps)
        w.write(15 - 1, 4)  # precision 15 → code 14
        w.write(shift, 5)
        for c in qlp:
            w.write(int(c), 15)
    _write_residual(w, res, n, order)


def _write_wasted(w: _BitWriter, wasted: int) -> None:
    if wasted:
        w.write(1, 1)
        w.write_unary(wasted - 1)
    else:
        w.write(0, 1)


_STEREO_MODES = ("independent", "left_side", "right_side", "mid_side")


def encode_flac(
    samples,
    rate: int = 8000,
    bps: int = 16,
    block_size: int = 4096,
    stereo_mode: str = "independent",
    use_lpc: bool = True,
    lpc_order: int = 8,
) -> bytes:
    """PCM → FLAC stream. ``samples``: 1-D mono or (n, channels) int
    array; ``stereo_mode`` exercises the decoder's decorrelation paths
    (2-channel input only). Fixed blocking strategy, one STREAMINFO
    block, per-frame CRC-8/CRC-16, STREAMINFO MD5 over the input —
    everything the decoder checks, it must produce."""
    x = np.asarray(samples, dtype=np.int64)
    if x.ndim == 1:
        x = x[:, None]
    if x.ndim != 2 or x.shape[1] < 1 or x.shape[1] > 8:
        raise ValueError("flac: samples must be (n,) or (n, 1..8 channels)")
    n, channels = x.shape
    if stereo_mode not in _STEREO_MODES:
        raise ValueError(f"flac: unknown stereo mode {stereo_mode!r}")
    if stereo_mode != "independent" and channels != 2:
        raise ValueError("flac: stereo decorrelation needs exactly 2 channels")
    if not 4 <= bps <= 32:
        raise ValueError("flac: bits per sample out of range")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if x.size and (x.min() < lo or x.max() > hi):
        raise ValueError("flac: sample exceeds bit depth")
    if not 16 <= block_size <= 65535:
        raise ValueError("flac: block size out of range")
    if not 1 <= rate < (1 << 20):
        raise ValueError("flac: sample rate out of range")

    out = bytearray(b"fLaC")
    md5 = (
        hashlib.md5(_pack_samples_le(x, bps // 8)).digest()
        if bps % 8 == 0
        else b"\x00" * 16
    )
    si = _BitWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    body = si.getvalue() + md5
    out.append(0x80)  # last block, type 0 = STREAMINFO
    out += len(body).to_bytes(3, "big")
    out += body

    size_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}.get(bps, 0)
    for frame_no, off in enumerate(range(0, n, block_size)):
        block = x[off : off + block_size]
        bs = block.shape[0]
        w = _BitWriter()
        w.write(0b11111111111110, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking strategy
        bs_code = 7  # 16-bit block size at header end — uniform & exact
        w.write(bs_code, 4)
        w.write(0, 4)  # sample rate from STREAMINFO
        if stereo_mode == "independent":
            chan_code = channels - 1
        else:
            chan_code = {"left_side": 8, "right_side": 9, "mid_side": 10}[
                stereo_mode
            ]
        w.write(chan_code, 4)
        w.write(size_code, 3)
        w.write(0, 1)
        for b in _utf8_number_encode(frame_no):
            w.write(b, 8)
        w.write(bs - 1, 16)
        w.align()
        header = w.getvalue()
        w = _BitWriter()
        for b in header:
            w.write(b, 8)
        w.write(_crc8(header), 8)

        if stereo_mode == "independent":
            for c in range(channels):
                _encode_subframe(w, block[:, c], bps, use_lpc, lpc_order)
        else:
            left, right = block[:, 0], block[:, 1]
            side = left - right
            if stereo_mode == "left_side":
                _encode_subframe(w, left, bps, use_lpc, lpc_order)
                _encode_subframe(w, side, bps + 1, use_lpc, lpc_order)
            elif stereo_mode == "right_side":
                _encode_subframe(w, side, bps + 1, use_lpc, lpc_order)
                _encode_subframe(w, right, bps, use_lpc, lpc_order)
            else:  # mid_side
                mid = (left + right) >> 1
                _encode_subframe(w, mid, bps, use_lpc, lpc_order)
                _encode_subframe(w, side, bps + 1, use_lpc, lpc_order)
        w.align()
        frame = w.getvalue()
        out += frame
        out += _crc16(frame).to_bytes(2, "big")
    return bytes(out)
