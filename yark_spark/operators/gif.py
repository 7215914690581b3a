"""From-scratch GIF87a/GIF89a codec (round 11) — real LZW, both
interlace orders, no image library.

The reference archiver stores whatever thumbnail bytes YouTube serves
into its BLOB column opaquely (/root/reference/cmds/archive.py:88-91);
GIF is the fourth real-world container beside the JPEG
(operators/jpeg), WebP-VP8L (operators/webp) and PNG (operators/png)
codecs this engine already decodes from scratch. Same design rules as
those three:

* pure Python/numpy, self-contained module;
* the encoder exists to build **constructed-exact oracle fixtures** and
  pin the decoder by roundtrip — GIF's LZW is lossless, so decoded
  pixels equal encoded pixels bit-for-bit and an analytic (no image
  code) SQL oracle can check the decode stack end to end;
* malformed payloads raise ``ValueError`` (typed, not crashes);
  ``decode_gif`` returns frame 0 (poster-frame semantics for thumbnail
  pipelines); full disposal-method animation compositing landed in
  round 12 as :func:`compose_gif_frames` (the boundary this module
  documented through round 11 is closed).

LZW notes (the part worth being careful about):

* codes are packed **LSB-first** across the concatenated data
  sub-blocks;
* decoder code width starts at ``min_code_size + 1`` and grows when the
  next table slot to assign reaches ``1 << width`` (cap 12 bits; at
  4096 entries the table freezes until a CLEAR — "deferred clear" GIFs
  are legal and handled);
* the encoder tracks the table one code **ahead** of the decoder (it
  inserts the entry for a code at emit time, the decoder one code
  later), so it must widen at ``next == (1 << width) + 1`` and emit
  CLEAR when the decoder-side table would hit 4096 — getting this
  off-by-one wrong desyncs exactly at the 2^n boundaries, which the
  tests cross on purpose.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "compose_gif_frames",
    "decode_gif",
    "decode_gif_frames",
    "encode_gif",
    "encode_gif_anim",
    "lzw_decode",
    "lzw_encode",
]

_MAX_CODE = 4096  # 12-bit LZW table cap (GIF spec appendix F)


# ---------------------------------------------------------------------------
# LZW — GIF variant (LSB-first packing, variable width 3..12 bits)
# ---------------------------------------------------------------------------


def lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """Decode a GIF LZW stream (sub-blocks already concatenated) into
    exactly ``n_pixels`` palette indices. Tolerates a missing trailing
    EOI (common in the wild) and deferred-clear streams."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    # table[i] = (prefix_code, last_byte); roots have prefix -1
    prefix = np.full(_MAX_CODE, -1, dtype=np.int32)
    suffix = np.zeros(_MAX_CODE, dtype=np.uint8)
    first = np.zeros(_MAX_CODE, dtype=np.uint8)  # first byte of each string
    for i in range(clear):
        suffix[i] = i
        first[i] = i
    next_code = eoi + 1

    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0
    # LSB-first bit reader over the whole byte string
    acc = 0
    nbits = 0
    pos = 0
    nbytes = len(data)
    prev = -1
    # scratch stack for unwinding one table string (max string length 4096)
    stack = np.empty(_MAX_CODE + 1, dtype=np.uint8)

    while n_out < n_pixels:
        while nbits < width:
            if pos >= nbytes:
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width

        if code == clear:
            next_code = eoi + 1
            width = min_code_size + 1
            prev = -1
            continue
        if code == eoi:
            raise ValueError(f"EOI after {n_out} of {n_pixels} pixels")
        if code >= next_code and not (code == next_code and prev >= 0):
            raise ValueError(f"LZW code {code} out of range (next={next_code})")

        if code == next_code:  # the KwKwK special case
            s_code, extra = prev, first[prev]
        else:
            s_code, extra = code, -1
        # unwind string for s_code
        depth = 0
        c = s_code
        while c >= 0:
            stack[depth] = suffix[c]
            depth += 1
            c = prefix[c]
        # emit reversed, then the KwKwK extra byte
        take = min(depth, n_pixels - n_out)
        out[n_out : n_out + take] = stack[:depth][::-1][:take]
        n_out += take
        if extra >= 0 and n_out < n_pixels:
            out[n_out] = extra
            n_out += 1

        if prev >= 0 and next_code < _MAX_CODE:
            prefix[next_code] = prev
            suffix[next_code] = first[code] if code < next_code else first[prev]
            first[next_code] = first[prev]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
    return out


def lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF LZW compressor: dict of (prefix_code, byte) → code, CLEAR on
    table-full, width bookkeeping one code ahead of the decoder (see
    module docstring). Emits CLEAR first and EOI last per the spec."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    cur = -1
    for k in map(int, indices):
        if k >= clear:
            raise ValueError(f"index {k} exceeds {min_code_size}-bit palette")
        if cur < 0:
            cur = k
            continue
        got = table.get((cur, k))
        if got is not None:
            cur = got
            continue
        emit(cur, width)
        table[(cur, k)] = next_code
        next_code += 1
        # encoder runs one code ahead of the decoder's table state
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == _MAX_CODE + 1:
            emit(clear, 12)
            table.clear()
            next_code = eoi + 1
            width = min_code_size + 1
        cur = k
    if cur >= 0:
        emit(cur, width)
        # the final code advances the decoder's table too; EOI must be
        # read at the width the decoder will have after that advance
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(height: int) -> np.ndarray:
    """Row output order of an interlaced image (pass 1..4 concatenated)."""
    return np.concatenate(
        [np.arange(start, height, step) for start, step in _INTERLACE_PASSES]
    ).astype(np.int64)


def _read_subblocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    chunks = []
    while True:
        if pos >= len(buf):
            raise ValueError("truncated sub-block chain")
        n = buf[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(buf):
            raise ValueError("truncated sub-block")
        chunks.append(buf[pos : pos + n])
        pos += n
    return b"".join(chunks), pos


def decode_gif_frames(payload: bytes) -> list[dict]:
    """Parse every frame of a GIF into
    ``{indices, palette, left, top, width, height, transparent}`` dicts
    (indices ``uint8 (h, w)`` in screen row order — interlace undone;
    palette ``uint8 (n, 3)``) plus the GCE ``disposal`` method and
    ``delay_cs``; callers get the RAW frames —
    :func:`compose_gif_frames` replays them per the disposal rules."""
    p = bytes(payload)
    if p[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(p) < 13:
        raise ValueError("truncated GIF header")
    packed = p[10]
    gct = None
    pos = 13
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(p):
            raise ValueError("truncated global color table")
        gct = np.frombuffer(p[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n

    frames: list[dict] = []
    transparent = None
    disposal = 0
    delay_cs = 0
    while True:
        if pos >= len(p):
            raise ValueError("missing GIF trailer")
        block = p[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(p):
                raise ValueError("truncated extension")
            label = p[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                body, pos = _read_subblocks(p, pos)
                if len(body) >= 4:
                    disposal = (body[0] >> 2) & 0x07
                    delay_cs = body[1] | (body[2] << 8)
                    transparent = body[3] if body[0] & 0x01 else None
                else:
                    transparent, disposal, delay_cs = None, 0, 0
            else:  # comment / application / plain text: skip
                _, pos = _read_subblocks(p, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 9 > len(p):
            raise ValueError("truncated image descriptor")
        left, top, w, h = struct.unpack_from("<HHHH", p, pos)
        ipacked = p[pos + 8]
        pos += 9
        if w == 0 or h == 0:
            raise ValueError("empty GIF frame")
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(p):
                raise ValueError("truncated local color table")
            pal = np.frombuffer(p[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame without any color table")
        if pos >= len(p):
            raise ValueError("missing LZW min code size")
        mcs = p[pos]
        pos += 1
        data, pos = _read_subblocks(p, pos)
        idx = lzw_decode(data, mcs, w * h).reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4-pass order
            rows = np.empty((h, w), dtype=np.uint8)
            rows[_interlace_order(h)] = idx
            idx = rows
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        frames.append(
            {
                "indices": idx,
                "palette": pal,
                "left": left,
                "top": top,
                "width": w,
                "height": h,
                "transparent": transparent,
                "disposal": disposal,
                "delay_cs": delay_cs,
            }
        )
        transparent, disposal, delay_cs = None, 0, 0
    if not frames:
        raise ValueError("GIF with no image frame")
    return frames


def decode_gif(payload: bytes) -> np.ndarray:
    """Decode a GIF to a ``uint8 (h, w, 3)`` RGB array — ``(h, w, 4)``
    RGBA when the frame carries a transparency index (alpha 0 at the
    transparent index, 255 elsewhere). Multi-frame files return frame 0
    (poster-frame semantics; see module docstring)."""
    f = decode_gif_frames(payload)[0]
    pal, idx = f["palette"], f["indices"]
    rgb = pal[idx]
    if f["transparent"] is None:
        return rgb
    alpha = np.where(idx == f["transparent"], 0, 255).astype(np.uint8)
    return np.dstack([rgb, alpha])


def encode_gif(
    img: np.ndarray,
    interlace: bool = False,
    transparent: int | None = None,
    force_89a: bool = False,
) -> bytes:
    """Encode ``uint8 (h, w, 3)`` RGB (or ``(h, w)`` gray, mapped to a
    gray palette) as a single-frame GIF with a real LZW stream. The
    palette is built from the image's distinct colors (≤ 256 — this is
    a fixture/roundtrip encoder, not a quantizer; more colors raise).
    GIF87a unless a GCE is needed (transparency) or ``force_89a``."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_gif wants (h, w) gray or (h, w, 3) RGB")
    h, w = a.shape[:2]
    flat = a.reshape(-1, 3)
    pal, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError(f"{len(pal)} distinct colors (fixture encoder caps at 256)")
    # palette size: power of two >= 2; LZW min code size >= 2 per spec
    bits = max(2, int(np.ceil(np.log2(max(2, len(pal))))))
    mcs = bits
    n_pal = 1 << bits
    pal_bytes = np.zeros((n_pal, 3), dtype=np.uint8)
    pal_bytes[: len(pal)] = pal
    indices = inverse.astype(np.uint8)

    out = bytearray()
    use_89a = force_89a or transparent is not None
    out += b"GIF89a" if use_89a else b"GIF87a"
    out += struct.pack("<HH", w, h)
    out.append(0x80 | ((bits - 1) & 0x07))  # GCT present, 2^bits entries
    out += b"\x00\x00"  # background index, aspect
    out += pal_bytes.tobytes()
    if transparent is not None:
        if not 0 <= transparent < n_pal:
            raise ValueError("transparent index outside palette")
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    out += struct.pack("<BHHHH", 0x2C, 0, 0, w, h)
    out.append(0x40 if interlace else 0x00)  # no LCT; interlace flag
    if interlace:
        indices = indices.reshape(h, w)[_interlace_order(h)].reshape(-1)
    out.append(mcs)
    stream = lzw_encode(indices, mcs)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def compose_gif_frames(payload: bytes) -> list[dict]:
    """Animated-GIF disposal compositing (round 12, VERDICT r11 task
    #4 — this closes the boundary decode_gif_frames documented): replay
    every frame onto the logical-screen canvas per its GIF89a disposal
    method and return the PRESENTED canvases:

    * 0 (unspecified) / 1 (do not dispose): the painted region stays;
    * 2 (restore to background): after presentation the frame's region
      clears to TRANSPARENT — the universal player behavior (browsers
      ignore the background color index; so do we, documented);
    * 3 (restore to previous): the canvas reverts to its state before
      the frame was drawn.

    Transparent pixels of a frame never overwrite the canvas. Returns
    one dict per frame: ``{rgb (H, W, 3) uint8 over black, alpha
    (H, W) uint8 0/255, delay_cs}`` — H/W are the logical screen, so
    sub-rectangle frames composite into place."""
    p = bytes(payload)
    frames = decode_gif_frames(p)
    sw, sh = struct.unpack_from("<HH", p, 6)
    if sw == 0 or sh == 0:
        # legal-but-degenerate headers: fall back to frame-0 extent
        sw = frames[0]["left"] + frames[0]["width"]
        sh = frames[0]["top"] + frames[0]["height"]
    rgb = np.zeros((sh, sw, 3), dtype=np.uint8)
    alive = np.zeros((sh, sw), dtype=bool)
    out = []
    for f in frames:
        l, t, w, h = f["left"], f["top"], f["width"], f["height"]
        if l + w > sw or t + h > sh:
            raise ValueError("GIF frame rectangle outside the logical screen")
        if f["disposal"] > 3:
            raise ValueError(f"reserved GIF disposal method {f['disposal']}")
        prev = (rgb.copy(), alive.copy()) if f["disposal"] == 3 else None
        colors = f["palette"][f["indices"]]
        if f["transparent"] is not None:
            opaque = f["indices"] != f["transparent"]
        else:
            opaque = np.ones((h, w), dtype=bool)
        region_rgb = rgb[t : t + h, l : l + w]
        region_alive = alive[t : t + h, l : l + w]
        region_rgb[opaque] = colors[opaque]
        region_alive[opaque] = True
        out.append(
            {
                "rgb": rgb.copy(),
                "alpha": np.where(alive, 255, 0).astype(np.uint8),
                "delay_cs": f["delay_cs"],
            }
        )
        if f["disposal"] == 2:
            rgb[t : t + h, l : l + w] = 0
            alive[t : t + h, l : l + w] = False
        elif f["disposal"] == 3:
            rgb, alive = prev
    return out


def encode_gif_anim(
    frames: list,
    screen: tuple | None = None,
    rects: list | None = None,
    disposals: list | None = None,
    delays: list | None = None,
    transparent: int | None = None,
) -> bytes:
    """Multi-frame GIF89a fixture encoder (round 12): one global color
    table from the union of all frame colors, a Graphic Control
    Extension per frame (disposal method + centisecond delay +
    optional transparency flag), sub-rectangle placement via ``rects``
    [(left, top), ...]. Same fixture-encoder rules as
    :func:`encode_gif`: exact palette (no quantizer), real LZW."""
    arrs = []
    for img in frames:
        a = np.asarray(img, dtype=np.uint8)
        if a.ndim == 2:
            a = np.repeat(a[:, :, None], 3, axis=2)
        if a.ndim != 3 or a.shape[2] != 3:
            raise ValueError("encode_gif_anim wants gray or RGB frames")
        arrs.append(a)
    if not arrs:
        raise ValueError("no frames")
    rects = rects or [(0, 0)] * len(arrs)
    disposals = disposals or [0] * len(arrs)
    delays = delays or [0] * len(arrs)
    if not (len(rects) == len(disposals) == len(delays) == len(arrs)):
        raise ValueError("frames/rects/disposals/delays length mismatch")
    if screen is None:
        screen = (
            max(l + a.shape[1] for (l, _), a in zip(rects, arrs)),
            max(t + a.shape[0] for (_, t), a in zip(rects, arrs)),
        )
    sw, sh = screen
    all_colors = np.unique(
        np.concatenate([a.reshape(-1, 3) for a in arrs], axis=0), axis=0
    )
    pal = [tuple(c) for c in all_colors]
    if transparent is not None and transparent >= len(pal):
        raise ValueError("transparent index outside the built palette")
    lut = {c: i for i, c in enumerate(pal)}
    if len(pal) > 256:
        raise ValueError(f"{len(pal)} distinct colors (fixture encoder caps at 256)")
    bits = max(2, int(np.ceil(np.log2(max(2, len(pal))))))
    n_pal = 1 << bits
    pal_bytes = np.zeros((n_pal, 3), dtype=np.uint8)
    pal_bytes[: len(pal)] = all_colors

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    out.append(0x80 | ((bits - 1) & 0x07))
    out += b"\x00\x00"
    out += pal_bytes.tobytes()
    for a, (left, top), disp, delay in zip(arrs, rects, disposals, delays):
        h, w = a.shape[:2]
        if left + w > sw or top + h > sh:
            raise ValueError("frame rectangle outside the declared screen")
        if not 0 <= disp <= 3:
            raise ValueError("disposal method must be 0..3")
        flags = (disp << 2) | (0x01 if transparent is not None else 0)
        out += bytes(
            [0x21, 0xF9, 4, flags, delay & 0xFF, (delay >> 8) & 0xFF,
             transparent or 0, 0]
        )
        out += struct.pack("<BHHHH", 0x2C, left, top, w, h)
        out.append(0x00)  # no LCT, not interlaced
        idx = np.array(
            [lut[tuple(c)] for c in a.reshape(-1, 3)], dtype=np.uint8
        )
        out.append(bits)
        stream = lzw_encode(idx, bits)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
