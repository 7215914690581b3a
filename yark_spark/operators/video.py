"""Y4M (YUV4MPEG2) video container codec from scratch (round 11) —
real video frames as data, no video library.

Until now the video modality was the weakest leg of the multimodal
surface: ``decode_binary_features`` computes deterministic FAKE
dimensions, and the docstrings route real video to ffmpeg. Y4M closes
that honestly: it is the standard UNCOMPRESSED interchange container
(what codec developers feed x264/libvpx; mjpegtools' format, public
spec), so a pure-numpy parser yields actual luma/chroma planes with no
entropy coding — the same role netpbm plays for images. Entropy-coded
video (H.264/VP9/AV1) remains the documented boundary, exactly like
psychoacoustic audio.

Same design rules as the image codecs beside it (operators/jpeg, png,
webp, gif): self-contained module; a
fixture encoder so oracles are constructed-exact (planes are stored
verbatim, so per-frame statistics are analytic); typed ``ValueError``
on malformed payloads.

Layout notes: stream header ``YUV4MPEG2 [W.. H.. F.. I.. A.. C.. X..]\\n``
then per frame ``FRAME[ params]\\n`` + planar YCbCr. Chroma layout from
the C tag: 420 (+ jpeg/mpeg2/paldv variants — same plane sizes), 422,
444, and mono (no chroma planes).
"""

from __future__ import annotations

import numpy as np

__all__ = ["decode_y4m", "encode_y4m", "y4m_header"]

_C_SUBSAMPLE = {
    # tag: (x_div, y_div, has_chroma)
    "420": (2, 2, True),
    "420jpeg": (2, 2, True),
    "420mpeg2": (2, 2, True),
    "420paldv": (2, 2, True),
    "422": (2, 1, True),
    "444": (1, 1, True),
    "mono": (1, 1, False),
}


def y4m_header(payload: bytes) -> dict:
    """Parse just the stream header → dict(width, height, fps_num,
    fps_den, colorspace, interlace, header_len)."""
    p = bytes(payload)
    if not p.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = p.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated Y4M stream header")
    info = {
        "width": None,
        "height": None,
        "fps_num": 25,
        "fps_den": 1,
        "colorspace": "420",
        "interlace": "p",
        "header_len": nl + 1,
    }
    for tok in p[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            info["width"] = int(val)
        elif tag == "H":
            info["height"] = int(val)
        elif tag == "F":
            num, _, den = val.partition(":")
            info["fps_num"], info["fps_den"] = int(num), int(den or 1)
        elif tag == "C":
            info["colorspace"] = val
        elif tag == "I":
            info["interlace"] = val
        # A (aspect) and X (extensions) are legal and ignored
    if not info["width"] or not info["height"]:
        raise ValueError("Y4M header missing W/H")
    if info["colorspace"] not in _C_SUBSAMPLE:
        raise NotImplementedError(
            f"Y4M colorspace C{info['colorspace']} (8-bit 420/422/444/mono here)"
        )
    return info


def decode_y4m(payload: bytes) -> dict:
    """Decode a Y4M stream → ``{width, height, fps_num, fps_den,
    frames}`` where frames is a list of ``(y, cb, cr)`` uint8 plane
    tuples (``cb``/``cr`` are None for mono). Planes are stored
    verbatim in the container, so decode is exact by construction."""
    p = bytes(payload)
    info = y4m_header(p)
    w, h = info["width"], info["height"]
    xd, yd, has_chroma = _C_SUBSAMPLE[info["colorspace"]]
    cw, ch = -(-w // xd), -(-h // yd)
    y_size = w * h
    c_size = cw * ch if has_chroma else 0
    frame_size = y_size + 2 * c_size

    frames = []
    pos = info["header_len"]
    while pos < len(p):
        nl = p.find(b"\n", pos)
        if nl < 0 or not p[pos:nl].startswith(b"FRAME"):
            raise ValueError(f"bad FRAME marker at offset {pos}")
        pos = nl + 1
        if pos + frame_size > len(p):
            raise ValueError("truncated Y4M frame")
        y = np.frombuffer(p, dtype=np.uint8, count=y_size, offset=pos).reshape(h, w)
        pos += y_size
        cb = cr = None
        if has_chroma:
            cb = np.frombuffer(p, dtype=np.uint8, count=c_size, offset=pos).reshape(
                ch, cw
            )
            pos += c_size
            cr = np.frombuffer(p, dtype=np.uint8, count=c_size, offset=pos).reshape(
                ch, cw
            )
            pos += c_size
        frames.append((y, cb, cr))
    if not frames:
        raise ValueError("Y4M stream with no frames")
    info.pop("header_len")
    info["frames"] = frames
    return info


def encode_y4m(
    frames,
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "420",
    frame_params: str = "",
) -> bytes:
    """Encode luma frames (list of ``uint8 (h, w)`` arrays, or
    ``(y, cb, cr)`` tuples) as Y4M. Bare luma frames get flat 128
    chroma planes (neutral gray) unless ``colorspace='mono'``."""
    if not frames:
        raise ValueError("no frames")
    if colorspace not in _C_SUBSAMPLE:
        raise NotImplementedError(f"colorspace {colorspace}")
    xd, yd, has_chroma = _C_SUBSAMPLE[colorspace]
    first = frames[0][0] if isinstance(frames[0], tuple) else frames[0]
    h, w = first.shape
    cw, ch = -(-w // xd), -(-h // yd)
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C{colorspace}\n".encode()
    )
    for f in frames:
        if isinstance(f, tuple):
            y, cb, cr = f
        else:
            y, cb, cr = f, None, None
        y = np.asarray(y, dtype=np.uint8)
        if y.shape != (h, w):
            raise ValueError("frame size mismatch")
        out += b"FRAME"
        if frame_params:
            out += b" " + frame_params.encode()
        out += b"\n" + y.tobytes()
        if has_chroma:
            if cb is None:
                cb = np.full((ch, cw), 128, dtype=np.uint8)
                cr = cb
            cb = np.asarray(cb, dtype=np.uint8)
            cr = np.asarray(cr, dtype=np.uint8)
            if cb.shape != (ch, cw) or cr.shape != (ch, cw):
                raise ValueError(
                    f"chroma plane shape {cb.shape}/{cr.shape} != {(ch, cw)} "
                    f"for C{colorspace}"
                )
            out += cb.tobytes()
            out += cr.tobytes()
    return bytes(out)
