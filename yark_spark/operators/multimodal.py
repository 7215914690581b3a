"""Multimodal (binary) column plumbing — SURVEY.md §2.8 E4.

The reference stores raw image bytes in `videos.thumbnail BLOB`
(`schema.sql:49`, fetched at `cmds/archive.py:88-91`, dumped back to files
at `:201-221`). Here binary payloads are first-class `BinaryType` columns
with typed metadata, processed by Arrow-batched pandas functions via
``mapInPandas``. The Spark-side plumbing (schema, batching, partitioning)
is real, and decode is real for uncompressed PGM/PPM/BMP (pure-numpy
parser, driver hash-matched via q_image_decode) AND for baseline JPEG —
the format the reference's thumbnails actually use — via the pure-numpy
T.81 codec in operators/jpeg (hash-matched via q_image_decode_jpeg on a
constructed-exact roundtrip) — including PROGRESSIVE JPEG and restart
intervals since round 9, lossless WebP (VP8L) via operators/webp since
round 10 (hash-matched via q_image_decode_webp), plus 16-bit netpbm and
BI_RLE8-compressed BMP, and PNG since round 11 — zlib inflate + all
five filters in operators/png, hash-matched via q_image_decode_png. The remaining
boundaries are the DCT/arithmetic video-class codecs: lossy VP8,
arithmetic-coded JPEG, and BMP's embedded BI_JPEG/BI_PNG payloads;
fake_image_features remains the deterministic stand-in for those paths.

Scale notes: binary rows are big — keep them out of shuffles. All feature
extraction here is map-only (mapInPandas, no keys), and downstream joins
should carry the extracted features, never the bytes. maxPartitionBytes
governs scan granularity; rows stay within a single task end-to-end.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Output schema of extract_features — typed metadata alongside the id.
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sha1_8", StringType()),
        StructField("fake_width", IntegerType()),
        StructField("fake_height", IntegerType()),
        StructField("fake_mode", StringType()),
    ]
)


def _make_decoder():
    """Build the pure-numpy image decoder closure.

    Supports PGM (P5) / PPM (P6) binary netpbm (8- and 16-bit), BMP
    with BI_RGB at 8/24/32 bpp, BI_RLE8/BI_RLE4 runs, and BI_BITFIELDS
    16/32 bpp (mask-generic, 565/555/8888), baseline +
    progressive JPEG (operators/jpeg), lossless WebP / VP8L
    (operators/webp), and PNG (operators/png — zlib inflate,
    all filter types, color types 0/2/3/4/6, depths 1-16). Remaining
    formats raise NotImplementedError — a real deployment plugs PIL/cv2
    in for those (the VP8 DCT codec is out of scope; PNG decodes fully,
    Adam7 included since round 11). Returns uint8 (uint16 for deep netpbm/PNG) arrays shaped
    (H, W) for grayscale or (H, W, C) with RGB channel order for color
    (RGBA for WebP / alpha-carrying PNG).
    """

    def _decode_pnm(payload):
        import re

        import numpy as np

        # header: magic, width, height, maxval — tokens separated by
        # whitespace, '#' comments run to end of line; pixel data starts
        # after the single whitespace byte following maxval
        pos, tokens = 2, []
        while len(tokens) < 3 and pos < len(payload):
            m = re.match(rb"(?:\s|#[^\n]*\n)*([0-9]+)", payload[pos:])
            if not m:
                raise ValueError("bad netpbm header")
            tokens.append(int(m.group(1)))
            pos += m.end()
        width, height, maxval = tokens
        pos += 1  # the single whitespace after maxval
        channels = 3 if payload[:2] == b"P6" else 1
        need = width * height * channels
        if maxval > 255:
            # 16-bit netpbm (round 10): two bytes per sample, BIG-endian
            # per the spec; returned as uint16 (feature means upcast fine)
            pix = np.frombuffer(payload, dtype=">u2", count=need, offset=pos)
            arr = pix.astype(np.uint16).reshape(height, width, channels)
        else:
            pix = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
            arr = pix.reshape(height, width, channels)
        return arr[:, :, 0] if channels == 1 else arr

    def _decode_bmp(payload):
        import struct

        import numpy as np

        data_off, = struct.unpack_from("<I", payload, 10)
        hdr_size, = struct.unpack_from("<I", payload, 14)
        if hdr_size == 12:
            # BITMAPCOREHEADER (OS/2 1.x, round 11): uint16 dims, no
            # compression field — always bottom-up uncompressed
            width, height, _planes, bpp = struct.unpack_from("<HHHH", payload, 18)
            compression = 0
        elif hdr_size >= 40:
            width, height = struct.unpack_from("<ii", payload, 18)
            bpp, = struct.unpack_from("<H", payload, 28)
            compression, = struct.unpack_from("<I", payload, 30)
        else:
            raise ValueError(f"BMP header size {hdr_size} unrecognized")
        if compression == 1 and bpp == 8:
            # BI_RLE8 (round 10): run pairs (count, index) with 0-escapes
            # — 0,0 end-of-line / 0,1 end-of-bitmap / 0,2 delta(dx,dy) /
            # 0,n absolute run of n indices, word-aligned. Returned as
            # the palette-index plane, matching the uncompressed 8-bpp
            # path (the gray fixtures write identity palettes).
            flipped = height > 0
            h = abs(height)
            out = np.zeros((h, width), dtype=np.uint8)
            x = y = 0
            i = data_off
            while i + 1 < len(payload):
                c, v = payload[i], payload[i + 1]
                i += 2
                if c > 0:
                    if x + c > width or y >= h:
                        raise ValueError("RLE8 run past row end")
                    out[h - 1 - y if flipped else y, x : x + c] = v
                    x += c
                elif v == 0:  # end of line
                    x, y = 0, y + 1
                elif v == 1:  # end of bitmap
                    break
                elif v == 2:  # delta jump (undefined pixels stay 0)
                    x += payload[i]
                    y += payload[i + 1]
                    i += 2
                else:  # absolute mode: v literal indices, word-aligned
                    if x + v > width or y >= h:
                        raise ValueError("RLE8 absolute run past row end")
                    out[h - 1 - y if flipped else y, x : x + v] = np.frombuffer(
                        payload, dtype=np.uint8, count=v, offset=i
                    )
                    x += v
                    i += v + (v & 1)
            return out
        if compression == 2 and bpp == 4:
            # BI_RLE4 (round 11): same escape structure as RLE8, but a
            # run ALTERNATES the two nibbles of its value byte, and
            # absolute mode packs nibbles two-per-byte (word-aligned).
            # Returned as the palette-index plane like the RLE8 path.
            flipped = height > 0
            h = abs(height)
            out = np.zeros((h, width), dtype=np.uint8)
            x = y = 0
            i = data_off
            while i + 1 < len(payload):
                c, v = payload[i], payload[i + 1]
                i += 2
                if c > 0:
                    if x + c > width or y >= h:
                        raise ValueError("RLE4 run past row end")
                    row = h - 1 - y if flipped else y
                    hi, lo = v >> 4, v & 0x0F
                    for k in range(c):
                        out[row, x + k] = hi if k % 2 == 0 else lo
                    x += c
                elif v == 0:  # end of line
                    x, y = 0, y + 1
                elif v == 1:  # end of bitmap
                    break
                elif v == 2:  # delta jump (undefined pixels stay 0)
                    x += payload[i]
                    y += payload[i + 1]
                    i += 2
                else:  # absolute: v packed nibbles, run word-aligned
                    if x + v > width or y >= h:
                        raise ValueError("RLE4 absolute run past row end")
                    row = h - 1 - y if flipped else y
                    nbytes = (v + 1) // 2
                    for k in range(v):
                        b = payload[i + k // 2]
                        out[row, x + k] = (b >> 4) if k % 2 == 0 else (b & 0x0F)
                    x += v
                    i += nbytes + (nbytes & 1)
            return out
        if compression == 3 and bpp in (16, 32):
            # BI_BITFIELDS (round 11): per-channel masks follow the
            # 40-byte info header (or sit at the same offset inside a
            # V4/V5 header); channels extract by mask/shift and scale
            # to 8 bits by the mask's own maximum. Covers the common
            # 565/555 16-bpp and 8888 32-bpp layouts generically.
            masks = list(struct.unpack_from("<III", payload, 54))
            if any(m == 0 for m in masks):
                raise ValueError("BITFIELDS with an empty channel mask")
            flipped = height > 0
            h = abs(height)
            stride = ((bpp * width + 31) // 32) * 4
            rows = np.frombuffer(
                payload, dtype=np.uint8, count=stride * h, offset=data_off
            ).reshape(h, stride)
            if flipped:
                rows = rows[::-1]
            nbytes = bpp // 8
            px = (
                rows[:, : width * nbytes]
                .reshape(h, width, nbytes)
                .astype(np.uint32)
            )
            vals = np.zeros((h, width), dtype=np.uint32)
            for b in range(nbytes):
                vals |= px[:, :, b] << (8 * b)  # little-endian
            chans = []
            for m in masks:  # R, G, B mask order per the spec
                shift = (m & -m).bit_length() - 1
                maxv = m >> shift
                chans.append(
                    (((vals & m) >> shift) * 255 // maxv).astype(np.uint8)
                )
            return np.dstack(chans)
        if compression != 0:
            raise NotImplementedError(
                "compressed BMP: only BI_RLE8/BI_RLE4/BI_BITFIELDS supported "
                "(BI_JPEG/BI_PNG embeddings stay a documented boundary)"
            )
        if bpp not in (8, 24, 32):
            raise NotImplementedError(f"{bpp}-bpp BMP not supported")
        flipped = height > 0  # positive height = bottom-up row order
        height = abs(height)
        stride = ((bpp * width + 31) // 32) * 4
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * height, offset=data_off
        ).reshape(height, stride)
        if flipped:
            rows = rows[::-1]
        if bpp == 8:
            return rows[:, :width].copy()
        nch = bpp // 8
        px = rows[:, : width * nch].reshape(height, width, nch)
        return px[:, :, 2::-1].copy()  # BGR(A) -> RGB (alpha dropped)

    # baseline JPEG (r8): the pure-numpy T.81 codec in operators/jpeg
    from yark_spark.operators.jpeg import decode_jpeg as _decode_jpeg

    # lossless WebP (r10): the pure-Python VP8L codec in operators/webp
    # (lossy VP8 stays NotImplementedError inside decode_webp — the
    # documented DCT-codec boundary)
    from yark_spark.operators.webp import decode_webp as _decode_webp

    # PNG (r11): zlib inflate + the filter decoder in operators/png
    # (both interlace methods decode; FDICT/zlib-bomb payloads raise
    # typed errors)
    from yark_spark.operators.png import decode_png as _decode_png

    # GIF (r11): the from-scratch LZW codec in operators/gif (multi-frame
    # files decode to the poster frame; full disposal compositing =
    # gif.compose_gif_frames, round 12)
    from yark_spark.operators.gif import decode_gif as _decode_gif

    # TIFF (r12): the baseline TIFF 6.0 reader in operators/tiff —
    # MSB-first early-change LZW / PackBits / uncompressed strips,
    # horizontal predictor, both byte orders
    from yark_spark.operators.tiff import decode_tiff as _decode_tiff

    # QOI (r12): the from-scratch six-op codec in operators/qoi — the
    # entropy-coder-free lossless interchange format
    from yark_spark.operators.qoi import decode_qoi as _decode_qoi

    def decode(payload: bytes):
        payload = bytes(payload)
        if payload[:2] in (b"P5", b"P6"):
            return _decode_pnm(payload)
        if payload[:2] == b"BM":
            return _decode_bmp(payload)
        if payload[:2] == b"\xff\xd8":
            return _decode_jpeg(payload)
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            return _decode_webp(payload)
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            return _decode_png(payload)
        if payload[:4] == b"GIF8":
            return _decode_gif(payload)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            return _decode_tiff(payload)
        if payload[:4] == b"qoif":
            return _decode_qoi(payload)
        raise NotImplementedError(
            "decodable without an image library: uncompressed PGM/PPM/BMP, "
            "baseline/progressive JPEG, lossless (VP8L) WebP, "
            "PNG (Adam7 included), GIF, baseline TIFF, and QOI; "
            "plug PIL/cv2 in for lossy WebP"
        )

    return decode


#: Pure-numpy image decode for uncompressed PGM/PPM/BMP; raises
#: NotImplementedError for compressed/unknown formats (no PIL/cv2 here).
decode_image = _make_decoder()


DECODED_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_pixel", DoubleType()),
    ]
)


def decode_image_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL pixel statistics over a binary image column: decode each
    payload with the pure-numpy decoder (uncompressed PGM/PPM/BMP) and
    emit (width, height, channels, mean pixel value). Map-only
    ``mapInPandas``. Payloads the decoder rejects would raise — at
    scale, route unknown formats to a quarantine first (the
    archive.quarantine pattern)."""
    decode = _make_decoder()

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ws, hs, cs, ms = [], [], [], []
            for p in pdf[payload_col]:
                arr = decode(bytes(p))
                h, w = arr.shape[:2]
                c = 1 if arr.ndim == 2 else arr.shape[2]
                ws.append(w)
                hs.append(h)
                cs.append(c)
                ms.append(float(np.mean(arr, dtype=np.float64)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": np.array(ws, dtype="int32"),
                    "height": np.array(hs, dtype="int32"),
                    "channels": np.array(cs, dtype="int32"),
                    # decimal HALF_UP matching DuckDB/Spark round() —
                    # np.round is half-to-even and diverges on dyadic
                    # midpoints (e.g. a mean of k/2**7 at 6 dp); pixel
                    # means are non-negative so no sign handling needed
                    "mean_pixel": np.floor(
                        np.array(ms, dtype="float64") * 1e6 + 0.5
                    )
                    / 1e6,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, DECODED_FEATURE_SCHEMA
    )


def fake_image_features(payload: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for decode: derive (width, height, mode) from
    a sha1 of the bytes so tests are stable and collision-free."""
    h = hashlib.sha1(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    mode = "RGB" if h[2] % 2 == 0 else "L"
    return width, height, mode


#: Output schema of decode_image_features_quarantine: the feature
#: columns (null for quarantined rows) plus the error class.
QUARANTINE_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_pixel", DoubleType()),
        StructField("error", StringType()),
    ]
)


def decode_image_features_quarantine(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Quarantining variant of :func:`decode_image_features` (round 11):
    at 100 TB some payload bytes WILL be corrupt, and a decode error
    must not kill the task (the default extractor fails fast — the
    right behavior for constructed fixtures, the wrong one for crawled
    bytes). Rows that decode get their features and a null ``error``;
    rows whose decode raises get null features and the exception CLASS
    name — the same side-output-in-band shape as the JSON ingest
    quarantine, ready for a ``WHERE error IS NULL`` split + a
    quarantine-table write. Only decoder errors are caught; anything
    else is a bug and still fails the task. The catch list includes
    ``struct.error`` and ``IndexError`` because payloads truncated
    mid-header surface as failed ``struct.unpack`` / slice-index reads
    inside header parsers (BMP/JPEG/WAV) before any explicit validation
    can run — exactly the corrupt-crawled-bytes case the quarantine
    exists for. Map-only mapInPandas."""
    decode = _make_decoder()

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import numpy as np

        for pdf in batches:
            ws, hs, cs, ms, errs = [], [], [], [], []
            for p in pdf[payload_col]:
                try:
                    arr = decode(bytes(p))
                except (
                    ValueError,
                    NotImplementedError,
                    EOFError,
                    IndexError,
                    _struct.error,
                ) as exc:
                    ws.append(None)
                    hs.append(None)
                    cs.append(None)
                    ms.append(None)
                    errs.append(type(exc).__name__)
                    continue
                h, w = arr.shape[:2]
                ch = 1 if arr.ndim == 2 else arr.shape[2]
                ws.append(w)
                hs.append(h)
                cs.append(ch)
                ms.append(round(float(np.mean(arr.astype(np.float64))), 6))
                errs.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "channels": pd.array(cs, dtype="Int32"),
                    "mean_pixel": pd.array(ms, dtype="Float64"),
                    "error": errs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, QUARANTINE_FEATURE_SCHEMA
    )


#: Output schema of image_phash_features.
PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", StringType()),
    ]
)

#: Output schema of image_phash_features(as_int=True): the signed-64
#: integer wire shape the band-join dedup path consumes.
PHASH_I64_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash_i64", LongType()),
    ]
)


def image_phash_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    as_int: bool = False,
) -> DataFrame:
    """Perceptual hash over a binary image column (round 11): decode →
    DCT pHash (operators/phash) → 16-hex-char signature. The
    image-native near-duplicate key: identical pictures at different
    compression settings hash within a few bits (contracts in
    tests/test_phash.py), so downstream dedup is a band-join on hash
    prefixes + a Hamming verify — the SimHash plan shape applied to
    pixels. Map-only mapInPandas; pixels never shuffle.

    ``as_int=True`` (round 12) emits the signature as a two's-complement
    SIGNED 64-bit ``phash_i64`` LongType column instead of hex — the
    wire shape ``dedup.image_neardup_pairs`` wants, where band slicing
    (``shiftrightunsigned``) and the Hamming verify (``bit_count(xor)``)
    stay whole-stage-codegen'd JVM expressions."""
    from yark_spark.operators import phash as _phash_mod

    _ph = _phash_mod.phash64
    decode = _make_decoder()

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            raw = [_ph(decode(bytes(p))) for p in pdf[payload_col]]
            if as_int:
                vals = np.array(
                    [h - (1 << 64) if h >= (1 << 63) else h for h in raw],
                    dtype="int64",
                )
                yield pd.DataFrame(
                    {"doc_id": pdf[id_col].astype("int64"), "phash_i64": vals}
                )
            else:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf[id_col].astype("int64"),
                        "phash": [f"{h:016x}" for h in raw],
                    }
                )

    schema = PHASH_I64_SCHEMA if as_int else PHASH_SCHEMA
    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, schema
    )


def with_binary_payload(df: DataFrame, text_col: str = "text", out_col: str = "payload") -> DataFrame:
    """Materialize an opaque binary column (stand-in for image/audio bytes;
    the fixture tables carry no blobs)."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "utf-8").cast(BinaryType()))


def resize_images(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    target: tuple[int, int] = (224, 224),
) -> DataFrame:
    """Image resize over binary payloads (mapInPandas, map-only). The pixel
    transform is STUBBED deterministically (real deployments plug
    PIL/cv2 into _resize_payload): output bytes = payload truncated/padded
    to a size proportional to the target area, so batch shapes and byte
    budgets behave like a real resize."""

    def _resize_payload(payload: bytes) -> bytes:
        area = target[0] * target[1]
        want = max(16, min(len(payload), area // 64))
        out = (payload * ((want // max(len(payload), 1)) + 1))[:want]
        return out

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": [_resize_payload(bytes(p)) for p in pdf[payload_col]],
                    "width": target[0],
                    "height": target[1],
                }
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )
    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(_resize, schema)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_frames: int = 4,
) -> DataFrame:
    """Video frame sampling: one binary payload → n_frames (frame_idx,
    frame_bytes) rows via mapInPandas (a flat-map: output rows ≠ input
    rows). Frame extraction is STUBBED as deterministic byte slices; the
    real decoder drops into _slice. Downstream ops see the true shape:
    multiple typed frame rows per asset."""

    def _slice(payload: bytes, i: int) -> bytes:
        if not payload:
            return b""
        step = max(1, len(payload) // n_frames)
        return payload[i * step : i * step + step]

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for _, r in pdf.iterrows():
                payload = bytes(r[payload_col])
                for i in range(n_frames):
                    ids.append(int(r[id_col]))
                    idxs.append(i)
                    frames.append(_slice(payload, i))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )
    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(_sample, schema)


def extract_features(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched feature extraction over a binary column via
    mapInPandas: map-only (no shuffle), one pandas batch per Arrow chunk."""

    def _features(payload: bytes) -> tuple[int, int, str]:
        h = hashlib.sha1(payload).digest()
        return 64 + h[0] % 192, 64 + h[1] % 192, "RGB" if h[2] % 2 == 0 else "L"

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            feats = [_features(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha1_8": [hashlib.sha1(bytes(p)).hexdigest()[:8] for p in payloads],
                    "fake_width": [f[0] for f in feats],
                    "fake_height": [f[1] for f in feats],
                    "fake_mode": [f[2] for f in feats],
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(_extract, FEATURE_SCHEMA)


#: Output schema of decode_audio_features.
AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("peak", IntegerType()),
        StructField("rms", DoubleType()),
    ]
)


def _make_wav_codec():
    """Closure-factory for a pure-numpy canonical-WAV codec: 16-bit PCM RIFF/WAVE,
    generic chunk walk on decode (tolerates extra chunks, odd-size
    padding). Compressed codecs (MP3/AAC/IEEE-float) raise
    NotImplementedError — entropy coding needs an audio library this
    container doesn't have; PCM is the container format a training
    pipeline normalizes to anyway."""

    def encode(samples, rate: int = 8000) -> bytes:
        import struct

        import numpy as np

        data = np.asarray(samples, dtype="<i2").tobytes()
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )

    def decode(b: bytes):
        import struct

        import numpy as np

        if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            sz = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
            body = b[pos + 8 : pos + 8 + sz]
            if cid == b"fmt ":
                fmt = struct.unpack("<HHIIHH", body[:16])
            elif cid == b"data":
                data = body
            pos += 8 + sz + (sz & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            raise ValueError("missing fmt/data chunk")
        audio_fmt, channels, rate, _, _, bits = fmt
        if audio_fmt != 1 or bits != 16:
            raise NotImplementedError(
                f"non-PCM16 WAV (fmt={audio_fmt}, bits={bits}) needs an audio library"
            )
        return rate, channels, np.frombuffer(data, dtype="<i2")

    return encode, decode


def with_wav_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", rate: int = 8000
) -> DataFrame:
    """Deterministic WAV fixture column: each doc's md5 hex chars (ascii
    codes as int16 samples, tiled 8× → 256 samples) encoded as canonical
    PCM16 WAV via the production codec (operators/audio_codecs;
    byte-identical to the closure codec kept in tests as the
    independent differential). Map-only mapInPandas."""
    from yark_spark.operators import audio_codecs as _ac

    def encode(samples, rate):
        return _ac.encode_wav(samples, rate=rate, codec="pcm16")

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        for pdf in batches:
            payloads = [
                encode(
                    [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()] * 8,
                    rate=rate,
                )
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _enc,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def with_flac_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate: int = 8000,
    block_size: int = 64,
) -> DataFrame:
    """Deterministic FLAC fixture column (round 12): the SAME samples as
    ``with_wav_payload`` (md5 hex ascii codes tiled 8× → 256) encoded by
    the from-scratch RFC 9639 encoder (operators/flac) — FLAC is
    lossless, so the analytic WAV oracle pins the whole
    sync→Rice→predictor wire unchanged. ``block_size=64`` forces four
    frames per stream (frame numbering, per-frame CRCs, frame-boundary
    handling all on the hot path). Map-only mapInPandas."""
    from yark_spark.operators import flac as _flac_mod

    _encode = _flac_mod.encode_flac

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = [
                _encode(
                    _np.array(
                        [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()]
                        * 8,
                        dtype=_np.int64,
                    ),
                    rate=rate,
                    block_size=block_size,
                )
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _enc,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


#: Output schema of decode_audio_spectrum.
AUDIO_SPECTRUM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("dominant_bin", IntegerType()),
        StructField("dominant_hz", DoubleType()),
    ]
)


def decode_audio_spectrum(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL spectral analysis over a binary WAV column (round 11): the
    first frequency-domain op in the audio surface — decode samples
    (any of the four WAV fmt tags via operators/audio_codecs), take the
    real FFT, and report the dominant non-DC bin and its frequency in
    Hz. This is the first stage of every speech/audio training pipeline
    (spectrogram features, voice-activity gates, tone detection).
    Map-only mapInPandas; numpy rfft is vectorized C per batch; samples
    never shuffle. Constructed tones at integer bins make the argmax
    analytic (quantization noise is ~5 orders of magnitude below the
    tone peak), so a SQL oracle checks the whole decode→FFT path."""
    from yark_spark.operators import audio_codecs as _ac
    from yark_spark.operators import flac as _flac_mod

    _decode_wav = _ac.decode_wav
    _decode_flac = _flac_mod.decode_flac

    def _decode(b: bytes):
        # container dispatch by magic: fLaC (round 12) beside RIFF/WAVE
        return _decode_flac(b) if b[:4] == b"fLaC" else _decode_wav(b)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ns, bins, hzs = [], [], []
            for p in pdf[payload_col]:
                rate, _ch, samples = _decode(bytes(p))
                ns.append(len(samples))
                if len(samples) < 2:  # no non-DC bin exists
                    bins.append(0)
                    hzs.append(0.0)
                    continue
                spec = np.abs(np.fft.rfft(samples.astype(np.float64)))
                k = int(np.argmax(spec[1:])) + 1  # exclude DC
                bins.append(k)
                hzs.append(round(k * rate / len(samples), 6))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_samples": np.array(ns, dtype="int32"),
                    "dominant_bin": np.array(bins, dtype="int32"),
                    "dominant_hz": np.array(hzs, dtype="float64"),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, AUDIO_SPECTRUM_SCHEMA
    )


def with_tone_wav_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate: int = 8000,
    n: int = 256,
    amplitude: int = 12000,
) -> DataFrame:
    """Deterministic pure-tone WAV fixture (round 11): a sine at
    integer FFT bin ``k = 1 + (a % 120)`` (``a`` = ascii of the doc's
    first md5 hex char), quantized to int16 PCM. An integer-bin tone
    has zero spectral leakage, so after quantization the dominant rfft
    bin is exactly ``k`` and the oracle reduces to modular arithmetic
    on the md5 code — no FFT in SQL. Map-only mapInPandas."""
    from yark_spark.operators import audio_codecs as _ac

    def encode(samples, rate):
        return _ac.encode_wav(samples, rate=rate, codec="pcm16")

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        t = _np.arange(n)
        for pdf in batches:
            payloads = []
            for txt in pdf[text_col]:
                a = ord(_hashlib.md5(txt.encode("utf-8")).hexdigest()[0])
                k = 1 + (a % 120)
                wave = _np.rint(
                    amplitude * _np.sin(2 * _np.pi * k * t / n)
                ).astype(_np.int16)
                payloads.append(encode(wave, rate=rate))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def with_compressed_wav_payload(
    df: DataFrame,
    codec: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate: int = 8000,
) -> DataFrame:
    """Deterministic COMPRESSED WAV fixture column (round 11), built so
    the lossy codecs reproduce it exactly (the constructed-exact oracle
    recipe — see operators/audio_codecs):

    * ``mulaw`` / ``alaw``: samples are G.711 decode-table values AT the
      doc's md5 ascii codes (tiled 8x → 256 samples) — lattice points
      are fixed points of encode∘decode, so the decoded stream equals
      the fixture bit-for-bit and a SQL oracle embedding the spec table
      as VALUES computes peak/RMS with no audio code;
    * ``ima_adpcm``: four 65-sample blocks constant at the four md5
      ascii codes (block_align 36) — block headers store the first
      sample verbatim and zero deltas are exact at step index 0, so
      decode returns the constants and the stats are analytic.

    Map-only mapInPandas."""
    from yark_spark.operators import audio_codecs as _ac

    if codec not in ("mulaw", "alaw", "ima_adpcm"):
        raise ValueError(f"unknown compressed codec {codec!r}")

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        table = None
        if codec == "mulaw":
            table = _ac.mulaw_decode_table()
        elif codec == "alaw":
            table = _ac.alaw_decode_table()
        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                chars = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()]
                if codec == "ima_adpcm":
                    samples = _np.repeat(
                        _np.array(chars[:4], dtype=_np.int16), 65
                    )
                    payloads.append(
                        _ac.encode_wav(samples, rate=rate, codec=codec, block_align=36)
                    )
                else:
                    samples = table[_np.array(chars * 8, dtype=_np.uint8)]
                    payloads.append(_ac.encode_wav(samples, rate=rate, codec=codec))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def decode_audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL audio statistics over a binary WAV column: header parse (chunk
    walk), sample extraction, duration/peak/RMS — the audio twin of
    decode_image_features. Map-only mapInPandas; RMS is
    sqrt(mean(sample²)) with the mean over a power-of-two sample count
    exact in doubles, so an analytic oracle hash-matches it.

    Round 11: decodes through ``operators/audio_codecs.decode_wav``, so
    the SAME extractor covers PCM16 **and** the compressed fmt tags
    (G.711 µ-law/A-law, mono IMA ADPCM). Round 12: `.flac` payloads
    dispatch by magic to the from-scratch RFC 9639 decoder
    (operators/flac) — lossless compressed audio is real; only
    psychoacoustic codecs (MP3/AAC/Opus) remain the documented
    NotImplementedError boundary."""
    from yark_spark.operators import aiff as _aiff_mod
    from yark_spark.operators import audio_codecs as _ac
    from yark_spark.operators import flac as _flac_mod

    _decode_wav = _ac.decode_wav
    _decode_flac = _flac_mod.decode_flac
    _decode_aiff = _aiff_mod.decode_aiff

    def decode(b: bytes):
        # container dispatch by magic: fLaC (round 12) and big-endian
        # FORM/AIFF (round 12) beside RIFF/WAVE
        if b[:4] == b"fLaC":
            return _decode_flac(b)
        if b[:4] == b"FORM":
            return _decode_aiff(b)
        return _decode_wav(b)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ns, rates, durs, peaks, rmss = [], [], [], [], []
            for p in pdf[payload_col]:
                rate, _channels, samples = decode(bytes(p))
                v = samples.astype(np.float64)
                ns.append(len(samples))
                rates.append(rate)
                durs.append(round(len(samples) / rate, 6))
                # widen before abs: np.abs(int16 -32768) overflows to
                # -32768 and would silently drop the true full-scale peak
                peaks.append(
                    int(np.max(np.abs(samples.astype(np.int64))))
                    if len(samples)
                    else 0
                )
                rmss.append(
                    round(float(np.sqrt(np.mean(v * v))), 6) if len(samples) else 0.0
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_samples": np.array(ns, dtype="int32"),
                    "sample_rate": np.array(rates, dtype="int32"),
                    "duration_s": np.array(durs, dtype="float64"),
                    "peak": np.array(peaks, dtype="int32"),
                    "rms": np.array(rmss, dtype="float64"),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, AUDIO_FEATURE_SCHEMA
    )


def with_jpeg_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    progressive: bool = False,
    restart_interval: int = 0,
    lossless: bool = False,
    quality: int = 100,
) -> DataFrame:
    """Deterministic JPEG fixture column: a 16x16 grayscale image whose
    four 8x8 blocks are CONSTANT at the ascii codes of the doc's first
    four md5 hex chars, encoded at quality 100.

    Block-constant gray at q100 makes the lossy codec EXACT end-to-end:
    every quant divisor is 1, a constant block has only a DC coefficient
    (8*(v-128), an integer — quantized losslessly), and the DC-only IDCT
    reconstructs the constant bit-exactly. That turns the whole
    encode→Huffman→decode pipeline into something a SQL oracle can
    hash-match (q_image_decode_jpeg), the same trick q_audio_decode uses
    for RMS. ``progressive`` / ``restart_interval`` switch the encoding
    to SOF2 scan scripts and DRI/RSTn markers (q_image_decode_jpeg_prog)
    — same exactness argument, different entropy structure.
    ``lossless=True`` (round 11) encodes SOF3 predictive lossless
    frames instead, with the H.1 predictor varying per doc
    (doc_id % 7 + 1) — pixels identical under every predictor, so ALL
    SEVEN are pinned by one analytic oracle
    (q_image_decode_jpeg_lossless). Map-only mapInPandas."""
    from yark_spark.operators import jpeg as _jpeg_mod

    _q = quality
    if lossless:
        _ll = _jpeg_mod.encode_jpeg_lossless

        def encode(img, quality, did=0):
            return _ll(img, predictor=did % 7 + 1)

    else:
        if progressive:
            _enc_fn = _jpeg_mod.encode_jpeg_progressive
        else:
            _enc_fn = _jpeg_mod.encode_jpeg
        _ri = restart_interval

        def encode(img, quality, did=0):
            return _enc_fn(img, quality=quality, restart_interval=_ri)

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                img = _np.empty((16, 16), dtype=_np.uint8)
                img[:8, :8] = vals[0]
                img[:8, 8:] = vals[1]
                img[8:, :8] = vals[2]
                img[8:, 8:] = vals[3]
                payloads.append(encode(img, quality=_q, did=int(did)))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _enc,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def with_webp_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **encode_opts,
) -> DataFrame:
    """Deterministic lossless-WebP fixture column (round 10, VERDICT r9
    next-round #3): the same 16x16 quadrant-gray image as
    ``with_jpeg_payload`` — four 8x8 blocks constant at the ascii codes
    of the doc's first four md5 hex chars — encoded as VP8L. Lossless,
    so the decoded mean is EXACTLY the analytic value with no quality
    argument needed (q_image_decode_webp hash-matches it; pixels come
    back RGBA, so the mean folds in the constant 255 alpha plane).
    ``encode_opts`` pass through to ``encode_webp_vp8l`` (transforms,
    color cache, meta prefix) for plan-shape-identical variants. Map-only
    mapInPandas."""
    from yark_spark.operators import webp as _webp_mod

    _enc = _webp_mod.encode_webp_vp8l
    _opts = dict(encode_opts)

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                img = _np.empty((16, 16), dtype=_np.uint8)
                img[:8, :8] = vals[0]
                img[:8, 8:] = vals[1]
                img[8:, :8] = vals[2]
                img[8:, 8:] = vals[3]
                payloads.append(_enc(img, **_opts))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


PIXEL_HIST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pixel_value", IntegerType()),
        StructField("n", LongType()),
    ]
)


def decode_pixel_histogram(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Exact per-document pixel-VALUE histogram over a binary image
    column (round 11): decode each payload and emit one row per distinct
    sample value — ``(doc_id, pixel_value, n)`` with n summed across all
    channels. Integer-exact (no float summary), so a lossless codec
    makes the whole decode stack hash-checkable value-by-value, a
    stronger exactness probe than the mean. The real pipeline use is
    exposure/contrast profiling and dead-image detection (all-black /
    all-white payloads collapse to one bucket) before any expensive
    model pass. Map-only ``mapInPandas``; bytes never shuffle — the
    output is at most 256 rows per image (or 65k for 16-bit), already
    aggregated worker-side."""
    decode = _make_decoder()

    def _hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, vals, ns = [], [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                arr = decode(bytes(p))
                counts = np.bincount(arr.ravel().astype(np.int64))
                nz = np.nonzero(counts)[0]
                ids.extend([int(did)] * len(nz))
                vals.extend(int(v) for v in nz)
                ns.extend(int(counts[v]) for v in nz)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "pixel_value": pd.Series(vals, dtype="int32"),
                    "n": pd.Series(ns, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _hist, PIXEL_HIST_SCHEMA
    )


def with_png_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **encode_opts,
) -> DataFrame:
    """Deterministic PNG fixture column (round 11, VERDICT r10
    next-round #1): the same 16x16 quadrant-gray image as
    ``with_jpeg_payload`` / ``with_webp_payload`` — four 8x8 blocks
    constant at the ascii codes of the doc's first four md5 hex chars —
    encoded as 8-bit RGB PNG by ``operators/png.encode_png``. Lossless,
    so the decoded mean is EXACTLY (a+b+c+d)/4 with no quality argument
    (q_image_decode_png hash-matches it; channels stay 3 — no alpha
    plane to fold in). Defaults exercise the non-trivial decode path:
    the all-five filter rotation, REAL dynamic-Huffman+LZ77 DEFLATE
    with the zlib stream split across 64-byte IDAT chunks, and Adam7
    interlacing on odd doc_ids — pixels are identical either way, so
    the analytic oracle pins BOTH interlace decode paths without
    changing; ``encode_opts`` override (filter_type / deflate /
    idat_chunk / interlace). Map-only mapInPandas."""
    from yark_spark.operators import png as _png_mod

    _enc = _png_mod.encode_png
    _opts = {"filter_type": "mixed", "deflate": "dynamic", "idat_chunk": 64}
    _opts.update(encode_opts)

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                img = _np.empty((16, 16), dtype=_np.uint8)
                img[:8, :8] = vals[0]
                img[:8, 8:] = vals[1]
                img[8:, :8] = vals[2]
                img[8:, 8:] = vals[3]
                opts = dict(_opts)
                opts.setdefault("interlace", int(did) % 2 == 1)
                payloads.append(_enc(_np.repeat(img[:, :, None], 3, axis=2), **opts))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def with_tiff_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **encode_opts,
) -> DataFrame:
    """Deterministic TIFF fixture column (round 12): the same 16x16
    quadrant-gray image as the PNG/JPEG/WebP/GIF fixtures (four 8x8
    blocks at the ascii codes of the doc's first four md5 hex chars) as
    8-bit RGB TIFF via ``operators/tiff.encode_tiff``. The encoding
    matrix CYCLES per doc_id — compression none/LZW/PackBits (mod 3),
    byte order II/MM (mod 2), predictor 1/2 (mod 2 of doc_id//2),
    rows_per_strip=8 so every image crosses a strip boundary — and the
    decode is lossless under all of them, so ONE analytic oracle pins
    the whole matrix: MSB-first early-change LZW, PackBits runs, both
    endians, horizontal differencing, strip reassembly. Map-only
    mapInPandas."""
    from yark_spark.operators import tiff as _tiff_mod

    _enc = _tiff_mod.encode_tiff

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        comps = ("none", "lzw", "packbits")
        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                img = _np.empty((16, 16), dtype=_np.uint8)
                img[:8, :8] = vals[0]
                img[:8, 8:] = vals[1]
                img[8:, :8] = vals[2]
                img[8:, 8:] = vals[3]
                did = int(did)
                opts = {
                    "compression": comps[did % 3],
                    "byte_order": "<" if did % 2 == 0 else ">",
                    "predictor": 1 + ((did // 2) % 2),
                    "rows_per_strip": 8,
                }
                opts.update(encode_opts)
                payloads.append(_enc(_np.repeat(img[:, :, None], 3, axis=2), **opts))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def with_gif_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corrupt_every: int | None = None,
    **encode_opts,
) -> DataFrame:
    """Deterministic GIF fixture column (round 11): the same 16x16
    quadrant-gray image as the JPEG/WebP/PNG builders — four 8x8 blocks
    constant at the ascii codes of the doc's first four md5 hex chars —
    encoded by ``operators/gif.encode_gif`` (real LZW, ≤4-entry
    palette). GIF is lossless, so the decoded mean is EXACTLY
    (a+b+c+d)/4 and channels stay 3. Interlace on odd doc_ids pins both
    row orders under one analytic oracle, exactly like the PNG fixture.
    Map-only mapInPandas.

    ``corrupt_every`` (round 11): truncate every N-th doc's payload
    mid-stream — a deterministic decode ValueError, the quarantine
    fixture for decode_image_features_quarantine."""
    from yark_spark.operators import gif as _gif_mod

    _enc = _gif_mod.encode_gif

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                img = _np.empty((16, 16), dtype=_np.uint8)
                img[:8, :8] = vals[0]
                img[:8, 8:] = vals[1]
                img[8:, :8] = vals[2]
                img[8:, 8:] = vals[3]
                opts = dict(encode_opts)
                opts.setdefault("interlace", int(did) % 2 == 1)
                payload = _enc(img, **opts)
                if corrupt_every and int(did) % corrupt_every == 0:
                    payload = payload[: len(payload) // 2]
                payloads.append(payload)
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


#: Output schema of decode_video_features.
VIDEO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps_num", IntegerType()),
        StructField("fps_den", IntegerType()),
        StructField("luma_mean", DoubleType()),
        StructField("motion", DoubleType()),
    ]
)


def decode_video_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL video statistics over a binary Y4M column (round 11):
    container parse (operators/video), luma plane extraction, per-frame
    brightness and a frame-difference motion score — the video twin of
    decode_image_features / decode_audio_features. ``luma_mean`` is the
    mean of per-frame luma means; ``motion`` the mean over consecutive
    frame pairs of mean |Δluma| (0.0 for single-frame streams). With
    power-of-two plane sizes both reduce to exact integer sums, so an
    analytic oracle hash-matches them. Map-only mapInPandas; frames
    never shuffle; entropy-coded video stays the documented boundary."""
    from yark_spark.operators import video as _video_mod

    _decode = _video_mod.decode_y4m

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in
                    ("n_frames", "width", "height", "fps_num", "fps_den",
                     "luma_mean", "motion")}
            for p in pdf[payload_col]:
                v = _decode(bytes(p))
                lumas = [f[0].astype(np.float64) for f in v["frames"]]
                means = [float(y.mean()) for y in lumas]
                diffs = [
                    float(np.abs(b - a).mean()) for a, b in zip(lumas, lumas[1:])
                ]
                rows["n_frames"].append(len(lumas))
                rows["width"].append(v["width"])
                rows["height"].append(v["height"])
                rows["fps_num"].append(v["fps_num"])
                rows["fps_den"].append(v["fps_den"])
                rows["luma_mean"].append(round(float(np.mean(means)), 6))
                rows["motion"].append(
                    round(float(np.mean(diffs)), 6) if diffs else 0.0
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_frames": np.array(rows["n_frames"], dtype="int32"),
                    "width": np.array(rows["width"], dtype="int32"),
                    "height": np.array(rows["height"], dtype="int32"),
                    "fps_num": np.array(rows["fps_num"], dtype="int32"),
                    "fps_den": np.array(rows["fps_den"], dtype="int32"),
                    "luma_mean": np.array(rows["luma_mean"], dtype="float64"),
                    "motion": np.array(rows["motion"], dtype="float64"),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, VIDEO_FEATURE_SCHEMA
    )


def with_y4m_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fps: tuple = (30, 1),
) -> DataFrame:
    """Deterministic Y4M fixture column (round 11): four 16x16 frames
    constant at the ascii codes of the doc's first four md5 hex chars
    (the video twin of the quadrant image fixture — quadrants become
    FRAMES, giving the time axis), neutral 4:2:0 chroma. Planes are
    stored verbatim, so luma_mean is exactly (a+b+c+d)/4 and motion
    exactly (|b-a|+|c-b|+|d-c|)/3 — both computable by DuckDB from the
    md5 codes alone. Odd doc_ids encode C444, even C420: the chroma
    layouts walk different plane sizes under the same oracle. Map-only
    mapInPandas."""
    from yark_spark.operators import video as _video_mod

    _enc = _video_mod.encode_y4m

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                frames = [
                    _np.full((16, 16), v, dtype=_np.uint8) for v in vals
                ]
                cs = "444" if int(did) % 2 else "420"
                payloads.append(_enc(frames, fps=fps, colorspace=cs))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def with_gzip_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """gzip each document's text with the from-scratch RFC 1952 writer
    over REAL dynamic-Huffman DEFLATE (operators/containers over
    operators/png) — the wire shape of crawled-web text (WARC/WET).
    Map-only mapInPandas."""
    from yark_spark.operators import containers as _cont

    _gz = _cont.gzip_compress

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": [
                        _gz(t.encode("utf-8"), name=f"{int(d)}.txt")
                        for d, t in zip(pdf[id_col], pdf[text_col])
                    ],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


GUNZIP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def gunzip_text_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decompress a gzip binary column (CRC-32 + ISIZE verified, bomb
    guard at 64 MB/member) and emit (id, n_chars, md5 digest) — the
    digest lets a SQL oracle certify the ENTIRE compress→decompress
    path equals the original text without moving the text itself.
    Map-only mapInPandas; the decompressed bytes never shuffle."""
    from yark_spark.operators import containers as _cont

    _gunzip = _cont.gzip_decompress

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                raw = _gunzip(bytes(p), max_output=64 << 20)
                ns.append(len(raw.decode("utf-8")))
                digs.append(_hashlib.md5(raw).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_tar_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Pack documents into WebDataset-style tar shards: per doc a
    ``{key}.txt`` (the text) and ``{key}.json`` (metadata) member, keys
    zero-padded to 8, ``docs_per_shard`` docs per archive. One
    applyInPandas per shard group — the grouping shuffle IS the shard
    assignment, exactly how a 100 TB export writes shards."""
    from yark_spark.operators import containers as _cont

    _build_tar = _cont.tar_build

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        members = []
        for did, t in zip(pdf[id_col], pdf[text_col]):
            k = f"{int(did):08d}"
            members.append((k + ".txt", t.encode("utf-8")))
            members.append((k + ".json", f'{{"id":{int(did)}}}'.encode()))
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        return pd.DataFrame({"shard_id": [sid], "payload": [_build_tar(members)]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def xz_compress_payload(
    df: DataFrame, payload_col: str = "payload", check: str = "crc64"
) -> DataFrame:
    """Wrap an existing binary payload column in the .xz container
    (round 13) — e.g. tar shards → ``.tar.xz``, the software-
    distribution / Software-Heritage wire. Map-only mapInPandas."""
    from yark_spark.operators.xz import xz_compress as _enc

    def _wrap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[payload_col] = [_enc(bytes(p), check=check) for p in pdf[payload_col]]
            yield pdf

    return df.mapInPandas(_wrap, df.schema)


def tar_text_digest_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode (possibly compressed) tar shards into per-document text
    digests: decompress_auto sniffs the wrapper (.tar / .tar.gz /
    .tar.xz / …), then the ustar walk digests each ``.txt`` member —
    certifying container + codec + member bytes under one SQL hash.
    Map-only mapInPandas."""
    from yark_spark.operators import containers as _cont

    _members = _cont.tar_members
    _auto = _cont.decompress_auto
    _member_id = _cont.member_doc_id

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for pdf in batches:
            dids, sids, ns, digs = [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                tar = _auto(bytes(p), max_output=1 << 26)
                for name, data in _members(tar):
                    if not name.endswith(".txt"):
                        continue
                    dids.append(_member_id(name))
                    sids.append(int(sid))
                    ns.append(len(data.decode("utf-8")))
                    digs.append(_h.md5(data).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(dids, dtype="Int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, ORC_LISTING_SCHEMA
    )


TAR_LISTING_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("name", StringType()),
        StructField("size_bytes", IntegerType()),
    ]
)


def tar_member_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode tar shards into their member listing (doc key parsed
    from the WebDataset name convention). Map-only mapInPandas: one
    task reads one shard sequentially — the access pattern tar was
    designed for, and the reason WebDataset scales to object stores."""
    from yark_spark.operators import containers as _cont

    _members = _cont.tar_members
    _member_id = _cont.member_doc_id

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # WebDataset keys are the leading digits of the member name; a
        # real-world tar can carry non-numeric members (README, PAX
        # leftovers) — those get a null doc_id instead of failing the
        # whole shard listing (member_doc_id, shared with zip/WARC).
        for pdf in batches:
            dids, sids, names, sizes = [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                for name, data in _members(bytes(p)):
                    dids.append(_member_id(name))
                    sids.append(int(sid))
                    names.append(name)
                    sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(dids, dtype="Int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "name": names,
                    "size_bytes": np.array(sizes, dtype="int32"),
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, TAR_LISTING_SCHEMA
    )


def with_tar_shards_sized(
    df: DataFrame,
    target_bytes: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Size-targeted WebDataset shard packing (round 11): shard ids come
    from ``packing.shard_assignment`` (exclusive-prefix-bytes DIV
    target over the distributed prefix sum) instead of a fixed doc
    count, so shards stay ~uniform in BYTES under document-length skew
    — then one applyInPandas per shard builds the tar exactly like
    ``with_tar_shards``. The assignment metric is the text's UTF-8 byte
    length (tar header overhead excluded — it is constant per member
    and irrelevant to balance)."""
    from yark_spark.operators import containers as _cont
    from yark_spark.operators.packing import shard_assignment

    _build_tar = _cont.tar_build

    sized = df.select(
        F.col(id_col), F.col(text_col), F.octet_length(text_col).cast("long").alias("__sz")
    )
    assigned = shard_assignment(sized, [id_col], "__sz", target_bytes)

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        members = []
        for did, t in zip(pdf[id_col], pdf[text_col]):
            k = f"{int(did):08d}"
            members.append((k + ".txt", t.encode("utf-8")))
            members.append((k + ".json", f'{{"id":{int(did)}}}'.encode()))
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "payload": [_build_tar(members)],
            }
        )

    return assigned.groupBy("shard_id").applyInPandas(
        _build,
        StructType(
            [
                StructField("shard_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )


def with_warc_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
    per_record_gzip: bool = True,
    http_head: bool = False,
    http_wire: str | None = None,
) -> DataFrame:
    """Pack documents into .warc.gz shards (ISO 28500 — the Common
    Crawl wire format): one ``response`` record per doc with a
    WARC-Target-URI, one gzip member per record (the seekable .warc.gz
    convention). ``http_head`` prefixes each block with an HTTP message
    head and a leading ``warcinfo`` record per shard — the full CC-MAIN
    record shape the WET extractor strips. One applyInPandas per shard
    group, same shape as with_tar_shards."""
    from yark_spark.operators import containers as _cont

    _build_warc = _cont.warc_build
    _build_http = _cont.http_message_build
    _head = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"

    # http_wire="cycle": each record's block is a FULL RFC 7230 response
    # message, framing cycling with doc key % 6 — identity / chunked /
    # gzip / chunked-over-gzip / deflate / zstd (q_warc_http_decode).
    # "cycle_br" (round 14) widens to % 8 with br and chunked-over-br —
    # the from-scratch RFC 7932 encoder's wire (q_warc_http_brotli).
    # "cycle_br_real" (session 3) widens to % 9: the ninth wire is a
    # body compressed by GENUINE C brotli at q11 — static-dictionary
    # references and UTF8 context modeling on third-party wire, decoded
    # inside the oracle-checked path
    # (q_warc_http_brotli_real).
    _WIRES = (
        (False, None),
        (True, None),
        (False, "gzip"),
        (True, "gzip"),
        (False, "deflate"),
        (False, "zstd"),
        (False, "br"),
        (True, "br"),
        (False, "br_real"),
    )
    _N_WIRES = {"cycle": 6, "cycle_br": 8, "cycle_br_real": 9}

    def _br_real(body: bytes) -> tuple[str, bytes]:
        # body compressed by GENUINE C brotli at max quality — static-
        # dictionary references and UTF8 context modeling on the wire,
        # decoded by operators/brotli through the same library. Lives
        # HERE, in the fixture builder, so operators/containers.py
        # stays dependency-free.
        import pyarrow as _pa

        return "br", _pa.Codec("brotli", compression_level=11).compress(
            body, asbytes=True
        )

    def _block(did: int, text: str) -> bytes:
        if http_wire is None:
            return (_head if http_head else b"") + text.encode("utf-8")
        chunked, enc = _WIRES[did % _N_WIRES[http_wire]]
        return _build_http(
            text.encode("utf-8"),
            transfer_chunked=chunked,
            content_encoding=enc,
            extra_codings={"br_real": _br_real},
        )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        records = [
            {
                "type": "response",
                "uri": f"https://example.com/doc/{int(did)}",
                "record_id": f"urn:uuid:{int(did):032x}",
                "block": _block(int(did), t),
            }
            for did, t in zip(pdf[id_col], pdf[text_col])
        ]
        if http_head or http_wire is not None:
            records.insert(
                0, {"type": "warcinfo", "block": b"software: yark-spark\r\n"}
            )
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "payload": [_build_warc(records, per_record_gzip=per_record_gzip)],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


WARC_LISTING_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("warc_type", StringType()),
        StructField("content_length", IntegerType()),
    ]
)


def warc_record_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode .warc.gz (or plain WARC) shards into their record
    listing — the Common Crawl index pass: doc key from the target
    URI, type + content length from the headers. Map-only mapInPandas;
    one task inflates one shard's members sequentially (1 MB/record
    bomb guard), which is exactly how CC-MAIN segment files are read
    at 100 TB."""
    from yark_spark.operators import containers as _cont

    _records = _cont.warc_records
    _member_id = _cont.member_doc_id

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            dids, sids, types, lens = [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                for r in _records(bytes(p), max_output=1 << 20):
                    # Real CC segments always open with a warcinfo
                    # record that has NO WARC-Target-URI; any record
                    # whose URI tail isn't our numeric doc key gets a
                    # null doc_id instead of failing the shard.
                    uri = r["headers"].get("warc-target-uri", "")
                    tail = uri.rsplit("/", 1)[-1]
                    dids.append(_member_id(tail))
                    sids.append(int(sid))
                    types.append(r["headers"]["warc-type"])
                    lens.append(len(r["block"]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(dids, dtype="Int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "warc_type": types,
                    "content_length": np.array(lens, dtype="int32"),
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, WARC_LISTING_SCHEMA
    )


MP3_DEEP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_granules", IntegerType()),
        StructField("n_short", IntegerType()),
        StructField("sum_gg", LongType()),
        StructField("sum_sf", LongType()),
        StructField("sum_mdb", LongType()),
    ]
)


MP3_STEREO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_granules", IntegerType()),
        StructField("n_short", IntegerType()),
        StructField("sum_gg", LongType()),
        StructField("sum_sf", LongType()),
        StructField("sum_reused", LongType()),
        StructField("sum_mdb", LongType()),
    ]
)


def mp3_stereo_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """STEREO Layer III structural decode (round 14 s3): the 2-channel
    side-info layout (32 bytes, 3 private bits, per-channel scfsi
    nibbles) with REAL granule-1 scalefactor reuse — reused bands are
    copied from granule 0 instead of read from the bitstream, and
    part2_3_length is verified against the REDUCED transmitted bits.
    Fixture and decode both in operators/mp3; the oracle re-derives
    every field (including which bands reused and their granule-0
    values) arithmetically. Map-only mapInPandas."""
    from yark_spark.operators import mp3 as _mp3_mod

    _build = _mp3_mod.mp3_build_deep
    _parse = _mp3_mod.mp3_parse_deep

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for pdf in batches:
            ids, ngs, nss, ggs, sfs, rus, mdbs = [], [], [], [], [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                hx = _h.md5(t.encode("utf-8")).hexdigest()
                rows = _parse(
                    _build(
                        ord(hx[0]), ord(hx[1]), ord(hx[2]), ord(hx[3]),
                        stereo=True,
                    )
                )
                ids.append(int(did))
                ngs.append(len(rows))
                nss.append(sum(1 for r in rows if r["block_type"] == 2))
                ggs.append(sum(r["global_gain"] for r in rows))
                sfs.append(sum(sum(r["scalefacs"]) for r in rows))
                rus.append(sum(r["n_reused"] for r in rows))
                mdbs.append(
                    sum(
                        r["main_data_begin"]
                        for r in rows
                        if r["granule"] == 0 and r["channel"] == 0
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "n_granules": np.array(ngs, dtype="int32"),
                    "n_short": np.array(nss, dtype="int32"),
                    "sum_gg": np.array(ggs, dtype="int64"),
                    "sum_sf": np.array(sfs, dtype="int64"),
                    "sum_reused": np.array(rus, dtype="int64"),
                    "sum_mdb": np.array(mdbs, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _extract, MP3_STEREO_SCHEMA
    )


def with_mp3_deep_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Layer III structural fixture (round 13): every side-info field,
    scalefactor and bit-reservoir pointer derived arithmetically from
    the doc's first four md5 codes (operators/mp3.mp3_build_deep), so
    the oracle re-derives the whole stream in SQL. Map-only
    mapInPandas."""
    from yark_spark.operators import mp3 as _mp3_mod

    _build = _mp3_mod.mp3_build_deep

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                hx = _h.md5(t.encode("utf-8")).hexdigest()
                payloads.append(
                    _build(ord(hx[0]), ord(hx[1]), ord(hx[2]), ord(hx[3]))
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def mp3_deep_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Structural Layer III decode per doc (operators/mp3.
    mp3_parse_deep): frame walk, side info (both block shapes),
    bit-reservoir reassembly, scalefactor extraction — aggregated to
    SQL-checkable sums (granule count, short-block count, global-gain
    sum, scalefactor sum, reservoir-pointer sum). Map-only
    mapInPandas."""
    from yark_spark.operators import mp3 as _mp3_mod

    _parse = _mp3_mod.mp3_parse_deep

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ngs, nss, ggs, sfs, mdbs = [], [], [], [], [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                rows = _parse(bytes(p))
                ids.append(int(did))
                ngs.append(len(rows))
                nss.append(sum(1 for r in rows if r["block_type"] == 2))
                ggs.append(sum(r["global_gain"] for r in rows))
                sfs.append(sum(sum(r["scalefacs"]) for r in rows))
                mdbs.append(
                    sum(r["main_data_begin"] for r in rows if r["granule"] == 0)
                )
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "n_granules": np.array(ngs, dtype="int32"),
                    "n_short": np.array(nss, dtype="int32"),
                    "sum_gg": np.array(ggs, dtype="int64"),
                    "sum_sf": np.array(sfs, dtype="int64"),
                    "sum_mdb": np.array(mdbs, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, MP3_DEEP_SCHEMA
    )


def parquet_write_modern_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The MODERN writer wire (round 14): each batch serialized with
    DataPageV2 pages (levels uncompressed outside the compressed
    region) on odd batches, and the post-2.x value encodings the real
    ecosystem emits — DELTA_BINARY_PACKED ids (zigzag headers, 128/4
    miniblock geometry), DELTA_LENGTH_BYTE_ARRAY text, and a
    BYTE_STREAM_SPLIT derived double — then read back by the
    from-scratch reader; pyarrow AND DuckDB read the same files in
    tests/test_parquet_write.py. Map-only mapInPandas."""
    from yark_spark.operators import parquet_data as _pdata
    from yark_spark.operators import parquet_write as _pw

    _write = _pw.parquet_write
    _read = _pdata.parquet_read_columns

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h
        import math as _math

        import numpy as np

        for bi, pdf in enumerate(batches):
            ids = [int(v) for v in pdf[id_col]]
            texts = list(pdf[text_col])
            cols = {
                "doc_id": ids,
                "text": texts,
                "score": [d / 7.0 for d in ids],
            }
            blob = _write(
                cols,
                types={"doc_id": "INT64", "text": "BYTE_ARRAY",
                       "score": "DOUBLE"},
                codec=("ZSTD", "SNAPPY")[bi % 2],
                column_encodings={
                    "doc_id": "DELTA_BINARY_PACKED",
                    "text": "DELTA_LENGTH_BYTE_ARRAY",
                    "score": "BYTE_STREAM_SPLIT",
                },
                data_page_version=1 + (bi % 2),
                row_group_size=64,
            )
            back = _read(blob, ["doc_id", "text", "score"])
            yield pd.DataFrame(
                {
                    "doc_id": np.array(back["doc_id"], dtype="int64"),
                    "score_floor": np.array(
                        [_math.floor(s * 1_000_000) for s in back["score"]],
                        dtype="int64",
                    ),
                    "n_chars": np.array(
                        [len(t) for t in back["text"]], dtype="int32"
                    ),
                    "digest": [
                        _h.md5(t.encode("utf-8")).hexdigest()
                        for t in back["text"]
                    ],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _roundtrip,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("score_floor", LongType()),
                StructField("n_chars", IntegerType()),
                StructField("digest", StringType()),
            ]
        ),
    )


def parquet_write_roundtrip_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    codec_cycle: tuple = ("SNAPPY", "ZSTD", "GZIP", "UNCOMPRESSED"),
) -> DataFrame:
    """Parquet BOTH directions in one pass (round 13): each batch of
    documents is serialized into a real parquet file by the
    from-scratch writer (operators/parquet_write — Thrift-compact
    footer + page headers, dictionary/PLAIN pages, definition
    levels; the page codec CYCLES per batch) and read back by the
    from-scratch reader (operators/parquet_data). The oracle digest
    certifies the whole loop; the cross-library half (DuckDB and
    pyarrow consuming our files, duckdb parquet_metadata footer
    agreement) is pinned in tests/test_parquet_write.py. Map-only
    mapInPandas; at 100 TB this is the shard-materialization kernel
    (one file per task, footer last, no cross-task state)."""
    from yark_spark.operators import parquet_data as _pdata
    from yark_spark.operators import parquet_write as _pw

    _write = _pw.parquet_write
    _read = _pdata.parquet_read_columns
    _codecs = tuple(codec_cycle)

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for bi, pdf in enumerate(batches):
            cols = {
                "doc_id": [int(v) for v in pdf[id_col]],
                "text": list(pdf[text_col]),
            }
            blob = _write(
                cols,
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec=_codecs[bi % len(_codecs)],
                row_group_size=64,
            )
            back = _read(blob, ["doc_id", "text"])
            yield pd.DataFrame(
                {
                    "doc_id": np.array(back["doc_id"], dtype="int64"),
                    "n_chars": np.array(
                        [len(t) for t in back["text"]], dtype="int32"
                    ),
                    "digest": [
                        _h.md5(t.encode("utf-8")).hexdigest()
                        for t in back["text"]
                    ],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _roundtrip, GUNZIP_SCHEMA
    )


def with_orc_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
    file_version: str = "0.12",
) -> DataFrame:
    """Pack documents into ORC shards WRITTEN BY THE REAL LIBRARY
    (pyarrow's ORC_CPP — genuine third-party wire, not our own
    bytes), compression cycling uncompressed/zlib/snappy/zstd/lz4
    per shard so every chunk-framing codec path is on the wire.
    ``file_version='0.11'`` (round 14) emits the Hive ≤0.11 layout —
    RLE v1 integer/length streams — that long-lived Hadoop corpora
    still carry. One applyInPandas per shard group — the grouping
    shuffle IS the shard assignment."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import io as _io

        import pyarrow as _pa
        import pyarrow.orc as _orc

        pdf = pdf.sort_values(id_col)
        t = _pa.table(
            {
                "doc_id": _pa.array([int(v) for v in pdf[id_col]], _pa.int64()),
                "text": _pa.array(list(pdf[text_col])),
            }
        )
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        comp = ["uncompressed", "zlib", "snappy", "zstd", "lz4"][sid % 5]
        buf = _io.BytesIO()
        w = _orc.ORCWriter(buf, file_version=file_version, compression=comp)
        w.write(t)
        w.close()
        return pd.DataFrame({"shard_id": [sid], "payload": [buf.getvalue()]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


ORC_LISTING_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def orc_scan_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode ORC shards with the from-scratch reader (operators/orc:
    postscript/footer protobuf, chunk framing over the in-repo
    codecs, PRESENT boolean RLE, the full RLEv2 integer family,
    DICTIONARY_V2/DIRECT_V2 strings) and digest each row. Map-only
    mapInPandas; one task decodes one shard's stripes — the (file,
    stripe) unit a 100 TB warehouse scan uses."""
    from yark_spark.operators import orc as _orc_mod

    _read = _orc_mod.orc_read_columns

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for pdf in batches:
            ids, sids, ns, digs = [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                cols = _read(bytes(p), ["doc_id", "text"])
                for did, t in zip(cols["doc_id"], cols["text"]):
                    ids.append(int(did))
                    sids.append(int(sid))
                    ns.append(len(t))
                    digs.append(_h.md5(t.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, ORC_LISTING_SCHEMA
    )


def with_orc_vector_shards(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    vecs_per_shard: int = 25,
) -> DataFrame:
    """Pack embedding vectors into ORC shards WRITTEN BY THE REAL
    LIBRARY (pyarrow's ORC_CPP) carrying a ``list<float>`` embedding
    column AND a ``map<string,int64>`` metadata column — the repeated
    shapes round 14 adds to the from-scratch reader. Deterministic
    null grammar so the oracle can re-derive every cell: vec_id%25==13
    nulls the row (embedding AND map), %25==18 writes an EMPTY list,
    %25==21 nulls element [3]. Compression cycles all five codecs per
    shard. One applyInPandas per shard group — the grouping shuffle
    IS the shard assignment."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import io as _io

        import pyarrow as _pa
        import pyarrow.orc as _orc

        pdf = pdf.sort_values(id_col)
        embs, metas = [], []
        for vid, e, lab in zip(pdf[id_col], pdf[emb_col], pdf[label_col]):
            vid = int(vid)
            if vid % 25 == 13:
                embs.append(None)
                metas.append(None)
                continue
            if vid % 25 == 18:
                embs.append([])
            else:
                v = [float(x) for x in e]
                if vid % 25 == 21 and len(v) > 3:
                    v[3] = None
                embs.append(v)
            metas.append({"label": int(lab), "mod": vid % 7})
        t = _pa.table(
            {
                "vec_id": _pa.array([int(v) for v in pdf[id_col]], _pa.int64()),
                "embedding": _pa.array(embs, _pa.list_(_pa.float32())),
                "meta": _pa.array(metas, _pa.map_(_pa.string(), _pa.int64())),
            }
        )
        sid = int(pdf[id_col].iloc[0]) // vecs_per_shard
        comp = ["uncompressed", "zlib", "snappy", "zstd", "lz4"][sid % 5]
        buf = _io.BytesIO()
        _orc.write_table(t, buf, compression=comp)
        return pd.DataFrame({"shard_id": [sid], "payload": [buf.getvalue()]})

    return (
        df.select(F.col(id_col), F.col(emb_col), F.col(label_col))
        .groupBy(F.floor(F.col(id_col) / vecs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


ORC_VECTOR_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("dim", IntegerType()),
        StructField("csum", LongType()),
        StructField("label", IntegerType()),
        StructField("mod7", IntegerType()),
    ]
)


def orc_vector_listing(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode the repeated-column ORC shards with the from-scratch
    reader (operators/orc round 14: LIST/MAP PRESENT + LENGTH stream
    assembly, recursive through the anonymous child types) — emitting
    per vector the dimension, the integer-exact checksum Σ floor(x·10⁶)
    over non-null elements, and two values READ BACK THROUGH THE MAP
    column. Null row → (dim -1, csum 0, label -1, mod7 -1); empty
    list → dim 0; null element skips its term — each distinct wire
    state lands in a distinct oracle-checkable value. Map-only
    mapInPandas; one task decodes one shard."""
    import math as _math

    from yark_spark.operators import orc as _orc_mod

    _read = _orc_mod.orc_read_columns
    _floor = _math.floor

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, dims, csums, labels, mods = [], [], [], [], []
            for p in pdf[payload_col]:
                cols = _read(bytes(p), ["vec_id", "embedding", "meta"])
                for vid, emb, meta in zip(
                    cols["vec_id"], cols["embedding"], cols["meta"]
                ):
                    ids.append(int(vid))
                    if emb is None:
                        dims.append(-1)
                        csums.append(0)
                    else:
                        dims.append(len(emb))
                        csums.append(
                            sum(
                                _floor(float(x) * 1_000_000)
                                for x in emb
                                if x is not None
                            )
                        )
                    if meta is None:
                        labels.append(-1)
                        mods.append(-1)
                    else:
                        labels.append(int(meta["label"]))
                        mods.append(int(meta["mod"]))
            yield pd.DataFrame(
                {
                    "vec_id": np.array(ids, dtype="int64"),
                    "dim": np.array(dims, dtype="int32"),
                    "csum": np.array(csums, dtype="int64"),
                    "label": np.array(labels, dtype="int32"),
                    "mod7": np.array(mods, dtype="int32"),
                }
            )

    return df.select(F.col(payload_col)).mapInPandas(_extract, ORC_VECTOR_SCHEMA)


ORC_VECTOR_WRITE_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("dim", IntegerType()),
        StructField("csum", LongType()),
        StructField("label", IntegerType()),
    ]
)


def orc_vector_write_roundtrip(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """ORC repeated columns BOTH directions (round 14): each batch of
    embeddings written by the from-scratch writer's new LIST support
    (``LIST<FLOAT>`` — PRESENT + LENGTH on the list node, element
    subtree flattened, pre-order column ids) with the q_orc_vector_scan
    null grammar, then read back by _decode_node; tests pin that REAL
    ORC_CPP reads the same files value-for-value. Map-only
    mapInPandas."""
    import math as _math

    from yark_spark.operators import orc as _orc_mod

    _write = _orc_mod.orc_write
    _read = _orc_mod.orc_read_columns
    _floor = _math.floor

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for bi, pdf in enumerate(batches):
            ids, embs, labels = [], [], []
            for vid, e, lab in zip(pdf[id_col], pdf[emb_col], pdf[label_col]):
                vid = int(vid)
                ids.append(vid)
                labels.append(None if vid % 25 == 13 else int(lab))
                if vid % 25 == 13:
                    embs.append(None)
                elif vid % 25 == 18:
                    embs.append([])
                else:
                    v = [float(x) for x in e]
                    if vid % 25 == 21 and len(v) > 3:
                        v[3] = None
                    embs.append(v)
            blob = _write(
                {"vec_id": ids, "embedding": embs, "label": labels},
                types={
                    "vec_id": "LONG",
                    "embedding": "LIST<FLOAT>",
                    "label": "LONG",
                },
                compression=("ZLIB", "NONE")[bi % 2],
                stripe_rows=64,
            )
            back = _read(blob, ["vec_id", "embedding", "label"])
            dims, csums, labs = [], [], []
            for emb, lab in zip(back["embedding"], back["label"]):
                if emb is None:
                    dims.append(-1)
                    csums.append(0)
                else:
                    dims.append(len(emb))
                    csums.append(
                        sum(
                            _floor(float(x) * 1_000_000)
                            for x in emb
                            if x is not None
                        )
                    )
                labs.append(-1 if lab is None else int(lab))
            yield pd.DataFrame(
                {
                    "vec_id": np.array(back["vec_id"], dtype="int64"),
                    "dim": np.array(dims, dtype="int32"),
                    "csum": np.array(csums, dtype="int64"),
                    "label": np.array(labs, dtype="int32"),
                }
            )

    return df.select(F.col(id_col), F.col(emb_col), F.col(label_col)).mapInPandas(
        _roundtrip, ORC_VECTOR_WRITE_SCHEMA
    )


DELTA_SNAPSHOT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("version_added", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def with_delta_table_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    column_mapping: bool = False,
) -> DataFrame:
    """Delta-style table fixture (round 13): every 32 docs become one
    lakehouse table archive — four 8-doc parquet files written by the
    FROM-SCRATCH writer (operators/parquet_write, SNAPPY) plus a
    three-commit JSON log: v0 protocol+metaData+add(p0,p1), v1
    add(p2), v2 remove(p1)+add(p3). The snapshot reader must therefore
    drop docs 8–15 of every table and attribute the rest to the right
    commit. ``column_mapping=True`` (round 14 s3) stores PHYSICAL
    names (col-<n>f) in the parquet files and declares
    delta.columnMapping.mode=name with per-field physicalName
    annotations in the metaData schema — the shape every renamed
    modern Delta table has. One applyInPandas per table group."""
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _write = _pw.parquet_write
    _tar = _cont.tar_build

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import json as _json

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        phys_id = "col-1f" if column_mapping else "doc_id"
        phys_text = "col-2f" if column_mapping else "text"
        parts = []
        for k in range(0, len(ids), 8):
            blob = _write(
                {phys_id: ids[k : k + 8], phys_text: texts[k : k + 8]},
                types={phys_id: "INT64", phys_text: "BYTE_ARRAY"},
                codec="SNAPPY",
            )
            parts.append((f"part-{k // 8:05d}.parquet", blob))

        def _add(path, blob):
            return _json.dumps(
                {"add": {"path": path, "size": len(blob), "dataChange": True}}
            )

        meta_action = {
            "id": f"table-{tid}",
            "format": {"provider": "parquet"},
            "partitionColumns": [],
        }
        if column_mapping:
            meta_action["schemaString"] = _json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "doc_id",
                            "type": "long",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 1,
                                "delta.columnMapping.physicalName": phys_id,
                            },
                        },
                        {
                            "name": "text",
                            "type": "string",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 2,
                                "delta.columnMapping.physicalName": phys_text,
                            },
                        },
                    ],
                }
            )
            meta_action["configuration"] = {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "2",
            }
        v0 = "\n".join(
            [
                _json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 2 if column_mapping else 1,
                            "minWriterVersion": 5 if column_mapping else 2,
                        }
                    }
                ),
                _json.dumps({"metaData": meta_action}),
                _add(*parts[0]),
                _add(*parts[1]) if len(parts) > 1 else "",
            ]
        )
        v1 = _add(*parts[2]) if len(parts) > 2 else ""
        v2_lines = []
        if len(parts) > 1:
            v2_lines.append(
                _json.dumps(
                    {"remove": {"path": parts[1][0], "dataChange": True}}
                )
            )
        if len(parts) > 3:
            v2_lines.append(_add(*parts[3]))
        members = [(f"_delta_log/{0:020d}.json", v0.encode())]
        members.append((f"_delta_log/{1:020d}.json", v1.encode()))
        members.append((f"_delta_log/{2:020d}.json", "\n".join(v2_lines).encode()))
        members += parts
        return pd.DataFrame(
            {"table_id": [tid], "payload": [_tar(members)]}
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("table_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def delta_snapshot_features(
    df: DataFrame, table_col: str = "table_id", payload_col: str = "payload"
) -> DataFrame:
    """Replay each table's commit log (operators/deltalog) and emit
    the LIVE rows with their adding commit version — removed files'
    docs must vanish, resurrected/compacted files carry the rewrite
    version, and every live parquet file decodes through the
    from-scratch reader. Map-only mapInPandas."""
    from yark_spark.operators import deltalog as _dl

    _rows = _dl.delta_snapshot_rows

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for pdf in batches:
            ids, tids, vers, ns, digs = [], [], [], [], []
            for tid, p in zip(pdf[table_col], pdf[payload_col]):
                for version, row in _rows(bytes(p), ["doc_id", "text"]):
                    ids.append(int(row["doc_id"]))
                    tids.append(int(tid))
                    vers.append(version)
                    ns.append(len(row["text"]))
                    digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "table_id": np.array(tids, dtype="int64"),
                    "version_added": np.array(vers, dtype="int32"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(table_col), F.col(payload_col)).mapInPandas(
        _extract, DELTA_SNAPSHOT_SCHEMA
    )


DELTA_CKPT_WRITE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("version_added", IntegerType()),
        StructField("ckpt_version", IntegerType()),
        StructField("commits_deleted", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_checkpoint_write_features(
    df: DataFrame, table_col: str = "table_id", payload_col: str = "payload"
) -> DataFrame:
    """Checkpoint WRITING end-to-end (round 14, VERDICT r13 item #4):
    each pure-JSON table (the q_delta_snapshot fixture) is rewritten
    by delta_checkpoint_table at version 1 — the state parquet emitted
    through the from-scratch writer's nested-struct columns, commits
    0–1 DELETED from the archive (so replay provably never touches
    them), commit 2 kept to replay on top — then resolved through the
    round-13 checkpoint READER. Files live at the checkpoint carry
    version_added = 1 (the finest attribution the log retains); the
    v2 remove must still drop p1 and the v2 add attribute at 2. The
    deleted-commit count rides in the output. Map-only mapInPandas."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators.containers import tar_members as _tm

    _ckpt = _dl.delta_checkpoint_table
    _rows = _dl.delta_snapshot_rows

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for pdf in batches:
            ids, tids, vers, ns, digs, dels = [], [], [], [], [], []
            for tid, p in zip(pdf[table_col], pdf[payload_col]):
                before = {n for n, _ in _tm(bytes(p)) if "_delta_log/" in n}
                ck = _ckpt(bytes(p), 1)
                after = {n for n, _ in _tm(ck) if n.endswith(".json")}
                n_deleted = len([n for n in before if n.endswith(".json")]) - len(
                    after
                )
                for version, row in _rows(ck, ["doc_id", "text"]):
                    ids.append(int(row["doc_id"]))
                    tids.append(int(tid))
                    vers.append(version)
                    dels.append(n_deleted)
                    ns.append(len(row["text"]))
                    digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "table_id": np.array(tids, dtype="int64"),
                    "version_added": np.array(vers, dtype="int32"),
                    "ckpt_version": np.full(len(ids), 1, dtype="int32"),
                    "commits_deleted": np.array(dels, dtype="int32"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(table_col), F.col(payload_col)).mapInPandas(
        _extract, DELTA_CKPT_WRITE_SCHEMA
    )


DELTA_DV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("dv_kind", StringType()),
        StructField("version_added", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_dv_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deletion vectors end-to-end (round 14): every 32 docs become a
    protocol-v3 table (minReaderVersion 3, readerFeatures
    ["deletionVectors"]) with two 16-doc files; commit 1 re-adds each
    file with a DV — p0's INLINE (Z85-in-descriptor), p1's ON-DISK
    (1-byte format version, 4-byte big-endian length framing, CRC32)
    — both bitmaps Delta RoaringBitmapArrays over portable 32-bit
    roaring (operators/roaring). p0 drops positions whose doc_id%4==1,
    p1 those ==3; survivors carry the re-add version. A reader that
    ignores DVs returns phantom rows and fails the digest. One
    applyInPandas per table, map-only resolve."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators import roaring as _roar_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows

    _write = _pw_mod.parquet_write
    _rser = _roar_mod.roaring64_array_serialize
    _z85 = _roar_mod.z85_encode

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        p0 = _write(
            {"doc_id": ids[:16], "text": texts[:16]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
            codec="SNAPPY",
        )
        p1 = _write(
            {"doc_id": ids[16:], "text": texts[16:]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
            codec="SNAPPY",
        )
        kill0 = {i for i, d in enumerate(ids[:16]) if d % 4 == 1}
        kill1 = {i for i, d in enumerate(ids[16:]) if d % 4 == 3}
        bm0 = _rser(kill0)
        pad = (4 - len(bm0) % 4) % 4
        dv0 = {
            "storageType": "i",
            "pathOrInlineDv": _z85(bm0 + b"\x00" * pad),
            "sizeInBytes": len(bm0),
            "cardinality": len(kill0),
        }
        bm1 = _rser(kill1)
        dvfile = (
            bytes([1])
            + len(bm1).to_bytes(4, "big")
            + bm1
            + zlib.crc32(bm1).to_bytes(4, "big")
        )
        dv1 = {
            "storageType": "p",
            "pathOrInlineDv": "deletion_vectors/dv1.bin",
            "offset": 1,
            "sizeInBytes": len(bm1),
            "cardinality": len(kill1),
        }
        v0 = "\n".join(
            [
                _json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            "readerFeatures": ["deletionVectors"],
                            "writerFeatures": ["deletionVectors"],
                        }
                    }
                ),
                _json.dumps({"metaData": {"id": f"dv-table-{tid}"}}),
                _json.dumps(
                    {"add": {"path": "part-0.parquet", "size": len(p0),
                             "dataChange": True}}
                ),
                _json.dumps(
                    {"add": {"path": "part-1.parquet", "size": len(p1),
                             "dataChange": True}}
                ),
            ]
        )
        v1 = "\n".join(
            [
                _json.dumps(
                    {"add": {"path": "part-0.parquet", "size": len(p0),
                             "dataChange": False, "deletionVector": dv0}}
                ),
                _json.dumps(
                    {"add": {"path": "part-1.parquet", "size": len(p1),
                             "dataChange": False, "deletionVector": dv1}}
                ),
            ]
        )
        tar = _tar(
            [
                (f"_delta_log/{0:020d}.json", v0.encode()),
                (f"_delta_log/{1:020d}.json", v1.encode()),
                ("part-0.parquet", p0),
                ("part-1.parquet", p1),
                ("deletion_vectors/dv1.bin", dvfile),
            ]
        )
        out_ids, kinds, vers, ns, digs = [], [], [], [], []
        for version, row in _rows(tar, ["doc_id", "text"]):
            d = int(row["doc_id"])
            out_ids.append(d)
            kinds.append("inline" if d % 32 < 16 else "ondisk")
            vers.append(version)
            ns.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.full(len(out_ids), tid, dtype="int64"),
                "dv_kind": kinds,
                "version_added": np.array(vers, dtype="int32"),
                "n_chars": np.array(ns, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, DELTA_DV_SCHEMA)
    )


def orc_write_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """ORC both directions in one pass (round 13): each batch written
    by operators/orc.orc_write (compression cycling NONE/ZLIB,
    multi-stripe) and read back by orc_read_columns; digest oracle
    certifies the loop, tests pin ORC_CPP reading our files. Map-only
    mapInPandas."""
    from yark_spark.operators import orc as _orc_mod

    _write = _orc_mod.orc_write
    _read = _orc_mod.orc_read_columns

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for bi, pdf in enumerate(batches):
            cols = {
                "doc_id": [int(v) for v in pdf[id_col]],
                "text": list(pdf[text_col]),
            }
            blob = _write(
                cols,
                types={"doc_id": "LONG", "text": "STRING"},
                compression=("ZLIB", "NONE")[bi % 2],
                stripe_rows=64,
            )
            back = _read(blob, ["doc_id", "text"])
            yield pd.DataFrame(
                {
                    "doc_id": np.array(back["doc_id"], dtype="int64"),
                    "n_chars": np.array(
                        [len(t) for t in back["text"]], dtype="int32"
                    ),
                    "digest": [
                        _h.md5(t.encode("utf-8")).hexdigest()
                        for t in back["text"]
                    ],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _roundtrip, GUNZIP_SCHEMA
    )


PARQUET_VECTOR_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("dim", IntegerType()),
        StructField("csum", LongType()),
    ]
)


def parquet_vectors_scan(df: DataFrame, payload_col: str = "content") -> DataFrame:
    """From-scratch read of the EMBEDDINGS parquet (round 13, second
    pass): the ``array<float>`` column through repetition-level
    record assembly (operators/parquet_data LIST support) — vec_id +
    per-vector dimension + an integer-exact checksum
    (Σ floor(x·10⁶), reproducible bit-for-bit in SQL). Vector columns
    ARE the embedding substrate at 100 TB; a reader that stops at
    flat columns can't open an ANN corpus. Map-only mapInPandas."""
    from yark_spark.operators import parquet_data as _pdata

    _read = _pdata.parquet_read_columns

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _math

        import numpy as np

        for pdf in batches:
            ids, dims, sums = [], [], []
            for p in pdf[payload_col]:
                cols = _read(bytes(p), ["vec_id", "embedding"])
                for vid, vec in zip(cols["vec_id"], cols["embedding"]):
                    ids.append(int(vid))
                    dims.append(len(vec))
                    sums.append(sum(_math.floor(x * 1_000_000) for x in vec))
            yield pd.DataFrame(
                {
                    "vec_id": np.array(ids, dtype="int64"),
                    "dim": np.array(dims, dtype="int32"),
                    "csum": np.array(sums, dtype="int64"),
                }
            )

    return df.select(F.col(payload_col)).mapInPandas(
        _extract, PARQUET_VECTOR_SCHEMA
    )


CDX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("urlkey", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def warc_cdx_seek_extract(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """CDX index + random-access verification (round 13): the Common
    Crawl cluster.idx convention. For each .warc.gz shard, FIRST build
    the CDX — walk the gzip member boundaries (headers + deflate +
    trailer, not magic scans) and record (urlkey via SURT, offset,
    length) per response record; THEN prove the index by the only test
    that matters: range-slice ``payload[offset : offset + length]``,
    inflate THAT SLICE as a standalone member, parse the record,
    strip the HTTP head, and digest the text. A wrong offset or
    length cannot produce the right digest — the oracle match
    certifies the whole index, seek and inflate path without the
    offsets appearing in the output (they are compression-dependent
    bytes no SQL can re-derive). At 100 TB this is how one record is
    fetched from a multi-GB WARC object: CDX lookup → ranged GET →
    one-member inflate. Map-only mapInPandas."""
    from yark_spark.operators import containers as _cont

    _spans = _cont.gzip_member_spans
    _records = _cont.warc_records
    _member_id = _cont.member_doc_id
    _surt_key = _cont.surt_key

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            dids, keys, ns, digs = [], [], [], []
            for _sid, p in zip(pdf[shard_col], pdf[payload_col]):
                blob = bytes(p)
                # pass 1: the CDX — member spans + target URIs
                cdx = []
                for start, end in _spans(blob):
                    recs = _records(blob[start:end], max_output=1 << 20)
                    if len(recs) != 1:
                        raise ValueError("warc-cdx: member is not one record")
                    uri = recs[0]["headers"].get("warc-target-uri")
                    if uri is None:
                        continue  # warcinfo prologue: not indexed
                    cdx.append((_surt_key(uri), start, end - start, uri))
                # pass 2: random access through the index ONLY
                for urlkey, off, length, uri in cdx:
                    slice_ = blob[off : off + length]
                    rec = _records(slice_, max_output=1 << 20)[0]
                    block = rec["block"]
                    head_end = block.find(b"\r\n\r\n")
                    if head_end >= 0 and block[:5] in (b"HTTP/",):
                        block = block[head_end + 4 :]
                    text = block.decode("utf-8")
                    dids.append(_member_id(uri.rsplit("/", 1)[-1]))
                    keys.append(urlkey)
                    ns.append(len(text))
                    digs.append(_md5_hex(text))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(dids, dtype="Int64"),
                    "urlkey": keys,
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    def _md5_hex(text: str) -> str:
        import hashlib as _h

        return _h.md5(text.encode("utf-8")).hexdigest()

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, CDX_SCHEMA
    )


WET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def warc_wet_extract(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """WET-style text extraction (round 11): the Common Crawl
    WARC→WET conversion pass — for each ``response`` record, strip the
    HTTP message head (status line + headers, up to the first CRLF CRLF)
    from the block and recover the payload text. Emits (doc key,
    n_chars, md5 digest) so a SQL oracle certifies byte-exact recovery
    through gzip members + record grammar + HTTP framing without moving
    the text. Map-only mapInPandas; non-response records are skipped
    exactly like the real WET generator."""
    from yark_spark.operators import containers as _cont

    _records = _cont.warc_records
    _member_id = _cont.member_doc_id

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, ns, digs = [], [], []
            for p in pdf[payload_col]:
                for r in _records(bytes(p), max_output=1 << 20):
                    if r["headers"]["warc-type"] != "response":
                        continue
                    uri = r["headers"].get("warc-target-uri", "")
                    block = r["block"]
                    head_end = block.find(b"\r\n\r\n")
                    body = block[head_end + 4 :] if head_end >= 0 else block
                    tail = uri.rsplit("/", 1)[-1]
                    dids.append(_member_id(tail))
                    ns.append(len(body.decode("utf-8")))
                    digs.append(_hashlib.md5(body).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(dids, dtype="Int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, WET_SCHEMA
    )


def _make_dims_parser():
    """Header-peek metadata: (format, width, height) from the container
    header ALONE — no entropy decode, no pixel pass. At 100 TB this is
    the cheap first pass over a binary column (route/filter/bucket by
    dimensions before any real decode); it also covers container
    variants whose PIXELS the full decoder rejects (lossy VP8).
    Self-contained closure."""

    def dims(payload: bytes) -> tuple[str, int, int]:
        import struct

        p = bytes(payload)
        if p[:8] == b"\x89PNG\r\n\x1a\n":  # IHDR is always first
            w, h = struct.unpack_from(">II", p, 16)
            return "png", w, h
        if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
            tag = p[12:16]
            if tag == b"VP8X":  # extended: 24-bit canvas dims minus one
                w = 1 + int.from_bytes(p[24:27], "little")
                h = 1 + int.from_bytes(p[27:30], "little")
                return "webp", w, h
            if tag == b"VP8 ":  # lossy: dims at frame-header offset 26
                w, h = struct.unpack_from("<HH", p, 26)
                return "webp", w & 0x3FFF, h & 0x3FFF
            if tag == b"VP8L":  # lossless: 14-bit packed after signature
                bits = int.from_bytes(p[21:25], "little")
                return "webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
            raise NotImplementedError("unknown WebP variant")
        if p[:2] == b"\xff\xd8":  # JPEG: walk markers to any SOFn
            pos = 2
            while pos + 4 <= len(p):
                if p[pos] != 0xFF:
                    pos += 1
                    continue
                marker = p[pos + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD9:
                    pos += 2
                    continue
                (seglen,) = struct.unpack_from(">H", p, pos + 2)
                if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                              0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    h, w = struct.unpack_from(">HH", p, pos + 5)
                    return "jpeg", w, h
                pos += 2 + seglen
            raise ValueError("JPEG without SOF")
        if p[:2] in (b"P5", b"P6"):
            import re

            pos, tokens = 2, []
            while len(tokens) < 2 and pos < len(p):
                m = re.match(rb"(?:\s|#[^\n]*\n)*([0-9]+)", p[pos:])
                if not m:
                    raise ValueError("bad netpbm header")
                tokens.append(int(m.group(1)))
                pos += m.end()
            return "pnm", tokens[0], tokens[1]
        if p[:2] == b"BM":
            (hdr_size,) = struct.unpack_from("<I", p, 14)
            if hdr_size == 12:  # BITMAPCOREHEADER: uint16 dims
                w, h = struct.unpack_from("<HH", p, 18)
                return "bmp", w, h
            w, h = struct.unpack_from("<ii", p, 18)
            return "bmp", w, abs(h)
        if p[:4] == b"GIF8":  # logical screen descriptor right after version
            w, h = struct.unpack_from("<HH", p, 6)
            return "gif", w, h
        raise NotImplementedError("unrecognized image container")

    return dims


image_dims = _make_dims_parser()

DIMS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def extract_image_dims(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Map-only header peek over a binary column → (format, width,
    height). The production first stage before any decode fan-out."""
    dims = _make_dims_parser()

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            fs, ws, hs = [], [], []
            for p in pdf[payload_col]:
                f, w, h = dims(bytes(p))
                fs.append(f)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "format": fs,
                    "width": np.array(ws, dtype="int32"),
                    "height": np.array(hs, dtype="int32"),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(_run, DIMS_SCHEMA)


def with_header_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic mixed-container fixture column: doc_id % 6 picks the
    format (PNG / WebP-VP8X / real encoded JPEG / PGM / real encoded GIF
    / BMP — the GIF arm added in round 11 round-trips through the actual
    LZW encoder, like the JPEG arm), dims derive from
    the doc's md5 (w = 16 + a%48, h = 16 + b%48 over the first two hex
    chars' ascii codes) — so a SQL oracle can compute the expected
    (format, width, height) analytically while the Spark side builds and
    parses REAL container headers."""
    from yark_spark.operators import gif as _gif_mod
    from yark_spark.operators import jpeg as _jpeg_mod

    encode = _jpeg_mod.encode_jpeg
    encode_gif = _gif_mod.encode_gif

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import struct as _struct

        import numpy as _np

        def png(w, h):
            ihdr = _struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
            return (
                b"\x89PNG\r\n\x1a\n"
                + _struct.pack(">I", 13)
                + b"IHDR"
                + ihdr
                + b"\x00\x00\x00\x00"
            )

        def webp(w, h):
            body = (
                b"VP8X"
                + _struct.pack("<I", 10)
                + b"\x00\x00\x00\x00"
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little")
            )
            return b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WEBP" + body

        def pgm(w, h):
            return b"P5\n%d %d\n255\n" % (w, h) + b"\x00" * (w * h)

        for pdf in batches:
            ids, payloads = [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                hx = _hashlib.md5(t.encode("utf-8")).hexdigest()
                w = 16 + ord(hx[0]) % 48
                h = 16 + ord(hx[1]) % 48
                kind = int(did) % 6
                if kind == 0:
                    p = png(w, h)
                elif kind == 1:
                    p = webp(w, h)
                elif kind == 2:
                    p = encode(_np.zeros((h, w), dtype=_np.uint8), quality=50)
                elif kind == 3:
                    p = pgm(w, h)
                elif kind == 4:
                    p = encode_gif(_np.zeros((h, w), dtype=_np.uint8))
                else:  # minimal BITMAPINFOHEADER, dims only (header peek)
                    p = (
                        b"BM"
                        + _struct.pack("<IHHI", 54, 0, 0, 54)
                        + _struct.pack(
                            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0
                        )
                    )
                ids.append(int(did))
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def with_zstd_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """zstd-compress each document's text with the from-scratch RFC 8878
    encoder (real huff0 literals + predefined-FSE sequences + repeat
    offsets, XXH64 content checksum) — the wire shape of modern crawled
    corpora (.jsonl.zst). Map-only mapInPandas."""
    from yark_spark.operators import zstd as _zstd

    _enc = _zstd.zstd_compress

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": [
                        _enc(t.encode("utf-8"), method="compressed")
                        for t in pdf[text_col]
                    ],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def unzstd_text_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decompress a zstd binary column (XXH64 checksum + declared
    content size verified in-path, 64 MB bomb guard) and emit (id,
    n_chars, md5 digest) — the gzip-ingest oracle recipe applied to the
    modern codec: one digest certifies FSE, huff0, sequence execution
    and framing end to end. Map-only mapInPandas."""
    from yark_spark.operators import zstd as _zstd

    _dec = _zstd.zstd_decompress

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                raw = _dec(bytes(p), max_output=64 << 20)
                ns.append(len(raw.decode("utf-8")))
                digs.append(_hashlib.md5(raw).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_lz4_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """LZ4-frame-compress each document's text with the from-scratch
    codec (operators/lz4: greedy hash matcher, XXH32 header/content
    checksums) — the third modern wire codec beside .gz and .zst.
    Map-only mapInPandas."""
    from yark_spark.operators.lz4 import lz4_frame_compress as _enc

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": [_enc(t.encode("utf-8")) for t in pdf[text_col]],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def unlz4_text_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decompress an LZ4-frame binary column (header checksum byte,
    XXH32 content checksum and declared content size verified in-path,
    64 MB bomb guard) and emit (id, n_chars, md5 digest) — the
    gzip/zstd ingest oracle recipe on the third codec. Map-only
    mapInPandas."""
    from yark_spark.operators.lz4 import lz4_frame_decompress as _dec

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                raw = _dec(bytes(p), max_output=64 << 20)
                ns.append(len(raw.decode("utf-8")))
                digs.append(_hashlib.md5(raw).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_jsonl_lz4_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Pack documents into ``.jsonl.lz4`` shards — the LZ4 twin of
    ``with_jsonl_zst_shards`` (HF dataset staging shape); the listing
    side is ``jsonl_zst_listing`` unchanged, because its
    ``decompress_auto`` dispatch already speaks the LZ4 frame magic.
    One applyInPandas per shard group — the grouping shuffle IS the
    shard assignment."""
    from yark_spark.operators.lz4 import lz4_frame_compress as _enc

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import json as _json

        pdf = pdf.sort_values(id_col)
        lines = [
            _json.dumps({"id": int(did), "text": t}, ensure_ascii=False)
            for did, t in zip(pdf[id_col], pdf[text_col])
        ]
        raw = ("\n".join(lines) + "\n").encode("utf-8")
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        return pd.DataFrame({"shard_id": [sid], "payload": [_enc(raw)]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def with_bz2_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """bzip2-compress each document's text with the from-scratch encoder
    (operators/bzip2: RLE1 → rank-doubling BWT → MTF/RUNA-RUNB →
    canonical Huffman, both CRC layers) — the `.bz2` wrapper Wikipedia
    dumps ship in. Map-only mapInPandas."""
    from yark_spark.operators.bzip2 import bz2_compress as _enc

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": [_enc(t.encode("utf-8")) for t in pdf[text_col]],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def unbz2_text_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decompress a bzip2 binary column (block CRCs + the rotate-combine
    stream CRC verified in-path, 64 MB bomb guard) and emit (id,
    n_chars, md5 digest) — the gzip/zstd/LZ4 ingest oracle recipe on
    the fourth wire codec. Map-only mapInPandas."""
    from yark_spark.operators.bzip2 import bz2_decompress as _dec

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                raw = _dec(bytes(p), max_output=64 << 20)
                ns.append(len(raw.decode("utf-8")))
                digs.append(_hashlib.md5(raw).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_jsonl_bz2_multistream_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
    docs_per_stream: int = 4,
) -> DataFrame:
    """Pack documents into MULTISTREAM ``.jsonl.bz2`` shards — the exact
    Wikipedia-dump layout: each shard is a concatenation of independent
    bzip2 streams (4 docs each here), so a reader with an offset index
    can start at any stream boundary without decoding the prefix. The
    listing side is ``jsonl_zst_listing`` unchanged: decompress_auto
    walks concatenated 'BZh' streams the way it walks multi-member
    gzip. One applyInPandas per shard group — the grouping shuffle IS
    the shard assignment."""
    from yark_spark.operators.bzip2 import bz2_compress as _enc

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import json as _json

        pdf = pdf.sort_values(id_col)
        payload = bytearray()
        rows = list(zip(pdf[id_col], pdf[text_col]))
        for s0 in range(0, len(rows), docs_per_stream):
            lines = [
                _json.dumps({"id": int(did), "text": t}, ensure_ascii=False)
                for did, t in rows[s0 : s0 + docs_per_stream]
            ]
            payload += _enc(("\n".join(lines) + "\n").encode("utf-8"))
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        return pd.DataFrame({"shard_id": [sid], "payload": [bytes(payload)]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def with_xz_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """xz-compress each document's text with the from-scratch LZMA
    codec (operators/xz: range-coded LZMA2 chunks inside the full .xz
    container) — the fifth shard wire beside .gz/.zst/.lz4/.bz2
    (scientific corpora, software-heritage dumps, long-tail HF
    exports). The integrity-check id CYCLES none/CRC32/CRC64/SHA256
    and the chunk mode cycles compressed/mixed per doc, so one digest
    pins every check verifier and both chunk grammars. Map-only
    mapInPandas."""
    from yark_spark.operators.xz import xz_compress as _enc

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        checks = ["none", "crc32", "crc64", "sha256"]
        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                payloads.append(
                    _enc(
                        t.encode("utf-8"),
                        check=checks[int(did) % 4],
                        mode="mixed" if int(did) % 2 else "compressed",
                        chunk_size=1 << 12,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def unxz_text_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decompress an xz binary column (header/block/index/footer CRCs,
    the per-block integrity check, and the Index↔blocks cross-check
    all verified in-path; 64 MB bomb guard) and emit (id, n_chars, md5
    digest) — the gzip/zstd/LZ4/bz2 ingest oracle recipe on the fifth
    wire codec. Map-only mapInPandas."""
    from yark_spark.operators.xz import xz_decompress as _dec

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                raw = _dec(bytes(p), max_output=64 << 20)
                ns.append(len(raw.decode("utf-8")))
                digs.append(_hashlib.md5(raw).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_jsonl_xz_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Pack documents into ``.jsonl.xz`` shards — the xz twin of
    ``with_jsonl_zst_shards``; the listing side is
    ``jsonl_zst_listing`` unchanged, because ``decompress_auto`` now
    speaks the xz magic. Check id cycles per shard. One applyInPandas
    per shard group — the grouping shuffle IS the shard assignment."""
    from yark_spark.operators.xz import xz_compress as _enc

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import json as _json

        pdf = pdf.sort_values(id_col)
        lines = [
            _json.dumps({"id": int(did), "text": t}, ensure_ascii=False)
            for did, t in zip(pdf[id_col], pdf[text_col])
        ]
        raw = ("\n".join(lines) + "\n").encode("utf-8")
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        checks = ["none", "crc32", "crc64", "sha256"]
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "payload": [_enc(raw, check=checks[sid % 4])],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


#: Output schema of gif_anim_video_features.
GIF_VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_cs", IntegerType()),
        StructField("luma_mean", DoubleType()),
        StructField("motion", DoubleType()),
    ]
)


def with_gif_anim_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    subrect: bool = True,
) -> DataFrame:
    """Deterministic animated-GIF fixture column (round 12): four gray
    frames at the ascii codes of the doc's first four md5 hex chars —
    the Y4M fixture's time axis in the GIF container. ``subrect=True``
    (the compositing fixture): frame 0 fills the 16x16 screen at value
    a with disposal 1; frames 1-3 are BOTTOM-HALF 8x16 rectangles at
    b/c/d, so every presented canvas k>0 is (top=a, bottom=v_k) and the
    disposal compositor is in the oracle path, not just the parser.
    ``subrect=False``: full-canvas frames with ALTERNATING disposal
    1/2 — full repaint makes both compose identically, pinning that
    disposal bookkeeping never corrupts whole-frame animation (the
    cross-container agreement fixture). Delays are 10 cs per frame.
    Map-only mapInPandas."""
    from yark_spark.operators import gif as _gif_mod

    _enc = _gif_mod.encode_gif_anim

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                if subrect:
                    frames = [_np.full((16, 16), vals[0], dtype=_np.uint8)] + [
                        _np.full((8, 16), v, dtype=_np.uint8) for v in vals[1:]
                    ]
                    rects = [(0, 0), (0, 8), (0, 8), (0, 8)]
                    disposals = [1, 1, 1, 1]
                else:
                    frames = [
                        _np.full((16, 16), v, dtype=_np.uint8) for v in vals
                    ]
                    rects = [(0, 0)] * 4
                    disposals = [1, 2, 1, 2]
                payloads.append(
                    _enc(frames, screen=(16, 16), rects=rects,
                         disposals=disposals, delays=[10] * 4)
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def gif_anim_video_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Animated-GIF temporal statistics (round 12): disposal-composited
    canvases (operators/gif.compose_gif_frames) → per-canvas luma mean
    and the frame-difference motion score — the Y4M recipe applied to
    the GIF container, making animation a first-class video source.
    ``luma_mean`` is the mean of per-canvas luma means (luma = RGB
    channel mean over the black-composited canvas), ``motion`` the mean
    over consecutive canvas pairs of mean |Δluma| (0.0 single-frame),
    ``duration_cs`` the summed GCE delays. Map-only mapInPandas; frames
    never shuffle."""
    from yark_spark.operators import gif as _gif_mod

    _compose = _gif_mod.compose_gif_frames

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in
                    ("n_frames", "width", "height", "duration_cs",
                     "luma_mean", "motion")}
            for p in pdf[payload_col]:
                canvases = _compose(bytes(p))
                lumas = [
                    c["rgb"].astype(np.float64).mean(axis=2) for c in canvases
                ]
                means = [float(y.mean()) for y in lumas]
                diffs = [
                    float(np.abs(b - a).mean()) for a, b in zip(lumas, lumas[1:])
                ]
                h, w = lumas[0].shape
                rows["n_frames"].append(len(lumas))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_cs"].append(sum(c["delay_cs"] for c in canvases))
                rows["luma_mean"].append(round(float(np.mean(means)), 6))
                rows["motion"].append(
                    round(float(np.mean(diffs)), 6) if diffs else 0.0
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_frames": np.array(rows["n_frames"], dtype="int32"),
                    "width": np.array(rows["width"], dtype="int32"),
                    "height": np.array(rows["height"], dtype="int32"),
                    "duration_cs": np.array(rows["duration_cs"], dtype="int32"),
                    "luma_mean": np.array(rows["luma_mean"], dtype="float64"),
                    "motion": np.array(rows["motion"], dtype="float64"),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GIF_VIDEO_SCHEMA
    )


#: Output schema of jsonl_zst_listing.
JSONL_ZST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def corpus_jsonl_dictionary(dict_id: int = 913) -> bytes:
    """The deterministic content-prefix zstd dictionary for the JSONL
    shard fixtures (round 13): trained driver-side on template records
    with the same skeleton the packer emits, so the build and listing
    sides derive IDENTICAL bytes independently (no side-channel file).
    At 100 TB the ~1 KB dictionary ships in every task closure — the
    standard small-dict deployment shape."""
    import json as _json

    from yark_spark.operators.zstd_encode import train_prefix_dictionary

    samples = [
        _json.dumps(
            {"id": k, "text": f"sample document body {k} with shared corpus words"},
            ensure_ascii=False,
        ).encode("utf-8")
        + b"\n"
        for k in range(16)
    ]
    return train_prefix_dictionary(samples, dict_id=dict_id)


def with_jsonl_zst_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
    dictionary: bytes | None = None,
) -> DataFrame:
    """Pack documents into ``.jsonl.zst`` shards (round 12) — the wire
    shape of modern crawled-corpus releases (Common Crawl derivatives,
    HF dataset exports): one JSON object per line, the whole shard one
    zstd frame through the from-scratch RFC 8878 encoder. One
    applyInPandas per shard group — the grouping shuffle IS the shard
    assignment, same scale shape as the tar/WARC packers.
    ``dictionary`` (round 13): structured-dictionary bytes — frames
    carry its Dictionary_ID and may copy from its content."""
    from yark_spark.operators import zstd as _zstd

    _enc = _zstd.zstd_compress
    _dict_bytes = bytes(dictionary) if dictionary is not None else None

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import json as _json

        pdf = pdf.sort_values(id_col)
        lines = [
            _json.dumps({"id": int(did), "text": t}, ensure_ascii=False)
            for did, t in zip(pdf[id_col], pdf[text_col])
        ]
        raw = ("\n".join(lines) + "\n").encode("utf-8")
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "payload": [
                    _enc(raw, method="compressed", dictionary=_dict_bytes)
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def jsonl_zst_listing(
    df: DataFrame,
    shard_col: str = "shard_id",
    payload_col: str = "payload",
    dictionary: bytes | None = None,
) -> DataFrame:
    """Explode ``.jsonl.zst`` shards back into per-document rows (round
    12): magic-dispatched decompression (``containers.decompress_auto``
    — the same listing also ingests .jsonl.gz or plain .jsonl bytes),
    JSON-lines parse, and the md5-of-text digest so a SQL oracle
    certifies the whole wire — zstd frame → lines → JSON → text —
    without moving the text. Map-only mapInPandas; one task inflates
    one shard sequentially, the object-store access pattern.
    ``dictionary`` (round 13): structured-dictionary bytes for
    dictionary-compressed shards (the dict ships in the task closure;
    parsed ONCE per task, not per shard)."""
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import zstd as _zstd

    _auto = _cont.decompress_auto
    _unzstd = _zstd.zstd_decompress
    _parse_dict = _zstd.parse_zstd_dictionary
    _dict_bytes = bytes(dictionary) if dictionary is not None else None

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import json as _json

        import numpy as np

        parsed_dict = _parse_dict(_dict_bytes) if _dict_bytes is not None else None
        for pdf in batches:
            dids, sids, ns, digs = [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                if parsed_dict is not None:
                    raw = _unzstd(
                        bytes(p), max_output=256 << 20, dictionary=parsed_dict
                    )
                else:
                    raw = _auto(bytes(p), max_output=256 << 20)
                for line in raw.decode("utf-8").splitlines():
                    if not line:
                        continue
                    obj = _json.loads(line)
                    text = obj["text"]
                    dids.append(int(obj["id"]))
                    sids.append(int(sid))
                    ns.append(len(text))
                    digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, JSONL_ZST_SCHEMA
    )


def with_html_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic HTML fixture column (round 12): each document's
    text wrapped in a realistic page skeleton — DOCTYPE, a script whose
    body contains fake markup (the RAWTEXT trap), a style block, a
    comment, markup indentation, an inline ``<em>`` splitting the text
    mid-flow, and the first space encoded as the ``&#32;`` numeric
    entity — constructed so ``html_to_text`` recovers the text
    BYTE-EXACTLY (entities decode, inline tags vanish without breaking
    the flow, whitespace-only indentation nodes drop). Map-only
    mapInPandas."""
    from yark_spark.operators import html as _html_mod

    _page = _html_mod.html_page_fixture

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                _page(int(d), t).encode("utf-8")
                for d, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def html_extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """HTML → text extraction over a binary page column (round 12): the
    markup half of the crawled-web WET pass (operators/html — RAWTEXT
    script/style dropping, block boundaries, HTML5 entity decode,
    malformed-markup tolerance). Emits (id, n_chars, md5 digest) of the
    extracted text — the gzip/zstd-ingest oracle recipe, certifying the
    whole tag state machine against SQL md5(text). Map-only
    mapInPandas; pages never shuffle."""
    from yark_spark.operators import html as _html_mod

    _extract_text = _html_mod.html_to_text

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                text = _extract_text(bytes(p))
                ns.append(len(text))
                digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_html_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, page) — the HTML fixture as a STRING column, the shape
    with_warc_shards consumes to build full crawled-page records."""
    from yark_spark.operators import html as _html_mod

    _page = _html_mod.html_page_fixture

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "page": [
                        _page(int(d), t)
                        for d, t in zip(pdf[id_col], pdf[text_col])
                    ],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("page", StringType())]
        ),
    )


def warc_wet_html_extract(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """The COMPLETE crawled-web text-recovery wire (round 12): per-record
    gzip members → ISO 28500 record grammar → HTTP head stripped at the
    first CRLF-CRLF → HTML tag state machine → text. This is
    warc_wet_extract with the markup half included — what a real WET
    generator actually does to a CC-MAIN segment. Emits (doc key,
    n_chars, md5 digest) of the RECOVERED TEXT so one SQL hash certifies
    four protocol layers at once. Map-only mapInPandas."""
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import html as _html_mod

    _records = _cont.warc_records
    _member_id = _cont.member_doc_id
    _to_text = _html_mod.html_to_text

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, ns, digs = [], [], []
            for p in pdf[payload_col]:
                for r in _records(bytes(p), max_output=1 << 20):
                    if r["headers"]["warc-type"] != "response":
                        continue
                    uri = r["headers"].get("warc-target-uri", "")
                    block = r["block"]
                    head_end = block.find(b"\r\n\r\n")
                    body = block[head_end + 4 :] if head_end >= 0 else block
                    text = _to_text(body)
                    # real CC URIs rarely end in a numeric key: null
                    # doc_id instead of failing the shard (the
                    # warc_record_listing rule, round-12 self-review)
                    tail = uri.rsplit("/", 1)[-1]
                    dids.append(_member_id(tail))
                    ns.append(len(text))
                    digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(dids, dtype="Int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, WET_SCHEMA
    )


def nfc_text_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode NFC canonical composition over a text column (round 12):
    Arrow-batched mapInPandas running Python's unicodedata — the
    standard first normalization pass of a multilingual corpus (dedup
    and tokenization both assume composed forms). Emits (id, n_chars,
    md5 digest) of the normalized text so the DuckDB oracle (utf8proc)
    provides an independent-Unicode-implementation differential."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import unicodedata as _ud

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for t in pdf[text_col]:
                nt = _ud.normalize("NFC", t)
                ns.append(len(nt))
                digs.append(_hashlib.md5(nt.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


#: Output schema of audio_pcm_depth_features.
PCM_DEPTH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("codec", StringType()),
        StructField("n_samples", IntegerType()),
        StructField("mean_sample", LongType()),
    ]
)


def audio_pcm_depth_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PCM sample-depth normalization (round 12 — the "N-bit PCM needs
    an audio library" boundary closed): each doc's four md5-derived
    int16 samples (multiples of 256, so every width is lossless) write
    through the WAV encoder at 8/24/32-bit integer PCM and IEEE
    float32, decode back through the four-depth normalizer in
    operators/audio_codecs, and emit the per-depth sample mean — all
    four depths must land on the SAME analytic value
    (64·(a+b+c+d) − 26112), certified by one SQL oracle. Map-only
    mapInPandas."""
    from yark_spark.operators import audio_codecs as _ac

    _enc, _dec = _ac.encode_wav, _ac.decode_wav
    codecs = ("pcm8", "pcm24", "pcm32", "float32")

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, names, ns, means = [], [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                vals = [
                    ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]
                ]
                samples = np.array([(v - 102) * 256 for v in vals], dtype=np.int64)
                for codec in codecs:
                    _r, _c, got = _dec(_enc(samples, codec=codec))
                    dids.append(int(did))
                    names.append(codec)
                    ns.append(len(got))
                    means.append(int(got.astype(np.int64).sum()) // len(got))
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "codec": names,
                    "n_samples": np.array(ns, dtype="int32"),
                    "mean_sample": np.array(means, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _extract, PCM_DEPTH_SCHEMA
    )


#: Output schema of seekable_zst_frame_listing's frame stage.
_SEEK_FRAME_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def with_seekable_zst_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 64,
    frame_size: int = 4096,
) -> DataFrame:
    """Pack documents into SEEKABLE .jsonl.zst shards (round 12): one
    JSON line per doc, the shard split into independent zstd frames of
    ``frame_size`` uncompressed bytes with the seek table appended (the
    public zstd seekable-format spec). One applyInPandas per shard
    group. The point at 100 TB: a multi-GB .zst object stops being one
    task — the seek table makes it SPLITTABLE."""
    from yark_spark.operators import zstd as _zstd

    _enc = _zstd.zstd_seekable_compress_chunks

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import json as _json

        pdf = pdf.sort_values(id_col)
        # frame chunks cut at LINE boundaries (never mid-record), packed
        # greedily up to frame_size uncompressed bytes
        chunks, cur = [], bytearray()
        for did, t in zip(pdf[id_col], pdf[text_col]):
            line = (
                _json.dumps({"id": int(did), "text": t}, ensure_ascii=False) + "\n"
            ).encode("utf-8")
            if cur and len(cur) + len(line) > frame_size:
                chunks.append(bytes(cur))
                cur = bytearray()
            cur += line
        if cur:
            chunks.append(bytes(cur))
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        return pd.DataFrame({"shard_id": [sid], "payload": [_enc(chunks)]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def seekable_zst_frame_listing(
    df: DataFrame,
    shard_col: str = "shard_id",
    payload_col: str = "payload",
    decode_partitions: int | None = None,
) -> DataFrame:
    """Parallel decode of seekable .zst shards (round 12): stage 1
    parses each shard's seek table and emits one row PER FRAME (the
    frame's own bytes — at object-store scale this stage reads only the
    footer and issues byte-range requests); a ``repartition`` then
    spreads the frames so stage 2's entropy decode of ONE shard runs on
    MANY cores — the whole reason the seekable format exists. Frames
    split only at line boundaries by construction here; a general
    reader would stitch the cut line across neighboring frames (same
    pattern as the tar prefix rejoin). Emits (doc_id, shard_id,
    n_chars, digest) like jsonl_zst_listing."""
    from yark_spark.operators import zstd as _zstd

    _table = _zstd.zstd_seek_table
    _dec = _zstd.zstd_decompress

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            sids, nos, blobs = [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                p = bytes(p)
                for no, (off, c_sz, _d) in enumerate(_table(p)):
                    sids.append(int(sid))
                    nos.append(no)
                    blobs.append(p[off : off + c_sz])
            yield pd.DataFrame(
                {
                    "shard_id": np.array(sids, dtype="int64"),
                    "frame_no": np.array(nos, dtype="int32"),
                    "frame_bytes": blobs,
                }
            )

    frames = df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _frames, _SEEK_FRAME_SCHEMA
    )
    n = decode_partitions or df.sparkSession.sparkContext.defaultParallelism
    # the repartition IS the point: entropy decode of one shard's frames
    # fans out across the cluster instead of serializing in one task
    frames = frames.repartition(n, "shard_id", "frame_no")

    def _docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import json as _json

        import numpy as np

        for pdf in batches:
            dids, sids, ns, digs = [], [], [], []
            for sid, blob in zip(pdf["shard_id"], pdf["frame_bytes"]):
                raw = _dec(bytes(blob), max_output=256 << 20)
                for line in raw.decode("utf-8").splitlines():
                    if not line:
                        continue
                    obj = _json.loads(line)
                    dids.append(int(obj["id"]))
                    sids.append(int(sid))
                    ns.append(len(obj["text"]))
                    digs.append(
                        _hashlib.md5(obj["text"].encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return frames.mapInPandas(_docs, JSONL_ZST_SCHEMA)


def with_tfrecord_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
    compression: str = "alternate",
) -> DataFrame:
    """Pack documents into TFRecord shards (round 12): each document
    becomes one ``tf.Example`` ({"id": int64_list, "text": bytes_list})
    through the from-scratch protobuf wire encoder, each shard one
    TFRecord stream (length / masked-CRC-32C framing) — the
    tf.data.TFRecordDataset wire shape (C4, YT-8M). ``compression`` ∈
    {"none", "gzip", "alternate"}; "alternate" gzips odd shards so one
    fixture exercises BOTH wires through the suffix-style codec column
    (tf.data dispatches the same way via compression_type). One
    applyInPandas per shard group — the grouping shuffle IS the shard
    assignment, same scale shape as the tar/WARC/jsonl.zst packers."""
    from yark_spark.operators import tfrecord as _tfr
    from yark_spark.operators import containers as _cont

    _enc, _build_stream = _tfr.encode_example, _tfr.tfrecord_build
    _gz = _cont.gzip_compress

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        recs = [
            _enc(
                {
                    "id": ("int64", [int(did)]),
                    "text": ("bytes", [t.encode("utf-8")]),
                }
            )
            for did, t in zip(pdf[id_col], pdf[text_col])
        ]
        blob = _build_stream(recs)
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        codec = (
            "gzip"
            if compression == "gzip" or (compression == "alternate" and sid % 2)
            else "none"
        )
        if codec == "gzip":
            blob = _gz(blob)
        return pd.DataFrame(
            {"shard_id": [sid], "codec": [codec], "payload": [blob]}
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("codec", StringType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def tfrecord_listing(
    df: DataFrame,
    shard_col: str = "shard_id",
    codec_col: str = "codec",
    payload_col: str = "payload",
) -> DataFrame:
    """Explode TFRecord shards back into per-document rows (round 12):
    explicit codec dispatch (gzip via containers.gzip_decompress — tf.data
    style, where compression_type is declared, never sniffed, because a
    record length's low bytes can collide with the gzip magic), masked
    CRC-32C verification on EVERY length and payload, tf.Example
    protobuf decode, and the md5 digest of the text bytes so one SQL
    hash certifies framing + CRC + protobuf end to end. Map-only
    mapInPandas; one task inflates one shard sequentially, the
    object-store access pattern."""
    from yark_spark.operators import tfrecord as _tfr
    from yark_spark.operators import containers as _cont

    _records, _decode = _tfr.tfrecord_records, _tfr.decode_example
    _gunzip = _cont.gzip_decompress

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, sids, ns, digs = [], [], [], []
            for sid, codec, p in zip(
                pdf[shard_col], pdf[codec_col], pdf[payload_col]
            ):
                blob = bytes(p)
                if codec == "gzip":
                    blob = _gunzip(blob, max_output=256 << 20)
                elif codec != "none":
                    raise ValueError(f"tfrecord: unknown codec {codec!r}")
                for rec in _records(blob, max_output=256 << 20):
                    ex = _decode(rec)
                    text_b = ex["text"][1][0]
                    dids.append(int(ex["id"][1][0]))
                    sids.append(int(sid))
                    ns.append(len(text_b.decode("utf-8")))
                    digs.append(_hashlib.md5(text_b).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(
        F.col(shard_col), F.col(codec_col), F.col(payload_col)
    ).mapInPandas(_extract, JSONL_ZST_SCHEMA)


AVRO_LISTING_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("codec", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


_AVRO_DOC_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
    ],
}

_AVRO_CODEC_CYCLE = ("null", "deflate", "snappy")


def with_avro_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Pack documents into Avro object-container shards (round 12):
    each shard one ``.avro`` file ({doc_id: long, text: string} writer
    schema embedded in the header) through the from-scratch binary
    encoder, with the codec CYCLED null → deflate → snappy by
    shard_id % 3 so one fixture exercises all three block wires. One
    applyInPandas per shard group — the grouping shuffle IS the shard
    assignment, same scale shape as the tar/WARC/TFRecord packers."""
    from yark_spark.operators import avro_ocf as _avro

    _build_file = _avro.avro_build

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        recs = [
            {"doc_id": int(did), "text": t}
            for did, t in zip(pdf[id_col], pdf[text_col])
        ]
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        codec = _AVRO_CODEC_CYCLE[sid % 3]
        blob = _build_file(
            _AVRO_DOC_SCHEMA, recs, codec=codec, records_per_block=8
        )
        return pd.DataFrame(
            {"shard_id": [sid], "codec": [codec], "payload": [blob]}
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("codec", StringType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def avro_listing(
    df: DataFrame,
    shard_col: str = "shard_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Explode Avro object-container shards back into per-document rows
    (round 12): magic + metadata parse, codec dispatch FROM THE FILE
    HEADER (avro.codec — self-describing, unlike TFRecord), per-block
    sync-marker verification, snappy big-endian CRC-32 check,
    schema-driven binary decode, and the md5 digest of each document's
    text so one SQL hash certifies container + codec + encoding end to
    end. Emits the codec column so the oracle pins WHICH wire each
    shard took. Map-only mapInPandas; one task inflates one shard
    sequentially, the object-store access pattern."""
    from yark_spark.operators import avro_ocf as _avro

    _scan = _avro.avro_scan

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, sids, codecs, ns, digs = [], [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                codec, recs = _scan(bytes(p), max_output=256 << 20)
                for r in recs:
                    text = r["text"]
                    dids.append(int(r["doc_id"]))
                    sids.append(int(sid))
                    codecs.append(codec)
                    ns.append(len(text))
                    digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "codec": codecs,
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, AVRO_LISTING_SCHEMA
    )


# Schema-evolution fixtures (round 13): two writer generations against
# ONE reader schema — by-name field matching, defaults, promotions,
# enum-by-name, writer-union-vs-reader-single, writer-only skip.
_AVRO_WRITER_V1 = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "score", "type": "int"},
        {
            "name": "cat",
            "type": {
                "type": "enum",
                "name": "Cat",
                "symbols": ["red", "green", "blue"],
            },
        },
        {"name": "text", "type": "string"},
    ],
}
_AVRO_WRITER_V2 = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": ["null", "string"]},
        {"name": "lang", "type": "string"},
        {"name": "score", "type": "long"},
        {
            "name": "cat",
            "type": {
                "type": "enum",
                "name": "Cat",
                "symbols": ["green", "blue", "red", "yellow"],
            },
        },
        {"name": "rev", "type": "string"},
    ],
}
_AVRO_READER = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
        {"name": "lang", "type": "string", "default": "und"},
        {"name": "score", "type": "double"},
        {
            "name": "cat",
            "type": {
                "type": "enum",
                "name": "Cat",
                "symbols": ["red", "green", "blue", "yellow"],
            },
        },
        {"name": "quality", "type": "int", "default": 3},
    ],
}


def with_avro_evolved_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Avro shards whose WRITER SCHEMA cycles by generation (round
    13): even shards the v1 layout (score int, 3-symbol enum, field
    order id/score/cat/text), odd shards v2 (text as a nullable
    union, a lang field, score widened to long, a reshuffled 4-symbol
    enum, and a writer-only rev field) — the live-pipeline reality
    that producers upgrade before consumers. Codec still cycles
    null/deflate/snappy by shard."""
    from yark_spark.operators import avro_ocf as _avro

    _build_file = _avro.avro_build

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        codec = _AVRO_CODEC_CYCLE[sid % 3]
        if sid % 2 == 0:
            schema = _AVRO_WRITER_V1
            recs = [
                {
                    "doc_id": int(did),
                    "score": int(did) % 1000,
                    "cat": ["red", "green", "blue"][int(did) % 3],
                    "text": t,
                }
                for did, t in zip(pdf[id_col], pdf[text_col])
            ]
        else:
            schema = _AVRO_WRITER_V2
            recs = [
                {
                    "doc_id": int(did),
                    "text": t,
                    "lang": "en" if int(did) % 2 == 0 else "de",
                    "score": int(did) % 1000,
                    "cat": ["green", "blue", "red", "yellow"][int(did) % 3],
                    "rev": f"r2-{int(did)}",
                }
                for did, t in zip(pdf[id_col], pdf[text_col])
            ]
        blob = _build_file(schema, recs, codec=codec, records_per_block=8)
        return pd.DataFrame(
            {"shard_id": [sid], "codec": [codec], "payload": [blob]}
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("codec", StringType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


AVRO_EVOLVE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("writer_version", IntegerType()),
        StructField("lang", StringType()),
        StructField("cat", StringType()),
        StructField("score", DoubleType()),
        StructField("quality", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def avro_evolve_listing(
    df: DataFrame,
    shard_col: str = "shard_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Explode mixed-generation Avro shards through ONE reader schema
    (round 13): every record — v1 or v2 on the wire — materializes as
    the reader's shape via Avro 1.11 schema resolution (by-name field
    matching, lang default 'und' for v1, score promoted int/long →
    double, enum symbols resolved by NAME across reshuffled symbol
    lists, v2's nullable-union text read as plain string, v2's
    writer-only rev field skipped, reader-only quality defaulting to
    3). Map-only mapInPandas."""
    from yark_spark.operators import avro_ocf as _avro

    _scan = _avro.avro_scan

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            cols = {k: [] for k in (
                "doc_id", "shard_id", "writer_version", "lang", "cat",
                "score", "quality", "n_chars", "digest",
            )}
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                _codec, recs = _scan(
                    bytes(p), max_output=256 << 20, reader_schema=_AVRO_READER
                )
                for r in recs:
                    text = r["text"]
                    cols["doc_id"].append(int(r["doc_id"]))
                    cols["shard_id"].append(int(sid))
                    cols["writer_version"].append(1 + int(sid) % 2)
                    cols["lang"].append(r["lang"])
                    cols["cat"].append(r["cat"])
                    cols["score"].append(float(r["score"]))
                    cols["quality"].append(int(r["quality"]))
                    cols["n_chars"].append(len(text))
                    cols["digest"].append(
                        _hashlib.md5(text.encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": np.array(cols["doc_id"], dtype="int64"),
                    "shard_id": np.array(cols["shard_id"], dtype="int64"),
                    "writer_version": np.array(
                        cols["writer_version"], dtype="int32"
                    ),
                    "lang": cols["lang"],
                    "cat": cols["cat"],
                    "score": np.array(cols["score"], dtype="float64"),
                    "quality": np.array(cols["quality"], dtype="int32"),
                    "n_chars": np.array(cols["n_chars"], dtype="int32"),
                    "digest": cols["digest"],
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, AVRO_EVOLVE_SCHEMA
    )


#: Fixture "language model" for jusText-class classification: the
#: synthetic corpus's function words (its a/the plus the highest-
#: frequency nouns) — jusText ships per-language stopword lists, and
#: this is the fixture language's. ~26% corpus hit rate, so 12-word
#: blocks genuinely split between good and bad.
MAIN_CONTENT_STOPWORDS = frozenset(
    {"a", "the", "table", "row", "value", "key", "data", "line"}
)

MAIN_CONTENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_blocks_kept", IntegerType()),
        StructField("n_words_kept", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def with_main_content_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic boilerplate-heavy page fixture (round 13): the
    document's words as 12-word paragraphs inside a page carrying a
    link-dense nav/sidebar/footer, a short heading and a stopword-free
    cookie banner (operators/html.main_content_page_fixture). Map-only
    mapInPandas."""
    from yark_spark.operators import html as _html_mod

    _page = _html_mod.main_content_page_fixture

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                _page(int(d), t).encode("utf-8")
                for d, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def main_content_features(
    df: DataFrame,
    stopwords: frozenset = MAIN_CONTENT_STOPWORDS,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """jusText-class main-content extraction (round 13): segment each
    page into blocks, classify by link density / length / stopword
    density (integer thresholds) with the short-block context pass,
    and emit per-doc (kept blocks, kept words, md5 of the retained
    text). Docs whose every block is boilerplate are omitted (the SQL
    twin's GROUP BY over good blocks drops them too). Map-only
    mapInPandas."""
    from yark_spark.operators import html as _html_mod

    _blocks = _html_mod.html_blocks
    _classify = _html_mod.classify_blocks
    _stop = frozenset(stopwords)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, nbs, nws, digs = [], [], [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                blocks = _blocks(bytes(p))
                classes = _classify(blocks, _stop)
                kept = [b for b, c in zip(blocks, classes) if c == "good"]
                if not kept:
                    continue
                text = "\n".join(b["text"] for b in kept)
                dids.append(int(did))
                nbs.append(len(kept))
                nws.append(sum(b["n_words"] for b in kept))
                digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "n_blocks_kept": np.array(nbs, dtype="int32"),
                    "n_words_kept": np.array(nws, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, MAIN_CONTENT_SCHEMA
    )


def with_qoi_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic QOI fixture column (round 12): the same 16x16
    quadrant-gray image as the PNG/JPEG/WebP/GIF/TIFF fixtures, encoded
    by the from-scratch six-op QOI encoder — RGB on even doc_ids, RGBA
    with opaque alpha on odd ones, so ONE oracle key pins both channel
    modes (the RGBA mean folds the 255 alpha plane in, the WebP
    recipe). The quadrant steps exercise RUN, LUMA/RGB literals and the
    hash index in every payload. Map-only mapInPandas."""
    from yark_spark.operators import qoi as _qoi_mod

    _enc = _qoi_mod.encode_qoi

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                img = _np.empty((16, 16), dtype=_np.uint8)
                img[:8, :8] = vals[0]
                img[:8, 8:] = vals[1]
                img[8:, :8] = vals[2]
                img[8:, 8:] = vals[3]
                rgb = _np.repeat(img[:, :, None], 3, axis=2)
                if int(did) % 2:
                    rgba = _np.concatenate(
                        [rgb, _np.full((16, 16, 1), 255, dtype=_np.uint8)], axis=2
                    )
                    payloads.append(_enc(rgba))
                else:
                    payloads.append(_enc(rgb))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


AVI_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps_num", IntegerType()),
        StructField("fps_den", IntegerType()),
        StructField("luma_mean", DoubleType()),
        StructField("motion", DoubleType()),
    ]
)


def with_avi_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fps: tuple = (25, 1),
) -> DataFrame:
    """Deterministic MJPEG-AVI fixture column (round 12): the same
    four-frame constant-gray 16x16 animation as the Y4M / animated-GIF
    fixtures (frame k = ascii code of md5 hex char k), each frame an
    independent baseline JPEG at quality 100 — DC-only blocks with a
    unit quantizer decode EXACTLY, so the temporal statistics stay
    analytic through a REAL entropy-coded video wire. Map-only
    mapInPandas; the avi module (and its jpeg dependency) ships by
    value."""
    from yark_spark.operators import avi as _avi_mod

    _enc = _avi_mod.encode_avi_mjpeg

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                frames = [_np.full((16, 16), v, dtype=_np.uint8) for v in vals]
                payloads.append(_enc(frames, fps=fps, quality=100))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def avi_video_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """MJPEG-AVI temporal statistics (round 12): RIFF container parse →
    per-frame baseline-JPEG decode (the in-repo codec) → per-frame luma
    mean and the frame-difference motion score — the Y4M/GIF recipe on
    the one entropy-coded video wire a from-scratch stack covers
    honestly (MJPEG is intra-only; inter-frame DCT codecs remain the
    documented boundary, typed at decode_avi_frames). Map-only
    mapInPandas; frames never shuffle."""
    from yark_spark.operators import avi as _avi_mod

    _decode = _avi_mod.decode_avi_frames

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in
                    ("n_frames", "width", "height", "fps_num", "fps_den",
                     "luma_mean", "motion")}
            for p in pdf[payload_col]:
                v = _decode(bytes(p))
                lumas = []
                for f in v["frames"]:
                    arr = np.asarray(f, dtype=np.float64)
                    lumas.append(arr.mean(axis=2) if arr.ndim == 3 else arr)
                means = [float(y.mean()) for y in lumas]
                diffs = [
                    float(np.abs(b - a).mean()) for a, b in zip(lumas, lumas[1:])
                ]
                rows["n_frames"].append(v["n_frames"])
                rows["width"].append(v["width"])
                rows["height"].append(v["height"])
                rows["fps_num"].append(v["fps_num"])
                rows["fps_den"].append(v["fps_den"])
                rows["luma_mean"].append(round(float(np.mean(means)), 6))
                rows["motion"].append(
                    round(float(np.mean(diffs)), 6) if diffs else 0.0
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_frames": np.array(rows["n_frames"], dtype="int32"),
                    "width": np.array(rows["width"], dtype="int32"),
                    "height": np.array(rows["height"], dtype="int32"),
                    "fps_num": np.array(rows["fps_num"], dtype="int32"),
                    "fps_den": np.array(rows["fps_den"], dtype="int32"),
                    "luma_mean": np.array(rows["luma_mean"], dtype="float64"),
                    "motion": np.array(rows["motion"], dtype="float64"),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, AVI_FEATURE_SCHEMA
    )


def with_msgpack_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Pack documents into ``.msgpack`` shards (round 12): each doc one
    top-level map {"id", "text"} through the from-scratch MessagePack
    encoder, shards a plain concatenation of objects (the streaming
    convention); odd shards additionally wrap in a zstd frame
    (``.msgpack.zst`` — the MosaicML/Redis-lineage staging wire) so one
    fixture exercises both. Safe to sniff on read: a top-level fixmap
    byte (0x8x) cannot collide with the zstd or gzip magics. One
    applyInPandas per shard group — the grouping shuffle IS the shard
    assignment."""
    from yark_spark.operators import msgpack as _mp
    from yark_spark.operators import containers as _cont

    _enc = _mp.msgpack_encode
    _zst = _cont.zstd_compress_member

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        blob = b"".join(
            _enc({"id": int(did), "text": t})
            for did, t in zip(pdf[id_col], pdf[text_col])
        )
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        if sid % 2:
            blob = _zst(blob)
        return pd.DataFrame({"shard_id": [sid], "payload": [blob]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def msgpack_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode ``.msgpack`` / ``.msgpack.zst`` shards back into
    per-document rows (round 12): magic-dispatched decompression
    (decompress_auto), a single linear walk over the concatenated
    top-level objects, and the md5 digest of each text so one SQL hash
    certifies codec + stream framing end to end. Map-only mapInPandas;
    one task walks one shard sequentially, the object-store access
    pattern."""
    from yark_spark.operators import msgpack as _mp
    from yark_spark.operators import containers as _cont

    _stream = _mp.msgpack_stream_decode
    _auto = _cont.decompress_auto

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, sids, ns, digs = [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                raw = _auto(bytes(p), max_output=256 << 20)
                for obj in _stream(raw):
                    text = obj["text"]
                    dids.append(int(obj["id"]))
                    sids.append(int(sid))
                    ns.append(len(text))
                    digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, JSONL_ZST_SCHEMA
    )


def with_aiff_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", rate: int = 8000
) -> DataFrame:
    """Deterministic AIFF fixture column (round 12): the SAME samples
    as ``with_wav_payload`` / ``with_flac_payload`` (md5 hex ascii
    codes tiled 8× → 256) encoded big-endian by the from-scratch IFF-85
    container (operators/aiff) with the 80-bit extended-precision
    sample rate — lossless, so the analytic WAV oracle pins the whole
    big-endian container + extended-float parse unchanged. Map-only
    mapInPandas."""
    from yark_spark.operators import aiff as _aiff_mod

    _encode = _aiff_mod.encode_aiff

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        for pdf in batches:
            payloads = [
                _encode(
                    [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()] * 8,
                    rate=rate,
                )
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _enc,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def with_zip_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
    method_cycle: str = "pair",
) -> DataFrame:
    """Pack documents into ``.zip`` shards (round 12): each doc one
    ``{doc_id}.txt`` member, with the compression method CYCLED stored
    (even doc_ids) / deflate (odd) so one fixture pins both member
    wires AND the central-directory bookkeeping for mixed-method
    archives — the Kaggle/benchmark-release drop shape.
    ``method_cycle='full'`` (round 14 s3) widens to doc_id % 5 over
    stored/deflate/bzip2/lzma/zstd — the three extended methods
    (APPNOTE 12/14 + PKWARE 93) through the in-repo codecs. One
    applyInPandas per shard group — the grouping shuffle IS the shard
    assignment."""
    from yark_spark.operators import zip_archive as _zipmod

    _build_zip = _zipmod.zip_build

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        members, methods = [], []
        for did, t in zip(pdf[id_col], pdf[text_col]):
            members.append((f"{int(did)}.txt", t.encode("utf-8")))
            if method_cycle == "full":
                methods.append([0, 8, 12, 14, 93][int(did) % 5])
            else:
                methods.append(0 if int(did) % 2 == 0 else 8)
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        return pd.DataFrame(
            {"shard_id": [sid], "payload": [_build_zip(members, methods=methods)]}
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


def zip_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode ``.zip`` shards back into per-document rows (round 12):
    EOCD backward scan → central directory walk → local-header
    cross-check → stored slice or DEFLATE inflate → per-member CRC-32
    verify, emitting the method (stored/deflate) and the md5 digest of
    each member so one SQL hash certifies the whole archive grammar
    plus both member wires. Map-only mapInPandas; one task reads one
    archive, and the central directory means a cluster reader could
    range-request single members — the random-access property tar
    lacks."""
    from yark_spark.operators import containers as _cont_mod
    from yark_spark.operators import zip_archive as _zipmod

    _parse = _zipmod.zip_members

    _member_id = _cont_mod.member_doc_id

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, sids, methods, ns, digs = [], [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                for name, method, data in _parse(bytes(p), max_output=256 << 20):
                    # leading-digits member key; None for odd names
                    # (README, checksums) instead of failing the shard
                    dids.append(_member_id(name))
                    sids.append(int(sid))
                    methods.append(
                        {0: "stored", 8: "deflate", 12: "bzip2",
                         14: "lzma", 93: "zstd"}.get(method, str(method))
                    )
                    ns.append(len(data.decode("utf-8")))
                    digs.append(_hashlib.md5(data).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(dids, dtype="Int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "method": methods,
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("shard_id", LongType()),
                StructField("method", StringType()),
                StructField("n_chars", IntegerType()),
                StructField("digest", StringType()),
            ]
        ),
    )


EXIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orientation", IntegerType()),
        StructField("lat_deg", IntegerType()),
        StructField("lon_deg", IntegerType()),
        StructField("has_gps", BooleanType()),
        StructField("gps_after_strip", BooleanType()),
        StructField("mean_pixel", DoubleType()),
    ]
)


def with_exif_jpeg_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic EXIF-bearing JPEG fixture (round 12): the 16x16
    quadrant-gray q100 JPEG with a real APP1 Exif block inserted after
    SOI — orientation 1+(a%8), and (on doc_id % 3 != 0) a GPS sub-IFD
    at (b%90, d%180) whole degrees with hemisphere refs from c/a
    parity; doc_id % 3 == 0 images carry Exif WITHOUT GPS, so the
    extraction's null path and the redaction's no-op path are both on
    the fixture. Map-only mapInPandas."""
    from yark_spark.operators import exif as _exif_mod
    from yark_spark.operators import jpeg as _jpeg_mod

    _enc, _build, _insert = (
        _jpeg_mod.encode_jpeg,
        _exif_mod.exif_build,
        _exif_mod.jpeg_insert_app1,
    )

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np

        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                vals = [ord(c) for c in _hashlib.md5(t.encode("utf-8")).hexdigest()[:4]]
                a, b, c, d = vals
                img = _np.empty((16, 16), dtype=_np.uint8)
                img[:8, :8] = a
                img[:8, 8:] = b
                img[8:, :8] = c
                img[8:, 8:] = d
                gps = None
                if int(did) % 3 != 0:
                    lat = (b % 90) * (1 if c % 2 == 0 else -1)
                    lon = (d % 180) * (1 if a % 2 == 0 else -1)
                    gps = (float(lat), float(lon))
                app1 = _build(orientation=1 + a % 8, gps=gps)
                payloads.append(_insert(_enc(img, quality=100), app1))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def exif_gps_redaction_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """EXIF extraction + GPS-PII redaction proof (round 12): parse the
    APP1/IFD grammar (orientation + GPS whole degrees), run exif_strip,
    re-parse to prove no GPS survives, and decode the STRIPPED image's
    pixels — one row certifies extraction, redaction completeness and
    pixel preservation together (the image-side twin of the text PII
    pass). Map-only mapInPandas; bytes never shuffle."""
    from yark_spark.operators import exif as _exif_mod
    from yark_spark.operators import jpeg as _jpeg_mod

    _parse, _strip = _exif_mod.exif_parse, _exif_mod.exif_strip
    _decode = _jpeg_mod.decode_jpeg

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            oris, lats, lons, has, after, means = [], [], [], [], [], []
            for p in pdf[payload_col]:
                jpeg = bytes(p)
                meta = _parse(jpeg)
                stripped = _strip(jpeg)
                meta_after = _parse(stripped)
                arr = _decode(stripped)
                oris.append(int(meta.get("orientation", 0)))
                lats.append(meta.get("gps_lat_deg"))
                lons.append(meta.get("gps_lon_deg"))
                has.append("gps_lat_deg" in meta)
                after.append("gps_lat_deg" in meta_after)
                means.append(float(np.mean(arr, dtype=np.float64)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "orientation": np.array(oris, dtype="int32"),
                    "lat_deg": pd.array(lats, dtype="Int32"),
                    "lon_deg": pd.array(lons, dtype="Int32"),
                    "has_gps": has,
                    "gps_after_strip": after,
                    "mean_pixel": np.floor(
                        np.array(means, dtype="float64") * 1e6 + 0.5
                    )
                    / 1e6,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, EXIF_SCHEMA
    )


SUBTITLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_cues", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("speech_ms", IntegerType()),
        StructField("digest", StringType()),
    ]
)

_CUE_WORDS, _CUE_GAP_MS, _CUE_LEN_MS = 4, 200, 1500


def with_subtitle_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fmt: str = "srt",
) -> DataFrame:
    """Deterministic subtitle fixture (round 12): the document's words
    become caption cues — one cue per 4 words, 1500 ms speech + 200 ms
    gap — serialized as SubRip (``fmt='srt'``, comma milliseconds) or
    WebVTT (``fmt='vtt'``, period milliseconds, cue ids, a NOTE block
    and cue settings on the wire to exercise the grammar). Map-only
    mapInPandas."""
    from yark_spark.operators import subtitles as _sub_mod

    _srt, _vtt = _sub_mod.srt_build, _sub_mod.vtt_build
    if fmt not in ("srt", "vtt"):
        raise ValueError(f"subtitle fixture: unknown format {fmt!r}")

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                words = t.split()
                cues = []
                for k in range(0, len(words), _CUE_WORDS):
                    start = (k // _CUE_WORDS) * (_CUE_LEN_MS + _CUE_GAP_MS)
                    cues.append(
                        (start, start + _CUE_LEN_MS, " ".join(words[k : k + _CUE_WORDS]))
                    )
                if fmt == "srt":
                    payloads.append(_srt(cues))
                else:
                    # exercise the VTT-only grammar: ids + a NOTE block
                    body = _vtt(cues, with_ids=True)
                    payloads.append(
                        body.replace(
                            "WEBVTT\n", "WEBVTT - fixture track\n\nNOTE generated\n", 1
                        )
                    )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _build,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", StringType())]
        ),
    )


def subtitle_features(
    df: DataFrame,
    source: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Parse a subtitle column (SRT or VTT by ``source``) and emit the
    transcript statistics a caption-quality filter uses: cue count,
    track duration (last cue end), total speech time, and the md5 of
    the space-joined recovered transcript — the digest certifies cue
    order, payload recovery and the timestamp grammar at once.
    Map-only mapInPandas; transcripts never shuffle."""
    from yark_spark.operators import subtitles as _sub_mod

    _parse = _sub_mod.srt_parse if source == "srt" else _sub_mod.vtt_parse

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ncs, durs, spks, digs = [], [], [], []
            for p in pdf[payload_col]:
                cues = _parse(str(p))
                transcript = " ".join(text for _s, _e, text in cues)
                ncs.append(len(cues))
                durs.append(cues[-1][1] if cues else 0)
                spks.append(sum(e - s for s, e, _t in cues))
                digs.append(_hashlib.md5(transcript.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "source": source,
                    "n_cues": np.array(ncs, dtype="int32"),
                    "duration_ms": np.array(durs, dtype="int32"),
                    "speech_ms": np.array(spks, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, SUBTITLE_SCHEMA
    )


def with_mbox_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Pack documents into mbox shards (round 12): each doc one RFC
    5322 message (From/Subject/X-Doc-Id headers — Subject long enough
    to FOLD, exercising unfold on read) with the transfer encoding
    cycled 7bit / quoted-printable / base64 by doc_id % 3, concatenated
    with mboxrd From-quoting — the Enron-corpus / mailing-list-archive
    wire. One applyInPandas per shard group."""
    from yark_spark.operators import mime as _mime_mod

    _build_msg, _build_box = _mime_mod.message_build, _mime_mod.mbox_build
    _encodings = ("7bit", "quoted-printable", "base64")

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        msgs = []
        for did, t in zip(pdf[id_col], pdf[text_col]):
            did = int(did)
            msgs.append(
                _build_msg(
                    [
                        ("From", "archive@example.org"),
                        ("Subject", f"document {did} " + "retention notice " * 8),
                        ("X-Doc-Id", str(did)),
                    ],
                    t,
                    encoding=_encodings[did % 3],
                )
            )
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        return pd.DataFrame({"shard_id": [sid], "payload": [_build_box(msgs)]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", StringType()),
                ]
            ),
        )
    )


def mbox_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode mbox shards back into per-message rows (round 12):
    From-separator walk with mboxrd unquoting, header unfold, transfer
    decoding (7bit / quoted-printable / base64 — declared by the
    Content-Transfer-Encoding header, as mail requires), and the md5
    digest of the decoded body so one SQL hash certifies the container
    + header grammar + all three encodings. Map-only mapInPandas."""
    from yark_spark.operators import mime as _mime_mod

    _split, _parse = _mime_mod.mbox_messages, _mime_mod.message_parse

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, sids, encs, ns, digs = [], [], [], [], []
            for sid, p in zip(pdf[shard_col], pdf[payload_col]):
                for raw in _split(str(p)):
                    headers, body = _parse(raw)
                    dids.append(int(headers["x-doc-id"]))
                    sids.append(int(sid))
                    encs.append(headers.get("content-transfer-encoding", "7bit"))
                    ns.append(len(body))
                    digs.append(_hashlib.md5(body.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "shard_id": np.array(sids, dtype="int64"),
                    "encoding": encs,
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("shard_id", LongType()),
                StructField("encoding", StringType()),
                StructField("n_chars", IntegerType()),
                StructField("digest", StringType()),
            ]
        ),
    )


ROBOTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url_path", StringType()),
        StructField("allowed", BooleanType()),
        StructField("matched_rule", StringType()),
    ]
)


def robots_url_filter(
    df: DataFrame,
    robots_text: str,
    agent: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RFC 9309 crawl-policy filter (round 12): derive each document's
    URL path ('/' + first word + '/' + second word — the fixture
    convention the oracle mirrors with split_part), evaluate the
    robots.txt policy for ``agent`` (group selection, wildcard rules,
    longest-match precedence with Allow beating Disallow on ties) and
    emit the verdict plus the winning rule. The policy is parsed ONCE
    per task and is broadcast-sized — at 100 TB the per-host policy
    table is the broadcast side of the URL join. Map-only
    mapInPandas."""
    from yark_spark.operators import robots as _robots_mod

    _parse, _select, _decide = (
        _robots_mod.parse_robots,
        _robots_mod.rules_for_agent,
        _robots_mod.robots_decision,
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rules = _select(_parse(robots_text), agent)
        for pdf in batches:
            paths, alloweds, matched = [], [], []
            for t in pdf[text_col]:
                words = t.split()
                w1 = words[0] if words else ""
                w2 = words[1] if len(words) > 1 else ""
                path = f"/{w1}/{w2}"
                ok, rule = _decide(rules, path)
                paths.append(path)
                alloweds.append(ok)
                matched.append(rule)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "url_path": paths,
                    "allowed": alloweds,
                    "matched_rule": matched,
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _extract, ROBOTS_SCHEMA
    )


NOTEBOOK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_cells", IntegerType()),
        StructField("n_code", IntegerType()),
        StructField("n_markdown", IntegerType()),
        StructField("digest", StringType()),
    ]
)

_NB_CELL_WORDS = 6


def with_ipynb_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic .ipynb fixture (round 12): the document's words
    packed into alternating markdown/code cells (6 words each; even
    cells use the list-of-lines source form, odd the single-string
    form — both legal on real disks), with noisy stream outputs and
    execution counts on every code cell that extraction MUST strip.
    Map-only mapInPandas."""
    from yark_spark.operators import notebook as _nb_mod

    _build = _nb_mod.ipynb_build

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                words = t.split()
                cells = []
                for k in range(0, len(words), _NB_CELL_WORDS):
                    cell_type = "markdown" if (k // _NB_CELL_WORDS) % 2 == 0 else "code"
                    cells.append((cell_type, " ".join(words[k : k + _NB_CELL_WORDS])))
                payloads.append(_build(cells))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", StringType())]
        ),
    )


def ipynb_source_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Notebook source extraction (round 12): parse the nbformat-4
    model, normalize both source forms, STRIP outputs (the curation
    stance — printed rows are PII surface), and emit per-notebook cell
    counts plus the md5 of the space-joined recovered source — one
    hash pins cell order, form normalization and output stripping.
    Map-only mapInPandas."""
    from yark_spark.operators import notebook as _nb_mod

    _parse = _nb_mod.ipynb_cells

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ncs, ncode, nmd, digs = [], [], [], []
            for p in pdf[payload_col]:
                cells = _parse(str(p))
                text = " ".join(src for _t, src in cells)
                ncs.append(len(cells))
                ncode.append(sum(1 for t, _s in cells if t == "code"))
                nmd.append(sum(1 for t, _s in cells if t == "markdown"))
                digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_cells": np.array(ncs, dtype="int32"),
                    "n_code": np.array(ncode, dtype="int32"),
                    "n_markdown": np.array(nmd, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, NOTEBOOK_SCHEMA
    )


def with_markdown_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic markdown fixture (round 12): the document's words
    wrapped in README-shaped markup — ATX header with trailing-#
    close, strong/emphasis/inline-code/link/image-alt rotation, list
    items, blockquotes, fenced code blocks with info strings, plus
    droppable noise (HTML comment, autolink, thematic break) — built
    so md_to_text recovers the exact word stream. Map-only
    mapInPandas."""
    from yark_spark.operators import markdown as _md_mod

    _fixture = _md_mod.md_page_fixture

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [_fixture(t.split()) for t in pdf[text_col]]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", StringType())]
        ),
    )


def markdown_extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Markdown text recovery (round 12): strip the markup
    (operators/markdown — the documentation half of a code corpus,
    beside the HTML extractor's crawled-web half) and emit (n_chars,
    md5 digest) of the recovered text — the GUNZIP_SCHEMA digest
    recipe on the markup axis. Map-only mapInPandas."""
    from yark_spark.operators import markdown as _md_mod

    _strip = _md_mod.md_to_text

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                text = _strip(str(p))
                ns.append(len(text))
                digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_docx_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic .docx fixture (round 12): the document's words
    packed five per paragraph, each paragraph split into two runs (the
    second carrying xml:space='preserve' + run properties that must
    not leak), XML entities live when the text contains specials.
    Map-only mapInPandas."""
    from yark_spark.operators import docx as _docx_mod

    _build = _docx_mod.docx_build

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                words = t.split()
                paras = []
                for k in range(0, len(words), 5):
                    chunk = words[k : k + 5]
                    mid = max(1, len(chunk) // 2)
                    tail = " " + " ".join(chunk[mid:]) if chunk[mid:] else ""
                    paras.append([" ".join(chunk[:mid]), tail])
                payloads.append(_build(paras))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def docx_extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """DOCX text recovery (round 12): ZIP grammar → word/document.xml
    → WordprocessingML walk → text, emitting (n_chars, md5 digest) —
    one hash certifying the EOCD/central-directory/DEFLATE layer AND
    the XML run/paragraph/entity layer together (the E98' composition
    recipe on the office wire). Map-only mapInPandas."""
    from yark_spark.operators import docx as _docx_mod

    _extract_text = _docx_mod.docx_to_text

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                text = _extract_text(bytes(p))
                ns.append(len(text))
                digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_pdf_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    layout: str = "classic",
    filters: str = "flate_odd",
    fonts: str = "simple",
) -> DataFrame:
    """Deterministic PDF fixture (round 12): the document's words
    become 6-word text lines, 5 lines per page, multi-page documents
    with odd pages' content streams Flate-compressed (indirect
    /Length objects on the wire) and the text rotated through the
    Tj / kerned-TJ / ' show forms. ``layout='cycle'`` (round 13)
    alternates per doc between the classic xref TABLE and the PDF 1.5
    xref-STREAM + /ObjStm layout, so one oracle digest pins both
    cross-reference grammars. Map-only mapInPandas.
    ``filters='cycle'`` (round 13) rotates the CLASSIC layout's
    content-stream /Filter through the full §7.4 family per page —
    none / Flate / LZW / RunLength / ASCIIHex / [A85→Flate chain] /
    LZW with /EarlyChange 0 — so the digest pins every filter
    decoder. ``fonts='cycle'`` (round 14, classic layout only)
    rotates each DOC's font arrangement through doc_id % 4 — simple
    latin-1 Helvetica / a /ToUnicode-CMap'd scrambled font (codes =
    byte XOR 0x80, bfchar + both bfrange forms) / an /Encoding
    /Differences remap over /BaseEncoding /WinAnsiEncoding (AGL and
    uniXXXX names alternating) / an /Identity-H Type0 CID font with
    2-byte codes — so the digest pins every glyph-to-Unicode path."""
    from yark_spark.operators import pdf as _pdf_mod

    if layout not in ("classic", "cycle"):
        raise ValueError(f"pdf fixture: unknown layout {layout!r}")
    if filters not in ("flate_odd", "cycle"):
        raise ValueError(f"pdf fixture: unknown filter mode {filters!r}")
    if filters == "cycle" and layout != "classic":
        raise ValueError("pdf fixture: filter cycling is classic-layout only")
    if fonts not in ("simple", "cycle"):
        raise ValueError(f"pdf fixture: unknown font mode {fonts!r}")
    if fonts == "cycle" and (layout != "classic" or filters != "flate_odd"):
        raise ValueError("pdf fixture: font cycling is classic flate-odd only")
    _build = _pdf_mod.pdf_build
    _cycle = layout == "cycle"
    _filters = filters
    _font_modes = ("simple", "tounicode", "differences", "cid")
    _fonts = fonts

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            payloads = []
            for did, t in zip(pdf_batch[id_col], pdf_batch[text_col]):
                words = t.split()
                lines = [" ".join(words[k : k + 6]) for k in range(0, len(words), 6)]
                pages = [lines[p : p + 5] for p in range(0, len(lines), 5)]
                payloads.append(
                    _build(
                        pages or [[""]],
                        xref_stream=_cycle and int(did) % 2 == 1,
                        content_filters=_filters,
                        font_mode=(
                            _font_modes[int(did) % 4]
                            if _fonts == "cycle"
                            else "simple"
                        ),
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf_batch[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def pdf_extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """PDF text recovery (round 12): startxref → classic xref table →
    page-tree walk → content streams (FlateDecode through the in-repo
    zlib) → text-operator walk (Tj/TJ/'/line moves), emitting
    (n_chars, md5 digest) of the recovered text — the largest
    "documents" vertical of web crawls under the extraction family's
    one-hash certificate. Map-only mapInPandas."""
    from yark_spark.operators.pdf import pdf_text as _extract_text

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf_batch in batches:
            ns, digs = [], []
            for p in pdf_batch[payload_col]:
                text = _extract_text(bytes(p))
                ns.append(len(text))
                digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf_batch[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_latex_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic .tex fixture (round 14): the document's words in
    12-word paragraphs through latex_build — preamble noise, a
    section family every third paragraph, styling wraps / trailing
    comments / math noise cycling, an itemize block, a verbatim block
    — so the digest pins the whole detex pass. Map-only
    mapInPandas."""
    from yark_spark.operators import latex as _latex_mod

    _build = _latex_mod.latex_build

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                words = t.split()
                paras = [
                    " ".join(words[k : k + 12]) for k in range(0, len(words), 12)
                ] or [""]
                payloads.append(_build(paras))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def latex_extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """LaTeX text recovery (round 14): body isolation → comment/math
    stripping → command unwrapping → escape resolution
    (operators/latex), emitting (n_chars, md5 digest) of the
    recovered text. Map-only mapInPandas."""
    from yark_spark.operators.latex import latex_text as _extract_text

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                text = _extract_text(bytes(p))
                ns.append(len(text))
                digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


def with_epub_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic .epub fixture (round 12): the document's words in
    20-word XHTML chapters (full pages with style-RAWTEXT traps),
    chapter FILES written in reversed zip order while the OPF spine
    lists reading order — a reader that walks the zip instead of the
    spine fails the digest. Map-only mapInPandas."""
    from yark_spark.operators import epub as _epub_mod

    _build = _epub_mod.epub_build

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                words = t.split()
                chapters = [
                    " ".join(words[k : k + 20]) for k in range(0, len(words), 20)
                ] or [""]
                payloads.append(_build(chapters))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def epub_extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """EPUB text recovery (round 12): OCF walk (stored-first mimetype
    verified) → container.xml → OPF manifest/spine → chapters in
    READING order → the HTML tag state machine — THREE from-scratch
    layers (ZIP grammar, OPF XML, HTML RAWTEXT machine) under one
    digest, the deepest composition in the extraction family.
    Map-only mapInPandas."""
    from yark_spark.operators import epub as _epub_mod

    _extract_text = _epub_mod.epub_to_text

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ns, digs = [], []
            for p in pdf[payload_col]:
                text = _extract_text(bytes(p))
                ns.append(len(text))
                digs.append(_hashlib.md5(text.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, GUNZIP_SCHEMA
    )


PARQUET_FOOTER_SCHEMA = StructType(
    [
        StructField("row_group_id", LongType()),
        StructField("row_group_num_rows", LongType()),
        StructField("column_id", LongType()),
        StructField("path_in_schema", StringType()),
        StructField("type", StringType()),
        StructField("num_values", LongType()),
        StructField("compression", StringType()),
        StructField("data_page_offset", LongType()),
        StructField("total_compressed_size", LongType()),
        StructField("total_uncompressed_size", LongType()),
    ]
)


def parquet_footer_listing(df: DataFrame, payload_col: str = "content") -> DataFrame:
    """Parquet footer audit (round 12): parse each file's PAR1 trailer
    + Thrift-compact FileMetaData from scratch (operators/parquet_meta)
    and emit one row per (row group, column chunk) — the
    parquet_metadata() differential shape. This is the planning
    surface a 100 TB lake's layout/compaction/shard tooling reads;
    map-only over binaryFile rows, and at scale only the FOOTER bytes
    need fetching (a range request per object). Map-only
    mapInPandas."""
    from yark_spark.operators import parquet_meta as _pm

    _rows = _pm.footer_rows

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = [f.name for f in PARQUET_FOOTER_SCHEMA.fields]
        for pdf in batches:
            acc: dict[str, list] = {c: [] for c in cols}
            for p in pdf[payload_col]:
                for r in _rows(bytes(p)):
                    for c in cols:
                        acc[c].append(r[c])
            out = {}
            for c in cols:
                if c in ("path_in_schema", "type", "compression"):
                    out[c] = acc[c]
                else:
                    out[c] = np.array(acc[c], dtype="int64")
            yield pd.DataFrame(out)

    return df.select(F.col(payload_col)).mapInPandas(
        _extract, PARQUET_FOOTER_SCHEMA
    )


#: Output schema of parquet_documents_scan.
PARQUET_RAW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("n_chars", LongType()),
        StructField("digest", StringType()),
    ]
)


def parquet_documents_scan(df: DataFrame, payload_col: str = "content") -> DataFrame:
    """From-scratch parquet DATA read (round 13): decode the documents
    table's (doc_id, lang, n_chars, text) columns from the raw file
    bytes through operators/parquet_data — Thrift page headers, the
    in-repo SNAPPY/GZIP/ZSTD codecs, RLE/bit-packed definition levels,
    PLAIN + RLE_DICTIONARY values with mid-chunk dictionary fallback —
    and emit one row per document with md5(text) as the value
    certificate. The oracle is DuckDB's C++ reader over the SAME
    file, so every hybrid run boundary, level weave and dictionary
    index must agree row-for-row with an unrelated implementation.
    At 100 TB the unit of work is (file, row group) with ranged
    fetches; per-file map-only here, bytes never shuffle."""
    from yark_spark.operators import parquet_data as _pdata

    _read = _pdata.parquet_read_columns

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            ids, langs, ns, digs = [], [], [], []
            for p in pdf[payload_col]:
                cols = _read(bytes(p), ["doc_id", "lang", "n_chars", "text"])
                ids.extend(cols["doc_id"])
                langs.extend(cols["lang"])
                ns.extend(cols["n_chars"])
                digs.extend(
                    _hashlib.md5(t.encode("utf-8")).hexdigest()
                    for t in cols["text"]
                )
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "lang": langs,
                    "n_chars": np.array(ns, dtype="int64"),
                    "digest": digs,
                }
            )

    return df.select(F.col(payload_col)).mapInPandas(_extract, PARQUET_RAW_SCHEMA)


def with_parquet_codec_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Pack documents into parquet shards WRITTEN BY THE REAL LIBRARY
    (pyarrow's parquet-cpp), page compression cycling BROTLI / LZ4
    (LZ4_RAW wire ids) / ZSTD / GZIP / SNAPPY per shard — third-party
    wire for every codec the from-scratch reader dispatches, including
    the two round-14 additions. BROTLI pages from real parquet-cpp
    carry static-dictionary references and context modeling, so this
    fixture drives the extracted RFC 7932 tables on genuine wire. One
    applyInPandas per shard group — the grouping shuffle IS the shard
    assignment."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import io as _io

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        pdf = pdf.sort_values(id_col)
        t = _pa.table(
            {
                "doc_id": _pa.array([int(v) for v in pdf[id_col]], _pa.int64()),
                "text": _pa.array(list(pdf[text_col])),
            }
        )
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        comp = ["BROTLI", "LZ4", "ZSTD", "GZIP", "SNAPPY"][sid % 5]
        buf = _io.BytesIO()
        _pq.write_table(t, buf, compression=comp, use_dictionary=(sid % 2 == 0))
        return pd.DataFrame({"shard_id": [sid], "payload": [buf.getvalue()]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


PARQUET_CODEC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("codec", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def parquet_codec_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode real-library parquet shards with the from-scratch reader
    and emit each row with the codec label taken FROM THE FOOTER WE
    PARSED (so a hash match proves the declared codec was really
    dispatched and really reversed). Map-only mapInPandas; one task
    decodes one shard — the (file, row group) unit of a 100 TB scan."""
    from yark_spark.operators import parquet_data as _pdata
    from yark_spark.operators import parquet_meta as _pm

    _read = _pdata.parquet_read_columns
    _footer = _pm.parquet_footer

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for pdf in batches:
            ids, codecs, ns, digs = [], [], [], []
            for p in pdf[payload_col]:
                blob = bytes(p)
                ft = _footer(blob)
                codec = ft["row_groups"][0]["columns"][0]["codec"]
                cols = _read(blob, ["doc_id", "text"])
                for did, t in zip(cols["doc_id"], cols["text"]):
                    ids.append(int(did))
                    codecs.append(codec)
                    ns.append(len(t))
                    digs.append(_h.md5(t.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "codec": codecs,
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, PARQUET_CODEC_SCHEMA
    )


def with_arrow_ipc_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
) -> DataFrame:
    """Pack documents into Arrow IPC shards WRITTEN BY THE REAL
    LIBRARY (pyarrow), cycling layout × codec per shard: file/none,
    file/lz4, file/zstd, stream/none, stream/zstd — the interchange
    wire ML pipelines hand between engines. One applyInPandas per
    shard group."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import io as _io

        import pyarrow as _pa
        import pyarrow.ipc as _ipc

        pdf = pdf.sort_values(id_col)
        t = _pa.table(
            {
                "doc_id": _pa.array([int(v) for v in pdf[id_col]], _pa.int64()),
                "text": _pa.array(list(pdf[text_col])),
            }
        )
        sid = int(pdf[id_col].iloc[0]) // docs_per_shard
        layout, comp = [
            ("file", None),
            ("file", "lz4"),
            ("file", "zstd"),
            ("stream", None),
            ("stream", "zstd"),
        ][sid % 5]
        buf = _io.BytesIO()
        opts = _ipc.IpcWriteOptions(compression=comp)
        opener = _ipc.new_file if layout == "file" else _ipc.new_stream
        with opener(buf, t.schema, options=opts) as w:
            w.write_table(t, max_chunksize=7)  # several batches per shard
        return pd.DataFrame({"shard_id": [sid], "payload": [buf.getvalue()]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_shard).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("shard_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


ARROW_IPC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("wire", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def arrow_ipc_listing(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode Arrow IPC shards with the from-scratch reader
    (operators/arrow_ipc: flatbuffer vtables, encapsulated messages,
    validity bitmaps, offset buffers, per-buffer LZ4-frame/zstd
    decompression) and digest each row; the wire label derives from
    the MAGIC we parsed, so a hash match proves both layouts really
    decoded. Map-only mapInPandas."""
    from yark_spark.operators import arrow_ipc as _aipc

    _file_read = _aipc.arrow_file_read
    _stream_read = _aipc.arrow_stream_read

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for pdf in batches:
            ids, wires, ns, digs = [], [], [], []
            for p in pdf[payload_col]:
                blob = bytes(p)
                if blob[:6] == b"ARROW1":
                    wire = "file"
                    cols = _file_read(blob, ["doc_id", "text"])
                else:
                    wire = "stream"
                    cols = _stream_read(blob, ["doc_id", "text"])
                for did, t in zip(cols["doc_id"], cols["text"]):
                    ids.append(int(did))
                    wires.append(wire)
                    ns.append(len(t))
                    digs.append(_h.md5(t.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "wire": wires,
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, ARROW_IPC_SCHEMA
    )


def arrow_ipc_write_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Arrow IPC WRITER certificate (round 14 s3 second pass): each
    16-doc shard is serialized by the FROM-SCRATCH writer
    (operators/arrow_ipc: hand-built flatbuffer vtables, encapsulated
    messages, 8-byte-aligned buffer layout, per-buffer lz4-frame/zstd
    compression) cycling layout × codec, and decoded INSIDE this
    fixture by REAL pyarrow — the trusted reader — so the oracle hash
    pins our wire byte-semantics end to end. The reverse lane (our
    reader over pyarrow wire) is q_arrow_ipc_scan. Map-only."""
    from yark_spark.operators import arrow_ipc as _aipc

    _fwrite = _aipc.arrow_file_write
    _swrite = _aipc.arrow_stream_write

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import io as _io

        import numpy as np
        import pyarrow.ipc as _ipc

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        sid = ids[0] // 16
        layout, comp = [
            ("file", None),
            ("file", "lz4"),
            ("file", "zstd"),
            ("stream", None),
            ("stream", "zstd"),
        ][sid % 5]
        writer = _fwrite if layout == "file" else _swrite
        blob = writer(
            {"doc_id": ids, "text": texts}, compression=comp, batch_rows=7
        )
        opener = _ipc.open_file if layout == "file" else _ipc.open_stream
        t = opener(_io.BytesIO(blob)).read_all()
        out_ids = t.column("doc_id").to_pylist()
        out_texts = t.column("text").to_pylist()
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "wire": [layout] * len(out_ids),
                "n_chars": np.array([len(x) for x in out_texts], dtype="int32"),
                "digest": [
                    _h.md5(x.encode("utf-8")).hexdigest() for x in out_texts
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 16).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, ARROW_IPC_SCHEMA)
    )


ARROW_VECTOR_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("dim", IntegerType()),
        StructField("csum", LongType()),
        StructField("label", IntegerType()),
    ]
)


def arrow_ipc_vector_listing(df: DataFrame) -> DataFrame:
    """Embeddings through Arrow IPC (round 14 s3): vectors packed by
    pyarrow as ``list<float32>`` with a deterministic null grammar
    (vec_id%25: 13 → null row, 18 → empty list, 21 → null element at
    [3]), decoded by the from-scratch reader's list path — offsets
    buffer + child validity — and reduced to the integer-exact
    Σ floor(x·10⁶) checksum the ORC/parquet vector keys use. Zstd
    buffer compression on every shard. Map-only both stages."""
    from yark_spark.operators import arrow_ipc as _aipc

    _read = _aipc.arrow_file_read

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import io as _io
        import math as _math

        import numpy as np
        import pyarrow as _pa
        import pyarrow.ipc as _ipc

        pdf = pdf.sort_values("vec_id")
        vids = [int(v) for v in pdf["vec_id"]]
        labels = [int(v) for v in pdf["label"]]
        vecs = []
        for vid, emb in zip(vids, pdf["embedding"]):
            m = vid % 25
            if m == 13:
                vecs.append(None)
            elif m == 18:
                vecs.append([])
            elif m == 21:
                v = [float(x) for x in emb]
                v[3] = None
                vecs.append(v)
            else:
                vecs.append([float(x) for x in emb])
        t = _pa.table(
            {
                "vec_id": _pa.array(vids, _pa.int64()),
                "embedding": _pa.array(vecs, _pa.list_(_pa.float32())),
                "label": _pa.array(labels, _pa.int32()),
            }
        )
        buf = _io.BytesIO()
        with _ipc.new_file(
            buf, t.schema, options=_ipc.IpcWriteOptions(compression="zstd")
        ) as w:
            w.write_table(t, max_chunksize=9)
        cols = _read(buf.getvalue())
        out_i, out_d, out_c, out_l = [], [], [], []
        for vid, emb, lab in zip(cols["vec_id"], cols["embedding"], cols["label"]):
            if emb is None:
                out_i.append(vid)
                out_d.append(-1)
                out_c.append(0)
                out_l.append(-1)
                continue
            out_i.append(vid)
            out_d.append(len(emb))
            out_c.append(
                sum(
                    int(_math.floor(float(x) * 1000000))
                    for x in emb
                    if x is not None
                )
            )
            out_l.append(lab)
        return pd.DataFrame(
            {
                "vec_id": np.array(out_i, dtype="int64"),
                "dim": np.array(out_d, dtype="int32"),
                "csum": np.array(out_c, dtype="int64"),
                "label": np.array(out_l, dtype="int32"),
            }
        )

    return (
        df.select("vec_id", "embedding", "label")
        .groupBy(F.floor(F.col("vec_id") / 25).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, ARROW_VECTOR_SCHEMA)
    )


FEED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("entry_title", StringType()),
        StructField("link", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def with_feed_payload(
    df: DataFrame,
    fmt: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_feed: int = 16,
) -> DataFrame:
    """Deterministic web-feed fixture (round 12): 16 documents per
    feed as RSS 2.0 (``fmt='rss'`` — odd entries CDATA-wrapped, even
    entity-escaped) or Atom 1.0 (``fmt='atom'`` — link as attribute,
    RFC 3339 dates). One applyInPandas per feed group."""
    from yark_spark.operators import feeds as _feeds_mod

    _rss, _atom = _feeds_mod.rss_build, _feeds_mod.atom_build
    if fmt not in ("rss", "atom"):
        raise ValueError(f"feed fixture: unknown format {fmt!r}")

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        entries = [
            {
                "id": f"doc-{int(did)}",
                "title": f"document {int(did)}",
                "link": f"https://example.org/{int(did)}",
                "text": t,
                "date_rfc822": "Mon, 01 Jan 2024 00:00:00 GMT",
                "date_rfc3339": "2024-01-01T00:00:00Z",
            }
            for did, t in zip(pdf[id_col], pdf[text_col])
        ]
        fid = int(pdf[id_col].iloc[0]) // docs_per_feed
        payload = (
            _rss(f"feed {fid}", entries) if fmt == "rss" else _atom(f"feed {fid}", entries)
        )
        return pd.DataFrame({"feed_id": [fid], "payload": [payload]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / docs_per_feed).cast("long").alias("__s"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("feed_id", LongType()),
                    StructField("payload", StringType()),
                ]
            ),
        )
    )


def feed_listing(
    df: DataFrame, source: str, payload_col: str = "payload"
) -> DataFrame:
    """Explode feeds back into per-entry rows (round 12): parse the
    RSS or Atom grammar (per ``source``), recover doc_id from the
    entry id, and digest the entry text — the crawl-discovery wire
    under the family's one-hash certificate. Map-only mapInPandas."""
    from yark_spark.operators import feeds as _feeds_mod

    _parse = _feeds_mod.rss_parse if source == "rss" else _feeds_mod.atom_parse

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, titles, links, ns, digs = [], [], [], [], []
            for p in pdf[payload_col]:
                for e in _parse(str(p)):
                    dids.append(int(e["id"].split("-")[1]))
                    titles.append(e["title"])
                    links.append(e["link"])
                    ns.append(len(e["text"]))
                    digs.append(_hashlib.md5(e["text"].encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "source": source,
                    "entry_title": titles,
                    "link": links,
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(payload_col)).mapInPandas(_extract, FEED_SCHEMA)


MP3_SCAN_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("bitrate_kbps", IntegerType()),
        StructField("cbr", BooleanType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("id3_title", StringType()),
    ]
)

#: Layer III bitrate indices the fixture cycles (kbps 64/128/192/320).
_MP3_FIXTURE_INDICES = (5, 9, 11, 14)


def with_mp3_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic MP3 fixture (round 12): frame count = 10 + a % 20
    over the doc's first md5 code, bitrate index cycled 64/128/192/320
    kbps by doc_id % 4, 32 kHz (per-frame duration an exact 36 ms),
    ID3v2 junk prefix the scanner must skip, ID3v1 title carrying the
    doc id. Map-only mapInPandas."""
    from yark_spark.operators import mp3 as _mp3_mod

    _build = _mp3_mod.mp3_build

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        for pdf in batches:
            payloads = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                a = ord(_hashlib.md5(t.encode("utf-8")).hexdigest()[0])
                payloads.append(
                    _build(
                        10 + a % 20,
                        bitrate_index=_MP3_FIXTURE_INDICES[int(did) % 4],
                        rate_index=2,
                        title=f"doc {int(did)}",
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _make,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def mp3_scan_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """MP3 frame-header listing (round 12): walk the MPEG-1 Layer III
    headers (published bitrate/rate tables, padding-aware frame
    sizing), skip ID3v2, parse the ID3v1 title — duration/bitrate/tag
    triage WITHOUT psychoacoustic decode, the avi_scan stance on the
    dominant crawled-audio format. Map-only mapInPandas."""
    from yark_spark.operators import mp3 as _mp3_mod

    _scan = _mp3_mod.mp3_scan

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in
                    ("n_frames", "bitrate_kbps", "cbr", "sample_rate",
                     "duration_ms", "id3_title")}
            for p in pdf[payload_col]:
                m = _scan(bytes(p))
                for k in rows:
                    rows[k].append(m[k])
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_frames": np.array(rows["n_frames"], dtype="int32"),
                    "bitrate_kbps": pd.array(rows["bitrate_kbps"], dtype="Int32"),
                    "cbr": rows["cbr"],
                    "sample_rate": np.array(rows["sample_rate"], dtype="int32"),
                    "duration_ms": np.array(rows["duration_ms"], dtype="int32"),
                    "id3_title": rows["id3_title"],
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _extract, MP3_SCAN_SCHEMA
    )


SITEMAP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("loc", StringType()),
        StructField("lastmod", StringType()),
        StructField("priority", StringType()),
    ]
)


def with_sitemap_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    urls_per_map: int = 16,
) -> DataFrame:
    """Deterministic sitemap fixture (round 12): 16 URLs per <urlset>,
    loc carrying the doc id (with a query string so entity escaping is
    live), lastmod/priority derived from the id. One applyInPandas per
    sitemap group."""
    from yark_spark.operators import feeds as _feeds_mod

    _build = _feeds_mod.sitemap_build

    def _make(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        urls = [
            {
                "loc": f"https://example.org/doc/{int(did)}?src=map&v=1",
                "lastmod": f"2024-01-{(int(did) % 28) + 1:02d}",
                "priority": f"0.{int(did) % 10}",
            }
            for did in pdf[id_col]
        ]
        sid = int(pdf[id_col].iloc[0]) // urls_per_map
        return pd.DataFrame({"map_id": [sid], "payload": [_build(urls)]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / urls_per_map).cast("long").alias("__s"))
        .applyInPandas(
            _make,
            StructType(
                [
                    StructField("map_id", LongType()),
                    StructField("payload", StringType()),
                ]
            ),
        )
    )


def sitemap_listing(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Explode <urlset> sitemaps into per-URL rows (round 12): the
    third discovery wire beside robots (policy) and feeds (updates) —
    sitemaps enumerate what a site WANTS crawled; doc ids recover from
    the loc path. Map-only mapInPandas."""
    from yark_spark.operators import feeds as _feeds_mod

    _parse = _feeds_mod.sitemap_parse

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            dids, locs, mods, prios = [], [], [], []
            for p in pdf[payload_col]:
                for u in _parse(str(p)):
                    dids.append(int(u["loc"].split("/doc/")[1].split("?")[0]))
                    locs.append(u["loc"])
                    mods.append(u["lastmod"])
                    prios.append(u["priority"])
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "loc": locs,
                    "lastmod": mods,
                    "priority": prios,
                }
            )

    return df.select(F.col(payload_col)).mapInPandas(_extract, SITEMAP_SCHEMA)


# ---------------------------------------------------------------------------
# Iceberg v2 table snapshots (round 13, session 3)
# ---------------------------------------------------------------------------

ICEBERG_SNAPSHOT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("seq_added", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def with_iceberg_table_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Iceberg-v2 table fixture (round 13): every 32 docs become one
    table archive whose METADATA TREE exercises the full v2 resolution
    surface — two snapshots, manifest reuse with sequence-number
    inheritance (entries carry null sequence numbers and inherit the
    manifest-list's), a positional delete file killing p1 rows 0-3
    (docs 8-11), and an equality delete file naming docs 4, 5 AND
    doc 24: the first two sit in p0 (sequence 1 < 2, deleted), the
    third in p3 (sequence 2, NOT < 2 — the spec's strict inequality
    means it SURVIVES, and the oracle pins that). Layout:

      p0 docs 0-7, p1 8-15, p2 16-23  — snapshot 1, sequence 1
      p3 docs 24-31                   — snapshot 2, sequence 2
      pos-delete (p1, pos 0-3), eq-delete {4,5,24} — sequence 2

    Every file is in-repo wire: parquet via operators/parquet_write,
    manifests via operators/avro_ocf (deflate blocks), the tree via
    operators/containers tar. One applyInPandas per table group."""
    from yark_spark.operators import avro_ocf as _avro
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _abuild = _avro.avro_build
    _ml_schema = _ice.MANIFEST_LIST_SCHEMA
    _m_schema = _ice.MANIFEST_SCHEMA

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import json as _json

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        base = tid * 32

        def _pq(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        parts = [(f"data/p{k}.parquet", _pq(k * 8, k * 8 + 8)) for k in range(4)]
        pos_del = _write(
            {
                "file_path": ["data/p1.parquet"] * 4,
                "pos": [0, 1, 2, 3],
            },
            types={"file_path": "BYTE_ARRAY", "pos": "INT64"},
            codec="SNAPPY",
        )
        eq_del = _write(
            {"doc_id": [base + 4, base + 5, base + 24]},
            types={"doc_id": "INT64"},
            codec="SNAPPY",
        )

        def _entry(df_path, blob, content, nrec, eq_ids=None, seq=None):
            return {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": seq,  # null => inherit (v2)
                "file_sequence_number": seq,
                "data_file": {
                    "content": content,
                    "file_path": df_path,
                    "file_format": "PARQUET",
                    "record_count": nrec,
                    "file_size_in_bytes": len(blob),
                    "equality_ids": eq_ids,
                },
            }

        # manifest-1: p0,p1,p2 added at snapshot 1 (entries inherit).
        m1 = _abuild(
            _m_schema,
            [_entry(p, b, 0, 8) for p, b in parts[:3]],
            codec="deflate",
        )
        # manifest-2: p3 added at snapshot 2.
        m2 = _abuild(_m_schema, [_entry(*parts[3], 0, 8)], codec="deflate")
        # manifest-3 (deletes): positional + equality, snapshot 2.
        m3 = _abuild(
            _m_schema,
            [
                _entry("data/pos-del-0.parquet", pos_del, 1, 4),
                _entry("data/eq-del-0.parquet", eq_del, 2, 3, eq_ids=[1]),
            ],
            codec="deflate",
        )

        def _mf(path, blob, content, seq, snap, added, existing):
            return {
                "manifest_path": path,
                "manifest_length": len(blob),
                "partition_spec_id": 0,
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snap,
                "added_files_count": added,
                "existing_files_count": existing,
                "deleted_files_count": 0,
            }

        snap1_list = _abuild(
            _ml_schema,
            [_mf("metadata/m1.avro", m1, 0, 1, 1, 3, 0)],
            codec="deflate",
        )
        # snapshot 2 REUSES manifest-1 verbatim (inheritance keeps its
        # entries at sequence 1 because the list entry says 1).
        snap2_list = _abuild(
            _ml_schema,
            [
                _mf("metadata/m1.avro", m1, 0, 1, 1, 3, 0),
                _mf("metadata/m2.avro", m2, 0, 2, 2, 1, 0),
                _mf("metadata/m3.avro", m3, 1, 2, 2, 2, 0),
            ],
            codec="deflate",
        )
        meta = {
            "format-version": 2,
            "table-uuid": f"00000000-0000-0000-0000-{tid:012d}",
            "location": f"tbl-{tid}",
            "last-sequence-number": 2,
            "current-snapshot-id": 2,
            "current-schema-id": 0,
            "schemas": [
                {
                    "schema-id": 0,
                    "type": "struct",
                    "fields": [
                        {
                            "id": 1,
                            "name": "doc_id",
                            "required": True,
                            "type": "long",
                        },
                        {
                            "id": 2,
                            "name": "text",
                            "required": True,
                            "type": "string",
                        },
                    ],
                }
            ],
            "snapshots": [
                {
                    "snapshot-id": 1,
                    "sequence-number": 1,
                    "timestamp-ms": 0,
                    "manifest-list": "metadata/snap-1.avro",
                    "summary": {"operation": "append"},
                },
                {
                    "snapshot-id": 2,
                    "sequence-number": 2,
                    "parent-snapshot-id": 1,
                    "timestamp-ms": 1,
                    "manifest-list": "metadata/snap-2.avro",
                    "summary": {"operation": "overwrite"},
                },
            ],
        }
        members = [
            ("metadata/v2.metadata.json", _json.dumps(meta).encode()),
            ("metadata/snap-1.avro", snap1_list),
            ("metadata/snap-2.avro", snap2_list),
            ("metadata/m1.avro", m1),
            ("metadata/m2.avro", m2),
            ("metadata/m3.avro", m3),
            ("data/pos-del-0.parquet", pos_del),
            ("data/eq-del-0.parquet", eq_del),
        ] + parts
        return pd.DataFrame({"table_id": [tid], "payload": [_tar(members)]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("table_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


ICEBERG_WRITE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("n_snapshots", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_write_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Iceberg table WRITING end-to-end (round 14, session 3 — the
    Iceberg twin of Delta's session-2 write loop): every 64 docs
    become a table built through operators/iceberg's COMMIT API —
    create, two append commits (two parquet files each, via the E133
    writer), then a delete commit carrying a positional delete (rows
    0-7 of p1 → docs 16-23) and an equality delete (doc base+40) —
    and the resulting metadata tree resolves back through the same
    module's reader: manifest entries are written with NULL sequence
    numbers so every read exercises v2 inheritance, prior manifests
    are reused verbatim across manifest lists, and the single current
    metadata JSON carries the full three-snapshot lineage. The oracle
    pins the delete semantics on the ORIGINAL documents table; commit
    arithmetic (lineage, reuse, time travel at each snapshot,
    metadata-log) is pinned in tests/test_iceberg_write.py. One
    applyInPandas per table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _rows = _ice.iceberg_snapshot_rows

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        base = tid * 64

        def _pq(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]
        m = _create(fields, location=f"tbl-{tid}")
        m, _s1 = _commit(
            m,
            data_files=[
                ("data/p0.parquet", _pq(0, 16), 16),
                ("data/p1.parquet", _pq(16, 32), 16),
            ],
        )
        m, _s2 = _commit(
            m,
            data_files=[
                ("data/p2.parquet", _pq(32, 48), 16),
                ("data/p3.parquet", _pq(48, 64), 16),
            ],
        )
        pos = _write(
            {"file_path": ["data/p1.parquet"] * 8, "pos": list(range(8))},
            types={"file_path": "BYTE_ARRAY", "pos": "INT64"},
            codec="SNAPPY",
        )
        eq = _write(
            {"doc_id": [base + 40]}, types={"doc_id": "INT64"}, codec="SNAPPY"
        )
        m, _s3 = _commit(
            m,
            delete_files=[
                {
                    "path": "data/del-pos.parquet",
                    "blob": pos,
                    "content": 1,
                    "record_count": 8,
                },
                {
                    "path": "data/del-eq.parquet",
                    "blob": eq,
                    "content": 2,
                    "record_count": 1,
                    "equality_ids": [1],
                },
            ],
        )
        import json as _json

        meta_name = next(n for n in m if n.endswith(".metadata.json"))
        n_snaps = len(_json.loads(m[meta_name])["snapshots"])
        rows = _rows(_tar(sorted(m.items())), ["doc_id", "text"])
        out_ids, out_n, out_d = [], [], []
        for _seq, r in rows:
            out_ids.append(int(r["doc_id"]))
            out_n.append(len(r["text"]))
            out_d.append(_h.md5(r["text"].encode("utf-8")).hexdigest())
        k = len(out_ids)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "n_snapshots": np.full(k, n_snaps, dtype="int32"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": out_d,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build, ICEBERG_WRITE_SCHEMA)
    )


ICEBERG_WRITE_PRUNE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("manifests_skipped", IntegerType()),
        StructField("files_skipped", IntegerType()),
        StructField("files_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_write_prune_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PARTITIONED Iceberg writes (round 14 s3 second pass): each
    64-doc table is created with a truncate[16](doc_id) spec and
    committed in TWO appends of two files each through
    iceberg_commit — which now emits partitioned manifests (dynamic
    partition record per spec) and manifest-list field summaries
    (lower/upper bounds at the transform's result width). The probe
    then plans through iceberg_partition_scan in SOURCE terms: one
    manifest never opened, one file never read, exactly one decoded —
    written tables must PRUNE exactly like read-side fixtures, or the
    write path isn't really Iceberg. Counters + rows pinned in the
    oracle. One applyInPandas per table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _scan = _ice.iceberg_partition_scan

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        base = tid * 64

        def _pq(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]
        spec = [
            {
                "name": "doc_trunc",
                "transform": "truncate[16]",
                "source-id": 1,
                "field-id": 1000,
            }
        ]
        m = _create(fields, location=f"tbl-{tid}", partition_spec=spec)
        m, _s1 = _commit(
            m,
            data_files=[
                ("data/p0.parquet", _pq(0, 16), 16, {"doc_trunc": base}),
                ("data/p1.parquet", _pq(16, 32), 16, {"doc_trunc": base + 16}),
            ],
        )
        m, _s2 = _commit(
            m,
            data_files=[
                ("data/p2.parquet", _pq(32, 48), 16, {"doc_trunc": base + 32}),
                ("data/p3.parquet", _pq(48, 64), 16, {"doc_trunc": base + 48}),
            ],
        )
        rows, cnt = _scan(
            _tar(sorted(m.items())), ["doc_id", "text"],
            source_value=base + 38,
        )
        k = len(rows)
        return pd.DataFrame(
            {
                "doc_id": np.array([r["doc_id"] for r in rows], dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "manifests_skipped": np.full(
                    k, cnt["manifests_skipped"], dtype="int32"
                ),
                "files_skipped": np.full(k, cnt["files_skipped"], dtype="int32"),
                "files_scanned": np.full(k, cnt["files_scanned"], dtype="int32"),
                "n_chars": np.array(
                    [len(r["text"]) for r in rows], dtype="int32"
                ),
                "digest": [
                    _h.md5(r["text"].encode("utf-8")).hexdigest() for r in rows
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, ICEBERG_WRITE_PRUNE_SCHEMA)
    )


ICEBERG_RENAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_rename_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Iceberg FIELD-ID column resolution (round 14 s3): each 64-doc
    table is committed with parquet files whose columns carry the
    ORIGINAL names (doc_key / body) plus Iceberg field ids, then the
    schema is RENAMED in metadata only (doc_id / text, same ids) —
    resolution must read the logical names through the ids
    (operators/iceberg._read_by_field_ids). Name matching reads
    nothing on renamed tables; id resolution is what the spec
    mandates and what makes rename O(metadata). One applyInPandas
    per table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _rows = _ice.iceberg_snapshot_rows

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields_old = [
            {"id": 1, "name": "doc_key", "required": True, "type": "long"},
            {"id": 2, "name": "body", "required": True, "type": "string"},
        ]
        m = _create(fields_old, location=f"tbl-{tid}")
        for k in range(0, len(ids), 16):
            blob = _write(
                {"doc_key": ids[k : k + 16], "body": texts[k : k + 16]},
                types={"doc_key": "INT64", "body": "BYTE_ARRAY"},
                codec="SNAPPY",
                field_ids={"doc_key": 1, "body": 2},
            )
            m, _s = _commit(
                m, data_files=[(f"data/p{k // 16}.parquet", blob, 16)]
            )
        # rename doc_key→doc_id, body→text in METADATA ONLY (same ids)
        name = next(n for n in m if n.endswith(".metadata.json"))
        meta = _json.loads(m[name])
        meta["schemas"][0]["fields"][0]["name"] = "doc_id"
        meta["schemas"][0]["fields"][1]["name"] = "text"
        m[name] = _json.dumps(meta).encode("utf-8")
        rows = _rows(_tar(sorted(m.items())), ["doc_id", "text"])
        out_i, out_n, out_d = [], [], []
        for _seq, r in rows:
            out_i.append(int(r["doc_id"]))
            out_n.append(len(r["text"]))
            out_d.append(_h.md5(r["text"].encode("utf-8")).hexdigest())
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": out_d,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build, ICEBERG_RENAME_SCHEMA)
    )


def iceberg_snapshot_features(
    df: DataFrame,
    table_col: str = "table_id",
    payload_col: str = "payload",
    snapshot_id: int | None = None,
) -> DataFrame:
    """Resolve each table's selected snapshot through the manifest
    tree (operators/iceberg) and emit surviving rows with the data
    sequence number that added them. ``snapshot_id`` selects
    time-travel (q_iceberg_time_travel reads snapshot 1, before any
    delete file existed). Map-only mapInPandas."""
    from yark_spark.operators import iceberg as _ice

    _rows = _ice.iceberg_snapshot_rows

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        import numpy as np

        for pdf in batches:
            ids, tids, seqs, ns, digs = [], [], [], [], []
            for tid, p in zip(pdf[table_col], pdf[payload_col]):
                for seq, row in _rows(
                    bytes(p), ["doc_id", "text"], snapshot_id=snapshot_id
                ):
                    ids.append(int(row["doc_id"]))
                    tids.append(int(tid))
                    seqs.append(int(seq))
                    ns.append(len(row["text"]))
                    digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "table_id": np.array(tids, dtype="int64"),
                    "seq_added": np.array(seqs, dtype="int64"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(table_col), F.col(payload_col)).mapInPandas(
        _extract, ICEBERG_SNAPSHOT_SCHEMA
    )


# ---------------------------------------------------------------------------
# WARC HTTP message decode (round 13, session 3)
# ---------------------------------------------------------------------------

WARC_HTTP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("wire", StringType()),
        StructField("status", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def warc_http_decode_features(
    df: DataFrame, shard_col: str = "shard_id", payload_col: str = "payload"
) -> DataFrame:
    """The WET pass done RIGHT (round 13): for each response record,
    parse the stored HTTP/1.1 message with operators/containers.
    http_message_decode — status line, headers, chunked de-framing,
    then content-codings right-to-left — and emit the recovered text's
    digest plus the wire label derived FROM THE PARSED HEADERS (so a
    hash match proves each framing was really present and really
    reversed, not just that the cycle was copied). Real CC-MAIN blocks
    are exactly this shape; a strip-to-CRLFCRLF pass yields chunk
    sizes and gzip bytes as 'text' for most of the web. Map-only
    mapInPandas; the gzip/zstd inflate runs where the record already
    is, nothing re-shuffles."""
    from yark_spark.operators import containers as _cont

    _records = _cont.warc_records
    _decode = _cont.http_message_decode
    _member_id = _cont.member_doc_id

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as np

        for pdf in batches:
            dids, wires, stats, ns, digs = [], [], [], [], []
            for p in pdf[payload_col]:
                for r in _records(bytes(p), max_output=1 << 20):
                    if r["headers"]["warc-type"] != "response":
                        continue
                    uri = r["headers"].get("warc-target-uri", "")
                    status, hh, body = _decode(r["block"], max_output=1 << 20)
                    parts = []
                    if "chunked" in hh.get("transfer-encoding", ""):
                        parts.append("chunked")
                    ce = hh.get("content-encoding", "")
                    if ce:
                        parts.append(ce)
                    dids.append(_member_id(uri.rsplit("/", 1)[-1]))
                    wires.append("+".join(parts) if parts else "identity")
                    stats.append(status)
                    ns.append(len(body.decode("utf-8")))
                    digs.append(_hashlib.md5(body).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(dids, dtype="Int64"),
                    "wire": wires,
                    "status": np.array(stats, dtype="int32"),
                    "n_chars": np.array(ns, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(shard_col), F.col(payload_col)).mapInPandas(
        _extract, WARC_HTTP_SCHEMA
    )


# ---------------------------------------------------------------------------
# Parquet predicate-driven scan skipping (round 13, session 3)
# ---------------------------------------------------------------------------

PARQUET_PRUNE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("groups_skipped", IntegerType()),
        StructField("groups_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def parquet_prune_scan_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Write each 64-doc shard into a REAL parquet file (from-scratch
    writer: 8 row groups of 8, chunk Statistics + a split-block bloom
    filter on the key column) and scan it back through
    parquet_scan_filtered with the range predicate
    ``doc_id BETWEEN base+24 AND base+39`` — the footer must prove 6
    of 8 row groups were never decoded, and the skip counters ride in
    the output so the oracle pins the PLAN, not just the rows. This
    is the mechanism behind every 100 TB selective scan: stats prune
    row groups before any page I/O, blooms kill in-range point probes
    (pinned separately in tests/test_parquet_prune.py — bloom skips
    are deterministic but not SQL-derivable, false positives by
    design). One applyInPandas per shard group."""
    from yark_spark.operators import parquet_data as _pdata
    from yark_spark.operators import parquet_write as _pw

    _write = _pw.parquet_write
    _scan = _pdata.parquet_scan_filtered

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        sid = ids[0] // 64
        base = sid * 64
        blob = _write(
            {"doc_id": ids, "text": list(pdf[text_col])},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
            codec="SNAPPY",
            row_group_size=8,
            bloom_filter_columns=["doc_id"],
        )
        cols, cnt = _scan(
            blob, ["doc_id", "text"], "doc_id", base + 24, base + 39
        )
        return pd.DataFrame(
            {
                "doc_id": np.array(cols["doc_id"], dtype="int64"),
                "shard_id": np.full(len(cols["doc_id"]), sid, dtype="int64"),
                "groups_skipped": np.full(
                    len(cols["doc_id"]), cnt["skipped_stats"], dtype="int32"
                ),
                "groups_scanned": np.full(
                    len(cols["doc_id"]), cnt["groups_scanned"], dtype="int32"
                ),
                "n_chars": np.array(
                    [len(t) for t in cols["text"]], dtype="int32"
                ),
                "digest": [
                    _h.md5(t.encode("utf-8")).hexdigest() for t in cols["text"]
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, PARQUET_PRUNE_SCHEMA)
    )


PARQUET_PAGE_PRUNE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("pages_skipped", IntegerType()),
        StructField("pages_scanned", IntegerType()),
        StructField("vsum", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def parquet_page_prune_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Page-granular scan skipping over REAL third-party wire (round
    13 s3): each 64-doc shard is serialized by PYARROW itself into ONE
    64-row row group of eight 8-row pages WITH the page index
    (write_page_index — ColumnIndex min/max + OffsetIndex locations),
    and parquet_page_scan_filtered plans page survival off that index:
    the range probe doc_id BETWEEN base+24 AND base+39 must decode
    exactly 2 of the 8 pages per column, fetched by PageLocation
    offset — never a sequential chunk walk. Row-group pruning
    (q_parquet_prune_scan) is useless INSIDE a huge row group; the
    page index is what keeps a point probe O(pages-hit) there, and
    this fixture proves our planner reads the index the real writer
    emits. One applyInPandas per shard."""
    from yark_spark.operators import parquet_data as _pdata

    _scan = _pdata.parquet_page_scan_filtered

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import io as _io
        import math as _math

        import numpy as np
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        sid = ids[0] // 64
        base = sid * 64
        # round 14: a LIST column rides in the same pages — null row /
        # empty list / null element all page-selectively fetched
        vecs = [
            None
            if d % 17 == 3
            else (
                []
                if d % 17 == 11
                else [d + 0.25, d * 2.0, None if d % 5 == 0 else d / 4.0]
            )
            for d in ids
        ]
        buf = _io.BytesIO()
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": ids,
                    "text": list(pdf[text_col]),
                    "vec": _pa.array(vecs, _pa.list_(_pa.float64())),
                }
            ),
            buf,
            row_group_size=64,
            data_page_size=1,
            write_batch_size=8,
            write_page_index=True,
        )
        cols, cnt = _scan(
            buf.getvalue(),
            ["doc_id", "text", "vec"],
            "doc_id",
            base + 24,
            base + 39,
        )
        n = len(cols["doc_id"])
        vsums = [
            -1
            if v is None
            else sum(_math.floor(x * 1_000_000) for x in v if x is not None)
            for v in cols["vec"]
        ]
        return pd.DataFrame(
            {
                "doc_id": np.array(cols["doc_id"], dtype="int64"),
                "shard_id": np.full(n, sid, dtype="int64"),
                "pages_skipped": np.full(n, cnt["pages_skipped"], dtype="int32"),
                "pages_scanned": np.full(n, cnt["pages_scanned"], dtype="int32"),
                "vsum": np.array(vsums, dtype="int64"),
                "n_chars": np.array([len(t) for t in cols["text"]], dtype="int32"),
                "digest": [
                    _h.md5(t.encode("utf-8")).hexdigest() for t in cols["text"]
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, PARQUET_PAGE_PRUNE_SCHEMA)
    )


def with_delta_checkpoint_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Delta table fixture WITH a parquet checkpoint (round 13 s3):
    every 32 docs become a table whose pre-checkpoint history is
    GONE — ``_last_checkpoint`` names version 2, the checkpoint
    parquet (written by PYARROW with the real nested-struct action
    schema: add/remove/metaData/protocol struct columns, one action
    per row, plus an expired remove tombstone) seeds state {p0, p2},
    and only commits 3 (add p3) and 4 (remove p2 + add p4) exist as
    JSON. p2's bytes are also deleted (vacuumed) — a reader that
    walks version 0 or touches removed files breaks, which is
    exactly what log retention does to naive readers on any table
    older than 30 days. Expected: docs 0-7 at checkpoint version 2,
    24-31 at 3, 8-15 at 4 (as part-4), 16-23 vanished. One
    applyInPandas per table group."""
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _write = _pw.parquet_write
    _tar = _cont.tar_build

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import io as _io
        import json as _json

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32

        def _pq_file(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        p0 = _pq_file(0, 8)
        p4 = _pq_file(8, 16)
        p2 = _pq_file(16, 24)
        p3 = _pq_file(24, 32)

        add_t = _pa.struct([("path", _pa.string()), ("size", _pa.int64())])
        rm_t = _pa.struct([("path", _pa.string())])
        md_t = _pa.struct([("id", _pa.string())])
        pr_t = _pa.struct([("minReaderVersion", _pa.int32())])
        adds = [None, None, {"path": "part-0.parquet", "size": len(p0)},
                {"path": "part-2.parquet", "size": len(p2)}, None]
        rms = [None, None, None, None, {"path": "part-gone.parquet"}]
        mds = [None, {"id": f"table-{tid}"}, None, None, None]
        prs = [{"minReaderVersion": 1}, None, None, None, None]
        buf = _io.BytesIO()
        _pq.write_table(
            _pa.table(
                {
                    "protocol": _pa.array(prs, type=pr_t),
                    "metaData": _pa.array(mds, type=md_t),
                    "add": _pa.array(adds, type=add_t),
                    "remove": _pa.array(rms, type=rm_t),
                }
            ),
            buf,
        )
        v3 = _json.dumps(
            {"add": {"path": "part-3.parquet", "size": len(p3), "dataChange": True}}
        )
        v4 = "\n".join(
            [
                _json.dumps({"remove": {"path": "part-2.parquet", "dataChange": True}}),
                _json.dumps(
                    {"add": {"path": "part-4.parquet", "size": len(p4), "dataChange": True}}
                ),
            ]
        )
        members = [
            ("_delta_log/_last_checkpoint", _json.dumps({"version": 2, "size": 5}).encode()),
            (f"_delta_log/{2:020d}.checkpoint.parquet", buf.getvalue()),
            (f"_delta_log/{3:020d}.json", v3.encode()),
            (f"_delta_log/{4:020d}.json", v4.encode()),
            ("part-0.parquet", p0),
            ("part-3.parquet", p3),
            ("part-4.parquet", p4),
            # part-2 vacuumed: its bytes must never be required
        ]
        return pd.DataFrame({"table_id": [tid], "payload": [_tar(members)]})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(
            _build,
            StructType(
                [
                    StructField("table_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )


ORC_PRUNE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard_id", LongType()),
        StructField("stripes_skipped", IntegerType()),
        StructField("stripes_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def orc_stripe_prune_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """ORC stripe pruning end-to-end (round 13 s3): each 64-doc shard
    becomes an ORC file from the in-repo writer (8 stripes of 8,
    ZLIB, StripeStatistics in the Metadata section — sint64-zigzag
    int bounds + string bounds, the wire ORC_CPP emits and still
    reads from our files), and orc_scan_filtered plans stripe
    survival off those statistics before touching any stream: the
    range probe must decode exactly 2 of 8 stripes, counters ride in
    the output so the oracle pins the plan. Third-party-wire pruning
    (genuine pyarrow/ORC_CPP multi-stripe files) is pinned in
    tests/test_orc.py. One applyInPandas per shard; map-only."""
    from yark_spark.operators import orc as _orc_mod

    _write = _orc_mod.orc_write
    _scan = _orc_mod.orc_scan_filtered

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        sid = ids[0] // 64
        base = sid * 64
        blob = _write(
            {"doc_id": ids, "text": list(pdf[text_col])},
            types={"doc_id": "LONG", "text": "STRING"},
            compression="ZLIB",
            stripe_rows=8,
        )
        cols, cnt = _scan(
            blob, ["doc_id", "text"], "doc_id", base + 24, base + 39
        )
        n = len(cols["doc_id"])
        return pd.DataFrame(
            {
                "doc_id": np.array(cols["doc_id"], dtype="int64"),
                "shard_id": np.full(n, sid, dtype="int64"),
                "stripes_skipped": np.full(n, cnt["skipped_stats"], dtype="int32"),
                "stripes_scanned": np.full(
                    n, cnt["stripes_scanned"], dtype="int32"
                ),
                "n_chars": np.array([len(t) for t in cols["text"]], dtype="int32"),
                "digest": [
                    _h.md5(t.encode("utf-8")).hexdigest() for t in cols["text"]
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, ORC_PRUNE_SCHEMA)
    )


ORC_ROWINDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("row_groups_skipped", IntegerType()),
        StructField("row_groups_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def orc_rowindex_prune_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    writer: str = "orc_cpp",
) -> DataFrame:
    """ORC ROW-GROUP pruning end-to-end (round 14, session 3): each
    160-doc group becomes an ORC file WRITTEN BY THE REAL LIBRARY
    (pyarrow's ORC_CPP, rowIndexStride 16 → 10 row groups, direct
    strings, chunk codec cycling per table), and orc_scan_rowgroups
    plans row-group survival off the ROW_INDEX entries' per-group
    statistics, then decodes ONLY the surviving groups via the
    entries' seek positions — compressed chunks before the recorded
    offset are never inflated, values before the recorded run skip
    never materialize. The range probe must decode exactly 1 of 10
    groups; both counters ride in the output so the oracle pins the
    PLAN, not just the rows. This is the within-stripe analog of
    parquet page-index pruning (E138') on the other columnar
    substrate — the finest skip grain a 100 TB ORC warehouse scan
    has. One applyInPandas per table; map-only."""
    from yark_spark.operators import orc as _orc_mod

    _scan = _orc_mod.orc_scan_rowgroups
    _write = _orc_mod.orc_write

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import io as _io

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        sid = ids[0] // 160
        base = sid * 160
        if writer == "ours":
            blob = _write(
                {"doc_id": ids, "text": list(pdf[text_col])},
                types={"doc_id": "LONG", "text": "STRING"},
                compression=["ZLIB", "NONE"][sid % 2],
                row_index_stride=16,
            )
        else:
            import pyarrow as _pa
            import pyarrow.orc as _pa_orc

            t = _pa.table(
                {
                    "doc_id": _pa.array(ids, _pa.int64()),
                    "text": _pa.array(list(pdf[text_col])),
                }
            )
            comp = ["zlib", "snappy", "zstd", "lz4", "uncompressed"][sid % 5]
            buf = _io.BytesIO()
            w = _pa_orc.ORCWriter(
                buf,
                row_index_stride=16,
                compression=comp,
                dictionary_key_size_threshold=0.0,
            )
            w.write(t)
            w.close()
            blob = buf.getvalue()
        cols, cnt = _scan(
            blob, ["doc_id", "text"], "doc_id", base + 64, base + 79
        )
        n = len(cols["doc_id"])
        return pd.DataFrame(
            {
                "doc_id": np.array(cols["doc_id"], dtype="int64"),
                "table_id": np.full(n, sid, dtype="int64"),
                "row_groups_skipped": np.full(
                    n, cnt["skipped_stats"], dtype="int32"
                ),
                "row_groups_scanned": np.full(
                    n, cnt["row_groups_scanned"], dtype="int32"
                ),
                "n_chars": np.array([len(t) for t in cols["text"]], dtype="int32"),
                "digest": [
                    _h.md5(t.encode("utf-8")).hexdigest() for t in cols["text"]
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 160).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, ORC_ROWINDEX_SCHEMA)
    )


ICEBERG_PART_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("manifests_skipped", IntegerType()),
        StructField("files_skipped", IntegerType()),
        StructField("files_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_partition_scan_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Iceberg partition pruning end-to-end (round 13 s3): every 64
    docs become an identity-partitioned table (part = (doc%64)//16,
    eight 8-doc files across two manifests whose manifest-list rows
    carry FIELD SUMMARIES — lower/upper bound in Iceberg's
    single-value little-endian serialization), and the part=2 scan
    must skip one whole manifest unopened, skip the wrong-partition
    files inside the other, and decode exactly two files. Counters
    ride in the output; the oracle pins the plan AND the rows. One
    applyInPandas per table group, map-only resolve."""
    from yark_spark.operators import avro_ocf as _avro
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _abuild = _avro.avro_build
    _ml_schema = _ice.PARTITIONED_MANIFEST_LIST_SCHEMA
    _m_schema = _ice.PARTITIONED_MANIFEST_SCHEMA
    _bound = _ice.partition_bound
    _scan = _ice.iceberg_partition_scan

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64

        files = []
        for k in range(8):
            blob = _write(
                {"doc_id": ids[k * 8 : k * 8 + 8], "text": texts[k * 8 : k * 8 + 8]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )
            files.append((f"data/part={k // 2}/f{k}.parquet", k // 2, blob))

        def _entry(path, part, blob):
            return {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": 1,
                "file_sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {"part": part},
                    "record_count": 8,
                    "file_size_in_bytes": len(blob),
                },
            }

        mA = _abuild(
            _m_schema, [_entry(p, pt, b) for p, pt, b in files[:4]], codec="deflate"
        )
        mB = _abuild(
            _m_schema, [_entry(p, pt, b) for p, pt, b in files[4:]], codec="deflate"
        )

        def _mf(path, blob, lo, hi):
            return {
                "manifest_path": path,
                "manifest_length": len(blob),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 1,
                "added_files_count": 4,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "partitions": [
                    {
                        "contains_null": False,
                        "lower_bound": _bound(lo),
                        "upper_bound": _bound(hi),
                    }
                ],
            }

        snap_list = _abuild(
            _ml_schema,
            [
                _mf("metadata/mA.avro", mA, 0, 1),
                _mf("metadata/mB.avro", mB, 2, 3),
            ],
            codec="deflate",
        )
        meta = {
            "format-version": 2,
            "table-uuid": f"00000000-0000-0000-0001-{tid:012d}",
            "location": f"ptbl-{tid}",
            "last-sequence-number": 1,
            "current-snapshot-id": 1,
            "current-schema-id": 0,
            "schemas": [
                {
                    "schema-id": 0,
                    "type": "struct",
                    "fields": [
                        {"id": 1, "name": "doc_id", "required": True, "type": "long"},
                        {"id": 2, "name": "text", "required": True, "type": "string"},
                    ],
                }
            ],
            "snapshots": [
                {
                    "snapshot-id": 1,
                    "sequence-number": 1,
                    "timestamp-ms": 0,
                    "manifest-list": "metadata/snap-1.avro",
                    "summary": {"operation": "append"},
                }
            ],
        }
        members = [
            ("metadata/v2.metadata.json", _json.dumps(meta).encode()),
            ("metadata/snap-1.avro", snap_list),
            ("metadata/mA.avro", mA),
            ("metadata/mB.avro", mB),
        ] + [(p, b) for p, _pt, b in files]
        rows, cnt = _scan(_tar(members), ["doc_id", "text"], 2)
        dids = [int(r["doc_id"]) for r in rows]
        return pd.DataFrame(
            {
                "doc_id": np.array(dids, dtype="int64"),
                "table_id": np.full(len(dids), tid, dtype="int64"),
                "manifests_skipped": np.full(
                    len(dids), cnt["manifests_skipped"], dtype="int32"
                ),
                "files_skipped": np.full(len(dids), cnt["files_skipped"], dtype="int32"),
                "files_scanned": np.full(len(dids), cnt["files_scanned"], dtype="int32"),
                "n_chars": np.array([len(r["text"]) for r in rows], dtype="int32"),
                "digest": [
                    _h.md5(r["text"].encode("utf-8")).hexdigest() for r in rows
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, ICEBERG_PART_SCHEMA)
    )


ICEBERG_TRANSFORM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("transform", StringType()),
        StructField("manifests_skipped", IntegerType()),
        StructField("files_skipped", IntegerType()),
        StructField("files_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)

_ICE_DAY = 86_400_000_000
_ICE_HOUR = 3_600_000_000


def iceberg_transform_scan_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Iceberg partition-spec TRANSFORMS end-to-end (round 14, VERDICT
    r13 item #3): every 64 docs become a partitioned table whose
    metadata declares a real ``partition-specs`` entry, the transform
    cycling per table — ``truncate[16]`` on the doc_id long, ``day``
    / ``hour`` / ``month`` on a per-group timestamp column (rows
    inside a group share the calendar bucket but not the instant, so
    a formula that floors wrongly moves files between partitions).
    The scan probes in SOURCE-column terms (a mid-bucket instant /
    a mid-truncation long); the planner applies the spec's transform
    (operators/iceberg.iceberg_transform) and must skip one manifest
    via field summaries — whose bound bytes use the transform
    RESULT's width: 4-byte ints for temporal results, 8-byte longs
    for truncate — and two files via partition structs, decoding
    exactly two. One applyInPandas per table group, map-only
    resolve."""
    from yark_spark.operators import avro_ocf as _avro
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _abuild = _avro.avro_build
    _ml_schema = _ice.PARTITIONED_MANIFEST_LIST_SCHEMA
    _bound = _ice.partition_bound
    _scan = _ice.iceberg_partition_scan
    _twidth = _ice.transform_result_width

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import datetime as _dt
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        base = tid * 64
        tname, field, src_id, src_type = [
            ("truncate[16]", "doc_trunc", 1, "long"),
            ("day", "ts_day", 3, "timestamp"),
            ("hour", "ts_hour", 3, "timestamp"),
            ("month", "ts_month", 3, "timestamp"),
        ][tid % 4]

        def _month_micros(m: int, day: int) -> int:
            d = _dt.date(1970 + m // 12, m % 12 + 1, day)
            return ((d - _dt.date(1970, 1, 1)).days) * _ICE_DAY

        def _pv(g: int) -> int:  # partition value of group g
            return base + 16 * g

        def _ts(g: int, j: int) -> int:  # source instant for doc j of group g
            if tname == "day":
                return _pv(g) * _ICE_DAY + j * _ICE_HOUR
            if tname == "hour":
                return _pv(g) * _ICE_HOUR + j * 60_000_000
            if tname == "month":
                return _month_micros(_pv(g), 1 + j)
            return ids[g * 16 + j] * 1_000_000  # truncate: ts is inert

        # probe in SOURCE terms, landing mid-bucket inside group 2
        if tname == "truncate[16]":
            probe = base + 40
        elif tname == "day":
            probe = _pv(2) * _ICE_DAY + 7 * _ICE_HOUR + 123_000_000
        elif tname == "hour":
            probe = _pv(2) * _ICE_HOUR + 35 * 60_000_000
        else:
            probe = _month_micros(_pv(2), 20)

        files = []
        for k in range(8):
            g = k // 2
            rows = list(range(k * 8, k * 8 + 8))
            blob = _write(
                {
                    "doc_id": [ids[j] for j in rows],
                    "text": [texts[j] for j in rows],
                    "ts": [_ts(g, j % 16) for j in rows],
                },
                types={"doc_id": "INT64", "text": "BYTE_ARRAY", "ts": "INT64"},
                codec="SNAPPY",
            )
            files.append((f"data/{field}={_pv(g)}/f{k}.parquet", _pv(g), blob))

        m_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"]},
                {"name": "sequence_number", "type": ["null", "long"]},
                {"name": "file_sequence_number", "type": ["null", "long"]},
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "data_file",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {
                                "name": "partition",
                                "type": {
                                    "type": "record",
                                    "name": "r102",
                                    "fields": [{"name": field, "type": "long"}],
                                },
                            },
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                        ],
                    },
                },
            ],
        }

        def _entry(path, pv, blob):
            return {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": 1,
                "file_sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {field: pv},
                    "record_count": 8,
                    "file_size_in_bytes": len(blob),
                },
            }

        mA = _abuild(
            m_schema, [_entry(p, pv, b) for p, pv, b in files[:4]], codec="deflate"
        )
        mB = _abuild(
            m_schema, [_entry(p, pv, b) for p, pv, b in files[4:]], codec="deflate"
        )
        width = _twidth(tname, src_type)

        def _mf(path, blob, lo, hi):
            return {
                "manifest_path": path,
                "manifest_length": len(blob),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 1,
                "added_files_count": 4,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "partitions": [
                    {
                        "contains_null": False,
                        "lower_bound": _bound(lo, width),
                        "upper_bound": _bound(hi, width),
                    }
                ],
            }

        snap_list = _abuild(
            _ml_schema,
            [
                _mf("metadata/mA.avro", mA, _pv(0), _pv(1)),
                _mf("metadata/mB.avro", mB, _pv(2), _pv(3)),
            ],
            codec="deflate",
        )
        meta = {
            "format-version": 2,
            "table-uuid": f"00000000-0000-0000-0002-{tid:012d}",
            "location": f"ttbl-{tid}",
            "last-sequence-number": 1,
            "current-snapshot-id": 1,
            "current-schema-id": 0,
            "default-spec-id": 0,
            "schemas": [
                {
                    "schema-id": 0,
                    "type": "struct",
                    "fields": [
                        {"id": 1, "name": "doc_id", "required": True, "type": "long"},
                        {"id": 2, "name": "text", "required": True, "type": "string"},
                        {"id": 3, "name": "ts", "required": True, "type": "timestamp"},
                    ],
                }
            ],
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": field,
                            "transform": tname,
                            "source-id": src_id,
                            "field-id": 1000,
                        }
                    ],
                }
            ],
            "snapshots": [
                {
                    "snapshot-id": 1,
                    "sequence-number": 1,
                    "timestamp-ms": 0,
                    "manifest-list": "metadata/snap-1.avro",
                    "summary": {"operation": "append"},
                }
            ],
        }
        members = [
            ("metadata/v2.metadata.json", _json.dumps(meta).encode()),
            ("metadata/snap-1.avro", snap_list),
            ("metadata/mA.avro", mA),
            ("metadata/mB.avro", mB),
        ] + [(p, b) for p, _pv2, b in files]
        rows, cnt = _scan(_tar(members), ["doc_id", "text"], source_value=probe)
        dids = [int(r["doc_id"]) for r in rows]
        return pd.DataFrame(
            {
                "doc_id": np.array(dids, dtype="int64"),
                "table_id": np.full(len(dids), tid, dtype="int64"),
                "transform": [tname] * len(dids),
                "manifests_skipped": np.full(
                    len(dids), cnt["manifests_skipped"], dtype="int32"
                ),
                "files_skipped": np.full(len(dids), cnt["files_skipped"], dtype="int32"),
                "files_scanned": np.full(len(dids), cnt["files_scanned"], dtype="int32"),
                "n_chars": np.array([len(r["text"]) for r in rows], dtype="int32"),
                "digest": [
                    _h.md5(r["text"].encode("utf-8")).hexdigest() for r in rows
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, ICEBERG_TRANSFORM_SCHEMA)
    )


PARQUET_INT96_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts_micros", LongType()),
        StructField("dec_unscaled", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def parquet_int96_scan_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Legacy-wire parquet scan (round 13 s3): each 64-doc shard is
    written by PYARROW with use_deprecated_int96_timestamps — the
    INT96 (8-byte nanos-of-day + 4-byte Julian day) timestamps that
    Spark and Hive wrote for YEARS and every long-lived corpus still
    carries — plus a decimal128(18,2) column (FIXED_LEN_BYTE_ARRAY
    big-endian two's complement). The from-scratch reader decodes
    both: INT96 → exact epoch microseconds, FLBA DECIMAL → unscaled
    integer, and the oracle re-derives each value arithmetically from
    the doc key. One applyInPandas per shard; map-only."""
    from yark_spark.operators import parquet_data as _pdata

    _read = _pdata.parquet_read_columns

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import datetime as _dt
        import decimal as _decimal
        import hashlib as _h
        import io as _io

        import numpy as np
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        epoch = _dt.datetime(2020, 1, 1)
        ts = [
            epoch + _dt.timedelta(seconds=d * 3661, microseconds=d * 7)
            for d in ids
        ]
        dec = [_decimal.Decimal(d * 137 - 5000).scaleb(-2) for d in ids]
        buf = _io.BytesIO()
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": ids,
                    "ts": _pa.array(ts, type=_pa.timestamp("us")),
                    "d": _pa.array(dec, type=_pa.decimal128(18, 2)),
                    "text": texts,
                }
            ),
            buf,
            use_deprecated_int96_timestamps=True,
        )
        cols = _read(buf.getvalue(), ["doc_id", "ts", "d", "text"])
        return pd.DataFrame(
            {
                "doc_id": np.array(cols["doc_id"], dtype="int64"),
                "ts_micros": np.array(cols["ts"], dtype="int64"),
                "dec_unscaled": np.array(cols["d"], dtype="int64"),
                "n_chars": np.array([len(t) for t in cols["text"]], dtype="int32"),
                "digest": [
                    _h.md5(t.encode("utf-8")).hexdigest() for t in cols["text"]
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, PARQUET_INT96_SCHEMA)
    )


ORC_LOGICAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts_micros", LongType()),
        StructField("epoch_days", IntegerType()),
        StructField("dec_unscaled", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def orc_logical_scan_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """ORC warehouse logical types (round 13 s3): each 64-doc shard
    written by ORC_CPP (pyarrow) with TIMESTAMP (seconds-from-2015 +
    the SECONDARY nanos stream's trailing-zero trick), DATE (epoch
    days), DECIMAL (unbounded zigzag varints + per-value scale
    stream) and BINARY (text bytes) columns — the types every Hive
    corpus carries — decoded by the from-scratch reader to exact
    integers and digests, oracle-re-derived arithmetically from the
    doc key. One applyInPandas per shard; map-only."""
    from yark_spark.operators import orc as _orc_mod

    _read = _orc_mod.orc_read_columns

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import datetime as _dt
        import decimal as _decimal
        import hashlib as _h
        import io as _io

        import numpy as np
        import pyarrow as _pa
        import pyarrow.orc as _po

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        epoch = _dt.datetime(2020, 1, 1)
        day0 = _dt.date(2020, 1, 1)
        buf = _io.BytesIO()
        _po.write_table(
            _pa.table(
                {
                    "doc_id": ids,
                    "ts": _pa.array(
                        [
                            epoch
                            + _dt.timedelta(seconds=d * 3661, microseconds=d * 7)
                            for d in ids
                        ],
                        type=_pa.timestamp("us"),
                    ),
                    "dt": _pa.array(
                        [day0 + _dt.timedelta(days=d * 3) for d in ids],
                        type=_pa.date32(),
                    ),
                    "d": _pa.array(
                        [_decimal.Decimal(d * 137 - 5000).scaleb(-2) for d in ids],
                        type=_pa.decimal128(18, 2),
                    ),
                    "b": _pa.array(
                        [t.encode("utf-8") for t in texts], type=_pa.binary()
                    ),
                }
            ),
            buf,
        )
        cols = _read(buf.getvalue(), ["doc_id", "ts", "dt", "d", "b"])
        return pd.DataFrame(
            {
                "doc_id": np.array(cols["doc_id"], dtype="int64"),
                "ts_micros": np.array(cols["ts"], dtype="int64"),
                "epoch_days": np.array(cols["dt"], dtype="int32"),
                "dec_unscaled": np.array(cols["d"], dtype="int64"),
                "n_chars": np.array(
                    [len(b.decode("utf-8")) for b in cols["b"]], dtype="int32"
                ),
                "digest": [_h.md5(b).hexdigest() for b in cols["b"]],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, ORC_LOGICAL_SCHEMA)
    )


ORC_STRUCT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("quality", IntegerType()),
        StructField("crawl_lang", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def orc_struct_scan_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """ORC nested-struct metadata scan (round 13 s3): shards written
    by ORC_CPP with the metadata-envelope shape every curated corpus
    uses — a doc row plus a nested ``meta`` struct (quality int,
    crawl.lang two levels down, ~quarter of envelopes null) — read
    back through the dotted-path presence-chain weave. One
    applyInPandas per shard; map-only."""
    from yark_spark.operators import orc as _orc_mod

    _read = _orc_mod.orc_read_columns

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import io as _io

        import numpy as np
        import pyarrow as _pa
        import pyarrow.orc as _po

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        meta_t = _pa.struct(
            [
                ("quality", _pa.int32()),
                ("crawl", _pa.struct([("lang", _pa.string())])),
            ]
        )
        metas = [
            None
            if d % 4 == 3
            else {
                "quality": d % 7,
                "crawl": {"lang": ("en", "de", "fr")[d % 3]},
            }
            for d in ids
        ]
        buf = _io.BytesIO()
        _po.write_table(
            _pa.table(
                {
                    "doc_id": ids,
                    "meta": _pa.array(metas, type=meta_t),
                    "text": texts,
                }
            ),
            buf,
        )
        cols = _read(
            buf.getvalue(), ["doc_id", "meta.quality", "meta.crawl.lang", "text"]
        )
        q = [(-1 if v is None else int(v)) for v in cols["meta.quality"]]
        lang = [("none" if v is None else v) for v in cols["meta.crawl.lang"]]
        return pd.DataFrame(
            {
                "doc_id": np.array(cols["doc_id"], dtype="int64"),
                "quality": np.array(q, dtype="int32"),
                "crawl_lang": lang,
                "n_chars": np.array([len(t) for t in cols["text"]], dtype="int32"),
                "digest": [
                    _h.md5(t.encode("utf-8")).hexdigest() for t in cols["text"]
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__s"))
        .applyInPandas(_build_and_scan, ORC_STRUCT_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Round 15: parquet MAP + deep-nested columns, both directions
# ---------------------------------------------------------------------------

NESTED_PARQUET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_attrs", LongType()),
        StructField("attrs_str", StringType()),
        StructField("events_str", StringType()),
        StructField("mat_str", StringType()),
    ]
)


def parquet_nested_foreign_scan(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """E166 parquet MAP + deep-nested READ (round 15): REAL pyarrow
    (the ecosystem's C++ Dremel shredder) writes map<string,string>,
    list<struct<k,n>> and list<list<int64>> columns — every null/
    empty level position exercised on doc_id moduli — and the
    from-scratch reader reassembles them through the generic
    repetition/definition-level algorithm (operators/parquet_data
    _assemble_skeleton/_merge_value): rep-level continuation, def
    chains stopping at each optional node, MAP key_value pairing.
    The flattened forms are recomputed by DuckDB in pure SQL from the
    source documents, so a wrong weave at ANY level breaks the hash.
    Real lakes carry map metadata and list<struct> everywhere — this
    was the #1 foreign-file gap. Map-only mapInPandas; page version
    and row-group size cycle per batch."""
    from yark_spark.operators import parquet_data as _pdata
    from yark_spark.operators import parquet_nested as _pn

    _read = _pdata.parquet_read_columns
    _fixture = _pn.nested_fixture_cols
    _decode = _pn.nested_decode_frame

    def _build_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        for bi, pdf in enumerate(batches):
            ids = [int(v) for v in pdf[id_col]]
            langs = list(pdf["lang"])
            nchs = [int(v) for v in pdf["n_chars"]]
            attrs, events, mat = _fixture(ids, langs, nchs)
            t = _pa.table(
                {
                    "doc_id": _pa.array(ids, _pa.int64()),
                    "attrs": _pa.array(attrs, _pa.map_(_pa.string(), _pa.string())),
                    "events": _pa.array(
                        events,
                        _pa.list_(
                            _pa.struct([("k", _pa.string()), ("n", _pa.int64())])
                        ),
                    ),
                    "mat": _pa.array(mat, _pa.list_(_pa.list_(_pa.int64()))),
                }
            )
            buf = _io.BytesIO()
            _pq.write_table(
                t,
                buf,
                compression=("snappy", "zstd")[bi % 2],
                version=("1.0", "2.6")[(bi // 2) % 2],
                row_group_size=(64, 37)[bi % 2],
            )
            yield _decode(_read, buf.getvalue())

    return df.select(F.col(id_col), F.col("lang"), F.col("n_chars")).mapInPandas(
        _build_scan, NESTED_PARQUET_SCHEMA
    )


def parquet_nested_write_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """E167 parquet MAP + deep-nested WRITE (round 15): the same
    nested values serialized by the from-scratch writer's generic
    shredder (operators/parquet_write plist/pmap specs → per-leaf
    (def, rep, value) emission, MAP/LIST ConvertedType schema groups)
    and read back by the from-scratch reader under the SQL-recomputed
    digest; pyarrow AND DuckDB read the same wire value-for-value
    (incl. DuckDB map functions) in tests/test_parquet_write.py.
    Codec and page version cycle per batch. With E166 this closes
    write-side nested parity — the lake substrate reads what others
    write and writes what others read, maps included."""
    from yark_spark.operators import parquet_data as _pdata
    from yark_spark.operators import parquet_write as _pw
    from yark_spark.operators import parquet_nested as _pn

    _read = _pdata.parquet_read_columns
    _write = _pw.parquet_write
    _plist, _pmap = _pw.plist, _pw.pmap
    _fixture = _pn.nested_fixture_cols
    _decode = _pn.nested_decode_frame

    def _write_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for bi, pdf in enumerate(batches):
            ids = [int(v) for v in pdf[id_col]]
            langs = list(pdf["lang"])
            nchs = [int(v) for v in pdf["n_chars"]]
            attrs, events, mat = _fixture(ids, langs, nchs)
            blob = _write(
                {"doc_id": ids, "attrs": attrs, "events": events, "mat": mat},
                types={
                    "doc_id": "INT64",
                    "attrs": _pmap("BYTE_ARRAY", "BYTE_ARRAY"),
                    "events": _plist({"k": "BYTE_ARRAY", "n": "INT64"}),
                    "mat": _plist(_plist("INT64")),
                },
                codec=("ZSTD", "SNAPPY", "GZIP", "UNCOMPRESSED")[bi % 4],
                data_page_version=1 + (bi % 2),
                row_group_size=64,
            )
            yield _decode(_read, blob)

    return df.select(F.col(id_col), F.col("lang"), F.col("n_chars")).mapInPandas(
        _write_scan, NESTED_PARQUET_SCHEMA
    )


DELTA_DV_WRITE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("storage", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_dv_write_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E168 Delta DV WRITE loop (round 15): every 32 docs become a
    plain two-file JSON-log table, then operators/deltalog.
    delta_add_deletion_vectors emits a REAL deletion commit — protocol
    upgraded to v3/deletionVectors, remove + re-add per file, the
    bitmap a Delta RoaringBitmapArray — with the descriptor storage
    CYCLING by table: on-disk ``p`` framing, ``u``-style
    deletion_vector_<uuid>.bin addressing (Z85 uuid in the
    descriptor), and inline ``i``. The table then resolves through the
    round-14 reader: rows named by the written DVs must vanish, and a
    writer that mangles any framing byte breaks its own reader's
    CRC/cardinality cross-checks. Docs with doc_id%4==1 die. One
    applyInPandas per table, map-only resolve."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows
    _dv_write = _dl.delta_add_deletion_vectors

    _write = _pw_mod.parquet_write

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        p0 = _write(
            {"doc_id": ids[:16], "text": texts[:16]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
            codec="SNAPPY",
        )
        p1 = _write(
            {"doc_id": ids[16:], "text": texts[16:]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
            codec="SNAPPY",
        )
        v0 = "\n".join(
            [
                _json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 2}}),
                _json.dumps({"metaData": {"id": f"tbl-{tid}",
                                          "format": {"provider": "parquet"}}}),
                _json.dumps({"add": {"path": "p0.parquet", "size": len(p0),
                                     "dataChange": True}}),
                _json.dumps({"add": {"path": "p1.parquet", "size": len(p1),
                                     "dataChange": True}}),
            ]
        )
        tar = _tar(
            [("_delta_log/" + "0" * 20 + ".json", v0.encode("utf-8")),
             ("p0.parquet", p0), ("p1.parquet", p1)]
        )
        storage = ("p", "u", "i")[tid % 3]
        dead = {
            "p0.parquet": [i for i, d in enumerate(ids[:16]) if d % 4 == 1],
            "p1.parquet": [i for i, d in enumerate(ids[16:]) if d % 4 == 1],
        }
        dead = {k: v for k, v in dead.items() if v}
        out_tar = _dv_write(tar, dead, storage=storage) if dead else tar
        out_ids, ns, digs = [], [], []
        for _version, row in _rows(out_tar, ["doc_id", "text"]):
            out_ids.append(int(row["doc_id"]))
            ns.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.array([tid] * len(out_ids), dtype="int64"),
                "storage": [storage] * len(out_ids),
                "n_chars": np.array(ns, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, DELTA_DV_WRITE_SCHEMA)
    )


DELTA_MAPPING_ID_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_mapping_id_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E169 Delta column mapping mode=id + checkpointed mapped tables
    (round 15): every 32 docs become a mapped table whose parquet file
    stores DRIFTED physical names plus parquet field ids, with the
    schemaString's columnMapping.id annotations the only correct way
    back to logical names — name matching reads nothing, physicalName
    matching reads the WRONG columns. The table is then CHECKPOINTED
    (metaData row with schemaString + configuration as a real parquet
    MAP column) and its version-0 commit deleted, so resolution must
    recover the mapping from the checkpoint (the r14 ADVICE gap).
    One applyInPandas per table, map-only resolve."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows
    _ckpt = _dl.delta_checkpoint_table

    _write = _pw_mod.parquet_write

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        # drifted physical names; swapped lexical order so a reader
        # matching by position or name fails loudly
        p0 = _write(
            {f"zz-{tid}-a": ids, f"aa-{tid}-b": texts},
            types={f"zz-{tid}-a": "INT64", f"aa-{tid}-b": "BYTE_ARRAY"},
            codec="SNAPPY",
            field_ids={f"zz-{tid}-a": 1, f"aa-{tid}-b": 2},
        )
        schema = {
            "type": "struct",
            "fields": [
                {"name": "doc_id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName": "stale-x"}},
                {"name": "text", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": "stale-y"}},
            ],
        }
        v0 = "\n".join(
            [
                _json.dumps({"protocol": {"minReaderVersion": 2,
                                          "minWriterVersion": 5}}),
                _json.dumps({"metaData": {
                    "id": f"tbl-{tid}", "format": {"provider": "parquet"},
                    "partitionColumns": [],
                    "schemaString": _json.dumps(schema),
                    "configuration": {"delta.columnMapping.mode": "id"}}}),
                _json.dumps({"add": {"path": "part-0.parquet", "size": len(p0),
                                     "dataChange": True}}),
            ]
        )
        tar = _tar(
            [("_delta_log/" + "0" * 20 + ".json", v0.encode("utf-8")),
             ("part-0.parquet", p0)]
        )
        ck = _ckpt(tar)  # version-0 commit (with the metaData) is GONE
        out_ids, ns, digs = [], [], []
        for _version, row in _rows(ck, ["doc_id", "text"]):
            out_ids.append(int(row["doc_id"]))
            ns.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.array([tid] * len(out_ids), dtype="int64"),
                "n_chars": np.array(ns, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, DELTA_MAPPING_ID_SCHEMA)
    )


ORC_WRITE_LOGICAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("d_days", LongType()),
        StructField("ts_micros", LongType()),
        StructField("dec_unscaled", LongType()),
        StructField("sd", StringType()),
        StructField("st_str", StringType()),
        StructField("mp_str", StringType()),
    ]
)


def orc_logical_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """E170 ORC writer TYPE PARITY (round 15): each batch serialized
    by the from-scratch ORC writer across the surface its reader
    already decoded but it could not emit — DATE (epoch days),
    TIMESTAMP (2015-epoch seconds + trailing-zero nanos, GMT stripe
    timezone), DECIMAL(18,3) (zigzag-varint unscaled + scale
    SECONDARY), DICTIONARY_V2 strings (sorted dictionary + index
    runs), STRUCT and MAP nodes (PRESENT/LENGTH trees) — plus
    PATCHED_BASE RLEv2 groups on an outlier column, then read back by
    the from-scratch reader under the SQL-recomputed digest. REAL
    ORC_CPP reads the identical wire value-for-value in
    tests/test_orc.py (incl. negative patched bases and the
    dictionary). Map-only mapInPandas; compression cycles per
    batch."""
    from yark_spark.operators import orc as _orc

    _write = _orc.orc_write
    _read = _orc.orc_read_columns

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for bi, pdf in enumerate(batches):
            ids = [int(v) for v in pdf[id_col]]
            langs = list(pdf["lang"])
            nchs = [int(v) for v in pdf["n_chars"]]
            n = len(ids)
            cols = {
                "doc_id": ids,
                # outliers keep the id column on the PATCHED_BASE path
                "d": [did - 100 for did in ids],
                "ts": [
                    None if did % 5 == 0
                    else 1_500_000_000_000_000 + did * 1_234_567
                    for did in ids
                ],
                "dec": [nch * 7 for nch in nchs],
                "sd": langs,
                "st": [
                    None if did % 7 == 0 else {"a": nch, "b": lg}
                    for did, nch, lg in zip(ids, nchs, langs)
                ],
                "mp": [
                    None if did % 6 == 0
                    else {"k1": nch,
                          "k2": None if did % 3 == 0 else did}
                    for did, nch in zip(ids, nchs)
                ],
            }
            blob = _write(
                cols,
                types={
                    "doc_id": "LONG", "d": "DATE", "ts": "TIMESTAMP",
                    "dec": "DECIMAL(18,3)", "sd": "STRING_DICT",
                    "st": {"struct": {"a": "LONG", "b": "STRING"}},
                    "mp": {"map": ("STRING", "LONG")},
                },
                compression=("ZLIB", "NONE")[bi % 2],
                stripe_rows=48,
            )
            back = _read(blob, ["doc_id", "d", "ts", "dec", "sd", "st", "mp"])
            st_strs = [
                None if v is None else f"{v['a']}:{v['b']}"
                for v in back["st"]
            ]
            mp_strs = [
                None
                if v is None
                else ",".join(
                    f"{k}={'' if x is None else x}"
                    for k, x in sorted(v.items())
                )
                for v in back["mp"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": np.array(back["doc_id"], dtype="int64"),
                    "d_days": np.array(back["d"], dtype="int64"),
                    "ts_micros": pd.array(back["ts"], dtype="Int64"),
                    "dec_unscaled": np.array(back["dec"], dtype="int64"),
                    "sd": back["sd"],
                    "st_str": st_strs,
                    "mp_str": mp_strs,
                }
            )

    return df.select(F.col(id_col), F.col("lang"), F.col("n_chars")).mapInPandas(
        _roundtrip, ORC_WRITE_LOGICAL_SCHEMA
    )


AVRO_LOGICAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("d_days", LongType()),
        StructField("ts_micros", LongType()),
        StructField("tm_micros", LongType()),
        StructField("dec_unscaled", LongType()),
        StructField("decf_unscaled", LongType()),
        StructField("dec_opt", LongType()),
    ]
)


def avro_logical_roundtrip_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """E171 Avro logical types (round 15): OCF shards whose schema
    declares date / timestamp-micros / time-micros / uuid annotations
    and DECIMAL on both carriers — ``bytes`` (minimal big-endian
    two's-complement unscaled int) and ``fixed`` (sign-extended to
    size), plus a nullable union decimal branch — written and read by
    the from-scratch codec (operators/avro_ocf). Iceberg manifests
    and warehouse exports carry exactly these annotations; a reader
    that surfaces decimal bytes raw instead of the unscaled int
    breaks every downstream comparison. Block codec cycles per batch.
    Map-only mapInPandas."""
    from yark_spark.operators import avro_ocf as _avro

    _build_file = _avro.avro_build
    _records = _avro.avro_records

    _SCHEMA = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts",
             "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "tm",
             "type": {"type": "long", "logicalType": "time-micros"}},
            {"name": "dec",
             "type": {"type": "bytes", "logicalType": "decimal",
                      "precision": 18, "scale": 3}},
            {"name": "decf",
             "type": {"type": "fixed", "name": "d8", "size": 8,
                      "logicalType": "decimal", "precision": 18,
                      "scale": 3}},
            {"name": "dec_opt",
             "type": ["null", {"type": "bytes", "logicalType": "decimal",
                               "precision": 9, "scale": 2}]},
        ],
    }

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for bi, pdf in enumerate(batches):
            ids = [int(v) for v in pdf[id_col]]
            nchs = [int(v) for v in pdf["n_chars"]]
            recs = [
                {
                    "doc_id": did,
                    "d": did - 100,
                    "ts": 1_500_000_000_000_000 + did * 1_234_567,
                    "tm": (did * 37) % 86_400_000_000,
                    "dec": nch * 7 - 5000,
                    "decf": did - 250,
                    "dec_opt": None if did % 4 == 0 else did * 11,
                }
                for did, nch in zip(ids, nchs)
            ]
            blob = _build_file(
                _SCHEMA, recs,
                codec=("null", "deflate", "snappy")[bi % 3],
                records_per_block=32,
            )
            back = _records(blob)
            yield pd.DataFrame(
                {
                    "doc_id": np.array([r["doc_id"] for r in back], dtype="int64"),
                    "d_days": np.array([r["d"] for r in back], dtype="int64"),
                    "ts_micros": np.array([r["ts"] for r in back], dtype="int64"),
                    "tm_micros": np.array([r["tm"] for r in back], dtype="int64"),
                    "dec_unscaled": np.array([r["dec"] for r in back], dtype="int64"),
                    "decf_unscaled": np.array([r["decf"] for r in back], dtype="int64"),
                    "dec_opt": pd.array([r["dec_opt"] for r in back], dtype="Int64"),
                }
            )

    return df.select(F.col(id_col), F.col("n_chars")).mapInPandas(
        _roundtrip, AVRO_LOGICAL_SCHEMA
    )


ARROW_TEMPORAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("d_days", LongType()),
        StructField("ts_micros", LongType()),
        StructField("dec_unscaled", LongType()),
        StructField("st_str", StringType()),
        StructField("mp_str", StringType()),
    ]
)


def arrow_ipc_temporal_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """E172 Arrow IPC temporal/decimal/map surface (round 15): each
    batch cycles the WRITER — even batches REAL pyarrow (foreign
    wire), odd batches the from-scratch flatbuffer writer (whose
    date32 unit slot must be written explicitly: the IDL default is
    MILLISECOND) — and the from-scratch reader decodes date32,
    timestamp[us], decimal128 (little-endian two's-complement
    unscaled), struct and map columns either way. pyarrow validates
    and reads our wire value-for-value in tests/test_arrow_ipc.py.
    Map-only mapInPandas."""
    from yark_spark.operators import arrow_ipc as _aipc

    _read = _aipc.arrow_file_read
    _write = _aipc.arrow_file_write

    _FIELDS = [
        {"name": "doc_id", "type": "int", "bits": 64, "signed": True},
        {"name": "d", "type": "date", "unit": 0},
        {"name": "ts", "type": "timestamp", "unit": 2},
        {"name": "dec", "type": "decimal", "precision": 18, "scale": 3},
        {"name": "st", "type": "struct", "children": [
            {"name": "a", "type": "int", "bits": 64, "signed": True},
            {"name": "b", "type": "utf8"}]},
        {"name": "mp", "type": "map", "children": [
            {"name": "entries", "type": "struct", "nullable": False,
             "children": [
                 {"name": "key", "type": "utf8", "nullable": False},
                 {"name": "value", "type": "int", "bits": 64,
                  "signed": True}]}]},
    ]

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        import numpy as np

        for bi, pdf in enumerate(batches):
            ids = [int(v) for v in pdf[id_col]]
            langs = list(pdf["lang"])
            nchs = [int(v) for v in pdf["n_chars"]]
            cols = {
                "doc_id": ids,
                "d": [did - 100 for did in ids],
                "ts": [
                    None if did % 5 == 0
                    else 1_500_000_000_000_000 + did * 1_234_567
                    for did in ids
                ],
                "dec": [nch * 7 - 5000 for nch in nchs],
                "st": [
                    None if did % 7 == 0 else {"a": nch, "b": lg}
                    for did, nch, lg in zip(ids, nchs, langs)
                ],
                "mp": [
                    None if did % 6 == 0
                    else {"k1": nch, "k2": None if did % 3 == 0 else did}
                    for did, nch in zip(ids, nchs)
                ],
            }
            if bi % 2 == 0:
                import pyarrow as _pa
                import pyarrow.ipc as _pi

                t = _pa.table(
                    {
                        "doc_id": _pa.array(cols["doc_id"], _pa.int64()),
                        "d": _pa.array(cols["d"], _pa.date32()),
                        "ts": _pa.array(cols["ts"], _pa.timestamp("us")),
                        "dec": _pa.array(
                            [None if v is None else __import__("decimal").Decimal(v).scaleb(-3)
                             for v in cols["dec"]],
                            _pa.decimal128(18, 3),
                        ),
                        "st": _pa.array(
                            cols["st"],
                            _pa.struct([("a", _pa.int64()), ("b", _pa.string())]),
                        ),
                        "mp": _pa.array(
                            cols["mp"], _pa.map_(_pa.string(), _pa.int64())
                        ),
                    }
                )
                buf = _io.BytesIO()
                with _pi.new_file(buf, t.schema) as w:
                    w.write_table(t)
                blob = buf.getvalue()
            else:
                blob = _write(cols, fields=_FIELDS)
            back = _read(blob, ["doc_id", "d", "ts", "dec", "st", "mp"])
            st_strs = [
                None if v is None else f"{v['a']}:{v['b']}" for v in back["st"]
            ]
            mp_strs = [
                None
                if v is None
                else ",".join(
                    f"{k}={'' if x is None else x}" for k, x in sorted(v)
                )
                for v in back["mp"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": np.array(back["doc_id"], dtype="int64"),
                    "d_days": np.array(back["d"], dtype="int64"),
                    "ts_micros": pd.array(back["ts"], dtype="Int64"),
                    "dec_unscaled": np.array(back["dec"], dtype="int64"),
                    "st_str": st_strs,
                    "mp_str": mp_strs,
                }
            )

    return df.select(F.col(id_col), F.col("lang"), F.col("n_chars")).mapInPandas(
        _roundtrip, ARROW_TEMPORAL_SCHEMA
    )


DELTA_PARTITION_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("p", LongType()),
        StructField("files_skipped", IntegerType()),
        StructField("files_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_partition_prune_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E176 Delta partition pruning (round 15): every 48 docs become a
    HIVE-PARTITIONED table — three files under p=<k>/ dirs whose add
    actions carry string-serialized partitionValues and whose data
    files do NOT contain the partition column (the real Delta shape).
    The p=1 scan must open exactly one file (2 skipped / 1 scanned,
    pinned by the oracle) and INJECT p into the rows from the
    descriptor, cast long by the schemaString type. The Delta side now
    holds the same partition-skip contract as Iceberg's E136'': a
    one-partition query on a 100 TB table reads O(partition). One
    applyInPandas per table; map-only resolve."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _scan = _dl.delta_partition_scan

    _write = _pw_mod.parquet_write

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 48
        schema = {
            "type": "struct",
            "fields": [
                {"name": "doc_id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "text", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "p", "type": "long", "nullable": True,
                 "metadata": {}},
            ],
        }
        parts: dict[int, tuple[list, list]] = {0: ([], []), 1: ([], []), 2: ([], [])}
        for did, t in zip(ids, texts):
            k = did % 3
            parts[k][0].append(did)
            parts[k][1].append(t)
        files = {}
        for k, (kids, ktexts) in parts.items():
            files[f"p={k}/part-0.parquet"] = (
                _write(
                    {"doc_id": kids, "text": ktexts},
                    types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                    codec="SNAPPY",
                ),
                k,
            )
        actions = [
            _json.dumps({"protocol": {"minReaderVersion": 1,
                                      "minWriterVersion": 2}}),
            _json.dumps({"metaData": {
                "id": f"tbl-{tid}", "format": {"provider": "parquet"},
                "schemaString": _json.dumps(schema),
                "partitionColumns": ["p"], "configuration": {}}}),
        ] + [
            _json.dumps({"add": {"path": path, "size": len(blob),
                                 "dataChange": True,
                                 "partitionValues": {"p": str(k)}}})
            for path, (blob, k) in sorted(files.items())
        ]
        tar = _tar(
            [("_delta_log/" + "0" * 20 + ".json", "\n".join(actions).encode())]
            + sorted((p, b) for p, (b, _k) in files.items())
        )
        rows, cnt = _scan(tar, ["doc_id", "p", "text"], {"p": 1})
        out_ids = [int(r["doc_id"]) for _v, r in rows]
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.array([tid] * len(out_ids), dtype="int64"),
                "p": np.array([int(r["p"]) for _v, r in rows], dtype="int64"),
                "files_skipped": np.array(
                    [cnt["files_skipped"]] * len(out_ids), dtype="int32"
                ),
                "files_scanned": np.array(
                    [cnt["files_scanned"]] * len(out_ids), dtype="int32"
                ),
                "n_chars": np.array(
                    [len(r["text"]) for _v, r in rows], dtype="int32"
                ),
                "digest": [
                    _h.md5(r["text"].encode("utf-8")).hexdigest()
                    for _v, r in rows
                ],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 48).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, DELTA_PARTITION_SCHEMA)
    )


DELTA_TIME_TRAVEL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("asof", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_time_travel_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E179 Delta time travel (round 15): every 32 docs become a
    two-commit table — v0 adds the first half, v1 REMOVES it and adds
    the second — and both snapshots resolve side by side: VERSION AS
    OF 0 returns exactly the rows v1 deleted, the latest read exactly
    the rows that replaced them. A replay that ignores the version
    bound returns the union and fails the digest on both halves. One
    applyInPandas per table; map-only resolve."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows

    _write = _pw_mod.parquet_write

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        p0 = _write(
            {"doc_id": ids[:16], "text": texts[:16]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        p1 = _write(
            {"doc_id": ids[16:], "text": texts[16:]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        v0 = "\n".join(
            [
                _json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 2}}),
                _json.dumps({"metaData": {"id": f"tbl-{tid}",
                                          "format": {"provider": "parquet"}}}),
                _json.dumps({"add": {"path": "p0.parquet", "size": len(p0),
                                     "dataChange": True}}),
            ]
        )
        v1 = "\n".join(
            [
                _json.dumps({"remove": {"path": "p0.parquet",
                                        "dataChange": True}}),
                _json.dumps({"add": {"path": "p1.parquet", "size": len(p1),
                                     "dataChange": True}}),
            ]
        )
        tar = _tar(
            [
                ("_delta_log/" + "0" * 20 + ".json", v0.encode("utf-8")),
                ("_delta_log/" + "0" * 19 + "1.json", v1.encode("utf-8")),
                ("p0.parquet", p0),
                ("p1.parquet", p1),
            ]
        )
        out_ids, asofs, ns, digs = [], [], [], []
        for asof, version in ((0, 0), (1, None)):
            for _v, row in _rows(tar, ["doc_id", "text"], version=version):
                out_ids.append(int(row["doc_id"]))
                asofs.append(asof)
                ns.append(len(row["text"]))
                digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.array([tid] * len(out_ids), dtype="int64"),
                "asof": np.array(asofs, dtype="int32"),
                "n_chars": np.array(ns, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, DELTA_TIME_TRAVEL_SCHEMA)
    )


DELTA_V2_CKPT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("manifest_fmt", StringType()),
        StructField("n_sidecars", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_v2_checkpoint_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E185 Delta V2 CHECKPOINTS (round 16, VERDICT r15 #3 — the form
    modern Databricks tables arrive in): every 32 docs become a
    two-commit JSON-log table (v0 adds two files, v1 removes the
    second and re-adds its first 8 docs), which is then rewritten by
    delta_checkpoint_table_v2 — UUID-named manifest carrying
    protocol/metaData/checkpointMetadata/sidecar actions, add-file
    state in parquet SIDECARS under _delta_log/_sidecars/, ALL
    commits deleted — with the manifest format (json/parquet) and
    sidecar count (1/2) CYCLING by table. Tables with table_id%4==3
    additionally carry a real deletion vector killing doc_id%32==5,
    so the DV descriptor must survive the sidecar roundtrip. Resolve
    goes through _replay_from_v2_checkpoint: with the JSON log gone,
    a reader without v2 support has NOTHING to replay. One
    applyInPandas per table; map-only resolve."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar
    from yark_spark.operators.containers import tar_members as _tm

    _rows = _dl.delta_snapshot_rows
    _v2 = _dl.delta_checkpoint_table_v2
    _dv_write = _dl.delta_add_deletion_vectors

    _write = _pw_mod.parquet_write

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        p0 = _write(
            {"doc_id": ids[:16], "text": texts[:16]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        p1 = _write(
            {"doc_id": ids[16:], "text": texts[16:]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        p2 = _write(
            {"doc_id": ids[16:24], "text": texts[16:24]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        v0 = "\n".join(
            [
                _json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 2}}),
                _json.dumps({"metaData": {"id": f"tbl-{tid}",
                                          "format": {"provider": "parquet"}}}),
                _json.dumps({"add": {"path": "p0.parquet", "size": len(p0),
                                     "dataChange": True,
                                     "partitionValues": {}}}),
                _json.dumps({"add": {"path": "p1.parquet", "size": len(p1),
                                     "dataChange": True,
                                     "partitionValues": {}}}),
            ]
        )
        v1 = "\n".join(
            [
                _json.dumps({"remove": {"path": "p1.parquet",
                                        "dataChange": True}}),
                _json.dumps({"add": {"path": "p2.parquet", "size": len(p2),
                                     "dataChange": True,
                                     "partitionValues": {}}}),
            ]
        )
        tar = _tar(
            [
                ("_delta_log/" + "0" * 20 + ".json", v0.encode("utf-8")),
                ("_delta_log/" + "0" * 19 + "1.json", v1.encode("utf-8")),
                ("p0.parquet", p0),
                ("p1.parquet", p1),
                ("p2.parquet", p2),
            ]
        )
        if tid % 4 == 3:
            # doc_id%32==5 lives at row index 5 of p0 (ids are sorted)
            tar = _dv_write(tar, {"p0.parquet": [5]}, storage="u")
        fmt = "json" if tid % 2 == 0 else "parquet"
        ns = 1 + (tid // 2) % 2
        v2 = _v2(tar, manifest_format=fmt, n_sidecars=ns)
        names = [n for n, _ in _tm(v2)]
        # the JSON log is GONE: resolve has no fallback path
        assert not any(
            n.startswith("_delta_log/") and n.endswith(".json")
            and "checkpoint" not in n and "_last_checkpoint" not in n
            for n in names
        ), names
        assert sum(n.startswith("_delta_log/_sidecars/") for n in names) == ns
        out_ids, out_ns, digs = [], [], []
        for _v, row in _rows(v2, ["doc_id", "text"]):
            out_ids.append(int(row["doc_id"]))
            out_ns.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.array([tid] * len(out_ids), dtype="int64"),
                "manifest_fmt": [fmt] * len(out_ids),
                "n_sidecars": np.array([ns] * len(out_ids), dtype="int32"),
                "n_chars": np.array(out_ns, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, DELTA_V2_CKPT_SCHEMA)
    )


ICEBERG_EQ_MULTI_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_eq_multi_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E186 Iceberg MULTI-COLUMN equality deletes (round 16, VERDICT
    r15 #4 — the Flink CDC write shape): every 64 docs become a v2
    table (commit 1 = four 16-row data files), then commit 2 adds a
    2-column equality delete file (equality_ids [1, 2] = doc_id +
    text). Its rows: (doc_id, true text) for doc_id%8==1 — a real
    kill — and (doc_id, "WRONG-TEXT") for doc_id%8==2, which names a
    live key with the wrong second column and must NOT kill (the
    match is the CONJUNCTION of all id columns; a per-column reading
    deletes doc_id%8==2 too and fails the oracle). Resolution through
    iceberg_snapshot_rows with the strict delete.seq > data.seq rule.
    One applyInPandas per table; map-only resolve."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _rows = _ice.iceberg_snapshot_rows

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]
        m = _create(fields, location=f"tbl-{tid}")
        m, _s1 = _commit(
            m,
            data_files=[
                (
                    f"data/p{k // 16}.parquet",
                    _write(
                        {"doc_id": ids[k : k + 16],
                         "text": texts[k : k + 16]},
                        types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                        codec="SNAPPY",
                    ),
                    # id buckets can be PARTIAL (doc_ids are not
                    # contiguous at every sf) — declare actual counts
                    len(ids[k : k + 16]),
                )
                for k in range(0, len(ids), 16)
            ],
        )
        del_ids = [i for i in ids if i % 8 == 1]
        near_ids = [i for i in ids if i % 8 == 2]
        by_id = dict(zip(ids, texts))
        eq_blob = _write(
            {
                "doc_id": del_ids + near_ids,
                "text": [by_id[i] for i in del_ids]
                + ["WRONG-TEXT"] * len(near_ids),
            },
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
            codec="SNAPPY",
        )
        m, _s2 = _commit(
            m,
            delete_files=[
                {
                    "path": "data/eq.parquet",
                    "blob": eq_blob,
                    "content": 2,
                    "record_count": len(del_ids) + len(near_ids),
                    "equality_ids": [1, 2],
                }
            ],
        )
        rows = _rows(_tar(sorted(m.items())), ["doc_id", "text"])
        out_i, out_n, out_d = [], [], []
        for _seq, r in rows:
            out_i.append(int(r["doc_id"]))
            out_n.append(len(r["text"]))
            out_d.append(_h.md5(r["text"].encode("utf-8")).hexdigest())
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": out_d,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, ICEBERG_EQ_MULTI_SCHEMA)
    )


DELTA_TS_NTZ_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("ts_ntz_micros", LongType()),
        StructField("ts_utc_micros", LongType()),
        StructField("ntz_is_naive", BooleanType()),
        StructField("utc_is_naive", BooleanType()),
        StructField("digest", StringType()),
    ]
)


def delta_timestamp_ntz_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E187 Delta timestampNtz (round 16): every 32 docs become a
    table whose protocol declares the ``timestampNtz`` readerFeature
    and whose data file is PYARROW-written foreign wire carrying BOTH
    timestamp flavors — a tz-naive ``timestamp(us)`` column (parquet
    LogicalType TIMESTAMP isAdjustedToUTC=false, the NTZ
    representation) and a UTC-adjusted twin. Resolution reads the raw
    micros through the from-scratch reader, and
    parquet_meta.timestamp_ntz_flag reads the LogicalType bit from
    the footer's Thrift union: the NTZ column must report naive=True,
    the instant column naive=False — a reader that cannot see
    isAdjustedToUTC cannot produce the flags. One applyInPandas per
    table; map-only resolve."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_meta as _pm_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows

    _footer = _pm_mod.parquet_footer
    _ntz_flag = _pm_mod.timestamp_ntz_flag

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import io as _io
        import json as _json

        import numpy as np
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        ntz_micros = [1_500_000_000_000_000 + i * 1_234_567 for i in ids]
        utc_micros = [1_600_000_000_000_000 + i * 7_654_321 for i in ids]
        buf = _io.BytesIO()
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array(ids, _pa.int64()),
                    "ts_ntz": _pa.array(ntz_micros, _pa.timestamp("us")),
                    "ts_utc": _pa.array(
                        utc_micros, _pa.timestamp("us", tz="UTC")
                    ),
                    "text": _pa.array(texts, _pa.string()),
                }
            ),
            buf,
        )
        blob = buf.getvalue()
        schema = {
            "type": "struct",
            "fields": [
                {"name": "doc_id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "ts_ntz", "type": "timestampNtz", "nullable": True,
                 "metadata": {}},
                {"name": "ts_utc", "type": "timestamp", "nullable": True,
                 "metadata": {}},
                {"name": "text", "type": "string", "nullable": True,
                 "metadata": {}},
            ],
        }
        commit = "\n".join(
            [
                _json.dumps({"protocol": {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["timestampNtz"],
                    "writerFeatures": ["timestampNtz"]}}),
                _json.dumps({"metaData": {
                    "id": f"tbl-{tid}", "format": {"provider": "parquet"},
                    "schemaString": _json.dumps(schema),
                    "partitionColumns": [], "configuration": {}}}),
                _json.dumps({"add": {"path": "f0.parquet", "size": len(blob),
                                     "dataChange": True,
                                     "partitionValues": {}}}),
            ]
        )
        tar = _tar(
            [
                ("_delta_log/" + "0" * 20 + ".json", commit.encode("utf-8")),
                ("f0.parquet", blob),
            ]
        )
        flags = {
            el["name"]: _ntz_flag(el) for el in _footer(blob)["schema"]
        }
        assert flags["ts_ntz"] is True and flags["ts_utc"] is False, flags
        out_ids, out_ntz, out_utc, digs = [], [], [], []
        for _v, row in _rows(tar, ["doc_id", "ts_ntz", "ts_utc", "text"]):
            out_ids.append(int(row["doc_id"]))
            out_ntz.append(int(row["ts_ntz"]))
            out_utc.append(int(row["ts_utc"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        k = len(out_ids)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "ts_ntz_micros": np.array(out_ntz, dtype="int64"),
                "ts_utc_micros": np.array(out_utc, dtype="int64"),
                "ntz_is_naive": np.full(k, flags["ts_ntz"], dtype="bool"),
                "utc_is_naive": np.full(k, flags["ts_utc"], dtype="bool"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, DELTA_TS_NTZ_SCHEMA)
    )


ICEBERG_V3_DV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_v3_dv_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E190 Iceberg v3 DELETION VECTORS in PUFFIN (round 16): every 64
    docs become a v2-layout table (commit 1 = four ≤16-row data
    files), then commit 2 adds ONE puffin file carrying one
    deletion-vector-v1 blob PER data file (4-byte BE length framing,
    D1D33964 magic, Delta-compatible RoaringBitmapArray payload,
    CRC-32C) killing the rows whose doc_id%8==5; each blob is
    referenced by a content=1 manifest entry with referenced_data_file
    + content_offset/content_size_in_bytes (MANIFEST_SCHEMA_V3 —
    resolved beside plain-v2 manifests through the round-16
    reader-schema machinery). Resolution issues the ranged read into
    the puffin blob region and applies the vector to exactly its
    referenced file under the >= sequence rule. One applyInPandas per
    table; map-only resolve."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw
    from yark_spark.operators import puffin as _puffin_mod

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _rows = _ice.iceberg_snapshot_rows
    _dv_build = _puffin_mod.dv_blob_build
    _pf_build = _puffin_mod.puffin_build
    _pf_footer = _puffin_mod.puffin_footer

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]
        m = _create(fields, location=f"tbl-{tid}")
        file_ids = [ids[k : k + 16] for k in range(0, len(ids), 16)]
        file_texts = [texts[k : k + 16] for k in range(0, len(ids), 16)]
        m, _s1 = _commit(
            m,
            data_files=[
                (
                    f"data/p{j}.parquet",
                    _write(
                        {"doc_id": fids, "text": ftexts},
                        types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                        codec="SNAPPY",
                    ),
                    len(fids),
                )
                for j, (fids, ftexts) in enumerate(zip(file_ids, file_texts))
            ],
        )
        blobs, cards = [], []
        for j, fids in enumerate(file_ids):
            dead = [pos for pos, did in enumerate(fids) if did % 8 == 5]
            blob, card = _dv_build(dead)
            blobs.append(
                {
                    "type": "deletion-vector-v1",
                    "data": blob,
                    "properties": {
                        "referenced-data-file": f"data/p{j}.parquet",
                        "cardinality": str(card),
                    },
                }
            )
            cards.append(card)
        pf = _pf_build(blobs)
        metas = _pf_footer(pf)["blobs"]
        m, _s2 = _commit(
            m,
            delete_files=[
                {
                    "path": "metadata/dv-1.puffin",
                    "blob": pf,
                    "content": 1,
                    "record_count": cards[j],
                    "referenced_data_file": f"data/p{j}.parquet",
                    "content_offset": metas[j]["offset"],
                    "content_size_in_bytes": metas[j]["length"],
                }
                for j in range(len(file_ids))
            ],
        )
        rows = _rows(_tar(sorted(m.items())), ["doc_id", "text"])
        out_i, out_n, out_d = [], [], []
        for _seq, r in rows:
            out_i.append(int(r["doc_id"]))
            out_n.append(len(r["text"]))
            out_d.append(_h.md5(r["text"].encode("utf-8")).hexdigest())
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": out_d,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, ICEBERG_V3_DV_SCHEMA)
    )


DELTA_MULTIPART_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("n_parts", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_multipart_checkpoint_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E191 Delta MULTI-PART checkpoints (round 16): every 32 docs
    become a two-commit table (v0 adds two files, v1 removes the
    second and re-adds its first 8 docs), then the checkpoint state is
    split across N part files (`<V>.checkpoint.<part>.<of>.parquet`,
    N cycling 2/3 by table, one action row per part in round-robin)
    with `_last_checkpoint` declaring "parts": N and the JSON log
    DELETED — resolution must union EVERY part (a reader that opens
    only `<V>.checkpoint.parquet`, or only part 1, has nothing or half
    a table). Big tables' checkpoints actually arrive this way. One
    applyInPandas per table; map-only resolve."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows

    _write = _pw_mod.parquet_write
    _pmap = _pw_mod.pmap

    def _build_and_resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        n_parts = 2 + tid % 2
        p0 = _write(
            {"doc_id": ids[:16], "text": texts[:16]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        p2 = _write(
            {"doc_id": ids[16:24], "text": texts[16:24]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        # checkpoint state at v1: p0 (added v0) + p2 (added v1)
        action_rows = [
            ("protocol", {"minReaderVersion": 1}),
            ("metaData", {"id": f"tbl-{tid}", "schemaString": None,
                          "configuration": None}),
            ("add", {"path": "p0.parquet", "size": len(p0),
                     "partitionValues": None}),
            ("add", {"path": "p2.parquet", "size": len(p2),
                     "partitionValues": None}),
        ]
        types_spec = {
            "protocol": {"minReaderVersion": "INT32"},
            "metaData": {
                "id": "BYTE_ARRAY",
                "schemaString": "BYTE_ARRAY",
                "configuration": _pmap("BYTE_ARRAY", "BYTE_ARRAY"),
            },
            "add": {
                "path": "BYTE_ARRAY",
                "size": "INT64",
                "partitionValues": _pmap("BYTE_ARRAY", "BYTE_ARRAY"),
            },
            "remove": {"path": "BYTE_ARRAY"},
        }
        part_blobs = []
        for p in range(n_parts):
            mine = action_rows[p::n_parts]
            cols = {"protocol": [], "metaData": [], "add": [], "remove": []}
            for kind, row in mine:
                for c in cols:
                    cols[c].append(row if c == kind else None)
            part_blobs.append(_write(cols, types=types_spec, codec="SNAPPY"))
        members = [
            ("p0.parquet", p0),
            ("p2.parquet", p2),
            (
                "_delta_log/_last_checkpoint",
                _json.dumps({"version": 1, "parts": n_parts}).encode(),
            ),
        ]
        for p, blob in enumerate(part_blobs, start=1):
            members.append(
                (
                    "_delta_log/" + f"{1:020d}" + ".checkpoint."
                    + f"{p:010d}" + "." + f"{n_parts:010d}" + ".parquet",
                    blob,
                )
            )
        out_ids, out_ns, digs = [], [], []
        for _v, row in _rows(_tar(sorted(members)), ["doc_id", "text"]):
            out_ids.append(int(row["doc_id"]))
            out_ns.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        k = len(out_ids)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_ids, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "n_parts": np.full(k, n_parts, dtype="int32"),
                "n_chars": np.array(out_ns, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_resolve, DELTA_MULTIPART_SCHEMA)
    )


DELTA_CDF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("commit_version", IntegerType()),
        StructField("change_type", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_change_feed_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E192 Delta CHANGE DATA FEED (round 16): every 32 docs become a
    four-commit table — v0 adds the first half, v1 adds the second,
    v2 REMOVES the first, v3 is an OPTIMIZE rewrite of the second
    (remove + re-add with dataChange: false). The feed over (0, 3]
    must emit exactly: the second half as inserts@1 and the first
    half as deletes@2 — and NOTHING for v3 (a consumer that re-emits
    compacted rows double-counts every rewrite; a consumer that reads
    the v0 adds ignores the range bound). File-granularity CDF is how
    incremental consumers tail a Delta table without rescanning the
    snapshot. One applyInPandas per table; map-only."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _feed = _dl.delta_change_feed

    _write = _pw_mod.parquet_write

    def _build_and_read(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        by_id = dict(zip(ids, texts))
        p0 = _write(
            {"doc_id": ids[:16], "text": texts[:16]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        p1 = _write(
            {"doc_id": ids[16:], "text": texts[16:]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"}, codec="SNAPPY",
        )
        commits = [
            [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": f"tbl-{tid}",
                              "format": {"provider": "parquet"}}},
                {"add": {"path": "p0.parquet", "size": len(p0),
                         "dataChange": True, "partitionValues": {}}},
            ],
            [{"add": {"path": "p1.parquet", "size": len(p1),
                      "dataChange": True, "partitionValues": {}}}],
            [{"remove": {"path": "p0.parquet", "dataChange": True}}],
            [
                {"remove": {"path": "p1.parquet", "dataChange": False}},
                {"add": {"path": "p1c.parquet", "size": len(p1),
                         "dataChange": False, "partitionValues": {}}},
            ],
        ]
        members = [("p0.parquet", p0), ("p1.parquet", p1),
                   ("p1c.parquet", p1)]
        for v, actions in enumerate(commits):
            members.append(
                (
                    f"_delta_log/{v:020d}.json",
                    ("\n".join(_json.dumps(a) for a in actions) + "\n").encode(),
                )
            )
        feed = _feed(_tar(sorted(members)), 0, 3, columns=["doc_id", "text"])
        out_i, out_v, out_c, out_n, digs = [], [], [], [], []
        for v, change, row in feed:
            out_i.append(int(row["doc_id"]))
            out_v.append(v)
            out_c.append(change)
            out_n.append(len(row["text"]))
            digs.append(
                _h.md5(by_id[int(row["doc_id"])].encode("utf-8")).hexdigest()
            )
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "commit_version": np.array(out_v, dtype="int32"),
                "change_type": out_c,
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_read, DELTA_CDF_SCHEMA)
    )


ICEBERG_INCR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("snap_ordinal", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_incremental_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E193 Iceberg INCREMENTAL APPEND SCAN (round 16, the Delta CDF
    twin): every 64 docs become a three-append table (p0 = first 32
    docs at snapshot 1, p1 = next 16 at snapshot 2, p2 = rest at
    snapshot 3); the incremental scan over (s1, s3] must return
    EXACTLY p1 and p2's rows tagged with their adding snapshot —
    a reader that rescans the snapshot re-emits p0, one that misses
    a parent-chain hop drops a file, and reused manifests (every
    later manifest-list carries the earlier manifests verbatim)
    contribute nothing. One applyInPandas per table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_data as _pd_mod
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _read = _pd_mod.parquet_read_columns
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _incr = _ice.iceberg_incremental_files

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]

        def pq(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        m = _create(fields, location=f"tbl-{tid}")
        m, s1 = _commit(
            m, data_files=[("data/p0.parquet", pq(0, 32), len(ids[:32]))]
        )
        m, s2 = _commit(
            m, data_files=[("data/p1.parquet", pq(32, 48), len(ids[32:48]))]
        )
        m, s3 = _commit(
            m, data_files=[("data/p2.parquet", pq(48, 64), len(ids[48:64]))]
        )
        members = dict(m)
        feed = _incr(_tar(sorted(m.items())), s1, s3)
        ordinal = {s2: 2, s3: 3}
        out_i, out_o, out_n, digs = [], [], [], []
        for sid, rec in feed:
            cols = _read(members[rec["path"]], ["doc_id", "text"])
            for did, text in zip(cols["doc_id"], cols["text"]):
                out_i.append(int(did))
                out_o.append(ordinal[sid])
                out_n.append(len(text))
                digs.append(_h.md5(text.encode("utf-8")).hexdigest())
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "snap_ordinal": np.array(out_o, dtype="int32"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, ICEBERG_INCR_SCHEMA)
    )


DELTA_STATS_SKIP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("files_skipped", IntegerType()),
        StructField("files_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_stats_skip_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E194 Delta FILE-LEVEL STATS SKIPPING (round 17, VERDICT r16 #1):
    every 32 docs become a 4-file table whose add actions carry
    ``stats`` JSON (numRecords/minValues/maxValues/nullCount) — except
    file 1, which has NO stats and must always scan (pruning never
    invents evidence). Files 0/3 are PYARROW-written foreign wire.
    The doc_id range predicate provably excludes files 0 and 3
    (files_skipped=2) and scans files 1 and 2 (files_scanned=2); a
    reader that opens everything or skips the stats-less file fails
    the counters. Odd tables attach a deletion vector to file 2
    (stats must ride the re-add); tables %4==2 rewrite into a classic
    checkpoint and %4==3 into a V2 checkpoint first (stats must
    survive both as the string column). One applyInPandas per table;
    map-only."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _stats_fn = _dl.delta_stats
    _scan = _dl.delta_stats_scan
    _add_dv = _dl.delta_add_deletion_vectors
    _ckpt = _dl.delta_checkpoint_table
    _ckpt_v2 = _dl.delta_checkpoint_table_v2

    _write = _pw_mod.parquet_write

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import io as _io
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        base = tid * 32
        by_id = dict(zip(ids, texts))

        def own_pq(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        def pa_pq(lo, hi):
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            buf = _io.BytesIO()
            _pq.write_table(
                _pa.table(
                    {
                        "doc_id": _pa.array(ids[lo:hi], _pa.int64()),
                        "text": _pa.array(texts[lo:hi]),
                    }
                ),
                buf,
            )
            return buf.getvalue()

        blobs = [pa_pq(0, 8), own_pq(8, 16), own_pq(16, 24), pa_pq(24, 32)]
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": f"tbl-{tid}",
                    "format": {"provider": "parquet"},
                    "schemaString": _json.dumps(
                        {
                            "type": "struct",
                            "fields": [
                                {"name": "doc_id", "type": "long",
                                 "nullable": True, "metadata": {}},
                                {"name": "text", "type": "string",
                                 "nullable": True, "metadata": {}},
                            ],
                        }
                    ),
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
        ]
        members = []
        for fi, blob in enumerate(blobs):
            path = f"p{fi}.parquet"
            members.append((path, blob))
            add = {
                "path": path,
                "size": len(blob),
                "dataChange": True,
                "partitionValues": {},
            }
            if fi != 1:  # file 1: deliberately stats-less
                lo, hi = fi * 8, fi * 8 + 8
                add["stats"] = _stats_fn(
                    {"doc_id": ids[lo:hi], "text": texts[lo:hi]}
                )
            actions.append({"add": add})
        members.append(
            (
                "_delta_log/" + "0" * 20 + ".json",
                ("\n".join(_json.dumps(a) for a in actions) + "\n").encode(),
            )
        )
        tar = _tar(sorted(members))
        if tid % 2 == 1:
            # DV on file 2's local row 4 (doc base+20): the re-add
            # must carry the stats forward
            tar = _add_dv(tar, {"p2.parquet": [4]})
        if tid % 4 == 2:
            tar = _ckpt(tar)
        elif tid % 4 == 3:
            tar = _ckpt_v2(tar, manifest_format="json")
        rows, counters = _scan(
            tar,
            ["doc_id", "text"],
            [("doc_id", ">=", base + 16), ("doc_id", "<", base + 24)],
        )
        out_i, out_n, digs = [], [], []
        for row in rows:
            out_i.append(int(row["doc_id"]))
            out_n.append(len(row["text"]))
            digs.append(
                _h.md5(by_id[int(row["doc_id"])].encode("utf-8")).hexdigest()
            )
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "files_skipped": np.full(
                    k, counters["files_skipped"], dtype="int32"
                ),
                "files_scanned": np.full(
                    k, counters["files_scanned"], dtype="int32"
                ),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, DELTA_STATS_SKIP_SCHEMA)
    )


ICEBERG_BOUNDS_PRUNE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("files_skipped", IntegerType()),
        StructField("files_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_bounds_prune_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E195 Iceberg FILE-LEVEL BOUNDS PRUNING (round 17, VERDICT r16
    #1, the Delta stats twin): every 64 docs become a 4-file table
    committed in two appends whose manifest entries carry
    lower/upper_bounds + value/null_value_counts (single-value
    serialization, field-id keyed k/v records — file 1 is
    PYARROW-written foreign wire); a third commit adds an equality
    delete (doc_id keys base+35 / base+51). The range predicate
    provably excludes files 0/1 (files_skipped=2) and scans 2/3;
    the delete file is NEVER bounds-pruned, so the deleted keys
    vanish from the survivors — a reader that prunes delete files by
    data bounds, or ignores bounds entirely, fails counters or hash.
    One applyInPandas per table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _scan = _ice.iceberg_bounds_scan

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import io as _io

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        base = tid * 64
        by_id = dict(zip(ids, texts))
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]

        def own_pq(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        def pa_pq(lo, hi):
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            buf = _io.BytesIO()
            _pq.write_table(
                _pa.table(
                    {
                        "doc_id": _pa.array(ids[lo:hi], _pa.int64()),
                        "text": _pa.array(texts[lo:hi]),
                    }
                ),
                buf,
            )
            return buf.getvalue()

        def stats(lo, hi):
            # slices derive from the ACTUAL group (the tail table at
            # small SFs is partial); an empty slice carries counts of 0
            # and no bounds — a 0-record file is provably unmatchable
            chunk_i, chunk_t = ids[lo:hi], texts[lo:hi]
            st = {
                "value_counts": {1: len(chunk_i), 2: len(chunk_t)},
                "null_value_counts": {1: 0, 2: 0},
            }
            if chunk_i:
                st["lower_bounds"] = {1: min(chunk_i), 2: min(chunk_t)}
                st["upper_bounds"] = {1: max(chunk_i), 2: max(chunk_t)}
            return st

        def n_rows(lo, hi):
            return len(ids[lo:hi])

        m = _create(fields, location=f"tbl-{tid}")
        m, _s1 = _commit(
            m,
            data_files=[
                ("data/p0.parquet", own_pq(0, 16), n_rows(0, 16)),
                ("data/p1.parquet", pa_pq(16, 32), n_rows(16, 32)),
            ],
            stats_by_path={
                "data/p0.parquet": stats(0, 16),
                "data/p1.parquet": stats(16, 32),
            },
        )
        m, _s2 = _commit(
            m,
            data_files=[
                ("data/p2.parquet", own_pq(32, 48), n_rows(32, 48)),
                ("data/p3.parquet", pa_pq(48, 64), n_rows(48, 64)),
            ],
            stats_by_path={
                "data/p2.parquet": stats(32, 48),
                "data/p3.parquet": stats(48, 64),
            },
        )
        del_blob = _write(
            {"doc_id": [base + 35, base + 51]},
            types={"doc_id": "INT64"},
            codec="SNAPPY",
        )
        m, _s3 = _commit(
            m,
            delete_files=[
                {
                    "path": "data/d0.parquet",
                    "blob": del_blob,
                    "content": 2,
                    "record_count": 2,
                    "equality_ids": [1],
                }
            ],
        )
        rows, counters = _scan(
            _tar(sorted(m.items())),
            ["doc_id", "text"],
            [("doc_id", ">=", base + 32), ("doc_id", "<", base + 56)],
        )
        out_i, out_n, digs = [], [], []
        for row in rows:
            out_i.append(int(row["doc_id"]))
            out_n.append(len(row["text"]))
            digs.append(
                _h.md5(by_id[int(row["doc_id"])].encode("utf-8")).hexdigest()
            )
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "files_skipped": np.full(
                    k, counters["files_skipped"], dtype="int32"
                ),
                "files_scanned": np.full(
                    k, counters["files_scanned"], dtype="int32"
                ),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, ICEBERG_BOUNDS_PRUNE_SCHEMA)
    )


DELTA_CDF_ROWS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("commit_version", IntegerType()),
        StructField("change_type", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_cdf_rows_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E196 Delta PER-ROW CHANGE DATA FEED (round 17, VERDICT r16 #2):
    every 32 docs become a four-commit table — v0 adds the first half,
    v1 adds the second, v2 is a MERGE-shaped UPDATE of the first four
    docs (remove + rewritten re-add PLUS a ``cdc`` action whose
    ``_change_data`` parquet carries update_preimage/update_postimage
    rows with a ``_change_type`` column), v3 attaches a deletion
    vector killing the second file's first four rows. The feed over
    (0, 3] must emit: the second half as inserts@1, EXACTLY the 8 cdc
    rows @2 (a reader that also synthesizes from the rewrite actions
    double-counts the update), and the DV DIFF as 4 deletes@3 (was a
    typed reject). Postimage digests prove the cdc file's values flow
    through (text + '-v2'). One applyInPandas per table; map-only."""
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod

    _feed = _dl.delta_change_feed
    _add_dv = _dl.delta_add_deletion_vectors

    _tar = _cont.tar_build
    _write = _pw_mod.parquet_write

    def _build_and_read(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        texts_v2 = [
            t + "-v2" if i < 4 else t for i, t in enumerate(texts[:16])
        ]

        def pq(id_chunk, text_chunk):
            return _write(
                {"doc_id": id_chunk, "text": text_chunk},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        p0 = pq(ids[:16], texts[:16])
        p0v2 = pq(ids[:16], texts_v2)
        p1 = pq(ids[16:], texts[16:])
        cdc = _write(
            {
                "doc_id": ids[:4] + ids[:4],
                "text": texts[:4] + texts_v2[:4],
                "_change_type": ["update_preimage"] * 4
                + ["update_postimage"] * 4,
            },
            types={
                "doc_id": "INT64",
                "text": "BYTE_ARRAY",
                "_change_type": "BYTE_ARRAY",
            },
            codec="SNAPPY",
        )
        commits = [
            [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": f"tbl-{tid}",
                              "format": {"provider": "parquet"}}},
                {"add": {"path": "p0.parquet", "size": len(p0),
                         "dataChange": True, "partitionValues": {}}},
            ],
            [{"add": {"path": "p1.parquet", "size": len(p1),
                      "dataChange": True, "partitionValues": {}}}],
            [
                {"remove": {"path": "p0.parquet", "dataChange": True}},
                {"add": {"path": "p0v2.parquet", "size": len(p0v2),
                         "dataChange": True, "partitionValues": {}}},
                {"cdc": {"path": "_change_data/c0.parquet",
                         "size": len(cdc), "dataChange": False,
                         "partitionValues": {}}},
            ],
        ]
        members = [("p0.parquet", p0), ("p0v2.parquet", p0v2),
                   ("p1.parquet", p1), ("_change_data/c0.parquet", cdc)]
        for v, actions in enumerate(commits):
            members.append(
                (
                    f"_delta_log/{v:020d}.json",
                    ("\n".join(_json.dumps(a) for a in actions) + "\n").encode(),
                )
            )
        tar = _tar(sorted(members))
        # v3: DV attach killing p1's first four rows (the per-row
        # delete path — the diff, not the file, must come out)
        tar = _add_dv(tar, {"p1.parquet": [0, 1, 2, 3]})
        feed = _feed(tar, 0, 3, columns=["doc_id", "text"])
        out_i, out_v, out_c, out_n, digs = [], [], [], [], []
        for v, change, row in feed:
            out_i.append(int(row["doc_id"]))
            out_v.append(v)
            out_c.append(change)
            out_n.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "commit_version": np.array(out_v, dtype="int32"),
                "change_type": out_c,
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_read, DELTA_CDF_ROWS_SCHEMA)
    )


ICEBERG_CHANGELOG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("snap_ordinal", IntegerType()),
        StructField("change_type", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_changelog_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E197 Iceberg CHANGELOG SCAN (round 17, VERDICT r16 #3): every
    64 docs become a four-snapshot table — s1 appends the first half,
    s2 appends two more files, s3 REMOVES one of them (manifest
    rewrite with DELETED-status entries, explicit sequence numbers),
    s4 adds an equality delete killing doc_id%16==5 keys. The
    changelog over (s1, s4] must emit s2's rows as inserts, the
    removed file's rows as deletes@s3, and exactly the equality-hit
    LIVE rows as deletes@s4 (keys inside the already-removed file
    must NOT re-emit). Where the incremental append scan raises on
    overwrite/delete snapshots, this is the CDC consumer's view
    (`operators/iceberg.py iceberg_changelog`). One applyInPandas per
    table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _changelog = _ice.iceberg_changelog

    def _build_and_read(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]

        def pq_slice(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        m = _create(fields, location=f"tbl-{tid}")
        m, s1 = _commit(
            m, data_files=[("data/p0.parquet", pq_slice(0, 32), len(ids[:32]))]
        )
        files2 = [("data/p1.parquet", pq_slice(32, 48), len(ids[32:48]))]
        if len(ids) > 48:
            files2.append(
                ("data/p2.parquet", pq_slice(48, 64), len(ids[48:64]))
            )
        m, _s2 = _commit(m, data_files=files2)
        m, _s3 = _commit(m, remove_files=["data/p1.parquet"])
        eq_keys = [i for i in ids if i % 16 == 5]
        del_blob = _write(
            {"doc_id": eq_keys}, types={"doc_id": "INT64"}, codec="SNAPPY"
        )
        m, s4 = _commit(
            m,
            delete_files=[
                {
                    "path": "data/d0.parquet",
                    "blob": del_blob,
                    "content": 2,
                    "record_count": len(eq_keys),
                    "equality_ids": [1],
                }
            ],
        )
        feed = _changelog(
            _tar(sorted(m.items())), s1, s4, columns=["doc_id", "text"]
        )
        out_i, out_o, out_c, out_n, digs = [], [], [], [], []
        for sid, change, row in feed:
            out_i.append(int(row["doc_id"]))
            out_o.append(sid)
            out_c.append(change)
            out_n.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "snap_ordinal": np.array(out_o, dtype="int32"),
                "change_type": out_c,
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_read, ICEBERG_CHANGELOG_SCHEMA)
    )


DELTA_OPTIMIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("files_in", IntegerType()),
        StructField("files_out", IntegerType()),
        StructField("cdf_events", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_optimize_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E198 Delta OPTIMIZE commit (round 17, VERDICT r16 #4): every 32
    docs become a 4-small-file table (odd tables carry a DV on file
    0's row 1); `delta_optimize` merges them into ONE file via a
    remove+add commit with dataChange:false, purging the DV
    physically and writing fresh stats. The output is the
    POST-OPTIMIZE snapshot (rows must equal the pre-optimize table
    minus DV'd docs), files_in=4/files_out=1 pin the compaction, and
    cdf_events=0 pins that the change feed over the optimize commit
    emits NOTHING (a consumer re-emitting compacted rows
    double-counts every rewrite). One applyInPandas per table;
    map-only."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _stats_fn = _dl.delta_stats
    _optimize = _dl.delta_optimize
    _rows = _dl.delta_snapshot_rows
    _feed = _dl.delta_change_feed
    _add_dv = _dl.delta_add_deletion_vectors

    _write = _pw_mod.parquet_write

    def _build_and_optimize(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": f"tbl-{tid}",
                          "format": {"provider": "parquet"}}},
        ]
        members = []
        for fi in range(4):
            lo, hi = fi * 8, fi * 8 + 8
            blob = _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )
            members.append((f"p{fi}.parquet", blob))
            actions.append(
                {"add": {"path": f"p{fi}.parquet", "size": len(blob),
                         "dataChange": True, "partitionValues": {},
                         "stats": _stats_fn({"doc_id": ids[lo:hi],
                                             "text": texts[lo:hi]})}}
            )
        members.append(
            (
                "_delta_log/" + "0" * 20 + ".json",
                ("\n".join(_json.dumps(a) for a in actions) + "\n").encode(),
            )
        )
        tar = _tar(sorted(members))
        v_pre = 0
        if tid % 2 == 1:
            tar = _add_dv(tar, {"p0.parquet": [1]})
            v_pre = 1
        opt, counters = _optimize(tar)
        cdf = _feed(opt, v_pre, v_pre + 1, columns=["doc_id"])
        out_i, out_n, digs = [], [], []
        for _v, row in _rows(opt, ["doc_id", "text"]):
            out_i.append(int(row["doc_id"]))
            out_n.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "files_in": np.full(k, counters["files_in"], dtype="int32"),
                "files_out": np.full(k, counters["files_out"], dtype="int32"),
                "cdf_events": np.full(k, len(cdf), dtype="int32"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_optimize, DELTA_OPTIMIZE_SCHEMA)
    )


ICEBERG_OPTIMIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("files_in", IntegerType()),
        StructField("files_out", IntegerType()),
        StructField("changelog_events", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_optimize_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E199 Iceberg OPTIMIZE commit (round 17, VERDICT r16 #4, the
    Delta twin): every 64 docs become a 4-file two-append table plus
    an equality delete killing doc_id%16==9; `iceberg_optimize`
    merges everything into ONE file under a ``replace`` snapshot —
    outstanding deletes MATERIALIZE (only live rows land, beyond the
    old deletes' sequence reach), inputs tombstone via the
    manifest-rewrite path, and fresh bounds ride the merged entry.
    Output = post-optimize snapshot rows; files_in=4/files_out=1 pin
    the compaction; changelog_events=0 pins that a replace snapshot
    emits nothing to CDC consumers. One applyInPandas per table;
    map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _optimize = _ice.iceberg_optimize
    _rows = _ice.iceberg_snapshot_rows
    _changelog = _ice.iceberg_changelog

    def _build_and_optimize(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]

        def pq_slice(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        m = _create(fields, location=f"tbl-{tid}")
        m, _s1 = _commit(m, data_files=[
            ("data/p0.parquet", pq_slice(0, 16), 16),
            ("data/p1.parquet", pq_slice(16, 32), 16),
        ])
        m, _s2 = _commit(m, data_files=[
            ("data/p2.parquet", pq_slice(32, 48), 16),
            ("data/p3.parquet", pq_slice(48, 64), 16),
        ])
        eq_keys = [i for i in ids if i % 16 == 9]
        m, s3 = _commit(m, delete_files=[{
            "path": "data/d0.parquet",
            "blob": _write({"doc_id": eq_keys}, types={"doc_id": "INT64"},
                           codec="SNAPPY"),
            "content": 2, "record_count": len(eq_keys),
            "equality_ids": [1],
        }])
        m2, sid, counters = _optimize(m)
        tar = _tar(sorted(m2.items()))
        events = _changelog(tar, s3, sid, columns=["doc_id"])
        out_i, out_n, digs = [], [], []
        for _v, row in _rows(tar, ["doc_id", "text"]):
            out_i.append(int(row["doc_id"]))
            out_n.append(len(row["text"]))
            digs.append(_h.md5(row["text"].encode("utf-8")).hexdigest())
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "files_in": np.full(k, counters["files_in"], dtype="int32"),
                "files_out": np.full(k, counters["files_out"], dtype="int32"),
                "changelog_events": np.full(k, len(events), dtype="int32"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_optimize, ICEBERG_OPTIMIZE_SCHEMA)
    )


DELTA_TT_TS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("probe_ordinal", IntegerType()),
        StructField("version_resolved", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_time_travel_ts_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E200 Delta TIMESTAMP AS OF (round 17, VERDICT r16 #5): every 32
    docs become a three-commit table whose commits carry
    ``commitInfo.timestamp`` 1000/2000/3000 — v0 adds the first half,
    v1 the second, v2 removes the first. Probe 1500 must resolve v0
    (latest commit at-or-before, NOT nearest: 2000 is closer), probe
    2500 resolves v1 — Spark's timestampAsOf rule via
    `operators/deltalog.py delta_version_at_timestamp`. Rows come
    from the timestamp-resolved snapshot replay. One applyInPandas
    per table; map-only."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows
    _at_ts = _dl.delta_version_at_timestamp

    _write = _pw_mod.parquet_write

    def _build_and_probe(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32

        def pq_slice(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        p0, p1 = pq_slice(0, 16), pq_slice(16, 32)
        commits = [
            [
                {"commitInfo": {"timestamp": 1000}},
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": f"tbl-{tid}",
                              "format": {"provider": "parquet"}}},
                {"add": {"path": "p0.parquet", "size": len(p0),
                         "dataChange": True, "partitionValues": {}}},
            ],
            [
                {"commitInfo": {"timestamp": 2000}},
                {"add": {"path": "p1.parquet", "size": len(p1),
                         "dataChange": True, "partitionValues": {}}},
            ],
            [
                {"commitInfo": {"timestamp": 3000}},
                {"remove": {"path": "p0.parquet", "dataChange": True}},
            ],
        ]
        members = [("p0.parquet", p0), ("p1.parquet", p1)]
        for v, actions in enumerate(commits):
            members.append(
                (
                    f"_delta_log/{v:020d}.json",
                    ("\n".join(_json.dumps(a) for a in actions) + "\n").encode(),
                )
            )
        tar = _tar(sorted(members))
        out_i, out_p, out_v, out_n, digs = [], [], [], [], []
        for ordinal, probe_ts in ((1, 1500), (2, 2500)):
            resolved = _at_ts(tar, probe_ts)
            for _ver, row in _rows(tar, ["doc_id", "text"], version=resolved):
                out_i.append(int(row["doc_id"]))
                out_p.append(ordinal)
                out_v.append(resolved)
                out_n.append(len(row["text"]))
                digs.append(
                    _h.md5(row["text"].encode("utf-8")).hexdigest()
                )
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "probe_ordinal": np.array(out_p, dtype="int32"),
                "version_resolved": np.array(out_v, dtype="int32"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_probe, DELTA_TT_TS_SCHEMA)
    )


ICEBERG_TT_TS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("probe_ordinal", IntegerType()),
        StructField("snap_resolved", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_time_travel_ts_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E201 Iceberg AS-OF-TIMESTAMP (round 17, VERDICT r16 #5, the
    Delta twin): every 64 docs become a three-append table whose
    snapshots carry timestamp-ms = sequence (the commit API's
    deterministic lineage clock). Probe ts=2 must resolve snapshot 2
    (latest at-or-before on the CURRENT ancestry chain), probe ts=999
    the head — `operators/iceberg.py iceberg_snapshot_at_timestamp`.
    One applyInPandas per table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _rows = _ice.iceberg_snapshot_rows
    _at_ts = _ice.iceberg_snapshot_at_timestamp

    def _build_and_probe(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]

        def pq_slice(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        m = _create(fields, location=f"tbl-{tid}")
        m, _s1 = _commit(
            m, data_files=[("data/p0.parquet", pq_slice(0, 32), len(ids[:32]))]
        )
        m, s2 = _commit(
            m, data_files=[("data/p1.parquet", pq_slice(32, 48), len(ids[32:48]))]
        )
        m, s3 = _commit(
            m, data_files=[("data/p2.parquet", pq_slice(48, 64), len(ids[48:64]))]
        )
        tar = _tar(sorted(m.items()))
        out_i, out_p, out_s, out_n, digs = [], [], [], [], []
        del s2, s3  # resolution must come from the timestamp probe
        for ordinal, probe_ts in ((1, 2), (2, 999)):
            resolved = _at_ts(tar, probe_ts)
            for _ver, row in _rows(
                tar, ["doc_id", "text"], snapshot_id=resolved
            ):
                out_i.append(int(row["doc_id"]))
                out_p.append(ordinal)
                out_s.append(resolved)
                out_n.append(len(row["text"]))
                digs.append(
                    _h.md5(row["text"].encode("utf-8")).hexdigest()
                )
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "probe_ordinal": np.array(out_p, dtype="int32"),
                "snap_resolved": np.array(out_s, dtype="int32"),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_probe, ICEBERG_TT_TS_SCHEMA)
    )


ICEBERG_REFS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("ref", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_refs_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E202 Iceberg SNAPSHOT REFS (round 17, VERDICT r16 #9 stretch):
    every 64 docs become a table with a TAG pinned at snapshot 1, a
    second main commit, and a BRANCH forked from snapshot 1 that
    receives its own commit — main, tag, and branch then read three
    DIVERGENT row sets from one metadata file (`operators/iceberg.py
    iceberg_create_ref` / `iceberg_resolve_ref` /
    `iceberg_commit(branch=...)`). A reader that conflates refs with
    the head, or lets a branch commit move main, fails the hash. One
    applyInPandas per table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _mk_ref = _ice.iceberg_create_ref
    _resolve = _ice.iceberg_resolve_ref
    _rows = _ice.iceberg_snapshot_rows

    def _build_and_read(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]

        def pq_slice(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        m = _create(fields, location=f"tbl-{tid}")
        m, s1 = _commit(
            m, data_files=[("data/p0.parquet", pq_slice(0, 32), len(ids[:32]))]
        )
        m = _mk_ref(m, "v1", "tag")
        m, _s2 = _commit(
            m, data_files=[("data/p1.parquet", pq_slice(32, 48), len(ids[32:48]))]
        )
        m = _mk_ref(m, "audit", "branch", snapshot_id=s1)
        m, _s3 = _commit(
            m,
            data_files=[("data/p2.parquet", pq_slice(48, 64), len(ids[48:64]))],
            branch="audit",
        )
        tar = _tar(sorted(m.items()))
        out_i, out_r, out_n, digs = [], [], [], []
        for ref in ("main", "v1", "audit"):
            sid = _resolve(tar, ref)
            for _ver, row in _rows(tar, ["doc_id", "text"], snapshot_id=sid):
                out_i.append(int(row["doc_id"]))
                out_r.append(ref)
                out_n.append(len(row["text"]))
                digs.append(
                    _h.md5(row["text"].encode("utf-8")).hexdigest()
                )
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "ref": out_r,
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_read, ICEBERG_REFS_SCHEMA)
    )


DELTA_WIDEN_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("file_kind", StringType()),
        StructField("score", DoubleType()),
        StructField("ts_micros", LongType()),
    ]
)


def delta_type_widening_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E203 Delta TYPE WIDENING (round 17): every 32 docs become a
    two-commit table whose v0 file is written under the NARROW types
    (INT32 ids, FLOAT scores, INT32 date-days) and whose v1 widens
    the schema to long/double/timestampNtz under the ``typeWidening``
    readerFeature with a wide-typed file beside it. The snapshot read
    must upcast the narrow file's values to the CURRENT schema —
    date-days convert to midnight micros keyed off the file's own
    physical type (the wide file's INT64 micros must NOT re-convert)
    — so both halves agree with one doc_id-arithmetic oracle
    (`operators/deltalog.py` `_check_protocol` /
    `delta_snapshot_rows`). One applyInPandas per table; map-only."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows

    _write = _pw_mod.parquet_write

    def _build_and_read(pdf: pd.DataFrame) -> pd.DataFrame:
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        tid = ids[0] // 32
        lo_ids, hi_ids = ids[:16], ids[16:]
        p0 = _write(
            {
                "doc_id": lo_ids,
                "score": [(i % 32) / 2.0 for i in lo_ids],
                "ts": [10000 + i % 32 for i in lo_ids],
            },
            types={"doc_id": "INT32", "score": "FLOAT", "ts": "INT32"},
            codec="SNAPPY",
        )
        p1 = _write(
            {
                "doc_id": hi_ids,
                "score": [(i % 32) / 2.0 for i in hi_ids],
                "ts": [(10000 + i % 32) * 86_400_000_000 for i in hi_ids],
            },
            types={"doc_id": "INT64", "score": "DOUBLE", "ts": "INT64"},
            codec="SNAPPY",
        )
        narrow = _json.dumps({"type": "struct", "fields": [
            {"name": "doc_id", "type": "integer", "nullable": True,
             "metadata": {}},
            {"name": "score", "type": "float", "nullable": True,
             "metadata": {}},
            {"name": "ts", "type": "date", "nullable": True,
             "metadata": {}}]})
        wide = _json.dumps({"type": "struct", "fields": [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "score", "type": "double", "nullable": True,
             "metadata": {}},
            {"name": "ts", "type": "timestampNtz", "nullable": True,
             "metadata": {}}]})
        commits = [
            [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": f"tbl-{tid}",
                              "format": {"provider": "parquet"},
                              "schemaString": narrow,
                              "partitionColumns": [], "configuration": {}}},
                {"add": {"path": "p0.parquet", "size": len(p0),
                         "dataChange": True, "partitionValues": {}}},
            ],
            [
                {"protocol": {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["timestampNtz", "typeWidening"],
                    "writerFeatures": ["timestampNtz", "typeWidening"]}},
                {"metaData": {"id": f"tbl-{tid}",
                              "format": {"provider": "parquet"},
                              "schemaString": wide,
                              "partitionColumns": [], "configuration": {}}},
                {"add": {"path": "p1.parquet", "size": len(p1),
                         "dataChange": True, "partitionValues": {}}},
            ],
        ]
        members = [("p0.parquet", p0), ("p1.parquet", p1)]
        for v, actions in enumerate(commits):
            members.append(
                (
                    f"_delta_log/{v:020d}.json",
                    ("\n".join(_json.dumps(a) for a in actions) + "\n").encode(),
                )
            )
        tar = _tar(sorted(members))
        lo_set = set(lo_ids)
        out_i, out_k, out_s, out_t = [], [], [], []
        for _v, row in _rows(tar, ["doc_id", "score", "ts"]):
            did = int(row["doc_id"])
            out_i.append(did)
            out_k.append("narrow" if did in lo_set else "wide")
            out_s.append(float(row["score"]))
            out_t.append(int(row["ts"]))
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "file_kind": out_k,
                "score": np.array(out_s, dtype="float64"),
                "ts_micros": np.array(out_t, dtype="int64"),
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_read, DELTA_WIDEN_SCHEMA)
    )


DELTA_PART_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("files_skipped", IntegerType()),
        StructField("files_skipped_stats", IntegerType()),
        StructField("files_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def delta_part_stats_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E204 Delta PARTITION+STATS composed pruning (round 17): every
    32 docs become a Hive-partitioned table (4 buckets x 2 files of 4
    docs, every add carrying partitionValues AND stats). One scan with
    a partition probe and a doc_id predicate must prune at BOTH
    layers: 6 files fall to the partition conjunction, 1 more to
    stats, exactly 1 opens — the
    partition-prune-then-data-skip pipeline every real planner runs
    (`operators/deltalog.py delta_partition_scan(predicate=...)`).
    One applyInPandas per table; map-only."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators.containers import tar_build as _tar

    _stats_fn = _dl.delta_stats
    _scan = _dl.delta_partition_scan

    _write = _pw_mod.parquet_write

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        base = tid * 32
        by_id = dict(zip(ids, texts))
        schema = _json.dumps({"type": "struct", "fields": [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "text", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "bucket", "type": "long", "nullable": True,
             "metadata": {}}]})
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": f"tbl-{tid}",
                          "format": {"provider": "parquet"},
                          "schemaString": schema,
                          "partitionColumns": ["bucket"],
                          "configuration": {}}},
        ]
        members = []
        for bucket in range(4):
            for fi in range(2):
                lo = bucket * 8 + fi * 4
                hi = lo + 4
                blob = _write(
                    {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                    types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                    codec="SNAPPY",
                )
                path = f"bucket={bucket}/f{fi}.parquet"
                members.append((path, blob))
                actions.append(
                    {"add": {"path": path, "size": len(blob),
                             "dataChange": True,
                             "partitionValues": {"bucket": str(bucket)},
                             "stats": _stats_fn({"doc_id": ids[lo:hi],
                                                 "text": texts[lo:hi]})}}
                )
        members.append(
            (
                "_delta_log/" + "0" * 20 + ".json",
                ("\n".join(_json.dumps(a) for a in actions) + "\n").encode(),
            )
        )
        rows, counters = _scan(
            _tar(sorted(members)),
            ["doc_id", "text"],
            {"bucket": 2},
            predicate=[("doc_id", ">=", base + 20)],
        )
        out_i, out_n, digs = [], [], []
        for _v, row in rows:
            out_i.append(int(row["doc_id"]))
            out_n.append(len(row["text"]))
            digs.append(
                _h.md5(by_id[int(row["doc_id"])].encode("utf-8")).hexdigest()
            )
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "files_skipped": np.full(
                    k, counters["files_skipped"], dtype="int32"
                ),
                "files_skipped_stats": np.full(
                    k, counters["files_skipped_stats"], dtype="int32"
                ),
                "files_scanned": np.full(
                    k, counters["files_scanned"], dtype="int32"
                ),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, DELTA_PART_STATS_SCHEMA)
    )


ICEBERG_PART_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("files_skipped", IntegerType()),
        StructField("files_skipped_stats", IntegerType()),
        StructField("files_scanned", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_part_stats_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E205 Iceberg PARTITION+STATS composed pruning (round 17, the
    Delta twin): every 64 docs become an identity-partitioned table
    (4 partitions x 2 files of 8, manifest entries carrying the
    partition record AND the E195 bounds beside it). One scan with a
    partition probe and a doc_id predicate prunes at both layers —
    6 files to the partition struct, 1 to bounds, 1 opens
    (`operators/iceberg.py iceberg_partition_scan(predicate=...)`).
    One applyInPandas per table; map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _scan = _ice.iceberg_partition_scan

    def _build_and_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        base = tid * 64
        by_id = dict(zip(ids, texts))
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
            {"id": 3, "name": "part", "required": True, "type": "long"},
        ]
        spec = [{"name": "part", "transform": "identity",
                 "source-id": 3, "field-id": 1000}]
        m = _create(fields, location=f"tbl-{tid}", partition_spec=spec)
        files, stats = [], {}
        for part in range(4):
            for fi in range(2):
                lo = part * 16 + fi * 8
                hi = lo + 8
                blob = _write(
                    {"doc_id": ids[lo:hi], "text": texts[lo:hi],
                     "part": [part] * (hi - lo)},
                    types={"doc_id": "INT64", "text": "BYTE_ARRAY",
                           "part": "INT64"},
                    codec="SNAPPY",
                )
                p = f"data/part{part}-f{fi}.parquet"
                files.append((p, blob, hi - lo, {"part": part}))
                stats[p] = {
                    "value_counts": {1: hi - lo},
                    "null_value_counts": {1: 0},
                    "lower_bounds": {1: min(ids[lo:hi])},
                    "upper_bounds": {1: max(ids[lo:hi])},
                }
        m, _s1 = _commit(m, data_files=files, stats_by_path=stats)
        rows, counters = _scan(
            _tar(sorted(m.items())),
            ["doc_id", "text"],
            source_values={"part": 1},
            predicate=[("doc_id", ">=", base + 24)],
        )
        out_i, out_n, digs = [], [], []
        for row in rows:
            out_i.append(int(row["doc_id"]))
            out_n.append(len(row["text"]))
            digs.append(
                _h.md5(by_id[int(row["doc_id"])].encode("utf-8")).hexdigest()
            )
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "files_skipped": np.full(
                    k, counters["files_skipped"], dtype="int32"
                ),
                "files_skipped_stats": np.full(
                    k, counters["files_skipped_stats"], dtype="int32"
                ),
                "files_scanned": np.full(
                    k, counters["files_scanned"], dtype="int32"
                ),
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_scan, ICEBERG_PART_STATS_SCHEMA)
    )


ICEBERG_V1_WRITE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("view", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def iceberg_v1_write_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E206 Iceberg V1 TABLE WRITE (round 17): every 64 docs become a
    format-version-1 table written by the commit API's v1 path —
    V1_MANIFEST_SCHEMA entries (no sequence numbers anywhere: the
    reader plans every entry at sequence 0), V1_MANIFEST_LIST_SCHEMA
    records with verbatim manifest reuse — then read back three ways:
    the head snapshot ('head'), time travel to the first snapshot
    ('tt1'), and the incremental scan over (s1, s2] ('incr'). Delete
    files on v1 are a typed reject. One applyInPandas per table;
    map-only."""
    from yark_spark.operators import iceberg as _ice
    from yark_spark.operators import containers as _cont
    from yark_spark.operators import parquet_data as _pd_mod
    from yark_spark.operators import parquet_write as _pw

    _tar = _cont.tar_build
    _write = _pw.parquet_write
    _read = _pd_mod.parquet_read_columns
    _create = _ice.iceberg_table_create
    _commit = _ice.iceberg_commit
    _rows = _ice.iceberg_snapshot_rows
    _incr = _ice.iceberg_incremental_files

    def _build_and_read(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 64
        fields = [
            {"id": 1, "name": "doc_id", "required": True, "type": "long"},
            {"id": 2, "name": "text", "required": True, "type": "string"},
        ]

        def pq_slice(lo, hi):
            return _write(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]},
                types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
                codec="SNAPPY",
            )

        m = _create(fields, location=f"tbl-{tid}", format_version=1)
        m, s1 = _commit(
            m, data_files=[("data/p0.parquet", pq_slice(0, 32), len(ids[:32]))]
        )
        m, s2 = _commit(
            m, data_files=[("data/p1.parquet", pq_slice(32, 64), len(ids[32:64]))]
        )
        members = dict(m)
        tar = _tar(sorted(m.items()))
        out_i, out_v, out_n, digs = [], [], [], []

        def emit(view, doc_id, text):
            out_i.append(int(doc_id))
            out_v.append(view)
            out_n.append(len(text))
            digs.append(_h.md5(text.encode("utf-8")).hexdigest())

        for _ver, row in _rows(tar, ["doc_id", "text"]):
            emit("head", row["doc_id"], row["text"])
        for _ver, row in _rows(tar, ["doc_id", "text"], snapshot_id=s1):
            emit("tt1", row["doc_id"], row["text"])
        for _sid, rec in _incr(tar, s1, s2):
            cols = _read(members[rec["path"]], ["doc_id", "text"])
            for did, text in zip(cols["doc_id"], cols["text"]):
                emit("incr", did, text)
        k = len(out_i)
        return pd.DataFrame(
            {
                "doc_id": np.array(out_i, dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "view": out_v,
                "n_chars": np.array(out_n, dtype="int32"),
                "digest": digs,
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 64).cast("long").alias("__t"))
        .applyInPandas(_build_and_read, ICEBERG_V1_WRITE_SCHEMA)
    )


DELTA_VARIANT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("table_id", LongType()),
        StructField("v_id", LongType()),
        StructField("v_ntags", IntegerType()),
        StructField("v_tag_last", StringType()),
        StructField("v_even", BooleanType()),
        StructField("v_neg", LongType()),
        StructField("v_half", DoubleType()),
        StructField("v_text_digest", StringType()),
    ]
)


def delta_variant_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """E207 Delta VARIANT columns (round 17): every 32 docs become a
    table whose ``v`` column is schema type ``variant`` under the
    variantType readerFeature — each cell a from-scratch
    VariantEncoding.md buffer pair (sorted metadata dictionary;
    object/array/short+long string/int-width/bool/null/double tags)
    stored as a parquet {metadata BINARY, value BINARY} group with NO
    UTF8 annotation. The snapshot read decodes every cell back to
    Python and the emitted scalars (nested field projections) must
    match one doc_id-arithmetic oracle — a reader that mangles the
    dictionary order, an offset width, or the long-string path fails
    the hash (`operators/variant.py`, `operators/deltalog.py`). One
    applyInPandas per table; map-only."""
    from yark_spark.operators import deltalog as _dl
    from yark_spark.operators import parquet_write as _pw_mod
    from yark_spark.operators import variant as _var_mod
    from yark_spark.operators.containers import tar_build as _tar

    _rows = _dl.delta_snapshot_rows

    _write = _pw_mod.parquet_write
    _encode = _var_mod.variant_from_python

    def _build_and_read(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _h
        import json as _json

        import numpy as np

        pdf = pdf.sort_values(id_col)
        ids = [int(v) for v in pdf[id_col]]
        texts = list(pdf[text_col])
        tid = ids[0] // 32
        cells = []
        for i, text in zip(ids, texts):
            obj = {
                "id": i,
                "half": (i % 32) / 2.0,
                "text": text,
                "tags": [f"t{k}" for k in range(i % 3 + 1)],
                "meta": {"even": i % 2 == 0, "neg": -i},
                "nothing": None,
            }
            cells.append(_encode(obj))
        blob = _write(
            {
                "doc_id": ids,
                "v": [{"metadata": m, "value": val} for m, val in cells],
            },
            types={
                "doc_id": "INT64",
                "v": {"metadata": "BINARY", "value": "BINARY"},
            },
            codec="SNAPPY",
        )
        schema = _json.dumps({"type": "struct", "fields": [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "variant", "nullable": True,
             "metadata": {}}]})
        actions = [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["variantType"],
                          "writerFeatures": ["variantType"]}},
            {"metaData": {"id": f"tbl-{tid}",
                          "format": {"provider": "parquet"},
                          "schemaString": schema,
                          "partitionColumns": [], "configuration": {}}},
            {"add": {"path": "p.parquet", "size": len(blob),
                     "dataChange": True, "partitionValues": {}}},
        ]
        members = [
            ("p.parquet", blob),
            (
                "_delta_log/" + "0" * 20 + ".json",
                ("\n".join(_json.dumps(a) for a in actions) + "\n").encode(),
            ),
        ]
        out = {
            "doc_id": [], "v_id": [], "v_ntags": [], "v_tag_last": [],
            "v_even": [], "v_neg": [], "v_half": [], "v_text_digest": [],
        }
        for _ver, row in _rows(_tar(sorted(members)), ["doc_id", "v"]):
            v = row["v"]
            assert v["nothing"] is None  # null tag survives the wire
            out["doc_id"].append(int(row["doc_id"]))
            out["v_id"].append(int(v["id"]))
            out["v_ntags"].append(len(v["tags"]))
            out["v_tag_last"].append(v["tags"][-1])
            out["v_even"].append(bool(v["meta"]["even"]))
            out["v_neg"].append(int(v["meta"]["neg"]))
            out["v_half"].append(float(v["half"]))
            out["v_text_digest"].append(
                _h.md5(v["text"].encode("utf-8")).hexdigest()
            )
        k = len(out["doc_id"])
        return pd.DataFrame(
            {
                "doc_id": np.array(out["doc_id"], dtype="int64"),
                "table_id": np.full(k, tid, dtype="int64"),
                "v_id": np.array(out["v_id"], dtype="int64"),
                "v_ntags": np.array(out["v_ntags"], dtype="int32"),
                "v_tag_last": out["v_tag_last"],
                "v_even": np.array(out["v_even"], dtype="bool"),
                "v_neg": np.array(out["v_neg"], dtype="int64"),
                "v_half": np.array(out["v_half"], dtype="float64"),
                "v_text_digest": out["v_text_digest"],
            }
        )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .groupBy(F.floor(F.col(id_col) / 32).cast("long").alias("__t"))
        .applyInPandas(_build_and_read, DELTA_VARIANT_SCHEMA)
    )
