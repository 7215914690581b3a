"""The public decode functions over their native decoders: stdlib
``zlib`` behind ``png.inflate`` / ``png.zlib_decompress`` /
``containers.gzip_decompress``, stdlib ``bz2`` behind
``bzip2.bz2_decompress`` and pyarrow's C brotli behind
``brotli.brotli_decompress``.

Pinned here: the ``max_output`` bomb guard is exact (``len(raw)``
decodes, ``len(raw) - 1`` raises), streams from the native compressors
decode byte-exactly at every level (brotli's quality 0–11 matrix over
the same corpora is tests/test_brotli_static_dict.py), concatenated
bzip2 streams and gzip members decode to their concatenation, inflate
reports the consumed length across its input chunks, and brotli's
malformed-input contract (empty input, trailing bytes)."""

from __future__ import annotations

import bz2
import gzip
import random
import zlib

import pytest
from test_brotli_static_dict import CORPORA

from yark_spark.operators.brotli import brotli_decompress
from yark_spark.operators.bzip2 import bz2_decompress
from yark_spark.operators.containers import gzip_decompress, gzip_members
from yark_spark.operators.png import inflate, zlib_decompress

RAW = b"native decode path: one decoder per format. " * 400
ZDICT = b"the quick brown fox jumps over the lazy dog " * 20


def _raw_deflate(data: bytes, level: int = 6, zdict: bytes | None = None) -> bytes:
    co = (
        zlib.compressobj(level, zlib.DEFLATED, -15, zdict=zdict)
        if zdict
        else zlib.compressobj(level, zlib.DEFLATED, -15)
    )
    return co.compress(data) + co.flush()


def _brotli(data: bytes, quality: int = 11) -> bytes:
    import pyarrow as pa

    return pa.Codec("brotli", compression_level=quality).compress(data, asbytes=True)


#: name -> (encode, decode(payload, max_output), bomb-guard message)
CODECS = {
    "inflate": (_raw_deflate, lambda p, n: inflate(p, max_output=n), "max_output"),
    "zlib": (zlib.compress, lambda p, n: zlib_decompress(p, max_output=n), "max_output"),
    "gzip": (gzip.compress, lambda p, n: gzip_decompress(p, max_output=n), "max_output"),
    "bz2": (bz2.compress, lambda p, n: bz2_decompress(p, max_output=n), "bomb"),
    "brotli": (_brotli, lambda p, n: brotli_decompress(p, max_output=n), "bound"),
}


@pytest.mark.parametrize("name", sorted(CODECS))
def test_max_output_is_exact(name):
    encode, decode, message = CODECS[name]
    payload = encode(RAW)
    assert decode(payload, len(RAW)) == RAW
    with pytest.raises(ValueError, match=message):
        decode(payload, len(RAW) - 1)


@pytest.mark.parametrize("level", range(10))
def test_zlib_every_level(level):
    for raw in CORPORA:
        assert zlib_decompress(zlib.compress(raw, level)) == raw
        assert inflate(_raw_deflate(raw, level)) == raw
        assert inflate(_raw_deflate(raw, level, ZDICT), window=ZDICT) == raw
        co = zlib.compressobj(level, zlib.DEFLATED, 15, zdict=ZDICT)
        z = co.compress(raw) + co.flush()
        assert zlib_decompress(z, dictionary=ZDICT) == raw


@pytest.mark.parametrize("level", range(1, 10))
def test_bz2_every_level(level):
    for raw in CORPORA:
        assert bz2_decompress(bz2.compress(raw, level)) == raw


def test_concatenated_bz2_streams_and_gzip_members():
    parts = CORPORA[:3]
    joined = b"".join(parts)
    assert bz2_decompress(b"".join(bz2.compress(p, 9) for p in parts)) == joined
    members = b"".join(gzip.compress(p) for p in parts)
    assert gzip_members(members) == parts
    with pytest.raises(ValueError, match="trailing data"):
        gzip_decompress(members)  # single-member API stays strict


def test_inflate_consumed_length_across_input_chunks():
    """An incompressible stream spans several of inflate's input chunks;
    the consumed count must stop at the stream's end, not the chunk's."""
    rng = random.Random(4)
    raw = bytes(rng.getrandbits(8) for _ in range(300_000))
    stream = _raw_deflate(raw, 9)
    assert len(stream) > 4 * (1 << 16)
    body, used = inflate(stream + b"trailing member bytes", with_consumed=True)
    assert body == raw and used == len(stream)
    with pytest.raises(ValueError, match="truncated"):
        inflate(stream[: len(stream) // 2])


def test_brotli_rejects_empty_input_and_trailing_bytes():
    with pytest.raises(ValueError, match="truncated"):
        brotli_decompress(b"")
    good = _brotli(RAW)
    assert brotli_decompress(good) == RAW
    for tail in (b"\x00", b"xyz", b"\xff" * 16):
        with pytest.raises(ValueError, match="brotli"):
            brotli_decompress(good + tail)
