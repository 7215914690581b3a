"""xz / LZMA codec tests (round 13): CRC64 check-input vector,
hand-built container grammar (and every cross-check's failure mode),
LZMA2 control-byte discipline, range-coder roundtrip fuzz over all
chunk modes and (lc, lp, pb) corners, typed boundaries, bomb guard.

No lzma/xz library exists in the container, so the suite pins public
wire vectors + fuzz instead of a differential (the zstd precedent)."""

import hashlib
import os
import random
import struct

import pytest

from yark_spark.operators.xz import (
    _varint_decode,
    _varint_encode,
    crc64,
    lzma2_compress,
    lzma2_decompress,
    xz_compress,
    xz_decompress,
)
from zlib import crc32

# ---------------------------------------------------------------------------
# CRC64-ECMA
# ---------------------------------------------------------------------------


def test_crc64_check_input():
    # the ECMA-182 reflected CRC's published check value
    assert crc64(b"123456789") == 0x995DC9BBDF1939FA


def test_crc64_empty_and_incremental():
    assert crc64(b"") == 0
    whole = crc64(b"hello world")
    assert crc64(b" world", crc64(b"hello")) == whole


# ---------------------------------------------------------------------------
# varints
# ---------------------------------------------------------------------------


def test_varint_roundtrip():
    for x in [0, 1, 0x7F, 0x80, 0x3FFF, 0x4000, 10**15, (1 << 63) - 1]:
        enc = _varint_encode(x)
        val, pos = _varint_decode(enc, 0)
        assert (val, pos) == (x, len(enc))


def test_varint_non_minimal_rejected():
    with pytest.raises(ValueError, match="non-minimal"):
        _varint_decode(b"\x80\x00", 0)


# ---------------------------------------------------------------------------
# LZMA2 roundtrips
# ---------------------------------------------------------------------------


def _gen(n, kind, rng):
    if kind == 0:
        return bytes(rng.randrange(256) for _ in range(n))
    if kind == 1:
        return bytes(rng.randrange(4) for _ in range(n))
    if kind == 2:
        return (b"the quick brown fox jumps over the lazy dog. " * (n // 45 + 1))[:n]
    if kind == 3:
        return b"\x00" * n
    words = [b"alpha", b"beta", b"gamma", b"delta", b"x"]
    out = bytearray()
    while len(out) < n:
        out += rng.choice(words) + b" "
    return bytes(out[:n])


def test_lzma2_roundtrip_fuzz():
    rng = random.Random(11)
    for trial in range(150):
        n = rng.randrange(0, 4000)
        data = _gen(n, trial % 5, rng)
        mode = ["compressed", "uncompressed", "mixed"][trial % 3]
        cs = rng.choice([256, 1024, 1 << 16])
        z = lzma2_compress(data, chunk_size=cs, mode=mode)
        assert lzma2_decompress(z) == data, (trial, mode, cs)


def test_lzma2_props_corners():
    rng = random.Random(5)
    for lc, lp, pb in [(0, 0, 0), (3, 0, 2), (1, 2, 1), (8, 0, 0), (0, 4, 4)]:
        d = _gen(3000, 4, rng)
        z = lzma2_compress(d, lc=lc, lp=lp, pb=pb, chunk_size=700)
        assert lzma2_decompress(z) == d, (lc, lp, pb)


def test_lzma2_empty():
    assert lzma2_compress(b"") == b"\x00"
    assert lzma2_decompress(b"\x00") == b""


def test_lzma2_cross_chunk_window():
    # matches reach back into PRIOR chunks (reset=0 continuation):
    # a repetitive stream split into small chunks must compress far
    # below one-chunk-per-copy size
    data = b"0123456789abcdef" * 400
    z = lzma2_compress(data, chunk_size=512)
    assert len(z) < len(data) // 10
    assert lzma2_decompress(z) == data


def test_lzma2_control_byte_errors():
    with pytest.raises(ValueError, match="missing end-of-stream"):
        lzma2_decompress(b"")
    with pytest.raises(ValueError, match="invalid control byte"):
        lzma2_decompress(b"\x03")
    # first chunk without dict reset (0x02 = no-reset stored chunk)
    with pytest.raises(ValueError, match="reset the dictionary"):
        lzma2_decompress(b"\x02\x00\x00a\x00")
    # compressed chunk with reset=0 right after a stored chunk
    bad = bytearray(b"\x01\x00\x00a")  # stored 1 byte
    bad += bytes([0x80, 0, 0, 0, 0])  # reset=0 compressed chunk header
    bad += b"\x00"
    with pytest.raises(ValueError, match="state reset"):
        lzma2_decompress(bytes(bad))


def test_lzma2_bomb_guard():
    data = b"\x00" * 100_000
    z = lzma2_compress(data)
    with pytest.raises(ValueError, match="bomb guard"):
        lzma2_decompress(z, max_output=1024)


# ---------------------------------------------------------------------------
# xz container
# ---------------------------------------------------------------------------


def test_xz_roundtrip_all_checks_and_modes():
    rng = random.Random(7)
    for trial in range(40):
        n = rng.randrange(0, 12000)
        data = _gen(n, trial % 5, rng)
        chk = ["none", "crc32", "crc64", "sha256"][trial % 4]
        mode = ["compressed", "uncompressed", "mixed"][trial % 3]
        z = xz_compress(data, check=chk, mode=mode, chunk_size=rng.choice([512, 4096]))
        assert xz_decompress(z) == data


def test_xz_wire_layout():
    z = xz_compress(b"hello xz", check="crc32")
    assert z[:6] == b"\xfd7zXZ\x00"
    assert z[-2:] == b"YZ"
    # stream flags appear in header AND footer
    assert z[6:8] == b"\x00\x01" == z[-4:-2]


def test_xz_multistream_and_padding():
    a = xz_compress(b"first ", check="crc64")
    b = xz_compress(b"second", check="sha256")
    assert xz_decompress(a + b) == b"first second"
    assert xz_decompress(a + b"\x00" * 8 + b) == b"first second"


def test_xz_check_mismatch_detected():
    data = b"payload under check" * 10
    for chk in ("crc32", "crc64", "sha256"):
        # stored chunks carry the raw bytes verbatim: flipping one
        # payload bit must trip the block integrity check
        z2 = bytearray(xz_compress(data, check=chk, mode="uncompressed"))
        # stored chunks carry the raw bytes verbatim: flip one
        pos = bytes(z2).find(b"payload")
        assert pos > 0
        z2[pos] ^= 0x01
        with pytest.raises(ValueError):
            xz_decompress(bytes(z2))


def test_xz_header_crc_mismatch():
    z = bytearray(xz_compress(b"x"))
    z[8] ^= 0xFF  # header CRC bytes
    with pytest.raises(ValueError, match="stream-header CRC"):
        xz_decompress(bytes(z))


def test_xz_footer_cross_checks():
    z = bytearray(xz_compress(b"cross-check me"))
    z[-3] ^= 0x01  # footer flags byte (check id copy)
    with pytest.raises(ValueError, match="footer"):
        xz_decompress(bytes(z))


def test_xz_bad_magic_typed():
    with pytest.raises(ValueError, match="magic"):
        xz_decompress(b"\xfd7zXY\x00" + b"\x00" * 20)


def test_xz_unsupported_filter_typed():
    # delta DECODES since round 14 (test_codec_differentials pins the
    # real-liblzma delta chains); a delta-ONLY chain is malformed —
    # the chain must terminate in LZMA2
    flags = bytes([0x00, 0x00])
    out = bytearray(b"\xfd7zXZ\x00" + flags + struct.pack("<I", crc32(flags)))
    body = bytearray(b"\x00")  # 1 filter, no sizes
    body += _varint_encode(0x03)  # Delta
    body += _varint_encode(1)
    body.append(0x00)  # dist-1
    total = 1 + len(body) + 4
    body += b"\x00" * ((4 - total % 4) % 4)
    hdr = bytes([(1 + len(body) + 4) // 4 - 1]) + bytes(body)
    hdr += struct.pack("<I", crc32(hdr))
    out += hdr
    with pytest.raises(ValueError, match="must end in LZMA2"):
        xz_decompress(bytes(out))


def test_xz_index_mismatch_detected():
    # decompress a valid stream after swapping its index record's
    # uncompressed size (re-CRC'd so only the cross-check can object)
    data = b"abcdefgh" * 32
    z = xz_compress(data, check="none", mode="uncompressed")
    # footer = crc32(4) | backward(4) | flags(2) | "YZ"(2)
    backward = struct.unpack("<I", z[-8:-4])[0]
    index_size = (backward + 1) * 4
    istart = len(z) - 12 - index_size
    index = bytearray(z[istart : istart + index_size])
    # index: 00 | count | unpadded | uncompressed | pad | crc4
    pos = 1
    _, pos = _varint_decode(bytes(index), pos)  # count
    _, pos = _varint_decode(bytes(index), pos)  # unpadded
    us_start = pos
    us, pos = _varint_decode(bytes(index), pos)
    assert us == len(data)
    wrong = _varint_encode(us + 1)
    assert len(wrong) == pos - us_start  # same width, safe to splice
    index[us_start:pos] = wrong
    index[-4:] = struct.pack("<I", crc32(bytes(index[:-4])))
    z2 = z[:istart] + bytes(index) + z[-12:]
    # footer CRC covers backward+flags only, so re-CRC isn't needed
    with pytest.raises(ValueError, match="index record mismatch"):
        xz_decompress(z2)


def test_xz_bomb_guard():
    z = xz_compress(b"\x00" * 200_000)
    with pytest.raises(ValueError, match="bomb guard"):
        xz_decompress(z, max_output=4096)


def test_decompress_auto_speaks_xz():
    from yark_spark.operators.containers import decompress_auto

    raw = b'{"id": 1, "text": "auto-dispatch"}\n'
    assert decompress_auto(xz_compress(raw)) == raw


def test_xz_sha256_check_verified():
    data = b"sha-checked payload " * 50
    z = bytearray(xz_compress(data, check="sha256"))
    # locate the raw sha256 of the data inside the stream and flip it
    digest = hashlib.sha256(data).digest()
    at = bytes(z).find(digest)
    assert at > 0
    z[at] ^= 0x01
    with pytest.raises(ValueError, match="SHA-256"):
        xz_decompress(bytes(z))


def test_stored_fallback_on_random_data():
    rng = random.Random(3)
    data = bytes(rng.randrange(256) for _ in range(50_000))
    z = xz_compress(data)
    assert len(z) < len(data) + 1024  # stored chunks, tiny overhead
    assert xz_decompress(z) == data


def test_stored_chunks_split_past_64k():
    # stored-chunk headers carry a 16-bit size-1: a chunk_size above
    # 64 KiB must split stored pieces instead of overflowing the field
    import os

    data = os.urandom(200_000)
    for mode in ("uncompressed", "mixed"):
        z = lzma2_compress(data, chunk_size=1 << 18, mode=mode)
        assert lzma2_decompress(z, max_output=1 << 22) == data
