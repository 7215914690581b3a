"""bzip2 codec tests (round 12): the pure-Python encoder against stdlib
``bz2`` (libbzip2), which must read its streams byte-exactly, and
``bz2_decompress`` (libbzip2 underneath) on both producers — plus the
published CRC-32/BZIP2 check value, BWT and RLE1 unit properties,
multistream (Wikipedia-dump layout) walks, and corruption/truncation
typed errors."""

import bz2 as libbz2
import os
import random

import numpy as np
import pytest

from yark_spark.operators.bzip2 import (
    _bwt_encode,
    _rle1_encode,
    bz2_compress,
    bz2_decompress,
    bzip2_crc32,
)
from yark_spark.operators.containers import decompress_auto

RNG = np.random.default_rng(0xB21B2)


# ---------------------------------------------------------------------------
# CRC — published check value
# ---------------------------------------------------------------------------


def test_crc32_bzip2_check_value():
    # the canonical CRC catalogue check value for CRC-32/BZIP2
    assert bzip2_crc32(b"123456789") == 0xFC891918
    assert bzip2_crc32(b"") == 0x00000000 ^ 0xFFFFFFFF ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# Layer properties
# ---------------------------------------------------------------------------


def test_rle1_roundtrip_and_wire_shape():
    assert _rle1_encode(b"aaaa") == b"aaaa\x00"
    assert _rle1_encode(b"a" * 259) == b"aaaa\xff"  # max one-unit run
    assert _rle1_encode(b"a" * 260) == b"aaaa\xff" + b"a"
    random.seed(3)
    for _ in range(100):
        n = random.randrange(0, 2000)
        data = bytes(random.choices(b"abc", k=n))
        assert libbz2.decompress(bz2_compress(data)) == data


def _assert_is_bwt(data, last, ptr):
    """``last`` is the last column of ``data``'s sorted rotations and
    ``ptr`` indexes a rotation equal to ``data`` (equal rotations may
    tie, so the index itself is not unique)."""
    rots = sorted(data[i:] + data[:i] for i in range(len(data)))
    assert last == bytes(r[-1] for r in rots)
    assert rots[ptr] == data


def test_bwt_known_vector():
    # the textbook example: BWT("banana" rotations sorted)
    last, ptr = _bwt_encode(b"banana")
    _assert_is_bwt(b"banana", last, ptr)
    # "abracadabra" — classic result is "rdarcaaaabb" with the original
    # rotation at sorted index 2
    last, ptr = _bwt_encode(b"abracadabra")
    assert last == b"rdarcaaaabb"
    assert ptr == 2


def test_bwt_roundtrip_fuzz():
    random.seed(4)
    for t in range(60):
        n = random.randrange(1, 3000)
        data = (
            os.urandom(n)
            if t % 3 == 0
            else bytes(random.choices(b"ab", k=n))
            if t % 3 == 1
            else bytes([7]) * n
        )
        last, ptr = _bwt_encode(data)
        _assert_is_bwt(data, last, ptr)


# ---------------------------------------------------------------------------
# Differentials vs libbzip2 — both directions
# ---------------------------------------------------------------------------

SHAPES = [
    b"",
    b"a",
    b"abc",
    b"hello world " * 50,
    bytes(range(256)) * 20,
    b"x" * 100_000 + b"y" * 5 + b"x" * 1000,  # RLE1-heavy
]


@pytest.mark.parametrize("idx", range(len(SHAPES)))
def test_decoder_reads_libbzip2(idx):
    data = SHAPES[idx]
    for lvl in (1, 9):
        assert bz2_decompress(libbz2.compress(data, lvl)) == data


@pytest.mark.parametrize("idx", range(len(SHAPES)))
def test_libbzip2_reads_encoder(idx):
    data = SHAPES[idx]
    enc = bz2_compress(data)
    assert libbz2.decompress(enc) == data
    assert bz2_decompress(enc) == data


def test_differential_fuzz():
    random.seed(77)
    for t in range(40):
        n = random.randrange(0, 8000)
        style = t % 4
        if style == 0:
            data = os.urandom(n)
        elif style == 1:
            data = (b"wiki text content " * (n // 10 + 1))[:n]
        elif style == 2:
            data = bytes(random.choices(b"ab", k=n))
        else:
            data = b"\x00" * n
        assert bz2_decompress(libbz2.compress(data, 1)) == data, ("dec", t)
        assert libbz2.decompress(bz2_compress(data, level=1)) == data, ("enc", t)


def test_multi_block_stream():
    # level 1 → 80k raw per encoder block; 320k input = 4+ blocks
    data = b"".join(b"doc %d: [[wiki]] markup text\n" % i for i in range(10_000))
    assert len(data) > 240_000
    enc = bz2_compress(data, level=1)
    assert libbz2.decompress(enc) == data
    assert bz2_decompress(enc) == data
    assert bz2_decompress(libbz2.compress(data, 1)) == data


# ---------------------------------------------------------------------------
# Multistream — the Wikipedia dump layout
# ---------------------------------------------------------------------------


def test_multistream_walk():
    a, b = b"first stream " * 30, b"second stream " * 30
    assert bz2_decompress(libbz2.compress(a) + libbz2.compress(b)) == a + b
    assert bz2_decompress(bz2_compress(a) + bz2_compress(b)) == a + b
    # mixed producers in one multistream
    assert bz2_decompress(libbz2.compress(a) + bz2_compress(b)) == a + b


def test_decompress_auto_speaks_bzip2():
    raw = b"wiki dump line\n" * 40
    assert decompress_auto(bz2_compress(raw)) == raw
    assert (
        decompress_auto(bz2_compress(raw[:300]) + libbz2.compress(raw[300:]))
        == raw
    )


# ---------------------------------------------------------------------------
# Corruption / truncation — typed errors
# ---------------------------------------------------------------------------


def test_bad_magic():
    with pytest.raises(ValueError, match="magic"):
        bz2_decompress(b"BZx" + b"\x00" * 20)


def test_block_crc_detected():
    enc = bytearray(bz2_compress(b"some block content " * 100))
    enc[len(enc) // 2] ^= 0x10
    with pytest.raises(ValueError):
        bz2_decompress(bytes(enc))


def test_stream_crc_detected():
    enc = bytearray(bz2_compress(b"tail check " * 50))
    enc[-1] ^= 0x01
    with pytest.raises(ValueError):
        bz2_decompress(bytes(enc))


def test_truncation_fuzz():
    enc = bz2_compress(b"truncate me " * 200)
    for cut in range(4, len(enc) - 1, 23):
        with pytest.raises(ValueError):
            bz2_decompress(enc[:cut])


def test_bomb_guard():
    enc = bz2_compress(b"z" * 50_000)
    with pytest.raises(ValueError, match="bomb"):
        bz2_decompress(enc, max_output=1000)


def test_invalid_level_rejected():
    with pytest.raises(ValueError, match="level"):
        bz2_compress(b"x", level=0)
