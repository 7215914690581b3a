"""ZIP member compression methods beyond stored/deflate (round 14,
session 3): BZIP2 (12) and LZMA (14) differentialed against stdlib
zipfile (real libbz2/liblzma wire both directions), zstd (93, the
PKWARE assignment) self-roundtripped through the in-repo codec."""

from __future__ import annotations

import io
import zipfile

import pytest

from yark_spark.operators.zip_archive import (
    _BZIP2,
    _LZMA,
    _ZSTD,
    zip_build,
    zip_members,
)

MEMBERS = [
    ("docs/a.txt", b"the quick brown fox jumps over the lazy dog " * 60),
    ("docs/b.bin", bytes(range(256)) * 20),
    ("empty", b""),
]


@pytest.mark.parametrize(
    "zf_method, our_method",
    [(zipfile.ZIP_BZIP2, _BZIP2), (zipfile.ZIP_LZMA, _LZMA)],
)
def test_stdlib_written_members_decode(zf_method, our_method):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=zf_method) as z:
        for name, payload in MEMBERS:
            z.writestr(name, payload)
    got = zip_members(buf.getvalue())
    assert [(n, d) for n, _m, d in got] == MEMBERS
    assert all(
        m == our_method for _n, m, d in got if d
    )  # empty members may store


@pytest.mark.parametrize("method", [_BZIP2, _LZMA, _ZSTD])
def test_our_members_roundtrip(method):
    blob = zip_build(MEMBERS, methods=[method] * len(MEMBERS))
    got = zip_members(blob)
    assert [(n, d) for n, _m, d in got] == MEMBERS
    assert all(m == method for _n, m, _d in got)


@pytest.mark.parametrize(
    "zf_method, our_method",
    [(zipfile.ZIP_BZIP2, _BZIP2), (zipfile.ZIP_LZMA, _LZMA)],
)
def test_stdlib_reads_our_members(zf_method, our_method):
    blob = zip_build(MEMBERS, methods=[our_method] * len(MEMBERS))
    with zipfile.ZipFile(io.BytesIO(blob)) as z:
        for name, payload in MEMBERS:
            assert z.read(name) == payload
            assert z.getinfo(name).compress_type == zf_method


def test_lzma1_against_liblzma_both_ways():
    import lzma

    from yark_spark.operators.xz import (
        _props_byte,
        lzma1_compress,
        lzma1_decompress,
    )

    data = b"abcabcabc repeated structure " * 200 + bytes(range(256))
    alone = lzma.compress(
        data, format=lzma.FORMAT_ALONE,
        filters=[{"id": lzma.FILTER_LZMA1, "preset": 9}],
    )
    assert lzma1_decompress(alone[13:], alone[0], len(data)) == data
    ours = lzma1_compress(data)
    dec = lzma.LZMADecompressor(
        format=lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA1, "lc": 3, "lp": 0, "pb": 2}],
    )
    assert dec.decompress(ours, max_length=len(data)) == data
