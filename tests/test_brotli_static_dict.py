"""Real brotli streams that lean on the RFC 7932 static dictionary and
the UTF8/SIGNED literal-context modes: every quality 0–11 over
dictionary-hungry and context-hungry corpora decodes byte-exactly
through ``brotli_decompress``."""

from __future__ import annotations

import random

import pytest

from yark_spark.operators.brotli import brotli_decompress


def _real(level=11):
    import pyarrow as pa

    return pa.Codec("brotli", compression_level=level)


#: dictionary-hungry English/markup, UTF-8, random bytes and JSON —
#: shared with tests/test_native_decode.py's zlib/bzip2 level matrix
_RNG = random.Random(14)
CORPORA = [
    (
        b"The quick brown fox jumps over the lazy dog. " * 40
        + b"information about the world public license, example.com "
        b"said that would be the first time"
    )
    * 3,
    b'<script type="text/javascript">document.getElementById("x")'
    b'</script><body style="display:none;">' * 30,
    ("你好世界 привет "
     "café naïve ").encode() * 60,
    bytes(_RNG.getrandbits(8) for _ in range(6000)),
    (b'{"key": "value", "count": 123, "list": [1,2,3]}') * 80,
]


@pytest.mark.parametrize("quality", range(12))
def test_full_decode_matrix(quality):
    """Real brotli at EVERY quality over dictionary-hungry and
    context-hungry corpora — byte-exact, no boundaries."""
    cc = _real(quality)
    for t in CORPORA:
        assert brotli_decompress(cc.compress(t, asbytes=True)) == t
