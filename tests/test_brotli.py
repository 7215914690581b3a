"""Round 14: brotli (RFC 7932) — both directions pinned against the
REAL C library (pyarrow.Codec('brotli')): our wire must decode there
byte-exactly, and real streams at every quality either decode here
byte-exactly or land on the two documented typed boundaries."""

from __future__ import annotations

import random

import pytest

from yark_spark.operators.brotli import brotli_compress, brotli_decompress


def _real():
    import pyarrow as pa

    return pa.Codec("brotli")


_CASES = [
    b"",
    b"a",
    b"hello world",
    b"hello hello hello world, the quick brown fox! " * 20,
    bytes(range(256)) * 3,
    b"a" * 4000,
]


def _fuzz_cases(n=25):
    rng = random.Random(99)
    out = []
    for _ in range(n):
        ln = rng.randrange(0, 8000)
        alpha = rng.choice(
            [b"ab", b"abcdefgh", bytes(range(256)), b" the cat sat on the mat "]
        )
        out.append(bytes(rng.choice(alpha) for _ in range(ln)))
    return out


@pytest.mark.parametrize("idx", range(len(_CASES)))
def test_self_roundtrip(idx):
    t = _CASES[idx]
    assert brotli_decompress(brotli_compress(t)) == t


def test_real_brotli_decodes_our_wire():
    real = _real()
    for t in _CASES + _fuzz_cases():
        enc = brotli_compress(t)
        assert real.decompress(enc, len(t), asbytes=True) == t, len(t)


@pytest.mark.parametrize("quality", [0, 1, 2, 3, 4, 5, 9, 11])
def test_our_decoder_on_real_streams(quality):
    """Every real stream decodes byte-exactly — no boundaries left
    since the static dictionary + context tables were extracted from
    the real library (round 14, session 3)."""
    import pyarrow as pa

    cc = pa.Codec("brotli", compression_level=quality)
    for t in _CASES[1:] + _fuzz_cases(15):
        if not t:
            continue
        assert brotli_decompress(cc.compress(t, asbytes=True)) == t


def test_q0_q1_decode_fully():
    # brotli fast qualities emit single-tree, dictionary-free streams —
    # our decoder must handle 100% of them
    import pyarrow as pa

    for lvl in (0, 1):
        cc = pa.Codec("brotli", compression_level=lvl)
        for t in _CASES[1:] + _fuzz_cases(15):
            if t:
                assert brotli_decompress(cc.compress(t, asbytes=True)) == t


def test_uncompressed_and_metadata_metablocks():
    from yark_spark.operators.brotli import _BitsW

    # hand-built: uncompressed meta-block, metadata meta-block, empty last
    w = _BitsW()
    w.write(0, 1)  # wbits 16
    # uncompressed meta-block "abc"
    w.write(0, 1)  # not last
    w.write(0, 2)  # 4 nibbles
    for i in range(4):
        w.write((2 >> (4 * i)) & 0xF, 4)  # mlen-1 = 2
    w.write(1, 1)  # ISUNCOMPRESSED
    blob = w.flush()  # align happens at byte boundary
    data = blob + b"abc"
    # metadata meta-block skipping 2 bytes, then empty last block
    w3 = _BitsW()
    w3.write(0, 1)  # not last
    w3.write(3, 2)  # MNIBBLES pattern 3 → metadata
    w3.write(0, 1)  # reserved
    w3.write(1, 2)  # MSKIPBYTES = 1
    w3.write(1, 8)  # MSKIPLEN - 1 (RFC 7932 §9.2): skip 2 bytes
    tail = w3.flush() + b"XY"
    w4 = _BitsW()
    w4.write(1, 1)  # ISLAST
    w4.write(1, 1)  # ISLASTEMPTY
    stream = data + tail + w4.flush()
    assert brotli_decompress(stream) == b"abc"


def test_short_distance_codes_initial_ring():
    """The initial distance ring is last=4, second=11, third=15,
    fourth=16 (write-pointer semantics over the spec's {16,15,11,4}) —
    derived empirically against real brotli and pinned here."""
    from yark_spark.operators import brotli as B

    def craft(k):
        data = bytes(range(0x21, 0x21 + 40))
        w = B._BitsW()
        w.write(1, 1)
        w.write(5, 3)
        w.write(1, 1)
        w.write(0, 1)
        mlen = 44 - 1
        w.write(0, 2)
        for i in range(4):
            w.write((mlen >> (4 * i)) & 0xF, 4)
        for _ in range(3):
            w.write(0, 1)
        w.write(0, 2)
        w.write(0, 4)
        w.write(0, 2)
        w.write(0, 1)
        w.write(0, 1)
        lit_lens = B._huff_lengths({b: 1 for b in data})
        ic, _ = B._insert_code(40)
        cc4, _ = B._copy_code(4)
        s1 = B._cmd_symbol(ic, cc4, False)
        lm = B._write_prefix_code(w, lit_lens, 256)
        cm = B._write_prefix_code(w, {s1: 1}, 704)
        dm = B._write_prefix_code(w, {k: 1}, 64)
        c, ln = cm[s1]
        B._put_code(w, c, ln)
        w.write(40 - B._INSERT_OFFSET[ic], B._INSERT_BITS[ic])
        w.write(4 - B._COPY_OFFSET[cc4], B._COPY_BITS[cc4])
        for b in data:
            c, ln = lm[b]
            B._put_code(w, c, ln)
        c, ln = dm[k]
        B._put_code(w, c, ln)
        return w.flush()

    real = _real()
    want = {0: 4, 1: 11, 2: 15, 3: 16, 4: 3, 5: 5, 6: 2, 7: 6, 8: 1,
            9: 7, 10: 10, 11: 12, 12: 9, 13: 13, 14: 8, 15: 14}
    for k, d in want.items():
        enc = craft(k)
        ours = brotli_decompress(enc)
        theirs = real.decompress(enc, 44, asbytes=True)
        assert ours == theirs, k
        assert ours[40:44] == ours[40 - d : 44 - d], (k, d)


def test_typed_errors():
    with pytest.raises(ValueError, match="truncated"):
        brotli_decompress(b"")
    with pytest.raises(ValueError, match="truncated"):
        brotli_decompress(brotli_compress(b"hello world " * 30)[:-3])
    # output bomb guard
    big = brotli_compress(b"x" * 100_000)
    with pytest.raises(ValueError, match="bound"):
        brotli_decompress(big, max_output=10)


def test_http_br_content_coding():
    from yark_spark.operators.containers import (
        http_message_build,
        http_message_decode,
    )

    body = ("the quick brown fox jumps over the lazy dog " * 50).encode()
    for chunked in (False, True):
        msg = http_message_build(
            body, transfer_chunked=chunked, content_encoding="br"
        )
        status, headers, got = http_message_decode(msg)
        assert status == 200
        assert headers["content-encoding"] == "br"
        assert got == body


def test_multi_metablock_large_input():
    """Inputs past the 6-nibble MLEN cap split into ≤4 MiB meta-blocks;
    real brotli decodes the chain byte-exactly."""
    import random

    rng = random.Random(1)
    big = bytes(rng.choice(b" abcdefgh") for _ in range(1 << 20)) * 5 + b"tail"
    enc = brotli_compress(big)
    assert brotli_decompress(enc, max_output=len(big) + 10) == big
    assert _real().decompress(enc, len(big), asbytes=True) == big
