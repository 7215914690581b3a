"""Byte pins for the pure-Python encoders.

Fixture bytes are pinned to these encoders (the registry's analytic
oracles and digests are computed over what they emit), so a kernel
rewrite must leave every output byte unchanged. Each test hashes one
encoder's output over a seeded corpus — short texts, the sf0.001
document texts, random bytes and long runs of one or two bytes — and
compares against the digest the encoders produced before their hot
loops were rewritten. ``_reference_limited_code_lengths`` is that
earlier package-merge, kept as the spec the fast one must match.
"""

import hashlib
import random

import pyarrow.parquet as pq
import pytest

from yark_spark.operators import png as P
from yark_spark.operators.brotli import brotli_compress
from yark_spark.operators.bzip2 import _MAX_HUFF_LEN, bz2_compress
from yark_spark.operators.containers import gzip_compress
from yark_spark.operators.epub import epub_build
from yark_spark.operators.zip_archive import zip_build
from yark_spark.operators.zstd import zstd_compress
from yark_spark.operators.zstd_encode import build_zstd_dictionary

#: sha256 of the corpus itself — the pins below hold for this input only
_CORPUS_DIGEST = "0521be78a143b72e487492c49e650091aa240d5825a63ad3d11c67131299464d"

_PINS = {
    "zlib_stored": (
        "0c670ec49d2693cbd993d49ae123ef8e8103bdcf4078dc00aa1a3dd10b76d9ce"
    ),
    "zlib_fixed": (
        "2f4f51f69c9592d7b9e6bbbac00f7d07d150a6ccf91ec687c008c4071a012c8c"
    ),
    "zlib_dynamic": (
        "e8238a6e45d730535cef4dd2a2baf28626224cd6d567b63845b1d3e8ab304586"
    ),
    "gzip": (
        "68db85056f5968942fd7e41941938b7cf763be72abe9c5ff3400db4e12f254d2"
    ),
    "zip": (
        "11b78d688ac62ac97c323e02b77116f85230830824c88f977718f5d9a10eb552"
    ),
    "epub": (
        "ae89372caf8d65769824e291be05e2c6726b65d524044afc75d441465f944361"
    ),
    "brotli": (
        "f25cd229c6977ec68ab410f8cfe957931d3114b9f9f45d95484266c718dbc117"
    ),
    "bzip2": (
        "b18d15f33049b9c876f20ae22647b9b3e185cf5e76a52ed667671b3f3ae088eb"
    ),
    "zstd": (
        "cddae13e860f061f0d8ac4e95b4c13258ab3c9affc6443aeacf9adb11fc62645"
    ),
    "zstd_dict": (
        "b0f4ba1d03b28e9ff032e6894b6584806c68091bd552f12cf9d3c37056ee59b7"
    ),
}


def _digest(outputs) -> str:
    h = hashlib.sha256()
    for b in outputs:
        h.update(len(b).to_bytes(8, "little"))
        h.update(b)
    return h.hexdigest()


@pytest.fixture(scope="module")
def corpus(sf_dir):
    docs = (
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        .to_pandas()
        .sort_values("doc_id")
    )
    texts = [t.encode("utf-8") for t in docs.text]
    rng = random.Random(20260517)
    items = [
        b"",
        b"a",
        b"hello, world",
        b"abcabcabcabcabcabcabc",
        b"The quick brown fox jumps over the lazy dog. " * 3,
        b'{"id": 1, "text": "tiny json record"}\n' * 5,
    ]
    items += texts[::10]  # 50 document texts, ~300 B each
    items.append(b"\n".join(texts[:200]))  # one ~60 KB text
    items += [rng.randbytes(n) for n in (1, 17, 300, 5000)]
    items += [
        b"\x00" * 70_000,
        b"ab" * 20_000,
        b"a" * 300 + b"b" * 300 + b"a" * 300,
        bytes([rng.choice(b"xy") for _ in range(4000)]),
    ]
    if _digest(items) != _CORPUS_DIGEST:
        pytest.skip("pins hold for the sf0.001 documents only")
    return items, [t.decode("utf-8") for t in texts[:40]]


def _check(name, outputs):
    assert _digest(outputs) == _PINS[name], name


@pytest.mark.parametrize("method", ["stored", "fixed", "dynamic"])
def test_zlib_compress_pinned(corpus, method):
    _check(f"zlib_{method}", [P.zlib_compress(x, method) for x in corpus[0]])


def test_gzip_compress_pinned(corpus):
    _check("gzip", [gzip_compress(x, name=f"m{i}") for i, x in enumerate(corpus[0])])


def test_zip_build_pinned(corpus):
    members = [(f"m{i}.txt", x) for i, x in enumerate(corpus[0])]
    _check("zip", [zip_build(members)])


def test_epub_build_pinned(corpus):
    out = []
    for t in corpus[1]:
        words = t.split()
        chapters = [" ".join(words[k : k + 20]) for k in range(0, len(words), 20)]
        out.append(epub_build(chapters or [""]))
    _check("epub", out)


def test_brotli_compress_pinned(corpus):
    _check("brotli", [brotli_compress(x) for x in corpus[0]])


def test_bz2_compress_pinned(corpus):
    _check("bzip2", [bz2_compress(x) for x in corpus[0]])


def test_zstd_compress_pinned(corpus):
    items = corpus[0]
    _check("zstd", [zstd_compress(x, method="compressed") for x in items])
    samples = [t.encode("utf-8") for t in corpus[1]]
    d = build_zstd_dictionary(b" ".join(samples[:10])[:4096], dict_id=7)
    _check(
        "zstd_dict",
        [d] + [zstd_compress(x, method="compressed", dictionary=d) for x in samples],
    )


def _reference_limited_code_lengths(freqs: list[int], maxlen: int) -> list[int]:
    """Package-merge over explicit symbol tuples: every level re-sorts
    the leaves with the pairs of the level below, and a symbol's code
    length is how often it appears among the first 2(n-1) items of the
    last level."""
    syms = [s for s, f in enumerate(freqs) if f > 0]
    out = [0] * len(freqs)
    if not syms:
        return out
    if len(syms) == 1:
        out[syms[0]] = 1
        return out
    if len(syms) > (1 << maxlen):
        raise ValueError("deflate: alphabet too large for length limit")
    orig = sorted((freqs[s], (s,)) for s in syms)
    prev = list(orig)
    for _ in range(maxlen - 1):
        packages = [
            (prev[i][0] + prev[i + 1][0], prev[i][1] + prev[i + 1][1])
            for i in range(0, len(prev) - 1, 2)
        ]
        prev = sorted(orig + packages)
    for _, ss in prev[: 2 * (len(syms) - 1)]:
        for s in ss:
            out[s] += 1
    return out


@pytest.mark.parametrize("maxlen", [5, 7, 11, 15, _MAX_HUFF_LEN])
def test_package_merge_matches_reference(maxlen):
    rng = random.Random(9000 + maxlen)
    alphabets = {5: [18, 19], 7: [19], 11: [256], 15: [30, 286, 704], _MAX_HUFF_LEN: [258]}
    checked = 0
    while checked < 400:
        size = rng.choice(alphabets[maxlen] + [2, 3, 8])
        dens = rng.random()
        freqs = [
            rng.choice([1, 1, 2, 3, rng.randint(1, 500), 1 << rng.randint(0, 24)])
            if rng.random() < dens
            else 0
            for _ in range(size)
        ]
        if sum(1 for f in freqs if f) > (1 << maxlen):
            continue
        checked += 1
        assert P._limited_code_lengths(freqs, maxlen) == (
            _reference_limited_code_lengths(freqs, maxlen)
        ), (maxlen, freqs)
