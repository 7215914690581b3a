"""HTTP/1.1 message framing (operators/containers, round 13 s3).

Chunked de-framing vectors, decode order (transfer- before
content-codings, codings right-to-left), the deflate zlib-vs-raw
sniff differentialed against REAL stdlib zlib wire, duplicate-header
joining, and the typed boundaries (brotli, obs-fold, bad chunk
sizes, bomb guards).
"""

from __future__ import annotations

import gzip as _gzip
import zlib as _zlib

import pytest

from yark_spark.operators.containers import (
    http_dechunk,
    http_message_build,
    http_message_decode,
)

BODY = ("the quick brown fox jumps over the lazy dog " * 40).encode()


def _msg(head_lines: list[str], body: bytes) -> bytes:
    return ("\r\n".join(head_lines) + "\r\n\r\n").encode() + body


def test_dechunk_vector_with_extension_and_trailer():
    wire = b"5;ext=1\r\nhello\r\n6\r\n world\r\n0\r\nX-T: v\r\n\r\n"
    assert http_dechunk(wire) == b"hello world"


def test_dechunk_rejects_bad_size_and_framing():
    with pytest.raises(ValueError, match="chunk size"):
        http_dechunk(b"zz\r\nhi\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="CRLF after chunk"):
        http_dechunk(b"2\r\nhiX\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="past end"):
        http_dechunk(b"5\r\nhe")
    with pytest.raises(ValueError, match="truncated"):
        http_dechunk(b"5\r\nhello\r\n")
    with pytest.raises(ValueError, match="bomb"):
        http_dechunk(b"5\r\nhello\r\n0\r\n\r\n", max_output=3)


def test_roundtrip_every_wire_shape():
    for chunked in (False, True):
        for enc in (None, "gzip", "deflate", "zstd"):
            blk = http_message_build(
                BODY, transfer_chunked=chunked, content_encoding=enc
            )
            status, hh, body = http_message_decode(blk)
            assert (status, body) == (200, BODY), (chunked, enc)
            assert ("chunked" in hh.get("transfer-encoding", "")) == chunked


def test_decode_order_chunked_over_gzip():
    # Transfer framing wraps the CODED body on the wire; the decoder
    # must de-chunk FIRST, then gunzip — inverting the order dies.
    blk = http_message_build(BODY, transfer_chunked=True, content_encoding="gzip")
    head = blk.split(b"\r\n\r\n", 1)[0]
    assert b"Transfer-Encoding: chunked" in head
    _, _, body = http_message_decode(blk)
    assert body == BODY


def test_real_stdlib_gzip_and_zlib_deflate_wire():
    # Differential against the REAL libraries: stdlib gzip member and
    # stdlib zlib-wrapped deflate both decode through the in-repo path.
    blk = _msg(
        ["HTTP/1.1 200 OK", "Content-Encoding: gzip"], _gzip.compress(BODY)
    )
    assert http_message_decode(blk)[2] == BODY
    blk = _msg(
        ["HTTP/1.1 200 OK", "Content-Encoding: deflate"], _zlib.compress(BODY)
    )
    assert http_message_decode(blk)[2] == BODY


def test_raw_deflate_sniff_tolerance():
    # The famous server bug: raw RFC 1951 bytes under the deflate
    # token. The zlib CMF/FLG sniff must route these to bare inflate.
    co = _zlib.compressobj(wbits=-15)
    raw = co.compress(BODY) + co.flush()
    blk = _msg(["HTTP/1.1 200 OK", "Content-Encoding: deflate"], raw)
    assert http_message_decode(blk)[2] == BODY


def test_multiple_content_codings_right_to_left():
    # Content-Encoding: gzip, deflate => deflate applied LAST by the
    # sender, so the receiver reverses deflate first, then gzip.
    wire = _zlib.compress(_gzip.compress(BODY))
    blk = _msg(["HTTP/1.1 200 OK", "Content-Encoding: gzip, deflate"], wire)
    assert http_message_decode(blk)[2] == BODY


def test_duplicate_headers_comma_join_and_case():
    blk = _msg(
        ["HTTP/1.1 301 Moved", "Via: a", "VIA: b", "Location: /x"], b""
    )
    status, hh, _ = http_message_decode(blk)
    assert status == 301
    assert hh["via"] == "a, b"


def test_bare_body_is_lenient():
    status, hh, body = http_message_decode(b"no head here")
    assert (status, hh, body) == (0, {}, b"no head here")


def test_typed_boundaries():
    # br DECODES since round 14 (operators/brotli); a garbage body is
    # now a malformed-stream ValueError, not a missing-codec boundary
    with pytest.raises(ValueError, match="brotli"):
        http_message_decode(
            _msg(["HTTP/1.1 200 OK", "Content-Encoding: br"], b"x")
        )
    with pytest.raises(NotImplementedError, match="transfer-encoding"):
        http_message_decode(
            _msg(["HTTP/1.1 200 OK", "Transfer-Encoding: gzip, chunked"], b"")
        )
    with pytest.raises(ValueError, match="obsolete header folding"):
        http_message_decode(_msg(["HTTP/1.1 200 OK", "A: 1", " cont"], b""))
    with pytest.raises(ValueError, match="status line"):
        http_message_decode(b"HTTP/1.1 abc\r\n\r\n")
    with pytest.raises(ValueError, match="unknown content-coding"):
        http_message_decode(
            _msg(["HTTP/1.1 200 OK", "Content-Encoding: lzma"], b"x")
        )


def test_bomb_guard_reaches_codings():
    blk = http_message_build(b"A" * 10000, content_encoding="gzip")
    with pytest.raises(ValueError):
        http_message_decode(blk, max_output=100)
