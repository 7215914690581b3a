"""RFC 8878 zstd codec tests (round 12): spec-table pins, hand-derived
wire vectors (built byte-by-byte from the RFC, independent of the
encoder), encoder↔decoder roundtrip fuzz, and malformed-input guards."""

import random
import struct

import pytest

from yark_spark.operators.zstd import (
    _LL_DEFAULT,
    _LL_EXTRA,
    _ML_DEFAULT,
    _ML_EXTRA,
    _OF_DEFAULT,
    _FseTable,
    _fse_read_ncount,
    xxh64,
    zstd_compress,
    zstd_decompress,
    zstd_frames,
)

_MAGIC = b"\x28\xb5\x2f\xfd"


# ---------------------------------------------------------------------------
# spec pins
# ---------------------------------------------------------------------------


def test_xxh64_published_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999


def test_default_distributions_sum_to_table_size():
    for counts, log in (_LL_DEFAULT, _ML_DEFAULT, _OF_DEFAULT):
        assert sum(abs(c) for c in counts) == 1 << log
        t = _FseTable.from_counts(counts, log)
        # every state decodable, bases within table
        size = 1 << log
        for st in range(size):
            assert 0 <= t.base[st] <= size - 1 or t.nbits[st] > 0
            assert t.base[st] + (1 << t.nbits[st]) <= size


def test_ll_ml_baseline_tables_are_contiguous():
    """base[k] + 2^bits[k] == base[k+1]: the code ranges tile the value
    space with no gap or overlap — pins every entry given the first."""
    assert _LL_EXTRA[0] == (16, 1)
    for (b1, n1), (b2, _) in zip(_LL_EXTRA, _LL_EXTRA[1:]):
        assert b1 + (1 << n1) == b2
    assert _ML_EXTRA[0] == (35, 1)
    for (b1, n1), (b2, _) in zip(_ML_EXTRA, _ML_EXTRA[1:]):
        assert b1 + (1 << n1) == b2
    assert _LL_EXTRA[-1] == (65536, 16)
    assert _ML_EXTRA[-1] == (65539, 16)


def test_fse_table_spread_is_a_permutation():
    counts, log = _OF_DEFAULT
    t = _FseTable.from_counts(counts, log)
    per_sym = {}
    for st in range(1 << log):
        per_sym[t.symbol[st]] = per_sym.get(t.symbol[st], 0) + 1
    for s, c in enumerate(counts):
        assert per_sym.get(s, 0) == abs(c)
    # the base ranges of each symbol tile [0, size) exactly
    for s in per_sym:
        ranges = sorted(
            (t.base[st], t.base[st] + (1 << t.nbits[st]))
            for st in range(1 << log)
            if t.symbol[st] == s
        )
        assert ranges[0][0] == 0 and ranges[-1][1] == 1 << log
        for (a, b), (c, d) in zip(ranges, ranges[1:]):
            assert b == c


def test_fse_ncount_roundtrip():
    from yark_spark.operators.zstd_encode import _write_ncount

    for counts, log in (
        ([16, 16], 5),
        ([30, 1, 1], 5),
        ([1, 0, 0, 31], 5),
        ([10, 0, 0, 0, 0, 0, 22, 32], 6),
    ):
        blob = _write_ncount(counts, log)
        got, got_log, used = _fse_read_ncount(blob, 0, 255, 9)
        assert got_log == log
        assert used == len(blob)
        assert got == counts


# ---------------------------------------------------------------------------
# hand-derived wire vectors (no encoder involvement)
# ---------------------------------------------------------------------------


def _frame(blocks: bytes, content_size: int) -> bytes:
    """Single-segment frame, no checksum, FCS 1 byte (size < 256)."""
    assert content_size < 256
    return _MAGIC + bytes([0x20, content_size]) + blocks


def test_raw_block_frame_hand_built():
    blocks = struct.pack("<I", 1 | (0 << 1) | (5 << 3))[:3] + b"hello"
    assert zstd_decompress(_frame(blocks, 5)) == b"hello"


def test_rle_block_frame_hand_built():
    blocks = struct.pack("<I", 1 | (1 << 1) | (7 << 3))[:3] + b"z"
    assert zstd_decompress(_frame(blocks, 7)) == b"zzzzzzz"


def test_compressed_block_rle_sequence_mode_hand_built():
    """Literals 'abc' + one sequence (ll=3, ml=3, offset 3) with all
    three channels in RLE table mode: section derived bit-by-bit in the
    comment trail of the round-12 build. Output = 'abcabc'."""
    body = (
        b"\x18abc"          # raw literals, 1-byte header, size 3
        + b"\x01"           # 1 sequence
        + b"\x54"           # modes: LL=RLE, OF=RLE, ML=RLE
        + b"\x03\x02\x00"   # RLE symbols: LL code 3, OF code 2, ML code 0
        + b"\x06"           # bitstream: marker + OF extra '10' (=2)
    )                        # offset_value = (1<<2) + 2 = 6 -> offset 3
    blocks = struct.pack("<I", 1 | (2 << 1) | (len(body) << 3))[:3] + body
    assert zstd_decompress(_frame(blocks, 6)) == b"abcabc"


def test_compressed_block_repeat_mode_and_rep_offsets_hand_built():
    """Block 2 repeats block 1's RLE tables (mode 3) and uses a
    repeat-offset: OF extra bits '00' -> offset_value 4 -> NEW offset 1,
    copying the last byte three times."""
    b1 = b"\x18abc\x01\x54\x03\x02\x00\x06"
    b2 = (
        b"\x18xyz"   # raw literals 'xyz'
        + b"\x01"    # 1 sequence
        + b"\xfc"    # modes: all Repeat
        + b"\x04"    # bitstream: marker + OF extra '00' -> offset_value 4
    )
    blocks = (
        struct.pack("<I", 0 | (2 << 1) | (len(b1) << 3))[:3]
        + b1
        + struct.pack("<I", 1 | (2 << 1) | (len(b2) << 3))[:3]
        + b2
    )
    assert zstd_decompress(_frame(blocks, 12)) == b"abcabcxyzzzz"


def test_compressed_block_fse_mode_hand_built():
    """LL channel on a CUSTOM FSE table (mode 2, ncount on the wire),
    OF/ML in RLE mode; two sequences so the LL state updates once.
    Sequence plan over literals 'xy' with initial reps [1, 4, 8]:
      seq0: ll=2 (code 2) -> 'xy'; offset_value 1, ll!=0 -> rep1=1;
            ml=3 -> 'yyy'            output: 'xyyyy'
      seq1: ll=0 (code 0); offset_value 1, ll==0 -> rep2=4;
            ml=3 -> copies out[1:4]  output: 'xyyyyyyy'
    OF RLE code 0 reads 0 extra bits, so the bitstream is exactly
    [LL init (5 bits), LL update after seq0]."""
    from yark_spark.operators.zstd_encode import _BitsW, _FseEncoder, _write_ncount

    counts, log = [16, 0, 16], 5  # ll codes 0 and 2, AL=5
    desc = _write_ncount(counts, log)
    enc = _FseEncoder(_FseTable.from_counts(counts, log))
    s_last = enc.start_state(0)          # decode order of LL codes: [2, 0]
    s0, bv, bn = enc.step(2, s_last)
    bw = _BitsW()
    for v, n in reversed([(s0, 5), (bv, bn)]):
        bw.write(v, n)
    bw.write(1, 1)  # end marker
    body = (
        b"\x10xy"                                   # raw literals, size 2
        + b"\x02"                                   # 2 sequences
        + bytes([(2 << 6) | (1 << 4) | (1 << 2)])   # LL=FSE, OF=RLE, ML=RLE
        + desc                                      # LL ncount description
        + b"\x00\x00"                               # OF RLE code 0, ML RLE code 0
        + bw.flush()
    )
    blocks = struct.pack("<I", 1 | (2 << 1) | (len(body) << 3))[:3] + body
    assert zstd_decompress(_frame(blocks, 8)) == b"xyyyyyyy"


def test_treeless_literals_reuse_previous_table():
    """Block 2's literals are huff0-coded with block 1's tree (type 3)."""
    from yark_spark.operators.zstd_encode import _huf_codes, _huf_stream

    lit1 = (b"aabbccdd" * 8)[:60]
    # block 1: compressed literals via the encoder's own section builder
    from yark_spark.operators.zstd_encode import _compress_literals

    sec1 = _compress_literals(lit1)
    assert sec1[0] & 3 == 2, "fixture literals must be huff0-compressed"
    b1 = sec1 + b"\x00"  # no sequences
    # block 2: same alphabet, treeless 1-stream
    from yark_spark.operators.png import _limited_code_lengths

    freqs = [0] * 256
    for b in lit1:
        freqs[b] += 1
    lens = _limited_code_lengths(freqs, 11)
    m = max(lens)
    weights = [m + 1 - l if l else 0 for l in lens]
    codes, _ = _huf_codes(weights)
    lit2 = b"abcdddd"
    body2 = _huf_stream(lit2, codes)
    h = 3 | (0 << 2) | (len(lit2) << 4) | (len(body2) << 14)
    sec2 = bytes([h & 0xFF, (h >> 8) & 0xFF, (h >> 16) & 0xFF]) + body2
    b2 = sec2 + b"\x00"
    blocks = (
        struct.pack("<I", 0 | (2 << 1) | (len(b1) << 3))[:3]
        + b1
        + struct.pack("<I", 1 | (2 << 1) | (len(b2) << 3))[:3]
        + b2
    )
    assert zstd_decompress(_frame(blocks, len(lit1) + len(lit2))) == lit1 + lit2


def test_skippable_frame_and_multi_frame():
    skip = struct.pack("<II", 0x184D2A53, 4) + b"meta"
    f1 = zstd_compress(b"first")
    f2 = zstd_compress(b"second", method="compressed")
    assert zstd_frames(skip + f1 + f2) == [b"first", b"second"]


# ---------------------------------------------------------------------------
# roundtrip fuzz + checksum + guards
# ---------------------------------------------------------------------------


def test_roundtrip_fuzz_both_methods():
    rng = random.Random(2024)
    for trial in range(120):
        n = rng.randrange(0, 4000)
        mode = trial % 5
        if mode == 0:
            data = bytes(rng.randrange(256) for _ in range(n))
        elif mode == 1:
            data = bytes(rng.choice(b"abcdefgh ,.") for _ in range(n))
        elif mode == 2:
            words = [
                bytes(rng.choice(bytes(range(32, 127))) for _ in range(rng.randrange(1, 12)))
                for _ in range(10)
            ]
            data = b" ".join(rng.choice(words) for _ in range(n // 5))
        elif mode == 3:
            unit = bytes(rng.randrange(256) for _ in range(rng.randrange(4, 40)))
            data = (unit + bytes([rng.randrange(256)])) * (n // (len(unit) + 1) + 1)
        else:
            data = (b"x" * rng.randrange(1, 50) + b"qz") * (n // 10 + 1)
        for method in ("store", "compressed"):
            assert zstd_decompress(zstd_compress(data, method=method)) == data


def test_multi_block_frame_roundtrip():
    rng = random.Random(5)
    data = (b"lorem ipsum dolor sit amet " * 6000) + bytes(
        rng.randrange(256) for _ in range(2000)
    )
    assert len(data) > 128 << 10
    for method in ("store", "compressed"):
        assert zstd_decompress(zstd_compress(data, method=method)) == data


def test_checksum_detects_corruption():
    enc = bytearray(zstd_compress(b"payload bytes here", method="store"))
    enc[-6] ^= 0x40  # flip a raw-literal bit, keep framing
    with pytest.raises(ValueError):
        zstd_decompress(bytes(enc))


def test_content_size_mismatch_detected():
    enc = bytearray(zstd_compress(b"hello", checksum=False))
    enc[5] = 99  # frame content size byte
    with pytest.raises(ValueError, match="content size"):
        zstd_decompress(bytes(enc))


def test_bomb_guard():
    data = b"\x00" * 100_000
    enc = zstd_compress(data)
    with pytest.raises(ValueError, match="max_output"):
        zstd_decompress(enc, max_output=10_000)
    assert zstd_decompress(enc, max_output=100_000) == data


def test_malformed_inputs_raise_valueerror():
    cases = [
        b"",
        b"\x00" * 10,
        _MAGIC,                       # missing header
        _MAGIC + b"\x08",             # reserved FHD bit
        _MAGIC + bytes([0x20, 5]),    # missing blocks
        _MAGIC + bytes([0x20, 5]) + b"\x07\x00\x00",  # reserved block type
        zstd_compress(b"data")[:-3],  # truncated checksum
        zstd_compress(b"data") + b"x",  # trailing garbage
    ]
    for payload in cases:
        with pytest.raises(ValueError):
            zstd_decompress(payload)


def test_offset_beyond_window_rejected():
    """One all-RLE sequence: ll=1 consumes 'a', then OF code 6 with
    zero extra bits gives offset_value 64 -> offset 61, far past the
    1-byte output."""
    body = (
        b"\x08a"            # raw literals 'a'
        + b"\x01\x54"       # 1 sequence, all channels RLE
        + b"\x01\x06\x00"   # LL code 1, OF code 6, ML code 0
        + b"\x40"           # marker + 6 zero extra bits
    )
    blocks = struct.pack("<I", 1 | (2 << 1) | (len(body) << 3))[:3] + body
    with pytest.raises(ValueError, match="offset|window"):
        zstd_decompress(_frame(blocks, 4))


# ---------------------------------------------------------------------------
# Round 12 (cont.): dictionaries (RFC 8878 §5)
# ---------------------------------------------------------------------------


def _dict_frame(blocks: bytes, content_size: int, dict_id: int) -> bytes:
    """Frame with a 4-byte Dictionary_ID, single-segment, no checksum.
    Field order per RFC: FHD, Dictionary_ID, Frame_Content_Size."""
    assert content_size < 256
    return (
        _MAGIC
        + bytes([0x23])  # single segment + did_size=4, FCS 1 byte
        + struct.pack("<I", dict_id)
        + bytes([content_size])
        + blocks
    )


def test_raw_content_dictionary_window():
    """A match reaching below output offset 0 copies from the raw
    dictionary content: ll=2 literals 'xy', then offset 10 into the
    dict tail, ml=4 crossing the dict/output boundary."""
    # dict content ends ...'ABCDEFGH'; offset 10 -> start 8 back in dict
    body = (
        b"\x10xy"           # raw literals 'xy'
        + b"\x01\x54"       # 1 sequence, all RLE tables
        + b"\x02\x03\x01"   # LL code 2 (ll=2), OF code 3, ML code 1 (ml=4)
        + bytes([0b1_010])  # marker + OF extra '010' -> offset_value 8+2=10
    )                        # offset = 10 - 3 = 7
    blocks = struct.pack("<I", 1 | (2 << 1) | (len(body) << 3))[:3] + body
    frame = _dict_frame(blocks, 6, 0)
    out = zstd_decompress(frame, dictionary=b"....ABCDEFGH")
    # output before match: 'xy' (len 2); offset 7 -> start -5 -> dict[-5:]
    # = 'DEFGH' -> take ml=4: 'DEFG'
    assert out == b"xyDEFG"


def test_structured_dictionary_tables_reps_and_window():
    """A structured dictionary (magic, entropy tables, reps, content):
    the first block uses Treeless literals (dict Huffman), Repeat-mode
    sequence tables (dict FSE) and a rep-code resolving to the dict's
    starting offsets, with the match landing in dict content."""
    from yark_spark.operators.zstd import parse_zstd_dictionary
    from yark_spark.operators.zstd_encode import (
        _BitsW,
        _FseEncoder,
        _huf_codes,
        _huf_stream,
        _write_ncount,
    )

    # Huffman over symbols 'a','b' (weights 1,1) — direct description
    lens = {ord("a"): 1, ord("b"): 1}
    weights = [0] * 256
    weights[ord("a")] = 1
    weights[ord("b")] = 1
    explicit = weights[: ord("b")]  # 'b' is the implied last symbol
    nibbles = bytearray()
    for i in range(0, len(explicit), 2):
        hi = explicit[i]
        lo = explicit[i + 1] if i + 1 < len(explicit) else 0
        nibbles.append((hi << 4) | lo)
    huf_desc = bytes([127 + len(explicit)]) + bytes(nibbles)
    # FSE tables: OF constant code 4 (counts put ALL weight on symbol 4),
    # ML constant code 2 (ml=5), LL constant code 3 (ll=3)
    of_desc = _write_ncount([0, 0, 0, 0, 32], 5)   # AL=5, symbol 4 only
    ml_desc = _write_ncount([0, 0, 32], 5)          # symbol 2 -> ml 5
    ll_desc = _write_ncount([0, 0, 0, 32], 5)       # symbol 3 -> ll 3
    content = b"0123456789ABCDEF"
    reps = struct.pack("<III", 4, 8, 12)
    blob = (
        struct.pack("<II", 0xEC30A437, 77)
        + huf_desc + of_desc + ml_desc + ll_desc + reps + content
    )
    d = parse_zstd_dictionary(blob)
    assert d["dict_id"] == 77 and d["reps"] == [4, 8, 12]

    # block: treeless literals 'aab' + 1 sequence, all Repeat modes.
    # OF code 4 reads 4 extra bits: value 0 -> offset_value 16 -> offset 13
    codes, _tl = _huf_codes(weights)
    lit_stream = _huf_stream(b"aab", codes)
    h = 3 | (0 << 2) | (3 << 4) | (len(lit_stream) << 14)
    lit_sec = bytes([h & 0xFF, (h >> 8) & 0xFF, (h >> 16) & 0xFF]) + lit_stream
    bw = _BitsW()
    # reads: LL init(5) OF init(5) ML init(5), OF extra 4 bits = 0
    enc_ll = _FseEncoder(d["ll"]); enc_of = _FseEncoder(d["of"]); enc_ml = _FseEncoder(d["ml"])
    reads = [
        (enc_ll.start_state(3), 5),
        (enc_of.start_state(4), 5),
        (enc_ml.start_state(2), 5),
        (0, 4),
    ]
    for v, n in reversed(reads):
        bw.write(v, n)
    bw.write(1, 1)  # end marker
    body = lit_sec + b"\x01" + bytes([0xFC]) + bw.flush()
    blocks = struct.pack("<I", 1 | (2 << 1) | (len(body) << 3))[:3] + body
    frame = _dict_frame(blocks, 8, 77)
    out = zstd_decompress(frame, dictionary=d)
    # ll=3 -> 'aab'; offset 13, output len 3 -> start -10 -> content[6:]
    # = '6789ABCDEF' -> ml=5 -> '6789A'
    assert out == b"aab6789A"


def test_dictionary_id_checks():
    frame = _dict_frame(struct.pack("<I", 1 | (5 << 3))[:3] + b"hello", 5, 42)
    with pytest.raises(ValueError, match="dictionary"):
        zstd_decompress(frame)  # frame wants a dict, none given
    from yark_spark.operators.zstd import parse_zstd_dictionary
    wrong = {"dict_id": 43, "reps": [1, 4, 8], "content": b""}
    with pytest.raises(ValueError, match="dictionary"):
        zstd_decompress(frame, dictionary=wrong)
    # raw-content dicts (id 0) satisfy any frame id
    assert zstd_decompress(frame, dictionary=b"window") == b"hello"


def test_dictionary_rep_offset_validation():
    from yark_spark.operators.zstd import parse_zstd_dictionary

    blob = (
        struct.pack("<II", 0xEC30A437, 1)
        + bytes([127 + 1, 0x10])  # weights: sym0 w=1, implied sym1 w=1
        + b""
    )
    with pytest.raises(ValueError):
        parse_zstd_dictionary(blob)  # truncated before FSE tables/reps


# ---------------------------------------------------------------------------
# Round 12 (cont.): seekable format
# ---------------------------------------------------------------------------


def test_seekable_roundtrip_and_independent_frames():
    from yark_spark.operators.zstd import (
        zstd_seek_table,
        zstd_seekable_compress,
    )

    raw = b"the quick brown fox jumps over the lazy dog. " * 2000
    enc = zstd_seekable_compress(raw, frame_size=16 << 10)
    table = zstd_seek_table(enc)
    assert len(table) == -(-len(raw) // (16 << 10))
    # whole-stream decode skips the seek table
    assert b"".join(zstd_frames(enc)) == raw
    # every frame decodes alone and matches its slice
    pos = 0
    for off, c_sz, d_sz in table:
        got = zstd_decompress(enc[off : off + c_sz])
        assert got == raw[pos : pos + d_sz]
        pos += d_sz
    assert pos == len(raw)


def test_seekable_footer_validation():
    from yark_spark.operators.zstd import zstd_seek_table, zstd_seekable_compress

    enc = bytearray(zstd_seekable_compress(b"data" * 100))
    with pytest.raises(ValueError, match="seekable"):
        zstd_seek_table(bytes(enc[:-1]))  # magic cut off
    bad = bytearray(enc)
    bad[-9] ^= 1  # corrupt the frame count (footer: count u32, desc, magic)
    with pytest.raises(ValueError, match="seek"):
        zstd_seek_table(bytes(bad))
    with pytest.raises(ValueError):
        zstd_seek_table(zstd_compress(b"plain frame, no table"))


def test_seekable_spark_listing_equals_whole_stream(spark):
    """The parallel per-frame path and the whole-stream jsonl listing
    must produce identical rows for the same documents."""
    from yark_spark.operators.multimodal import (
        jsonl_zst_listing,
        seekable_zst_frame_listing,
        with_jsonl_zst_shards,
        with_seekable_zst_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"document body {i} " * (i % 7 + 1)) for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(
        map(tuple, seekable_zst_frame_listing(
            with_seekable_zst_shards(docs, frame_size=512)
        ).drop("shard_id").collect())
    )
    b = sorted(
        map(tuple, jsonl_zst_listing(
            with_jsonl_zst_shards(docs, docs_per_shard=64)
        ).drop("shard_id").collect())
    )
    assert a == b and len(a) == 40


# ---------------------------------------------------------------------------
# Round 12 (cont.): self-review regression pins
# ---------------------------------------------------------------------------


def test_sequence_count_wire_roundtrip():
    """Number_of_Sequences header codec: decode(encode(n)) == n across
    every format boundary, including the byte0==255 ADDITION form the
    self-review caught (an OR misparses every count >= 0x8000)."""
    from yark_spark.operators.zstd import _read_seq_count

    def write(n):
        if n < 128:
            return bytes([n])
        if n < 0x7F00:
            return bytes([(n >> 8) + 128, n & 0xFF])
        return bytes([255, (n - 0x7F00) & 0xFF, (n - 0x7F00) >> 8])

    for n in (0, 1, 127, 128, 255, 256, 0x7EFF, 0x7F00, 0x7FFF, 0x8000,
              0xFF00, 0x17EFF):
        got, used = _read_seq_count(write(n), 0)
        assert got == n, (n, got)
        assert used == len(write(n))
    # the specific wire the OR form misparsed: ff 00 01 -> 32768
    assert _read_seq_count(b"\xff\x00\x01", 0)[0] == 0x8000


def test_bomb_guard_spans_concatenated_frames():
    """max_output bounds the TOTAL across frames — concatenation must
    not multiply the cap (round-12 self-review)."""
    one = zstd_compress(b"\x00" * 10_000)
    stream = one * 5
    with pytest.raises(ValueError, match="max_output"):
        zstd_frames(stream, max_output=30_000)
    assert b"".join(zstd_frames(stream, max_output=50_000)) == b"\x00" * 50_000


def test_trailing_zero_bitstream_rejected():
    """RFC: the bitstream's last byte carries the end marker and must
    be nonzero; a zero byte must be malformed, not silently reparsed."""
    # huffman-compressed literals whose stream ends in 0x00
    body = (
        bytes([2 | (0 << 2) | (4 << 4) | (3 << 14) & 0xFF])  # placeholder
    )
    from yark_spark.operators.zstd import _BackwardBits

    with pytest.raises(ValueError, match="marker"):
        _BackwardBits(b"\xff\x00")
    with pytest.raises(ValueError, match="marker"):
        _BackwardBits(b"\x00")


# ---------------------------------------------------------------------------
# Dictionary compression (round 13): structured-dict builder/trainer +
# dictionary FRAMES from the in-repo encoder
# ---------------------------------------------------------------------------


def _dict_samples():
    import json

    return [
        json.dumps({"id": k, "text": f"sample doc {k} shared corpus words"}).encode()
        + b"\n"
        for k in range(16)
    ]


def test_ncount_roundtrips_less_than_one_counts():
    from yark_spark.operators.zstd import (
        _LL_DEFAULT,
        _ML_DEFAULT,
        _OF_DEFAULT,
        _fse_read_ncount,
    )
    from yark_spark.operators.zstd_encode import _write_ncount

    for counts, log in (_LL_DEFAULT, _ML_DEFAULT, _OF_DEFAULT):
        blob = _write_ncount(list(counts), log)
        got, got_log, used = _fse_read_ncount(blob, 0, len(counts) - 1, log)
        assert got_log == log and used == len(blob)
        assert got == list(counts)


def test_structured_dictionary_roundtrip():
    from yark_spark.operators.zstd import parse_zstd_dictionary
    from yark_spark.operators.zstd_encode import build_zstd_dictionary

    blob = build_zstd_dictionary(b"shared prefix content", 4242, reps=(2, 5, 9))
    d = parse_zstd_dictionary(blob)
    assert d["dict_id"] == 4242
    assert d["content"] == b"shared prefix content"
    assert d["reps"] == [2, 5, 9]
    assert "huf" in d and "ll" in d and "of" in d and "ml" in d
    with pytest.raises(ValueError, match="non-zero"):
        build_zstd_dictionary(b"x" * 16, 0)
    with pytest.raises(ValueError, match="rep offset"):
        build_zstd_dictionary(b"tiny", 7, reps=(1, 4, 8))


def test_trained_dictionary_is_deterministic_and_prefix_aware():
    from yark_spark.operators.zstd import parse_zstd_dictionary
    from yark_spark.operators.zstd_encode import train_prefix_dictionary

    b1 = train_prefix_dictionary(_dict_samples(), 913)
    b2 = train_prefix_dictionary(list(_dict_samples()), 913)
    assert b1 == b2  # both sides of the fixture derive identical bytes
    content = parse_zstd_dictionary(b1)["content"]
    assert content.endswith(b'{"id": ')  # majority prefix at window edge


def test_dictionary_frame_roundtrip_and_typed_errors():
    from yark_spark.operators.zstd_encode import train_prefix_dictionary

    blob = train_prefix_dictionary(_dict_samples(), 913)
    raw = (
        b'{"id": 900, "text": "fresh doc shared corpus words and new tail"}\n' * 4
    )
    frame = zstd_compress(raw, method="compressed", dictionary=blob)
    assert zstd_decompress(frame, dictionary=blob) == raw
    # the frame header CARRIES the id: decode without the dict is typed
    with pytest.raises(ValueError, match="wants dictionary 913"):
        zstd_decompress(frame)
    wrong = bytearray(blob)
    struct.pack_into("<I", wrong, 4, 77)
    with pytest.raises(ValueError, match="got 77"):
        zstd_decompress(frame, dictionary=bytes(wrong))


def test_dictionary_frames_actually_copy_from_content():
    # payload whose long prefix exists ONLY in the dictionary content:
    # the dict frame must be smaller than the dict-less frame, proving
    # sequences reach below output offset 0
    from yark_spark.operators.zstd_encode import build_zstd_dictionary

    prefix = b"the shared record skeleton all documents start with: "
    blob = build_zstd_dictionary(prefix, 31)
    raw = prefix + b"unique tail 1234"
    with_dict = zstd_compress(raw, method="compressed", dictionary=blob)
    without = zstd_compress(raw, method="compressed")
    assert zstd_decompress(with_dict, dictionary=blob) == raw
    assert len(with_dict) < len(without)


def test_dictionary_frame_fuzz_roundtrip():
    from yark_spark.operators.zstd_encode import train_prefix_dictionary

    blob = train_prefix_dictionary(_dict_samples(), 913)
    rng = random.Random(1313)
    words = [b"alpha", b"beta", b"shared", b"corpus", b"words", b"zz"]
    for _ in range(60):
        raw = b'{"id": %d, "text": "%s"}\n' % (
            rng.randrange(10**6),
            b" ".join(rng.choice(words) for _ in range(rng.randrange(0, 40))),
        )
        raw = raw * rng.randrange(1, 5)
        frame = zstd_compress(raw, method="compressed", dictionary=blob)
        assert zstd_decompress(frame, dictionary=blob) == raw
