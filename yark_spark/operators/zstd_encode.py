"""Zstandard compressed-block ENCODER (round 12) — the differential
partner for the RFC 8878 decoder in ``operators/zstd``.

No zstd library exists in this environment, so the decoder's
entropy-coded paths (huff0 literals, FSE sequences) are exercised by
this from-scratch encoder: greedy hash-chain LZ (reusing the DEFLATE
matcher from ``operators/png``) → sequences coded with the PREDEFINED
FSE distributions (tANS encoding derived by inverting the decode-table
transition: for symbol s, the decoder states carrying s partition
[0, table_size) by their ``base`` ranges, so the encoder walks the
chain backward picking the state whose range contains the next state)
→ literals huff0-compressed with package-merge length-limited weights
(Kraft-tight by construction, as the weight scheme requires).

The encoder shares only the published spec constants with the decoder —
table construction, bit-writing, and stream assembly are independent
code paths — so roundtrip fuzz over structured corpora is a genuine
two-way differential, the same strategy the DEFLATE pair used.
"""

from __future__ import annotations

import struct
from bisect import bisect_right
from functools import cache
from itertools import starmap

from yark_spark.operators.png import _bits, _BitsW, _limited_code_lengths, _lz77_tokens
from yark_spark.operators.zstd import (
    _LL_DEFAULT,
    _LL_EXTRA,
    _ML_DEFAULT,
    _ML_EXTRA,
    _OF_DEFAULT,
    _FseTable,
)

__all__ = ["compress_block"]


# ---------------------------------------------------------------------------
# FSE encoding over the predefined tables
# ---------------------------------------------------------------------------


class _FseEncoder:
    """tANS encoder built by inverting a decode table: the decoder's
    transition is ``state' = base[state] + bits``, so encoding symbol s
    before reaching ``state'`` means picking the decode-state x with
    ``symbol[x] == s`` whose [base, base + 2^nbits) range contains
    state' — the ranges of one symbol tile [0, size) exactly."""

    def __init__(self, table: _FseTable):
        self.log = table.log
        by_symbol: dict[int, list[tuple[int, int, int]]] = {}
        for st in range(1 << table.log):
            by_symbol.setdefault(table.symbol[st], []).append(
                (table.base[st], table.nbits[st], st)
            )
        for lst in by_symbol.values():
            lst.sort()
        self.by_symbol = by_symbol
        # one symbol's [base, base + 2^nbits) ranges tile [0, size)
        # exactly and the per-symbol lists are sorted by base, so the
        # entry owning next_state is a bisect over the bases — step()
        # is the hot call of sequence encoding (once per symbol per
        # channel per table candidate)
        self._bases = {s: [e[0] for e in lst] for s, lst in by_symbol.items()}

    def start_state(self, sym: int) -> int:
        try:
            return self.by_symbol[sym][0][2]
        except KeyError:
            raise ValueError(f"zstd encode: symbol {sym} has no FSE state")

    def step(self, sym: int, next_state: int) -> tuple[int, int, int]:
        """(state, bits_value, bits_n) so that decoding ``sym`` at
        ``state`` then reading ``bits`` lands on ``next_state``."""
        bases = self._bases.get(sym)
        if bases:
            base, nb, st = self.by_symbol[sym][bisect_right(bases, next_state) - 1]
            if base <= next_state < base + (1 << nb):
                return st, next_state - base, nb
        raise ValueError(f"zstd encode: no transition for symbol {sym}")


@cache
def _predefined_encoder(channel: str) -> _FseEncoder:
    """Encoder over a channel's predefined distribution (a constant
    table, built once per process)."""
    default = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}[channel]
    return _FseEncoder(_FseTable.from_counts(*default))


def _ll_code(ll: int) -> tuple[int, int, int]:
    if ll < 16:
        return ll, 0, 0
    for code in range(len(_LL_EXTRA) - 1, -1, -1):
        base, nb = _LL_EXTRA[code]
        if ll >= base:
            return 16 + code, ll - base, nb
    raise ValueError("unreachable")


def _ml_code(ml: int) -> tuple[int, int, int]:
    if ml < 35:
        return ml - 3, 0, 0
    for code in range(len(_ML_EXTRA) - 1, -1, -1):
        base, nb = _ML_EXTRA[code]
        if ml >= base:
            return 32 + code, ml - base, nb
    raise ValueError("unreachable")


def _of_code(offset_value: int) -> tuple[int, int, int]:
    code = offset_value.bit_length() - 1
    return code, offset_value - (1 << code), code


def _fit_channel(codes: list, max_log: int):
    """Fitted table for one sequence channel: ('rle', sym) when the
    channel is constant, else ('fse', counts, acc_log, ncount_bytes) —
    normalized to the zstd heuristic accuracy log clamp [5, max_log]."""
    freqs: dict[int, int] = {}
    for c, _, _ in codes:
        freqs[c] = freqs.get(c, 0) + 1
    if len(freqs) == 1:
        return ("rle", codes[0][0])
    al = max(5, min(max_log, (len(codes) - 1).bit_length()))
    counts = _normalize_counts(freqs, al)
    return ("fse", counts, al, _write_ncount(counts, al))


def _seq_body(seqs, lls, ofs, mls, tables) -> bytes:
    """Assemble one sequences section given per-channel table choices
    (mode, table-or-desc): modes byte + descriptions (LL, OF, ML order)
    + the interleaved backward bitstream."""
    n = len(seqs)
    modes = 0
    descs = bytearray()
    encs = {}
    for shift, key, spec in ((6, "ll", tables["ll"]), (4, "of", tables["of"]),
                             (2, "ml", tables["ml"])):
        if spec is None:  # predefined
            encs[key] = _predefined_encoder(key)
        elif spec[0] == "rle":
            modes |= 1 << shift
            descs.append(spec[1])
            encs[key] = _FseEncoder(_FseTable.rle(spec[1]))
        else:
            modes |= 2 << shift
            descs += spec[3]
            encs[key] = _FseEncoder(_FseTable.from_counts(spec[1], spec[2]))
    chains = {}
    for key, codes in (("ll", lls), ("of", ofs), ("ml", mls)):
        enc = encs[key]
        states = [0] * n
        upd = [None] * (n - 1)
        states[n - 1] = enc.start_state(codes[n - 1][0])
        for i in range(n - 2, -1, -1):
            st, bv, bn = enc.step(codes[i][0], states[i + 1])
            states[i] = st
            upd[i] = (bv, bn)
        chains[key] = (states, upd)
    # Decoder read order: LL init, OF init, ML init; per sequence i:
    # OF extra, ML extra, LL extra, then (i < n-1) LL upd, ML upd, OF
    # upd. The writer emits in REVERSE so the backward reader sees them
    # in order.
    reads: list[tuple[int, int]] = [
        (chains["ll"][0][0], encs["ll"].log),
        (chains["of"][0][0], encs["of"].log),
        (chains["ml"][0][0], encs["ml"].log),
    ]
    for i in range(n):
        reads.append((ofs[i][1], ofs[i][2]))
        reads.append((mls[i][1], mls[i][2]))
        reads.append((lls[i][1], lls[i][2]))
        if i < n - 1:
            reads.append(chains["ll"][1][i])
            reads.append(chains["ml"][1][i])
            reads.append(chains["of"][1][i])
    bw = _BitsW()
    bw.parts += starmap(_bits, reversed(reads))
    bw.write(1, 1)  # end marker
    if n < 128:
        head = bytes([n])
    elif n < 0x7F00:
        head = bytes([(n >> 8) + 128, n & 0xFF])
    else:
        head = bytes([255, n & 0xFF, (n - 0x7F00) >> 8])
    return head + bytes([modes]) + bytes(descs) + bw.flush()


def _encode_sequences(seqs: list[tuple[int, int, int]]) -> bytes | None:
    """Sequence section body for (ll, offset_value, ml) triples.
    Channels are coded on FITTED FSE tables (normalized counts
    serialized on the wire, RLE mode for constant channels) when that
    beats the predefined distributions — the predefined tables assume a
    generic corpus and cost ~0.2 extra bits/symbol on skewed real data.
    Both candidates are assembled and the smaller wins. Returns None
    when a value exceeds the representable alphabets (caller stores the
    block raw)."""
    lls, ofs, mls = [], [], []
    for ll, ov, ml in seqs:
        lc = _ll_code(ll)
        oc = _of_code(ov)
        mc = _ml_code(ml)
        if lc[0] > 35 or ll > 131071 or mc[0] > 52 or oc[0] > 28:
            return None
        lls.append(lc)
        ofs.append(oc)
        mls.append(mc)
    predefined = _seq_body(
        seqs, lls, ofs, mls, {"ll": None, "of": None, "ml": None}
    )
    if len(seqs) < 16:  # fitted tables can't amortize their descriptions
        return predefined
    fitted = _seq_body(
        seqs,
        lls,
        ofs,
        mls,
        {
            "ll": _fit_channel(lls, 9),
            "of": _fit_channel(ofs, 8),
            "ml": _fit_channel(mls, 9),
        },
    )
    return fitted if len(fitted) < len(predefined) else predefined


# ---------------------------------------------------------------------------
# huff0 literal compression
# ---------------------------------------------------------------------------


def _huf_codes(weights: list[int]):
    """(code, nbits) per symbol from the FULL weight list, using the
    decode table's fill order (weight ascending, symbol ascending) —
    Kraft-tight weights make every range aligned."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    table_log = (total - 1).bit_length()
    codes = {}
    pos = 0
    for w in range(1, table_log + 1):
        size = 1 << (w - 1)
        nb = table_log + 1 - w
        for sym, sw in enumerate(weights):
            if sw != w:
                continue
            codes[sym] = (pos >> (w - 1), nb)
            pos += size
    return codes, table_log


def _huf_stream(segment: bytes, codes) -> bytes:
    """One huff0 stream: symbols encoded in REVERSE order so the
    backward reader decodes them forward."""
    parts = {sym: _bits(c, nb) for sym, (c, nb) in codes.items()}
    bw = _BitsW()
    bw.parts += map(parts.__getitem__, reversed(segment))
    bw.write(1, 1)  # end marker
    return bw.flush()


def _compress_literals(lit: bytes) -> bytes:
    """Literals section: huff0-compressed when it wins, else raw/RLE."""
    n = len(lit)
    if n > 1 and lit.count(lit[0]) == n:  # RLE literals
        if n < 32:
            return bytes([1 | (n << 3), lit[0]])
        if n < 4096:
            return bytes([1 | 4 | ((n & 0xF) << 4), n >> 4, lit[0]])
        return bytes(
            [1 | 12 | ((n & 0xF) << 4), (n >> 4) & 0xFF, n >> 12, lit[0]]
        )
    body = _try_huf(lit) if n >= 32 else None
    if body is not None and len(body) < n:
        return body
    # raw literals
    if n < 32:
        return bytes([0 | (n << 3)]) + lit
    if n < 4096:
        return bytes([0 | 4 | ((n & 0xF) << 4), n >> 4]) + lit
    return bytes([0 | 12 | ((n & 0xF) << 4), (n >> 4) & 0xFF, n >> 12]) + lit


def _try_huf(lit: bytes) -> bytes | None:
    n = len(lit)
    freqs = [0] * 256
    for b in lit:
        freqs[b] += 1
    if sum(1 for f in freqs if f) < 2:
        return None
    lens = _limited_code_lengths(freqs, 11)
    max_len = max(lens)
    weights = [max_len + 1 - l if l else 0 for l in lens]
    last_sym = max(s for s, w in enumerate(weights) if w)
    # explicit weights = all but the last present symbol (implied)
    explicit = weights[:last_sym]
    if len(explicit) < 1:
        return None
    direct = None
    if len(explicit) <= 128:
        nibbles = bytearray()
        for i in range(0, len(explicit), 2):
            hi = explicit[i]
            lo = explicit[i + 1] if i + 1 < len(explicit) else 0
            nibbles.append((hi << 4) | lo)
        direct = bytes([127 + len(explicit)]) + bytes(nibbles)
    fse = _fse_compress_weights(explicit)
    fse = bytes([len(fse)]) + fse if fse is not None and len(fse) < 128 else None
    if direct is None and fse is None:
        return None
    if fse is not None and (direct is None or len(fse) < len(direct)):
        tree = fse
    else:
        tree = direct
    codes, _ = _huf_codes(weights)
    if n <= 1023:  # 1-stream, size format 00
        body = _huf_stream(lit, codes)
        csize = len(tree) + len(body)
        if csize > 1023:
            return None
        h = 2 | (0 << 2) | (n << 4) | (csize << 14)
        return bytes([h & 0xFF, (h >> 8) & 0xFF, (h >> 16) & 0xFF]) + tree + body
    # 4 streams + jump table
    seg = (n + 3) >> 2
    parts = [lit[0:seg], lit[seg : 2 * seg], lit[2 * seg : 3 * seg], lit[3 * seg :]]
    if not parts[3]:
        return None  # 4th stream may not be empty
    streams = [_huf_stream(p, codes) for p in parts]
    if any(len(s) > 0xFFFF for s in streams[:3]):
        return None
    jump = struct.pack("<HHH", len(streams[0]), len(streams[1]), len(streams[2]))
    body = jump + b"".join(streams)
    csize = len(tree) + len(body)
    if n <= 16383 and csize <= 16383:  # size format 10: 4-byte header
        h = 2 | (2 << 2) | (n << 4) | (csize << 18)
        hdr = bytes([h & 0xFF, (h >> 8) & 0xFF, (h >> 16) & 0xFF, (h >> 24) & 0xFF])
    elif n <= 262143 and csize <= 262143:  # size format 11: 5-byte header
        h = 2 | (3 << 2) | (n << 4) | (csize << 22)
        hdr = bytes(
            [
                h & 0xFF,
                (h >> 8) & 0xFF,
                (h >> 16) & 0xFF,
                (h >> 24) & 0xFF,
                (h >> 32) & 0xFF,
            ]
        )
    else:
        return None
    return hdr + tree + body


# ---------------------------------------------------------------------------
# Block assembly
# ---------------------------------------------------------------------------


def compress_block(
    chunk: bytes,
    reps: list[int] | None = None,
    max_chain: int = 64,
    window: bytes = b"",
):
    """One zstd Compressed_Block body for ``chunk`` (≤ 128 KB) →
    ``(body, new_reps)``, or None when the entropy paths can't represent
    it (caller stores raw). ``reps`` is the FRAME-level repeat-offset
    history — the decoder carries it across blocks, so the encoder must
    thread it through every compressed block of the frame (raw/RLE
    blocks leave it untouched on both sides). ``window`` is match
    context below output offset 0 — a zstd DICTIONARY's content: the
    matcher seeds its hash chains with it, so sequences may copy from
    the dictionary (offsets larger than the bytes produced so far)."""
    tokens = list(_lz77_tokens(window + chunk, max_chain=max_chain, start=len(window)))
    # merge back-to-back matches at the SAME distance: the DEFLATE
    # matcher caps one match at 258 bytes, but a continued copy at an
    # unchanged distance is a single (longer) zstd sequence — long runs
    # and repeated records collapse to one match instead of dozens
    merged: list = []
    for t in tokens:
        if (
            isinstance(t, tuple)
            and merged
            and isinstance(merged[-1], tuple)
            and merged[-1][1] == t[1]
        ):
            merged[-1] = (merged[-1][0] + t[0], t[1])
        else:
            merged.append(t)
    tokens = merged
    seqs: list[tuple[int, int, int]] = []
    literals = bytearray()
    pending = 0  # literal run length awaiting the next match
    pos = 0
    reps = list(reps) if reps is not None else [1, 4, 8]
    for t in tokens:
        if isinstance(t, tuple):
            length, dist = t
            # prefer a repeat code when the offset is in the history
            # (offset_value 1-3, with the literals_length-0 remapping)
            if pending != 0:
                table = {reps[0]: 1, reps[1]: 2, reps[2]: 3}
            else:
                table = {reps[1]: 1, reps[2]: 2}
                if reps[0] > 1:
                    table.setdefault(reps[0] - 1, 3)
            ov = table.get(dist, dist + 3)
            v = ov + (1 if pending == 0 else 0) if ov <= 3 else 99
            if v == 1:
                pass
            elif v == 2:
                reps = [dist, reps[0], reps[2]]
            else:  # v == 3, v == 4, or a new offset
                reps = [dist, reps[0], reps[1]]
            seqs.append((pending, ov, length))
            pending = 0
            pos += length
        else:
            literals.append(t)
            pending += 1
            pos += 1
    # trailing `pending` literals ride after the last sequence
    lit = bytes(literals)
    if seqs:
        seq_body = _encode_sequences(seqs)
        if seq_body is None:
            return None
    else:
        seq_body = bytes([0])
    body = _compress_literals(lit) + seq_body
    if len(body) >= len(chunk):
        return None
    return body, reps


# ---------------------------------------------------------------------------
# FSE-compressed Huffman weights (the description every real zstd file
# uses once the literal alphabet passes ~20 symbols)
# ---------------------------------------------------------------------------


def _normalize_counts(freqs: dict[int, int], acc_log: int) -> list[int]:
    """Normalize symbol frequencies to sum exactly 2**acc_log, every
    present symbol >= 1 (the -1 'less than one' form is never emitted —
    it is a size optimization, not a requirement)."""
    total = sum(freqs.values())
    size = 1 << acc_log
    max_sym = max(freqs)
    counts = [0] * (max_sym + 1)
    shares = []
    for s in range(max_sym + 1):
        f = freqs.get(s, 0)
        if not f:
            continue
        exact = f * size / total
        c = max(1, int(exact))
        counts[s] = c
        shares.append((exact - c, s))
    diff = size - sum(counts)
    # distribute leftovers by largest remainder; steal from the largest
    # counts when over-allocated
    shares.sort(reverse=True)
    i = 0
    while diff > 0:
        counts[shares[i % len(shares)][1]] += 1
        diff -= 1
        i += 1
    while diff < 0:
        big = max((c, s) for s, c in enumerate(counts))
        if big[0] <= 1:
            raise ValueError("zstd encode: cannot normalize counts")
        counts[big[1]] -= 1
        diff += 1
    return counts


def _write_ncount(counts: list[int], acc_log: int) -> bytes:
    """Serialize an FSE table description (inverse of the reader's
    threshold scheme). A -1 count is the spec's "less than 1"
    probability: coded as value 0, it takes ONE slot from remaining —
    the block encoder never produces it, but the predefined
    distributions serialized into dictionaries do (round 13)."""
    bits: list[tuple[int, int]] = [(acc_log - 5, 4)]
    remaining = (1 << acc_log) + 1
    threshold = 1 << acc_log
    nb = acc_log + 1
    i = 0
    while remaining > 1:
        c = counts[i]
        value = c + 1
        cap = 2 * threshold - 1 - remaining
        if value < cap:
            bits.append((value, nb - 1))
        else:
            v = value if value < threshold else value + cap
            bits.append((v, nb))
        remaining -= -c if c < 0 else c
        if c == 0:
            # zero-run coding: count following zeros in 2-bit groups
            run = 0
            j = i + 1
            while j < len(counts) and counts[j] == 0 and remaining > 1:
                run += 1
                j += 1
            i = j
            while run >= 3:
                bits.append((3, 2))
                run -= 3
            bits.append((run, 2))
        else:
            i += 1
        while remaining < threshold and remaining > 0:
            nb -= 1
            threshold >>= 1
    acc = 0
    pos = 0
    for v, n in bits:
        acc |= (v & ((1 << n) - 1)) << pos
        pos += n
    return acc.to_bytes((pos + 7) // 8, "little")


def _fse_compress_weights(weights: list[int]) -> bytes | None:
    """Two-state interleaved FSE stream for explicit Huffman weights
    (all but the implied last), with its table description. Returns the
    full compressed-weights payload (without the size header byte), or
    None when the shape can't be encoded."""
    n = len(weights)
    if n < 2:
        return None
    freqs: dict[int, int] = {}
    for w in weights:
        freqs[w] = freqs.get(w, 0) + 1
    if len(freqs) < 2:
        return None  # single-symbol table has no >=1-bit final state
    acc_log = 6
    while acc_log > 5 and (1 << (acc_log - 1)) >= 4 * len(freqs):
        acc_log -= 1
    counts = _normalize_counts(freqs, acc_log)
    desc = _write_ncount(counts, acc_log)
    table = _FseTable.from_counts(counts, acc_log)
    enc = _FseEncoder(table)
    # chain1 decodes even indices, chain2 odd; the chain owning index
    # n-2 must end on a state with >= 1 update bit (it signals the end)
    chain1 = [weights[i] for i in range(0, n, 2)]
    chain2 = [weights[i] for i in range(1, n, 2)]
    breaker = "c1" if (n - 2) % 2 == 0 else "c2"

    def _build(symbols: list[int], need_bits: bool):
        states = [0] * len(symbols)
        last = symbols[-1]
        cands = enc.by_symbol.get(last, ())
        if not cands:
            return None
        pick = None
        for base, nbits_c, st in cands:
            if not need_bits or nbits_c >= 1:
                pick = st
                break
        if pick is None:
            return None
        states[-1] = pick
        upd = []
        for i in range(len(symbols) - 2, -1, -1):
            st, bv, bn = enc.step(symbols[i], states[i + 1])
            states[i] = st
            upd.append((bv, bn))
        upd.reverse()
        return states, upd

    b1 = _build(chain1, breaker == "c1")
    b2 = _build(chain2, breaker == "c2")
    if b1 is None or b2 is None:
        return None
    # decode read order: init s1, init s2, then updates interleaved by
    # original index 0..n-3 (chain1's update j follows symbol 2j)
    reads = [(b1[0][0], acc_log), (b2[0][0], acc_log)]
    for idx in range(n - 2):
        chain, j = (b1, idx // 2) if idx % 2 == 0 else (b2, idx // 2)
        reads.append(chain[1][j])
    bw = _BitsW()
    bw.parts += starmap(_bits, reversed(reads))
    bw.write(1, 1)  # end marker
    return desc + bw.flush()


# ---------------------------------------------------------------------------
# Dictionaries (round 13): the structured format (RFC 8878 §5) for the
# dictionary-compressed shard fixtures — content trained as the corpus
# records' majority byte-prefix, entropy tables = the spec's predefined
# distributions (valid to parse; consulted only if a first block opts
# into Repeat/Treeless modes, which this encoder does not).
# ---------------------------------------------------------------------------

_DICT_MAGIC = 0xEC30A437


def build_zstd_dictionary(
    content: bytes, dict_id: int, reps: tuple[int, int, int] = (1, 4, 8)
) -> bytes:
    """Serialize a structured zstd dictionary: magic, id, Huffman
    weights (direct form: 127 explicit weight-1 symbols + the implied
    128th — a flat 7-bit literals table), the predefined OF/ML/LL FSE
    distributions via the in-repo ncount writer, the three starting
    repeat offsets, then ``content`` (the match window below output
    offset 0). Round-trips through ``parse_zstd_dictionary``."""
    import struct as _struct

    # driver-side only (fixtures ship the BYTES to executors), so the
    # runtime import of the decode module's spec tables is safe
    from yark_spark.operators.zstd import _LL_DEFAULT, _ML_DEFAULT, _OF_DEFAULT

    content = bytes(content)
    if dict_id == 0:
        raise ValueError("zstd: structured dictionary id must be non-zero")
    for r in reps:
        if r == 0 or r > len(content):
            raise ValueError("zstd: dictionary rep offset out of range")
    out = bytearray(_struct.pack("<II", _DICT_MAGIC, dict_id))
    out.append(254)  # direct weights, 254 - 127 = 127 explicit symbols
    out += bytes([0x11] * 63) + bytes([0x10])  # 127 nibbles of weight 1
    for counts, log in (_OF_DEFAULT, _ML_DEFAULT, _LL_DEFAULT):
        out += _write_ncount(list(counts), log)
    out += _struct.pack("<III", *reps)
    out += content
    return bytes(out)


def train_prefix_dictionary(
    samples: list[bytes],
    dict_id: int,
    min_share: float = 0.6,
    max_len: int = 4096,
    gram: int = 16,
) -> bytes:
    """Train a content-prefix dictionary from record-shaped payloads:
    the 16-byte substrings shared by at least ``min_share`` of the
    samples (most-shared first), then the byte-wise majority-vote
    PREFIX placed LAST — at the window edge, where its match offsets
    are smallest (the layout real zstd trainers converge on: hottest
    content nearest the data). Fully deterministic (count-then-value
    tie-breaks), so fixture builders and listings derive the same
    dictionary independently."""
    if not samples:
        raise ValueError("zstd: dictionary training needs samples")
    # shared leading structure (a JSONL corpus's {"id":  skeleton)
    prefix = bytearray()
    for i in range(max_len):
        freq: dict[int, int] = {}
        for smp in samples:
            if len(smp) > i:
                freq[smp[i]] = freq.get(smp[i], 0) + 1
        if not freq:
            break
        byte, n = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))
        if n < min_share * len(samples):
            break
        prefix.append(byte)
    # frequent shared substrings (counted once per sample)
    gfreq: dict[bytes, int] = {}
    for smp in samples:
        for g in {smp[i : i + gram] for i in range(len(smp) - gram + 1)}:
            gfreq[g] = gfreq.get(g, 0) + 1
    shared = sorted(
        (g for g, n in gfreq.items() if n >= min_share * len(samples)),
        key=lambda g: (-gfreq[g], g),
    )
    body = bytearray()
    budget = max_len - len(prefix)
    for g in shared:
        if len(body) + gram > budget:
            break
        if g not in body:  # skip grams an earlier pick already covers
            body += g
    content = bytes(body) + bytes(prefix)
    if len(content) < 8:
        raise ValueError("zstd: dictionary training found no shared content")
    return build_zstd_dictionary(content, dict_id)
