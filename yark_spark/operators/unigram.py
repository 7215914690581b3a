"""Unigram-LM tokenizer from scratch (round 13) — the SentencePiece
algorithm (Kudo 2018): a vocabulary of pieces with probabilities, EM
training over (word, freq) pairs, and VITERBI encoding (the
max-probability segmentation, equivalently the min-cost path where
cost = -log p). Completes the tokenizer trio: BPE (operators/bpe,
merge-driven bottom-up), WordPiece (operators/wordpiece, greedy
vocabulary munch), Unigram (probabilistic top-down) — the three
families production pipelines actually meet (GPT/BERT/T5-Llama
lineages respectively).

Training: seed the vocabulary with every substring (length <= 4) of
the corpus words weighted by frequency; E-step computes each piece's
EXPECTED COUNT across all segmentations of every word
(forward-backward over the segmentation lattice); M-step
renormalizes; prune keeps single characters always (the fallback
that makes every alnum word encodable) and the highest-probability
multi-char pieces, shrinking to the target vocabulary. The
distributed twin (`unigram_train_distributed`) runs the SAME E-step
worker-side over the distinct (word, freq) table — one partial-agg
shuffle per iteration, piece table broadcast in the closure — and is
pinned against this sequential trainer in tests.

Encoding: suffix DP under the ordering (total_cost, token_string) —
min cost first, lexicographically smallest space-joined token stream
on ties. The tie-break composes through the DP (for a fixed first
piece the minimal suffix string yields the minimal full string), so
Viterbi stays O(len * pieces). A word with any position no piece
matches collapses to [UNK] whole (all-or-nothing, the WordPiece
rule).

Oracle design: integer PICO-costs (round(-ln p * 1e12)) make the SQL
twin drift-free — the oracle ENUMERATES every segmentation per
DISTINCT word with a recursive CTE carrying (cost, token string) and
picks the same (cost, toks) argmin via one window. Enumeration is
bounded because the corpus vocabulary is tiny and words are short
(compositions of len<=8 into parts<=4); the Spark side runs true
Viterbi, so the hash match proves the DP against brute force.

The fixture piece table is TRAINED at import by the sequential EM
over the corpus's embedded word-frequency profile — deterministic,
and both the Spark closure and the oracle VALUES derive from the
same constant.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "UNIGRAM_PIECES",
    "seed_pieces",
    "e_step_word",
    "train_unigram",
    "unigram_train_distributed",
    "unigram_encode_word",
    "unigram_features",
]

_WORD_RE = re.compile(r"[^a-z0-9]+")

#: The synthetic corpus's word-frequency profile (documents table,
#: measured once at sf0.01 — the 30 uniform generator words plus its
#: rare tokens). The fixture piece table trains on this embedded
#: profile so the constant is reproducible from the module alone.
CORPUS_WORD_FREQS: tuple[tuple[str, int], ...] = (
    ("join", 964), ("hash", 947), ("row", 943), ("batch", 937),
    ("scan", 936), ("column", 934), ("customer", 934), ("filter", 933),
    ("small", 928), ("slow", 918), ("merge", 918), ("order", 912),
    ("vector", 912), ("line", 910), ("table", 908), ("data", 908),
    ("agg", 901), ("value", 897), ("key", 896), ("stream", 888),
    ("window", 886), ("a", 880), ("spark", 880), ("part", 878),
    ("group", 878), ("big", 876), ("sort", 872), ("query", 871),
    ("fast", 854), ("the", 840), ("dup", 26),
)


# ---------------------------------------------------------------------------
# Training (EM) — sequential reference; the distributed twin shares
# e_step_word verbatim
# ---------------------------------------------------------------------------


def seed_pieces(
    word_freqs: "list[tuple[str, int]] | tuple",
    max_piece_len: int = 4,
) -> dict[str, float]:
    """Seed vocabulary: every substring of length <= max_piece_len of
    every word, weighted by word frequency, normalized to probabilities.
    Single characters of the alphabet always survive pruning, so every
    word over the seed alphabet stays encodable."""
    counts: dict[str, float] = {}
    for word, freq in word_freqs:
        n = len(word)
        for i in range(n):
            for ln in range(1, min(max_piece_len, n - i) + 1):
                piece = word[i : i + ln]
                counts[piece] = counts.get(piece, 0.0) + freq
    total = sum(counts.values())
    return {p: c / total for p, c in counts.items()}


def _lattice_alphas(word: str, pieces: dict[str, float], max_len: int):
    """Forward pass: alpha[p] = total probability of all segmentations
    of word[:p]."""
    n = len(word)
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for p in range(1, n + 1):
        acc = 0.0
        for ln in range(1, min(max_len, p) + 1):
            prob = pieces.get(word[p - ln : p])
            if prob:
                acc += alpha[p - ln] * prob
        alpha[p] = acc
    return alpha


def e_step_word(
    word: str, freq: int, pieces: dict[str, float], max_len: int = 4
) -> dict[str, float]:
    """Expected count of each piece across ALL segmentations of one
    word (forward-backward over the lattice), scaled by the word's
    corpus frequency. Words with zero-probability lattices (some
    character missing from the vocabulary) contribute nothing."""
    n = len(word)
    alpha = _lattice_alphas(word, pieces, max_len)
    if alpha[n] == 0.0:
        return {}
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for p in range(n - 1, -1, -1):
        acc = 0.0
        for ln in range(1, min(max_len, n - p) + 1):
            prob = pieces.get(word[p : p + ln])
            if prob:
                acc += prob * beta[p + ln]
        beta[p] = acc
    out: dict[str, float] = {}
    z = alpha[n]
    for p in range(n):
        for ln in range(1, min(max_len, n - p) + 1):
            piece = word[p : p + ln]
            prob = pieces.get(piece)
            if prob:
                post = alpha[p] * prob * beta[p + ln] / z
                if post:
                    out[piece] = out.get(piece, 0.0) + post * freq
    return out


def _m_step(counts: dict[str, float]) -> dict[str, float]:
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("unigram: EM collapsed (no piece has mass)")
    return {p: c / total for p, c in counts.items()}


def _prune(pieces: dict[str, float], keep_multi: int) -> dict[str, float]:
    """Keep every single-character piece plus the top ``keep_multi``
    multi-char pieces by probability (deterministic (-prob, piece)
    tie-break), then renormalize."""
    singles = {p: v for p, v in pieces.items() if len(p) == 1}
    multis = sorted(
        ((p, v) for p, v in pieces.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:keep_multi]
    kept = dict(singles)
    kept.update(dict(multis))
    return _m_step(kept)


def train_unigram(
    word_freqs,
    vocab_multi: int = 48,
    rounds: int = 3,
    iters_per_round: int = 2,
    max_piece_len: int = 4,
) -> dict[str, float]:
    """Sequential EM reference trainer: seed, then ``rounds`` of
    (``iters_per_round`` EM sweeps + prune toward ``vocab_multi``
    multi-char pieces, shrinking geometrically). Deterministic."""
    pieces = seed_pieces(word_freqs, max_piece_len)
    n_multi_now = sum(1 for p in pieces if len(p) > 1)
    for r in range(rounds):
        for _ in range(iters_per_round):
            counts: dict[str, float] = {}
            for word, freq in word_freqs:
                for piece, c in e_step_word(word, freq, pieces, max_piece_len).items():
                    counts[piece] = counts.get(piece, 0.0) + c
            pieces = _m_step(counts)
        # geometric shrink toward the target multi-piece budget
        frac = (r + 1) / rounds
        target = int(round(n_multi_now * (vocab_multi / n_multi_now) ** frac))
        pieces = _prune(pieces, max(vocab_multi, target))
    return pieces


def unigram_train_distributed(
    df: DataFrame,
    vocab_multi: int = 48,
    rounds: int = 3,
    iters_per_round: int = 2,
    max_piece_len: int = 4,
    word_col: str = "word",
    freq_col: str = "freq",
) -> dict[str, float]:
    """The distributed twin of :func:`train_unigram` over a (word,
    freq) DataFrame: each EM sweep ships the current piece table in
    the task closure (at 100 TB it would broadcast), runs
    ``e_step_word`` per row worker-side, and aggregates expected
    counts with ONE partial-agg shuffle (map-side combine via
    groupBy().sum()); the <= few-thousand-row piece table collects to
    the driver between sweeps. Seeding aggregates substring counts
    the same way. Pinned equal (1e-9 rel) to the sequential trainer
    in tests/test_unigram.py."""
    rows_df = df.select(
        F.col(word_col).alias("word"), F.col(freq_col).cast("long").alias("freq")
    ).cache()

    # distributed seed: one explode + one partial-agg shuffle
    def _substrings(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ps, cs = [], []
            for word, freq in zip(pdf["word"], pdf["freq"]):
                n = len(word)
                for i in range(n):
                    for ln in range(1, min(max_piece_len, n - i) + 1):
                        ps.append(word[i : i + ln])
                        cs.append(float(freq))
            yield pd.DataFrame({"piece": ps, "count": cs})

    from pyspark.sql.types import DoubleType

    schema = StructType(
        [StructField("piece", StringType()), StructField("count", DoubleType())]
    )
    seed_rows = (
        rows_df.mapInPandas(_substrings, schema)
        .groupBy("piece")
        .agg(F.sum("count").alias("count"))
        .collect()
    )
    total = sum(r["count"] for r in seed_rows)
    pieces = {r["piece"]: r["count"] / total for r in seed_rows}
    n_multi_now = sum(1 for p in pieces if len(p) > 1)

    for r in range(rounds):
        for _ in range(iters_per_round):
            table = dict(pieces)  # ships in the closure

            def _estep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    ps, cs = [], []
                    for word, freq in zip(pdf["word"], pdf["freq"]):
                        for piece, c in e_step_word(
                            word, int(freq), table, max_piece_len
                        ).items():
                            ps.append(piece)
                            cs.append(c)
                    yield pd.DataFrame({"piece": ps, "count": cs})

            rows = (
                rows_df.mapInPandas(_estep, schema)
                .groupBy("piece")
                .agg(F.sum("count").alias("count"))
                .collect()
            )
            pieces = _m_step({r2["piece"]: r2["count"] for r2 in rows})
        frac = (r + 1) / rounds
        target = int(round(n_multi_now * (vocab_multi / n_multi_now) ** frac))
        pieces = _prune(pieces, max(vocab_multi, target))
    rows_df.unpersist()
    return pieces


def pieces_to_costs(pieces: dict[str, float]) -> tuple[tuple[str, int], ...]:
    """Integer PICO-costs: round(-ln(p) * 1e12) — the E58 exactness
    recipe, so Spark and DuckDB compare identical BIGINTs."""
    return tuple(
        sorted((p, round(-math.log(v) * 1_000_000_000_000)) for p, v in pieces.items())
    )


#: The fixture piece table: trained at import by the sequential EM
#: over the embedded corpus profile, as (piece, pico_cost) pairs.
UNIGRAM_PIECES: tuple[tuple[str, int], ...] = pieces_to_costs(
    train_unigram(CORPUS_WORD_FREQS)
)


# ---------------------------------------------------------------------------
# Viterbi encode
# ---------------------------------------------------------------------------


def unigram_encode_word(
    word: str, costs: dict[str, int], max_len: int | None = None
) -> list[str]:
    """Min-cost segmentation of one word under integer piece costs;
    equal-cost paths break to the lexicographically smallest
    space-joined token string (suffix DP — the tie-break composes).
    All-or-nothing [UNK] when some position has no matching piece."""
    n = len(word)
    if max_len is None:
        max_len = max((len(p) for p in costs), default=1)
    # best[p] = (cost, toks_string) for word[p:]
    best: list[tuple[int, str] | None] = [None] * (n + 1)
    best[n] = (0, "")
    for p in range(n - 1, -1, -1):
        cand: tuple[int, str] | None = None
        for ln in range(1, min(max_len, n - p) + 1):
            piece = word[p : p + ln]
            c = costs.get(piece)
            if c is None:
                continue
            nxt = best[p + ln]
            if nxt is None:
                continue
            toks = piece if nxt[1] == "" else piece + " " + nxt[1]
            this = (c + nxt[0], toks)
            if cand is None or this < cand:
                cand = this
        best[p] = cand
    if best[0] is None:
        return ["[UNK]"]
    return best[0][1].split(" ")


UNIGRAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_words", IntegerType()),
        StructField("n_tokens", IntegerType()),
        StructField("n_unk", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def unigram_features(
    df: DataFrame,
    pieces: tuple[tuple[str, int], ...] = UNIGRAM_PIECES,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize each document with Viterbi unigram-LM and emit per-doc
    aggregates: word/token/[UNK] counts and the md5 of the ordered
    space-joined token stream. Docs with no words are omitted (the SQL
    twin's inner join drops them too). Map-only mapInPandas with a
    per-batch distinct-word memo; token streams never shuffle — the
    WordPiece plan shape (E107)."""
    cost_map = dict(pieces)
    max_len = max((len(p) for p in cost_map), default=1)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        memo: dict[str, list[str]] = {}
        for pdf in batches:
            dids, nws, nts, nus, digs = [], [], [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in _WORD_RE.split(t.lower()) if w]
                if not words:
                    continue
                tokens: list[str] = []
                for w in words:
                    got = memo.get(w)
                    if got is None:
                        got = memo[w] = unigram_encode_word(w, cost_map, max_len)
                    tokens.extend(got)
                dids.append(int(did))
                nws.append(len(words))
                nts.append(len(tokens))
                nus.append(sum(1 for tk in tokens if tk == "[UNK]"))
                digs.append(
                    hashlib.md5(" ".join(tokens).encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": np.array(dids, dtype="int64"),
                    "n_words": np.array(nws, dtype="int32"),
                    "n_tokens": np.array(nts, dtype="int32"),
                    "n_unk": np.array(nus, dtype="int32"),
                    "digest": digs,
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _extract, UNIGRAM_SCHEMA
    )
