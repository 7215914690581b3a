"""WordPiece tokenizer from scratch (round 12): the greedy
longest-match-first (maximum-munch) subword algorithm BERT-family
models tokenize with — per word, repeatedly take the LONGEST
vocabulary piece that prefixes the remaining suffix; if any position
has no match the WHOLE word becomes ``[UNK]`` (pieces already emitted
for it are discarded — the subtle all-or-nothing rule); continuation
pieces present as ``##piece``.

WordPiece joins BPE (operators/bpe: learned merges, pair-frequency
training) as the second tokenizer family: BPE is merge-driven
bottom-up, WordPiece is vocabulary-driven top-down, and production
pipelines meet both (GPT-lineage data uses BPE, BERT-lineage uses
WordPiece). Token counting, context-window packing and contamination
checks all depend on which tokenizer the consumer model uses.

Simplification, documented: one piece inventory serves both start and
continuation positions (real WordPiece vocabs keep separate ``x`` /
``##x`` sets; the fixture vocabulary is symmetric, so the semantics —
greedy munch, all-or-nothing UNK, ## presentation — are exercised
without doubling the table). The fixture vocabulary omits the letter
``q`` entirely, so corpus words containing it (``query``) genuinely
take the [UNK] path.

Oracle design (the flashy part): maximum munch IS expressible in SQL —
a non-recursive argmax join precomputes ``best(word, pos) = the
longest vocab piece matching at pos`` (max_by over substring
equality), then a recursive CTE follows ``pos → pos + len(best)``
per DISTINCT word; a word succeeds iff the walk reaches
``len(word)+1``, else its token list collapses to [UNK]; per-doc
md5 of the ordered token stream certifies every piece boundary. The
Spark side runs this Python implementation and must hash-match that
independent SQL re-derivation.

Plan shape: tokenization is map-only mapInPandas (the ≤200-entry
vocabulary ships inside the closure — at 100 TB it would broadcast);
per-doc aggregates are computed worker-side so token streams never
shuffle.
"""

from __future__ import annotations

import hashlib
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

__all__ = ["WORDPIECE_VOCAB", "wordpiece_tokenize_word", "wordpiece_features"]

#: Fixture vocabulary: every lowercase letter EXCEPT q (so 'query' is a
#: real [UNK]), digits, and multi-char pieces tuned to the corpus so
#: greedy munch takes non-trivial paths ("customer" must beat "custom",
#: "table" must beat "tab"). Symmetric start/continuation inventory.
WORDPIECE_VOCAB: tuple[str, ...] = tuple(
    c for c in "abcdefghijklmnoprstuvwxyz0123456789"  # no 'q'
) + (
    # full words — the single-token path
    "scan", "sort", "fast", "batch", "row", "agg", "the", "line", "key",
    "part", "hash", "big", "small", "join", "group", "spark",
    # prefixes + continuations — force real ## composition: table →
    # tab ##le, value → val ##ue, window → wind ##ow, stream → str
    # ##eam, customer → custom ##er (greedy must beat "custom" at a
    # longer word? no — "customer" is absent, so custom ##er), merge →
    # mer ##ge, data → dat ##a, filter → fil ##ter, column → col
    # ##umn, vector → vec ##tor, slow → sl ##ow, order → or ##d ##er
    "tab", "le", "val", "ue", "wind", "ow", "str", "eam", "custom",
    "er", "mer", "ge", "dat", "fil", "ter", "col", "umn", "vec", "tor",
    "or", "sl", "so", "rt", "ast", "art", "ash", "at", "all", "oup",
    "low", "ark", "tch",
)

_WORD_RE = re.compile(r"[^a-z0-9]+")


def wordpiece_tokenize_word(word: str, vocab: frozenset[str]) -> list[str]:
    """Greedy maximum-munch over one word; all-or-nothing [UNK]."""
    pieces: list[str] = []
    pos = 0
    n = len(word)
    while pos < n:
        best = None
        # longest first: scan down from the remaining length
        for ln in range(n - pos, 0, -1):
            cand = word[pos : pos + ln]
            if cand in vocab:
                best = cand
                break
        if best is None:
            return ["[UNK]"]
        pieces.append(best if pos == 0 else "##" + best)
        pos += len(best)
    return pieces


WORDPIECE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_words", IntegerType()),
        StructField("n_tokens", IntegerType()),
        StructField("n_unk", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def wordpiece_features(
    df: DataFrame,
    vocab: tuple[str, ...] = WORDPIECE_VOCAB,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize each document with greedy WordPiece and emit per-doc
    aggregates: word/token/[UNK] counts and the md5 of the ordered
    space-joined token stream (the digest pins every piece boundary
    and the ## presentation). Docs whose normalized text contains no
    words are omitted (the SQL twin's inner join drops them too).
    Map-only mapInPandas; token streams never shuffle."""
    vocab_set = frozenset(vocab)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # per-batch memo: corpus words repeat heavily, tokenize each
        # distinct word once (the SQL twin's DISTINCT-word recursion)
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
                        got = memo[w] = wordpiece_tokenize_word(w, vocab_set)
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
        _extract, WORDPIECE_SCHEMA
    )
