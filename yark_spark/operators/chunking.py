"""Content-defined chunking (CDC) — split documents at positions chosen by
the CONTENT (rolling-hash boundaries), not at fixed offsets, so an edit
early in a document shifts at most one chunk instead of re-chunking the
whole tail. The primitive under storage-level dedup (LBFS/rsync lineage)
and long-document near-dup at chunk granularity.

Scale design: the chunker is a per-row computation — `mapInPandas` with a
polynomial rolling hash (one vectorized O(n) pass per document,
Arrow-batched, zero shuffle). The boundary rule is a pure function of a
fixed-width byte window, so chunk boundaries are deterministic under
retries, repartitioning, and re-execution. A column-expression variant
with an md5 window rule (`cdc_boundaries_expr`) pins the boundary algebra
against the DuckDB oracle on a bounded slice (`q_cdc_boundaries`); the
rolling-hash path is the production shape (`q_cdc_chunks`, rows-only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

#: polynomial base for the rolling hash (odd, > alphabet; odd → invertible
#: mod 2^64, which the vectorized form needs)
_BASE = 257
#: modulus 2^64 — numpy uint64 arithmetic wraps to exactly this for free,
#: so the whole hash computation vectorizes with no bigint math
_WORD = 1 << 64


def _make_candidate_fn(window: int, mask_bits: int):
    """Build the vectorized boundary-candidate kernel as a self-contained
    closure."""
    base, word = _BASE, _WORD
    binv = pow(_BASE, -1, _WORD)
    bw = pow(_BASE, window, _WORD)
    mask_val = (1 << mask_bits) - 1

    def window_hashes(data):
        # out[k] = polynomial hash (mod 2^64) of data[k .. k+window-1]'s
        # trailing window, i.e. the hash of the window ENDING at
        # k + window - 1. H_i (prefix hash) = Σ_j d_j·B^(i-j)
        # = B^i · Σ_j d_j·B^(-j): the inner sum is one cumsum, everything
        # wraps mod 2^64 in uint64. Window hash = H_i − B^window·H_{i-w}.
        import numpy as np

        n = len(data)

        def geometric(b):
            # [1, b, b², …, b^(n-1)] mod 2^64 by doubling — O(log n)
            # vector multiplies (np.multiply.accumulate is scalar-speed)
            p = np.ones(n, dtype=np.uint64)
            p[1:2] = np.uint64(b)
            step = 2
            while step < n:
                m = min(step, n - step)
                p[step : step + m] = p[:m] * p[step - 1] * np.uint64(b)
                step *= 2
            return p

        with np.errstate(over="ignore"):
            pows = geometric(base)           # B^i
            invp = geometric(binv)           # B^-i
            scaled = data.astype(np.uint64) * invp  # d_j·B^-j
            prefix = np.add.accumulate(scaled)      # Σ_{j<=i} d_j·B^-j
            h = prefix * pows                       # H_i
            out = h[window - 1 :].copy()
            out[1:] -= np.uint64(bw) * h[: n - window]
        return out

    def boundary_candidates(data):
        """0-based positions i (>= window-1) whose trailing-window hash
        has its low mask_bits zero."""
        import numpy as np

        wh = window_hashes(data)
        mask = np.uint64(mask_val)
        return (np.nonzero((wh & mask) == 0)[0] + (window - 1)).astype(np.int64)

    return boundary_candidates


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 16,
    mask_bits: int = 6,
    min_len: int = 32,
    max_len: int = 1024,
    with_hash: bool = False,
) -> DataFrame:
    """Chunk each document at content-defined boundaries.

    A boundary closes a chunk at byte position i when the rolling hash of
    the trailing ``window`` bytes has its low ``mask_bits`` bits zero
    (expected chunk length ≈ 2^mask_bits bytes), subject to ``min_len`` /
    ``max_len`` guards — the standard LBFS construction: min_len
    suppresses degenerate tiny chunks, max_len forces progress through
    low-entropy runs. The window hash rolls ACROSS chunk boundaries (local
    content only), so chunking resynchronizes after an edit — the
    content-defined property, asserted in tests/test_chunking.py.

    Returns (id, chunk_idx, chunk_start, chunk_len) over the UTF-8 byte
    string, 0-based starts; chunks tile the document exactly
    (sum(chunk_len) == byte length, starts contiguous). Map-only: no
    shuffle at any scale.

    ``with_hash=True`` adds ``chunk_hash`` (md5 hex of the chunk's bytes),
    computed in the SAME Arrow batch pass — the content key for
    chunk-level dedup (``shared_chunk_pairs``) without a second scan.
    """
    fields = [
        df.schema[id_col],
        StructField("chunk_idx", IntegerType()),
        StructField("chunk_start", LongType()),
        StructField("chunk_len", LongType()),
    ]
    if with_hash:
        from pyspark.sql.types import StringType

        fields.append(StructField("chunk_hash", StringType()))
    schema = StructType(fields)
    cand_fn = _make_candidate_fn(window, mask_bits)

    def _chunk(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        def chunk_one(text: str) -> list[tuple[int, int, int]]:
            data = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
            n = len(data)
            if n == 0:
                return [(0, 0, 0)]
            cand = cand_fn(data) if n >= window else np.empty(0, dtype=np.int64)
            # sparse walk over candidates (~n / 2^mask_bits of them), with
            # the min/max guards — identical semantics to the per-byte
            # reference loop (equivalence-tested in tests/test_chunking.py)
            out = []
            start = idx = 0
            ci = 0
            while start < n:
                lo = start + min_len - 1
                while ci < len(cand) and cand[ci] < lo:
                    ci += 1
                end = int(cand[ci]) if ci < len(cand) else n - 1
                end = min(end, start + max_len - 1, n - 1)
                out.append((idx, start, end - start + 1))
                idx += 1
                start = end + 1
            return out

        cols = [f.name for f in fields]
        for pdf in batches:
            rows = []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                data = (text or "").encode("utf-8")
                for idx, start, length in chunk_one(text):
                    row = (rid, idx, start, length)
                    if with_hash:
                        row += (hashlib.md5(data[start : start + length]).hexdigest(),)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, text_col).mapInPandas(_chunk, schema)


def chunk_positions_reference(
    text: str, window: int, mask_bits: int, min_len: int, max_len: int
) -> list[tuple[int, int, int]]:
    """Per-byte scalar reference of the chunk walk (same mod-2^64 hash) —
    kept for the vectorized-equals-scalar equivalence test."""
    data = (text or "").encode("utf-8")
    n = len(data)
    if n == 0:
        return [(0, 0, 0)]
    mask = (1 << mask_bits) - 1
    pow_out = pow(_BASE, window - 1, _WORD)
    out = []
    start = idx = 0
    h = 0
    for i in range(n):
        if i >= window:
            h = (h - data[i - window] * pow_out) % _WORD
        h = (h * _BASE + data[i]) % _WORD
        length = i - start + 1
        boundary = i + 1 >= window and length >= min_len and (h & mask) == 0
        if boundary or length >= max_len:
            out.append((idx, start, length))
            idx += 1
            start = i + 1
    if start < n:
        out.append((idx, start, n - start))
    return out


def cdc_boundaries_expr(text: Column, window: int = 8, prefix: str = "0") -> Column:
    """Oracle-checkable boundary rule as a pure column expression: 1-based
    positions i where md5 of the ``window``-char substring starting at i
    begins with ``prefix`` (P(boundary) = 16^-len(prefix) per position).
    Same md5 hex in both engines, same 1-based character substr semantics
    → the boundary ALGEBRA is pinned by the differential oracle even
    though the production path uses the rolling hash (an md5 per position
    is O(n·w) — fine for a bounded audit slice, wrong at scale). Texts
    shorter than ``window`` have no boundary (empty array)."""
    positions = F.sequence(F.lit(1), F.greatest(F.length(text) - (window - 1), F.lit(1)))
    bounds = F.filter(
        positions, lambda i: F.md5(F.substring(text, i, F.lit(window))).startswith(prefix)
    )
    return F.when(F.length(text) >= window, bounds).otherwise(
        F.array().cast("array<integer>")
    )


def md5_chunk_hashes(text: Column, window: int = 8, prefix: str = "0") -> Column:
    """Array of md5 hashes of the CHUNKS cut by the ``cdc_boundaries_expr``
    rule — the oracle-checkable twin of ``cdc_chunks(with_hash=True)``.

    Cut rule: a boundary at 1-based position i closes a chunk at character
    i + window - 1 (the end of the hashed window), mirroring the rolling
    hash's trailing-window trigger; cuts at or beyond the last character are
    dropped so the tail chunk is never empty; chunks tile the text. No
    min/max-length guards (those need a sequential walk the SQL oracle
    can't express) — this pins the cut-and-hash ALGEBRA differentially;
    the guarded rolling-hash path is the production shape.
    """
    cuts = F.filter(
        F.transform(cdc_boundaries_expr(text, window, prefix), lambda i: i + (window - 1)),
        lambda e: e < F.length(text),
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(cuts, lambda e: e + 1))
    ends = F.concat(cuts, F.array(F.length(text)))
    ks = F.sequence(F.lit(1), F.size(starts))
    return F.transform(
        ks,
        lambda k: F.md5(
            F.substring(
                text,
                F.element_at(starts, k),
                F.element_at(ends, k) - F.element_at(starts, k) + 1,
            )
        ),
    )


def shared_chunk_pairs(
    chunks: DataFrame,
    id_col: str,
    hash_col: str = "chunk_hash",
    len_col: str | None = "chunk_len",
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """Cross-document shared-chunk detection — the LBFS/storage-dedup use
    case that connects content-defined chunking (E23) to dedup (E1).

    Input: one row per (document, chunk) with a content hash (from
    ``cdc_chunks(with_hash=True)`` or ``md5_chunk_hashes`` exploded).
    Output: (id_a, id_b, n_shared, shared_bytes) — one row per UNORDERED
    document pair sharing at least one identical chunk, with the count of
    distinct shared chunk contents and their total byte size
    (``len_col=None`` drops shared_bytes for hash-only inputs).

    Scale shape: distinct (id, hash, len) triples — a repeated chunk
    within one document counts once — then a self EQUI-join on the chunk
    hash (never all-pairs) and a pair-keyed aggregate. Output is bounded
    by Σ_bucket |bucket|²; a chunk shared by thousands of documents
    (boilerplate headers) is exactly the hot-bucket hazard banded_pairs
    has, so ``max_bucket`` nulls hashes in oversized buckets BEFORE the
    pair join, with an optional ``Observation`` recording capped rows /
    buckets (capped work must be visible, not silent).

    Observation caveat: if the FINAL pair output is empty, AQE's
    empty-relation propagation can replace the whole subtree — including
    the CollectMetrics node — with an empty LocalRelation, and the
    metrics are never delivered (``observation.get`` then fails in the
    JVM). Read the metrics only when the action produced rows, or run
    with AQE off for the audit pass.
    """
    cols = [F.col(id_col), F.col(hash_col).alias("__ch")]
    if len_col is not None:
        cols.append(F.col(len_col).alias("__cl"))
    u = chunks.select(*cols).distinct()
    if max_bucket is not None:
        # Bucket sizes as a hash aggregate on (hash) alone (map-side
        # partial agg, no window shuffle of the full rows); the observe
        # hangs off the aggregate exactly like banded_pairs' sizing.
        sizes = u.groupBy("__ch").agg(F.count(F.lit(1)).alias("__bsz"))
        if observation is not None:
            sizes = sizes.observe(
                observation,
                F.coalesce(
                    F.sum(F.when(F.col("__bsz") > max_bucket, F.col("__bsz"))),
                    F.lit(0).cast("long"),
                ).alias("rows_in_capped_buckets"),
                F.coalesce(
                    F.sum((F.col("__bsz") > max_bucket).cast("double")), F.lit(0.0)
                ).alias("capped_buckets"),
            )
        u = (
            u.join(sizes, "__ch")
            .where(F.col("__bsz") <= max_bucket)
            .drop("__bsz")
        )
    a, b = u.alias("a"), u.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__ch") == F.col("b.__ch"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            *(
                [F.sum("a.__cl").cast("long").alias("shared_bytes")]
                if len_col is not None
                else []
            ),
        )
    )
