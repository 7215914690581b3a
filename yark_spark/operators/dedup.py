"""Deduplication operators for large-scale training-data pipelines
(BASELINE.json north-star; SURVEY.md §2.8 E1/E2).

Scale design:
- Exact dedup hashes the content first (sha2 → 64 hex chars) so the shuffle
  key is small even when documents are megabytes; groupBy does map-side
  partial aggregation, and the representative choice (min id) is an `agg`,
  not a window over raw text.
- MinHash: per-document signatures are computed scan-side (one pass,
  explode → groupBy doc), then LSH banding turns the quadratic candidate
  problem into an equi-join on (band, band_hash) — the only shuffle is on
  band buckets. Hot buckets (boilerplate docs) are the skew risk; AQE skew
  join handles moderate cases, and `max_bucket` caps pathological ones.
- SimHash: 64-bit signature per doc from xxhash64(token) bit-votes —
  near-dups differ in few bits; candidate pairs via banding the signature
  into 4×16-bit keys (any identical band → candidate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yark_spark.operators.release import materialize, track


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """E1: exact dedup on a content hash; deterministic representative =
    min(id) per hash. Returns one row per distinct content with `n_copies`."""
    h = F.sha2(F.concat_ws("", *content_cols), 256).alias("content_hash")
    keyed = df.withColumn("content_hash", h)
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("content_hash")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def tokens(df: DataFrame, text_col: str = "text") -> "F.Column":
    """Whitespace tokens, lowercased + trimmed — the shingle unit for
    minhash/jaccard. Trim first so leading/trailing whitespace can't mint
    empty tokens; oracles must mirror with
    ``string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')``.
    The EXPLICIT class (not ``\\s``) is deliberate: Java regex ``\\s``
    includes vertical tab ``\\x0B`` while DuckDB's RE2 ``\\s`` does not,
    so ``\\s+`` silently diverges on documents containing ``\\x0B``."""
    return F.split(F.lower(F.trim(F.col(text_col))), "[ \\t\\n\\x0B\\f\\r]+")


_MAX_LONG = (1 << 63) - 1


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16
) -> DataFrame:
    """E2: per-document MinHash signature — MAP-ONLY, SINGLE-PASS.

    Returns (id, mhs array<long>) where mhs[i] = min over the document's
    distinct tokens of xxhash64(token, seed=i). One F.aggregate fold over
    the tokens array computes all ``num_hashes`` minima in a single pass
    (tokenize once, hash each token k times, fold with element-wise least):
    no explode, no groupBy, NO SHUFFLE. Higher-order functions run outside
    codegen CSE, so per-hash column expressions would re-tokenize k times —
    the fold avoids that.
    """
    toks = F.array_distinct(tokens(df, text_col))

    def _update(acc, t):
        hs = F.array(*[F.xxhash64(t, F.lit(i)) for i in range(num_hashes)])
        return F.zip_with(acc, hs, lambda a, b: F.least(a, b))

    init = F.array(*[F.lit(_MAX_LONG).cast("long") for _ in range(num_hashes)])
    return df.select(F.col(id_col), F.aggregate(toks, init, _update).alias("mhs"))


def banded_pairs(
    sig: DataFrame,
    id_col: str,
    band_key: list,
    carry: list[str],
    max_bucket: int | None = 4096,
    observation=None,
) -> DataFrame:
    """Shared banding core for MinHash and SimHash LSH: candidates = self
    equi-join on (band_idx, band_key). ``band_key`` is one key Column per
    band (aliased); ``carry`` columns of ``sig`` ride along as ``<c>_a`` /
    ``<c>_b``. Returns candidate pairs (id_a < id_b); only candidate pairs
    are ever materialized — never the full cross product.

    Each pair is emitted EXACTLY ONCE, at its first shared (uncapped) band:
    both join sides carry every band key, and the join condition rejects a
    match when any earlier band already matched. A near-dup pair shares
    most bands, so the naive equi-join emits it ~``bands`` times and needs
    a ``distinct()`` — a full extra shuffle of the largest intermediate in
    the whole pipeline. The first-band rule deletes that shuffle outright.

    The bucket table is PERSISTED (and registered with
    ``operators.release.track`` so harnesses can free it): the self-join
    consumes it on both sides, and without the cache the whole upstream —
    scan, signature computation, and the cap's sizing window — is planned
    twice and (where AQE exchange reuse cannot see it, e.g. the map-only
    uncapped path) executed twice; even when runtime exchange reuse
    dedupes the execution, the duplicated subtree still pays double
    whole-stage-codegen compilation on first run. Measured on the sf0.1
    fuzzy pipeline (32 cores): first-run 17.4 s -> 9.2-14.2 s across
    samples, steady-state 2.6 s -> 2.1-2.2 s, identical 6,067,963 pairs.

    ``max_bucket`` caps pathological buckets: a single boilerplate bucket
    (empty docs, license headers) of size n yields n²/2 pairs, turning the
    band self-join quadratic. Capped band keys are nulled BEFORE the pair
    join — null keys never explode into bucket rows and never count as an
    "earlier match" (a pair sharing a capped band still surfaces via its
    other bands; exact duplicates are exact_dedup's job anyway). Pass a
    ``pyspark.sql.Observation`` as ``observation`` to record how many rows /
    distinct buckets the cap removed on the next action — capped work must
    be visible, not silent. ``max_bucket=None`` disables the cap."""
    bands = len(band_key)
    kcols = [f"__k{b}" for b in range(bands)]
    band_key = [k.alias(kcols[b]) for b, k in enumerate(band_key)]
    if max_bucket is None:
        keyed = sig.select(F.col(id_col), *carry, *band_key)
    else:
        # Size buckets on LIGHTWEIGHT rows (id, band, key) so the carried
        # signatures never ride through the sizing shuffles; pivot the
        # effective keys (capped entries nulled) back to one flat column per
        # band — a plain max(when) hash aggregate with map-side partial agg,
        # codegen'd, never an ObjectHashAggregate — and join them to the
        # signature table by id.
        lite = sig.select(
            F.col(id_col), F.posexplode(F.array(*band_key)).alias("band", "key")
        )
        sized = lite.withColumn(
            "__bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        )
        if observation is not None:
            # DISTINCT is not allowed in observed metrics; __bsz is constant
            # per bucket, so sum(1/__bsz) over capped rows == bucket count.
            sized = sized.observe(
                observation,
                F.sum((F.col("__bsz") > max_bucket).cast("long")).alias(
                    "rows_in_capped_buckets"
                ),
                F.coalesce(
                    F.sum(
                        F.when(F.col("__bsz") > max_bucket, F.lit(1.0) / F.col("__bsz"))
                    ),
                    F.lit(0.0),
                ).alias("capped_buckets"),
            )
        eff_rows = sized.select(
            F.col(id_col),
            "band",
            F.when(F.col("__bsz") <= max_bucket, F.col("key")).alias("key"),
        )
        effs = eff_rows.groupBy(id_col).agg(
            *[
                F.max(F.when(F.col("band") == b, F.col("key"))).alias(kcols[b])
                for b in range(bands)
            ]
        )
        keyed = sig.join(effs, id_col).select(F.col(id_col), *carry, *kcols)
    buckets = keyed.select(
        F.col(id_col),
        *carry,
        *kcols,
        F.posexplode(F.array(*kcols)).alias("band", "key"),
    ).where(F.col("key").isNotNull()).cache()
    track(buckets)  # freed by harnesses via release_tracked()
    # The bucket table is small but the join OUTPUT is huge (every in-bucket
    # pair). A broadcast join would generate all pairs from the probe side's
    # 1-2 input partitions — single-task. Round-robin the probe side so pair
    # generation parallelizes across the cluster.
    shuffle_n = int(sig.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    a = buckets.repartition(shuffle_n).alias("a")
    b = buckets.alias("b")
    # "No earlier band matched" as a flat OR-chain over long columns — fully
    # codegen-able, no array allocation per candidate row. A capped band's
    # key is NULL on both sides: `==` yields NULL → `<=>` guards keep it
    # from counting as a match, so a capped band never suppresses emission.
    earlier_match = F.lit(False)
    for i in range(bands - 1):
        ki_a, ki_b = F.col(f"a.{kcols[i]}"), F.col(f"b.{kcols[i]}")
        earlier_match = earlier_match | (
            (F.col("a.band") > i) & ki_a.isNotNull() & ki_a.eqNullSafe(ki_b)
        )
    out_cols = [F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")]
    for c in carry:
        out_cols += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & ~earlier_match,
    ).select(*out_cols)


def minhash_lsh_candidates(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = 4096,
    observation=None,
    with_signatures: bool = False,
) -> DataFrame:
    """LSH banding over a minhash signature array: band key = hash of the
    signature slice (see ``banded_pairs`` for the emission/cap semantics).

    ``with_signatures=True`` additionally returns ``mhs_a``/``mhs_b`` so a
    downstream similarity estimate needs no re-join against the signature
    table (fuzzy_dedup_pairs uses this: the whole pipeline becomes
    scan → [cap] → one pair join, zero post-join shuffles)."""
    rows_per_band = num_hashes // bands
    band_key = [
        F.hash(F.slice("mhs", b * rows_per_band + 1, rows_per_band))
        for b in range(bands)
    ]
    out = banded_pairs(
        sig,
        id_col,
        band_key,
        carry=["mhs"] if with_signatures else [],
        max_bucket=max_bucket,
        observation=observation,
    )
    return out


def fuzzy_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 4096,
    observation=None,
) -> DataFrame:
    """E2 end-to-end: MinHash signature → LSH banding → candidate pairs →
    Jaccard estimate ≥ threshold.

    The candidate join carries both signatures (``with_signatures=True``),
    so the estimate is an inline projection on the join output: no distinct,
    no re-join against the signature table, zero post-join shuffles. The
    whole uncapped pipeline is scan → map (signature+band keys) → one
    self-join; signatures are map-only so nothing needs persisting."""
    sig = minhash_signature(df, id_col, text_col, num_hashes)
    pairs = minhash_lsh_candidates(
        sig,
        id_col,
        num_hashes,
        bands,
        max_bucket=max_bucket,
        observation=observation,
        with_signatures=True,
    )
    # Flat indexed comparisons, not zip_with: higher-order functions are
    # interpreted (outside codegen) and the filter+project pair would
    # evaluate the fold twice per candidate row.
    matches = sum(
        F.when(F.col("mhs_a")[i] == F.col("mhs_b")[i], 1).otherwise(0)
        for i in range(num_hashes)
    )
    return pairs.select(
        "id_a", "id_b", (matches / F.lit(num_hashes)).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)


def _simhash_fold(tagged: DataFrame, id_col: str, bits: int, out_col: str) -> DataFrame:
    """Shared SimHash bit-vote fold over a pre-hashed token array
    column ``__h``: bit b of the signature is 1 iff the vote sum is
    positive. Each bit's votes are an F.aggregate fold over the array
    — no explode, no groupBy, no shuffle (the explode form would
    shuffle tokens×1 rows with ``bits`` agg columns)."""

    def _vote(b):
        # closure factory (see minhash_signature note on lambda params)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    votes = [F.aggregate(F.col("__h"), F.lit(0), _vote(b)) for b in range(bits)]
    sig = None
    for b in range(bits):
        bit = F.when(votes[b] > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2 ** b if b < 63 else -(2 ** 63)).cast("long")
        sig = term if sig is None else sig + term
    return tagged.select(F.col(id_col), sig.alias(out_col))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash signature — MAP-ONLY: each token votes its xxhash64
    bits (fast JVM path; Spark-specific, so the q_simhash key is
    rows-only by design)."""
    hashes = F.transform(tokens(df, text_col), lambda t: F.xxhash64(t))
    tagged = df.select(F.col(id_col), hashes.alias("__h"))
    return _simhash_fold(tagged, id_col, bits, "simhash")


def simhash_md5(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash over PORTABLE token hashes (round 13 s3): the first 15
    hex digits of md5(token) → a 60-bit integer both engines compute
    identically, so the whole bit-vote majority gets a full value
    oracle (retiring the estimator-family's only unpinned member —
    q_simhash stays as the fast xxhash64 twin). Same map-only fold."""
    if not 0 < bits <= 60:
        raise ValueError("simhash_md5: bits must be in (0, 60]")
    hashes = F.transform(
        tokens(df, text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    tagged = df.select(F.col(id_col), hashes.alias("__h"))
    return _simhash_fold(tagged, id_col, bits, "simhash60")


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """E2 SimHash near-dup pairs: 64-bit signature → ``bands`` × 16-bit
    band keys → ``banded_pairs`` equi-join → Hamming filter.

    Two docs within ``max_hamming`` bit flips differ in at most
    ``max_hamming`` bands, so with bands > max_hamming at least one band
    key matches exactly (pigeonhole) — banding loses no true pair, BUT ONLY
    UNCAPPED: ``max_bucket`` nulls oversized band buckets, and a cluster of
    near-identical docs hot in EVERY band would then yield zero pairs. The
    default is therefore ``max_bucket=None`` (the guarantee holds); callers
    with boilerplate-heavy corpora opt into the cap explicitly and accept
    the documented recall loss on mega-clusters (exact duplicates are
    exact_dedup's job either way). The Hamming distance is one codegen'd
    ``bit_count(xor)`` over the carried signatures; no re-join against the
    signature table."""
    sig = simhash(df, id_col, text_col)
    width = 64 // bands
    mask = (1 << width) - 1
    band_key = [
        F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]
    pairs = banded_pairs(
        sig, id_col, band_key, carry=["simhash"],
        max_bucket=max_bucket, observation=observation,
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components.
    Returns (id, cluster_id) for every node in ``nodes`` (singletons
    cluster with themselves); cluster_id = min id reachable through the
    pair graph. Pair endpoints outside ``nodes`` are transit nodes: a
    path through one connects its ends, and one may be a node's
    cluster_id, but none gets a row of its own.

    Two routes give the same labels, the component min id. The pair set
    is materialized and counted once. At or under
    ``packing.LOCAL_MAX_ROWS`` pairs with no ``stats`` requested, the
    pairs are collected over Arrow and resolved by an exact union-find
    on the driver (:func:`_local_components`) — curate's near-dup graph
    is tens of thousands of pairs, where the distributed route below
    costs dozens of jobs at a ~0.1 s floor each. Above the cap, or when
    ``stats`` is passed, the distributed route runs: ``stats`` reports
    that route's contraction depth, which a union-find does not have
    (bench.py's path stress records it).

    Distributed route: Boruvka-style star contraction with POINTER
    DOUBLING, not per-round
    propagation over the raw edge set: LSH near-dup graphs are dominated by
    big cliques, where a single min-neighbor pass already collapses every
    clique to its min id. Each level (1) labels every node with min(self,
    min direct neighbor) — one aggregation over the edges, no join;
    (2) pointer-doubles the label table (label ← label(label)) to fixpoint,
    so decreasing parent CHAINS collapse in O(log depth) self-joins — on a
    pure path, min-neighbor labeling alone re-creates the path one node
    shorter (label(k)=k-1) and would need n levels; doubling flattens it
    inside ONE level; (3) contracts the graph to distinct cross-label
    edges — tiny after flattening; (4) recurses on the contracted graph and
    composes. Levels needed = O(log n) on any graph; ``max_iter`` bounds
    them. It runs over ``nodes`` ∪ the pair endpoints, so the
    contraction's inner joins never drop an edge for an unlabeled end.

    Frontiers are ``localCheckpoint``-ed: an iterative join's LOGICAL PLAN
    compounds per level (persist caches data, not the plan), so without
    truncation the driver OOMs building plan trees on deep graphs. On a
    long-running production cluster with executor churn, swap in reliable
    ``checkpoint(dir)`` — same shape, durable storage.

    Pass a dict as ``stats`` to receive ``{"levels": n, "pointer_rounds":
    m}`` — contraction depth and total doubling rounds actually used (the
    path-graph stress in bench.py records both; the log-bound assertion
    lives in tests/test_dedup_clusters.py).
    """
    from yark_spark.operators import packing
    from yark_spark.operators.conf import scoped_shuffle_partitions

    ids = nodes.select(F.col(id_col).alias("id")).distinct()
    # Materialize once, one direction: every route reads the pair set
    # more than once (the distributed one through the symmetric view
    # below), and the upstream LSH pair join must run once — a cached
    # symmetric union would evaluate it once per direction. Cached, not
    # checkpointed (storage policy in operators/release).
    edges, m = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    n_edges = m["count"]
    if stats is None and n_edges <= packing.LOCAL_MAX_ROWS:
        out = _local_components(ids, edges)
    else:
        if stats is not None:
            stats["levels"] = 0
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        universe = ids.unionByName(sym.select(F.col("src").alias("id"))).distinct()
        # Partition-count hygiene (round 11, the q_pagerank pattern): every
        # level runs several shuffles (min-neighbor agg, pointer-double
        # self-joins, contraction distinct) over a frontier that never
        # exceeds the edge count — under a vanilla 200-partition session
        # each was fanning ~500 rows into 200 near-empty tasks, the
        # dominant cost of q_curate_pipeline's 17.8 s sf0.01 parity row.
        # No-op at cluster scale (clamp never raises the conf);
        # single-threaded-session assumption documented in operators/conf.
        spark = nodes.sparkSession
        with scoped_shuffle_partitions(
            spark, packing.sized_partitions(spark, 2 * n_edges)
        ):
            out = ids.join(_components(universe, sym, max_iter, stats), "id")
    # out's frontiers are checkpointed (lineage cut), so the cached edge
    # set can be dropped immediately
    edges.unpersist()
    return out.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def _local_components(ids: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, label) for every row of ``ids`` from an exact union-find over
    the collected ``edges`` (src, dst; one direction suffices). Ids are
    ranked by value before the union-find, so a union that keeps the
    smaller root index keeps the smaller id: every root is its
    component's min id, the label the distributed route computes. The
    result is ``ids`` left-joined to a broadcast (non-root id → root)
    table; an id in no pair is its own label."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructField, StructType

    from yark_spark.io import local_frame

    tbl = edges.toArrow()
    src = tbl.column("src").combine_chunks()
    dst = tbl.column("dst").combine_chunks()
    uniq = pc.unique(pa.concat_arrays([src, dst]))
    uniq = uniq.take(pc.sort_indices(uniq))
    parent = list(range(len(uniq)))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(
        pc.index_in(src, value_set=uniq).to_pylist(),
        pc.index_in(dst, value_set=uniq).to_pylist(),
    ):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.fromiter(map(find, range(len(parent))), dtype=np.int64, count=len(parent))
    moved = np.flatnonzero(roots != np.arange(len(parent)))
    id_type = edges.schema["src"].dataType
    mapping = local_frame(
        ids.sparkSession,
        list(zip(uniq.take(moved).to_pylist(), uniq.take(roots[moved]).to_pylist())),
        StructType([StructField("id", id_type), StructField("root", id_type)]),
    )
    return ids.join(F.broadcast(mapping), "id", "left").select(
        "id", F.coalesce("root", "id").alias("label")
    )


def _pointer_double(
    labels: DataFrame, max_rounds: int = 40, stats: dict | None = None
) -> DataFrame:
    """Flatten a decreasing parent forest: label ← label(label) until
    fixpoint. Chains of depth d need ⌈log₂ d⌉ rounds; clique-dominated LSH
    graphs converge in one. Each round is ONE JOB: one equi-join of the
    label table with itself (shuffle on label) whose eager localCheckpoint
    both materializes the round and fires an ``Observation`` carrying the
    changed-row count — the former separate ``limit(1).count()`` probe job
    (and the ``__old`` column it needed in the checkpointed data) are gone.
    Eager ``Dataset.localCheckpoint`` runs under a SQL execution, so
    observed metrics are collected by its action (pinned in
    tests/test_dedup_clusters.py)."""
    for _ in range(max_rounds):
        if stats is not None:
            stats["pointer_rounds"] = stats.get("pointer_rounds", 0) + 1
        parent = labels.select(F.col("id").alias("label"), F.col("label").alias("l2"))
        # LEFT join: a label need not itself be a row of the label table
        # (e.g. an edge endpoint outside `nodes`); an inner join would DROP
        # such rows, violating the "every node labeled" contract — treat a
        # foreign label as its own root instead.
        # The fallback probe (ADVICE r17) runs only if a Spark upgrade
        # stops collecting observed metrics under eager localCheckpoint:
        # an explicit changed-row probe against the previous round.
        prev = labels
        labels, m = materialize(
            labels.join(parent, "label", "left").select(
                "id", F.col("label").alias("__old"), F.coalesce("l2", "label").alias("label")
            ),
            checkpoint=True,
            observe={
                "changed": F.coalesce(
                    F.sum((F.col("label") != F.col("__old")).cast("long")), F.lit(0)
                )
            },
            keep=["id", "label"],
            fallback=lambda ck: {
                "changed": ck.join(
                    prev.select("id", F.col("label").alias("__prev")), "id"
                )
                .where(F.col("label") != F.col("__prev"))
                .limit(1)
                .count()
            },
        )
        track(labels)  # checkpoint storage freed by harnesses via release_tracked()
        changed = m["changed"]
        if changed == 0:
            return labels
    return labels


def _components(
    ids: DataFrame, edges: DataFrame, levels: int, stats: dict | None = None
) -> DataFrame:
    """(id, label) connected-component labels; label = min id in component.
    ``edges`` must be symmetric. See dedup_clusters for the algorithm."""
    if stats is not None:
        stats["levels"] = stats.get("levels", 0) + 1
    nbr_min = edges.groupBy("src").agg(F.min("dst").alias("m")).withColumnRenamed("src", "id")
    labels, _ = materialize(
        ids.join(nbr_min, "id", "left").select(
            "id", F.least("id", F.coalesce("m", "id")).alias("label")
        ),
        checkpoint=True,
    )
    track(labels)
    # flatten parent chains before contracting — without this a path graph
    # contracts by ONE node per level (label(k) = k-1) instead of halving
    labels = _pointer_double(labels, stats=stats)
    if levels <= 1:
        return labels
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("lb"))
    # The eager localCheckpoint's own action fires the Observation, so the
    # emptiness probe shares the materialization job instead of running a
    # second ``isEmpty()`` job against the checkpoint (same single-job
    # pattern as _pointer_double).
    contracted, m = materialize(
        edges.join(la, "src")
        .join(lb, "dst")
        .where(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
        .distinct(),  # symmetric in, symmetric out — both directions survive
        checkpoint=True,
        observe={"n_edges": F.count(F.lit(1))},
        fallback=lambda ck: {"n_edges": 0 if ck.isEmpty() else 1},
    )
    track(contracted)
    n_edges_left = m["n_edges"]
    if n_edges_left == 0:
        return labels
    sub = _components(
        labels.select(F.col("label").alias("id")).distinct(), contracted, levels - 1, stats
    )
    remap = sub.select(F.col("id").alias("label"), F.col("label").alias("root"))
    return labels.join(remap, "label").select("id", F.col("root").alias("label"))


def dedup_representatives(
    docs: DataFrame, clusters: DataFrame, id_col: str
) -> DataFrame:
    """Keep-list: one deterministic representative (min id = the cluster
    label itself) per near-dup cluster — the final filter a training-data
    pipeline applies after pair generation + clustering."""
    return docs.join(
        clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col),
        id_col,
        "left_semi",
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_id: int | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Directed token-set CONTAINMENT |A∩B| / |A| for pairs within a
    bounded id range — the asymmetric near-dup metric (a doc quoted inside
    a much larger one scores ~1.0 where Jaccard dilutes toward 0). Same
    join shape as ``ngram_jaccard_pairs``: one size aggregation + a token
    equi-join, never a cross join; pairs are DIRECTED (id_a ≠ id_b, both
    orders) because containment is not symmetric."""
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    tok = base.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(base, text_col))).alias("tok")
    )
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    return (
        inter.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, max_id: int | None = None
) -> DataFrame:
    """Token-set Jaccard for all pairs within a bounded id range (the exact
    oracle-checkable baseline the LSH paths approximate). Set sizes via one
    aggregation; intersections via a token equi-join — never a cross join."""
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    tok = base.select(F.col(id_col), F.explode(F.array_distinct(tokens(base, text_col))).alias("tok"))
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 10,
    min_docs: int = 3,
) -> DataFrame:
    """C4/RefinedWeb line-level dedup as a TRANSFORM (q_boilerplate_lines
    is the report; this rewrites the corpus): drop every line that occurs
    in ≥ ``min_docs`` distinct documents, reassemble each document from
    its surviving lines IN ORDER, and count what was removed.

    The driver fixtures carry no sentence boundaries, so the line unit is
    a fixed ``line_tokens``-token window; the algorithm — count distinct
    docs per line, remove shared lines, ordered reassembly — is exactly
    the C4 cleaning step and swaps to '\\n'-split lines on a real corpus.

    Scale shape: one explode to (doc, pos, line), a distinct + hash
    aggregate SHUFFLED ON THE LINE (cost scales with corpus line
    cardinality, the shape C4 ran at web scale), an equi-join back, and a
    per-doc ordered reassembly via array_sort over collected (pos, line)
    structs — no window over the corpus, no driver-side state.

    Returns (id, clean_text, n_removed).
    """
    toks = tokens(df, text_col)
    nchunks = F.ceil(F.size(toks) / F.lit(float(line_tokens))).cast("int")
    lines = df.select(
        F.col(id_col), F.explode(F.sequence(F.lit(0), nchunks - 1)).alias("pos"),
        toks.alias("__t"),
    ).select(
        F.col(id_col),
        "pos",
        F.array_join(
            F.slice("__t", F.col("pos") * line_tokens + 1, line_tokens), " "
        ).alias("line"),
    )
    counts = (
        lines.select("line", id_col)
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("__n_docs"))
    )
    marked = lines.join(counts, "line").withColumn(
        "__is_b", F.col("__n_docs") >= min_docs
    )
    kept = F.filter(
        F.array_sort(F.collect_list(F.struct("pos", "line", "__is_b"))),
        lambda s: ~s["__is_b"],
    )
    return marked.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda s: s["line"]), ". ").alias("clean_text"),
        F.sum(F.col("__is_b").cast("long")).alias("n_removed"),
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    cluster_col: str = "label",
    vec_col: str = "embedding",
    tau: float = 0.95,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as an OPERATOR
    (round 9, VERDICT r8 next-round #8 — the q_semdedup body promoted
    with τ as a parameter): drop embeddings that are semantic duplicates
    (cosine > ``tau``) of an earlier-id vector in the SAME cluster.
    Returns one row per DROPPED vector: (id_col, cluster_col, dup_of,
    sim) — dup_of is the highest-similarity earlier-id cluster-mate
    (ties by lowest partner id; similarities rounded to ``round_digits``
    BEFORE ranking so the argmax is deterministic across engines).

    Scale posture: the pair join is an equi-join on the cluster id, so
    work is Σ_c n_c² — bounded because k is chosen so n/k stays constant
    as the corpus grows (the SemDeDup recipe); never corpus-wide
    all-pairs, never a broadcast of the growing table. Per-vector norms
    are hoisted (computed n times, not n²), and the τ filter sits ABOVE
    the per-vector argmax window so Catalyst cannot push the cosine into
    the join condition (which would evaluate it twice per pair)."""
    from yark_spark.operators.similarity import _dot, _norm

    a = emb.select(
        F.col(id_col).alias("__keep_id"),
        F.col(cluster_col).alias("__cl_a"),
        F.col(vec_col).alias("__e_a"),
        _norm(F.col(vec_col)).alias("__n_a"),
    )
    b = emb.select(
        F.col(id_col),
        F.col(cluster_col),
        F.col(vec_col).alias("__e_b"),
        _norm(F.col(vec_col)).alias("__n_b"),
    )
    pairs = a.join(
        b,
        (F.col("__cl_a") == F.col(cluster_col))
        & (F.col("__keep_id") < F.col(id_col)),
    ).select(
        id_col,
        cluster_col,
        "__keep_id",
        F.round(
            _dot(F.col("__e_a"), F.col("__e_b")) / (F.col("__n_a") * F.col("__n_b")),
            round_digits,
        ).alias("sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("__keep_id"))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("sim") > tau))
        .select(id_col, cluster_col, F.col("__keep_id").alias("dup_of"), "sim")
    )


def fuzzy_match_join(
    dirty: DataFrame,
    clean: DataFrame,
    dirty_id: str,
    clean_id: str,
    dirty_text: str,
    clean_text: str,
    block_on,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked fuzzy entity resolution as an OPERATOR (round 9, VERDICT
    r8 next-round #8 — the q_fuzzy_match_join body promoted with the
    block keys and edit-distance threshold as parameters): equi-join the
    two sides on ``block_on`` (a list of ``(dirty_expr, clean_expr)``
    Column pairs — the blocking keys), compute Levenshtein distance only
    WITHIN blocks, keep each dirty record's best match with distance ≤
    ``max_dist`` (ties by lowest clean id). Returns (dirty_id, clean_id,
    lev).

    The design rule the parameters expose: blocking keys must be
    CORRUPTION-STABLE — untouched by the edits the threshold tolerates —
    and selective enough that block sizes stay bounded (the suffix-key
    lesson of round 8: without it, uniform-length names collapse into
    O(n²) blocks). At scale the block key is the unit of shuffle; hot
    blocks are handled by salting (operators/skew.py)."""
    cond = None
    for d_expr, c_expr in block_on:
        term = d_expr == c_expr
        cond = term if cond is None else (cond & term)
    cand = dirty.join(clean, cond).select(
        dirty_id,
        clean_id,
        F.levenshtein(dirty_text, clean_text).cast("bigint").alias("lev"),
    )
    w = Window.partitionBy(dirty_id).orderBy("lev", clean_id)
    return (
        cand.filter(F.col("lev") <= max_dist)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(dirty_id, clean_id, "lev")
    )


def phash_neardup_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash_i64",
    max_hamming: int = 6,
    bands: int = 4,
    max_bucket: int | None = 4096,
    observation=None,
) -> DataFrame:
    """Image near-duplicate candidate pairs over a 64-bit pHash column
    (round 12, VERDICT r11 task #1): the SimHash banding plan applied to
    PIXEL signatures. ``bands`` × ``64//bands``-bit slices of the hash
    are the LSH keys → shared-band equi-join via :func:`banded_pairs`
    (first-band emission, hot-bucket cap) → ``bit_count(xor)`` Hamming
    verify over the carried signatures. Everything after the map-only
    signature pass is JVM expressions — band slicing is
    ``shiftrightunsigned``+mask, the verify is one codegen'd xor — so the
    only Python in the pipeline is the decode that produced the hashes.

    Recall: pigeonhole guarantees every pair within ``bands - 1`` bit
    flips shares a band (uncapped). pHash recompression drift can reach
    ``max_hamming`` = 6 bits, where a pathological 2+2+1+1 spread across
    all four bands would be missed — the planted-recompression-family
    recall contract in tests/test_phash.py pins the empirical behavior
    on real codec drift (drift concentrates in few low-frequency bits,
    and families stay connected through the uncompressed original even
    when one recompressed pair misses). Returns (id_a, id_b, hamming),
    id_a < id_b, each candidate pair exactly once."""
    width = 64 // bands
    mask = (1 << width) - 1
    band_key = [
        F.shiftrightunsigned(hash_col, b * width).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]
    pairs = banded_pairs(
        sig.select(F.col(id_col), F.col(hash_col)),
        id_col,
        band_key,
        carry=[hash_col],
        max_bucket=max_bucket,
        observation=observation,
    )
    hamming = F.bit_count(
        F.col(f"{hash_col}_a").bitwiseXOR(F.col(f"{hash_col}_b"))
    ).cast("int")
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def phash_neardup_clusters(
    sig: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash_i64",
    max_hamming: int = 6,
    bands: int = 4,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Image near-dup pairs resolved into clusters: pHash band-join pairs
    → :func:`dedup_clusters` connected components. Returns
    (id, cluster_id) for every signature row; feed the result to
    :func:`dedup_representatives` for the image keep-list — the same
    pairs→clusters→keep composition the text path uses."""
    pairs = phash_neardup_pairs(
        sig, id_col, hash_col, max_hamming, bands, max_bucket
    )
    return dedup_clusters(sig.select(F.col(id_col)), pairs, id_col)
