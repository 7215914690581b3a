"""Similarity search over embedding columns (SURVEY.md §2.8 E3).

Scale design: brute-force cosine is the correctness baseline — the query
side is small (top-k for a bounded query set) and is broadcast, so the big
candidate side streams through map tasks with zero shuffle until the final
per-query top-k (TakeOrdered-style aggregation). The scale path buckets
candidates with random hyperplane LSH (or pyspark.ml's
BucketedRandomProjectionLSH) so each query only scans a few buckets.

Dot products use `F.zip_with` + `F.aggregate` — JVM-side higher-order
functions, no Python per-row. Round-17 negative result, measured and kept
OUT: statically unrolled per-element expressions (a[0]*b[0] + a[1]*b[1] +
...; also literal-index constant-folded LSH hyperplanes) are 1.5-2.7x
SLOWER than this interpreted fold at dim=64 (score-only 200-query shape:
6.27 s vs 2.28 s; hyperplane pass 0.51 s vs 0.33 s) — the giant flat
trees fall out of whole-stage codegen while the HOF evaluator runs a
tight loop over the packed array. For very wide vectors a pandas_udf over
Arrow batches can be swapped in (see yark_spark/queries/udf.py and
``cosine_topk_blas``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yark_spark.io import local_frame


def _np_round_half_up(a, digits: int):
    """Decimal HALF_UP (round half away from zero) over a numpy array,
    matching Spark's ``F.round`` semantics. numpy's ``np.round`` is
    banker's (half-to-even), which diverges on representable decimal
    midpoints — e.g. a cosine landing exactly on k/2**7 = 0.0078125 at
    6 dp rounds to 0.007812 under numpy but 0.007813 under Spark — and
    would break the byte-identical BLAS-twin guarantee."""
    import numpy as np

    scale = 10.0**digits
    return np.sign(a) * np.floor(np.abs(a) * scale + 0.5) / scale


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_col(a, b):
    """cos(a, b) as a Column over two array<float|double> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k over (query_id, neighbor_id, cosine_sim): one rank
    window with a ``rn <= k`` filter.

    Spark 3.5+ rewrites this with ``WindowGroupLimit`` on BOTH sides of
    the exchange (rank-limit pushdown, SPARK-37099): each map task keeps
    only its local top-k per query before the shuffle, so at most k x P
    rows per query cross the wire — exactly the reduction the previous
    hand-rolled two-phase form (groupBy (query_id, partition_id) +
    collect_list/sort/slice) achieved, but in whole-stage codegen instead
    of an ObjectHashAggregate, with ONE exchange instead of two, and
    without materializing a struct array per group. Measured at the
    200-query stress shape: 3.78 s -> 3.00 s warm. Plan shape (asserted
    in tests/test_pipeline_plans.py): Sort+WindowGroupLimit -> Exchange ->
    Sort+WindowGroupLimit -> Window -> Filter.

    Ordering is (cosine_sim DESC, neighbor_id ASC) — same deterministic
    tie-break as before; the output row set is unchanged.
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def cosine_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_id: int = 10,
    k: int = 5,
    round_digits: int = 6,
    route: str = "auto",
) -> DataFrame:
    """Brute-force top-k cosine neighbors for queries (id < query_max_id).

    The query set is broadcast; candidates never shuffle until the
    two-phase top-k (``topk_per_query``), which reduces each map partition
    to k rows per query before the exact window — no task ever holds more
    than k x partitions rows per query. Similarity is rounded before
    ranking and tie-broken on neighbor id so the result set is
    deterministic.

    Intended ceiling (VERDICT r6 item 3): cost is O(|queries| x |corpus|)
    scoring by construction — the exact-correctness baseline for query
    sets up to a few thousand (the broadcast side must stay well under
    the broadcast threshold). ``ann_topk_ivf`` / ``ann_topk_lsh`` are the
    sub-linear scale paths.

    Round 18 (VERDICT r17 #5) — ``route="auto"`` (the default) sends
    shapes at or above the measured scoring-pair crossover through
    ``cosine_topk_blas`` (output pinned identical in
    tests/test_similarity_ivf.py) and keeps the column-expression path
    below it. The cost driver is |queries| x |candidates| scored pairs
    (measured warm at dim 64: 20k pairs column 0.86 s / blas 0.48 s;
    400k pairs column 3.50 s / blas 0.59 s — but COLD the blas path
    pays Python-worker launch + the query collect, 3.5 s vs 2.6 s at
    20k pairs), so the default crossover
    ``spark.yark.similarity.blasMinPairs`` = 100000 sits where the
    matmul wins even from cold; 0 disables routing, and
    ``route="column"``/``"blas"`` force a path. The router costs one
    tiny query-set collect (reused by the blas path) and one candidate
    count bounded at ``threshold // |queries| + 1`` rows.
    """
    if route == "blas":
        return cosine_topk_blas(
            embeddings, id_col, vec_col, query_max_id, k, round_digits
        )
    if route == "auto":
        threshold = int(
            embeddings.sparkSession.conf.get(
                "spark.yark.similarity.blasMinPairs", "100000"
            )
        )
        if threshold > 0:
            qrows = (
                embeddings.filter(F.col(id_col) < query_max_id)
                .select(id_col, vec_col)
                .collect()
            )
            # bounded count: past threshold // |queries| + 1 candidates
            # the product clears the threshold whatever the full count is
            if qrows and len(qrows) * embeddings.limit(
                threshold // len(qrows) + 1
            ).count() >= threshold:
                return cosine_topk_blas(
                    embeddings,
                    id_col,
                    vec_col,
                    query_max_id,
                    k,
                    round_digits,
                    _qrows=qrows,
                )
    # Norms are per-vector, not per-pair: compute once on each side (cuts
    # ~2/3 of the arithmetic vs. a naive cosine per pair).
    q = embeddings.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_digits
            ).alias("cosine_sim"),
        )
    )
    return topk_per_query(scored, k)


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_id: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold within a
    bounded id range (exact baseline; LSH variant below scales it)."""
    base = embeddings if max_id is None else embeddings.filter(F.col(id_col) < max_id)
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), _norm(F.col(vec_col)).alias("na")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), _norm(F.col(vec_col)).alias("nb")
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.round(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_digits
        ).alias("cosine_sim"),
    )
    return pairs.filter(F.col("cosine_sim") >= threshold)


def hyperplane_lsh_buckets(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Sign-random-projection LSH: bucket = sign bits against ``n_planes``
    deterministic pseudo-random hyperplanes. Vectors in the same bucket are
    likely cosine-similar; ANN search then only joins within buckets.

    The hyperplanes are generated from a hash of (plane, dim) so every task
    derives them independently — nothing is broadcast or collected.
    """
    dim_idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)

    def _plane_comp(p):
        # closure factory — pyspark lambdas must take only lambda variables
        return lambda i: (
            (F.xxhash64(F.lit(seed), F.lit(p), i) % 10007).cast("double") / 10007.0
        )

    bits = []
    for p in range(n_planes):
        # plane component for dim i: xxhash64(p, i) scaled to [-1, 1]
        comp = F.transform(dim_idx, _plane_comp(p))
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), comp, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2 ** p))
    # n_planes=0 degenerates to ONE bucket (no pruning): ann_topk_lsh then
    # scores every candidate and must reproduce the exact top-k — the
    # full-probe ≡ exact contract key (q_ann_lsh_full).
    bucket = bits[0] if bits else F.lit(0)
    for b in bits[1:]:
        bucket = bucket + b
    return embeddings.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def ivf_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_id: int = 10,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """E3 IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    vector to a cell; each query scores only its ``n_probe`` nearest cells.

    Scale shape: one (sampled) fit of the quantizer, one map-only pass to
    assign cells (the model broadcasts with the task closure), then each
    query touches ~n_probe/n_cells of the corpus via an equi-join on
    ``cell`` — the inverted-list probe is a join, never a per-query scan.
    The centroid table is the only driver-side state (n_cells × dim
    doubles — inherent to IVF, tiny) and is broadcast into the probe
    ranking. Final ranking is the same two-phase ``topk_per_query``
    reduction as the exact path.

    Recall/latency knobs match FAISS-style IVF: more cells → smaller lists
    and lower recall per probe; more probes → higher recall, more work.
    The default operating point (n_probe=4 of 16 cells — a quarter of the
    corpus probed) is pinned at recall@5 >= 0.9 on the scale lane's
    clustered 5x/10x/20x corpora (scripts/ann_recall_lane.py →
    SCALE_r*_ann.json; measured curve at 5x: probe 1/2/4/16 →
    0.76/0.84/0.92/1.0) and contract-tested in
    tests/test_similarity_ivf.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = embeddings.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__vec"),
    )
    km = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter,
        featuresCol="__vec", predictionCol="cell",
    )
    model = km.fit(base)
    assigned = model.transform(base).select(F.col(id_col), F.col(vec_col), F.col("cell"))

    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    centers_df = local_frame(
        embeddings.sparkSession, centers, "cell int, center array<double>"
    )

    q = assigned.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    # Probe ranking: |Q| × n_cells rows — tiny; the per-query window here is
    # over n_cells rows, not the corpus, so it is not the round-1 bottleneck
    # shape. Probe by the same metric the final ranking uses (cosine).
    probe_sim = _dot(F.col("qv"), F.col("center")) / (
        F.col("qn") * _norm(F.col("center"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__psim"), F.asc("cell"))
    probes = (
        q.join(F.broadcast(centers_df))
        .withColumn("__psim", probe_sim)
        .withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "qv", "qn", "cell")
    )

    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        F.col("cell"),
    )
    scored = c.join(
        F.broadcast(probes), on="cell"
    ).filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cosine_sim"),
    )
    return topk_per_query(scored, k)


def ann_topk_lsh(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_id: int = 10,
    k: int = 5,
    n_planes: int = 6,
    n_flip: int = 0,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's LSH
    bucket. At 100 TB this turns a full scan per query into a bucket scan
    (~1/2**n_planes of the data); the final ranking is the same two-phase
    ``topk_per_query`` reduction as the exact path.

    ``n_flip`` enables MULTI-PROBE LSH (round 9, VERDICT r8 next-round
    #7): each query additionally probes every bucket within Hamming
    distance ``n_flip`` of its own (sign bits flipped) — a true neighbor
    separated from its query by one or two hyperplanes is recovered
    without lowering the plane count. Probed fraction rises from 1/2^n
    to (1 + C(n,1) [+ C(n,2)])/2^n — e.g. 8 planes with n_flip=1 probes
    9/256 ≈ 3.5% of the corpus yet closes most of the recall gap the r8
    curve measured (0.78 → ≥0.9; SCALE_r09_ann.json). The probe masks
    are a tiny compile-time literal array exploded query-side; each
    candidate still lives in exactly ONE bucket, so no pair dedup is
    needed. The classic refinement (probe order by projection margin)
    only matters when probes must be budgeted one at a time; flipping
    ALL masks ≤ n_flip dominates it at equal probe count."""
    import itertools

    bucketed = hyperplane_lsh_buckets(embeddings, id_col, vec_col, n_planes)
    q = bucketed.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), F.col("bucket")
    )
    if n_flip:
        masks = [0]
        for r in range(1, n_flip + 1):
            for combo in itertools.combinations(range(n_planes), r):
                masks.append(sum(1 << b for b in combo))
        q = q.select(
            "query_id",
            "qv",
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        )
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), F.col("bucket")
    )
    scored = c.join(
        F.broadcast(q), (q.bucket == c.bucket) & (F.col("query_id") != F.col("neighbor_id"))
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity_col(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
    )
    return topk_per_query(scored, k)


def cosine_topk_blas(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_id: int = 10,
    k: int = 5,
    round_digits: int = 6,
    _qrows: "list | None" = None,
) -> DataFrame:
    """BLAS-path twin of ``cosine_topk``: the bounded query set becomes a
    normalized numpy matrix shipped in the task closure (driver-side ONLY
    for the query side — same bounded-table pattern as the IVF centroid
    table), and each Arrow batch of candidates scores against ALL queries
    in one ``C @ Q.T`` matmul instead of per-element codegen arithmetic.
    Measured 4.4x faster warm than the column-expression path on the
    200-query stress shape with byte-identical output.

    Exactness: each batch emits every row scoring >= its local k-th best
    per query (ties INCLUDED — a tie dropped here could win the global
    (score desc, id asc) tie-break), then ``topk_per_query`` runs the
    same exact two-phase reduction as the column path. Scores are rounded
    BEFORE selection with the same round() the column path uses, so both
    paths rank identical values.

    Use this when |queries| x dim fits comfortably in a task closure
    (~100k queries x 128 dims = 100 MB — beyond that, switch to the IVF
    path); the column-expression ``cosine_topk`` remains the
    zero-driver-state baseline the oracle checks. Crossover: below a few
    thousand candidates the Python-worker launch dominates and the
    column path wins (sf0.01: 2.1 s vs 1.6 s); the matmul wins from
    ~10k candidates up (sf0.1: 0.96 s vs 4.25 s).
    """
    import numpy as np

    qrows = _qrows
    if qrows is None:
        qrows = (
            embeddings.filter(F.col(id_col) < query_max_id)
            .select(id_col, vec_col)
            .collect()
        )
    if not qrows:
        raise ValueError("cosine_topk_blas: empty query set")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def _score(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            C = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            if C.size == 0:
                continue
            Cn = C / _np.linalg.norm(C, axis=1, keepdims=True)
            S = _np_round_half_up(Cn @ Qn.T, round_digits)
            frames = []
            for j in range(len(qids)):
                mask = ids != qids[j]
                s, i = S[mask, j], ids[mask]
                if len(s) > k:
                    # k-th best (0-indexed k-1) via partition; keep ALL ties
                    thresh = _np.partition(s, len(s) - k)[len(s) - k]
                    keep = s >= thresh
                    s, i = s[keep], i[keep]
                frames.append(
                    _pd.DataFrame(
                        {"query_id": qids[j], "neighbor_id": i, "cosine_sim": s}
                    )
                )
            yield _pd.concat(frames, ignore_index=True)

    partial = embeddings.select(id_col, vec_col).mapInPandas(
        _score, "query_id long, neighbor_id long, cosine_sim double"
    )
    return topk_per_query(partial, k)


def embedding_near_dups_blas(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_id: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """BLAS twin of ``embedding_near_dups``: the bounded comparison set is
    a normalized closure-shipped matrix; each Arrow batch of the same set
    scores against it in one matmul and emits only (id_a < id_b) pairs at
    or above the threshold. Same pairwise semantics, ~the cosine_topk_blas
    speedup profile; bounded by the same closure-size ceiling. For
    unbounded corpora use the LSH bucket path (``lsh_near_dups``)."""
    import numpy as np

    base = embeddings if max_id is None else embeddings.filter(F.col(id_col) < max_id)
    rows = base.select(id_col, vec_col).collect()
    if not rows:
        return local_frame(
            base.sparkSession, [], "id_a long, id_b long, cosine_sim double"
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([r[1] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    def _score(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            bids = pdf[id_col].to_numpy()
            B = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            if B.size == 0:
                continue
            Bn = B / _np.linalg.norm(B, axis=1, keepdims=True)
            S = _np_round_half_up(Bn @ Mn.T, round_digits)
            ai, bj = _np.nonzero(S >= threshold)
            id_a, id_b, sim = bids[ai], ids[bj], S[ai, bj]
            keep = id_a < id_b
            yield _pd.DataFrame(
                {"id_a": id_a[keep], "id_b": id_b[keep], "cosine_sim": sim[keep]}
            )

    return base.select(id_col, vec_col).mapInPandas(
        _score, "id_a long, id_b long, cosine_sim double"
    )
