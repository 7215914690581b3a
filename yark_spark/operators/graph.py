"""Iterative graph analytics — PageRank to convergence (round 9, VERDICT
r8 next-round #5; extends the bounded-iteration q_pagerank of round 8).

Reference parity note: the reference archiver (/root/reference) has no
graph surface; this is part of the driver-mandated training-data-pipeline
inventory (SURVEY.md §2.8) — e.g. ranking pages/documents by link
structure before sampling a pretraining mix.

Two routes, chosen by the edge count that the shared edge prologue
(:func:`_edge_tables`) materializes anyway. At or under
``packing.LOCAL_MAX_ROWS`` edges the edge list is collected once over
Arrow and the power iteration runs on the driver in numpy
(:func:`_local_ranks`): a graph that fits in memory is ranked faster by
one thread than by a chain of ~0.1 s jobs (McSherry et al., "Scalability!
But at what COST?", HotOS 2015). Its formulas, initial vector, dangling
share and L1 stopping rule are the distributed loop's, so only the
summation order differs (within the last bits of a double) and the
iteration count is the same. Above the cap the distributed route below
runs.

Distributed route. Scale posture: the rank vector is (node, double) —
tiny next to the edge list — and every iteration is one equi-join of
edges against ranks plus a partial-agg groupBy on dst, shuffling on the
same key each round. Lineage
is truncated with an eager localCheckpoint every ``checkpoint_every``
iterations (the dedup_clusters pointer-doubling pattern — without it the
plan doubles per iteration and the optimizer itself becomes the
bottleneck); intermediate vectors are cached between checkpoints and
released as soon as their successor is materialized. The per-iteration
L1-delta (and dangling-mass) aggregates are 1-row scalars — inherent to
a convergence test, not a driver-side data loop.

Both variants share one edge prologue (:func:`_edge_tables`) and one
iteration loop per route (:func:`_local_ranks`, :func:`_iterate`); they
differ only in the start vector, the teleport term and the dangling
share.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yark_spark.operators import packing
from yark_spark.operators.conf import scoped_shuffle_partitions
from yark_spark.operators.release import materialize, release_now, track


def pagerank(
    edges: DataFrame,
    damp: float = 0.85,
    tol: float = 1e-6,
    max_iters: int = 40,
    checkpoint_every: int = 5,
    dangling: bool = True,
) -> tuple[DataFrame, int]:
    """Power-iteration PageRank over a DIRECTED edge list ``(src, dst)``,
    run until the L1 rank change drops below ``tol`` (or ``max_iters``).
    Returns ``(ranks, iterations_run)`` with ranks ``(node, pr)``.

    Dangling nodes (no outgoing edges) have their mass redistributed
    uniformly each iteration — the standard stochastic-matrix completion
    — computed as a 1-row aggregate broadcast into the update, so graphs
    with sinks converge to the true stationary vector instead of leaking
    mass. For an undirected graph, pass both edge directions (then the
    dangling term is identically zero — pass ``dangling=False`` to elide
    the anti-join subtree entirely). ``tol=0.0`` runs exactly
    ``max_iters`` iterations — the fixed-iteration oracle twin
    (q_pagerank) is this operator at ``tol=0, max_iters=3,
    dangling=False``. The returned ranks DataFrame is materialized in
    BOTH modes (the last cached iterate in convergence mode, an eager
    localCheckpoint in fixed mode) so every iteration input is released
    before return; the result is registered with
    ``yark_spark.operators.release`` — call ``.unpersist()`` (or
    ``release_tracked()`` from a harness) when done.

    That is the distributed route, taken above ``packing.LOCAL_MAX_ROWS``
    edges. At or under the cap the ranks come from the driver-side numpy
    loop (:func:`_local_ranks`, same iterations) as an Arrow-built local
    relation with nothing left cached. An empty edge list gives an empty
    ``(node, pr)`` frame and 0 iterations on either route.
    """
    with _edge_tables(edges) as (e, deg, nodes, n_edges):
        # an empty graph has no ranks to iterate: the local route returns
        # its empty frame whatever the cap
        if n_edges <= packing.LOCAL_MAX_ROWS or not n_edges:
            return _local_ranks(e, None, damp, tol, max_iters, dangling)
        nodes, m = materialize(nodes, keyed=True)
        total = float(m["count"])  # inherent scalar: the |V| normalizer
        pr = nodes.select("node", F.lit(1.0 / total).alias("pr"))
        if tol > 0:
            pr, _ = materialize(pr, checkpoint=True)
        try:
            return _iterate(
                e, deg, nodes, pr, tol > 0,
                F.lit((1 - damp) / total), F.col("dm") / F.lit(total),
                damp, tol, max_iters, checkpoint_every, dangling,
            )
        finally:
            nodes.unpersist()


def personalized_pagerank(
    edges: DataFrame,
    reset: DataFrame,
    damp: float = 0.85,
    tol: float = 1e-8,
    max_iters: int = 60,
    checkpoint_every: int = 5,
    dangling: bool = True,
) -> tuple[DataFrame, int]:
    """Personalized PageRank: the teleport lands on ``reset``'s (node,
    weight) distribution instead of uniformly — the seed-biased ranking
    behind related-item / who-to-follow / topic-conditioned importance.
    Weights are normalized internally; nodes absent from ``reset`` get
    zero teleport mass. Dangling mass also redistributes by the reset
    distribution (the standard PPR completion), so mass is conserved and
    the result is the true stationary vector of the personalized chain.
    On a graph with no sinks (e.g. an undirected graph fed as both edge
    directions) the dangling term is identically zero — pass
    ``dangling=False`` to elide the per-iteration anti-join subtree
    entirely, the same knob (and reasoning) as :func:`pagerank`; the
    round-11 profile of the r10 2.9x PPR-vs-pagerank delta showed this
    subtree plus measurement ordering, not the reset-vector build, as
    the gap.

    Two routes, as in :func:`pagerank`: at or under
    ``packing.LOCAL_MAX_ROWS`` edges ``reset`` is collected too and the
    driver-side numpy loop (:func:`_local_ranks`) runs; above the cap the
    distributed loop below. On either route a reset with no mass on
    graph nodes (an empty edge list included) raises ``ValueError``
    before the first iteration, with nothing left cached.

    The distributed route has ``pagerank``'s convergence-mode shape: cached
    edge/degree/weight tables, per-iteration edge-equi-join + partial-agg,
    localCheckpoint rotation every ``checkpoint_every`` rounds, 1-row
    L1-delta probes. ``tol=0.0`` runs exactly ``max_iters`` iterations
    with no probes — the fixed-iteration oracle twin behind
    ``q_pagerank_personalized``. Returns ``(ranks, iterations_run)``;
    ranks are materialized and tracked by ``operators.release`` —
    ``.unpersist()`` (or ``release_tracked()``) when done."""
    rcols = reset.columns
    with _edge_tables(edges) as (e, deg, nodes, n_edges):
        if n_edges <= packing.LOCAL_MAX_ROWS:
            return _local_ranks(e, reset, damp, tol, max_iters, dangling)
        r = reset.select(
            F.col(rcols[0]).alias("node"), F.col(rcols[1]).cast("double").alias("__rw")
        )
        # normalize over GRAPH-RESIDENT seeds only (round 10): a seed absent
        # from the edge list can't receive teleport mass, and normalizing by
        # the raw reset total would silently leak that mass every iteration
        # — this way the stationary vector still sums to 1
        masked = (
            nodes.join(r, "node", "left")
            .select("node", F.coalesce(F.col("__rw"), F.lit(0.0)).alias("__rw"))
            .cache()
        )
        try:
            wsum = masked.agg(F.coalesce(F.sum("__rw"), F.lit(0.0))).first()[0]
            if wsum <= 0.0:
                raise ValueError(
                    "personalized_pagerank: reset puts no mass on graph nodes"
                )
            wdf = masked.select("node", (F.col("__rw") / F.lit(wsum)).alias("__w"))
            pr, _ = materialize(
                wdf.select("node", F.col("__w").alias("pr")), checkpoint=True
            )
            return _iterate(
                e, deg, wdf, pr, True,
                F.lit(1 - damp) * F.col("__w"), F.col("dm") * F.col("__w"),
                damp, tol, max_iters, checkpoint_every, dangling,
            )
        finally:
            masked.unpersist()


@contextmanager
def _edge_tables(
    edges: DataFrame,
) -> Iterator[tuple[DataFrame, DataFrame, DataFrame, int]]:
    """The edge prologue of both variants: yields ``(e, deg, nodes,
    n_edges)`` — the cached edge list (read through
    ``packing.sized_coalesce``), its lazily cached out-degree table, the
    (lazy) node universe and the edge count that picks the route —
    inside a shuffle width sized to the graph, and frees the edge cache
    and ``deg`` on exit. The local route reads only ``e``; ``deg`` is
    never filled there.

    The edge list and degree table feed every iteration in BOTH modes
    (VERDICT r9 next-round #2): in fixed-iteration mode each unrolled
    level references e three times (contrib, degree, node-universe), so
    a lazy plan re-evaluated the upstream edge build (often a
    join+distinct) 3^k-ish times — 64 s at sf0.01 for k=3 on the
    orders⋈lineitem graph vs ~4 s cached. Releasing every input before
    the caller returns keeps bench runs honest: nothing stays in the
    SQL cache manager for a later identical plan to silently reuse."""
    spark = edges.sparkSession
    cached, m = materialize(edges.select("src", "dst"))
    # Partition-count hygiene (VERDICT r9 #2, second half): at small
    # graph sizes the session's full shuffle width is pure task-launch
    # overhead for the per-iteration joins/aggs — clamp DOWN (never up)
    # to ~1M edges per task, floored at the executor parallelism, and
    # restore the session conf on exit (single-threaded-session
    # assumption documented in operators/conf.py — ADVICE r10 low #1).
    # At cluster scale the clamp is a no-op.
    e, p = packing.sized_coalesce(cached, m["count"])
    with scoped_shuffle_partitions(spark, p):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d")).cache()
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        try:
            yield e, deg, nodes, m["count"]
        finally:
            cached.unpersist()
            deg.unpersist()


def _local_ranks(
    e: DataFrame,
    reset: DataFrame | None,
    damp: float,
    tol: float,
    max_iters: int,
    dangling: bool,
) -> tuple[DataFrame, int]:
    """The small-graph route of both variants: ``(ranks, iterations_run)``
    from one Arrow collect of the cached edges ``e`` and a numpy power
    iteration on the driver. Nodes are indexed by ``pc.unique`` /
    ``pc.index_in``, out-degree is a ``bincount`` of the source indices
    and each round's in-mass one weighted ``bincount`` over the edges.
    ``reset`` is None for :func:`pagerank` (uniform start, teleport
    ``(1-d)/N``, dangling share ``dm/N``); for
    :func:`personalized_pagerank` it is collected, normalized over the
    graph's nodes and used as the start vector ``w``, teleport
    ``(1-d)*w`` and dangling share ``dm*w``. The update, the dangling
    mass and the L1 stopping rule are :func:`_iterate`'s term for term.
    Returns a local relation ``(node, pr)`` with the edge id type."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from yark_spark.io import local_frame

    tbl = e.toArrow()
    src = tbl.column("src").combine_chunks()
    dst = tbl.column("dst").combine_chunks()
    uniq = pc.unique(pa.concat_arrays([src, dst]))
    n = len(uniq)
    si = pc.index_in(src, value_set=uniq).to_numpy()
    di = pc.index_in(dst, value_set=uniq).to_numpy()
    deg = np.bincount(si, minlength=n)
    if reset is not None:
        rcols = reset.columns
        rt = reset.select(rcols[0], F.col(rcols[1]).cast("double")).toArrow()
        at = pc.index_in(rt.column(0), value_set=uniq)
        hit = pc.is_valid(at)
        w = np.bincount(
            at.filter(hit).to_numpy(),
            weights=pc.fill_null(rt.column(1), 0.0).filter(hit).to_numpy(),
            minlength=n,
        )
        wsum = w.sum()
        if not wsum > 0.0:
            raise ValueError("personalized_pagerank: reset puts no mass on graph nodes")
        w = w / wsum
        pr, teleport = w, (1 - damp) * w
    elif n:
        pr, teleport = np.full(n, 1.0 / n), (1 - damp) / n
    else:
        max_iters = 0
        pr = np.zeros(0)
    sink = deg == 0
    iters_run = 0
    for i in range(max_iters):
        s = np.bincount(di, weights=pr[si] / deg[si], minlength=n)
        if dangling:
            dm = pr[sink].sum()
            s = s + (dm / n if reset is None else dm * w)
        new = teleport + damp * s
        delta = np.abs(new - pr).sum()
        pr, iters_run = new, i + 1
        if tol > 0 and delta < tol:
            break
    schema = f"node {e.schema['src'].dataType.simpleString()}, pr double"
    return local_frame(e.sparkSession, pa.table({"node": uniq, "pr": pr}), schema), iters_run


def _iterate(
    e: DataFrame,
    deg: DataFrame,
    base: DataFrame,
    pr: DataFrame,
    pr_is_ckpt: bool,
    teleport: Column,
    share: Column,
    damp: float,
    tol: float,
    max_iters: int,
    checkpoint_every: int,
    dangling: bool,
) -> tuple[DataFrame, int]:
    """The one iteration loop. Each round's contributions join onto
    ``base`` (every node, with any columns ``teleport``/``share`` read);
    the new rank is ``teleport + damp * (in-mass + dm * share)``, where
    ``dm`` is the dangling mass (``share`` is unused when ``dangling`` is
    off). ``pr`` is the initial vector, a checkpoint iff ``pr_is_ckpt``.
    Runs inside the caller's shuffle-width scope."""
    iters_run = 0
    for i in range(max_iters):
        contrib = (
            e.join(pr, e.src == pr.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"), (F.col("pr") / F.col("d")).alias("c"))
        )
        summed = base.join(
            contrib.groupBy("node").agg(F.sum("c").alias("s")), "node", "left"
        )
        if dangling:
            # dangling mass as a broadcast 1-row aggregate (zero rows on
            # graphs where every node has out-degree)
            dang = pr.join(deg, pr.node == deg.src, "left_anti").agg(
                F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm")
            )
            new = summed.crossJoin(F.broadcast(dang)).select(
                "node",
                (
                    teleport
                    + F.lit(damp) * (F.coalesce(F.col("s"), F.lit(0.0)) + share)
                ).alias("pr"),
            )
        else:
            new = summed.select(
                "node",
                (teleport + F.lit(damp) * F.coalesce(F.col("s"), F.lit(0.0))).alias("pr"),
            )
        delta = None
        if tol <= 0:
            # tol=0: fixed-iteration mode (the oracle twins) — no
            # convergence probes, but each iterate still materializes
            # eagerly with its predecessor released at once: one deep
            # k-iteration lazy chain evaluated at the end held every
            # intermediate exchange live simultaneously and broke the
            # single-JVM broadcast build at the 50x lane scale
            new, _ = materialize(new, checkpoint=True)
            new_is_ckpt = True
        elif (i + 1) % checkpoint_every == 0:
            # convergence mode, checkpoint round: bound lineage, and let
            # the L1 delta ride the materialization job as an Observation
            # (round 18, VERDICT r17 #4 — the dedup_clusters single-job
            # pattern). The previous iterate is joined in only to be
            # observed and projected away, so the checkpointed rows stay
            # (node, pr); both sides carry exactly the node universe, so
            # the inner join is row- and value-preserving.
            new, m = materialize(
                new.join(pr.select("node", F.col("pr").alias("__prev")), "node"),
                checkpoint=True,
                observe={"l1": F.sum(F.abs(F.col("pr") - F.col("__prev")))},
                keep=["node", "pr"],
                fallback=lambda ck: {
                    "l1": ck.alias("a")
                    .join(pr.alias("b"), F.col("a.node") == F.col("b.node"))
                    .agg(F.sum(F.abs(F.col("a.pr") - F.col("b.pr"))).alias("l1"))
                    .first()["l1"]
                },
            )
            delta = m["l1"]
            new_is_ckpt = True
        else:
            # between checkpoints: a lazy cache that the L1 probe itself
            # materializes before the predecessor's blocks release
            new = new.cache()
            delta = (
                new.alias("a")
                .join(pr.alias("b"), F.col("a.node") == F.col("b.node"))
                .agg(F.sum(F.abs(F.col("a.pr") - F.col("b.pr"))).alias("l1"))
                .first()["l1"]
            )
            new_is_ckpt = False
        # Release the superseded iterate. The checkpoint-RDD leaf walk is
        # ONLY safe when pr is itself a localCheckpoint (its plan is then
        # a single LogicalRDD of its own blocks). A cached iterate's — or
        # the lazy initial vector's — analyzed plan still reaches the
        # chain's base checkpoint; walking those leaves would free blocks
        # the next iteration's join still needs ("Checkpoint block not
        # found", ADVICE r10 high).
        if pr_is_ckpt:
            release_now(pr)
        else:
            pr.unpersist()
        pr, pr_is_ckpt = new, new_is_ckpt
        iters_run = i + 1
        if delta is not None and delta < tol:
            break
    # the final iterate is materialized in both modes (checkpoint, or the
    # cached last convergence iterate); release.track() lets harnesses
    # free it after the caller's action (release_tracked())
    track(pr)
    return pr.select("node", "pr"), iters_run
