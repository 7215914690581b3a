"""Iterative graph analytics — PageRank to convergence (round 9, VERDICT
r8 next-round #5; extends the bounded-iteration q_pagerank of round 8).

Reference parity note: the reference archiver (/root/reference) has no
graph surface; this is part of the driver-mandated training-data-pipeline
inventory (SURVEY.md §2.8) — e.g. ranking pages/documents by link
structure before sampling a pretraining mix.

Scale posture: the rank vector is (node, double) — tiny next to the edge
list — and every iteration is one equi-join of edges against ranks plus a
partial-agg groupBy on dst, shuffling on the same key each round. Lineage
is truncated with an eager localCheckpoint every ``checkpoint_every``
iterations (the dedup_clusters pointer-doubling pattern — without it the
plan doubles per iteration and the optimizer itself becomes the
bottleneck); intermediate vectors are cached between checkpoints and
released as soon as their successor is materialized. The per-iteration
L1-delta (and dangling-mass) aggregates are 1-row scalars — inherent to
a convergence test, not a driver-side data loop.

Both variants share one edge prologue (:func:`_edge_tables`) and one
iteration loop (:func:`_iterate`); they differ only in the base frame
the contributions join onto, the teleport term and the dangling share.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yark_spark.operators.conf import scoped_shuffle_partitions
from yark_spark.operators.packing import sized_coalesce
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
    """
    with _edge_tables(edges) as (e, deg, nodes):
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

    Same execution shape as ``pagerank``'s convergence mode: cached
    edge/degree/weight tables, per-iteration edge-equi-join + partial-agg,
    localCheckpoint rotation every ``checkpoint_every`` rounds, 1-row
    L1-delta probes. ``tol=0.0`` runs exactly ``max_iters`` iterations
    with no probes — the fixed-iteration oracle twin behind
    ``q_pagerank_personalized``. Returns ``(ranks, iterations_run)``;
    ranks are materialized and tracked by ``operators.release`` —
    ``.unpersist()`` (or ``release_tracked()``) when done."""
    rcols = reset.columns
    with _edge_tables(edges) as (e, deg, nodes):
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
            wsum = float(masked.agg(F.sum("__rw")).first()[0])
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
def _edge_tables(edges: DataFrame) -> Iterator[tuple[DataFrame, DataFrame, DataFrame]]:
    """The edge prologue of both variants: yields ``(e, deg, nodes)`` —
    the cached edge list (read through ``packing.sized_coalesce``), its
    lazily cached out-degree table and the (lazy) node universe — inside
    a shuffle width sized to the graph, and frees the edge cache and
    ``deg`` on exit.

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
    e, p = sized_coalesce(cached, m["count"])
    with scoped_shuffle_partitions(spark, p):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d")).cache()
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        try:
            yield e, deg, nodes
        finally:
            cached.unpersist()
            deg.unpersist()


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
