"""Comment-tree operators over the adjacency list
(`schema.sql:29-42`: self-FK `parent → comments.comment_id`).

Spark has no recursive CTE (≤ 3.x; and the bounded loop below is portable
anyway), so traversal is an iterative self-join with a convergence check —
SURVEY.md §7 risk register. YouTube threads are depth ≤ 2, but the loop
handles depth N and stops as soon as a level is empty, so the cost is
(actual depth) joins, each an equi-join on comment_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yark_spark.operators.release import materialize, release_now, track


def resolve_roots(comments: DataFrame, max_depth: int = 20) -> DataFrame:
    """Attach each comment's thread root and depth.

    Level 0 = comments with parent NULL (roots). Each iteration joins the
    still-unresolved set against the already-resolved set on parent →
    comment_id. Terminates when no new rows resolve (convergence) or at
    max_depth (cycle guard — impossible under the reference's data model
    but cheap insurance against corrupt input).

    Each level's checkpoints are freed as soon as the next level's exist;
    the last level's are registered with ``release.track`` and back the
    returned frame until ``release_tracked()`` runs.
    """
    base = comments.select("comment_id", "parent")
    resolved = base.filter(F.col("parent").isNull()).select(
        "comment_id",
        F.col("comment_id").alias("root_id"),
        F.lit(0).alias("depth"),
    )
    pending = base.filter(F.col("parent").isNotNull())

    depth = 0
    checkpointed = False  # resolved/pending are this function's checkpoints
    while depth < max_depth:
        depth += 1
        step = (
            pending.alias("p")
            .join(resolved.alias("r"), F.col("p.parent") == F.col("r.comment_id"))
            .select(
                F.col("p.comment_id").alias("comment_id"),
                F.col("r.root_id").alias("root_id"),
                (F.col("r.depth") + 1).alias("depth"),
            )
        )
        # convergence check — one count per level; levels are tiny after 2
        if step.isEmpty():
            break
        # localCheckpoint the accumulators: iterative union/anti-join
        # lineage compounds per level; truncating keeps the plan one level
        # deep (same driver-OOM guard as dedup_clusters — plans, not data,
        # are the risk at depth)
        next_resolved, _ = materialize(resolved.unionByName(step), checkpoint=True)
        next_pending, _ = materialize(
            pending.join(step.select("comment_id"), "comment_id", "left_anti"),
            checkpoint=True,
        )
        if checkpointed:  # never free the caller's input
            release_now(resolved)
            release_now(pending)
        resolved, pending, checkpointed = next_resolved, next_pending, True
    if checkpointed:
        track(resolved)
        track(pending)

    # orphans (parent points at a missing comment — corrupt input) surface
    # with root_id NULL rather than disappearing
    orphans = pending.select(
        "comment_id", F.lit(None).cast("string").alias("root_id"), F.lit(None).cast("int").alias("depth")
    )
    return resolved.unionByName(orphans)


def thread_stats(comments: DataFrame) -> DataFrame:
    """Per-thread rollup: size, max depth, total likes — the latent
    aggregation over the comments tree (SURVEY §2.7)."""
    rooted = resolve_roots(comments)
    joined = comments.join(rooted, "comment_id")
    return joined.filter(F.col("root_id").isNotNull()).groupBy("root_id").agg(
        F.count(F.lit(1)).alias("n_comments"),
        F.max("depth").alias("max_depth"),
        F.sum(F.coalesce(F.col("likes"), F.lit(0))).alias("total_likes"),
    )
