"""Eager materialization and the session-wide registry for the blocks it
leaves behind (VERDICT r9 next-round #4).

**One storage policy.** Every eager materialization under ``yark_spark``
goes through :func:`materialize`, at one level: SERIALIZED
``MEMORY_AND_DISK`` (pyspark's ``StorageLevel.MEMORY_AND_DISK`` has
``deserialized=False``). A cache is persisted and counted under
``operators.conf.scoped_cached_plan_aqe`` (unless ``keyed``, see
:func:`materialize`), so AQE sizes the exchanges
inside the cached plan — under a vanilla 200-partition session a bulk
edge build no longer materializes as 200 tiny tasks per shuffle — while
the storage stays the compressed, EVICTABLE columnar cache. A
checkpoint is an eager ``localCheckpoint``, used where lineage must be
cut (iterative frontiers, a pinned range partitioning, a
non-deterministic fetch); it stores row blocks, so the serialized level
matters most there. The reason is the 50x deep-scale lane: bulk edge
sets materialized as row-block localCheckpoints at Spark's default
(deserialized) level OOMed an 8g heap at ~50M edges — the unroll holds
every row as a live ``UnsafeRow`` object across 32 concurrent tasks —
and even serialized row blocks are several times the columnar cache's
footprint. So a bulk set is cached, never repacked into row blocks; an
over-fanned cache is read through a narrow coalesce instead
(``packing.sized_coalesce``). A LAZY cache — one whose first
consumer's action materializes it, such as pagerank's degree table —
stays a plain ``.cache()``: counting it eagerly would add a job, and the
columnar cache is evictable at either level.

**The registry.** Two leak shapes motivated it:

* a query caches a reused intermediate whose blocks are created during
  the CALLER's action — the function can't unpersist before returning
  because the returned lazy plan still reads them (the 8b/8c analytics
  caches);
* an operator returns an eagerly materialized result (localCheckpoint)
  whose blocks back the returned DataFrame for as long as the caller
  keeps it (``operators/graph``, ``operators/dedup`` cluster frontiers,
  ``operators/packing`` prefix sums).

``DataFrame.unpersist()`` only reaches the SQL cache manager — a
localCheckpoint's storage is an RDD-level persist invisible to it (the
blocks sit in ``sc.getPersistentRDDs`` until the async ContextCleaner
eventually GCs them). :func:`release_tracked` therefore does both: SQL
uncache, plus walking each tracked plan's ``LogicalRDD`` leaves and
unpersisting the underlying checkpoint RDDs directly.

Harnesses (driver_sim, the scale lanes, the pytest leak check) call
:func:`release_tracked` after each key's action completes, so a
236-key sweep never accumulates storage from keys it already finished.
"""

from __future__ import annotations

from contextlib import nullcontext
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation

from yark_spark.operators.conf import observation_get, scoped_cached_plan_aqe

#: The one storage level of every eager materialization (module doc).
STORAGE_LEVEL = StorageLevel.MEMORY_AND_DISK

_TRACKED: list[DataFrame] = []


def materialize(
    df: DataFrame,
    *,
    checkpoint: bool = False,
    observe: dict[str, Column] | None = None,
    keep: list[str] | None = None,
    fallback: Callable[[DataFrame], dict] | None = None,
    keyed: bool = False,
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` eagerly at :data:`STORAGE_LEVEL` with one
    action and return ``(stored, metrics)``.

    Default: persist under ``scoped_cached_plan_aqe`` and ``count()``;
    metrics are ``{"count": rows}``. ``keyed=True`` persists outside
    that scope, so the cache keeps the hash partitioning of its last
    shuffle — for a table its consumers join on that same key: under the
    scope pagerank's node table (joined on ``node`` every iteration) cost
    q_pagerank two more jobs. ``checkpoint=True``: an eager
    ``localCheckpoint`` instead. Its optional ``observe={name: expr}``
    aggregates ride the checkpoint's own action as an ``Observation``
    over ``df``, which is then projected to ``keep`` (when given) before
    it is stored; metrics are the observed values, read through
    ``conf.observation_get`` — if they never arrive, ``fallback(stored)``
    computes them with an explicit probe job. Without ``observe`` the
    metrics are ``{}``. Registration for release stays with the caller
    (:func:`track`), which knows how long the blocks must live."""
    if not checkpoint:
        scope = nullcontext() if keyed else scoped_cached_plan_aqe(df.sparkSession)
        with scope:
            stored = df.persist(STORAGE_LEVEL)
            return stored, {"count": stored.count()}
    if not observe:
        return df.localCheckpoint(eager=True, storageLevel=STORAGE_LEVEL), {}
    obs = Observation()
    observed = df.observe(obs, *[expr.alias(name) for name, expr in observe.items()])
    if keep is not None:
        observed = observed.select(*keep)
    stored = observed.localCheckpoint(eager=True, storageLevel=STORAGE_LEVEL)
    probe = (lambda: fallback(stored)) if fallback is not None else None
    return stored, observation_get(obs, fallback=probe)


def track(df: DataFrame) -> DataFrame:
    """Register ``df`` (persisted or checkpointed) for deferred release
    and return it unchanged."""
    _TRACKED.append(df)
    return df


def _unpersist_checkpoint_rdds(df: DataFrame) -> None:
    """Free RDD-level storage under ``df``'s plan: every ``LogicalRDD``
    leaf (the node a localCheckpoint leaves behind) gets its backing RDD
    unpersisted. Best-effort — a stopped session just no-ops."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                try:
                    leaf.rdd().unpersist(False)
                except Exception:
                    pass
    except Exception:
        pass


def release_now(df: DataFrame) -> None:
    """Immediately free ``df``'s storage — SQL cache AND any checkpoint
    RDDs its plan reads. For superseded iterates inside convergence
    loops, where deferring to release_tracked() would accumulate one
    rank-vector copy per iteration."""
    try:
        df.unpersist()
    except Exception:
        return
    _unpersist_checkpoint_rdds(df)


def release_tracked() -> int:
    """Unpersist every tracked DataFrame — SQL cache AND checkpoint RDD
    storage. ONLY call after the results that read these blocks have
    been fully materialized (collected, written, or re-persisted).
    Returns the number of DataFrames released."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        n += 1
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            continue
        _unpersist_checkpoint_rdds(df)
    return n


def persisted_block_count(spark) -> int:
    """Number of RDDs currently holding (or registered for) storage in
    the session — the suite-level leak assertion (back to the baseline
    after release_tracked())."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()
