"""operators/graph.pagerank: convergence, dangling mass, oracle-twin
equivalence (round 9, VERDICT r8 next-round #5), and the agreement of
its two routes: the driver-side numpy loop at or under
packing.LOCAL_MAX_ROWS edges (every graph here), the distributed loop
above (forced by a negative cap)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from yark_spark.operators import packing


def _routes(monkeypatch):
    """Yield each route's name with that route in force: local (the
    default at test sizes), then distributed."""
    yield "local"
    with monkeypatch.context() as m:
        m.setattr(packing, "LOCAL_MAX_ROWS", -1)
        yield "distributed"


@pytest.fixture(params=["local", "distributed"])
def route(request, monkeypatch):
    """Run a test through both routes, one test id each."""
    if request.param == "distributed":
        monkeypatch.setattr(packing, "LOCAL_MAX_ROWS", -1)
    return request.param


@pytest.fixture
def distributed(monkeypatch):
    """Force the distributed route, for tests of its own mechanics."""
    monkeypatch.setattr(packing, "LOCAL_MAX_ROWS", -1)


def _numpy_pagerank(edges, damp=0.85, tol=1e-12, max_iters=500):
    """Dense power-iteration reference with uniform dangling
    redistribution; returns (nodes, ranks, iterations)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    pr = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iters + 1):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += pr[idx[s]] / out[idx[s]]
        dangling = pr[out == 0].sum()
        new = (1 - damp) / n + damp * (contrib + dangling / n)
        delta = np.abs(new - pr).sum()
        pr = new
        if delta < tol:
            break
    return nodes, pr, it


# chain + cross links: slow-mixing, so 3 iterations are visibly
# unconverged and the tolerance loop must run well past them
CHAIN_EDGES = [(f"n{i}", f"n{i + 1}") for i in range(20)] + [
    ("n20", "n0"),
    ("n5", "n0"),
    ("n13", "n2"),
]


def test_pagerank_converges_past_fixed_iterations(spark, monkeypatch):
    from yark_spark.operators.graph import pagerank

    edges = spark.createDataFrame(CHAIN_EDGES, "src string, dst string")
    nodes, ref, _ = _numpy_pagerank(CHAIN_EDGES, damp=0.7, tol=1e-13)
    ref_map = dict(zip(nodes, ref))
    # 3 iterations are visibly unconverged on this graph...
    _, ref3, _ = _numpy_pagerank(CHAIN_EDGES, damp=0.7, tol=0.0, max_iters=3)
    assert np.abs(ref3 - ref).sum() > 1e-3
    for route in _routes(monkeypatch):
        ranks, iters = pagerank(
            edges, damp=0.7, tol=1e-6, max_iters=100, checkpoint_every=5
        )
        got = {r["node"]: r["pr"] for r in ranks.collect()}
        # ...and the operator ran past them and matched the stationary vector
        assert iters > 3, route
        assert abs(sum(got.values()) - 1.0) < 1e-9, route  # mass conserved
        for n in nodes:
            assert got[n] == pytest.approx(ref_map[n], abs=1e-6), (route, n)


def test_pagerank_redistributes_dangling_mass(spark, monkeypatch):
    """A graph with a SINK (no outgoing edges): without the dangling
    term, rank mass leaks every iteration and the vector sums below 1."""
    from yark_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]  # d is a sink
    df = spark.createDataFrame(edges, "src string, dst string")
    nodes, ref, _ = _numpy_pagerank(edges, damp=0.7, tol=1e-13)
    for route in _routes(monkeypatch):
        ranks, _ = pagerank(df, damp=0.7, tol=1e-8, max_iters=200)
        got = {r["node"]: r["pr"] for r in ranks.collect()}
        assert abs(sum(got.values()) - 1.0) < 1e-9, route
        for n, v in zip(nodes, ref):
            assert got[n] == pytest.approx(v, abs=1e-7), (route, n)


def test_pagerank_fixed_iteration_twin_matches_reference(spark, monkeypatch):
    """tol=0 mode is the oracle twin: exactly max_iters power steps, no
    convergence probes — must equal the numpy reference at the same
    iteration count bit-for-double-bit (same formula, same order-free
    sums over a tiny graph)."""
    from yark_spark.operators.graph import pagerank

    und = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    edges = und + [(d, s) for s, d in und]
    df = spark.createDataFrame(edges, "src string, dst string")
    nodes, ref, _ = _numpy_pagerank(edges, tol=0.0, max_iters=3)
    for route in _routes(monkeypatch):
        ranks, iters = pagerank(df, tol=0.0, max_iters=3)
        assert iters == 3, route
        got = {r["node"]: r["pr"] for r in ranks.collect()}
        for n, v in zip(nodes, ref):
            assert got[n] == pytest.approx(v, rel=1e-12), (route, n)


def _numpy_ppr(edges, weights, damp=0.85, tol=1e-13, max_iters=1000):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    w = np.zeros(n)
    for node, wt in weights.items():
        w[idx[node]] = wt
    w = w / w.sum()
    pr = w.copy()
    for _ in range(max_iters):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += pr[idx[s]] / out[idx[s]]
        dangling = pr[out == 0].sum()
        new = (1 - damp) * w + damp * (contrib + dangling * w)
        if np.abs(new - pr).sum() < tol:
            pr = new
            break
        pr = new
    return dict(zip(nodes, pr))


def test_personalized_pagerank_matches_reference(spark, monkeypatch):
    """PPR with a skewed teleport over a graph with a sink: must match
    the numpy personalized power iteration (dangling mass redistributed
    by the reset distribution, not uniformly), conserve mass, and rank
    the seed's neighborhood above the far side of the graph."""
    from yark_spark.operators.graph import personalized_pagerank

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),      # seed-side cycle
        ("c", "d"), ("d", "e"),                  # path to the far side
        ("e", "f"),                              # f is a sink
    ]
    weights = {"a": 3.0, "b": 1.0}  # teleport biased to a
    df = spark.createDataFrame(edges, "src string, dst string")
    rdf = spark.createDataFrame(list(weights.items()), "node string, w double")
    ref = _numpy_ppr(edges, weights, damp=0.7)
    for route in _routes(monkeypatch):
        ranks, iters = personalized_pagerank(
            df, rdf, damp=0.7, tol=1e-8, max_iters=150
        )
        got = {r["node"]: r["pr"] for r in ranks.collect()}
        assert abs(sum(got.values()) - 1.0) < 1e-9, route
        for n, v in ref.items():
            assert got[n] == pytest.approx(v, abs=1e-7), (route, n)
        assert got["a"] > got["e"], route  # seed bias visible
        ranks.unpersist()


# ---------------------------------------------------------------------------
# ADVICE r10 regressions: the edge-coalesce branch (taken only when the
# session shuffle width is >= 4x the operator's sized width — e.g. a
# vanilla 200-partition session over a small graph) turns `e` into a
# localCheckpoint. Two hazards were unreachable under the pinned test
# session and are forced here by over-partitioning the edge input.
# ---------------------------------------------------------------------------


def _wide_edges(spark, edges, parts=64):
    """Edge DataFrame with enough partitions that pagerank's sized width
    p satisfies p*4 <= partitions — forcing the coalesce/localCheckpoint
    branch under the pinned test session."""
    return spark.createDataFrame(edges, "src string, dst string").repartition(parts)


def test_pagerank_convergence_survives_coalesced_checkpoint_edges(spark, distributed):
    """ADVICE r10 (high): in convergence mode, releasing a superseded
    PERSISTED iterate must not walk its plan's LogicalRDD leaves — those
    include the coalesced localCheckpointed edge table, whose blocks are
    unrecoverable ('Checkpoint block not found' on the next join)."""
    from yark_spark.operators.graph import pagerank

    edges = _wide_edges(spark, CHAIN_EDGES)
    ranks, iters = pagerank(
        edges, damp=0.7, tol=1e-6, max_iters=100, checkpoint_every=5
    )
    got = {r["node"]: r["pr"] for r in ranks.collect()}
    nodes, ref, _ = _numpy_pagerank(CHAIN_EDGES, damp=0.7, tol=1e-13)
    assert iters > 3
    for n, v in zip(nodes, ref):
        assert got[n] == pytest.approx(v, abs=1e-6), n
    ranks.unpersist()


def test_ppr_convergence_survives_coalesced_checkpoint_edges(spark, distributed):
    """Same hazard in _ppr_iterate (ADVICE r10 high, second site)."""
    from yark_spark.operators.graph import personalized_pagerank

    edges = _wide_edges(spark, CHAIN_EDGES)
    rdf = spark.createDataFrame([("n0", 2.0), ("n7", 1.0)], "node string, w double")
    ranks, iters = personalized_pagerank(
        edges, rdf, damp=0.7, tol=1e-8, max_iters=150, checkpoint_every=5
    )
    got = {r["node"]: r["pr"] for r in ranks.collect()}
    ref = _numpy_ppr(CHAIN_EDGES, {"n0": 2.0, "n7": 1.0}, damp=0.7)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for n, v in ref.items():
        assert got[n] == pytest.approx(v, abs=1e-7), n
    ranks.unpersist()


@pytest.mark.parametrize("mode", ["fixed", "convergence"])
def test_pagerank_coalesced_edge_checkpoint_blocks_released(spark, distributed, mode):
    """ADVICE r10 (medium): the coalesced edge table is a localCheckpoint
    whose RDD-level blocks e.unpersist() cannot free; both modes must
    route them through the release registry (or free them directly) so a
    pagerank call leaves zero persistent RDDs after release_tracked()."""
    from yark_spark.operators.graph import pagerank, personalized_pagerank
    from yark_spark.operators.release import persisted_block_count, release_tracked

    release_tracked()
    before = persisted_block_count(spark)
    edges = _wide_edges(spark, CHAIN_EDGES)
    if mode == "fixed":
        ranks, _ = pagerank(edges, tol=0.0, max_iters=3, dangling=False)
    else:
        ranks, _ = pagerank(edges, damp=0.7, tol=1e-6, max_iters=100)
    ranks.collect()
    rdf = spark.createDataFrame([("n0", 1.0)], "node string, w double")
    pranks, _ = personalized_pagerank(
        _wide_edges(spark, CHAIN_EDGES),
        rdf,
        tol=0.0 if mode == "fixed" else 1e-8,
        max_iters=3 if mode == "fixed" else 150,
    )
    pranks.collect()
    release_tracked()
    after = persisted_block_count(spark)
    assert after <= before, (
        f"{mode}: pagerank/personalized_pagerank leaked "
        f"{after - before} persistent RDD(s) (coalesced edge checkpoint?)"
    )


def test_ppr_dangling_elision_matches_on_sink_free_graph(spark, monkeypatch):
    """dangling=False must be a pure plan optimization on a graph where
    every node has out-degree (both directions of an undirected edge
    list): identical ranks to the default path (round 11)."""
    from yark_spark.operators.graph import personalized_pagerank

    und = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    edges = und + [(d, s) for s, d in und]
    df = spark.createDataFrame(edges, "src string, dst string")
    rdf = spark.createDataFrame([("a", 1.0), ("d", 3.0)], "node string, w double")
    for route in _routes(monkeypatch):
        with_d, _ = personalized_pagerank(df, rdf, tol=0.0, max_iters=3)
        without_d, _ = personalized_pagerank(
            df, rdf, tol=0.0, max_iters=3, dangling=False
        )
        a = {r["node"]: r["pr"] for r in with_d.collect()}
        b = {r["node"]: r["pr"] for r in without_d.collect()}
        assert a.keys() == b.keys(), route
        for n in a:
            assert a[n] == pytest.approx(b[n], abs=1e-12), (route, n)
        with_d.unpersist()
        without_d.unpersist()


@pytest.mark.parametrize("mode", ["fixed", "convergence"])
def test_pagerank_equals_uniform_reset_ppr(spark, monkeypatch, mode):
    """The merged iteration loop's two teleport forms agree: pagerank
    (teleport (1-d)/N, dangling share dm/N) equals personalized_pagerank
    with a uniform reset (teleport (1-d)*w, share dm*w, w = 1/N) on a
    graph with a sink, in fixed mode and in convergence mode."""
    from yark_spark.operators.graph import pagerank, personalized_pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("b", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    nodes = sorted({n for e in edges for n in e})
    rdf = spark.createDataFrame([(n, 1.0) for n in nodes], "node string, w double")
    kw = (
        {"tol": 0.0, "max_iters": 3}
        if mode == "fixed"
        else {"tol": 1e-10, "max_iters": 200, "checkpoint_every": 3}
    )
    for route in _routes(monkeypatch):
        ranks, it_a = pagerank(df, **kw)
        pranks, it_b = personalized_pagerank(df, rdf, **kw)
        a = {r["node"]: r["pr"] for r in ranks.collect()}
        b = {r["node"]: r["pr"] for r in pranks.collect()}
        ranks.unpersist()
        pranks.unpersist()
        assert it_a == it_b, route
        assert a.keys() == b.keys() == set(nodes), route
        for n in nodes:
            assert a[n] == pytest.approx(b[n], abs=1e-12), (route, n)


def test_convergence_checkpoint_round_is_single_job(spark, distributed):
    """Round 18 (VERDICT r17 #4): on checkpoint rounds the L1 delta
    probe rides the eager localCheckpoint's own action as an
    Observation — one job per checkpointed iteration instead of
    checkpoint + a separate join-aggregate probe. Count jobs over a
    run whose every round checkpoints (checkpoint_every=1): besides
    the fixed setup/finalize jobs, each iteration must contribute
    exactly ONE job."""
    from yark_spark.operators.graph import pagerank
    from yark_spark.operators.release import release_tracked

    # irregular digraph (doubling map is non-invertible mod 64, so
    # in-degrees vary: even nodes 3, odd nodes 1; no sinks) — far from
    # its stationary vector, so all max_iters rounds run
    edges = spark.range(64).select(
        F.col("id").alias("src"), ((F.col("id") * 2) % 64).alias("dst")
    ).union(
        spark.range(64).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % 64).alias("dst")
        )
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(checkpoint_every):
        before = len(tracker.getJobIdsForGroup(None) or [])
        # count via job ids across ALL groups: use the DAGScheduler
        # counter exposed on the tracker instead
        ids0 = set(tracker.getJobIdsForGroup())
        ranks, iters = pagerank(
            edges, tol=1e-12, max_iters=6, checkpoint_every=checkpoint_every,
            dangling=False,
        )
        ranks.unpersist()
        release_tracked()
        ids1 = set(tracker.getJobIdsForGroup())
        return len(ids1 - ids0), iters

    jobs_all_ckpt, iters_a = run(1)
    jobs_probe_split, iters_b = run(10_000)  # never checkpoints mid-run
    assert iters_a == iters_b == 6
    # same fixed setup either way; the all-checkpoint run must not pay
    # more jobs than the persist+probe run (it merges the probe), and
    # specifically must save the 6 extra probe jobs
    assert jobs_all_ckpt <= jobs_probe_split - iters_a + 1, (
        jobs_all_ckpt,
        jobs_probe_split,
    )


def test_edge_materialization_is_aqe_sized_columnar(spark, monkeypatch, distributed):
    """Round 18: the bulk edge sets (pagerank edge build, dedup_clusters'
    symmetric expansion) must materialize as a PERSIST registered while
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is true —
    AQE sizes the cached plan's exchanges under a vanilla 200-partition
    session — and the conf must be restored afterwards. The alternative
    (row-block localCheckpoint) OOMed the 50x deep-scale lane: the JVM's
    deserialized unroll holds every edge row as a live UnsafeRow object.
    Any localCheckpoint that does still fire in these operators (the
    rare repack branch) must pass an explicitly SERIALIZED level."""
    from pyspark.sql.classic.dataframe import DataFrame

    from yark_spark.operators.dedup import dedup_clusters
    from yark_spark.operators.graph import pagerank
    from yark_spark.operators.release import release_tracked

    KEY = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    before = spark.conf.get(KEY)
    persist_confs, ckpt_levels = [], []
    real_persist = DataFrame.persist
    real_ckpt = DataFrame.localCheckpoint

    def spy_persist(self, *args, **kwargs):
        persist_confs.append(spark.conf.get(KEY, "false"))
        return real_persist(self, *args, **kwargs)

    def spy_ckpt(self, eager=True, storageLevel=None):
        ckpt_levels.append(storageLevel)
        return real_ckpt(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(DataFrame, "persist", spy_persist)
    monkeypatch.setattr(DataFrame, "localCheckpoint", spy_ckpt)

    edges = spark.createDataFrame(CHAIN_EDGES, "src string, dst string")
    ranks, _ = pagerank(edges, tol=0.0, max_iters=2, dangling=False)
    ranks.count()
    ranks.unpersist()
    assert persist_confs and persist_confs[0] == "true", persist_confs

    persist_confs.clear()
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], "id string"
    )
    dedup_clusters(nodes, pairs, id_col="id").count()
    release_tracked()
    assert persist_confs and persist_confs[0] == "true", persist_confs

    # the scope restored the value the session had before
    assert spark.conf.get(KEY) == before
    # any surviving localCheckpoint with an explicit level is serialized
    for lvl in ckpt_levels:
        if lvl is not None:
            assert not lvl.deserialized, lvl


def _random_digraph(seed, n_nodes=120, n_edges=400):
    """Random directed graph over ids 0..n_nodes-1 with some sinks."""
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n_nodes, n_edges)
    dst = rng.integers(0, n_nodes, n_edges)
    keep = src % 10 != 0  # ids divisible by 10 never link out
    return sorted(set(zip(src[keep].tolist(), dst[keep].tolist())))


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_routes_agree_in_convergence_mode(spark, monkeypatch, id_type):
    """Both routes give the same ranks, the same iterations_run and the
    edge id type, for pagerank and personalized_pagerank in convergence
    mode with dangling mass; each leaves nothing cached once its ranks
    are released. Long ids sit above 2^32."""
    from yark_spark.operators.graph import pagerank, personalized_pagerank
    from yark_spark.operators.release import persisted_block_count, release_tracked

    pairs = _random_digraph(7)
    if id_type == "long":
        edges = [(2**40 + s, 2**40 + d) for s, d in pairs]
    else:
        edges = [(f"v{s}", f"v{d}") for s, d in pairs]
    df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    seeds = [edges[0][0], edges[5][1], edges[9][0]]
    rdf = spark.createDataFrame(
        [(n, 1.0 + i) for i, n in enumerate(seeds)], f"node {id_type}, w double"
    )
    nodes, ref, _ = _numpy_pagerank(edges, damp=0.85, tol=1e-13)

    release_tracked()
    before = persisted_block_count(spark)
    got = {}
    for route in _routes(monkeypatch):
        ranks, iters = pagerank(df, tol=1e-9, max_iters=200, checkpoint_every=4)
        pranks, piters = personalized_pagerank(df, rdf, tol=1e-9, max_iters=200)
        for frame in (ranks, pranks):
            assert frame.columns == ["node", "pr"], route
            assert frame.schema["node"].dataType == df.schema["src"].dataType, route
        got[route] = (
            {r["node"]: r["pr"] for r in ranks.collect()},
            iters,
            {r["node"]: r["pr"] for r in pranks.collect()},
            piters,
        )
        ranks.unpersist()
        pranks.unpersist()
        release_tracked()
        assert persisted_block_count(spark) <= before, route
    local, dist = got["local"], got["distributed"]
    assert local[1] == dist[1] and local[3] == dist[3]
    for a, b in ((local[0], dist[0]), (local[2], dist[2])):
        assert a.keys() == b.keys() == set(nodes)
        for n in nodes:
            assert a[n] == pytest.approx(b[n], rel=1e-12, abs=1e-15), n
    for n, v in zip(nodes, ref):
        assert local[0][n] == pytest.approx(v, abs=1e-8), n


def test_local_route_returns_a_local_relation(spark):
    """At test sizes the ranks are an Arrow-built local relation: the
    edge list is collected once and no iterate is cached."""
    from yark_spark.operators.graph import pagerank

    df = spark.createDataFrame(CHAIN_EDGES, "src string, dst string")
    ranks, _ = pagerank(df, tol=0.0, max_iters=3, dangling=False)
    plan = ranks._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_empty_edge_list(spark, route):
    """No edges: pagerank returns an empty (node, pr) frame after 0
    iterations in both modes, personalized_pagerank raises its no-mass
    ValueError, and neither leaves anything cached."""
    from yark_spark.operators.graph import pagerank, personalized_pagerank
    from yark_spark.operators.release import persisted_block_count, release_tracked

    release_tracked()
    before = persisted_block_count(spark)
    df = spark.createDataFrame([], "src string, dst string")
    for tol in (0.0, 1e-6):
        ranks, iters = pagerank(df, tol=tol, max_iters=5)
        assert iters == 0
        assert ranks.columns == ["node", "pr"]
        assert ranks.collect() == []
    rdf = spark.createDataFrame([("a", 1.0)], "node string, w double")
    with pytest.raises(ValueError, match="no mass on graph nodes"):
        personalized_pagerank(df, rdf)
    release_tracked()
    assert persisted_block_count(spark) <= before


def test_ppr_reset_without_graph_mass_raises(spark, route):
    """A reset whose seeds are all outside the graph (or weigh 0) raises
    before the first iteration and leaves nothing cached."""
    from yark_spark.operators.graph import personalized_pagerank
    from yark_spark.operators.release import persisted_block_count, release_tracked

    release_tracked()
    before = persisted_block_count(spark)
    df = spark.createDataFrame(CHAIN_EDGES, "src string, dst string")
    rdf = spark.createDataFrame([("zz", 1.0), ("n3", 0.0)], "node string, w double")
    with pytest.raises(ValueError, match="no mass on graph nodes"):
        personalized_pagerank(df, rdf)
    release_tracked()
    assert persisted_block_count(spark) <= before


def test_q_pagerank_job_count(spark, sf_dir, count_jobs):
    """Pin q_pagerank's job count on the local route: the edge build and
    count, then one collect of the cached edges — 8 jobs, where the
    distributed route ran 29 for this key."""
    from yark_spark.operators.release import release_tracked
    from yark_spark.queries import QUERIES

    rows, jobs = count_jobs(
        "test_q_pagerank_job_count",
        lambda: QUERIES["q_pagerank"](spark, sf_dir).collect(),
    )
    release_tracked()
    assert rows
    assert jobs <= 8, jobs
