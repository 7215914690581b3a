"""IVF ANN (operators/similarity.ivf_topk): recall vs the exact path,
probe behavior, and plan shape."""

import pytest
from pyspark.sql import functions as F

from yark_spark.io import load_table
from yark_spark.operators.similarity import cosine_topk, ivf_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").persist()


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ivf_all_cells_probed_equals_exact(spark, emb):
    """Probing every cell degrades IVF to the exact brute-force ranking —
    the recall knob's upper end is exactness."""
    exact = _topk_sets(cosine_topk(emb, query_max_id=5, k=3))
    ivf = _topk_sets(
        ivf_topk(emb, query_max_id=5, k=3, n_cells=4, n_probe=4)
    )
    assert ivf == exact


def test_ivf_partial_probe_recall(spark, emb):
    """With a quarter of the cells probed, recall@5 stays useful (>= 0.5
    on the fixture corpus) and every query still returns k rows."""
    exact = _topk_sets(cosine_topk(emb, query_max_id=10, k=5))
    ivf = _topk_sets(ivf_topk(emb, query_max_id=10, k=5, n_cells=8, n_probe=2))
    hits = sum(len(ivf.get(q, set()) & exact[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.5
    assert all(len(v) == 5 for v in ivf.values())


def test_ivf_deterministic(spark, emb):
    a = sorted(map(tuple, ivf_topk(emb, query_max_id=5, k=3, n_cells=8, n_probe=2).collect()))
    b = sorted(map(tuple, ivf_topk(emb, query_max_id=5, k=3, n_cells=8, n_probe=2).collect()))
    assert a == b


def test_ivf_scored_side_filtered_by_cell(spark, emb):
    """The candidate join is an equi-join on cell (inverted-list probe) —
    the plan must show no cartesian product and a broadcast of the tiny
    probe side."""
    plan = (
        ivf_topk(emb, query_max_id=5, k=3, n_cells=8, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan


def test_cosine_topk_blas_equals_column_path(spark, sf_dir):
    """round 7: the BLAS matmul path must return EXACTLY the column
    expression path's rows — same scores (rounded identically before
    ranking), same tie-breaks — on both the default and a wider query
    set."""
    from yark_spark.io import load_table
    from yark_spark.operators.similarity import cosine_topk, cosine_topk_blas

    emb = load_table(spark, sf_dir, "embeddings")
    for qmax, k in ((10, 5), (50, 3)):
        a = sorted(map(tuple, cosine_topk(emb, query_max_id=qmax, k=k).collect()))
        b = sorted(map(tuple, cosine_topk_blas(emb, query_max_id=qmax, k=k).collect()))
        assert a == b, (qmax, k)


def test_embedding_near_dups_blas_equals_join_path(spark, sf_dir):
    """round 7: the BLAS pairwise path must emit exactly the join path's
    (id_a, id_b, cosine_sim) set at two thresholds."""
    from yark_spark.io import load_table
    from yark_spark.operators.similarity import (
        embedding_near_dups,
        embedding_near_dups_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    for thr in (0.9, 0.5):
        a = sorted(map(tuple, embedding_near_dups(emb, threshold=thr, max_id=150).collect()))
        b = sorted(map(tuple, embedding_near_dups_blas(emb, threshold=thr, max_id=150).collect()))
        assert a == b, thr


def test_default_operating_point_recall_on_clustered_scale_corpus(spark):
    """Contract for the DOCUMENTED default (n_probe=4 of 16 cells): on the
    scale lane's clustered 5x corpus (deterministic perturbed copies —
    near-dup-family geometry), recall@5 against the exact top-k must stay
    >= 0.9. The full 10x/20x curve lives in scripts/ann_recall_lane.py
    (SCALE_r*_ann.json); this pins the operating point in the suite so a
    quantizer/probe regression fails tests, not just the lane."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from ann_recall_lane import recall_at_k, scaled_embeddings

    emb = scaled_embeddings(spark, "/root/testdata/sf0.1", copies=5).persist()
    exact = cosine_topk(emb, query_max_id=20, k=5)
    exact.persist().count()
    ivf = ivf_topk(emb, query_max_id=20, k=5, n_cells=16)  # default n_probe
    assert recall_at_k(ivf, exact) >= 0.9
    exact.unpersist()
    emb.unpersist()


def test_multiprobe_lsh_recall_contract(spark):
    """Round 9 (VERDICT r8 next-round #7): multi-probe LSH contract. At
    the speed-optimal 8-plane count, single-probe recall measured 0.77-
    0.78 on the clustered scale corpora; probing the 1-bit-flip neighbor
    buckets (9/256 of the corpus) must lift recall@5 to >= 0.9
    (SCALE_r09_ann.json: 0.96 at 10x, 0.99 at 20x). The 10x corpus is
    the contract geometry — its near-dup families (10 copies) fill the
    whole top-5, so recall measures the HASH's ability to keep genuine
    neighbors, not the corpus's supply of them (at 5x, families of 5
    leave the 5th neighbor a far non-family vector no bucketing scheme
    can localize — recall caps at ~0.84 for every LSH variant)."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from ann_recall_lane import recall_at_k, scaled_embeddings

    from yark_spark.operators.similarity import ann_topk_lsh, cosine_topk

    emb = scaled_embeddings(spark, "/root/testdata/sf0.1", copies=10).persist()
    exact = cosine_topk(emb, query_max_id=20, k=5)
    exact.persist().count()
    single = ann_topk_lsh(emb, query_max_id=20, k=5, n_planes=8, n_flip=0)
    mp = ann_topk_lsh(emb, query_max_id=20, k=5, n_planes=8, n_flip=1)
    r_single = recall_at_k(single, exact)
    r_mp = recall_at_k(mp, exact)
    assert r_mp >= 0.9, (r_single, r_mp)
    assert r_mp > r_single  # the flip buckets are doing the lifting
    exact.unpersist()
    emb.unpersist()


def test_cosine_topk_auto_route_both_sides_of_crossover(spark, sf_dir):
    """Round 18 (VERDICT r17 #5): route="auto" must be result-invisible
    on either side of the candidate-count crossover, and pick the BLAS
    mapInPandas plan above it / the column-expression plan below it."""
    from yark_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    baseline = rows(cosine_topk(emb, query_max_id=5, k=3, route="column"))

    spark.conf.set("spark.yark.similarity.blasMinPairs", "1")
    try:
        routed_blas = cosine_topk(emb, query_max_id=5, k=3)
        plan = routed_blas._jdf.queryExecution().analyzed().toString()
        assert "mapInPandas" in plan or "MapInPandas" in plan, plan
        assert rows(routed_blas) == baseline
    finally:
        spark.conf.unset("spark.yark.similarity.blasMinPairs")

    spark.conf.set(
        "spark.yark.similarity.blasMinPairs", str(10**9)
    )
    try:
        routed_col = cosine_topk(emb, query_max_id=5, k=3)
        plan = routed_col._jdf.queryExecution().analyzed().toString()
        assert "mapInPandas" not in plan and "MapInPandas" not in plan, plan
        assert rows(routed_col) == baseline
    finally:
        spark.conf.unset("spark.yark.similarity.blasMinPairs")

    # routing disabled entirely
    spark.conf.set("spark.yark.similarity.blasMinPairs", "0")
    try:
        assert rows(cosine_topk(emb, query_max_id=5, k=3)) == baseline
    finally:
        spark.conf.unset("spark.yark.similarity.blasMinPairs")


def test_cosine_topk_auto_route_at_threshold_edges(spark, sf_dir):
    """The router's candidate count is bounded at threshold // |queries|
    + 1 rows; the route it picks must still be the full-count one
    (|queries| x |candidates| >= threshold → BLAS) just below, at and just
    above the threshold."""
    from yark_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = emb.filter(F.col("vec_id") < 5).count() * emb.count()
    for threshold, blas in ((pairs - 1, True), (pairs, True), (pairs + 1, False)):
        spark.conf.set("spark.yark.similarity.blasMinPairs", str(threshold))
        try:
            plan = cosine_topk(emb, query_max_id=5, k=3)._jdf.queryExecution()
            plan = plan.analyzed().toString()
        finally:
            spark.conf.unset("spark.yark.similarity.blasMinPairs")
        assert ("MapInPandas" in plan) is blas, threshold
