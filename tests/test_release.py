"""Suite-level storage-leak check (VERDICT r9 next-round #4): no query
key may leave persisted/checkpointed blocks behind once its action has
completed and the harness release hook has run.

Covers every known in-query/in-operator storage site:

* ``q_triangle_count`` — materializes its scalars internally and
  unpersists its edge table before returning (no tracking needed);
* ``q_pagerank`` / ``q_pagerank_personalized`` — graph operators persist
  edge/degree tables (released in-operator) and return a tracked eager
  localCheckpoint;
* ``q_collocation_pmi`` (bigram counts), ``q_embedding_covariance``,
  ``q_ks_test``, ``q_exact_median_global`` (cached aggregate reused by
  several consumers + prefix-sum checkpoints), ``q_copurchase_rules``
  (cached basket set) — all routed through ``operators/release.track``;
* ``q_curate_pipeline`` — dedup-cluster frontier checkpoints and the
  curation report's cached stages, tracked alongside the existing
  ``report.unpersist()`` contract.

The assertion is on ``sc.getPersistentRDDs`` — NOT on the SQL cache
alone, because ``DataFrame.unpersist()`` can't release a
localCheckpoint's RDD-level storage (the round-10 fix in
``operators/release`` / ``operators/packing``).
"""

import pytest

LEAK_PRONE_KEYS = [
    "q_triangle_count",
    "q_pagerank",
    "q_pagerank_personalized",
    "q_collocation_pmi",
    "q_embedding_covariance",
    "q_ks_test",
    "q_exact_median_global",
    "q_copurchase_rules",
    "q_curate_pipeline",
    "q_dsir_importance",  # r11: cached per-(doc,bucket) aggregate
    "q_comments_tree",  # resolve_roots' per-level checkpoints
]


@pytest.mark.parametrize("key", LEAK_PRONE_KEYS)
def test_query_leaves_no_persistent_blocks(spark, sf_dir, key):
    from yark_spark.operators.release import persisted_block_count, release_tracked
    from yark_spark.queries import QUERIES

    release_tracked()  # clean slate from earlier tests in the session
    before = persisted_block_count(spark)
    df = QUERIES[key](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # full materialization
    release_tracked()
    after = persisted_block_count(spark)
    assert after <= before, (
        f"{key} leaked {after - before} persistent RDD(s) after its action "
        "completed and release_tracked() ran"
    )


def test_release_tracked_frees_checkpoint_storage(spark):
    """track() + release_tracked() must free RDD-level checkpoint blocks,
    which DataFrame.unpersist() alone cannot reach."""
    from yark_spark.operators.release import (
        persisted_block_count,
        release_tracked,
        track,
    )

    release_tracked()
    before = persisted_block_count(spark)
    cp = track(spark.range(500).selectExpr("id", "id * 2 AS x").localCheckpoint(eager=True))
    assert cp.count() == 500
    assert persisted_block_count(spark) == before + 1
    cp.unpersist()  # the trap: this alone does NOT free the blocks
    assert persisted_block_count(spark) == before + 1
    assert release_tracked() >= 1
    assert persisted_block_count(spark) == before


#: Files under yark_spark/ (besides operators/release.py) that may name
#: ``.persist(``, ``localCheckpoint(`` or ``StorageLevel``, each with the
#: reason it cannot go through ``release.materialize``.
MATERIALIZATION_ALLOW = {
    "sources/takeout.py": (
        "a LAZY DISK_ONLY persist of the raw corrupt-record scan, returned "
        "to the caller as the quarantine handle it unpersists after both "
        "splits are written — nothing is materialized here"
    ),
}


def test_eager_materialization_goes_through_release():
    """One storage policy: every eager persist/checkpoint under
    yark_spark/ is ``release.materialize``, so the materialization
    tokens appear only in operators/release.py and the allow-list."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "yark_spark"
    token = re.compile(r"\.persist\(|localCheckpoint\(|StorageLevel")
    found = {
        path.relative_to(root).as_posix()
        for path in root.rglob("*.py")
        if token.search(path.read_text())
    }
    assert found - {"operators/release.py"} == set(MATERIALIZATION_ALLOW), found
    assert all(reason.strip() for reason in MATERIALIZATION_ALLOW.values())


#: Every ``.cache()`` under yark_spark/ is LAZY — its first consumer's
#: own action fills it, so counting it eagerly would add a job. Per
#: file: how many, and why. An eager ``.cache()`` + ``count()`` belongs
#: in ``release.materialize`` instead, so a new ``.cache()`` must be
#: listed here.
LAZY_CACHES = {
    "operators/dedup.py": (1, "banded_pairs' bucket table, filled by the pair join"),
    "operators/graph.py": (
        3,
        "PPR's masked reset vector (filled by its weight-sum probe), the "
        "degree table (filled by the first iteration) and the between-"
        "checkpoint iterates (filled by the L1 probe)",
    ),
    "operators/lm.py": (2, "per-document bucket counts, filled by the first rollup"),
    "operators/unigram.py": (1, "the word table, filled by the seed pass"),
    "queries/round8b.py": (1, "the bigram counts, filled by the query's action"),
    "queries/round8c.py": (1, "the embedding table, filled by the query's action"),
}


def test_every_cache_call_is_a_listed_lazy_cache():
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "yark_spark"
    found = {}
    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        n = path.read_text().count(".cache()")
        if n and rel != "operators/release.py":
            found[rel] = n
    assert found == {k: n for k, (n, _) in LAZY_CACHES.items()}, found
    assert all(reason.strip() for _, reason in LAZY_CACHES.values())
