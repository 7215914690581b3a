"""End-to-end corpus curation (operators/curate): stage invariants over
the fixture corpus."""

import pytest
from pyspark.sql import functions as F

from yark_spark.functions.text import fingerprint
from yark_spark.io import load_table
from yark_spark.operators.curate import CurationConfig, curate

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def curated(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    bench = docs.filter(F.col("doc_id") < 5).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") >= 5)
    out, report = curate(corpus, benchmark=bench, config=CurationConfig())
    out = out.persist()
    out.count()
    return corpus, out, report


def test_stage_counts_monotone(curated):
    corpus, out, report = curated
    c = report.counts
    assert (
        c["input"]
        >= c["after_exact_dedup"]
        >= c["after_fuzzy_dedup"]
        >= c["after_decontamination"]
        >= c["after_quality_filters"]
        == c["output"]
    )
    assert c["output"] == out.count()
    assert c["output"] > 0


def test_no_duplicate_fingerprints_survive(curated):
    _, out, _ = curated
    fps = out.select(fingerprint(F.col("text")).alias("fp"))
    assert fps.count() == fps.distinct().count()


def test_quality_and_repetition_bounds(curated):
    _, out, _ = curated
    cfg = CurationConfig()
    bad = out.filter(
        (F.col("quality") < cfg.min_quality) | (F.col("rep_ratio") > cfg.max_repetition)
    )
    assert bad.count() == 0


def test_pack_bins_start_at_zero_and_are_monotone(curated):
    _, out, _ = curated
    bins = out.orderBy("doc_id").select("pack_bin").toPandas()["pack_bin"]
    assert bins.iloc[0] == 0
    assert (bins.diff().dropna() >= 0).all()


def test_deterministic(spark, curated):
    corpus, out, _ = curated
    bench = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 5)
    again, _ = curate(corpus, benchmark=bench.select("doc_id", "text"), config=CurationConfig())
    a = sorted(map(tuple, out.select("doc_id", "pack_bin").collect()))
    b = sorted(map(tuple, again.select("doc_id", "pack_bin").collect()))
    assert a == b


def test_distributed_routes_give_same_rows_and_counts(spark, curated, monkeypatch):
    """With the driver-local cap forced below every size, the cluster
    stage runs the Boruvka contraction and the pack offsets run
    partitioned_cumsum: rows and report counts match the default run."""
    from yark_spark.operators import packing

    corpus, out, report = curated
    monkeypatch.setattr(packing, "LOCAL_MAX_ROWS", -1)
    bench = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 5)
    again, rep = curate(corpus, benchmark=bench.select("doc_id", "text"), config=CurationConfig())
    cols = ["doc_id", "quality", "rep_ratio", "pack_bin"]
    a = sorted(map(tuple, out.select(*cols).collect()))
    b = sorted(map(tuple, again.select(*cols).collect()))
    rep.unpersist()
    assert a == b
    assert rep.counts == report.counts


def test_curate_pipeline_job_count(spark, sf_dir, count_jobs):
    """Pin q_curate_pipeline's job count: it was 84 at this scale before
    the driver-local cluster and prefix-sum routes, 31 after."""
    from yark_spark.operators.release import release_tracked
    from yark_spark.queries import QUERIES

    rows, jobs = count_jobs(
        "test_curate_pipeline_job_count",
        lambda: QUERIES["q_curate_pipeline"](spark, sf_dir).collect(),
    )
    release_tracked()
    assert rows
    assert jobs <= 31, jobs


def test_substring_filter_stage_drops_heavy_duplication(spark):
    """Optional stage 3.5 (round 7): with max_dup_span_frac set, a doc
    whose text is one long shared substring is dropped while distinct
    docs survive; the stage count lands between fuzzy dedup and quality
    filters. Off by default (the module-scoped fixture's report has no
    after_substring_filter key)."""
    shared = " ".join(f"tok{i}" for i in range(30))
    uniq = [
        (100 + i, " ".join(f"doc{100 + i}w{j}" for j in range(30)), "en")
        for i in range(6)
    ]
    rows = [(1, shared + " tailA one two three", "en"),
            (2, shared + " tailB four five six", "en")] + uniq
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    cfg = CurationConfig(max_dup_span_frac=0.5, fuzzy_threshold=0.95)
    out, report = curate(docs, benchmark=None, config=cfg)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    report.unpersist()
    assert "after_substring_filter" in report.counts
    assert report.counts["after_substring_filter"] <= report.counts["after_fuzzy_dedup"]
    # docs 1 and 2 share a 30-token run >> 50% of their 34 tokens -> dropped
    assert kept.isdisjoint({1, 2})
    assert {100, 101, 102, 103, 104, 105}.issubset(kept)


def test_length_band_stage_trims_extremes(spark):
    """Optional stage 3.6 (round 7): with length_band set, corpus-level
    length outliers drop between fuzzy dedup and the quality filters."""
    mid = [(i, " ".join(f"w{i}x{j}" for j in range(20)), "en") for i in range(20)]
    rows = [(100, "tiny", "en"),
            (101, " ".join(f"huge{j}" for j in range(400)), "en")] + mid
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    cfg = CurationConfig(length_band=(0.1, 0.9), fuzzy_threshold=0.99)
    out, report = curate(docs, benchmark=None, config=cfg)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    report.unpersist()
    assert "after_length_trim" in report.counts
    assert 100 not in kept and 101 not in kept
    assert len(kept & {i for i, _, _ in mid}) >= 15


# ---------------------------------------------------------------------------
# Round 12: optional image near-dup stage
# ---------------------------------------------------------------------------


def _phash_docs(spark):
    """12 docs with distinct texts; planted pHash families of 3 (base
    hash per family, members within 2 bits)."""
    # pi-digit constants: pairwise Hamming ~32, far above the threshold
    bases = [0x243F6A8885A308D3, 0x13198A2E03707344, 0x2409382229953100, 0x452821E638D01377]
    rows = []
    for i in range(12):
        ph = bases[i // 3] ^ (i % 3)  # flips bits 0/1 only -> hamming <= 2
        if ph >= 1 << 63:
            ph -= 1 << 64
        # token-disjoint texts so the TEXT fuzzy dedup never merges them
        text = " ".join(f"tok{i}x{j}" for j in range(8))
        rows.append((i, text, ph))
    return spark.createDataFrame(rows, "doc_id long, text string, phash_i64 long")


def test_curate_image_neardup_stage(spark):
    docs = _phash_docs(spark)
    out, report = curate(
        docs, config=CurationConfig(image_phash_col="phash_i64", min_quality=0.0)
    )
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    report.unpersist()
    # one representative (min id) per planted family of 3
    assert kept == [0, 3, 6, 9]
    assert report.counts["after_image_neardup"] == 4


def test_curate_image_stage_off_is_byte_identical(spark):
    docs = _phash_docs(spark)
    base_cfg = CurationConfig(min_quality=0.0)
    out_a, rep_a = curate(docs.drop("phash_i64"), config=base_cfg)
    out_b, rep_b = curate(docs, config=base_cfg)  # column present, knob off
    rows_a = sorted(map(tuple, out_a.drop("phash_i64").collect()))
    rows_b = sorted(map(tuple, out_b.drop("phash_i64").collect()))
    rep_a.unpersist()
    rep_b.unpersist()
    assert rows_a == rows_b
    assert "after_image_neardup" not in rep_a.counts
