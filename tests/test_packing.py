"""Sequence-packing keys (queries/extras): bin-capacity invariants."""

from pyspark.sql import functions as F

from yark_spark.queries.extras import PACK_BUDGET, q_pack_greedy, q_pack_sequences

SF_DIR = "/root/testdata/sf0.001"


def test_greedy_bins_respect_budget(spark):
    out = q_pack_greedy(spark, SF_DIR).toPandas()
    sums = out.groupby(["lang", "bin"]).n_tokens.sum()
    counts = out.groupby(["lang", "bin"]).size()
    # a bin exceeds the budget only when it holds a single oversized doc
    for key, total in sums.items():
        assert total <= PACK_BUDGET or counts[key] == 1
    # bins are consecutive from 0 within each stratum
    for lang, grp in out.groupby("lang"):
        bins = sorted(grp["bin"].unique())
        assert bins == list(range(len(bins)))


def test_greedy_deterministic(spark):
    a = q_pack_greedy(spark, SF_DIR).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = q_pack_greedy(spark, SF_DIR).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_concat_packing_bins_monotone(spark):
    out = (
        q_pack_sequences(spark, SF_DIR)
        .orderBy("doc_id")
        .select("bin")
        .toPandas()["bin"]
    )
    assert (out.diff().dropna() >= 0).all()
    assert out.iloc[0] == 0


def test_partitioned_cumsum_matches_reference(spark):
    """The two-pass distributed prefix sum equals a driver-side cumsum for
    every partition count — including P > rows (empty partitions) and P=1."""
    import pandas as pd

    from yark_spark.operators.packing import partitioned_cumsum

    pdf = pd.DataFrame({"k": range(257), "v": [(i * 37) % 101 for i in range(257)]})
    expected = pdf.sort_values("k")["v"].cumsum().tolist()
    df = spark.createDataFrame(pdf)
    for n in (1, 7, 32, 400):
        got = (
            partitioned_cumsum(df, ["k"], "v", "cum", num_partitions=n)
            .orderBy("k")
            .select("cum")
            .toPandas()["cum"]
            .tolist()
        )
        assert got == expected, f"num_partitions={n}"


def test_partitioned_cumsum_negative_values(spark):
    """Partition offsets must be partition SUMS: with negative values the
    max of the running sum differs from the total, which corrupted every
    later partition's offset before the fix (VERDICT r5 What's-wrong #2)."""
    import pandas as pd

    from yark_spark.operators.packing import partitioned_cumsum

    vals = [((i * 53) % 61) - 30 for i in range(257)]  # mixed signs
    pdf = pd.DataFrame({"k": range(257), "v": vals})
    expected = pdf.sort_values("k")["v"].cumsum().tolist()
    df = spark.createDataFrame(pdf)
    for n in (1, 7, 32):
        got = (
            partitioned_cumsum(df, ["k"], "v", "cum", num_partitions=n)
            .orderBy("k")
            .select("cum")
            .toPandas()["cum"]
            .tolist()
        )
        assert got == expected, f"num_partitions={n}"


def test_local_cumsum_plan_is_range_partitioned_mapinpandas(spark):
    """ADVICE r8: the eager localCheckpoint in partitioned_cumsum truncates
    the lineage the plan tests used to pin, so the distributed shape must
    be asserted on the PRE-checkpoint subtree. _local_cumsum is exactly
    that subtree: RANGE partitioning on the order cols feeding a map-only
    MapInPandas — never a single-task unpartitioned window."""
    import pandas as pd

    from yark_spark.operators.packing import _local_cumsum
    from yark_spark.plans.explain import formatted_plan

    pdf = pd.DataFrame({"k": range(100), "v": [1] * 100})
    df = spark.createDataFrame(pdf)
    plan = formatted_plan(_local_cumsum(df, ["k"], "v", "cum", num_partitions=8))
    phys = plan.split("== Physical Plan ==")[1]
    assert "rangepartitioning" in phys.lower(), plan
    assert "MapInPandas" in phys, plan
    # no Window node touches the data rows in this subtree
    assert "Window" not in phys, plan


def test_release_cumsum_checkpoints_frees_tracked_blocks(spark):
    """partitioned_cumsum retains its checkpointed intermediate for the
    session, registered with operators.release; release_tracked() must
    free it exactly once (a second call frees nothing)."""
    import pandas as pd

    from yark_spark.operators import packing
    from yark_spark.operators.release import persisted_block_count, release_tracked

    release_tracked()  # clean slate from earlier tests
    before = persisted_block_count(spark)
    pdf = pd.DataFrame({"k": range(50), "v": [1] * 50})
    df = spark.createDataFrame(pdf)
    out = packing.partitioned_cumsum(df, ["k"], "v", "cum", num_partitions=4)
    out.count()  # materialize the consumer before releasing
    assert persisted_block_count(spark) >= before + 1
    assert release_tracked() >= 1
    assert persisted_block_count(spark) == before
    assert release_tracked() == 0
    assert persisted_block_count(spark) == before


def test_global_row_number_and_ntile_match_window(spark):
    """global_row_number + ntile_expr reproduce Spark's own row_number() and
    ntile() for several N (exercising uneven tile sizes)."""
    from pyspark.sql import Window

    from yark_spark.operators.packing import global_row_number, ntile_expr

    df = spark.range(103).select(
        F.col("id"), (F.col("id") * 31 % 47).alias("key")
    )
    w = Window.orderBy("key", "id")
    for n in (2, 4, 7):
        ref = df.select(
            "id", F.row_number().over(w).alias("rn"), F.ntile(n).over(w).alias("t")
        )
        got = global_row_number(df, ["key", "id"], "rn").crossJoin(
            F.broadcast(df.agg(F.count(F.lit(1)).alias("N")))
        ).select("id", "rn", ntile_expr(F.col("rn"), F.col("N"), n).alias("t"))
        mismatches = (
            ref.join(got, "id")
            .where((ref["rn"] != got["rn"]) | (ref["t"] != got["t"]))
            .count()
        )
        assert mismatches == 0, f"ntile n={n}"


def test_partitioned_cumsum_boundary_stability_many_partitions(spark):
    """Regression (round 8): repartitionByRange boundary sampling is not
    stable across separate evaluations of the same subtree, so the offset
    branch and the probe branch of partitioned_cumsum could disagree on
    which partition a boundary value lands in — observed as a constant
    jump in the running sum at a partition boundary at sf0.1. The
    localCheckpoint pin makes both consumers read one materialized
    partitioning; this forces MANY partitions over a small input (maximum
    boundary pressure) and checks the exact prefix sum, twice."""
    from pyspark.sql import functions as F

    from yark_spark.operators.packing import partitioned_cumsum

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    s = (
        ev.groupBy("value")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    s.count()
    out = partitioned_cumsum(s, ["value"], "c", "cum", num_partitions=50)
    for _ in range(2):  # determinism across re-executions too
        pdf = out.toPandas().sort_values("value").reset_index(drop=True)
        assert (pdf.cum.values == pdf.c.cumsum().values).all()
    s.unpersist()


def test_partitioned_cumsum_multi_matches_chained_single(spark):
    """Round 10: k running sums over one shared order must equal the
    chained single-column calls exactly, for every partitioning."""
    import random

    from yark_spark.operators.packing import partitioned_cumsum, partitioned_cumsum_multi

    rng = random.Random(7)
    rows = [(i, rng.randint(-5, 9), rng.randint(0, 4)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v1 long, v2 long")
    for n in (1, 3, 8):
        a = partitioned_cumsum_multi(df, ["k"], ["v1", "v2"], ["c1", "c2"], n)
        b = partitioned_cumsum(df, ["k"], "v1", "c1", n)
        b = partitioned_cumsum(b, ["k"], "v2", "c2", n)
        got = {r["k"]: (r["c1"], r["c2"]) for r in a.collect()}
        exp = {r["k"]: (r["c1"], r["c2"]) for r in b.collect()}
        assert got == exp, n


def test_known_small_count_takes_window_route_with_same_sums(spark, count_jobs):
    """Given ``n_rows`` at or under LOCAL_MAX_ROWS, the running sums come
    from one lazy window over the narrow projection: the same values and
    columns as the distributed plan (mixed signs, two sums, a null key),
    every wide column kept, and no job until an action runs."""
    import random

    from yark_spark.operators.packing import partitioned_cumsum_multi

    rng = random.Random(11)
    ks = rng.sample(range(10_000), 400)
    rows = [(k, rng.randint(-5, 9), rng.randint(0, 4), f"doc {k}") for k in ks]
    rows.append((None, 3, 1, "no id"))
    df = spark.createDataFrame(rows, "k long, v1 long, v2 long, text string")
    dist = partitioned_cumsum_multi(df, ["k"], ["v1", "v2"], ["c1", "c2"], 4)
    small, jobs = count_jobs(
        "test_known_small_count_takes_window_route",
        lambda: partitioned_cumsum_multi(
            df, ["k"], ["v1", "v2"], ["c1", "c2"], n_rows=len(rows)
        ),
    )
    assert jobs == 0
    assert small.columns == dist.columns
    assert "Window" in small._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(map(tuple, small.collect()), key=repr) == sorted(
        map(tuple, dist.collect()), key=repr
    )


def test_shard_assignment_properties(spark):
    """Size-targeted binning (r11): shards are contiguous in order, and
    every shard except the last reaches the byte target before closing
    (overshoot bounded by one document)."""
    from pyspark.sql import functions as F

    from yark_spark.operators.packing import shard_assignment

    rows = [(i, 100 + (i * 37) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, doc_bytes long")
    out = shard_assignment(df, ["doc_id"], "doc_bytes", 1000).collect()
    by_id = sorted(out, key=lambda r: r.doc_id)
    # contiguity: shard ids are non-decreasing in doc order
    sids = [r.shard_id for r in by_id]
    assert sids == sorted(sids)
    # per-shard byte totals
    totals = {}
    for r in by_id:
        totals[r.shard_id] = totals.get(r.shard_id, 0) + r.doc_bytes
    last = max(totals)
    for sid, tot in totals.items():
        if sid != last:
            # a shard spans cum range [k*T, (k+1)*T): its total is T minus
            # the previous shard's overshoot plus its own — within one
            # max-size document of the target on both sides
            assert 1000 - 500 < tot < 1000 + 500
    # exact definition: shard = exclusive prefix bytes // target
    cum = 0
    for r in by_id:
        assert r.shard_id == cum // 1000
        cum += r.doc_bytes


def test_shard_assignment_bad_target(spark):
    import pytest

    from yark_spark.operators.packing import shard_assignment

    df = spark.createDataFrame([(1, 10)], "doc_id long, doc_bytes long")
    with pytest.raises(ValueError, match="target_bytes"):
        shard_assignment(df, ["doc_id"], "doc_bytes", 0)


def test_partitioned_cumsum_aqe_coalesce_preserves_adjacency(spark):
    """ADVICE r17 low #2: with no explicit width, the prefix-sum range
    shuffle is sized by AQE, and offset correctness additionally relies
    on CoalesceShufflePartitions merging only ADJACENT range partitions
    (a non-adjacent merge would interleave __pid order and break the
    monotone disjoint ranges the offset join assumes). Pin it: a small
    input under a deliberately huge session shuffle width (so AQE has
    many tiny partitions to coalesce) must still produce the exact
    single-partition cumsum."""
    from pyspark.sql import functions as F

    from yark_spark.operators.packing import partitioned_cumsum
    from yark_spark.operators.release import release_tracked

    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    try:
        df = spark.range(5000).select(
            F.col("id").alias("k"), (F.pmod(F.col("id") * 37, F.lit(101)) + 1).alias("v")
        )
        out = partitioned_cumsum(df, ["k"], "v", "cum")  # AQE sizes the shuffle
        got = [
            (r["k"], r["cum"]) for r in out.orderBy("k").collect()
        ]
        acc = 0
        want = []
        for k in range(5000):
            acc += (k * 37) % 101 + 1
            want.append((k, acc))
        assert got == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        release_tracked()
