"""Round-8 third batch: market-basket mining, dedup-quality evaluation,
and irregular-time-series analytics — each oracle-checked against DuckDB.

Reference parity note: the reference archiver has no analytics surface
(/root/reference/cmds/archive.py is fetch/store only); these extend the
driver-mandated inventory of SURVEY.md §2.8.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from yark_spark.io import load_table
from yark_spark.operators.release import materialize, track
from yark_spark.registry import query

# ---------------------------------------------------------------------------
# Association rules (2-itemset support / confidence / lift)
# ---------------------------------------------------------------------------

_RULE_MIN_SUPPORT = 2

_COPURCHASE_ORACLE = (
    "WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), "
    "n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM b), "
    "pc AS (SELECT p, count(*) AS c FROM b GROUP BY p), "
    "pairs AS (SELECT a.p AS pa, b2.p AS pb, count(*) AS c_ab "
    "FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p GROUP BY a.p, b2.p), "
    f"freq AS (SELECT * FROM pairs WHERE c_ab >= {_RULE_MIN_SUPPORT}), "
    "directed AS (SELECT pa AS antecedent, pb AS consequent, c_ab FROM freq "
    "UNION ALL SELECT pb, pa, c_ab FROM freq) "
    "SELECT d.antecedent, d.consequent, CAST(d.c_ab AS BIGINT) AS support, "
    "round(d.c_ab * 1.0 / ca.c, 6) AS confidence, "
    "round(d.c_ab * 1.0 * n.n_orders / (ca.c * 1.0 * cb.c), 6) AS lift "
    "FROM directed d "
    "JOIN pc ca ON ca.p = d.antecedent "
    "JOIN pc cb ON cb.p = d.consequent "
    "CROSS JOIN n"
)


@query("q_copurchase_rules", oracle=_COPURCHASE_ORACLE)
def q_copurchase_rules(spark, sf_dir):
    """Association-rule mining, 2-itemset stage (the Apriori/FP-growth
    workhorse): directed part→part rules from order baskets with support,
    confidence = P(b|a), and lift = P(b|a)/P(b). The recommendation /
    "frequently bought together" op.

    Plan: baskets reduce to DISTINCT (order, part) first; the pair
    generator is a SELF-EQUI-JOIN on the order key, so work is
    Σ_o |basket|² — linear in orders because basket size is bounded by the
    schema (TPC-H ≤ 7 lines), never a part×part cartesian. Pair counts
    partial-aggregate before the support filter; per-part counts and the
    order total are small rollups broadcast back. At 100 TB a hot order
    (giant basket) is the skew risk — capped/salted exactly like the
    hot-bucket cap in the MinHash pair join (operators/dedup.py).

    Round 9: thin wrapper over ``operators/retrieval.association_rules``
    (the body promoted to an operator with ``min_support`` as a
    parameter — VERDICT r8 next-round #8; a second-threshold unit test
    lives in tests/test_dedup_operators.py)."""
    from yark_spark.operators.retrieval import association_rules

    li = load_table(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_support=_RULE_MIN_SUPPORT
    )


# ---------------------------------------------------------------------------
# MinHash estimator quality (precision / recall vs exact Jaccard)
# ---------------------------------------------------------------------------

_PR_TAU = 0.5

_MINHASH_PR_ORACLE = (
    # exact Jaccard and the 4-hash MinHash estimate over the same bounded
    # slice and the same md5 hash family as q_minhash_signature /
    # q_minhash_estimate / q_jaccard_pairs
    "WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok "
    "FROM documents WHERE doc_id < 20), "
    "sig AS (SELECT doc_id, min(md5('0' || tok)) AS h0, min(md5('1' || tok)) AS h1, "
    "min(md5('2' || tok)) AS h2, min(md5('3' || tok)) AS h3 FROM tok GROUP BY doc_id), "
    "est AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "((a.h0 = b.h0)::INT + (a.h1 = b.h1)::INT + (a.h2 = b.h2)::INT "
    "+ (a.h3 = b.h3)::INT) / 4.0 AS je "
    "FROM sig a JOIN sig b ON a.doc_id < b.doc_id), "
    "ts AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS s "
    "FROM documents WHERE doc_id < 20), "
    "exact AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "len(list_intersect(a.s, b.s)) * 1.0 "
    "/ (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j "
    "FROM ts a JOIN ts b ON a.doc_id < b.doc_id), "
    "conf AS (SELECT e.id_a, e.id_b, "
    f"(est.je >= {_PR_TAU}) AS pred, (e.j >= {_PR_TAU}) AS truth "
    "FROM exact e JOIN est ON est.id_a = e.id_a AND est.id_b = e.id_b) "
    "SELECT CAST(count(*) FILTER (pred AND truth) AS BIGINT) AS tp, "
    "CAST(count(*) FILTER (pred AND NOT truth) AS BIGINT) AS fp, "
    "CAST(count(*) FILTER (NOT pred AND truth) AS BIGINT) AS fn, "
    "CAST(count(*) FILTER (NOT pred AND NOT truth) AS BIGINT) AS tn "
    "FROM conf"
)


@query("q_minhash_pr", oracle=_MINHASH_PR_ORACLE)
def q_minhash_pr(spark, sf_dir):
    """Dedup-quality evaluation: the confusion matrix of the MinHash
    near-dup PREDICTOR (4-hash estimate ≥ τ) against exact Jaccard ≥ τ on
    a bounded doc slice — the validation pass a curation pipeline runs
    before trusting a sketch-based dedup at scale (pairs with more hashes
    → higher recall; this key pins the measurement itself).

    Reuses the exact md5 hash family of q_minhash_signature and the exact
    ground truth of q_jaccard_pairs; the threshold compare uses je ≥ 0.5
    on the k=4 estimate, whose values are exact multiples of 0.25 — no
    float boundary ambiguity. Both pair joins are on the bounded
    evaluation slice (id < 20), as any labeled-eval pass would be."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    toks = F.array_distinct(F.split(F.lower(F.col("text")), " "))

    def _md5_i(i):
        return lambda t: F.md5(F.concat(F.lit(str(i)), t))

    sig = docs.select(
        "doc_id",
        toks.alias("s"),
        *[F.array_min(F.transform(toks, _md5_i(i))).alias(f"h{i}") for i in range(4)],
    )
    a, b = sig.alias("a"), sig.alias("b")
    eq = sum((F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int") for i in range(4))
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        (eq / 4.0 >= F.lit(_PR_TAU)).alias("pred"),
        (inter * 1.0 / union >= F.lit(_PR_TAU)).alias("truth"),
    )
    return pairs.agg(
        F.count_if(F.col("pred") & F.col("truth")).alias("tp"),
        F.count_if(F.col("pred") & ~F.col("truth")).alias("fp"),
        F.count_if(~F.col("pred") & F.col("truth")).alias("fn"),
        F.count_if(~F.col("pred") & ~F.col("truth")).alias("tn"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (irregular series)
# ---------------------------------------------------------------------------

_TWA_ORACLE = (
    "WITH g AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us, "
    "lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS nxt FROM events) "
    "SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments, "
    "round(sum(value * (nxt - us)) / sum(nxt - us), 6) AS twa "
    "FROM g WHERE nxt IS NOT NULL GROUP BY user_id"
)


@query("q_time_weighted_avg", oracle=_TWA_ORACLE)
def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per user over an IRREGULARLY sampled series —
    each reading is held until the next one (step interpolation), so the
    mean weights each value by how long it was in force instead of
    over-counting burst periods: the correct aggregate for sensor /
    billing / utilization data, where the plain avg() is simply wrong.

    One per-user window (lead) for segment durations in exact integer
    microseconds + one partial-agg groupBy — both shuffles key on
    user_id. Weighted sums accumulate value·μs products; only the final
    ratio is rounded."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id",
        "value",
        us.alias("us"),
        F.lead(us).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.round(
            F.sum(F.col("value") * (F.col("nxt") - F.col("us")))
            / F.sum(F.col("nxt") - F.col("us")),
            6,
        ).alias("twa"),
    )


# ---------------------------------------------------------------------------
# Embedding covariance matrix (exact integer accumulation)
# ---------------------------------------------------------------------------

_COV_ORACLE = (
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
    "sums AS (SELECT i, sum(CAST(floor(e[i] * 1000000000 + 0.5) AS BIGINT)) AS s_nanos "
    "FROM e, generate_series(1, 64) g(i) GROUP BY i), "
    "prods AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n, "
    "sum(CAST(floor(e[i] * e[j] * 1000000000000 + 0.5) AS BIGINT)) AS spp "
    "FROM e, generate_series(1, 64) g1(i), generate_series(1, 64) g2(j) "
    "WHERE i <= j GROUP BY i, j) "
    "SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j, "
    "round((p.spp / 1e12 - (si.s_nanos / 1e9) * (sj.s_nanos / 1e9) / p.n) "
    "/ (p.n - 1), 6) + 0.0 AS cov "
    "FROM prods p JOIN sums si ON si.i = p.i JOIN sums sj ON sj.i = p.j"
)


@query("q_embedding_covariance", oracle=_COV_ORACLE)
def q_embedding_covariance(spark, sf_dir):
    """Upper-triangular sample covariance matrix of the embedding column —
    the input to PCA whitening / decorrelation (operators/pca eigen-solves
    the 64×64 result driver-side, where it is trivially small). Detects
    redundant/collapsed subspaces before ANN indexing.

    Plan: each vector emits its 64·65/2 upper-triangle products map-side
    (one nested transform, one explode) into a partial agg keyed by
    (i, j) — shuffle width = dim², independent of corpus size; per-dim
    sums are a 64-row rollup joined back broadcast. Cross-engine
    exactness: per-element terms are quantized to integer picos/nanos
    (floor(v·1eK + 0.5)) and summed as BIGINTs — decimal rounding of
    float SUMS diverges between engines, integer sums cannot; the 1e-12
    per-term quantization is 6 orders below the reported 6dp. Overflow
    headroom: |term| ≤ 1e12, so ~9e6 rows per (i,j) fit in int64 —
    a 100 TB run would drop to 1e9 quantization or Welford partials."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ed = emb.select(e.alias("e"))
    ed = track(ed.cache())  # released by harnesses via release_tracked()
    idx = F.sequence(F.lit(0), F.lit(63))
    sums = (
        ed.select(F.posexplode("e").alias("i0", "x"))
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(
            F.sum(F.floor(F.col("x") * F.lit(1e9) + F.lit(0.5)).cast("bigint")).alias(
                "s_nanos"
            )
        )
    )
    tri = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, F.lit(63)),
                lambda j: F.struct(
                    (i + 1).alias("i"),
                    (j + 1).alias("j"),
                    F.floor(
                        F.element_at(F.col("e"), i + 1)
                        * F.element_at(F.col("e"), j + 1)
                        * F.lit(1e12)
                        + F.lit(0.5)
                    )
                    .cast("bigint")
                    .alias("pp"),
                ),
            ),
        )
    )
    prods = (
        ed.select(F.explode(tri).alias("t"))
        .select("t.i", "t.j", "t.pp")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("pp").alias("spp"))
    )
    si = sums.select(F.col("i").alias("i"), F.col("s_nanos").alias("s_i"))
    sj = sums.select(F.col("i").alias("j"), F.col("s_nanos").alias("s_j"))
    return (
        prods.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            # + 0.0 folds IEEE −0.0 to +0.0 (a rounded tiny negative cov
            # can land on −0.0 in one engine and +0.0 in the other)
            (
                F.round(
                    (
                        F.col("spp") / F.lit(1e12)
                        - (F.col("s_i") / F.lit(1e9))
                        * (F.col("s_j") / F.lit(1e9))
                        / F.col("n")
                    )
                    / (F.col("n") - 1),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov (distributed exact form)
# ---------------------------------------------------------------------------

_KS_ORACLE = (
    "WITH s AS (SELECT value, sum((event_type = 'click')::INT) AS c1, "
    "sum((event_type = 'view')::INT) AS c2 "
    "FROM events WHERE event_type IN ('click', 'view') GROUP BY value), "
    "t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM s), "
    "c AS (SELECT value, sum(c1) OVER (ORDER BY value) AS cum1, "
    "sum(c2) OVER (ORDER BY value) AS cum2 FROM s) "
    "SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, "
    "CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num, "
    "round(max(abs(cum1 * n2 - cum2 * n1)) * 1.0 / (n1 * n2), 6) AS d_stat "
    "FROM c, t GROUP BY n1, n2"
)


@query("q_ks_test", oracle=_KS_ORACLE)
def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two event populations — the distribution-drift gate
    a data pipeline runs between ingest batches (D = max |F̂₁ − F̂₂|).

    Distributed EXACT form, no single-task global window: per-value
    counts reduce first (parallel partial agg), then the global running
    sums over the value order use the two-phase range-partitioned prefix
    sum of ``operators/packing.partitioned_cumsum`` (the round-2 fix) —
    every stage is parallel. The ECDF comparison is kept in INTEGERS
    (|cum1·n2 − cum2·n1|, max, divide once at the end) so no float
    boundary can flip the argmax between engines."""
    from yark_spark.operators.packing import partitioned_cumsum

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = ev.groupBy("value").agg(
        F.count_if(F.col("event_type") == "click").alias("c1"),
        F.count_if(F.col("event_type") == "view").alias("c2"),
    )
    # materialize once (cumsum evaluates its subtree twice); released by
    # harnesses via release_tracked()
    s, m = materialize(s)
    track(s)
    n_vals = m["count"]
    totals = s.agg(
        F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2")
    )
    from yark_spark.operators.packing import partitioned_cumsum_multi, sized_partitions

    # width clamp + ONE shared range shuffle/checkpoint for both running
    # sums (round 10): the two ECDFs share the value order
    c = partitioned_cumsum_multi(
        s, ["value"], ["c1", "c2"], ["cum1", "cum2"], sized_partitions(spark, n_vals)
    )
    return (
        c.crossJoin(F.broadcast(totals))
        .select(
            "n1",
            "n2",
            # decimal(38,0) headroom (ADVICE r8): the cross products cum·n
            # overflow int64 once n1·n2 > ~9.2e18 (samples of ~3e9 rows each,
            # reachable at the 100 TB envelope); DuckDB promotes to int128 so
            # the oracle would silently diverge. 38 digits covers n ~ 1e19.
            F.abs(
                F.col("cum1").cast("decimal(38,0)") * F.col("n2")
                - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
            ).alias("d"),
        )
        .groupBy("n1", "n2")
        .agg(
            F.max("d").cast("bigint").alias("d_num"),
            # n1*1.0*n2 keeps the denominator in double — a bigint product
            # would hit the same ~9.2e18 ceiling the numerator just escaped
            F.round(F.max("d") / (F.col("n1") * 1.0 * F.col("n2")), 6).alias(
                "d_stat"
            ),
        )
        .select("n1", "n2", "d_num", "d_stat")
    )


# ---------------------------------------------------------------------------
# Gini coefficient (corpus-length inequality)
# ---------------------------------------------------------------------------

_GINI_ORACLE = (
    "WITH r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rk "
    "FROM documents), "
    "t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(n_chars) AS sx, "
    "sum(rk * n_chars) AS srx FROM r) "
    "SELECT n, CAST(sx AS BIGINT) AS total_chars, "
    "round((2.0 * srx) / (n * 1.0 * sx) - (n + 1.0) / n, 6) AS gini FROM t"
)


@query("q_gini", oracle=_GINI_ORACLE)
def q_gini(spark, sf_dir):
    """Gini coefficient of the document-length distribution — the
    inequality summary of a data-mix audit (0 = uniform corpus, →1 = a
    few giant documents hold all the mass), computed from the rank form
    G = 2·Σ rᵢxᵢ / (n·Σxᵢ) − (n+1)/n.

    Global ranks come from ``operators/packing.global_row_number`` (the
    two-phase range-partitioned prefix counter — no single-task window);
    every accumulator (Σx, Σ r·x) is INTEGER, so both engines agree
    exactly and only the final ratio is rounded."""
    from yark_spark.operators.packing import global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = global_row_number(docs, ["n_chars", "doc_id"], "rk")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(
            # decimal(38,0) headroom (ADVICE r8): Σ rk·n_chars overflows
            # int64 around 1e9 docs (rk ~1e9 × n_chars ~1e4 summed); DuckDB
            # runs the sum in int128, so the engines would silently diverge
            # right where the 100 TB envelope starts. Only the final ratio
            # drops to double.
            (2.0 * F.sum(F.col("rk").cast("decimal(38,0)") * F.col("n_chars")))
            / (F.count(F.lit(1)) * 1.0 * F.sum("n_chars"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Exact global median (distributed selection, no per-group collect)
# ---------------------------------------------------------------------------

_GLOBAL_MEDIAN_ORACLE = (
    "SELECT CAST(count(*) AS BIGINT) AS n, "
    "round(median(l_extendedprice), 4) AS median_price FROM lineitem"
)


@query("q_exact_median_global", oracle=_GLOBAL_MEDIAN_ORACLE)
def q_exact_median_global(spark, sf_dir):
    """EXACT median of a whole fact column by distributed selection — the
    100 TB form: Spark's builtin ``median``/``percentile`` buffers each
    group's values in one aggregator (fine per small group, q_median_by_group;
    fatal for one global group over a fact table). Here: per-value counts
    partial-aggregate (value cardinality ≤ data size), the two-phase
    range-partitioned prefix sum of ``operators/packing`` turns them into
    exact global positions, and the median is the min value whose running
    count reaches each middle position — interpolating the two middles for
    even n, matching the engines' interpolated median definition. Every
    stage is parallel; nothing ever holds the column in one task."""
    from yark_spark.operators.packing import partitioned_cumsum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    counts = li.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    # the count sizes the shuffle; released by harnesses via release_tracked()
    counts, m = materialize(counts)
    track(counts)
    n_vals = m["count"]
    n = counts.agg(F.sum("c").cast("bigint").alias("n"))
    from yark_spark.operators.packing import sized_partitions

    cum = partitioned_cumsum(
        counts, ["v"], "c", "cum", sized_partitions(spark, n_vals)
    )
    with_n = cum.crossJoin(F.broadcast(n))
    k1 = (F.col("n") + 1) / 2  # lower middle (1-based)
    k2 = (F.col("n") + 2) / 2  # upper middle
    lo = with_n.filter(F.col("cum") >= F.floor(k1)).agg(F.min("v").alias("lo"))
    hi = with_n.filter(F.col("cum") >= F.floor(k2)).agg(F.min("v").alias("hi"))
    return (
        n.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n",
            F.round((F.col("lo") + F.col("hi")) / 2.0, 4).alias("median_price"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf slope of the token rank–frequency curve
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = (
    "WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents), "
    "c AS (SELECT t, count(*) AS n FROM tok GROUP BY t), "
    "r AS (SELECT n, row_number() OVER (ORDER BY n DESC, t) AS rk FROM c) "
    "SELECT CAST(count(*) AS BIGINT) AS vocab, "
    "round(regr_slope(ln(n), ln(rk)), 4) AS zipf_slope, "
    "round(regr_r2(ln(n), ln(rk)), 6) AS r2 FROM r"
)


@query("q_zipf_slope", oracle=_ZIPF_ORACLE)
def q_zipf_slope(spark, sf_dir):
    """Zipf fit of the corpus token distribution: OLS slope of
    ln(freq) ~ ln(rank) — natural text sits near −1; a synthetic or
    template-heavy corpus (like this fixture's ~31-token vocabulary)
    shows up immediately as a flat slope with low R². The linguistic
    sanity gauge of a corpus audit.

    Token counts reduce map-side to the vocabulary (the only shuffle that
    scales with data); ranks over the count table use the distributed
    prefix counter (``global_row_number`` on (−n, token) — no single-task
    window even if the vocabulary is large); the regression is one
    partial-agg fold."""
    from yark_spark.operators.packing import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("neg_n", -F.col("n"))
    )
    ranked = global_row_number(c, ["neg_n", "t"], "rk")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.round(F.regr_slope(F.log("n"), F.log("rk")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("n"), F.log("rk")), 6).alias("r2"),
    )
