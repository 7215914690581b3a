"""Round-10 operator batch (VERDICT r9 next-round list): personalized
PageRank gains a DuckDB-oracle key (item #6) — the bounded-iteration twin
of ``operators/graph.personalized_pagerank`` with the reset distribution
unrolled into the CTE, the same pattern as round 8's ``_pagerank_oracle``
— and lossless WebP (VP8L) pixel decode gains a constructed-exact oracle
key (item #3) over the pure-Python codec in ``operators/webp``. The
batch also widens §2.8 with four oracle-checked product-analytics keys:
cohort retention, the event-type Markov transition matrix, RFM quintile
scoring, and sequential path mining.

Reference parity note: the reference archiver (/root/reference) has no
graph surface (SURVEY.md §2.8 training-data inventory); the WebP decode
covers the thumbnail format the reference stores opaquely
(cmds/archive.py:88-91).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yark_spark.io import load_table
from yark_spark.registry import query

# ---------------------------------------------------------------------------
# Personalized PageRank (seed-biased teleport) — fixed-iteration twin
# ---------------------------------------------------------------------------


def _ppr_oracle(iters: int = 3, damp: float = 0.85) -> str:
    """Unrolled personalized power iteration over the undirected
    customer–part purchase graph; teleport (and dangling, identically
    zero here — both edge directions are emitted) mass lands on the
    normalized reset distribution: BUILDING-segment customers, weight 1.
    Seeds absent from the graph contribute nothing (the Spark side
    normalizes over graph nodes only — the LEFT JOIN from n reproduces
    that), and non-seed nodes start at pr=0."""
    edges = (
        "SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src, "
        "'p' || CAST(l_partkey AS VARCHAR) AS dst "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
    )
    cte = (
        f"WITH und AS ({edges}), "
        "e AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und), "
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src), "
        "n AS (SELECT DISTINCT src AS node FROM e), "
        "seed AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node, 1.0 AS rw "
        "FROM customer WHERE c_mktsegment = 'BUILDING'), "
        "g AS (SELECT n.node, coalesce(seed.rw, 0.0) AS rw "
        "FROM n LEFT JOIN seed ON seed.node = n.node), "
        "w AS (SELECT node, rw / (SELECT sum(rw) FROM g) AS w FROM g), "
        "p0 AS (SELECT node, w AS pr FROM w)"
    )
    for i in range(1, iters + 1):
        cte += (
            f", p{i} AS (SELECT w.node, (1 - {damp}) * w.w + {damp} * "
            f"coalesce(sum(p.pr / deg.d), 0) AS pr "
            f"FROM w "
            f"LEFT JOIN e ON e.dst = w.node "
            f"LEFT JOIN p{i - 1} p ON p.node = e.src "
            f"LEFT JOIN deg ON deg.src = e.src "
            f"GROUP BY w.node, w.w)"
        )
    return cte + f" SELECT node, round(pr, 8) AS ppr FROM p{iters}"


@query("q_pagerank_personalized", oracle=_ppr_oracle())
def q_pagerank_personalized(spark, sf_dir):
    """Bounded-iteration personalized PageRank (damping 0.85, 3
    iterations) over the undirected customer–part purchase graph, with
    the teleport distribution concentrated on BUILDING-segment customers
    (weight 1 each, normalized over graph nodes) — "rank parts and
    customers by proximity to this market segment", the seed-biased
    variant of q_pagerank.

    Thin wrapper over ``operators/graph.personalized_pagerank`` at
    ``tol=0, max_iters=3`` (the fixed-iteration oracle-twin mode added
    this round). As in q_pagerank, the operator collects the edge list
    and the seeds and iterates on the driver in numpy at or under
    ``packing.LOCAL_MAX_ROWS`` edges, and runs the distributed loop
    above the cap; both routes and the convergence mode are pinned
    against a numpy reference in tests/test_graph.py. The DuckDB oracle
    unrolls the same three iterations with the reset distribution in the
    CTE.
    Both edge directions are emitted, so the dangling term is
    identically zero and the two engines agree without it."""
    from yark_spark.operators.graph import personalized_pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    und = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    e = und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node"),
        F.lit(1.0).alias("w"),
    )
    # both edge directions are emitted, so no node is a sink and the
    # dangling term is identically zero — elide its per-iteration
    # anti-join subtree (round 11; the oracle CTE has no dangling term
    # for the same reason)
    pr, _ = personalized_pagerank(
        e, seeds, damp=0.85, tol=0.0, max_iters=3, dangling=False
    )
    return pr.select("node", F.round("pr", 8).alias("ppr"))


# ---------------------------------------------------------------------------
# Lossless WebP (VP8L) pixel decode — the last decodable thumbnail format
# ---------------------------------------------------------------------------

_WEBP_ORACLE = (
    "WITH v AS (SELECT doc_id, "
    "ascii(substr(md5(text), 1, 1)) AS a, ascii(substr(md5(text), 2, 1)) AS b, "
    "ascii(substr(md5(text), 3, 1)) AS c, ascii(substr(md5(text), 4, 1)) AS d "
    "FROM documents WHERE doc_id < 100) "
    "SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height, "
    "CAST(4 AS INTEGER) AS channels, "
    "round((3 * (a + b + c + d) / 4.0 + 255) / 4.0, 6) AS mean_pixel FROM v"
)


@query("q_image_decode_webp", oracle=_WEBP_ORACLE)
def q_image_decode_webp(spark, sf_dir):
    """E4 lossless WebP (round 10, VERDICT r9 next-round #3): REAL VP8L
    decode — prefix-coded ARGB, LZ77 backward references, color cache,
    and the transform stack (operators/webp) — of payloads built by the
    in-repo VP8L encoder, hash-matched against an ANALYTIC oracle: the
    codec is lossless, so the decoded mean of the 16x16 quadrant-gray
    fixture (pixels (255, v, v, v) in RGBA) is exactly
    (3*(a+b+c+d)/4 + 255)/4 of the doc's first four md5-hex ascii
    codes — a value DuckDB computes without any image code. The full
    transform/cache/meta decoder surface is pinned by roundtrip tests in
    tests/test_webp.py; lossy VP8 remains a documented codec boundary
    (reference stores WebP thumbnails: cmds/archive.py:88-91)."""
    from yark_spark.operators.multimodal import decode_image_features, with_webp_payload

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return decode_image_features(
        with_webp_payload(docs, use_lz77=True, cache_bits=4, subtract_green=True)
    )


# ---------------------------------------------------------------------------
# Cohort retention (the classic signup-week x activity-week matrix)
# ---------------------------------------------------------------------------

_COHORT_ORACLE = (
    "WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw "
    "FROM events GROUP BY user_id), "
    "a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events), "
    "j AS (SELECT f.cw, CAST(datediff('day', f.cw, a.aw) / 7 AS INT) AS week_offset "
    "FROM a JOIN f ON a.user_id = f.user_id), "
    "act AS (SELECT cw, week_offset, CAST(count(*) AS BIGINT) AS n_active "
    "FROM j GROUP BY cw, week_offset), "
    "sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY cw) "
    "SELECT strftime(act.cw, '%Y-%m-%d') AS cohort_week, week_offset, n_active, "
    "cohort_size, round(n_active / cohort_size, 6) AS retention "
    "FROM act JOIN sz ON act.cw = sz.cw"
)


@query("q_cohort_retention", oracle=_COHORT_ORACLE)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by FIRST-activity week,
    tracked by distinct-active weeks at each offset — the product
    analytics staple. Plan: one per-user min aggregate (the cohort
    table, |users| rows), one distinct projection of (user, week), an
    equi-join on user_id, and a (cohort, offset) count — every shuffle
    keyed on user or the tiny matrix key; cohort sizes join broadcast.
    The (user, week) distinct bounds the join input at |users| x weeks
    regardless of per-user event volume."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cw"))
    a = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("aw")).distinct()
    j = a.join(f, "user_id").select(
        "cw", (F.datediff("aw", "cw") / 7).cast("int").alias("week_offset")
    )
    act = j.groupBy("cw", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )
    sz = f.groupBy("cw").agg(F.count(F.lit(1)).cast("bigint").alias("cohort_size"))
    return act.join(F.broadcast(sz), "cw").select(
        F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    )


# ---------------------------------------------------------------------------
# Event-type Markov transition matrix
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = (
    "WITH s AS (SELECT user_id, event_type, "
    "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt "
    "FROM events), "
    "c AS (SELECT event_type AS from_type, nxt AS to_type, "
    "CAST(count(*) AS BIGINT) AS n FROM s WHERE nxt IS NOT NULL "
    "GROUP BY event_type, nxt), "
    "m AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY from_type) "
    "SELECT c.from_type, c.to_type, c.n, round(c.n / m.tot, 6) AS p "
    "FROM c JOIN m ON c.from_type = m.from_type"
)


@query("q_markov_transitions", oracle=_MARKOV_ORACLE)
def q_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams
    (the behavioral-model / anomaly-baseline builder): successor pairs
    via a PER-USER lead window (partitioned — user cardinality scales,
    never one task), deterministic (ts, event_id) tie-break, then a
    (from, to) count with the per-from marginals joined broadcast (the
    matrix is |event_types|^2 — tiny at any corpus scale)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("nxt").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    m = c.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(m), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# RFM customer scoring (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------

_RFM_ORACLE = (
    "WITH g AS (SELECT max(o_orderdate) AS mx FROM orders), "
    "c AS (SELECT o_custkey AS custkey, "
    "CAST(datediff('day', max(o_orderdate), (SELECT mx FROM g)) AS INT) AS r_days, "
    "CAST(count(*) AS BIGINT) AS f, "
    "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m_cents "
    "FROM orders GROUP BY o_custkey) "
    "SELECT custkey, r_days, f, m_cents, "
    "CAST(ntile(5) OVER (ORDER BY r_days, custkey) AS INT) AS r_score, "
    "CAST(ntile(5) OVER (ORDER BY f, custkey) AS INT) AS f_score, "
    "CAST(ntile(5) OVER (ORDER BY m_cents, custkey) AS INT) AS m_score "
    "FROM c"
)


@query("q_rfm_scores", oracle=_RFM_ORACLE)
def q_rfm_scores(spark, sf_dir):
    """RFM segmentation: per-customer recency (days since last order,
    vs the global max date), frequency, and monetary value (integer
    CENTS — float sums diverge between engines in the last ulp; integer
    sums cannot), each quintile-scored. The three ntile assignments run
    over DISTRIBUTED global row numbers (operators/packing, range
    shuffle + map-side ntile arithmetic) with custkey tie-breaks —
    never an unpartitioned ntile() window funneling every customer
    through one task (VERDICT r2 "What's wrong" #2). Scores ascend with
    the metric (r_score 1 = most recent, f/m_score 5 = top buyers).
    The per-customer aggregate is cached and counted once so the three
    range shuffles size to the customer count, not the session conf
    (packing.sized_partitions)."""
    from yark_spark.operators.packing import (
        global_row_number,
        ntile_expr,
        sized_partitions,
    )
    from yark_spark.operators.release import materialize, track

    o = load_table(spark, sf_dir, "orders")
    g = o.agg(F.max("o_orderdate").alias("mx"))
    c = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_o"),
            F.count(F.lit(1)).cast("bigint").alias("f"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("m_cents"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            "custkey",
            F.datediff("mx", "last_o").cast("int").alias("r_days"),
            "f",
            "m_cents",
        )
    )
    c, m = materialize(c)
    track(c)
    n_cust = m["count"]
    p = sized_partitions(spark, n_cust)
    c = global_row_number(c, ["r_days", "custkey"], "__rr", p)
    c = global_row_number(c, ["f", "custkey"], "__rf", p)
    c = global_row_number(c, ["m_cents", "custkey"], "__rm", p)
    total = F.broadcast(c.agg(F.count(F.lit(1)).alias("__N")))
    return c.crossJoin(total).select(
        "custkey",
        "r_days",
        "f",
        "m_cents",
        ntile_expr(F.col("__rr"), F.col("__N"), 5).alias("r_score"),
        ntile_expr(F.col("__rf"), F.col("__N"), 5).alias("f_score"),
        ntile_expr(F.col("__rm"), F.col("__N"), 5).alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Sequential path mining (top event-type trigram paths)
# ---------------------------------------------------------------------------

_PATHS_ORACLE = (
    "WITH s AS (SELECT user_id, event_type, "
    "lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3 "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
    "SELECT event_type || '>' || e2 || '>' || e3 AS path, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM s WHERE e3 IS NOT NULL GROUP BY path "
    "ORDER BY n DESC, path LIMIT 20"
)


@query("q_event_paths", oracle=_PATHS_ORACLE)
def q_event_paths(spark, sf_dir):
    """Sequential path mining: the top-20 event-type TRIGRAM paths
    across all user streams — the "what do users do next" exploration
    behind funnel design (q_funnel_steps checks a chosen path; this
    discovers candidates). Two leads over a PER-USER window ((ts,
    event_id) tie-break — user cardinality scales, one task never sees
    more than one user's stream), a partial-agg path count (bounded by
    |event_types|^3), and a TakeOrderedAndProject top-20 with a path
    tie-break — no global sort."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        s.groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Graph degree distribution (the power-law profile)
# ---------------------------------------------------------------------------

_DEGREE_ORACLE = (
    "WITH und AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), "
    "deg AS (SELECT 'c' || CAST(c AS VARCHAR) AS node, count(*) AS d FROM und GROUP BY c "
    "UNION ALL SELECT 'p' || CAST(p AS VARCHAR), count(*) FROM und GROUP BY p) "
    "SELECT CAST(d AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes "
    "FROM deg GROUP BY d"
)


@query("q_degree_distribution", oracle=_DEGREE_ORACLE)
def q_degree_distribution(spark, sf_dir):
    """Degree distribution of the bipartite customer-part purchase graph
    — the first profiling pass before any graph algorithm (hub detection
    for the high-degree splits q_triangle_count documents, power-law
    sanity checks). Two per-side counts over ONE distinct edge
    projection, then a count-of-counts rollup: both shuffles key on the
    graph's own ids, the result is |distinct degrees| rows."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    und = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = und.groupBy("c").agg(F.count(F.lit(1)).alias("d")).select("d").unionAll(
        und.groupBy("p").agg(F.count(F.lit(1)).alias("d")).select("d")
    )
    return deg.groupBy(F.col("d").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# Activity seasonality (hour-of-day x day-of-week heat map + uniformity)
# ---------------------------------------------------------------------------

_SEASONALITY_ORACLE = (
    "WITH c AS (SELECT CAST(isodow(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hod, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY dow, hod), "
    "t AS (SELECT sum(n) AS tot, count(*) AS cells FROM c) "
    "SELECT dow, hod, n, round(n * cells / tot, 6) AS lift "
    "FROM c CROSS JOIN t"
)


@query("q_seasonality", oracle=_SEASONALITY_ORACLE)
def q_seasonality(spark, sf_dir):
    """Activity seasonality: the ISO-weekday x hour event heat map with
    each cell's lift over a uniform spread — the load-forecast /
    anomaly-baseline profile. One (dow, hod) partial-agg (at most 168
    cells regardless of corpus size) with the 1-row total broadcast
    back; lift = n * cells / total, exact in integers until the final
    division."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.dayofweek(F.date_sub(F.col("ts"), 1)).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = c.agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("cells")
    )
    return c.crossJoin(F.broadcast(t)).select(
        "dow",
        "hod",
        "n",
        F.round(F.col("n") * F.col("cells") / F.col("tot"), 6).alias("lift"),
    )
