"""BM25 keyword retrieval over a document corpus.

The training-data angle (BASELINE.json north-star): targeted corpus probes
("find the documents about X") and quality-weighted retrieval for
decontamination triage both reduce to BM25 ranking, and the statistics it
needs (document frequencies, document lengths, corpus averages) are the
same aggregates a curation pipeline already maintains.

100 TB design: the only full-corpus passes are (a) a map-only token/length
scan and (b) a tf aggregation that is FILTERED TO THE QUERY TERMS before
its shuffle, so shuffle volume is O(matching postings), not O(corpus
tokens). Document frequencies and the corpus stats are vocabulary-bounded
(|terms| rows and 1 row) and broadcast to the probe side; nothing is
collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yark_spark.operators.dedup import tokens
from yark_spark.operators.release import materialize, track


def rrf_fuse(
    rankers: "list[tuple[DataFrame, str]]",
    id_col: str = "doc_id",
    k: int = 60,
    top: int = 100,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of multiple rankers:
    each ranker contributes its top-``top`` candidates ranked
    (score desc, id asc — deterministic ties), and the fused score is
    Σ 1/(k + rank) over the rankers that surfaced the doc.

    100 TB design: the ONLY global ordering happens inside each ranker's
    top-``top`` — TakeOrderedAndProject (map-side k-reduction), after
    which the row_number window runs on ≤``top`` rows. Fusion is a chain
    of full-outer USING-joins over ≤ rankers×top rows — candidate-set
    bounded, never corpus-bounded.
    """
    from pyspark.sql import Window

    fused = None
    rank_cols = []
    for i, (df, score_col) in enumerate(rankers):
        w = Window.orderBy(F.desc(score_col), F.asc(id_col))
        ranked = (
            df.orderBy(F.desc(score_col), F.asc(id_col))
            .limit(top)
            .withColumn(f"_r{i}", F.row_number().over(w))
            .select(id_col, f"_r{i}")
        )
        rank_cols.append(f"_r{i}")
        fused = ranked if fused is None else fused.join(ranked, id_col, "full_outer")
    if fused is None:
        raise ValueError("rrf_fuse: no rankers given")
    score = None
    for c in rank_cols:
        term = F.coalesce(F.lit(1.0) / (F.lit(k) + F.col(c)), F.lit(0.0))
        score = term if score is None else score + term
    return fused.select(id_col, F.round(score, 6).alias("rrf"))


def bm25(
    docs: DataFrame,
    terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document containing ≥1 query term with Okapi BM25
    (Robertson/Spärck Jones; the Lucene-default ``ln(1 + (N-df+0.5)/
    (df+0.5))`` idf, which stays positive for high-df terms).

    Returns ``(id_col, bm25)`` rounded to 6 decimals, one row per
    matching document. Tokenization is the repo-wide parity tokenizer
    (``operators.dedup.tokens``).
    """
    toks = docs.select(F.col(id_col), tokens(docs, text_col).alias("toks"))
    lengths = toks.select(id_col, F.size("toks").alias("dl"))
    # One row: corpus size + average document length. Joined via broadcast.
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    tf = (
        toks.select(F.col(id_col), F.explode("toks").alias("tok"))
        # The term filter runs map-side, BEFORE the (doc, tok) shuffle:
        # at 100 TB the aggregated volume is the query terms' postings only.
        .filter(F.col("tok").isin(list(terms)))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # ≤ |terms| rows after the tf aggregation (tf has one row per (doc, tok)).
    df_counts = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_counts), "tok")
        .join(lengths, id_col)
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * norm), 6).alias("bm25"))
    )


def association_rules(
    baskets, basket_col: str, item_col: str, min_support: int = 2
):
    """2-itemset association rules as an OPERATOR (round 9, VERDICT r8
    next-round #8 — the q_copurchase_rules body promoted with
    ``min_support`` as a parameter): directed item→item rules from
    (basket, item) pairs with support (co-occurrence count),
    confidence = P(b|a) and lift = P(b|a)/P(b). Input rows are reduced
    to DISTINCT (basket, item) first.

    Plan shape: the pair generator is a SELF-EQUI-JOIN on the basket
    key, so work is Σ_b |basket|² — linear in baskets when basket size
    is bounded, never an item×item cartesian. Pair counts
    partial-aggregate BEFORE the support filter; per-item counts and
    the basket total are small rollups joined back; the scalar total
    broadcasts. Hot baskets (giant carts) are the skew risk — cap or
    salt like the MinHash hot-bucket cap (operators/dedup.py).

    The distinct basket set is cached for its three consumers (total,
    item counts, pair join) and RELEASED before return: the result is
    materialized eagerly (localCheckpoint, tracked by
    ``operators/release``) — legitimate because the support filter
    bounds the rule set. Round 10: the same partition-count hygiene as
    ``operators/graph`` — under a vanilla 200-partition session the five
    downstream shuffles ran 200 tiny tasks each at small SF; the
    shuffle width is clamped to the basket-set size for the duration
    of the build and restored on exit (a no-op at cluster scale)."""
    from pyspark.sql import functions as F

    from yark_spark.operators.conf import scoped_shuffle_partitions
    from yark_spark.operators.packing import sized_coalesce

    spark = baskets.sparkSession
    # the count materializes the cache AND sizes the build
    b, m = materialize(
        baskets.select(
            F.col(basket_col).alias("__o"), F.col(item_col).alias("__i")
        ).distinct()
    )
    view, p = sized_coalesce(b, m["count"], 2_000_000)
    # scoped clamp — single-threaded-session assumption documented in
    # operators/conf.py (ADVICE r10 low #1)
    with scoped_shuffle_partitions(spark, p):
        rules, _ = materialize(_rules_plan(view, min_support), checkpoint=True)
    b.unpersist()  # the rules checkpoint has cut its lineage to b
    return track(rules)


def _rules_plan(b, min_support: int):
    """The lazy rule-build plan over the materialized distinct basket
    set ``b`` — split out so the caller owns conf/materialization."""
    from pyspark.sql import functions as F

    n_baskets = b.agg(F.countDistinct("__o").cast("bigint").alias("__n"))
    pc = b.groupBy("__i").agg(F.count(F.lit(1)).alias("__c"))
    a, b2 = b.alias("a"), b.alias("b2")
    pairs = (
        a.join(b2, (F.col("a.__o") == F.col("b2.__o")) & (F.col("a.__i") < F.col("b2.__i")))
        .groupBy(F.col("a.__i").alias("__pa"), F.col("b2.__i").alias("__pb"))
        .agg(F.count(F.lit(1)).alias("__cab"))
        .filter(F.col("__cab") >= min_support)
    )
    directed = pairs.select(
        F.col("__pa").alias("antecedent"), F.col("__pb").alias("consequent"), "__cab"
    ).unionAll(
        pairs.select(
            F.col("__pb").alias("antecedent"), F.col("__pa").alias("consequent"), "__cab"
        )
    )
    ca = pc.select(F.col("__i").alias("antecedent"), F.col("__c").alias("__ca"))
    cb = pc.select(F.col("__i").alias("consequent"), F.col("__c").alias("__cb"))
    return (
        directed.join(ca, "antecedent")
        .join(cb, "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            F.col("__cab").cast("bigint").alias("support"),
            F.round(F.col("__cab") * 1.0 / F.col("__ca"), 6).alias("confidence"),
            F.round(
                F.col("__cab") * 1.0 * F.col("__n")
                / (F.col("__ca") * 1.0 * F.col("__cb")),
                6,
            ).alias("lift"),
        )
    )
