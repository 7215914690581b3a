"""End-to-end corpus curation — the composed training-data pipeline
(BASELINE.json north-star): exact dedup → fuzzy dedup (MinHash LSH →
clusters → representatives) → benchmark decontamination → quality/language
filters → PII redaction → sequence packing, as ONE lazy DataFrame graph.

Composition is the point: every map-only stage (fingerprints, quality
features, redaction, gram building) fuses into the same scan under
whole-stage codegen; the only shuffles are the ones the algorithms
fundamentally need (content-hash dedup, LSH band join, cluster rounds,
packing window). A CurationReport carries per-stage row counts computed
from the same lazy graph. The stage counts ride actions the pipeline runs
anyway: each materialized frontier's count is its materializing action,
and ``after_decontamination`` is an ``Observation`` on the decontaminated
frame that the staged frontier's materialization fires.

Small stages run small. The cluster stage resolves its near-dup graph on
the driver when the pair count is at most ``packing.LOCAL_MAX_ROWS`` (see
``dedup.dedup_clusters``), and the pack offsets get the staged frontier's
known row count, with which ``packing.partitioned_cumsum`` picks its own
route (one running-sum window over the narrow id/token-count projection
at or under the cap, the range-partitioned prefix sum above it).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from yark_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    redact_pii,
    token_repetition_ratio,
)
from yark_spark.operators.decontaminate import decontaminate
from yark_spark.operators.dedup import (
    dedup_clusters,
    dedup_representatives,
    fuzzy_dedup_pairs,
)
from yark_spark.operators.conf import observation_get
from yark_spark.operators.packing import partitioned_cumsum
from yark_spark.operators.release import materialize, track


@dataclass
class CurationConfig:
    min_quality: float = 0.3
    max_repetition: float = 0.6
    languages: tuple[str, ...] = ()          # empty = keep all
    fuzzy_threshold: float = 0.8             # est. Jaccard to merge near-dups
    num_hashes: int = 16
    bands: int = 4
    max_bucket: int | None = 4096
    decontaminate_ngram: int = 5
    decontaminate_mode: str = "auto"         # broadcast | join | auto (by gram count)
    max_dup_span_frac: float | None = None   # None = substring filter off
    substring_k: int = 10                    # gram width for the span filter
    length_band: "tuple[float, float] | None" = None  # e.g. (0.05, 0.95); None = off
    pack_budget: int = 512
    # Image near-dup stage (round 12, VERDICT r11 next-round #6) — OFF by
    # default; set to the name of a signed-64 pHash column on the input
    # (image_phash_features(as_int=True) produces one) to drop perceptual
    # image duplicates after the text fuzzy dedup. Signature extraction
    # stays a separate map-only pass so curate itself never decodes pixels.
    image_phash_col: "str | None" = None
    image_max_hamming: int = 6
    image_bands: int = 4
    image_max_bucket: "int | None" = 4096


@dataclass
class CurationReport:
    counts: dict[str, int] = field(default_factory=dict)
    cached: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        """Release the frontiers curate() kept cached for the returned lazy
        graph — call once the curated DataFrame has been consumed."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def curate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    config: CurationConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, CurationReport]:
    """Run the full curation pipeline; returns (curated_df, report).

    ``benchmark`` (optional, id/text-shaped) drives decontamination: any
    doc sharing a word n-gram with it is dropped (shape auto-selected by
    benchmark gram count — see operators/decontaminate). The returned
    DataFrame has the surviving docs plus quality metadata and a
    ``pack_bin`` assignment; the report holds per-stage surviving-row
    counts. The heavy frontiers (exact-dedup output, fuzzy representatives)
    are persisted so stage counts and the returned graph share one
    computation; handles still cached on return ride in ``report.cached`` —
    call ``report.unpersist()`` after consuming the curated DataFrame.
    """
    cfg = config or CurationConfig()
    report = CurationReport()
    report.counts["input"] = docs.count()
    # Partition-count hygiene (round 11, VERDICT r10 next-round #2): the
    # pipeline's stage counts and iterative cluster rounds all execute
    # HERE, and under a vanilla 200-partition session each shuffle fanned
    # a few-hundred-row frontier into 200 near-empty tasks — the profile
    # showed the cluster stage alone at 6 s of q_curate_pipeline's
    # 17.8 s sf0.01 parity cost (not Python-worker spin-up as the r10
    # note guessed). Clamp the width to the counted input for the build;
    # no-op at cluster scale (never raises the conf), single-threaded-
    # session assumption documented in operators/conf.
    from yark_spark.operators.conf import scoped_shuffle_partitions
    from yark_spark.operators.packing import sized_partitions

    spark = docs.sparkSession
    with scoped_shuffle_partitions(
        spark, sized_partitions(spark, report.counts["input"])
    ):
        return _curate_impl(docs, benchmark, cfg, report, id_col, text_col)


def _curate_impl(
    docs: DataFrame,
    benchmark: "DataFrame | None",
    cfg: CurationConfig,
    report: CurationReport,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, CurationReport]:
    """Pipeline body of :func:`curate` — runs with the shuffle width
    clamped by the caller; every stage count (the materialization
    actions) executes inside that scope."""
    # 1. exact dedup on the normalized-content fingerprint (min-id keeps).
    # Persisted: three consumers (LSH signatures, cluster node set, the
    # representative join) plus the stage counts would otherwise recompute
    # the window per action.
    fp = docs.withColumn("__fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("__fp").orderBy(id_col)
    exact, m = materialize(
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )
    report.counts["after_exact_dedup"] = m["count"]

    # 2. fuzzy dedup: LSH candidate pairs → clusters → one representative.
    # The pair/cluster stages run on the exact-deduped set (smaller input,
    # and exact dupes would all be trivial pairs anyway).
    pairs = fuzzy_dedup_pairs(
        exact,
        id_col,
        text_col,
        num_hashes=cfg.num_hashes,
        bands=cfg.bands,
        threshold=cfg.fuzzy_threshold,
        max_bucket=cfg.max_bucket,
    )
    clusters = dedup_clusters(exact, pairs, id_col)
    fuzzy_frontier, m = materialize(dedup_representatives(exact, clusters, id_col))
    report.cached.append(fuzzy_frontier)  # caller releases via report.unpersist()
    track(fuzzy_frontier)  # ...or a harness via release_tracked()
    report.counts["after_fuzzy_dedup"] = m["count"]
    exact.unpersist()  # fuzzy frontier is materialized; downstream reads only it
    fuzzy = fuzzy_frontier

    # 2.5 optional image near-dup stage (round 12): perceptual-hash band
    # join + Hamming verify + connected components over a caller-provided
    # signed-64 pHash column, one representative per image family — the
    # text fuzzy-dedup composition applied to pixels. Off by default
    # (cfg.image_phash_col None leaves this code entirely untouched, so
    # the e2e output is byte-identical to pre-round-12 runs).
    if cfg.image_phash_col is not None:
        from yark_spark.operators.dedup import phash_neardup_clusters

        sig = fuzzy.select(
            F.col(id_col), F.col(cfg.image_phash_col).alias("phash_i64")
        )
        iclusters = phash_neardup_clusters(
            sig,
            id_col,
            "phash_i64",
            max_hamming=cfg.image_max_hamming,
            bands=cfg.image_bands,
            max_bucket=cfg.image_max_bucket,
        )
        fuzzy = dedup_representatives(fuzzy, iclusters, id_col)
        report.counts["after_image_neardup"] = fuzzy.count()

    # 3. decontamination: drop docs overlapping the benchmark gram set
    # (broadcast array_intersect for small benchmarks, gram anti-join for
    # large suites — see operators/decontaminate)
    # Counted by an Observation that the staged frontier's
    # materialization below fires (or any earlier action over it): a
    # count of its own would be one more job over the same rows.
    decon_obs = decontaminated = None
    if benchmark is not None:
        decontaminated = decontaminate(
            fuzzy,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            n=cfg.decontaminate_ngram,
            mode=cfg.decontaminate_mode,
        )
        decon_obs = Observation()
        fuzzy = decontaminated.observe(decon_obs, F.count(F.lit(1)).alias("n"))

    # 3.5 optional exact-substring span filter (Lee et al. 2022 shape):
    # drop docs whose duplicated-10-gram coverage exceeds the cap. Off by
    # default (adds one gram-keyed shuffle over the surviving frontier);
    # the span analysis itself is operators/substring. Semi-join keeps
    # the frontier's columns untouched.
    if cfg.max_dup_span_frac is not None:
        from yark_spark.operators.substring import duplicated_span_coverage

        cov = duplicated_span_coverage(
            fuzzy, id_col, text_col, k=cfg.substring_k, hash_fn="xxhash64"
        )
        fuzzy = fuzzy.join(
            cov.filter(F.col("dup_frac") <= cfg.max_dup_span_frac).select(id_col),
            id_col,
            "left_semi",
        )
        report.counts["after_substring_filter"] = fuzzy.count()

    # 3.6 optional per-corpus length-outlier trim (operators/timeseries
    # .percentile_trim): drop docs outside the exact interpolated token-
    # length band. Off by default for cross-round output stability.
    if cfg.length_band is not None:
        from yark_spark.operators.dedup import tokens as _tokens
        from yark_spark.operators.timeseries import percentile_trim

        lo, hi = cfg.length_band
        lengths = fuzzy.withColumn("__ntok_band", F.size(_tokens(fuzzy, text_col)))
        lengths = lengths.withColumn("__grp", F.lit(1))
        fuzzy = percentile_trim(lengths, "__grp", "__ntok_band", lo, hi).drop(
            "__ntok_band", "__grp"
        )
        report.counts["after_length_trim"] = fuzzy.count()

    # 4. quality / repetition / language filters (all map-only, one scan)
    scored = fuzzy.withColumn("quality", quality_score(F.col(text_col))).withColumn(
        "rep_ratio", token_repetition_ratio(F.col(text_col))
    )
    kept = scored.filter(
        (F.col("quality") >= cfg.min_quality) & (F.col("rep_ratio") <= cfg.max_repetition)
    )
    if cfg.languages:
        kept = kept.withColumn("lang_guess", lang_id(F.col(text_col))).filter(
            F.col("lang_guess").isin(*cfg.languages)
        )

    # 5. redact PII, then pack into training-sequence bins (id-ordered
    # concatenation layout). The running token count is
    # packing.partitioned_cumsum given the counted staged size: a
    # DISTRIBUTED prefix sum (range partition → per-partition cumsum →
    # broadcast offsets) above packing.LOCAL_MAX_ROWS rows, one narrow
    # running-sum window at or under it.
    # The staged frontier is persisted: partitioned_cumsum evaluates its
    # input twice (offsets pass + probe side), and without the cache that
    # re-runs the decontaminate→quality→redact subtree; the stage count
    # doubles as the materialization action.
    redacted = kept.withColumn(text_col, redact_pii(F.col(text_col)))
    n_tok = F.size(F.split(F.col(text_col), "[ \\t\\n\\x0B\\f\\r]+"))
    staged, m = materialize(redacted.withColumn("__ntok", n_tok))
    report.cached.append(staged)  # caller releases via report.unpersist()
    track(staged)  # ...or a harness via release_tracked()
    if decon_obs is not None:
        report.counts["after_decontamination"] = observation_get(
            decon_obs, fallback=lambda: {"n": decontaminated.count()}
        )["n"]
    report.counts["after_quality_filters"] = m["count"]
    curated = (
        partitioned_cumsum(staged, [id_col], "__ntok", "__cum", n_rows=m["count"])
        .withColumn(
            "pack_bin",
            F.floor(
                (F.col("__cum") - F.col("__ntok")) / F.lit(float(cfg.pack_budget))
            ).cast("long"),
        )
        .drop("__ntok", "__cum")
    )
    report.counts["output"] = report.counts["after_quality_filters"]
    return curated, report
