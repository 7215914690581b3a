"""Round-12 operator batch (VERDICT r11 next-round list): the image
modality becomes a first-class dedup citizen — pHash banded near-dup
resolution end-to-end (item #1: band equi-join over 16-bit hash slices,
``bit_count(xor)`` Hamming verify, connected-component keep-list), all
oracle-checked over INTEGER hash fixtures that both engines construct
from the same md5 arithmetic.

Reference parity note: the reference archiver stores thumbnail bytes
opaquely (/root/reference/cmds/archive.py:88-91) and has no dedup of
any kind; these keys extend the training-data-pipeline surface the
driver mandates (image near-dup = the SimHash plan applied to pixels).

Oracle design: the REAL pipeline hashes pixels (no SQL twin — that key
is the rows-only q_image_phash with its recompression contracts); the
oracle-checked keys here feed the band-join + Hamming + clustering
machinery PLANTED 64-bit hashes that Spark and DuckDB derive
identically: base = Σ ascii(md5(family)[i])·128^i (56 bits, always
non-negative, so unsigned shifts and integer division agree), family =
doc_id DIV 5, and a per-member xor mask touching bands 0–2 only (bits
{0, 20, 21, 40}) so every within-family pair differs by ≤ 4 bits,
shares band 3, and every cross-family pair is md5-far. The Spark side
runs the PRODUCTION operators on those hashes; DuckDB re-derives
pairs, clusters (recursive CTE), and the keep-list from scratch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yark_spark.io import load_table
from yark_spark.registry import query

# Per-member xor masks: r = doc_id % 5 → flip the first r bits of the
# ordered set {2^0, 2^20, 2^40, 2^21}. Nested, so hamming(r1, r2) =
# |r1 - r2| ≤ 4 ≤ max_hamming; bits live in bands 0/1/2 only, so band 3
# is identical across a family and pigeonhole emission is guaranteed.
_MASKS = (0, 1, 1 + 2**20, 1 + 2**20 + 2**40, 1 + 2**20 + 2**40 + 2**21)

_POW128 = tuple(128**i for i in range(8))


def _planted_phash(docs):
    """(doc_id, phash_i64) with planted near-dup families — the Spark
    twin of the oracle's hash CTE (same md5 arithmetic, term by term)."""
    m = F.md5(F.expr("CAST(doc_id DIV 5 AS STRING)"))
    base = None
    for i in range(8):
        term = F.ascii(F.substring(m, i + 1, 1)).cast("long") * F.lit(_POW128[i])
        base = term if base is None else base + term
    r = F.col("doc_id") % 5
    mask = (
        F.when(r == 0, F.lit(_MASKS[0]))
        .when(r == 1, F.lit(_MASKS[1]))
        .when(r == 2, F.lit(_MASKS[2]))
        .when(r == 3, F.lit(_MASKS[3]))
        .otherwise(F.lit(_MASKS[4]))
    ).cast("long")
    return docs.select(F.col("doc_id"), base.bitwiseXOR(mask).alias("phash_i64"))


def _hash_cte(max_id: int) -> str:
    """DuckDB CTEs producing the identical planted hash table."""
    terms = " + ".join(
        f"ascii(substr(m, {i + 1}, 1)) * CAST({_POW128[i]} AS BIGINT)"
        for i in range(8)
    )
    return (
        f"fam AS (SELECT doc_id, md5(CAST(doc_id // 5 AS VARCHAR)) AS m, "
        f"doc_id % 5 AS r FROM documents WHERE doc_id < {max_id}), "
        f"h AS (SELECT doc_id, xor({terms}, CAST(CASE r "
        f"WHEN 0 THEN {_MASKS[0]} WHEN 1 THEN {_MASKS[1]} "
        f"WHEN 2 THEN {_MASKS[2]} WHEN 3 THEN {_MASKS[3]} "
        f"ELSE {_MASKS[4]} END AS BIGINT)) AS ph FROM fam)"
    )


# Shared-band predicate: integer division/mod on the non-negative hash
# equals the operator's shiftrightunsigned band slicing.
_BAND_MATCH = (
    "(a.ph % 65536 = b.ph % 65536 "
    "OR (a.ph // 65536) % 65536 = (b.ph // 65536) % 65536 "
    "OR (a.ph // 4294967296) % 65536 = (b.ph // 4294967296) % 65536 "
    "OR a.ph // 281474976710656 = b.ph // 281474976710656)"
)

_PAIRS_CTE = (
    "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming "
    f"FROM h a JOIN h b ON a.doc_id < b.doc_id AND {_BAND_MATCH})"
)

_NEARDUP_PAIRS_ORACLE = (
    "WITH " + _hash_cte(400) + ", " + _PAIRS_CTE +
    " SELECT id_a, id_b, hamming FROM p WHERE hamming <= 6"
)


@query("q_image_neardup_pairs", oracle=_NEARDUP_PAIRS_ORACLE)
def q_image_neardup_pairs(spark, sf_dir):
    """E94 pHash banded image near-dup pairs (round 12): 4 × 16-bit band
    slices of the 64-bit perceptual hash → shared-band equi-join
    (dedup.banded_pairs: first-band emission — no distinct shuffle —
    plus the hot-bucket cap) → one codegen'd ``bit_count(xor)`` Hamming
    verify. The production operator (dedup.phash_neardup_pairs) runs on
    planted integer hashes both engines derive from the same md5
    arithmetic, so banding AND verify are fully oracle-checked; recall
    on REAL codec drift is pinned by the planted-recompression-family
    contract in tests/test_phash.py. At 100 TB this is the SimHash plan
    applied to pixels: one signature scan, one band shuffle, pairs never
    re-join the signature table."""
    from yark_spark.operators.dedup import phash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return phash_neardup_pairs(_planted_phash(docs))


_NEARDUP_KEEP_ORACLE = (
    "WITH RECURSIVE " + _hash_cte(200) + ", " + _PAIRS_CTE + ", "
    "e AS (SELECT id_a AS src, id_b AS dst FROM p WHERE hamming <= 6 "
    "UNION ALL SELECT id_b, id_a FROM p WHERE hamming <= 6), "
    "reach(id, r) AS (SELECT doc_id, doc_id FROM h "
    "UNION SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r), "
    "clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id) "
    "SELECT cluster_id AS doc_id, CAST(count(*) AS BIGINT) AS family_size "
    "FROM clusters GROUP BY cluster_id"
)


@query("q_image_neardup_keep", oracle=_NEARDUP_KEEP_ORACLE)
def q_image_neardup_keep(spark, sf_dir):
    """E94' image keep-list (round 12): the pHash pairs resolved into
    connected components (dedup_clusters — Boruvka star contraction +
    pointer doubling) and reduced to one representative per image
    family with its family size. The oracle re-derives the whole path
    in SQL: hash CTE → band+Hamming pairs → recursive-CTE reachability
    → min-label clusters → per-representative counts. Same
    pairs→clusters→keep composition as the text dedup family
    (q_dedup_clusters / q_dedup_keep), now over pixels."""
    from yark_spark.operators.dedup import phash_neardup_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    clusters = phash_neardup_clusters(_planted_phash(docs))
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("family_size")
    ).select(F.col("cluster_id").alias("doc_id"), F.col("family_size"))


# ---------------------------------------------------------------------------
# zstd text ingest — the modern .jsonl.zst wire, md5-certified (task #2)
# ---------------------------------------------------------------------------

_UNZSTD_ORACLE = (
    "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, "
    "md5(text) AS digest FROM documents WHERE doc_id < 500"
)


@query("q_text_unzstd", oracle=_UNZSTD_ORACLE)
def q_text_unzstd(spark, sf_dir):
    """E95 zstd text ingest (round 12, VERDICT r11 task #2): documents
    round-trip through the from-scratch RFC 8878 codec
    (operators/zstd + zstd_encode) — real FSE (tANS) sequence coding on
    the predefined distributions with repeat offsets, huff0 literals
    with both direct and FSE-compressed weight descriptions, XXH64
    content checksums — the wire format of modern crawled corpora
    (.jsonl.zst Common Crawl / HF exports). The decoded md5 digest must
    equal DuckDB's md5(text), certifying every byte of the
    entropy-coded round trip with a one-line oracle; hand-derived RFC
    wire vectors + spec-table pins + 500-trial roundtrip fuzz live in
    tests/test_zstd.py. Two map-only mapInPandas stages; text bytes
    never shuffle."""
    from yark_spark.operators.multimodal import unzstd_text_features, with_zstd_payload

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return unzstd_text_features(with_zstd_payload(docs))


# ---------------------------------------------------------------------------
# Language identification — hashed char-trigram voting (task #3)
# ---------------------------------------------------------------------------

_LANGID_B = 1024

_LANGID_ORACLE = (
    "WITH langs AS (SELECT DISTINCT lang FROM documents WHERE doc_id < 300), "
    "src AS (SELECT doc_id, lower(trim(text)) AS s FROM documents), "
    "tri AS (SELECT doc_id, substr(s, g.i, 3) AS t FROM src, "
    "unnest(generate_series(1, len(s) - 2)) AS g(i) WHERE len(s) >= 3), "
    "bk AS (SELECT doc_id, (ascii(substr(md5(t), 1, 1)) * 131 "
    f"+ ascii(substr(md5(t), 2, 1))) % {_LANGID_B} AS bucket FROM tri), "
    "train AS (SELECT bucket, d.lang, count(*) AS n FROM bk "
    "JOIN documents d USING (doc_id) WHERE d.doc_id < 300 GROUP BY 1, 2), "
    "tot AS (SELECT d.lang, count(*) AS T FROM bk "
    "JOIN documents d USING (doc_id) WHERE d.doc_id < 300 GROUP BY 1), "
    f"grid AS (SELECT g.b AS bucket, l.lang FROM generate_series(0, {_LANGID_B - 1}) "
    "AS g(b), langs l), "
    "dist AS (SELECT grid.bucket, grid.lang, COALESCE(train.n, 0) AS n, tot.T "
    "FROM grid JOIN tot USING (lang) LEFT JOIN train "
    "ON train.bucket = grid.bucket AND train.lang = grid.lang), "
    "beat AS (SELECT a.bucket, a.lang, max(CASE WHEN "
    f"(b.n + 1) * (a.T + {_LANGID_B}) > (a.n + 1) * (b.T + {_LANGID_B}) "
    f"OR ((b.n + 1) * (a.T + {_LANGID_B}) = (a.n + 1) * (b.T + {_LANGID_B}) "
    "AND b.lang > a.lang) THEN 1 ELSE 0 END) AS beaten "
    "FROM dist a JOIN dist b ON a.bucket = b.bucket AND a.lang != b.lang "
    "GROUP BY 1, 2), "
    "win AS (SELECT bucket, lang AS wlang FROM beat WHERE beaten = 0), "
    "per AS (SELECT doc_id, bucket, count(*) AS c FROM bk GROUP BY 1, 2), "
    "dv AS (SELECT doc_id, wlang, sum(c) AS votes FROM per "
    "JOIN win USING (bucket) GROUP BY 1, 2), "
    "sel AS (SELECT doc_id, wlang, votes, row_number() OVER "
    "(PARTITION BY doc_id ORDER BY votes DESC, wlang DESC) AS rn, "
    "sum(votes) OVER (PARTITION BY doc_id) AS nt FROM dv) "
    "SELECT doc_id, wlang AS pred_lang, CAST(votes AS BIGINT) AS votes, "
    "CAST(nt AS BIGINT) AS n_trigrams FROM sel WHERE rn = 1"
)


@query("q_langid", oracle=_LANGID_ORACLE)
def q_langid(spark, sf_dir):
    """E96 language identification (round 12, VERDICT r11 task #3):
    hashed char-trigram voting classifier (operators/lm.langid_ngram_vote)
    trained on the trusted doc_id < 300 slice with its lang labels.
    Every step is integer-exact — md5-ascii bucket hash, add-one
    smoothed per-bucket maximum-likelihood vote with the comparison
    cross-multiplied to int64, trigram-weighted argmax with a
    deterministic tie-break — so the verdict hash-matches the DuckDB
    re-derivation. The learning behavior itself (near-perfect accuracy
    when languages genuinely differ in character statistics; the
    fixture corpus is label-independent by construction, documented) is
    pinned by the synthetic-corpus contract in tests/test_langid.py.
    Plan: ONE wide shuffle (doc × bucket counts); the winner table
    (≤ 1024 rows) broadcasts back; text never joins."""
    from yark_spark.operators.lm import langid_ngram_vote

    docs = load_table(spark, sf_dir, "documents")
    return langid_ngram_vote(
        docs, train_condition=F.col("doc_id") < 300, n_buckets=_LANGID_B
    )


# ---------------------------------------------------------------------------
# Animated GIF — disposal compositing + temporal features (task #4)
# ---------------------------------------------------------------------------

_GIF_ANIM_ORACLE = (
    "WITH v AS (SELECT doc_id, "
    "ascii(substr(md5(text), 1, 1)) AS a, ascii(substr(md5(text), 2, 1)) AS b, "
    "ascii(substr(md5(text), 3, 1)) AS c, ascii(substr(md5(text), 4, 1)) AS d "
    "FROM documents WHERE doc_id < 200) "
    "SELECT doc_id, CAST(4 AS INTEGER) AS n_frames, "
    "CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height, "
    "CAST(40 AS INTEGER) AS duration_cs, "
    "round((a + (a + b) / 2.0 + (a + c) / 2.0 + (a + d) / 2.0) / 4.0, 6) "
    "AS luma_mean, "
    "round((abs(b - a) + abs(c - b) + abs(d - c)) / 6.0, 6) AS motion FROM v"
)


@query("q_video_decode_gif_anim", oracle=_GIF_ANIM_ORACLE)
def q_video_decode_gif_anim(spark, sf_dir):
    """E97 animated-GIF decode with disposal compositing (round 12,
    VERDICT r11 task #4 — the boundary decode_gif_frames documented in
    r11, now closed): frame 0 fills the screen, frames 1-3 are
    bottom-half sub-rectangles, so every presented canvas k>0 is
    (top=a, bottom=v_k) and the COMPOSITOR — region placement, paint
    masks, disposal bookkeeping — sits inside the analytic oracle:
    luma_mean = (a + (a+b)/2 + (a+c)/2 + (a+d)/2)/4 and motion =
    (|b-a|+|c-b|+|d-c|)/6 over the md5 quadrant codes, with the GCE
    delay sum (40 cs) pinning the extension parse. Disposal methods
    2/3 and transparency compositing are pinned by hand-built canvases
    in tests/test_gif.py. Map-only mapInPandas both stages."""
    from yark_spark.operators.multimodal import (
        gif_anim_video_features,
        with_gif_anim_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return gif_anim_video_features(with_gif_anim_payload(docs))


_VIDEO_AGREE_ORACLE = (
    "WITH v AS (SELECT doc_id, "
    "ascii(substr(md5(text), 1, 1)) AS a, ascii(substr(md5(text), 2, 1)) AS b, "
    "ascii(substr(md5(text), 3, 1)) AS c, ascii(substr(md5(text), 4, 1)) AS d "
    "FROM documents WHERE doc_id < 150) "
    "SELECT doc_id, s.source, CAST(4 AS INTEGER) AS n_frames, "
    "CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height, "
    "round((a + b + c + d) / 4.0, 6) AS luma_mean, "
    "round((abs(b - a) + abs(c - b) + abs(d - c)) / 3.0, 6) AS motion "
    "FROM v, (VALUES ('gif_anim'), ('y4m')) s(source)"
)


@query("q_video_container_agreement", oracle=_VIDEO_AGREE_ORACLE)
def q_video_container_agreement(spark, sf_dir):
    """E97' cross-container temporal agreement (round 12 — the E93'
    recipe applied to the TIME axis): the same four-frame synthetic
    animation through the Y4M path (verbatim planes, 4:2:0/4:4:4) and
    the animated-GIF path (palette + LZW + GCE + disposal compositing,
    alternating disposal 1/2 across full-canvas frames) must produce
    identical luma_mean and motion — one no-video-code SQL truth checks
    two independent container stacks at once."""
    from yark_spark.operators.multimodal import (
        decode_video_features,
        gif_anim_video_features,
        with_gif_anim_payload,
        with_y4m_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    common = ["doc_id", "source", "n_frames", "width", "height", "luma_mean", "motion"]
    g = gif_anim_video_features(with_gif_anim_payload(docs, subrect=False)).select(
        "doc_id", F.lit("gif_anim").alias("source"), "n_frames", "width",
        "height", "luma_mean", "motion"
    )
    y = decode_video_features(with_y4m_payload(docs)).select(
        "doc_id", F.lit("y4m").alias("source"), "n_frames", "width",
        "height", "luma_mean", "motion"
    )
    return g.unionByName(y).select(*common)


_JSONL_ZST_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 16 AS BIGINT) AS shard_id, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480"
)


@query("q_jsonl_zst_scan", oracle=_JSONL_ZST_ORACLE)
def q_jsonl_zst_scan(spark, sf_dir):
    """E95' .jsonl.zst shard round trip (round 12): documents pack into
    compressed JSON-lines shards (16 docs/shard, one zstd frame each,
    through the real FSE+huff0 encoder) via ONE applyInPandas per shard
    group, then a map-only listing pass magic-dispatches the
    decompression (decompress_auto), parses the lines and digest-checks
    every document's text — the modern corpus-release wire format
    beside the tar (q_webdataset_scan) and WARC (q_warc_scan) shapes.
    The grouping shuffle IS the shard assignment; a streaming twin
    (jsonl_zst_listing_stream) watches a shard directory with
    batch-stream equivalence tested."""
    from yark_spark.operators.multimodal import jsonl_zst_listing, with_jsonl_zst_shards

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return jsonl_zst_listing(with_jsonl_zst_shards(docs))


# ---------------------------------------------------------------------------
# HTML → text extraction — the markup half of the WET pass
# ---------------------------------------------------------------------------

_HTML_ORACLE = (
    "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, "
    "md5(text) AS digest FROM documents WHERE doc_id < 500"
)


@query("q_html_extract", oracle=_HTML_ORACLE)
def q_html_extract(spark, sf_dir):
    """E98 HTML text extraction (round 12): each document wrapped in a
    realistic page skeleton — script bodies containing fake markup (the
    HTML5 RAWTEXT trap), style blocks, comments, markup indentation, an
    inline <em> splitting the text mid-flow, a numeric character
    reference — then recovered BYTE-EXACTLY by the from-scratch tag
    state machine (operators/html) and digest-matched against
    md5(text). This is the markup half of the crawled-web WET pass
    (q_warc_wet_extract covers the HTTP-framing half); adversarial
    malformed-markup cases are pinned in tests/test_html.py. Two
    map-only mapInPandas stages; pages never shuffle."""
    from yark_spark.operators.multimodal import html_extract_features, with_html_payload

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return html_extract_features(with_html_payload(docs))


_WET_HTML_ORACLE = (
    "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, "
    "md5(text) AS digest FROM documents WHERE doc_id < 400"
)


@query("q_warc_wet_html", oracle=_WET_HTML_ORACLE)
def q_warc_wet_html(spark, sf_dir):
    """E98' the COMPLETE crawled-web text-recovery wire (round 12):
    documents become full HTML pages (script traps, comments, inline
    tags, entities), get packed into .warc.gz shards with HTTP message
    heads and a warcinfo record — the exact CC-MAIN record shape — then
    ONE map-only pass inflates per-record gzip members, parses the ISO
    28500 grammar, strips the HTTP head at the first CRLF-CRLF, runs
    the HTML tag state machine, and digest-matches the recovered text
    against md5(text). Four protocol layers (gzip → WARC → HTTP → HTML)
    certified by one SQL hash — what a real WET generator does to a
    crawl segment, end to end."""
    from yark_spark.operators.multimodal import (
        warc_wet_html_extract,
        with_html_text,
        with_warc_shards,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    pages = with_html_text(docs)
    shards = with_warc_shards(pages, text_col="page", http_head=True)
    return warc_wet_html_extract(shards)


# ---------------------------------------------------------------------------
# NFC normalization — independent-Unicode-implementation differential
# ---------------------------------------------------------------------------

_NFC_ORACLE = (
    "WITH v AS (SELECT doc_id, "
    "nfc_normalize(text || 'e' || chr(769) || chr(65) || chr(778)) AS nt "
    "FROM documents WHERE doc_id < 500) "
    "SELECT doc_id, CAST(length(nt) AS INTEGER) AS n_chars, "
    "md5(nt) AS digest FROM v"
)


@query("q_text_nfc", oracle=_NFC_ORACLE)
def q_text_nfc(spark, sf_dir):
    """E99' Unicode NFC normalization (round 12): combining sequences
    (e + U+0301, A + U+030A) appended to each doc collapse to their
    precomposed forms under canonical composition. The Spark side runs
    Python's unicodedata (UCD tables) in an Arrow-batched mapInPandas;
    the oracle runs DuckDB's utf8proc nfc_normalize — two INDEPENDENT
    Unicode implementations agreeing on the digest, a true cross-engine
    differential. NFC is the standard first normalization pass of a
    multilingual corpus pipeline."""
    from yark_spark.operators.multimodal import nfc_text_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    probe = docs.withColumn(
        # decomposed combining sequences (e+U+0301, A+U+030A) so the
        # Spark side genuinely composes; the oracle builds the same
        # sequence with chr() and normalizes with utf8proc
        "text", F.concat(F.col("text"), F.lit("e\u0301A\u030a"))
    )
    return nfc_text_features(probe)


_PCM_DEPTH_ORACLE = (
    "WITH v AS (SELECT doc_id, "
    "ascii(substr(md5(text), 1, 1)) AS a, ascii(substr(md5(text), 2, 1)) AS b, "
    "ascii(substr(md5(text), 3, 1)) AS c, ascii(substr(md5(text), 4, 1)) AS d "
    "FROM documents WHERE doc_id < 150) "
    "SELECT doc_id, s.codec, CAST(4 AS INTEGER) AS n_samples, "
    "CAST(64 * (a + b + c + d) - 26112 AS BIGINT) AS mean_sample "
    "FROM v, (VALUES ('pcm8'), ('pcm24'), ('pcm32'), ('float32')) s(codec)"
)


@query("q_audio_pcm_depths", oracle=_PCM_DEPTH_ORACLE)
def q_audio_pcm_depths(spark, sf_dir):
    """E100 PCM sample-depth normalization (round 12): the WAV decoder's
    "N-bit PCM needs an audio library" boundary closed — 8-bit unsigned
    (128 bias), 24-bit packed LE, 32-bit integer and IEEE float32 all
    normalize to the int16 core. The fixture samples are multiples of
    256 so every width is lossless; all four depths must produce the
    SAME analytic per-doc mean (64·(a+b+c+d) − 26112) — one oracle
    checks four container layouts and the float scaling convention
    (x/32768, rint on decode) at once. Map-only mapInPandas."""
    from yark_spark.operators.multimodal import audio_pcm_depth_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return audio_pcm_depth_features(docs)


_SEEKABLE_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 64 AS BIGINT) AS shard_id, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 448"
)


@query("q_seekable_zst_scan", oracle=_SEEKABLE_ORACLE)
def q_seekable_zst_scan(spark, sf_dir):
    """E95'' seekable .jsonl.zst shards (round 12; the public zstd
    seekable-format spec): 64 docs/shard packed into INDEPENDENT zstd
    frames cut at line boundaries (~4 KB each) with the seek table in a
    skippable frame. The reader parses the footer, emits one row per
    frame, and REPARTITIONS before the entropy decode — one multi-GB
    .zst object stops being one task; its decode fans out across the
    cluster. The stream remains a valid plain zstd stream (the
    whole-stream twin is equivalence-tested). Digest-matched per doc
    through frame slicing + FSE/huff0 decode + JSON parse."""
    from yark_spark.operators.multimodal import (
        seekable_zst_frame_listing,
        with_seekable_zst_shards,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 448)
    return seekable_zst_frame_listing(with_seekable_zst_shards(docs))


_FLAC_ORACLE = (
    "WITH h AS (SELECT doc_id, md5(text) AS m FROM documents WHERE doc_id < 200), "
    "s AS (SELECT doc_id, ascii(substr(m, g.i, 1)) AS v "
    "FROM h, unnest(generate_series(1, 32)) AS g(i)) "
    "SELECT doc_id, CAST(256 AS INTEGER) AS n_samples, "
    "CAST(8000 AS INTEGER) AS sample_rate, "
    "round(256.0 / 8000, 6) AS duration_s, "
    "CAST(max(v) AS INTEGER) AS peak, "
    "round(sqrt(avg(CAST(v AS DOUBLE) * v)), 6) AS rms "
    "FROM s GROUP BY doc_id"
)


@query("q_audio_decode_flac", oracle=_FLAC_ORACLE)
def q_audio_decode_flac(spark, sf_dir):
    """E101 FLAC decode (round 12): the lossless-compressed-audio
    boundary closed with a complete from-scratch RFC 9639 codec
    (operators/flac — frame sync, CRC-8/16, UTF-8 frame numbers,
    CONSTANT/VERBATIM/FIXED/LPC subframes, partitioned Rice with both
    methods + escape, all four stereo assignments, STREAMINFO MD5).
    The fixture is the SAME md5-ascii sample stream as q_audio_decode's
    WAV (FLAC is lossless, so the identical analytic oracle pins the
    whole sync→Rice→predictor→feature wire), encoded at block_size=64
    so every stream crosses four frame boundaries. Map-only mapInPandas
    both stages; payload bytes never shuffle. FLAC is how public speech
    corpora (LibriSpeech, MLS) actually ship — this is the audio twin
    of the PNG/DEFLATE ingest path."""
    from yark_spark.operators.multimodal import (
        decode_audio_features,
        with_flac_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return decode_audio_features(with_flac_payload(docs))


_AUDIO_AGREEMENT_ORACLE = (
    "WITH h AS (SELECT doc_id, md5(text) AS m FROM documents WHERE doc_id < 120), "
    "s AS (SELECT doc_id, ascii(substr(m, g.i, 1)) AS v "
    "FROM h, unnest(generate_series(1, 32)) AS g(i)), "
    "t AS (SELECT doc_id, CAST(max(v) AS INTEGER) AS peak, "
    "round(sqrt(avg(CAST(v AS DOUBLE) * v)), 6) AS rms FROM s GROUP BY doc_id) "
    "SELECT doc_id, c.container, peak, rms "
    "FROM t, (VALUES ('aiff'), ('flac'), ('wav')) c(container)"
)


@query("q_audio_container_agreement", oracle=_AUDIO_AGREEMENT_ORACLE)
def q_audio_container_agreement(spark, sf_dir):
    """E101' cross-container audio agreement (the E84'' codec-agreement
    recipe applied to audio): the SAME PCM stream shipped as RIFF/WAVE
    (PCM16, little-endian), as FLAC (bit-MSB entropy-coded) and as AIFF
    (big-endian IFF with the 80-bit extended-float sample rate) must
    produce identical features, all checked against ONE no-audio-code
    SQL truth crossed with the container labels. Three independent
    from-scratch containers × one analytic oracle — a bug in any
    container grammar, any endianness path, the extended-float parse,
    or the Rice/LPC reconstruction breaks the union against the
    truth."""
    from yark_spark.operators.multimodal import (
        decode_audio_features,
        with_aiff_payload,
        with_flac_payload,
        with_wav_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    out = None
    for container, builder in (
        ("aiff", with_aiff_payload),
        ("flac", with_flac_payload),
        ("wav", with_wav_payload),
    ):
        part = decode_audio_features(builder(docs)).select(
            "doc_id", F.lit(container).alias("container"), "peak", "rms"
        )
        out = part if out is None else out.unionByName(part)
    return out


_UNLZ4_ORACLE = (
    "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, "
    "md5(text) AS digest FROM documents WHERE doc_id < 500"
)


@query("q_text_unlz4", oracle=_UNLZ4_ORACLE)
def q_text_unlz4(spark, sf_dir):
    """E102 LZ4 text ingest (round 12): documents round-trip through the
    from-scratch LZ4 frame codec (operators/lz4 — token/offset block
    sequences from a real greedy hash matcher, frame descriptor with
    header-checksum byte, XXH32 content checksum, all implemented from
    the public spec including XXH32 itself). `.jsonl.lz4` is the third
    modern corpus wire codec beside .gz and .zst — the one chosen when
    decode CPU bounds the scan. The decoded md5 digest must equal
    DuckDB's md5(text): one digest certifies token parsing, overlapping
    copies, framing and checksums end to end. Two map-only mapInPandas
    stages; text bytes never shuffle."""
    from yark_spark.operators.multimodal import unlz4_text_features, with_lz4_payload

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return unlz4_text_features(with_lz4_payload(docs))


_JSONL_LZ4_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 16 AS BIGINT) AS shard_id, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480"
)


@query("q_jsonl_lz4_scan", oracle=_JSONL_LZ4_ORACLE)
def q_jsonl_lz4_scan(spark, sf_dir):
    """E102' .jsonl.lz4 shard ingest: the LZ4 twin of q_jsonl_zst_scan —
    16-doc JSON-lines shards packed into one LZ4 frame each, exploded
    back through the SAME listing operator (jsonl_zst_listing), whose
    decompress_auto magic dispatch now speaks gzip, zstd AND LZ4 frames
    from one entry point (a mixed .gz/.zst/.lz4 corpus directory scans
    in one map-only pass). Digest-matched per doc through pack →
    compress → dispatch → JSON parse; the grouping shuffle IS the shard
    assignment."""
    from yark_spark.operators.multimodal import (
        jsonl_zst_listing,
        with_jsonl_lz4_shards,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return jsonl_zst_listing(with_jsonl_lz4_shards(docs))


_TIFF_ORACLE = (
    "WITH v AS (SELECT doc_id, "
    "ascii(substr(md5(text), 1, 1)) AS a, ascii(substr(md5(text), 2, 1)) AS b, "
    "ascii(substr(md5(text), 3, 1)) AS c, ascii(substr(md5(text), 4, 1)) AS d "
    "FROM documents WHERE doc_id < 150) "
    "SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "round((a + b + c + d) / 4.0, 6) AS mean_pixel FROM v"
)


@query("q_image_decode_tiff", oracle=_TIFF_ORACLE)
def q_image_decode_tiff(spark, sf_dir):
    """E103 TIFF pixel decode (round 12): baseline TIFF 6.0 from scratch
    (operators/tiff) — IFD walk with inline-vs-offset values, strip
    reassembly, MSB-first EARLY-CHANGE LZW (the opposite bit order and
    the off-by-one width switch vs GIF's LZW — a genuinely distinct
    wire), PackBits, the horizontal-differencing predictor, both byte
    orders. The fixture CYCLES the whole encoding matrix per doc_id
    (compression x endianness x predictor, 8-row strips so every image
    crosses a strip boundary); decode is lossless under all of them, so
    the ONE quadrant-gray analytic oracle (mean = (a+b+c+d)/4) pins
    every path at once. TIFF is how scanned-document and scientific
    image corpora actually arrive. Map-only mapInPandas; payload bytes
    never shuffle."""
    from yark_spark.operators.multimodal import (
        decode_image_features,
        with_tiff_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return decode_image_features(with_tiff_payload(docs))


_UNBZ2_ORACLE = (
    "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, "
    "md5(text) AS digest FROM documents WHERE doc_id < 400"
)


@query("q_text_unbz2", oracle=_UNBZ2_ORACLE)
def q_text_unbz2(spark, sf_dir):
    """E104 bzip2 text ingest (round 12): documents are compressed by
    the from-scratch bzip2 encoder (operators/bzip2 — RLE1, numpy
    rank-doubling BWT, MTF with RUNA/RUNB bijective-base-2 zero runs,
    canonical Huffman, bzip2's non-reflected CRC-32 per block plus the
    rotate-combine stream CRC) and decoded by libbzip2 (stdlib ``bz2``)
    behind ``bz2_decompress``'s bomb guard and typed errors. `.bz2` is
    how Wikipedia database dumps — a canonical pretraining source —
    actually ship. libbzip2 must read the encoder's streams
    byte-exactly (tests/test_bzip2.py); the decoded md5 digest must
    equal DuckDB's md5(text). Two map-only mapInPandas stages; text bytes
    never shuffle."""
    from yark_spark.operators.multimodal import unbz2_text_features, with_bz2_payload

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return unbz2_text_features(with_bz2_payload(docs))


_WIKI_BZ2_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 16 AS BIGINT) AS shard_id, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480"
)


@query("q_jsonl_bz2_multistream_scan", oracle=_WIKI_BZ2_ORACLE)
def q_jsonl_bz2_multistream_scan(spark, sf_dir):
    """E104' multistream .bz2 shard ingest — the Wikipedia-dump wire
    layout: each 16-doc shard is a CONCATENATION of four independent
    bzip2 streams (the structure that lets wiki readers seek to an
    indexed stream offset without decoding the prefix). The listing is
    the SAME jsonl operator as the zstd/LZ4 shards: decompress_auto
    walks consecutive 'BZh' streams the way it walks multi-member gzip,
    so one map-only pass ingests a mixed .gz/.zst/.lz4/.bz2 corpus
    directory. Digest-matched per doc through pack → 4-stream compress
    → concatenate → multistream walk → JSON parse."""
    from yark_spark.operators.multimodal import (
        jsonl_zst_listing,
        with_jsonl_bz2_multistream_shards,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return jsonl_zst_listing(with_jsonl_bz2_multistream_shards(docs))
