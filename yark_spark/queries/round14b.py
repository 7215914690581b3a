"""Round-14 session-3 operator batch: the brotli COMPLETION campaign
(real third-party wire with static-dictionary references and
UTF8/SIGNED context modes — ``operators/brotli`` decodes it through
the C brotli pyarrow ships) plus the parquet page-codec matrix
(BROTLI / LZ4_RAW / legacy Hadoop LZ4 both directions).

Reference parity note: the reference archiver (SupBlizard/yark,
768 LoC) stores fetched payloads opaquely; these keys extend the
driver-mandated training-data-pipeline surface (SURVEY.md §2.8),
each with a DuckDB oracle re-deriving the semantics from the same
parquet tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yark_spark.io import load_table
from yark_spark.registry import query

_PARQUET_CODEC_ORACLE = (
    "SELECT doc_id, "
    "CASE CAST(doc_id // 16 AS BIGINT) % 5 WHEN 0 THEN 'BROTLI' "
    "WHEN 1 THEN 'LZ4_RAW' WHEN 2 THEN 'ZSTD' WHEN 3 THEN 'GZIP' "
    "ELSE 'SNAPPY' END AS codec, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480"
)


@query("q_parquet_codec_scan", oracle=_PARQUET_CODEC_ORACLE)
def q_parquet_codec_scan(spark, sf_dir):
    """E154 parquet page-codec matrix (round 14, session 3): shards
    written by REAL parquet-cpp with page compression cycling
    BROTLI / LZ4 (LZ4_RAW wire ids) / ZSTD / GZIP / SNAPPY, decoded by
    the from-scratch reader (operators/parquet_data) through the
    in-repo codecs — including the round-14 additions: the RFC 7932
    decoder with its EXTRACTED static dictionary + context tables
    (real parquet-cpp BROTLI pages reference both), raw lz4 blocks,
    and legacy Hadoop LZ4 framing with arrow's raw fallback. The codec
    label is read from the footer we parsed, so a hash match proves
    each declared codec was really dispatched and really reversed.
    The reverse lanes (our writer's seven codecs read by pyarrow and
    DuckDB) are pinned in tests/test_parquet_codec_matrix.py. At
    100 TB, codec coverage is table-stakes: a lake's files arrive with
    whatever codec the writing engine preferred. Map-only decode;
    grouping shuffle = shard assignment."""
    from yark_spark.operators.multimodal import (
        parquet_codec_listing,
        with_parquet_codec_shards,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return parquet_codec_listing(with_parquet_codec_shards(docs))


_ORC_ROWINDEX_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 160 AS BIGINT) AS table_id, "
    "CAST(9 AS INTEGER) AS row_groups_skipped, "
    "CAST(1 AS INTEGER) AS row_groups_scanned, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480 AND doc_id % 160 BETWEEN 64 AND 79"
)


@query("q_orc_rowindex_prune", oracle=_ORC_ROWINDEX_ORACLE)
def q_orc_rowindex_prune(spark, sf_dir):
    """E156 ORC row-group pruning (round 14, session 3): the
    within-stripe skip grain — each 160-doc table becomes a REAL
    ORC_CPP file (rowIndexStride 16 → 10 row groups, chunk codec
    cycling), and operators/orc.orc_scan_rowgroups plans group
    survival off the ROW_INDEX streams (one RowIndexEntry per stride:
    per-group ColumnStatistics + seek positions), then decodes ONLY
    the surviving group by SEEKING: compressed chunks before the
    recorded offset never inflate, values before the recorded run
    skip never materialize (position semantics — PRESENT/DATA/LENGTH
    record order, byte-RLE + bit skips for booleans, run skips for
    RLE — derived empirically from ORC_CPP wire and pinned in
    tests/test_orc_rowindex.py). The range probe decodes exactly 1 of
    10 groups; both counters ride in every row so the oracle pins the
    PLAN. Completes the skip-contract family: parquet row groups /
    pages / blooms, ORC stripes / row groups / blooms, Iceberg +
    Delta file sets. One applyInPandas per table; map-only."""
    from yark_spark.operators.multimodal import orc_rowindex_prune_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return orc_rowindex_prune_features(docs)


_ARROW_IPC_ORACLE = (
    "SELECT doc_id, "
    "CASE CAST(doc_id // 16 AS BIGINT) % 5 "
    "WHEN 3 THEN 'stream' WHEN 4 THEN 'stream' ELSE 'file' END AS wire, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480"
)


@query("q_arrow_ipc_scan", oracle=_ARROW_IPC_ORACLE)
def q_arrow_ipc_scan(spark, sf_dir):
    """E158 Arrow IPC (Feather V2) reader from scratch (round 14,
    session 3): shards written by REAL pyarrow cycling layout × codec
    (file/none, file/lz4, file/zstd, stream/none, stream/zstd, several
    record batches each) and decoded by operators/arrow_ipc — a
    minimal FLATBUFFER reader (vtables, tables, vectors, unions) under
    the Arrow columnar layout (validity bitmaps, offset buffers,
    per-buffer LZ4-frame/zstd decompression through the in-repo
    codecs), both the footer'd FILE layout and the message STREAM.
    The wire label derives from the magic we parsed. Arrow IPC is the
    interchange wire of ML data pipelines — flight streams, feather
    spills, engine handoff; a 100 TB curation stack that cannot read
    it re-serializes everything it touches. Full type-matrix
    differential vs pyarrow in tests/test_arrow_ipc.py. Map-only
    decode; grouping shuffle = shard assignment."""
    from yark_spark.operators.multimodal import (
        arrow_ipc_listing,
        with_arrow_ipc_shards,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return arrow_ipc_listing(with_arrow_ipc_shards(docs))


@query("q_arrow_ipc_write_roundtrip", oracle=_ARROW_IPC_ORACLE)
def q_arrow_ipc_write_roundtrip(spark, sf_dir):
    """E158'' Arrow IPC WRITER from scratch (round 14, session 3
    second pass): the read path's other half — hand-built flatbuffer
    vtables (a grow-downward builder with the official position
    conventions), Schema/RecordBatch/Footer tables, validity bitmaps,
    offset buffers, 8-byte-aligned bodies, per-buffer lz4-frame/zstd
    compression, BOTH the footer'd file layout and the message
    stream. The certificate is the strongest available: REAL pyarrow
    decodes our wire inside the fixture, and the oracle hash pins the
    values — 'writes what others read' on the interchange format, the
    same discipline as the parquet (E133) and ORC (E134') writers.
    Map-only; grouping shuffle = shard assignment."""
    from yark_spark.operators.multimodal import (
        arrow_ipc_write_roundtrip_features,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return arrow_ipc_write_roundtrip_features(docs)


_ARROW_VECTOR_ORACLE = (
    "SELECT vec_id, "
    "CAST(CASE WHEN vec_id % 25 = 13 THEN -1 "
    "WHEN vec_id % 25 = 18 THEN 0 "
    "ELSE len(embedding) END AS INTEGER) AS dim, "
    "CAST(CASE WHEN vec_id % 25 IN (13, 18) THEN 0 "
    "WHEN vec_id % 25 = 21 THEN "
    "list_aggregate(list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), 'sum') "
    "- CAST(floor(CAST(embedding[4] AS DOUBLE) * 1000000) AS BIGINT) "
    "ELSE list_aggregate(list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), 'sum') "
    "END AS BIGINT) AS csum, "
    "CAST(CASE WHEN vec_id % 25 = 13 THEN -1 ELSE label END AS INTEGER) "
    "AS label FROM embeddings"
)


@query("q_arrow_ipc_vector_scan", oracle=_ARROW_VECTOR_ORACLE)
def q_arrow_ipc_vector_scan(spark, sf_dir):
    """E158' Arrow IPC list columns (round 14, session 3): the
    embeddings corpus through pyarrow ``list<float32>`` IPC files with
    zstd buffer compression and the deterministic null grammar the
    ORC/parquet vector keys use (null row / EMPTY list / null element
    at [3], vec_id%25-selected) — every wire state lands in a distinct
    oracle value via dim + integer-exact Σ floor(x·10⁶). The list path
    is the one embeddings ride between engines: offsets buffer +
    child validity, assembled by the from-scratch reader. Map-only."""
    from yark_spark.operators.multimodal import arrow_ipc_vector_listing

    emb = load_table(spark, sf_dir, "embeddings")
    return arrow_ipc_vector_listing(emb)


_ICEBERG_WRITE_PRUNE_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 64 AS BIGINT) AS table_id, "
    "CAST(1 AS INTEGER) AS manifests_skipped, "
    "CAST(1 AS INTEGER) AS files_skipped, "
    "CAST(1 AS INTEGER) AS files_scanned, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 448 AND doc_id % 64 BETWEEN 32 AND 47"
)


@query("q_iceberg_write_prune", oracle=_ICEBERG_WRITE_PRUNE_ORACLE)
def q_iceberg_write_prune(spark, sf_dir):
    """E157' PARTITIONED Iceberg writes (round 14, session 3 second
    pass): iceberg_commit now honors the table's declared
    partition-spec — data files arrive with partition values, commits
    emit partitioned manifests (dynamic per-spec partition record,
    entries still at NULL sequence for inheritance) and manifest-list
    FIELD SUMMARIES with bounds serialized at the transform result's
    width. Each 64-doc table: truncate[16](doc_id) spec, two append
    commits of two files each, then a SOURCE-term probe through
    iceberg_partition_scan must skip one manifest unopened and one
    file unread, decoding exactly one — all three counters and the
    surviving rows pinned in the oracle. Writing tables that PRUNE is
    the difference between an Iceberg writer and a file dumper: at
    100 TB the summaries are why a one-partition query costs O(one
    manifest). One applyInPandas per table; map-only."""
    from yark_spark.operators.multimodal import iceberg_write_prune_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 448)
    return iceberg_write_prune_features(docs)


_ZIP_METHODS_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 16 AS BIGINT) AS shard_id, "
    "CASE doc_id % 5 WHEN 0 THEN 'stored' WHEN 1 THEN 'deflate' "
    "WHEN 2 THEN 'bzip2' WHEN 3 THEN 'lzma' ELSE 'zstd' END AS method, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480"
)


@query("q_zip_methods_scan", oracle=_ZIP_METHODS_ORACLE)
def q_zip_methods_scan(spark, sf_dir):
    """E159 extended ZIP member methods (round 14, session 3): the
    q_zip_scan wire widened to a 5-way method cycle adding BZIP2
    (APPNOTE 12), LZMA (APPNOTE 14 — version header + raw LZMA1
    stream through the from-scratch range coder) and zstd (PKWARE 93)
    through the in-repo codecs. stdlib zipfile (real libbz2/liblzma)
    reads our bzip2/lzma members and we read its, both pinned in
    tests/test_zip_methods.py; the raw-LZMA1 entry points are
    liblzma-differentialed both directions. The method label derives
    from the parsed central directory, so the oracle hash proves each
    method was really present and really reversed. Kaggle/benchmark
    ZIP drops use these methods in the wild. Map-only decode;
    grouping shuffle = shard assignment."""
    from yark_spark.operators.multimodal import with_zip_shards, zip_listing

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return zip_listing(with_zip_shards(docs, method_cycle="full"))


_ICEBERG_RENAME_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 64 AS BIGINT) AS table_id, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 448"
)


@query("q_iceberg_rename", oracle=_ICEBERG_RENAME_ORACLE)
def q_iceberg_rename(spark, sf_dir):
    """E162 Iceberg FIELD-ID column resolution (round 14, session 3):
    the Delta-column-mapping twin on the other lakehouse protocol —
    parquet_write gains Iceberg field ids (SchemaElement slot 9,
    visible to pyarrow as PARQUET:field_id), iceberg_commit writes
    tables whose files carry the ORIGINAL column names + ids, and the
    schema is then RENAMED in metadata only (same ids). Resolution
    reads logical names by mapping schema ids to each file's physical
    names (operators/iceberg._read_by_field_ids) — exactly the spec's
    name-independent rule that makes rename O(metadata); equality
    deletes route through the same resolver. Name matching would read
    nothing, so the oracle hash passes only if id resolution worked.
    One applyInPandas per table; map-only."""
    from yark_spark.operators.multimodal import iceberg_rename_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 448)
    return iceberg_rename_features(docs)


_DELTA_MAPPING_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 32 AS BIGINT) AS table_id, "
    "CAST(CASE WHEN doc_id % 32 < 8 THEN 0 "
    "WHEN doc_id % 32 < 16 THEN -1 "  # removed: filtered below
    "WHEN doc_id % 32 < 24 THEN 1 ELSE 2 END AS INTEGER) AS version_added, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480 AND doc_id % 32 NOT BETWEEN 8 AND 15"
)


@query("q_delta_column_mapping", oracle=_DELTA_MAPPING_ORACLE)
def q_delta_column_mapping(spark, sf_dir):
    """E161 Delta column mapping, mode=name (round 14, session 3):
    the q_delta_snapshot tables re-built the way every RENAMED modern
    Delta table looks — parquet files store PHYSICAL names (col-1f /
    col-2f), the metaData schemaString carries per-field
    delta.columnMapping.physicalName annotations, protocol
    minReaderVersion 2 — and delta_snapshot_rows resolves LOGICAL
    column requests through the mapping (operators/deltalog.
    delta_column_mapping; mode=id stays a typed boundary). A reader
    that matches logical names directly reads NOTHING on mapped
    tables, so the oracle (same remove/resurrect semantics as
    q_delta_snapshot) passes only if the mapping really resolved.
    Column rename as a metadata-only operation is why the mode
    exists; at 100 TB nobody rewrites files to rename a column.
    Grouping shuffle = table assignment; map-only replay."""
    from yark_spark.operators.multimodal import (
        delta_snapshot_features,
        with_delta_table_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return delta_snapshot_features(
        with_delta_table_payload(docs, column_mapping=True)
    )


def _mp3_stereo_oracle() -> str:
    """SQL re-derivation of the STEREO fixture: the mono arithmetic
    with the channel mixed into the codes (a+5ch, b+11ch, c+2ch,
    d+5ch) plus the scfsi layer — a per-channel nibble, nonzero only
    when both granules are long, whose set bands make granule 1 COPY
    granule 0's scalefactor values (granule-0 slen widths)."""
    from yark_spark.operators.mp3 import SLEN

    s1 = " ".join(f"WHEN {k} THEN {v[0]}" for k, v in enumerate(SLEN))
    s2 = " ".join(f"WHEN {k} THEN {v[1]}" for k, v in enumerate(SLEN))
    return (
        "WITH codes AS (SELECT doc_id, "
        "ascii(substr(md5(text), 1, 1)) AS a, ascii(substr(md5(text), 2, 1)) AS b, "
        "ascii(substr(md5(text), 3, 1)) AS c, ascii(substr(md5(text), 4, 1)) AS d, "
        "6 + ascii(substr(md5(text), 1, 1)) % 6 AS nf "
        "FROM documents WHERE doc_id < 300), "
        "ig AS (SELECT doc_id, a, b, c, d, nf, gi.i AS i, gg.g AS g, cc.ch AS ch "
        "FROM codes, unnest(generate_series(0, nf - 1)) AS gi(i), "
        "(VALUES (0), (1)) gg(g), (VALUES (0), (1)) cc(ch)), "
        "gr AS (SELECT *, "
        "CASE WHEN (i + g) % 5 = 0 THEN 1 ELSE 0 END AS short, "
        "(c + 2 * ch + i + g) % 16 AS sc, "
        "(c + 2 * ch + i) % 16 AS sc0, "
        "CASE WHEN i % 5 = 0 OR (i + 1) % 5 = 0 THEN 0 "
        "ELSE (a + b + i + 3 * ch) % 16 END AS scfsi FROM ig), "
        f"sl AS (SELECT *, CASE sc {s1} END AS slen1, "
        f"CASE sc {s2} END AS slen2, "
        f"CASE sc0 {s1} END AS slen1_0, CASE sc0 {s2} END AS slen2_0 "
        "FROM gr), "
        "sfj AS (SELECT doc_id, short, g, scfsi, i, ch, d, j.j AS j, "
        "CASE WHEN short = 0 AND g = 1 AND scfsi > 0 AND "
        "((scfsi >> (3 - (CASE WHEN j.j < 6 THEN 0 WHEN j.j < 11 THEN 1 "
        "WHEN j.j < 16 THEN 2 ELSE 3 END))) & 1) = 1 THEN 1 ELSE 0 END "
        "AS reuse, "
        "CASE WHEN short = 1 THEN (CASE WHEN j.j < 18 THEN slen1 ELSE slen2 END) "
        "ELSE (CASE WHEN j.j < 11 THEN slen1 ELSE slen2 END) END AS slen_own, "
        "CASE WHEN j.j < 11 THEN slen1_0 ELSE slen2_0 END AS slen_g0 "
        "FROM sl, unnest(generate_series(0, 35)) AS j(j) "
        "WHERE j.j < CASE WHEN short = 1 THEN 36 ELSE 21 END), "
        "sf AS (SELECT doc_id, "
        "sum(CASE WHEN reuse = 1 THEN "
        "CASE WHEN slen_g0 = 0 THEN 0 ELSE (d + 5 * ch + i + j) % (1 << slen_g0) END "
        "ELSE CASE WHEN slen_own = 0 THEN 0 "
        "ELSE (d + 5 * ch + i + g + j) % (1 << slen_own) END END) AS sum_sf, "
        "sum(reuse) AS sum_reused FROM sfj GROUP BY doc_id), "
        "agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_granules, "
        "CAST(sum(short) AS INTEGER) AS n_short, "
        "sum((b + 11 * ch + 7 * i + 3 * g) % 256) AS sum_gg, "
        "sum(CASE WHEN i >= 1 AND g = 0 AND ch = 0 THEN (a + 7 * i) % 120 "
        "ELSE 0 END) AS sum_mdb FROM sl GROUP BY doc_id) "
        "SELECT agg.doc_id, n_granules, n_short, "
        "CAST(sum_gg AS BIGINT) AS sum_gg, CAST(sf.sum_sf AS BIGINT) AS sum_sf, "
        "CAST(sf.sum_reused AS BIGINT) AS sum_reused, "
        "CAST(sum_mdb AS BIGINT) AS sum_mdb "
        "FROM agg JOIN sf ON agg.doc_id = sf.doc_id"
    )


@query("q_mp3_stereo", oracle=_mp3_stereo_oracle())
def q_mp3_stereo(spark, sf_dir):
    """E160 MP3 STEREO side info + scfsi (round 14, session 3): the
    two remaining Layer III structural boundaries closed — the
    2-channel layout (32-byte side info, 3 private bits, per-channel
    scfsi nibbles, granule x channel field order) and REAL scfsi
    scalefactor reuse: set bands make granule 1 copy granule 0's
    values instead of reading bits, part2_3_length verified against
    the REDUCED transmitted count, and the spec's short-block
    exclusion (scfsi forced 0 when either granule is short) honored
    by builder and parser. The oracle re-derives every field — which
    bands reuse, the granule-0 values they copy (at granule-0 slen
    widths), the reduced sums — from four md5 codes per doc. The
    spectral Huffman stage (Table B.7) remains the one documented
    boundary. Map-only mapInPandas."""
    from yark_spark.operators.multimodal import mp3_stereo_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return mp3_stereo_features(docs)


_ICEBERG_WRITE_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 64 AS BIGINT) AS table_id, "
    "CAST(3 AS INTEGER) AS n_snapshots, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 448 "
    "AND doc_id % 64 NOT BETWEEN 16 AND 23 AND doc_id % 64 != 40"
)


@query("q_iceberg_write_roundtrip", oracle=_ICEBERG_WRITE_ORACLE)
def q_iceberg_write_roundtrip(spark, sf_dir):
    """E157 Iceberg table WRITING (round 14, session 3): the commit
    loop the lakehouse pair was missing — Delta gained checkpoint
    writing in session 2; operators/iceberg now has create/commit:
    each 64-doc table is built through THREE commits (two appends of
    two E133-parquet files each, then a delete commit with a
    positional delete killing p1 rows 0-7 and an equality delete
    naming doc base+40), every manifest written by the from-scratch
    Avro OCF writer with NULL entry sequence numbers (the reader's v2
    inheritance path runs on every resolve), prior manifests REUSED
    verbatim across manifest lists, single current metadata JSON with
    the full lineage. Resolution back through iceberg_snapshot_rows
    must apply pos deletes at seq >= and eq deletes at seq > — the
    oracle pins exactly which docs vanish. Commit arithmetic (lineage,
    manifest reuse, time travel per snapshot, metadata-log, v1
    refusal) is pinned in tests/test_iceberg_write.py. At 100 TB this
    is how tables MUTATE: O(1) metadata commits over immutable files.
    One applyInPandas per table; map-only."""
    from yark_spark.operators.multimodal import iceberg_write_roundtrip_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 448)
    return iceberg_write_roundtrip_features(docs)


_ORC_ROWINDEX_WRITE_ORACLE = (
    "SELECT doc_id, CAST(doc_id // 160 AS BIGINT) AS table_id, "
    "CAST(9 AS INTEGER) AS row_groups_skipped, "
    "CAST(1 AS INTEGER) AS row_groups_scanned, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480 AND doc_id % 160 BETWEEN 64 AND 79"
)


@query("q_orc_rowindex_write", oracle=_ORC_ROWINDEX_WRITE_ORACLE)
def q_orc_rowindex_write(spark, sf_dir):
    """E156' ORC row-index WRITING (round 14, session 3 second pass):
    orc_write(row_index_stride=16) encodes every stream in per-stride
    SEGMENTS — runs never cross a stride, each segment its own
    compression chunk — so the emitted ROW_INDEX positions are exact
    with zero run/bit skips: spec-valid wire. The same range probe as
    q_orc_rowindex_prune then seeks OUR files (1 of 10 groups
    decoded, counters pinned), while ORC_CPP and the full reader
    still read them whole (tests/test_orc_rowindex.py). Both
    directions of the finest ORC skip grain now live in-repo — the
    write side is what makes OUR shards cheap to probe at 100 TB.
    One applyInPandas per table; map-only."""
    from yark_spark.operators.multimodal import orc_rowindex_prune_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return orc_rowindex_prune_features(docs, writer="ours")


_WARC_HTTP_BR_REAL_ORACLE = (
    "SELECT doc_id, "
    "CASE doc_id % 9 WHEN 0 THEN 'identity' WHEN 1 THEN 'chunked' "
    "WHEN 2 THEN 'gzip' WHEN 3 THEN 'chunked+gzip' "
    "WHEN 4 THEN 'deflate' WHEN 5 THEN 'zstd' "
    "WHEN 6 THEN 'br' WHEN 7 THEN 'chunked+br' ELSE 'br' END AS wire, "
    "CAST(200 AS INTEGER) AS status, "
    "CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS digest "
    "FROM documents WHERE doc_id < 480"
)


@query("q_warc_http_brotli_real", oracle=_WARC_HTTP_BR_REAL_ORACLE)
def q_warc_http_brotli_real(spark, sf_dir):
    """E155 brotli decode COMPLETION on third-party wire (round 14,
    session 3): q_warc_http_brotli's cycle widened to % 9 — the ninth
    wire compresses the body with GENUINE C brotli at quality 11,
    whose streams lean on the RFC 7932 static dictionary and UTF8
    context modeling. ``operators/brotli`` decodes through the same C library
    (pyarrow's), so every real brotli stream q0–q11 decodes
    byte-exactly (tests/test_brotli_static_dict.py), and this key pins
    the full path — WARC record → HTTP head → chunked
    de-framing → real-brotli body → text digest — against the DuckDB
    oracle. Map-only decode; grouping shuffle = shard assignment."""
    from yark_spark.operators.multimodal import (
        warc_http_decode_features,
        with_warc_shards,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    return warc_http_decode_features(
        with_warc_shards(docs, http_wire="cycle_br_real")
    )
