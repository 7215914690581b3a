"""Archive orchestration — the reference's `archive video` / `history` /
`playlist` flows (`cmds/archive.py:123-352`, SURVEY.md §3.2/§3.3) as
batch dataflow over a table store.

The store is a dict[table_name, DataFrame] (tests keep it in memory; the
Parquet/JDBC persistence lives in store.py so the same orchestration serves
`foreachBatch` streaming upserts). Upserts run in FK topological order
(users → channels → videos → tags → video_tags → comments), mirroring the
statement order the reference relies on for integrity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yark_spark.io import local_frame
from yark_spark.operators.writes import insert_ignore, stamp_archived, upsert
from yark_spark.schemas import ALL_TABLES
from yark_spark.sources import infodict as src


def empty_store(spark) -> dict[str, DataFrame]:
    """Every archive table as an empty ``LocalRelation`` with its declared
    schema (see ``io.local_frame``)."""
    return {name: local_frame(spark, [], schema) for name, schema in ALL_TABLES.items()}


def update_guard():
    """W2's data-quality guard (`cmds/archive.py:162`): update an existing
    video only when the incoming row has title AND channel AND filesize AND
    duration. (Lazy: Column construction needs an active session.)"""
    return (
        F.col("s.title").isNotNull()
        & F.col("s.channel").isNotNull()
        & F.col("s.filesize").isNotNull()
        & F.col("s.duration").isNotNull()
    )


def archive_batch(
    store: dict[str, DataFrame], raw: DataFrame, force: bool = False
) -> dict[str, DataFrame]:
    """§3.2 upsert graph for a batch of refined info-dicts.

    force=False reproduces the skip-guard (`cmds/archive.py:126-129`):
    already-archived ids are dropped from the batch before any writes (P2
    idempotent skip, via anti-join instead of a per-id point lookup).
    """
    valid, quarantined = src.split_valid(raw)
    if not force:
        valid = valid.join(
            store["videos"].select(F.col("video_id").alias("id")), "id", "left_anti"
        )

    out = dict(store)
    # FK order: dims first (W1 insert-or-ignore), then the fact (W2 guarded
    # upsert), then children.
    out["users"] = insert_ignore(store["users"], src.extract_users(valid), ["user_id"])
    out["channels"] = insert_ignore(
        store["channels"], src.extract_channels(valid), ["channel_id"]
    )
    videos = stamp_archived(src.refine_videos(valid))
    out["videos"] = upsert(store["videos"], videos, ["video_id"], update_guard=update_guard())
    tags, video_tags = src.extract_tags(valid)
    out["tags"] = insert_ignore(store["tags"], tags, ["name"])
    out["video_tags"] = insert_ignore(
        store["video_tags"], video_tags.select(*store["video_tags"].columns), ["video", "tag"]
    )
    out["comments"] = insert_ignore(
        store["comments"], src.extract_comments(valid), ["comment_id"]
    )

    # P4 quarantine: unfetchable/invalid ids become 'lost' stubs (W1 —
    # insert-or-ignore so an existing good row is never clobbered).
    bad_ids = quarantined.select(F.col("id")).filter(F.col("id").isNotNull()).distinct()
    out["videos"] = insert_ignore(out["videos"], src.lost_stub(bad_ids), ["video_id"])
    return out


def lost_ids(store: dict[str, DataFrame]) -> DataFrame:
    """F5 work-list scan (`cmds/archive.py:356`): ids needing re-archival."""
    return store["videos"].filter(F.col("availability") == "lost").select("video_id")


def replay_lost(
    store: dict[str, DataFrame], refetched: DataFrame
) -> tuple[dict[str, DataFrame], DataFrame]:
    """P4 dead-letter replay (`cmds/archive.py:355-366`): re-archive lost ids
    with force=True; refetched rows are tagged availability='recovered' (S2,
    `cmds/archive.py:78`). Returns (store', recovered-count DF) — the count
    is P5's only aggregation, done as a real groupBy."""
    lost = lost_ids(store)
    hits = refetched.join(lost.withColumnRenamed("video_id", "id"), "id", "left_semi")
    tagged = hits.withColumn("availability", F.lit("recovered"))
    out = archive_batch(store, tagged, force=True)
    recovered = out["videos"].filter(F.col("availability") == "recovered").agg(
        F.count(F.lit(1)).alias("recovered")
    )
    return out, recovered
