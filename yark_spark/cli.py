"""Thin command layer — the reference's REPL surface (P7, `yark.py:18-34`,
`cmds/__init__.py:7-22`) mapped onto the engine.

Same command vocabulary, batch semantics: a user of the reference can run
the equivalent of every command here against a ParquetStore directory.

    python -m yark_spark.cli archive-video   <infodicts.json> --store DIR [--force]
    python -m yark_spark.cli archive-history <watch-history.json> --store DIR
    python -m yark_spark.cli archive-playlist <playlist.csv> --store DIR
    python -m yark_spark.cli lost            --store DIR
    python -m yark_spark.cli replay          --store DIR --fetcher pkg.mod:fn
    python -m yark_spark.cli delete-video    <video_id> --store DIR
    python -m yark_spark.cli delete-channel  <channel_id> --store DIR
    python -m yark_spark.cli delete-playlist <playlist_id|*> --store DIR
    python -m yark_spark.cli dump-thumbnails --store DIR --out DIR
    python -m yark_spark.cli query "<sql>"   --store DIR

Interactive confirmation gates (P6) become an explicit --yes flag; the
reference's per-row commits become one store swap per command (§3.3).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F


def _store(spark, path):
    from yark_spark.operators.store import ParquetStore

    return ParquetStore(spark, path)


def _load_store_tables(store):
    from yark_spark.schemas import ALL_TABLES

    return {name: store.read(name) for name in ALL_TABLES}


def _save(store, tables, names):
    # one cross-table atomic commit (stage all, flip one manifest) — a
    # killed archive run must never leave dims without their facts
    store.commit_tables({n: tables[n] for n in names})


def cmd_archive_video(spark, args) -> int:
    """§3.2 flagship path: info-dict JSON → FK-ordered upsert graph."""
    from yark_spark.operators.archive import archive_batch
    from yark_spark.sources.infodict import read_infodicts

    store = _store(spark, args.store)
    tables = _load_store_tables(store)
    out = archive_batch(tables, read_infodicts(spark, args.path), force=args.force)
    _save(store, out, ("users", "channels", "videos", "tags", "video_tags", "comments"))
    # count the committed tables: ``out`` is still the lazy upsert graph,
    # and counting it would run the whole graph again
    videos, comments = store.read("videos").count(), store.read("comments").count()
    print(f"archived: videos={videos} comments={comments}")
    return 0


def cmd_archive_history(spark, args) -> int:
    """§3.3 history path: JSON → dedup → append (one commit, not per-row)."""
    from yark_spark.operators.writes import insert_ignore
    from yark_spark.sources.takeout import dedupe_history, read_watch_history

    store = _store(spark, args.store)
    hist = store.read("history")
    raw = read_watch_history(spark, args.path)
    unavailable = raw.filter(F.col("video").isNull()).count()  # P5 counter
    incoming = dedupe_history(raw, existing=hist).withColumn(
        "history_id", F.xxhash64("video", "watched")
    ).select("history_id", "video", "watched")
    store.write("history", insert_ignore(hist, incoming, ["video", "watched"]))
    print(f"history: total={store.read('history').count()} unavailable={unavailable}")
    return 0


#: archive-playlist: distinct return code for "exists, needs --yes" so
#: callers (the REPL's overwrite confirmation) can tell the guarded case
#: from real failures (ADVICE r2 #4; generic failures stay rc=1).
RC_PLAYLIST_EXISTS = 3


def cmd_archive_playlist(spark, args) -> int:
    """§3.3 playlist path: CSV → delete-then-insert overwrite (W4) gated on
    --yes when the playlist already exists (P6; rc=RC_PLAYLIST_EXISTS)."""
    from yark_spark.operators.writes import delete_insert, insert_ignore
    from yark_spark.sources.takeout import read_playlist_csv

    store = _store(spark, args.store)
    playlists, playlist_videos = read_playlist_csv(spark, args.path)
    pid = playlists.first()["playlist_id"]
    existing = store.read("playlists")
    if existing.filter(F.col("playlist_id") == pid).count() > 0:
        if not args.yes:
            print(f"playlist {pid} exists; pass --yes to overwrite", file=sys.stderr)
            return RC_PLAYLIST_EXISTS
        store.commit_tables(
            {
                "playlists": delete_insert(existing, playlists, F.col("playlist_id") == pid),
                "playlist_videos": delete_insert(
                    store.read("playlist_videos"), playlist_videos, F.col("playlist") == pid
                ),
            }
        )
    else:
        store.commit_tables(
            {
                "playlists": insert_ignore(existing, playlists, ["playlist_id"]),
                "playlist_videos": insert_ignore(
                    store.read("playlist_videos"), playlist_videos, ["playlist", "video"]
                ),
            }
        )
    print(f"playlist {pid}: {playlist_videos.count()} videos")
    return 0


def cmd_lost(spark, args) -> int:
    """F5 work-list (`cmds/archive.py:356`). Streamed via toLocalIterator —
    the replay queue can be large; the driver holds one partition at a
    time, never the whole id list."""
    from yark_spark.operators.archive import lost_ids

    store = _store(spark, args.store)
    for r in lost_ids(_load_store_tables(store)).toLocalIterator():
        print(r["video_id"])
    return 0


def cmd_replay(spark, args) -> int:
    """P4 dead-letter replay (`cmds/archive.py:355-366`): lost ids →
    partition-parallel refetch → re-archive, end-to-end as DataFrames (the
    id set is never collected to the driver)."""
    from yark_spark.operators.archive import lost_ids, replay_lost
    from yark_spark.operators.release import materialize, release_now
    from yark_spark.sources.fetch import fetch_infodicts, load_fetcher, parse_fetched

    store = _store(spark, args.store)
    t = _load_store_tables(store)
    ids = lost_ids(t).withColumnRenamed("video_id", "id")
    # localCheckpoint: eager, materializes ONE fetch and cuts lineage. The
    # ~9 table writes + the two counts below are separate actions; without
    # this each would re-run the (non-deterministic, networked) fetcher,
    # re-fetching every lost id ~10x and risking mutually inconsistent
    # table writes (ADVICE r2 #1).
    fetched, _ = materialize(
        fetch_infodicts(ids, load_fetcher(args.fetcher)), checkpoint=True
    )
    raw, still_lost = parse_fetched(fetched)
    out, recovered = replay_lost(t, raw)
    store.commit_tables(out)  # all tables in one atomic snapshot flip
    print(f"recovered: {recovered.first()['recovered']}")
    print(f"still lost: {still_lost.count()}")
    release_now(fetched)
    return 0


def cmd_delete_video(spark, args) -> int:
    """W5 CASCADE (`cmds/archive.py:393-411`): wipe comments/video_tags/
    playlist_videos references, then the video row."""
    from yark_spark.operators.writes import cascade_delete

    if not args.yes:
        print("destructive: pass --yes to confirm", file=sys.stderr)
        return 1
    store = _store(spark, args.store)
    t = _load_store_tables(store)
    doomed = t["videos"].filter(F.col("video_id") == args.id).select("video_id")
    surviving, kids = cascade_delete(
        t["videos"],
        doomed,
        {
            "comments": (t["comments"], "video", "video_id"),
            "video_tags": (t["video_tags"], "video", "video_id"),
        },
    )
    # one atomic snapshot: children and parent flip together, so readers
    # never observe orphaned child rows mid-delete
    store.commit_tables(
        {
            "comments": kids["comments"],
            "video_tags": kids["video_tags"],
            "videos": surviving,
        }
    )
    print(f"deleted {args.id}")
    return 0


def cmd_delete_playlist(spark, args) -> int:
    """W5/W6 (`cmds/archive.py:418-427`): delete one playlist (CASCADE wipes
    its playlist_videos rows, `schema.sql:91`), or ALL playlists when the id
    is '*' — the reference's `DELETE FROM playlists;` confirm-gated path."""
    from yark_spark.operators.writes import cascade_delete, delete_all

    if not args.yes:
        print("destructive: pass --yes to confirm", file=sys.stderr)
        return 1
    store = _store(spark, args.store)
    playlists = store.read("playlists")
    children = {"playlist_videos": (store.read("playlist_videos"), "playlist", "playlist_id")}
    if args.id == "*":
        surviving, kids = delete_all(playlists, "playlist_id", children)
    else:
        doomed = playlists.filter(F.col("playlist_id") == args.id).select("playlist_id")
        surviving, kids = cascade_delete(playlists, doomed, children)
    # one atomic snapshot: children and parent flip together
    store.commit_tables(
        {"playlist_videos": kids["playlist_videos"], "playlists": surviving}
    )
    print(f"deleted playlist(s): {args.id}")
    return 0


def cmd_delete_channel(spark, args) -> int:
    """W5 RESTRICT (`schema.sql:67`): refuse while videos reference it."""
    from yark_spark.operators.writes import RestrictViolation, restrict_guard

    if not args.yes:
        print("destructive: pass --yes to confirm", file=sys.stderr)
        return 1
    store = _store(spark, args.store)
    t = _load_store_tables(store)
    keys = t["channels"].filter(F.col("channel_id") == args.id).select("channel_id")
    try:
        restrict_guard(t["videos"], "channel", keys)
    except RestrictViolation as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 1
    store.write("channels", t["channels"].join(keys, "channel_id", "left_anti"))
    print(f"deleted {args.id}")
    return 0


def cmd_dump_thumbnails(spark, args) -> int:
    """K2 (`cmds/archive.py:201-221`): project (id, thumbnail, url), skip
    NULLs, write bytes to files — via foreachPartition so no driver
    collect."""
    from yark_spark.functions.scalar import url_extension

    store = _store(spark, args.store)
    out_dir = os.path.abspath(args.out)
    os.makedirs(out_dir, exist_ok=True)
    rows = (
        store.read("videos")
        .filter(F.col("thumbnail").isNotNull())
        .select("video_id", "thumbnail", url_extension(F.col("thumbnail_url")).alias("ext"))
    )

    def write_partition(it):
        for r in it:
            path = os.path.join(out_dir, f"{r['video_id']}.{r['ext'] or 'jpg'}")
            if not os.path.exists(path):  # skip-existing (`:213`)
                with open(path, "wb") as f:
                    f.write(bytes(r["thumbnail"]))

    rows.foreachPartition(write_partition)
    print(f"dumped to {out_dir}")
    return 0


def cmd_query(spark, args) -> int:
    """The analytical surface the reference lacks: SQL over the archive."""
    from yark_spark.schemas import ALL_TABLES

    store = _store(spark, args.store)
    for name in ALL_TABLES:
        store.read(name).createOrReplaceTempView(name)
    spark.sql(args.sql).show(args.limit, truncate=False)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="yark_spark", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, path_arg=None, path_help=""):
        if path_arg:
            sp.add_argument(path_arg, help=path_help)
        sp.add_argument("--store", required=True, help="ParquetStore directory")
        return sp

    sp = common(sub.add_parser("archive-video"), "path", "info-dict JSON file")
    sp.add_argument("--force", action="store_true", help="re-archive existing ids")
    common(sub.add_parser("archive-history"), "path", "watch-history.json")
    sp = common(sub.add_parser("archive-playlist"), "path", "Takeout playlist CSV")
    sp.add_argument("--yes", action="store_true")
    common(sub.add_parser("lost"))
    sp = common(sub.add_parser("replay"))
    sp.add_argument(
        "--fetcher",
        required=True,
        help="dotted path 'pkg.module:function' of the picklable fetcher",
    )
    sp = common(sub.add_parser("delete-video"), "id", "video id")
    sp.add_argument("--yes", action="store_true")
    sp = common(sub.add_parser("delete-channel"), "id", "channel id")
    sp.add_argument("--yes", action="store_true")
    sp = common(sub.add_parser("delete-playlist"), "id", "playlist id or '*' for all")
    sp.add_argument("--yes", action="store_true")
    sp = common(sub.add_parser("dump-thumbnails"))
    sp.add_argument("--out", required=True)
    sp = common(sub.add_parser("query"), "sql", "SQL over the archive tables")
    sp.add_argument("--limit", type=int, default=20)
    return p


COMMANDS = {
    "archive-video": cmd_archive_video,
    "archive-history": cmd_archive_history,
    "archive-playlist": cmd_archive_playlist,
    "lost": cmd_lost,
    "replay": cmd_replay,
    "delete-video": cmd_delete_video,
    "delete-channel": cmd_delete_channel,
    "delete-playlist": cmd_delete_playlist,
    "dump-thumbnails": cmd_dump_thumbnails,
    "query": cmd_query,
}


def main(argv=None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from yark_spark.session import get_spark

        spark = get_spark("yark_spark-cli", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
        spark.sparkContext.setLogLevel("ERROR")
    try:
        return COMMANDS[args.command](spark, args)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
