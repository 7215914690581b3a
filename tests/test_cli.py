"""CLI command tests (P7 surface) — driven through main(argv) with the
shared session (subprocess startup is ~10 s/command; the verify recipe
covers one real subprocess run)."""

import json

import pytest
from pyspark.sql import functions as F

from yark_spark import cli
from yark_spark.operators.store import ParquetStore

INFODICTS = [
    {
        "id": "abcdefghij1",
        "fulltitle": "T1",
        "channel_id": "ch1",
        "channel": "Chan",
        "uploader_id": "u1",
        "uploader": "U",
        "duration": 5,
        "filesize_approx": 9,
        "thumbnail": "https://img/x.jpg?sig=1",
        "tags": ["x"],
        "comments": [],
    },
    {"id": "bad"},
]


@pytest.fixture()
def store_dir(tmp_path):
    return str(tmp_path / "store")


def _archive(spark, tmp_path, store_dir):
    p = tmp_path / "batch.json"
    p.write_text(json.dumps(INFODICTS))
    rc = cli.main(["archive-video", str(p), "--store", store_dir], spark=spark)
    assert rc == 0


def test_archive_and_lost_roundtrip(spark, tmp_path, store_dir, capsys):
    _archive(spark, tmp_path, store_dir)
    rc = cli.main(["lost", "--store", store_dir], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "bad" in out


def _video(vid, n_comments):
    return {
        "id": vid,
        "fulltitle": f"title {vid}",
        "channel_id": "ch1",
        "channel": "Chan",
        "uploader_id": "u1",
        "uploader": "U",
        "duration": 5,
        "tags": ["x"],
        "comments": [
            {
                "id": f"{vid}-c{k}",
                "author_id": f"a{k}",
                "author": f"A{k}",
                "text": f"comment {k}",
                "author_is_uploader": False,
                "parent": "root",
                "timestamp": 1_700_000_000 + k,
            }
            for k in range(n_comments)
        ],
    }


def test_archive_video_prints_committed_counts(spark, tmp_path, store_dir, capsys):
    """The printed counts are the store's totals after the commit: a
    second batch with one known and one new video adds only the new
    video and its comments."""
    first = tmp_path / "first.json"
    first.write_text(json.dumps([_video("abcdefghij1", 3), _video("abcdefghij2", 2)]))
    second = tmp_path / "second.json"
    second.write_text(json.dumps([_video("abcdefghij2", 2), _video("abcdefghij3", 4)]))
    assert cli.main(["archive-video", str(first), "--store", store_dir], spark=spark) == 0
    assert capsys.readouterr().out == "archived: videos=2 comments=5\n"
    assert cli.main(["archive-video", str(second), "--store", store_dir], spark=spark) == 0
    assert capsys.readouterr().out == "archived: videos=3 comments=9\n"


def test_history_command(spark, tmp_path, store_dir):
    p = tmp_path / "wh.json"
    p.write_text(
        json.dumps(
            [
                {"titleUrl": "https://youtube.com/watch?v=abcdefghij1", "time": "2024-01-01T10:00:00Z"},
                {"titleUrl": "https://youtube.com/watch?v=abcdefghij1", "time": "2024-01-01T10:00:00Z"},
            ]
        )
    )
    rc = cli.main(["archive-history", str(p), "--store", store_dir], spark=spark)
    assert rc == 0
    store = ParquetStore(spark, store_dir)
    assert store.read("history").count() == 1  # F4 dedup
    # re-run: idempotent (anti-join vs store)
    rc = cli.main(["archive-history", str(p), "--store", store_dir], spark=spark)
    assert rc == 0
    assert store.read("history").count() == 1


def test_playlist_overwrite_gate(spark, tmp_path, store_dir, capsys):
    p = tmp_path / "My Mix videos.csv"
    p.write_text("Video ID,Time Added\nabcdefghij1,2024-01-01 10:00:00\n")
    assert cli.main(["archive-playlist", str(p), "--store", store_dir], spark=spark) == 0
    # second run without --yes → refused (P6 confirm barrier)
    assert cli.main(["archive-playlist", str(p), "--store", store_dir], spark=spark) == cli.RC_PLAYLIST_EXISTS
    assert "--yes" in capsys.readouterr().err
    assert (
        cli.main(["archive-playlist", str(p), "--store", store_dir, "--yes"], spark=spark) == 0
    )
    store = ParquetStore(spark, store_dir)
    assert store.read("playlist_videos").count() == 1  # overwrite, not append


def test_delete_video_cascades(spark, tmp_path, store_dir):
    _archive(spark, tmp_path, store_dir)
    store = ParquetStore(spark, store_dir)
    assert store.read("video_tags").count() == 1
    assert cli.main(["delete-video", "abcdefghij1", "--store", store_dir], spark=spark) == 1  # no --yes
    assert (
        cli.main(["delete-video", "abcdefghij1", "--store", store_dir, "--yes"], spark=spark) == 0
    )
    assert store.read("videos").filter(F.col("video_id") == "abcdefghij1").count() == 0
    assert store.read("video_tags").count() == 0  # cascaded


def test_delete_playlist_star_deletes_all(spark, tmp_path, store_dir, capsys):
    """W6 `delete-playlist '*' --yes` (`cmds/archive.py:421-425`)."""
    for name in ("A videos.csv", "B videos.csv"):
        p = tmp_path / name
        p.write_text("Video ID,Time Added\nabcdefghij1,2024-01-01 10:00:00\n")
        assert cli.main(["archive-playlist", str(p), "--store", store_dir], spark=spark) == 0
    store = ParquetStore(spark, store_dir)
    assert store.read("playlists").count() == 2
    # confirm gate (P6)
    assert cli.main(["delete-playlist", "*", "--store", store_dir], spark=spark) == 1
    assert "--yes" in capsys.readouterr().err
    # single-id delete cascades only that playlist's rows
    pid = store.read("playlists").orderBy("playlist_id").collect()[0]["playlist_id"]
    assert cli.main(["delete-playlist", pid, "--store", store_dir, "--yes"], spark=spark) == 0
    assert store.read("playlists").count() == 1
    assert store.read("playlist_videos").count() == 1
    # star wipes the rest
    assert cli.main(["delete-playlist", "*", "--store", store_dir, "--yes"], spark=spark) == 0
    assert store.read("playlists").count() == 0
    assert store.read("playlist_videos").count() == 0


def test_delete_channel_restricted(spark, tmp_path, store_dir, capsys):
    _archive(spark, tmp_path, store_dir)
    rc = cli.main(["delete-channel", "ch1", "--store", store_dir, "--yes"], spark=spark)
    assert rc == 1  # RESTRICT: videos still reference ch1
    assert "refused" in capsys.readouterr().err


def test_query_command(spark, tmp_path, store_dir, capsys):
    _archive(spark, tmp_path, store_dir)
    rc = cli.main(
        ["query", "SELECT count(*) AS n FROM videos", "--store", store_dir], spark=spark
    )
    assert rc == 0
    assert "2" in capsys.readouterr().out  # good row + lost stub


def test_load_fetcher_resolves_and_rejects():
    from yark_spark.sources.fetch import load_fetcher

    assert load_fetcher("json:dumps")("x") == '"x"'
    with pytest.raises(ValueError):
        load_fetcher("no-colon")
    with pytest.raises(TypeError):
        load_fetcher("json:__name__")


def test_replay_command_streams_lost_queue(spark, tmp_path, store_dir, capsys):
    """The replay path is DataFrames end-to-end (VERDICT r1 item 7): lost
    ids -> fetch -> re-archive without collecting the id set. json:dumps is
    a picklable 'fetcher' whose payload fails infodict parsing, so the lost
    stub stays lost — the wiring (fetch join, counts, store writes) is what
    this pins."""
    _archive(spark, tmp_path, store_dir)
    rc = cli.main(
        ["replay", "--store", store_dir, "--fetcher", "json:dumps"], spark=spark
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "recovered: 0" in out
    # json:dumps "succeeds" at fetch level (payload present), so the fetch
    # quarantine is empty; the invalid payload is re-quarantined by
    # archive_batch, which the store-level assertion below pins.
    assert "still lost: 0" in out
    store = ParquetStore(spark, store_dir)
    assert store.read("videos").filter(F.col("availability") == "lost").count() == 1


def _nullable(schema):
    from pyspark.sql.types import StructField, StructType

    return StructType([StructField(f.name, f.dataType, True) for f in schema])


def test_written_tables_infer_their_declared_schema(spark, tmp_path, store_dir):
    """The store reads a written table with the schema in its footer, so
    the CLI's writes must carry the declared types: the schema Spark
    infers from every committed version dir is ``ALL_TABLES[name]`` with
    every field nullable."""
    import os

    from yark_spark.schemas import ALL_TABLES

    batch = [dict(INFODICTS[0], comments=[
        {"id": "c1", "author_id": "u2", "author": "A", "text": "hi",
         "like_count": 1, "is_favorited": False, "author_is_uploader": False,
         "parent": "root", "timestamp": 1700000000},
    ]), INFODICTS[1]]
    p = tmp_path / "batch.json"
    p.write_text(json.dumps(batch))
    wh = tmp_path / "wh.json"
    wh.write_text(json.dumps(
        [{"titleUrl": "https://youtube.com/watch?v=abcdefghij1", "time": "2024-01-01T10:00:00Z"}]
    ))
    pl = tmp_path / "Mix videos.csv"
    pl.write_text("Video ID,Time Added\nabcdefghij1,2024-01-01 10:00:00\n")
    for argv in (
        ["archive-video", str(p)],
        ["archive-history", str(wh)],
        ["archive-playlist", str(pl)],
    ):
        assert cli.main([*argv, "--store", store_dir], spark=spark) == 0
    store = ParquetStore(spark, store_dir)
    written = store._load_manifest()
    assert set(written) == set(ALL_TABLES)
    for name, v in written.items():
        inferred = spark.read.parquet(os.path.join(store_dir, name, f"v{v}")).schema
        assert inferred == _nullable(ALL_TABLES[name]), name
        assert store.read(name).schema == inferred, name


def test_playlist_updated_keeps_naive_datetime_semantics(spark, tmp_path, monkeypatch):
    """``read_playlist_csv(ingested_at=<naive datetime>)`` reads the value
    as a wall-clock time in the driver's local timezone, as
    ``createDataFrame`` of a Python row does; an aware datetime is exact."""
    import datetime
    import time

    from yark_spark.sources.takeout import read_playlist_csv

    pl = tmp_path / "Mix videos.csv"
    pl.write_text("Video ID,Time Added\nabcdefghij1,2024-01-01 10:00:00\n")
    naive = datetime.datetime(2024, 3, 10, 1, 30, 15, 250)
    aware = datetime.datetime(
        2024, 7, 1, 14, 0, tzinfo=datetime.timezone(datetime.timedelta(hours=2))
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = {}
        for at in (naive, aware):
            playlists, _ = read_playlist_csv(spark, str(pl), ingested_at=at)
            got[at] = playlists.select(F.unix_micros("updated")).first()[0]
            assert got[at] == spark.createDataFrame([(at,)], "u timestamp").select(
                F.unix_micros("u")
            ).first()[0]
    finally:
        monkeypatch.undo()
        time.tzset()
    # 01:30:15 EST (DST starts at 02:00 that day) is 06:30:15 UTC
    assert got[naive] == 1710052215 * 10**6 + 250
    assert got[aware] == 1719835200 * 10**6
    assert playlists.first()["visibility"] == "Local"
