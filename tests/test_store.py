"""ParquetStore version retention (ADVICE r1, store.py): a lazy DataFrame
read before a write must stay consumable after the write (the old version
is retained), and vacuum reclaims non-current versions."""

import os

from yark_spark.operators.store import ParquetStore


def _versions(root, name):
    tdir = os.path.join(root, name)
    return sorted(d for d in os.listdir(tdir) if d.startswith("v"))


def test_reader_survives_one_write(spark, tmp_path):
    root = str(tmp_path / "store")
    store = ParquetStore(spark, root)
    store.write("t", spark.range(5).toDF("id"))
    old = store.read("t")  # lazy — not yet consumed
    store.write("t", spark.range(9).toDF("id"))
    # the v0 reader still resolves: v0 was retained by the v1 write
    assert old.count() == 5
    assert store.read("t").count() == 9
    assert _versions(root, "t") == ["v0", "v1"]


def test_gc_keeps_only_retain_versions(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "store"), retain=2)
    for n in range(4):
        store.write("t", spark.range(n + 1).toDF("id"))
    assert _versions(str(tmp_path / "store"), "t") == ["v2", "v3"]
    assert store.read("t").count() == 4


def test_vacuum_drops_non_current(spark, tmp_path):
    root = str(tmp_path / "store")
    store = ParquetStore(spark, root)
    store.write("t", spark.range(3).toDF("id"))
    store.write("t", spark.range(6).toDF("id"))
    store.vacuum()
    assert _versions(root, "t") == ["v1"]
    assert store.read("t").count() == 6


# ---------------------------------------------------------------------------
# Round 14: Delta-shaped time-travel log + self-compacting checkpoints
# ---------------------------------------------------------------------------


def test_store_log_time_travel(spark, tmp_path):
    import os

    import pytest

    from yark_spark.operators.store import ParquetStore

    store = ParquetStore(
        spark, str(tmp_path / "s"), retain=50, log_checkpoint_interval=5
    )

    def df(vals):
        return spark.createDataFrame([(v,) for v in vals], "x long")

    heads = {}
    for i in range(8):
        store.write("t", df(list(range(i + 1))))
        heads[store.log_version()] = i + 1
    head = store.log_version()
    assert head == 7
    # checkpoint fired at 5: commits 0..5 compacted into parquet
    ld = tmp_path / "s" / "_delta_log"
    names = sorted(os.listdir(ld))
    assert "00000000000000000005.checkpoint.parquet" in names
    assert not any(n == "00000000000000000003.json" for n in names)
    # checkpointed version + later json versions stay addressable
    assert store.read_at("t", 5).count() == heads[5]
    assert store.read_at("t", 6).count() == heads[6]
    assert store.read_at("t", head).count() == heads[head]
    # compacted mid-history versions are a typed error, not a wrong answer
    with pytest.raises(ValueError, match="compacted"):
        store.snapshot_at(3)
    with pytest.raises(ValueError, match="out of range"):
        store.snapshot_at(99)


def test_store_log_checkpoint_readable_by_pyarrow(spark, tmp_path):
    """The self-compaction checkpoint is REAL parquet (the round-14
    struct-column writer) — pyarrow must read the action rows."""
    import pyarrow.parquet as pq

    from yark_spark.operators.store import ParquetStore

    store = ParquetStore(
        spark, str(tmp_path / "s"), retain=50, log_checkpoint_interval=2
    )

    def df(vals):
        return spark.createDataFrame([(v,) for v in vals], "x long")

    for i in range(3):
        store.write("t", df([i]))
    ck = tmp_path / "s" / "_delta_log" / "00000000000000000002.checkpoint.parquet"
    t = pq.read_table(str(ck))
    adds = [a for a in t.column("add").to_pylist() if a is not None]
    assert adds == [{"path": "t/v2", "size": None}]
    metas = [m for m in t.column("metaData").to_pylist() if m is not None]
    assert metas == [{"id": "yark-store"}]


def test_store_log_reconcile_crash_window(spark, tmp_path):
    import os

    from yark_spark.operators.store import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "s"), retain=50)

    def df(vals):
        return spark.createDataFrame([(v,) for v in vals], "x long")

    store.write("t", df([1]))
    store.write("t", df([1, 2]))
    ld = str(tmp_path / "s" / "_delta_log")
    # simulate the crash: manifest flipped but log append lost
    last = sorted(f for f in os.listdir(ld) if f.endswith(".json"))[-1]
    os.remove(os.path.join(ld, last))
    fresh = ParquetStore(spark, str(tmp_path / "s"), retain=50)
    assert fresh.snapshot_at() == fresh._load_manifest()
    assert fresh.read_at("t", fresh.log_version()).count() == 2


def test_store_log_multi_table_commit(spark, tmp_path):
    from yark_spark.operators.store import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "s"), retain=50)

    def df(vals):
        return spark.createDataFrame([(v,) for v in vals], "x long")

    store.commit_tables({"a": df([1]), "b": df([1, 2])})
    v0 = store.log_version()
    store.commit_tables({"a": df([1, 2, 3])})
    assert store.read_at("a", v0).count() == 1
    assert store.read_at("b", v0).count() == 2
    assert store.read_at("a", store.log_version()).count() == 3
    # b unchanged at head
    assert store.snapshot_at()["b"] == store.snapshot_at(v0)["b"]


# ---------------------------------------------------------------------------
# Reads the driver can answer without a job: unwritten archive tables are
# empty LocalRelations, written tables carry their footer schema
# ---------------------------------------------------------------------------


def test_unwritten_archive_table_is_empty_local_relation(spark, tmp_path):
    from yark_spark.schemas import ALL_TABLES

    store = ParquetStore(spark, str(tmp_path / "s"))
    for name, schema in ALL_TABLES.items():
        df = store.read(name)
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", name
        assert plan.data().isEmpty(), name
        assert df.schema == schema, name


def test_read_of_written_table_starts_no_job(spark, tmp_path):
    from yark_spark.schemas import ALL_TABLES

    store = ParquetStore(spark, str(tmp_path / "s"))
    store.write("t", spark.range(5).selectExpr("id", "cast(id as string) s"))
    store.write("tags", store.read("tags"))
    sc = spark.sparkContext
    group = "test_read_of_written_table_starts_no_job"
    sc.setJobGroup(group, group)
    try:
        t, tags = store.read("t"), store.read("tags")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    # the footer schema is the one Spark's inference gives
    assert t.schema == spark.read.parquet(str(tmp_path / "s" / "t" / "v0")).schema
    assert [f.name for f in tags.schema] == [f.name for f in ALL_TABLES["tags"]]
    assert t.count() == 5 and tags.count() == 0


def test_archive_batch_on_empty_store_has_no_python_rdd(spark, tmp_path):
    import json

    from yark_spark.operators.archive import archive_batch, empty_store
    from yark_spark.sources.infodict import read_infodicts

    p = tmp_path / "batch.json"
    p.write_text(
        json.dumps(
            [
                {"id": "abcdefghij1", "fulltitle": "T1", "channel_id": "ch1",
                 "channel": "Chan", "uploader_id": "u1", "uploader": "U",
                 "tags": ["x"], "comments": []},
                {"id": "bad"},
            ]
        )
    )
    out = archive_batch(empty_store(spark), read_infodicts(spark, str(p)))
    for name, df in out.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" not in plan, name
    assert out["videos"].count() == 2  # the good row + the 'lost' stub
