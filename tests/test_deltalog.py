"""Delta-protocol snapshot tests (round 13): log replay semantics
(last action wins, remove → vanish, re-add → resurrect at the new
version), integrity cross-checks, and typed boundaries."""

import json

import pytest

from yark_spark.operators.containers import tar_build
from yark_spark.operators.deltalog import delta_live_files, delta_snapshot_rows
from yark_spark.operators.parquet_write import parquet_write


def _pq(ids):
    return parquet_write(
        {"doc_id": list(ids), "text": [f"t{i}" for i in ids]},
        types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
        codec="SNAPPY",
    )


def _commit(version, *actions):
    return (
        f"_delta_log/{version:020d}.json",
        "\n".join(json.dumps(a) for a in actions).encode(),
    )


_PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
_META = {"metaData": {"id": "t", "format": {"provider": "parquet"}}}


def _add(path, blob):
    return {"add": {"path": path, "size": len(blob), "dataChange": True}}


def _rm(path):
    return {"remove": {"path": path, "dataChange": True}}


def _table(commits, files):
    return tar_build(list(commits) + list(files))


def test_replay_remove_and_resurrect():
    a, b, b2 = _pq([1, 2]), _pq([3, 4]), _pq([30, 40])
    blob = _table(
        [
            _commit(0, _PROTO, _META, _add("a.parquet", a), _add("b.parquet", b)),
            _commit(1, _rm("b.parquet")),
            _commit(2, _add("b.parquet", b2)),  # compaction rewrite
        ],
        [("a.parquet", a), ("b.parquet", b2)],
    )
    live = delta_live_files(blob)
    assert [(p, v) for p, v, _ in live] == [("a.parquet", 0), ("b.parquet", 2)]
    rows = delta_snapshot_rows(blob, ["doc_id"])
    assert sorted((v, r["doc_id"]) for v, r in rows) == [
        (0, 1), (0, 2), (2, 30), (2, 40),
    ]


def test_gap_in_versions_is_typed():
    a = _pq([1])
    blob = _table(
        [_commit(0, _PROTO, _META, _add("a.parquet", a)), _commit(2)],
        [("a.parquet", a)],
    )
    with pytest.raises(ValueError, match="gapless"):
        delta_live_files(blob)


def test_size_mismatch_is_typed():
    a = _pq([1])
    bad = dict(_add("a.parquet", a))
    bad["add"]["size"] += 1
    blob = _table([_commit(0, _PROTO, _META, bad)], [("a.parquet", a)])
    with pytest.raises(ValueError, match="size mismatch"):
        delta_live_files(blob)


def test_missing_file_and_metadata_typed():
    blob = _table(
        [_commit(0, _PROTO, _META, {"add": {"path": "ghost.parquet", "size": 1}})],
        [],
    )
    with pytest.raises(ValueError, match="missing"):
        delta_live_files(blob)
    a = _pq([1])
    blob = _table([_commit(0, _PROTO, _add("a.parquet", a))], [("a.parquet", a)])
    with pytest.raises(ValueError, match="metaData"):
        delta_live_files(blob)


def test_reader_version_gate():
    # mrv 2 (column mapping) READS since round 14 s3; a mapping-free
    # mrv-2 table resolves with plain logical names. mrv 4 stays typed.
    a = _pq([1])
    proto2 = {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
    blob = _table(
        [_commit(0, proto2, _META, _add("a.parquet", a))], [("a.parquet", a)]
    )
    assert len(delta_live_files(blob)) == 1
    proto4 = {"protocol": {"minReaderVersion": 4}}
    blob = _table(
        [_commit(0, proto4, _META, _add("a.parquet", a))], [("a.parquet", a)]
    )
    with pytest.raises(NotImplementedError, match="minReaderVersion"):
        delta_live_files(blob)


def test_checkpoint_orphan_is_typed():
    # A checkpoint parquet with NO _last_checkpoint pointer is a
    # corrupt table (round 13 s3 closed the former NotImplementedError
    # boundary — checkpoints now replay; see the tests below).
    a = _pq([1])
    blob = _table(
        [
            _commit(0, _PROTO, _META, _add("a.parquet", a)),
            ("_delta_log/00000000000000000000.checkpoint.parquet", b"x"),
        ],
        [("a.parquet", a)],
    )
    with pytest.raises(ValueError, match="checkpoint"):
        delta_live_files(blob)


def test_empty_commit_is_fine():
    a = _pq([5])
    blob = _table(
        [_commit(0, _PROTO, _META, _add("a.parquet", a)), _commit(1)],
        [("a.parquet", a)],
    )
    assert [(p, v) for p, v, _ in delta_live_files(blob)] == [("a.parquet", 0)]


# ---------------------------------------------------------------------------
# Parquet checkpoints (round 13 s3)
# ---------------------------------------------------------------------------

import io

import pyarrow as pa
import pyarrow.parquet as pq


def _checkpoint(rows):
    """rows: list of dicts with optional 'add'/'remove'/'metaData'/
    'protocol' keys — one action per row, pyarrow nested-struct wire."""
    add_t = pa.struct([("path", pa.string()), ("size", pa.int64())])
    rm_t = pa.struct([("path", pa.string())])
    md_t = pa.struct([("id", pa.string())])
    pr_t = pa.struct([("minReaderVersion", pa.int32())])
    buf = io.BytesIO()
    pq.write_table(
        pa.table(
            {
                "protocol": pa.array([r.get("protocol") for r in rows], type=pr_t),
                "metaData": pa.array([r.get("metaData") for r in rows], type=md_t),
                "add": pa.array([r.get("add") for r in rows], type=add_t),
                "remove": pa.array([r.get("remove") for r in rows], type=rm_t),
            }
        ),
        buf,
    )
    return buf.getvalue()


def _ckpt_members(version, ckpt, last=None):
    return [
        (
            "_delta_log/_last_checkpoint",
            json.dumps(last or {"version": version}).encode(),
        ),
        (f"_delta_log/{version:020d}.checkpoint.parquet", ckpt),
    ]


_CK_BASE = [
    {"protocol": {"minReaderVersion": 1}},
    {"metaData": {"id": "t"}},
]


def test_checkpoint_seeds_state_without_early_commits():
    a, c, d = _pq([1, 2]), _pq([5, 6]), _pq([7, 8])
    ckpt = _checkpoint(
        _CK_BASE
        + [
            {"add": {"path": "a.parquet", "size": len(a)}},
            {"add": {"path": "b.parquet", "size": 999}},  # removed below
            {"remove": {"path": "expired.parquet"}},  # old tombstone
        ]
    )
    blob = _table(
        _ckpt_members(2, ckpt)
        + [
            _commit(3, _add("c.parquet", c)),
            _commit(4, _rm("b.parquet"), _add("d.parquet", d)),
        ],
        [("a.parquet", a), ("c.parquet", c), ("d.parquet", d)],
        # b.parquet vacuumed: removed files' bytes must never be read
    )
    live = delta_live_files(blob)
    assert [(p, v) for p, v, _ in live] == [
        ("a.parquet", 2), ("c.parquet", 3), ("d.parquet", 4),
    ]


def test_checkpoint_commit_gap_is_typed():
    a = _pq([1])
    ckpt = _checkpoint(_CK_BASE + [{"add": {"path": "a.parquet", "size": len(a)}}])
    blob = _table(
        _ckpt_members(2, ckpt) + [_commit(4, _add("a.parquet", a))],
        [("a.parquet", a)],
    )
    with pytest.raises(ValueError, match="gapless"):
        delta_live_files(blob)


def test_checkpoint_missing_parquet_is_typed():
    blob = _table(
        [("_delta_log/_last_checkpoint", json.dumps({"version": 2}).encode())],
        [],
    )
    with pytest.raises(ValueError, match="names missing"):
        delta_live_files(blob)


def test_checkpoint_without_pointer_is_typed():
    ckpt = _checkpoint(_CK_BASE)
    blob = _table(
        [(f"_delta_log/{2:020d}.checkpoint.parquet", ckpt), _commit(0, _PROTO, _META)],
        [],
    )
    with pytest.raises(ValueError, match="without _last_checkpoint"):
        delta_live_files(blob)


def test_checkpoint_without_metadata_is_typed():
    a = _pq([1])
    ckpt = _checkpoint(
        [{"protocol": {"minReaderVersion": 1}},
         {"add": {"path": "a.parquet", "size": len(a)}}]
    )
    blob = _table(_ckpt_members(2, ckpt), [("a.parquet", a)])
    with pytest.raises(ValueError, match="no metaData"):
        delta_live_files(blob)


def test_checkpoint_reader_version_gate():
    # mrv 1/2/3 all read since round 15 (2 = column mapping: mapped-
    # table checkpoints resolve); anything higher stays typed
    ckpt = _checkpoint(
        [{"protocol": {"minReaderVersion": 2}}, {"metaData": {"id": "t"}}]
    )
    blob = _table(_ckpt_members(2, ckpt), [])
    assert delta_live_files(blob) == []
    ckpt4 = _checkpoint(
        [{"protocol": {"minReaderVersion": 4}}, {"metaData": {"id": "t"}}]
    )
    blob4 = _table(_ckpt_members(2, ckpt4), [])
    with pytest.raises(NotImplementedError, match="minReaderVersion"):
        delta_live_files(blob4)


# ---------------------------------------------------------------------------
# Round 14: checkpoint WRITING + deletion vectors
# ---------------------------------------------------------------------------

from yark_spark.operators.containers import tar_members  # noqa: E402
from yark_spark.operators.deltalog import (  # noqa: E402
    delta_checkpoint_table,
    delta_live_files_dv,
)
from zlib import crc32  # noqa: E402
from yark_spark.operators.roaring import (  # noqa: E402
    roaring64_array_serialize,
    z85_encode,
)


def _three_commit_table():
    a, b, c = _pq([1, 2]), _pq([3, 4]), _pq([5, 6, 7])
    blob = _table(
        [
            _commit(0, _PROTO, _META, _add("a.parquet", a), _add("b.parquet", b)),
            _commit(1, _add("c.parquet", c)),
            _commit(2, _rm("b.parquet")),
        ],
        [("a.parquet", a), ("b.parquet", b), ("c.parquet", c)],
    )
    return blob


@pytest.mark.parametrize("at", [0, 1, 2, None])
def test_checkpoint_replay_equivalence(at):
    blob = _three_commit_table()
    want = [(p, v) for p, v, _ in delta_live_files(blob)]
    ck = delta_checkpoint_table(blob, at)
    got = [(p, v) for p, v, _ in delta_live_files(ck)]
    assert [p for p, _ in got] == [p for p, _ in want]
    # versions ≤ checkpoint collapse to the checkpoint version
    v_at = 2 if at is None else at
    for (p, wv), (_, gv) in zip(want, got):
        assert gv == (wv if wv > v_at else v_at), (p, wv, gv, at)


def test_checkpoint_deletes_covered_commits():
    ck = delta_checkpoint_table(_three_commit_table(), 1)
    names = [n for n, _ in tar_members(ck)]
    assert "_delta_log/00000000000000000000.json" not in names
    assert "_delta_log/00000000000000000001.json" not in names
    assert "_delta_log/00000000000000000002.json" in names
    assert "_delta_log/_last_checkpoint" in names
    assert "_delta_log/00000000000000000001.checkpoint.parquet" in names


def test_checkpoint_guards():
    blob = _three_commit_table()
    with pytest.raises(ValueError, match="outside log range"):
        delta_checkpoint_table(blob, 9)
    ck = delta_checkpoint_table(blob, 2)
    # round 15: re-checkpointing rolls the existing checkpoint forward
    # instead of refusing — the state is unchanged
    ck2 = delta_checkpoint_table(ck)
    assert delta_snapshot_rows(ck2, ["doc_id"]) == delta_snapshot_rows(
        ck, ["doc_id"]
    )
    with pytest.raises(ValueError, match="outside log range"):
        delta_checkpoint_table(ck, 9)


def _dv_inline(kill):
    bm = roaring64_array_serialize(kill)
    pad = (4 - len(bm) % 4) % 4
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(bm + b"\x00" * pad),
        "sizeInBytes": len(bm),
        "cardinality": len(kill),
    }


def _dv_file(kill):
    bm = roaring64_array_serialize(kill)
    blob = bytes([1]) + len(bm).to_bytes(4, "big") + bm + crc32(bm).to_bytes(4, "big")
    desc = {
        "storageType": "p",
        "pathOrInlineDv": "dv/d.bin",
        "offset": 1,
        "sizeInBytes": len(bm),
        "cardinality": len(kill),
    }
    return desc, blob


_PROTO_V3 = {
    "protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
    }
}


def test_dv_inline_and_ondisk_apply():
    a = _pq([10, 11, 12, 13])
    b = _pq([20, 21, 22])
    desc, dvfile = _dv_file({2})
    blob = _table(
        [
            _commit(0, _PROTO_V3, _META, _add("a.parquet", a), _add("b.parquet", b)),
            _commit(
                1,
                {"add": {"path": "a.parquet", "size": len(a),
                         "deletionVector": _dv_inline({1, 3})}},
                {"add": {"path": "b.parquet", "size": len(b),
                         "deletionVector": desc}},
            ),
        ],
        [("a.parquet", a), ("b.parquet", b), ("dv/d.bin", dvfile)],
    )
    rows = delta_snapshot_rows(blob, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == [10, 12, 20, 21]
    # the 3-tuple API refuses DV tables instead of returning phantoms
    with pytest.raises(ValueError, match="deletion vectors"):
        delta_live_files(blob)
    # the DV-aware API exposes the dead sets
    dead = {p: d for p, _, _, d in delta_live_files_dv(blob)}
    assert dead["a.parquet"] == {1, 3} and dead["b.parquet"] == {2}


def test_dv_integrity_typed_errors():
    a = _pq([1, 2, 3])
    desc, dvfile = _dv_file({0})

    def mk(desc2, dvblob):
        return _table(
            [
                _commit(0, _PROTO_V3, _META, _add("a.parquet", a)),
                _commit(1, {"add": {"path": "a.parquet", "size": len(a),
                                    "deletionVector": desc2}}),
            ],
            [("a.parquet", a), ("dv/d.bin", dvblob)],
        )

    with pytest.raises(ValueError, match="checksum"):
        delta_snapshot_rows(mk(desc, dvfile[:-4] + b"\x00" * 4), ["doc_id"])
    with pytest.raises(ValueError, match="cardinality"):
        delta_snapshot_rows(mk({**desc, "cardinality": 5}, dvfile), ["doc_id"])
    with pytest.raises(ValueError, match="format version"):
        delta_snapshot_rows(mk(desc, b"\x02" + dvfile[1:]), ["doc_id"])
    with pytest.raises(ValueError, match="missing"):
        delta_snapshot_rows(
            mk({**desc, "pathOrInlineDv": "dv/absent.bin"}, dvfile), ["doc_id"]
        )
    # u-style addressing decodes since round 15 — but only through the
    # derived deletion_vector_<uuid>.bin path, so a u descriptor whose
    # file is absent is a typed missing-file error
    with pytest.raises(ValueError, match="missing"):
        delta_snapshot_rows(
            mk({**desc, "storageType": "u",
                "pathOrInlineDv": z85_encode(b"\x00" * 16)}, dvfile),
            ["doc_id"],
        )


def test_protocol_v3_feature_gate():
    a = _pq([1])
    bad = {
        "protocol": {
            "minReaderVersion": 3,
            "readerFeatures": ["deletionVectors", "collations-preview"],
        }
    }
    blob = _table(
        [_commit(0, bad, _META, _add("a.parquet", a))], [("a.parquet", a)]
    )
    with pytest.raises(NotImplementedError, match="collations-preview"):
        delta_snapshot_rows(blob, ["doc_id"])
    # v2Checkpoint reads since round 16 (manifest + sidecars)
    ok_v2 = {
        "protocol": {
            "minReaderVersion": 3,
            "readerFeatures": ["deletionVectors", "v2Checkpoint"],
        }
    }
    blob_v2 = _table(
        [_commit(0, ok_v2, _META, _add("a.parquet", a))], [("a.parquet", a)]
    )
    assert [r["doc_id"] for _, r in delta_snapshot_rows(blob_v2, ["doc_id"])] == [1]
    # minReaderVersion 2 (column mapping) reads since round 14 s3; an
    # unmapped mrv-2 table resolves by logical names directly
    blob2 = _table(
        [_commit(0, {"protocol": {"minReaderVersion": 2}}, _META,
                 _add("a.parquet", a))],
        [("a.parquet", a)],
    )
    assert [r["doc_id"] for _, r in delta_snapshot_rows(blob2, ["doc_id"])] == [1]
    # the columnMapping v3 readerFeature is accepted too
    ok3 = {
        "protocol": {
            "minReaderVersion": 3,
            "readerFeatures": ["columnMapping"],
        }
    }
    blob3 = _table(
        [_commit(0, ok3, _META, _add("a.parquet", a))], [("a.parquet", a)]
    )
    assert [r["doc_id"] for _, r in delta_snapshot_rows(blob3, ["doc_id"])] == [1]


def test_checkpoint_of_dv_table_roundtrips():
    """Round 14 second pass: DV descriptors ride the checkpoint as the
    nested add.deletionVector struct (the recursive parquet writer) —
    a checkpointed DV table resolves to the same surviving rows."""
    a = _pq([1, 2, 3, 4])
    desc, dvfile = _dv_file({1, 3})
    blob = _table(
        [
            _commit(0, _PROTO_V3, _META, _add("a.parquet", a)),
            _commit(1, {"add": {"path": "a.parquet", "size": len(a),
                                "deletionVector": _dv_inline({0})}}),
            _commit(2, {"add": {"path": "a.parquet", "size": len(a),
                                "deletionVector": desc}}),
        ],
        [("a.parquet", a), ("dv/d.bin", dvfile)],
    )
    want = sorted(r["doc_id"] for _, r in delta_snapshot_rows(blob, ["doc_id"]))
    assert want == [1, 3]  # positions 1,3 dead → values 2,4 dead
    for at in (1, 2):
        ck = delta_checkpoint_table(blob, at)
        got = sorted(r["doc_id"] for _, r in delta_snapshot_rows(ck, ["doc_id"]))
        assert got == want, at
    # the DV survives INSIDE the checkpoint (commits deleted)
    ck = delta_checkpoint_table(blob, 2)
    names = [n for n, _ in tar_members(ck)]
    assert not any(n.endswith(".json") for n in names if "_delta_log" in n)


def test_column_mapping_name_mode():
    """mode=name (round 14 s3): logical requests resolve through the
    metaData schema's physicalName annotations; mode=id stays typed;
    unmapped tables return None."""
    import json as _json

    from yark_spark.operators.containers import tar_build
    from yark_spark.operators.deltalog import (
        delta_column_mapping,
        delta_snapshot_rows,
    )
    from yark_spark.operators.parquet_write import parquet_write

    p0 = parquet_write(
        {"col-aaa": list(range(8)), "col-bbb": ["t%d" % i for i in range(8)]},
        types={"col-aaa": "INT64", "col-bbb": "BYTE_ARRAY"},
        codec="SNAPPY",
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "text", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ],
    }

    def _table(mode):
        cfg = {"delta.columnMapping.mode": mode} if mode else {}
        v0 = "\n".join(
            [
                _json.dumps({"protocol": {"minReaderVersion": 2,
                                          "minWriterVersion": 5}}),
                _json.dumps({"metaData": {
                    "id": "t", "format": {"provider": "parquet"},
                    "partitionColumns": [],
                    "schemaString": _json.dumps(schema),
                    "configuration": cfg}}),
                _json.dumps({"add": {"path": "part-0.parquet",
                                     "size": len(p0), "dataChange": True}}),
            ]
        )
        return tar_build(
            [("_delta_log/" + "0" * 20 + ".json", v0.encode()),
             ("part-0.parquet", p0)]
        )

    tar = _table("name")
    assert delta_column_mapping(tar) == {"doc_id": "col-aaa", "text": "col-bbb"}
    rows = delta_snapshot_rows(tar, ["doc_id", "text"])
    assert [r["doc_id"] for _, r in rows] == list(range(8))
    assert rows[0][1]["text"] == "t0"
    # mode=id resolves since round 15 (field ids when the file carries
    # them, physicalName fallback otherwise — this file is id-less)
    from yark_spark.operators.deltalog import delta_column_resolution

    assert delta_column_resolution(_table("id")) == (
        "id", {"doc_id": 1, "text": 2}
    )
    assert delta_column_mapping(_table("id")) is None  # name-mode API
    rows_id = delta_snapshot_rows(_table("id"), ["doc_id", "text"])
    assert [r["doc_id"] for _, r in rows_id] == list(range(8))
    assert delta_column_mapping(_table(None)) is None


# ---------------------------------------------------------------------------
# Round 15: DV WRITE loop, u-style paths, mode=id field ids,
# checkpointed column-mapped tables
# ---------------------------------------------------------------------------

from yark_spark.operators.deltalog import (  # noqa: E402
    delta_add_deletion_vectors,
    delta_column_mapping,
    delta_column_resolution,
)


def _two_file_table():
    a, b = _pq(range(0, 8)), _pq(range(8, 16))
    return _table(
        [_commit(0, _PROTO, _META, _add("a.parquet", a), _add("b.parquet", b))],
        [("a.parquet", a), ("b.parquet", b)],
    ), a, b


@pytest.mark.parametrize("storage", ["p", "u", "i"])
def test_dv_write_roundtrip(storage):
    """The write loop emits real descriptors the round-14 reader
    decodes: rows drop, the protocol upgrades to v3, and the commit is
    an ordinary JSON action file."""
    tar, _a, _b = _two_file_table()
    out = delta_add_deletion_vectors(
        tar, {"a.parquet": [1, 3], "b.parquet": [0]}, storage=storage
    )
    rows = delta_snapshot_rows(out, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == [0, 2] + list(range(4, 8)) + list(
        range(9, 16)
    )
    # live files re-added at the DV commit's version
    assert all(v == 1 for v, _ in rows)


def test_dv_write_unions_existing_rows():
    tar, _a, _b = _two_file_table()
    once = delta_add_deletion_vectors(tar, {"a.parquet": [1]}, storage="i")
    twice = delta_add_deletion_vectors(once, {"a.parquet": [5]}, storage="p")
    rows = delta_snapshot_rows(twice, ["doc_id"])
    got = sorted(r["doc_id"] for _, r in rows)
    assert got == [0, 2, 3, 4, 6, 7] + list(range(8, 16))  # 1 AND 5 gone


def test_dv_write_on_checkpointed_table():
    tar, _a, _b = _two_file_table()
    ck = delta_checkpoint_table(tar)
    out = delta_add_deletion_vectors(ck, {"b.parquet": [7]}, storage="u")
    rows = delta_snapshot_rows(out, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == list(range(0, 15))
    # and the DV table checkpoints again, DV riding in the nested struct
    ck2 = delta_checkpoint_table(out)
    rows2 = delta_snapshot_rows(ck2, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows2) == list(range(0, 15))


def test_dv_write_guards():
    tar, _a, _b = _two_file_table()
    with pytest.raises(ValueError, match="not in live"):
        delta_add_deletion_vectors(tar, {"ghost.parquet": [0]})
    with pytest.raises(ValueError, match="storage"):
        delta_add_deletion_vectors(tar, {"a.parquet": [0]}, storage="x")


def _mapped_table(mode, physical_names, field_ids=None):
    """A column-mapped table whose files store PHYSICAL names (and
    optionally parquet field ids)."""
    p0 = parquet_write(
        {physical_names[0]: list(range(8)),
         physical_names[1]: [f"t{i}" for i in range(8)]},
        types={physical_names[0]: "INT64", physical_names[1]: "BYTE_ARRAY"},
        codec="SNAPPY",
        field_ids=(
            {physical_names[0]: field_ids[0], physical_names[1]: field_ids[1]}
            if field_ids
            else None
        ),
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": physical_names[0]}},
            {"name": "text", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": physical_names[1]}},
        ],
    }
    v0 = "\n".join(
        [
            json.dumps({"protocol": {"minReaderVersion": 2,
                                     "minWriterVersion": 5}}),
            json.dumps({"metaData": {
                "id": "t", "format": {"provider": "parquet"},
                "partitionColumns": [],
                "schemaString": json.dumps(schema),
                "configuration": {"delta.columnMapping.mode": mode}}}),
            json.dumps({"add": {"path": "part-0.parquet", "size": len(p0),
                                "dataChange": True}}),
        ]
    )
    return tar_build(
        [("_delta_log/" + "0" * 20 + ".json", v0.encode()),
         ("part-0.parquet", p0)]
    )


def test_column_mapping_id_mode_by_field_ids():
    """mode=id must match by parquet field id, NOT name: the file's
    physical names deliberately disagree with the schemaString's
    physicalName annotations, so only id matching reads the data."""
    tar = _mapped_table("id", ("drifted-x", "drifted-y"), field_ids=(1, 2))
    assert delta_column_resolution(tar) == ("id", {"doc_id": 1, "text": 2})
    rows = delta_snapshot_rows(tar, ["doc_id", "text"])
    assert [r["doc_id"] for _, r in rows] == list(range(8))
    assert rows[3][1]["text"] == "t3"


def test_column_mapping_survives_checkpoint():
    """ADVICE r14: checkpointing a mapped table must not lose the
    mapping — the metaData row (schemaString + configuration MAP
    column) rides in the checkpoint parquet and _last_metadata
    recovers it after the carrying commit is vacuumed."""
    for mode, fids in (("name", None), ("id", (1, 2))):
        tar = _mapped_table(mode, ("col-aaa", "col-bbb"), field_ids=fids)
        ck = delta_checkpoint_table(tar)
        # version-0 commit is GONE now; mapping still resolves
        res = delta_column_resolution(ck)
        assert res is not None and res[0] == mode
        if mode == "name":
            assert delta_column_mapping(ck) == {
                "doc_id": "col-aaa", "text": "col-bbb"
            }
        rows = delta_snapshot_rows(ck, ["doc_id", "text"])
        assert [r["doc_id"] for _, r in rows] == list(range(8))
        assert rows[0][1]["text"] == "t0"


def _partitioned_table():
    """The real Delta shape: data files do NOT contain the partition
    column; each add carries string-serialized partitionValues."""
    def pq(ids):
        return parquet_write(
            {"doc_id": list(ids), "text": [f"t{i}" for i in ids]},
            types={"doc_id": "INT64", "text": "BYTE_ARRAY"},
            codec="SNAPPY",
        )

    schema = {
        "type": "struct",
        "fields": [
            {"name": "doc_id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "text", "type": "string", "nullable": True, "metadata": {}},
            {"name": "p", "type": "long", "nullable": True, "metadata": {}},
        ],
    }
    files = {f"p={k}/part-0.parquet": pq(range(k * 10, k * 10 + 4)) for k in range(3)}
    actions = [
        json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}),
        json.dumps({"metaData": {
            "id": "t", "format": {"provider": "parquet"},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["p"], "configuration": {}}}),
    ] + [
        json.dumps({"add": {"path": path, "size": len(blob), "dataChange": True,
                            "partitionValues": {"p": str(k)}}})
        for k, (path, blob) in enumerate(sorted(files.items()))
    ]
    return _table(
        [("_delta_log/" + "0" * 20 + ".json", "\n".join(actions).encode())],
        sorted(files.items()),
    )


def test_partition_scan_prunes_and_injects():
    """Round 15: partitionValues prune files unopened, and the
    partition column — absent from every data file — is injected into
    the rows cast by the schemaString type."""
    from yark_spark.operators.deltalog import delta_partition_scan

    tar = _partitioned_table()
    rows, cnt = delta_partition_scan(tar, ["doc_id", "p", "text"], {"p": 1})
    assert cnt == {"files_skipped": 2, "files_scanned": 1}
    assert [r["doc_id"] for _, r in rows] == [10, 11, 12, 13]
    assert all(r["p"] == 1 and isinstance(r["p"], int) for _, r in rows)
    assert rows[0][1]["text"] == "t10"
    # partition-only projection never opens parquet values either
    rows2, cnt2 = delta_partition_scan(tar, ["p"], {"p": 2})
    assert cnt2 == {"files_skipped": 2, "files_scanned": 1}
    assert [r["p"] for _, r in rows2] == [2, 2, 2, 2]
    # no-match probe scans nothing
    rows3, cnt3 = delta_partition_scan(tar, ["doc_id"], {"p": 9})
    assert rows3 == [] and cnt3["files_scanned"] == 0


def test_partition_values_survive_checkpoint_and_dv_write():
    """partitionValues ride the checkpoint's add struct (a real
    parquet MAP column) and the DV write loop's re-add."""
    from yark_spark.operators.deltalog import (
        delta_add_deletion_vectors,
        delta_partition_scan,
    )

    tar = _partitioned_table()
    ck = delta_checkpoint_table(tar)
    rows, cnt = delta_partition_scan(ck, ["doc_id", "p"], {"p": 1})
    assert cnt == {"files_skipped": 2, "files_scanned": 1}
    assert [r["doc_id"] for _, r in rows] == [10, 11, 12, 13]
    # a DV on the partition's file must keep its partitionValues
    dv = delta_add_deletion_vectors(ck, {"p=1/part-0.parquet": [1]}, storage="i")
    rows2, cnt2 = delta_partition_scan(dv, ["doc_id", "p"], {"p": 1})
    assert [r["doc_id"] for _, r in rows2] == [10, 12, 13]
    assert cnt2["files_scanned"] == 1


def test_time_travel_version_as_of():
    """Round 15: VERSION AS OF — replay stops after the requested
    commit, matching Iceberg's time travel; history older than the
    checkpoint is typed (log retention vacuumed it)."""
    a, b, b2 = _pq([1, 2]), _pq([3, 4]), _pq([30, 40])
    blob = _table(
        [
            _commit(0, _PROTO, _META, _add("a.parquet", a), _add("b.parquet", b)),
            _commit(1, _rm("b.parquet")),
            _commit(2, _add("b.parquet", b2)),
        ],
        [("a.parquet", a), ("b.parquet", b2), ("b.parquet.v0", b)],
    )
    # version 2 (latest) — same as the default
    assert sorted(
        r["doc_id"] for _, r in delta_snapshot_rows(blob, ["doc_id"], version=2)
    ) == [1, 2, 30, 40]
    # version 1: b removed, only a's rows
    assert sorted(
        r["doc_id"] for _, r in delta_snapshot_rows(blob, ["doc_id"], version=1)
    ) == [1, 2]
    with pytest.raises(ValueError, match="not in the log"):
        delta_snapshot_rows(blob, ["doc_id"], version=9)
    # checkpointed table: versions at/after the checkpoint resolve,
    # older history is typed
    from yark_spark.operators.deltalog import delta_checkpoint_table

    ck = delta_checkpoint_table(blob, 1)
    assert sorted(
        r["doc_id"] for _, r in delta_snapshot_rows(ck, ["doc_id"], version=1)
    ) == [1, 2]
    assert sorted(
        r["doc_id"] for _, r in delta_snapshot_rows(ck, ["doc_id"], version=2)
    ) == [1, 2, 30, 40]
    with pytest.raises(ValueError, match="vacuumed"):
        delta_snapshot_rows(ck, ["doc_id"], version=0)


# ---------------------------------------------------------------------------
# Round 16 (ADVICE r15): protocol-faithful partition probe serialization,
# absolute-URI 'p' DV descriptors, partitionValues required on re-adds
# ---------------------------------------------------------------------------


def _bool_partitioned_table():
    """A table partitioned on a BOOLEAN column: the protocol serializes
    partitionValues as "true"/"false", never Python str(True)."""
    def pq(ids):
        return parquet_write(
            {"doc_id": list(ids)}, types={"doc_id": "INT64"}, codec="SNAPPY"
        )

    schema = {
        "type": "struct",
        "fields": [
            {"name": "doc_id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "flag", "type": "boolean", "nullable": True, "metadata": {}},
        ],
    }
    files = {
        "flag=true/part-0.parquet": (pq(range(0, 4)), "true"),
        "flag=false/part-0.parquet": (pq(range(4, 8)), "false"),
    }
    actions = [
        json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}),
        json.dumps({"metaData": {
            "id": "t", "format": {"provider": "parquet"},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["flag"], "configuration": {}}}),
    ] + [
        json.dumps({"add": {"path": path, "size": len(blob), "dataChange": True,
                            "partitionValues": {"flag": sval}}})
        for path, (blob, sval) in sorted(files.items())
    ]
    return _table(
        [("_delta_log/" + "0" * 20 + ".json", "\n".join(actions).encode())],
        [(p, b) for p, (b, _s) in sorted(files.items())],
    )


def test_partition_scan_bool_probe_uses_protocol_serialization():
    """A Python bool probe must serialize to the protocol's
    "true"/"false" — str(True) would silently match no file."""
    from yark_spark.operators.deltalog import delta_partition_scan

    tar = _bool_partitioned_table()
    rows, cnt = delta_partition_scan(tar, ["doc_id", "flag"], {"flag": True})
    assert cnt == {"files_skipped": 1, "files_scanned": 1}
    assert [r["doc_id"] for _, r in rows] == [0, 1, 2, 3]
    assert all(r["flag"] is True for _, r in rows)
    rows2, _ = delta_partition_scan(tar, ["doc_id"], {"flag": False})
    assert [r["doc_id"] for _, r in rows2] == [4, 5, 6, 7]


def test_dv_p_storage_descriptor_is_absolute_uri():
    """PROTOCOL.md: storageType 'p' carries an ABSOLUTE path ('u' is
    the relative form); re-add actions always carry partitionValues
    ({} when unpartitioned) — foreign readers reject their absence."""
    tar, _a, _b = _two_file_table()
    out = delta_add_deletion_vectors(tar, {"a.parquet": [1]}, storage="p")
    from yark_spark.operators.containers import tar_members

    members = dict(tar_members(out))
    commit = members["_delta_log/" + f"{1:020d}" + ".json"].decode()
    adds = [json.loads(l)["add"] for l in commit.splitlines()
            if l.strip() and "add" in json.loads(l)]
    assert adds, "DV commit must re-add the file"
    for add in adds:
        dv = add["deletionVector"]
        assert dv["storageType"] == "p"
        assert dv["pathOrInlineDv"].startswith("file:///"), dv
        assert add["partitionValues"] == {}
    # and the reader resolves the absolute URI back into the archive
    rows = delta_snapshot_rows(out, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == [0] + list(range(2, 16))


def test_dv_default_storage_is_u():
    """The default DV storage is the protocol's relative 'u' form."""
    tar, _a, _b = _two_file_table()
    out = delta_add_deletion_vectors(tar, {"a.parquet": [2]})
    from yark_spark.operators.containers import tar_members

    members = dict(tar_members(out))
    commit = members["_delta_log/" + f"{1:020d}" + ".json"].decode()
    dvs = [json.loads(l)["add"]["deletionVector"] for l in commit.splitlines()
           if l.strip() and "add" in json.loads(l)]
    assert all(d["storageType"] == "u" for d in dvs)
    rows = delta_snapshot_rows(out, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == [0, 1] + list(range(3, 16))


# ---------------------------------------------------------------------------
# Round 16: v2 checkpoints (manifest + sidecars — VERDICT r15 #3)
# ---------------------------------------------------------------------------

from yark_spark.operators.deltalog import (  # noqa: E402
    _COMMIT_RE,
    delta_checkpoint_table_v2,
)


@pytest.mark.parametrize("fmt", ["json", "parquet"])
@pytest.mark.parametrize("n_sidecars", [1, 2])
def test_v2_checkpoint_roundtrip(fmt, n_sidecars):
    """UUID-named manifest + parquet sidecars resolve to the same
    snapshot as the JSON log they replaced; commits <= V are gone
    (replay must not need them)."""
    from yark_spark.operators.containers import tar_members

    tar, _a, _b = _two_file_table()
    v2 = delta_checkpoint_table_v2(
        tar, manifest_format=fmt, n_sidecars=n_sidecars
    )
    names = [n for n, _ in tar_members(v2)]
    assert not any(_COMMIT_RE.match(n) for n in names)
    assert sum(n.startswith("_delta_log/_sidecars/") for n in names) == n_sidecars
    assert any(f".checkpoint." in n and n.endswith(f".{fmt}") for n in names)
    rows = delta_snapshot_rows(v2, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == list(range(16))


def test_v2_checkpoint_commits_after_replay():
    """Commits AFTER the v2 checkpoint replay on top of the seeded
    state, exactly like classic checkpoints."""
    a, b = _pq(range(0, 8)), _pq(range(8, 16))
    c = _pq(range(16, 20))
    tar = _table(
        [_commit(0, _PROTO, _META, _add("a.parquet", a), _add("b.parquet", b))],
        [("a.parquet", a), ("b.parquet", b)],
    )
    v2 = delta_checkpoint_table_v2(tar)
    from yark_spark.operators.containers import tar_build, tar_members

    members = dict(tar_members(v2))
    members["_delta_log/" + f"{1:020d}" + ".json"] = (
        json.dumps({"remove": {"path": "a.parquet", "dataChange": True}})
        + "\n"
        + json.dumps({"add": {"path": "c.parquet", "size": len(c),
                              "dataChange": True, "partitionValues": {}}})
    ).encode()
    members["c.parquet"] = c
    out = tar_build(sorted(members.items()))
    rows = delta_snapshot_rows(out, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == list(range(8, 20))


def test_v2_checkpoint_dv_and_partition_state_survive():
    tar, _a, _b = _two_file_table()
    dv = delta_add_deletion_vectors(tar, {"a.parquet": [1, 3]}, storage="u")
    v2 = delta_checkpoint_table_v2(dv, manifest_format="json")
    rows = delta_snapshot_rows(v2, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == [0, 2] + list(range(4, 16))
    from yark_spark.operators.deltalog import delta_partition_scan

    part = _partitioned_table()
    v2p = delta_checkpoint_table_v2(part, manifest_format="parquet",
                                    n_sidecars=2)
    rows2, cnt = delta_partition_scan(v2p, ["doc_id", "p"], {"p": 1})
    assert [r["doc_id"] for _, r in rows2] == [10, 11, 12, 13]
    assert cnt == {"files_skipped": 2, "files_scanned": 1}


def test_v2_checkpoint_typed_guards():
    """checkpointMetadata is REQUIRED and must match the file-name
    version; missing sidecars are typed; the v2Checkpoint
    readerFeature passes the protocol gate while unknown features
    still reject."""
    from yark_spark.operators.containers import tar_build, tar_members

    tar, _a, _b = _two_file_table()
    v2 = delta_checkpoint_table_v2(tar)
    members = dict(tar_members(v2))
    (m_name,) = [n for n in members if ".checkpoint." in n]

    # version mismatch
    bad = dict(members)
    lines = bad[m_name].decode().splitlines()
    lines[0] = json.dumps({"checkpointMetadata": {"version": 99}})
    bad[m_name] = "\n".join(lines).encode()
    with pytest.raises(ValueError, match="checkpointMetadata.version"):
        delta_snapshot_rows(tar_build(sorted(bad.items())), ["doc_id"])

    # checkpointMetadata absent
    bad2 = dict(members)
    bad2[m_name] = "\n".join(
        l for l in members[m_name].decode().splitlines()
        if "checkpointMetadata" not in l
    ).encode()
    with pytest.raises(ValueError, match="checkpointMetadata"):
        delta_snapshot_rows(tar_build(sorted(bad2.items())), ["doc_id"])

    # sidecar file missing
    bad3 = {n: b for n, b in members.items()
            if not n.startswith("_delta_log/_sidecars/")}
    with pytest.raises(ValueError, match="sidecar"):
        delta_snapshot_rows(tar_build(sorted(bad3.items())), ["doc_id"])

    # unknown reader feature still rejects
    bad4 = dict(members)
    lines4 = bad4[m_name].decode().splitlines()
    proto = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint", "collations-preview"]}}
    bad4[m_name] = "\n".join(
        [lines4[0], json.dumps(proto)] + lines4[2:]
    ).encode()
    with pytest.raises(NotImplementedError, match="collations-preview"):
        delta_snapshot_rows(tar_build(sorted(bad4.items())), ["doc_id"])


def test_multi_part_checkpoint_unions_parts():
    """Round 16: _last_checkpoint with "parts": N splits the state
    across <V>.checkpoint.<part>.<of>.parquet files — big tables'
    checkpoints arrive this way. The state is the union; a missing
    part is typed."""
    a, b, c = _pq([1, 2]), _pq([5, 6]), _pq([7, 8])
    part1 = _checkpoint(_CK_BASE + [{"add": {"path": "a.parquet", "size": len(a)}}])
    part2 = _checkpoint([
        {"add": {"path": "b.parquet", "size": len(b)}},
        {"add": {"path": "x.parquet", "size": 999}},
        {"remove": {"path": "expired.parquet"}},
    ])
    members = [
        (
            "_delta_log/_last_checkpoint",
            json.dumps({"version": 2, "parts": 2}).encode(),
        ),
        (
            "_delta_log/" + f"{2:020d}" + ".checkpoint."
            + f"{1:010d}" + "." + f"{2:010d}" + ".parquet",
            part1,
        ),
        (
            "_delta_log/" + f"{2:020d}" + ".checkpoint."
            + f"{2:010d}" + "." + f"{2:010d}" + ".parquet",
            part2,
        ),
        _commit(3, _rm("x.parquet"), _add("c.parquet", c)),
        ("a.parquet", a), ("b.parquet", b), ("c.parquet", c),
    ]
    blob = tar_build(members)
    live = delta_live_files(blob)
    assert [(p, v) for p, v, _ in live] == [
        ("a.parquet", 2), ("b.parquet", 2), ("c.parquet", 3),
    ]
    rows = delta_snapshot_rows(blob, ["doc_id"])
    assert sorted(r["doc_id"] for _, r in rows) == [1, 2, 5, 6, 7, 8]
    # a missing part is typed, never a silent partial state
    missing = [m for m in members if "0000000002.parquet" not in m[0]]
    with pytest.raises(ValueError, match="names missing"):
        delta_live_files(tar_build(missing))


# ---------------------------------------------------------------------------
# Round 16: change data feed (file-granularity incremental reads)
# ---------------------------------------------------------------------------

from yark_spark.operators.deltalog import delta_change_feed  # noqa: E402


def _cdf_table():
    a, b, b2 = _pq(range(0, 4)), _pq(range(4, 8)), _pq(range(4, 8))
    compact_rm = {"remove": {"path": "b.parquet", "dataChange": False}}
    compact_add = {"add": {"path": "b2.parquet", "size": len(b2),
                           "dataChange": False, "partitionValues": {}}}
    return _table(
        [
            _commit(0, _PROTO, _META, _add("a.parquet", a)),
            _commit(1, _add("b.parquet", b)),
            _commit(2, _rm("a.parquet")),
            _commit(3, compact_rm, compact_add),  # OPTIMIZE rewrite
        ],
        [("a.parquet", a), ("b.parquet", b), ("b2.parquet", b2)],
    )


def test_change_feed_inserts_deletes_and_skips_compaction():
    feed = delta_change_feed(_cdf_table(), 0, 3)
    # v1: b's rows inserted; v2: a's rows deleted; v3: NOTHING (the
    # compaction rewrite has dataChange: false on both actions)
    assert [(v, c, r["doc_id"]) for v, c, r in feed] == [
        (1, "insert", 4), (1, "insert", 5), (1, "insert", 6), (1, "insert", 7),
        (2, "delete", 0), (2, "delete", 1), (2, "delete", 2), (2, "delete", 3),
    ]
    # narrower range
    assert [(v, c, r["doc_id"]) for v, c, r in
            delta_change_feed(_cdf_table(), 1, 2)] == [
        (2, "delete", 0), (2, "delete", 1), (2, "delete", 2), (2, "delete", 3),
    ]
    # to_version defaults to the log head
    assert len(delta_change_feed(_cdf_table(), 2)) == 0


def test_change_feed_guards():
    with pytest.raises(ValueError, match="outside the log"):
        delta_change_feed(_cdf_table(), 0, 9)
    # a vacuumed removed file is typed, not silently skipped
    from yark_spark.operators.containers import tar_build, tar_members

    members = [(n, b) for n, b in tar_members(_cdf_table())
               if n != "a.parquet"]
    with pytest.raises(ValueError, match="vacuumed"):
        delta_change_feed(tar_build(members), 0, 3)
    # DV commits emit the DV DIFF as per-row deletes (round 17 — was a
    # typed reject): attaching a DV to a.parquet row 1 is one delete
    tar, _a, _b = _two_file_table()
    dv = delta_add_deletion_vectors(tar, {"a.parquet": [1]}, storage="i")
    events = delta_change_feed(dv, 0, 1)
    assert events == [(1, "delete", {"doc_id": 1})]
    # a second attach emits only the NEWLY killed row, not row 1 again
    dv2 = delta_add_deletion_vectors(dv, {"a.parquet": [1, 5]}, storage="i")
    assert delta_change_feed(dv2, 1, 2) == [(2, "delete", {"doc_id": 5})]


def _cdc(path, blob):
    return {"cdc": {"path": path, "size": len(blob), "dataChange": False,
                    "partitionValues": {}}}


def _cdc_pq(ids, changes):
    return parquet_write(
        {"doc_id": list(ids), "text": [f"t{i}" for i in ids],
         "_change_type": list(changes)},
        types={"doc_id": "INT64", "text": "BYTE_ARRAY",
               "_change_type": "BYTE_ARRAY"},
        codec="SNAPPY",
    )


def test_change_feed_cdc_suppresses_synthesis():
    """A commit carrying cdc actions IS the change record: its
    _change_data rows (with _change_type) come out verbatim and the
    rewrite add/remove beside them emit NOTHING (round 17)."""
    a, a2 = _pq([0, 1, 2, 3]), _pq([0, 1, 20, 30])
    cdc = _cdc_pq(
        [2, 2, 3, 3],
        ["update_preimage", "update_postimage",
         "update_preimage", "update_postimage"],
    )
    blob = _table(
        [
            _commit(0, _PROTO, _META, _add("a.parquet", a)),
            _commit(
                1,
                _rm("a.parquet"),
                _add("a2.parquet", a2),
                _cdc("_change_data/c0.parquet", cdc),
            ),
        ],
        [("a.parquet", a), ("a2.parquet", a2),
         ("_change_data/c0.parquet", cdc)],
    )
    events = delta_change_feed(blob, 0, 1)
    assert events == [
        (1, "update_preimage", {"doc_id": 2}),
        (1, "update_postimage", {"doc_id": 2}),
        (1, "update_preimage", {"doc_id": 3}),
        (1, "update_postimage", {"doc_id": 3}),
    ]


def test_change_feed_remove_subtracts_dv_dead_rows():
    """Removing a file that carried a DV emits only the rows STILL
    LIVE at removal — re-emitting DV-killed rows double-counts them
    (ADVICE r16)."""
    tar, _a, _b = _two_file_table()
    dv = delta_add_deletion_vectors(tar, {"a.parquet": [0, 2]}, storage="i")
    # version 2: genuinely remove a.parquet
    from yark_spark.operators.containers import tar_members

    members = list(tar_members(dv))
    members.append(_commit(2, _rm("a.parquet")))
    blob = tar_build(sorted(members))
    events = delta_change_feed(blob, 1, 2)
    assert [(v, c, r["doc_id"]) for v, c, r in events] == [
        (2, "delete", 1), (2, "delete", 3), (2, "delete", 4),
        (2, "delete", 5), (2, "delete", 6), (2, "delete", 7),
    ]


def test_change_feed_new_file_with_dv_inserts_live_rows_only():
    """An add-only action whose descriptor already carries a DV
    inserts only the undeleted rows."""
    a = _pq([0, 1, 2])
    from yark_spark.operators.roaring import (
        roaring64_array_serialize,
        z85_encode,
    )

    bitmap = roaring64_array_serialize([1])
    padded = bitmap + b"\x00" * (-len(bitmap) % 4)
    dv = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(padded),
        "offset": 0,
        "sizeInBytes": len(bitmap),
        "cardinality": 1,
    }
    proto_v3 = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }
    }
    blob = _table(
        [
            _commit(0, proto_v3, _META),
            _commit(
                1,
                {"add": {"path": "a.parquet", "size": len(a),
                         "dataChange": True, "partitionValues": {},
                         "deletionVector": dv}},
            ),
        ],
        [("a.parquet", a)],
    )
    events = delta_change_feed(blob, 0, 1)
    assert [(v, c, r["doc_id"]) for v, c, r in events] == [
        (1, "insert", 0), (1, "insert", 2),
    ]
