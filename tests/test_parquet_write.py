"""Parquet writer tests (round 13): files our Thrift-compact
serializer writes must be read identically by DuckDB's C++ reader,
pyarrow's reader AND our own E130 reader — plus footer agreement via
DuckDB's parquet_metadata(), hybrid-encoder alignment vectors, and
typed boundaries."""

import pytest

pa = pytest.importorskip("pyarrow")
import io  # noqa: E402

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from yark_spark.operators.parquet_data import parquet_read_columns  # noqa: E402
from yark_spark.operators.parquet_write import (  # noqa: E402
    _hybrid_encode,
    parquet_write,
)

_COLS = {
    "i": [None if k % 7 == 0 else k - 50 for k in range(200)],
    "big": [k * 10**10 for k in range(200)],
    "f": [k / 3.0 for k in range(200)],
    "flag": [k % 3 == 0 for k in range(200)],
    "s": [None if k % 11 == 0 else f"val-{k % 9}" for k in range(200)],
    "uniq": [f"unique-{k}" for k in range(200)],
}


def _write_tmp(tmp_path, blob):
    p = tmp_path / "ours.parquet"
    p.write_bytes(blob)
    return str(p)


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "SNAPPY", "GZIP", "ZSTD"])
def test_three_readers_agree(tmp_path, codec):
    blob = parquet_write(_COLS, codec=codec, row_group_size=64)
    # our own reader
    mine = parquet_read_columns(blob, list(_COLS))
    for c, vals in _COLS.items():
        want = [bool(v) if isinstance(v, bool) else v for v in vals]
        assert mine[c] == want, (codec, c)
    # pyarrow
    t = pq.read_table(io.BytesIO(blob))
    assert t.num_rows == 200
    for c in ("s", "big", "flag", "i"):
        assert t.column(c).to_pylist() == _COLS[c], (codec, c)
    # duckdb
    path = _write_tmp(tmp_path, blob)
    con = duckdb.connect()
    ref = con.execute(f"SELECT * FROM read_parquet('{path}')").fetchall()
    assert len(ref) == 200
    names = list(_COLS)
    for ci, c in enumerate(names):
        got = [r[ci] for r in ref]
        assert got == _COLS[c], (codec, c)
    con.close()


def test_footer_agreement_with_duckdb_metadata(tmp_path):
    blob = parquet_write(_COLS, codec="SNAPPY", row_group_size=50)
    path = _write_tmp(tmp_path, blob)
    con = duckdb.connect()
    meta = con.execute(
        "SELECT row_group_id, path_in_schema, type, compression, num_values "
        "FROM parquet_metadata(?) ORDER BY row_group_id, path_in_schema",
        [path],
    ).fetchall()
    # 200 rows / 50 per group = 4 row groups x 6 columns
    assert len(meta) == 24
    assert {m[3] for m in meta} == {"SNAPPY"}
    assert all(m[4] == 50 for m in meta)
    by_col = {m[1]: m[2] for m in meta}
    assert by_col["big"] == "INT64" and by_col["flag"] == "BOOLEAN"
    assert by_col["s"] == "BYTE_ARRAY" and by_col["f"] == "DOUBLE"
    schema = con.execute(
        "SELECT name, type FROM parquet_schema(?)", [path]
    ).fetchall()
    types = dict(schema)
    assert types["s"] == "BYTE_ARRAY"
    con.close()


def test_utf8_annotation_yields_varchar(tmp_path):
    blob = parquet_write({"s": ["a", "b", None]}, codec="UNCOMPRESSED")
    path = _write_tmp(tmp_path, blob)
    con = duckdb.connect()
    (tname,) = con.execute(
        "SELECT typeof(s) FROM read_parquet(?) LIMIT 1", [path]
    ).fetchone()
    assert tname == "VARCHAR"  # ConvertedType UTF8 honored
    con.close()


def test_dictionary_and_plain_chunks_coexist(tmp_path):
    # 's' is low-cardinality (dict page), 'uniq' exceeds the cap (PLAIN)
    blob = parquet_write(_COLS, codec="SNAPPY", dictionary_max_cardinality=16)
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("s").to_pylist() == _COLS["s"]
    assert t.column("uniq").to_pylist() == _COLS["uniq"]


def test_roundtrip_through_both_in_repo_halves():
    cols = {"x": list(range(1000)), "y": [f"r{k % 13}" for k in range(1000)]}
    blob = parquet_write(cols, codec="ZSTD", row_group_size=128)
    back = parquet_read_columns(blob, ["x", "y"])
    assert back["x"] == cols["x"] and back["y"] == cols["y"]


def test_all_null_and_empty_columns(tmp_path):
    blob = parquet_write({"n": [None, None, None], "v": [1, 2, 3]})
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("n").to_pylist() == [None, None, None]
    mine = parquet_read_columns(blob, ["n", "v"])
    assert mine["n"] == [None, None, None] and mine["v"] == [1, 2, 3]


def test_hybrid_encoder_alignment():
    # the round-13 bug shape: a short bit-packed stretch followed by a
    # long run — the packed group must NOT pad mid-stream
    from yark_spark.operators.parquet_data import _hybrid_runs

    for pattern in (
        [0] + [1] * 10 + [0] + [1] * 10,
        [1, 0, 1] + [0] * 20 + [1, 1],
        [0] * 7 + [1] * 9,
        [1] * 8,
        [0, 1] * 30,
        [3, 1, 2] * 11,
    ):
        bw = max(v.bit_length() for v in pattern)
        enc = _hybrid_encode(pattern, bw)
        dec = _hybrid_runs(enc, 0, len(enc), bw, len(pattern))
        assert dec == pattern, pattern


def test_mixed_type_column_rejected():
    with pytest.raises(ValueError, match="mixed types"):
        parquet_write({"m": [1, "two"]})


def test_unknown_codec_typed():
    # BROTLI/LZ4/LZ4_RAW joined the supported set in round 14 s3
    # (tests/test_parquet_codec_matrix.py); LZO stays typed
    with pytest.raises(NotImplementedError, match="codec"):
        parquet_write({"x": [1]}, codec="LZO")


def test_explicit_type_override(tmp_path):
    blob = parquet_write(
        {"small": [1, 2, None]}, types={"small": "INT64"}, codec="UNCOMPRESSED"
    )
    t = pq.read_table(io.BytesIO(blob))
    assert str(t.schema.field("small").type) == "int64"
    assert t.column("small").to_pylist() == [1, 2, None]


# ---------------------------------------------------------------------------
# Round 14: one-level OPTIONAL STRUCT columns (Delta checkpoint layout)
# ---------------------------------------------------------------------------


def _struct_blob(codec="SNAPPY"):
    from yark_spark.operators.parquet_write import parquet_write

    return parquet_write(
        {
            "k": [1, 2, 3, 4],
            "add": [
                None,
                {"path": "p0", "size": 10},
                {"path": None, "size": 7},
                {"path": "p3", "size": None},
            ],
            "remove": [{"path": "gone"}, None, None, None],
        },
        types={
            "k": "INT64",
            "add": {"path": "BYTE_ARRAY", "size": "INT64"},
            "remove": {"path": "BYTE_ARRAY"},
        },
        codec=codec,
    )


def test_struct_columns_read_by_our_reader():
    from yark_spark.operators.parquet_data import parquet_read_columns

    cols = parquet_read_columns(
        _struct_blob(), ["k", "add.path", "add.size", "remove.path"]
    )
    assert cols["k"] == [1, 2, 3, 4]
    # struct-null vs field-null are distinct wire states
    assert cols["add.path"] == [None, "p0", None, "p3"]
    assert cols["add.size"] == [None, 10, 7, None]
    assert cols["remove.path"] == ["gone", None, None, None]


def test_struct_columns_read_by_pyarrow_and_duckdb(tmp_path):
    import io

    import pyarrow.parquet as pq

    blob = _struct_blob()
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("add").to_pylist() == [
        None,
        {"path": "p0", "size": 10},
        {"path": None, "size": 7},
        {"path": "p3", "size": None},
    ]
    assert t.column("remove").to_pylist() == [
        {"path": "gone"}, None, None, None,
    ]
    p = tmp_path / "s.parquet"
    p.write_bytes(blob)
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT k, add.path, add.size, remove.path FROM read_parquet('{p}') "
        "ORDER BY k"
    ).fetchall()
    assert rows == [
        (1, None, None, "gone"),
        (2, "p0", 10, None),
        (3, None, 7, None),
        (4, "p3", None, None),
    ]


def test_struct_columns_all_null_and_multi_group():
    import io

    import pyarrow.parquet as pq

    from yark_spark.operators.parquet_write import parquet_write

    blob = parquet_write(
        {"k": list(range(10)), "s": [None] * 10},
        types={"k": "INT64", "s": {"a": "INT32"}},
        row_group_size=3,
        codec="GZIP",
    )
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("s").to_pylist() == [None] * 10
    assert t.num_rows == 10


# ---------------------------------------------------------------------------
# Round 14: modern encodings + DataPageV2 — pyarrow/DuckDB read-back
# ---------------------------------------------------------------------------

_MODERN_ENC = {
    "k": "DELTA_BINARY_PACKED",
    "f": "BYTE_STREAM_SPLIT",
    "s": "DELTA_LENGTH_BYTE_ARRAY",
}


def _modern_cols(n=1500):
    import random

    rng = random.Random(3)
    return {
        "k": [None if i % 9 == 4 else rng.randrange(-(10**9), 10**9)
              for i in range(n)],
        "f": [None if i % 5 == 0 else i / 7.0 for i in range(n)],
        "s": [None if i % 11 == 3 else f"text-{i % 50}-{i}" for i in range(n)],
    }


@pytest.mark.parametrize("pv", [1, 2])
@pytest.mark.parametrize("codec", ["SNAPPY", "GZIP", "ZSTD", "UNCOMPRESSED"])
def test_modern_encodings_three_readers(pv, codec):
    import io

    import duckdb
    import pyarrow.parquet as pq

    from yark_spark.operators.parquet_data import parquet_read_columns
    from yark_spark.operators.parquet_write import parquet_write

    cols = _modern_cols()
    blob = parquet_write(
        cols,
        types={"k": "INT64", "f": "DOUBLE", "s": "BYTE_ARRAY"},
        codec=codec,
        column_encodings=_MODERN_ENC,
        data_page_version=pv,
        row_group_size=400,
    )
    got = parquet_read_columns(blob, list(cols))
    for c in cols:
        assert got[c] == cols[c], (pv, codec, c, "ours")
    t = pq.read_table(io.BytesIO(blob))
    for c in cols:
        assert t.column(c).to_pylist() == cols[c], (pv, codec, c, "pyarrow")
    con = duckdb.connect()
    import tempfile, os

    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as fh:
        fh.write(blob)
        p = fh.name
    try:
        r = con.execute(
            f"SELECT count(*), count(k), count(s) FROM read_parquet('{p}')"
        ).fetchone()
        n = len(cols["k"])
        assert r == (
            n,
            sum(1 for v in cols["k"] if v is not None),
            sum(1 for v in cols["s"] if v is not None),
        )
        vals = [x[0] for x in con.execute(
            f"SELECT k FROM read_parquet('{p}')"
        ).fetchall()]
        assert vals == cols["k"]
    finally:
        os.unlink(p)


def test_delta_binary_edges():
    import io

    import pyarrow.parquet as pq

    from yark_spark.operators.parquet_data import parquet_read_columns
    from yark_spark.operators.parquet_write import parquet_write

    for vals in ([5], [9, 9, 9], list(range(127)), list(range(129)),
                 [0, -(2**62), 2**62, 7]):
        blob = parquet_write(
            {"x": vals},
            types={"x": "INT64"},
            column_encodings={"x": "DELTA_BINARY_PACKED"},
            codec="SNAPPY",
        )
        assert parquet_read_columns(blob, ["x"])["x"] == vals
        assert pq.read_table(io.BytesIO(blob)).column("x").to_pylist() == vals


def test_modern_encoding_type_guards():
    from yark_spark.operators.parquet_write import parquet_write

    with pytest.raises(NotImplementedError, match="DELTA_BINARY_PACKED"):
        parquet_write({"x": ["a"]}, types={"x": "BYTE_ARRAY"},
                      column_encodings={"x": "DELTA_BINARY_PACKED"})
    with pytest.raises(NotImplementedError, match="BYTE_STREAM_SPLIT"):
        parquet_write({"x": [1]}, types={"x": "INT64"},
                      column_encodings={"x": "BYTE_STREAM_SPLIT"})
    with pytest.raises(NotImplementedError, match="encoding"):
        parquet_write({"x": [1]}, types={"x": "INT64"},
                      column_encodings={"x": "BOGUS"})


def test_v2_pages_dict_and_plain_paths():
    import io

    import pyarrow.parquet as pq

    from yark_spark.operators.parquet_data import parquet_read_columns
    from yark_spark.operators.parquet_write import parquet_write

    cols = {"a": [i % 7 for i in range(500)],
            "b": [f"u{i}" for i in range(500)]}
    blob = parquet_write(
        cols, types={"a": "INT32", "b": "BYTE_ARRAY"},
        codec="GZIP", data_page_version=2,
    )
    got = parquet_read_columns(blob, ["a", "b"])
    assert got["a"] == cols["a"] and got["b"] == cols["b"]
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("a").to_pylist() == cols["a"]
    assert t.column("b").to_pylist() == cols["b"]


# ---------------------------------------------------------------------------
# Round 15: MAP + deep-nested write — plist()/pmap() specs shred
# through the generic rep/def emitter; pyarrow, DuckDB AND our reader
# consume the wire.
# ---------------------------------------------------------------------------

from yark_spark.operators.parquet_write import plist, pmap  # noqa: E402

_NESTED_COLS = {
    "id": list(range(5)),
    "attrs": [None, {}, {"a": "1"}, {"a": None, "b": "2"}, {"x": "y", "a": "z"}],
    "events": [
        None,
        [],
        [{"k": "a", "n": 1}],
        [None, {"k": None, "n": 2}],
        [{"k": "c", "n": None}, {"k": "d", "n": 4}],
    ],
    "mat": [None, [], [[]], [[1, 2], None, [3]], [[None, 5]]],
    "mls": [None, {"p": ["a", None]}, {"q": None}, {"r": [], "s": ["zz"]}, {}],
}
_NESTED_TYPES = {
    "id": "INT64",
    "attrs": pmap("BYTE_ARRAY", "BYTE_ARRAY"),
    "events": plist({"k": "BYTE_ARRAY", "n": "INT64"}),
    "mat": plist(plist("INT64")),
    "mls": pmap("BYTE_ARRAY", plist("BYTE_ARRAY")),
}


def _dmap(v):
    """DuckDB's Python MAP surface ({'key': [...], 'value': [...]} on
    some versions, a dict on others) → (k, v) tuple list."""
    if v is None:
        return None
    if isinstance(v, dict) and set(v) == {"key", "value"} and isinstance(
        v.get("key"), list
    ):
        return list(zip(v["key"], v["value"]))
    return list(v.items())


@pytest.mark.parametrize("codec", ["SNAPPY", "ZSTD", "UNCOMPRESSED", "GZIP"])
@pytest.mark.parametrize("pv", [1, 2])
def test_nested_write_three_readers(tmp_path, codec, pv):
    blob = parquet_write(
        _NESTED_COLS, types=_NESTED_TYPES, codec=codec, data_page_version=pv
    )
    # our own reader
    got = parquet_read_columns(blob, list(_NESTED_COLS))
    assert got["attrs"] == [
        None, [], [("a", "1")], [("a", None), ("b", "2")],
        [("x", "y"), ("a", "z")],
    ]
    assert got["events"] == _NESTED_COLS["events"]
    assert got["mat"] == _NESTED_COLS["mat"]
    assert got["mls"] == [
        None, [("p", ["a", None])], [("q", None)], [("r", []), ("s", ["zz"])], [],
    ]
    # pyarrow
    pl = pq.read_table(io.BytesIO(blob)).to_pylist()
    assert [r["events"] for r in pl] == _NESTED_COLS["events"]
    assert [r["mat"] for r in pl] == _NESTED_COLS["mat"]
    assert [
        None if r["attrs"] is None else [tuple(x) for x in r["attrs"]] for r in pl
    ] == got["attrs"]
    # DuckDB (incl. its MAP functions over our wire)
    path = str(tmp_path / "n.parquet")
    open(path, "wb").write(blob)
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT id, attrs, events, mat, mls FROM read_parquet('{path}') ORDER BY id"
    ).fetchall()
    assert _dmap(rows[3][1]) == [("a", None), ("b", "2")]
    assert rows[4][2] == [{"k": "c", "n": None}, {"k": "d", "n": 4}]
    assert rows[3][3] == [[1, 2], None, [3]]
    assert _dmap(rows[1][4]) == [("p", ["a", None])]
    assert con.execute(
        f"SELECT sum(cardinality(attrs)) FROM read_parquet('{path}')"
    ).fetchone()[0] == 5


def test_nested_write_roundtrip_fuzz():
    """300 random rows of the four nested shapes, multi row groups,
    written by us → read by pyarrow (C++ Dremel) value-for-value."""
    import random

    rng = random.Random(9)

    def r_str():
        return rng.choice([None, "", "s", "tuv" * rng.randrange(1, 3)])

    def r_int():
        return rng.choice([None, 0, -3, 1 << 33])

    def r_map():
        if rng.random() < 0.2:
            return None
        return {f"k{j}": r_str() for j in range(rng.randrange(0, 4))}

    def r_events():
        if rng.random() < 0.2:
            return None
        return [
            None
            if rng.random() < 0.15
            else {"k": r_str(), "n": r_int()}
            for _ in range(rng.randrange(0, 4))
        ]

    def r_mat():
        if rng.random() < 0.2:
            return None
        return [
            None
            if rng.random() < 0.15
            else [r_int() for _ in range(rng.randrange(0, 3))]
            for _ in range(rng.randrange(0, 3))
        ]

    n = 300
    cols = {
        "id": list(range(n)),
        "attrs": [r_map() for _ in range(n)],
        "events": [r_events() for _ in range(n)],
        "mat": [r_mat() for _ in range(n)],
    }
    types = {k: _NESTED_TYPES[k] for k in cols}
    blob = parquet_write(
        cols, types=types, codec="ZSTD", row_group_size=37, data_page_version=2
    )
    pl = pq.read_table(io.BytesIO(blob)).to_pylist()
    for i, r in enumerate(pl):
        am = None if cols["attrs"][i] is None else list(cols["attrs"][i].items())
        gm = None if r["attrs"] is None else [tuple(x) for x in r["attrs"]]
        assert gm == am, i
        assert r["events"] == cols["events"][i], i
        assert r["mat"] == cols["mat"][i], i
    # our reader agrees too
    ours = parquet_read_columns(blob, ["attrs", "events", "mat"])
    for i in range(n):
        assert ours["events"][i] == cols["events"][i]
        assert ours["mat"][i] == cols["mat"][i]


def test_map_null_key_is_value_error():
    with pytest.raises(ValueError, match="key"):
        parquet_write(
            {"m": [{None: "x"}]},
            types={"m": pmap("BYTE_ARRAY", "BYTE_ARRAY")},
        )


def test_hybrid_encode_matches_whole_buffer_reference():
    """Round-17: the bit-packed branch packs per GROUP of eight (each
    group is byte-aligned at 8 x bit_width bits = bit_width bytes) —
    the previous whole-run accumulator copied its ever-growing integer
    on every |=, O(n^2) bytes (200k random dictionary indices at 18
    bits: 8.0 s -> 0.09 s). The wire must be identical to packing the
    entire run into one little-endian integer, which this reference
    reproduces."""
    import random

    from yark_spark.operators.parquet_write import _hybrid_encode, _uvarint

    def reference(values, bit_width):
        out = bytearray()
        byte_w = max(1, (bit_width + 7) // 8)
        pend = []

        def flush(final):
            if not pend:
                return
            groups = (len(pend) + 7) // 8
            out.extend(_uvarint((groups << 1) | 1))
            acc = 0
            for k in range(groups * 8):
                v = pend[k] if k < len(pend) else 0
                acc |= v << (k * bit_width)
            out.extend(acc.to_bytes(groups * bit_width, "little"))
            pend.clear()

        i, n = 0, len(values)
        while i < n:
            run = 1
            while i + run < n and values[i + run] == values[i]:
                run += 1
            if run >= 8:
                if len(pend) % 8:
                    take = min(run, (-len(pend)) % 8)
                    pend.extend(values[i : i + take])
                    i += take
                    continue
                flush(False)
                out.extend(_uvarint(run << 1))
                out.extend(values[i].to_bytes(byte_w, "little"))
                i += run
            else:
                pend.extend(values[i : i + run])
                i += run
        flush(True)
        return bytes(out)

    rng = random.Random(9)
    # (values, widths to try) — widths must cover the values, as the
    # callers guarantee (bit_width = max value bit length)
    shapes = [
        ([], (1, 3, 18)),
        ([3] * 13, (2, 3, 18)),                          # padded RLE-less tail
        ([1] * 4096, (1, 3, 18)),                        # pure RLE (def levels)
        ([rng.randrange(1 << 17) for _ in range(5000)], (18,)),  # pure bit-pack, wide
        (([5] * 20 + [1, 2, 3, 4, 5, 6, 7]) * 500, (3, 18)),     # interleaved
        ([i // 100 % 7 for i in range(10_000)], (3, 18)),        # runs of 100
    ]
    for vals, widths in shapes:
        for w in widths:
            assert _hybrid_encode(vals, w) == reference(vals, w), (len(vals), w)


def test_ndarray_columns_write_identical_bytes():
    """The null-free numeric ndarray fast path (round 18: constant def
    levels, factorize dictionary scan, buffer-copy PLAIN encode, C
    min/max stats) must be byte-identical to the list path — the sink
    writer now hands numeric columns over as numpy arrays."""
    import numpy as np

    from yark_spark.operators.parquet_write import parquet_write

    n = 20_000
    cases = [
        # high-cardinality int64 (dictionary rejected)
        ({"v": list(range(n))}, {"v": "INT64"},
         {"v": np.arange(n, dtype=np.int64)}),
        # low-cardinality int64 (dictionary chosen; factorize order)
        ({"v": [i % 7 + 3 for i in range(n)]}, {"v": "INT64"},
         {"v": np.array([i % 7 + 3 for i in range(n)], dtype=np.int64)}),
        # int32 physical type from an int32 array
        ({"v": [i % 100 for i in range(n)]}, {"v": "INT32"},
         {"v": np.array([i % 100 for i in range(n)], dtype=np.int32)}),
        # widening int32 array into an INT64 column (safe cast)
        ({"v": [i % 100 for i in range(n)]}, {"v": "INT64"},
         {"v": np.array([i % 100 for i in range(n)], dtype=np.int32)}),
        # doubles, and doubles carrying NaN (fast path must defer)
        ({"v": [i / 3.0 for i in range(n)]}, {"v": "DOUBLE"},
         {"v": np.array([i / 3.0 for i in range(n)])}),
        ({"v": [float("nan") if i % 9 == 0 else i / 3.0 for i in range(n)]},
         {"v": "DOUBLE"},
         {"v": np.array(
             [float("nan") if i % 9 == 0 else i / 3.0 for i in range(n)]
         )}),
    ]
    for list_cols, types, np_cols in cases:
        for codec in ("UNCOMPRESSED", "SNAPPY"):
            got = parquet_write(np_cols, types=dict(types), codec=codec)
            want = parquet_write(list_cols, types=dict(types), codec=codec)
            assert got == want, (types, codec)
    # mixed frame: ndarray numeric next to a list string column
    txt = [f"t-{i % 50}" for i in range(n)]
    got = parquet_write(
        {"a": np.arange(n, dtype=np.int64), "s": txt},
        types={"a": "INT64", "s": "BYTE_ARRAY"},
    )
    want = parquet_write(
        {"a": list(range(n)), "s": txt},
        types={"a": "INT64", "s": "BYTE_ARRAY"},
    )
    assert got == want
