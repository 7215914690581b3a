"""Parquet page-codec matrix (round 14, session 3): BROTLI (4),
legacy Hadoop-framed LZ4 (5) and LZ4_RAW (7) join the four round-13
codecs in BOTH directions of the from-scratch parquet stack.

Differential lanes per codec:
  * our writer -> our reader     (all seven)
  * our writer -> pyarrow        (all seven — real parquet-cpp reads
                                  our BROTLI/LZ4-hadoop/LZ4_RAW wire)
  * our writer -> DuckDB         (the five codecs DuckDB supports;
                                  it rejects BROTLI and hadoop LZ4)
  * pyarrow   -> our reader      (BROTLI needs the extracted RFC 7932
                                  static dictionary — see
                                  test_brotli_static_dict.py; LZ4 via
                                  pyarrow writes LZ4_RAW wire ids)

No proprietary references: parquet format + RFC 7932 + public
pyarrow/duckdb APIs only.
"""

import io

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from yark_spark.operators.parquet_data import (
    _lz4_hadoop_decompress,
    parquet_read_columns,
)
from yark_spark.operators.parquet_meta import parquet_footer
from yark_spark.operators.parquet_write import parquet_write

COLS = {
    "a": list(range(2000)),
    "s": ["value-%d-%s" % (i, "x" * (i % 37)) for i in range(2000)],
    "f": [i * 0.5 for i in range(2000)],
}
ALL = ["BROTLI", "LZ4", "LZ4_RAW", "SNAPPY", "GZIP", "ZSTD", "UNCOMPRESSED"]
DUCK = {"UNCOMPRESSED", "GZIP", "SNAPPY", "ZSTD", "LZ4_RAW"}


@pytest.mark.parametrize("codec", ALL)
def test_roundtrip_ours_pyarrow_duckdb(codec, tmp_path):
    blob = parquet_write(COLS, codec=codec)
    # wire id matches the spec enum for this codec
    ft = parquet_footer(blob)
    assert all(
        c["codec"] == codec for rg in ft["row_groups"] for c in rg["columns"]
    )
    back = parquet_read_columns(blob, ["a", "s", "f"])
    assert list(back["a"]) == COLS["a"]
    assert list(back["s"]) == COLS["s"]
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("a").to_pylist() == COLS["a"]
    assert t.column("s").to_pylist() == COLS["s"]
    assert t.column("f").to_pylist() == COLS["f"]
    if codec in DUCK:
        p = tmp_path / "t.parquet"
        p.write_bytes(blob)
        n, sa = duckdb.sql(
            f"select count(*), sum(a) from read_parquet('{p}')"
        ).fetchone()
        assert n == 2000 and sa == sum(COLS["a"])


@pytest.mark.parametrize("comp", ["LZ4", "ZSTD"])
def test_pyarrow_written_reads_back(comp):
    buf = io.BytesIO()
    pq.write_table(pa.table(COLS), buf, compression=comp, use_dictionary=False)
    back = parquet_read_columns(buf.getvalue(), ["a", "s", "f"])
    assert list(back["a"]) == COLS["a"]
    assert list(back["s"]) == COLS["s"]


def test_lz4_hadoop_multiblock_and_raw_fallback():
    from yark_spark.operators.lz4 import lz4_block_compress

    import struct as _struct

    parts = [b"alpha" * 100, b"beta" * 200, b"gamma" * 50]
    framed = b"".join(
        _struct.pack(">II", len(p), len(lz4_block_compress(p)))
        + lz4_block_compress(p)
        for p in parts
    )
    whole = b"".join(parts)
    assert _lz4_hadoop_decompress(framed, len(whole)) == whole
    # raw-block payload (old parquet-cpp): frame walk fails, falls back
    raw = lz4_block_compress(whole)
    assert _lz4_hadoop_decompress(raw, len(whole)) == whole
