"""Table IO over the driver fixtures (TESTDATA.md) and generic sources.

Reference parity: the reference's single data store is a SQLite file opened
at import (`cmds/archive.py:18`); our at-rest format is Parquet read into
DataFrames so scans get predicate pushdown + column pruning for free
(SURVEY.md §4). CSV/JSON sources mirror `cmds/archive.py:229-247` (Takeout
playlist CSV) and `cmds/archive.py:317-327` (watch-history JSON).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yark_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Columns that MAY be stored as Parquet TIMESTAMP(NANOS) — read as
#: nanos-since-epoch longs (spark.sql.legacy.parquet.nanosAsLong) and
#: restored to timestamps by normalize_timestamps.
_NANOS_TS_COLS = {"events": ("ts",)}


def normalize_timestamps(df: DataFrame, nanos_cols: tuple[str, ...] = ()) -> DataFrame:
    """Canonicalize event-time columns to TIMESTAMP (with local-tz
    semantics; the session tz is pinned UTC in session.py so values are
    stable and match the DuckDB oracle's naive timestamps).

    Two at-rest variants occur across fixture generations:
    - TIMESTAMP(NANOS): the vectorized reader rejects it; with
      ``nanosAsLong`` it arrives as a long — restore via integer µs div
      (ns values exceed double precision, so ``/ 1000`` would drift ±1µs).
    - timestamp[us] without timezone → Spark reads TIMESTAMP_NTZ, which
      ``F.unix_micros`` / ``withWatermark`` reject; cast to TIMESTAMP
      (wall-clock preserved under the UTC session pin).
    Works on batch and streaming DataFrames alike.
    """
    for field in df.schema.fields:
        t = field.dataType.typeName()
        if t == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        elif field.name in nanos_cols and t in ("long", "bigint"):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table as a DataFrame (Parquet scan; prune/pushdown-able)."""
    tune(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_timestamps(df, _NANOS_TS_COLS.get(name, ()))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order, or a pyarrow
    Table whose columns are; ``schema`` a StructType or DDL string) as a
    JVM-side relation: built through an Arrow table, which Spark turns
    into a ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold`` and into a JVM
    RDD above it. ``spark.createDataFrame(list)`` instead builds a
    Python-pickled RDD whose every scan runs Python-worker tasks, and an
    empty one hides from the optimizer that it is empty; an empty
    ``LocalRelation`` lets ``PropagateEmptyRelation`` prune the joins
    and unions it feeds at plan time.

    Naive datetimes keep ``createDataFrame(list)``'s semantics: they are
    wall-clock times in the driver process's local timezone."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, TimestampType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = pa.Table.from_arrays(rows.columns, names=arrow.names).cast(arrow)
    else:
        columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
        arrays = []
        for field, values, atype in zip(schema.fields, columns, arrow.types):
            if isinstance(field.dataType, TimestampType):
                # to UTC first: pyarrow drops the offset of a non-UTC tzinfo
                values = [v if v is None else v.astimezone(datetime.timezone.utc) for v in values]
            arrays.append(pa.array(list(values), type=atype))
        table = pa.Table.from_arrays(arrays, schema=arrow)
    return spark.createDataFrame(table, schema)


def read_csv_source(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV source with header row → columns (reference `cmds/archive.py:229-247`).

    An explicit schema is preferred at scale — schema inference is an extra
    full pass over the files.
    """
    tune(spark)
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json_source(spark: SparkSession, path: str, schema=None, multiline: bool = True) -> DataFrame:
    """JSON source (reference `cmds/archive.py:317-327` loads a whole Takeout
    array — hence multiLine; NDJSON at scale should pass multiline=False so
    the file splits across tasks)."""
    tune(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multiline:
        reader = reader.option("multiLine", "true")
    return reader.json(path)
