"""Central query registry.

Every operator from SURVEY.md §2 is declared exactly once: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the equivalent
DuckDB oracle SQL. ``__spark_entry__.py`` exposes these to the driver.

Hash-match discipline (SURVEY.md §7 risk register): alias every computed
column identically in both forms, pin UTC, round any float born from
arithmetic (raw parquet doubles pass through exactly), make every ranked /
limited set deterministic with explicit tie-breaks.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from yark_spark.session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query key. ``oracle=None`` → driver does a rows-only check
    (reserved for genuinely non-SQL-expressible ops: LSH, pandas UDFs,
    streaming state — SURVEY.md §5.1). The registered callable tunes the
    session first, so keys that never call ``load_table`` still run on a
    session whose workers can import the package."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")

        @functools.wraps(fn)
        def run(spark: SparkSession, *args, **kwargs) -> DataFrame:
            tune(spark)
            return fn(spark, *args, **kwargs)

        QUERIES[name] = run
        if oracle is not None:
            ORACLES[name] = oracle
        return run

    return deco
