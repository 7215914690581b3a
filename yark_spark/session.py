"""SparkSession factory + per-query session hygiene.

Scale posture (100 TB / 1000 executors): AQE on (runtime re-plan, skew-join
splitting, partition coalescing), broadcast threshold generous enough to
broadcast every dimension table, UTC session timezone pinned so timestamp
semantics are stable across engines (the DuckDB oracle compares naive UTC
values), Arrow enabled for the few pandas-UDF paths.
"""

from __future__ import annotations

import os
import tempfile
import weakref
import zipfile

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to ANY session our queries run on (the
#: driver owns the session in verify runs — these are all safe to set at
#: runtime, unlike static confs such as executor memory).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: pushdown + pruning are defaults, pinned here for clarity.
    "spark.sql.parquet.filterPushdown": "true",
    # The fixture events table stores TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as long and convert in io.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: Sessions already tuned — ``tune`` is called by every ``load_table``
#: (3-4 per query x hundreds of driver keys), and each conf.set is a
#: py4j round trip; the values are constants, so apply them once per
#: session. WeakSet: dropping a stopped session must not pin it.
_TUNED: "weakref.WeakSet" = weakref.WeakSet()

#: SparkContexts the package zip was added to (a stopped and recreated
#: context starts with no Python files, so it must be shipped again).
_SHIPPED: "weakref.WeakSet" = weakref.WeakSet()

#: Per-process temp dir holding the package zip, built on first use.
_ZIP_DIR: tempfile.TemporaryDirectory | None = None


def _package_zip() -> str:
    """Zip the package's bytecode once per process, leaving out
    ``queries`` (workers must never import it). Bytecode only: a Python
    worker runs ``importlib.invalidate_caches()`` before every task,
    which re-reads the directory of each zip on its path, so every entry
    costs per task; worker tracebacks still name each source file and
    line."""
    global _ZIP_DIR
    if _ZIP_DIR is None:
        _ZIP_DIR = tempfile.TemporaryDirectory(prefix="yark_spark-")
        with zipfile.PyZipFile(os.path.join(_ZIP_DIR.name, "yark_spark.zip"), "w") as zf:
            zf.writepy(
                os.path.dirname(os.path.abspath(__file__)),
                filterfunc=lambda path: os.path.basename(path) != "queries",
            )
    return os.path.join(_ZIP_DIR.name, "yark_spark.zip")


def ship_package(spark: SparkSession) -> None:
    """Make ``import yark_spark`` work on the session's Python workers:
    add the package zip to its SparkContext once. UDF bodies then pickle
    module-level helpers by reference, whatever the driver's cwd or
    ``sys.path``. ``yark_spark.queries`` is not shipped: its fixtures
    module writes files next to itself on import, so no UDF may
    reference a ``queries`` module global."""
    sc = spark.sparkContext
    if sc not in _SHIPPED:
        sc.addPyFile(_package_zip())
        _SHIPPED.add(sc)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session and ship the package
    to its workers (idempotent; memoized per session object — the confs
    are constants)."""
    ship_package(spark)
    if spark in _TUNED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — keep going
    _TUNED.add(spark)
    return spark


def enable_worker_protobuf_shim() -> bool:
    """Route Spark Python workers through ``scripts/pyshim/python-shim``
    when no usable protobuf install exists (transformWithStateInPandas
    needs ``google.protobuf`` inside every worker; see the shim's
    docstring for the container-specific details). Must run BEFORE the
    SparkContext is created — worker interpreters are pinned at context
    start. Probes ``google.protobuf.descriptor`` (not the bare package:
    jar-embedded .proto resources make that a vacuous namespace hit).
    Returns True when the shim is active or protobuf is natively
    available. No-op outside this container."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        pass
    shim = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "pyshim",
        "python-shim",
    )
    if not os.access(shim, os.X_OK):
        return False
    # override (not setdefault): the container presets PYSPARK_PYTHON=python,
    # and the wrapper execs exactly that interpreter after extending
    # PYTHONPATH, so behavior is otherwise identical
    os.environ["PYSPARK_PYTHON"] = shim
    return True


def get_spark(app_name: str = "yark_spark", cpus: int | None = None) -> SparkSession:
    """Local session shaped like tests/bench expect.

    ``local[N]`` with N from $SPARK_GRAFT_CPUS (default 32) and shuffle
    partitions sized to the core count — on a real cluster these become
    executor topology + AQE-coalesced shuffle partitions.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    enable_worker_protobuf_shim()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/yark_spark_warehouse")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
