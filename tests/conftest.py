import os

import pytest

#: modules whose tests form the slow lane (full differential sweeps over
#: every registered key) — everything else is the fast edit-test loop
_SLOW_MODULES = {
    "test_oracle_parity",
    "test_tokenization_parity",
    "test_stream_batch_equivalence",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.module.__name__.rpartition(".")[2] in _SLOW_MODULES:
            item.add_marker(pytest.mark.slow)


SF_DIR = os.environ.get("YARK_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("YARK_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from yark_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("yark_spark-tests", cpus=cpus)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(name, fn)`` runs ``fn()`` under the job group ``name``
    and returns ``(fn's result, number of Spark jobs it started)``."""
    sc = spark.sparkContext

    def run(name, fn):
        sc.setJobGroup(name, name)
        try:
            out = fn()
            jobs = sc.statusTracker().getJobIdsForGroup(name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(jobs)

    return run
