"""Driver-side rows become JVM-side relations (``io.local_frame``): no
module outside ``queries/`` builds a DataFrame from a Python list, whose
every scan would run Python-worker tasks."""

import ast
import datetime
import os

from yark_spark.io import local_frame

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "yark_spark")


def test_no_list_built_frames_outside_queries():
    hits = []
    for root, dirs, files in os.walk(PACKAGE):
        dirs[:] = [d for d in dirs if d not in ("queries", "__pycache__")]
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            hits += [
                f"{os.path.relpath(path, PACKAGE)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    # the one call: local_frame's own, over an Arrow table
    assert len(hits) == 1 and hits[0].startswith("io.py:"), hits


def test_local_frame_is_a_local_relation_with_the_rows(spark):
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc)
    rows = [(1, "a", [0.5, 1.5], ts), (2, None, None, None)]
    df = local_frame(spark, rows, "k int, s string, v array<double>, t timestamp")
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert [tuple(r) for r in df.orderBy("k").collect()] == [
        (1, "a", [0.5, 1.5], ts.replace(tzinfo=None)),
        (2, None, None, None),
    ]
    empty = local_frame(spark, [], df.schema)
    assert empty.schema == df.schema and empty.count() == 0
