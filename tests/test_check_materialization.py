"""scripts/check_materialization.py on a synthetic repository: a diff
that touches persist/localCheckpoint/StorageLevel/.cache( under yark_spark/
fails until a SCALE_*_50x.json newer than the base revision exists."""

import os
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "check_materialization.py",
)


def _git(repo, *args):
    subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
        cwd=repo, check=True, capture_output=True,
    )


def _check(repo, base):
    return subprocess.run(
        [sys.executable, SCRIPT, base], cwd=repo, capture_output=True, text=True
    ).returncode


def test_materialization_diff_needs_a_fresh_50x_result(tmp_path):
    repo = tmp_path / "repo"
    (repo / "yark_spark").mkdir(parents=True)
    op = repo / "yark_spark" / "op.py"
    op.write_text("def f(df):\n    return df\n")
    (repo / "SCALE_r01_50x.json").write_text("{}")
    (repo / "notes.py").write_text("")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "base")

    # no materialization change: passes
    op.write_text("def f(df):\n    return df.select('a')\n")
    assert _check(repo, "HEAD") == 0
    # the same words outside yark_spark/ do not count
    (repo / "notes.py").write_text("df.persist()\n")
    assert _check(repo, "HEAD") == 0

    # a persist added under yark_spark/, committed: fails
    op.write_text("def f(df):\n    return df.persist()\n")
    _git(repo, "commit", "-qam", "persist")
    assert _check(repo, "HEAD~1") == 1
    # an older 50x result does not count; an untracked new one does
    new = repo / "SCALE_r02_50x.json"
    new.write_text("{}")
    assert _check(repo, "HEAD~1") == 0
    # ... and so does a committed one, but a 20x one does not
    new.unlink()
    (repo / "SCALE_r02_20x.json").write_text("{}")
    assert _check(repo, "HEAD~1") == 1
    (repo / "SCALE_r01_50x.json").write_text('{"rerun": true}')
    _git(repo, "commit", "-qam", "rerun 50x")
    assert _check(repo, "HEAD~2") == 0

    # a removed StorageLevel line is a change too
    op.write_text("from pyspark import StorageLevel\n")
    _git(repo, "commit", "-qam", "storage level")
    op.write_text("def f(df):\n    return df\n")
    assert _check(repo, "HEAD") == 1

    # a lazy .cache() materializes too
    _git(repo, "commit", "-qam", "plain")
    op.write_text("def f(df):\n    return df.cache()\n")
    assert _check(repo, "HEAD") == 1
