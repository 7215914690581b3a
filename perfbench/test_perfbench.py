"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start real Spark sessions through the launcher (about a
minute each); the rest are fast.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import archive_script, main, tables

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


def _same_tree(a: str, b: str) -> bool:
    names = _files(a)
    return names == _files(b) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_tables_are_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        tables.write_tables(str(tmp_path / d), 0.001, 7)
    tables.write_tables(str(tmp_path / "c"), 0.001, 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet", tmp_path / "c" / "lineitem.parquet",
                           shallow=False)


def _script_files(workdir: str, seed: int, n_ops: int) -> str:
    script = archive_script.ArchiveScript(seed, workdir, archive_script.SMOKE)
    for _, op in zip(range(n_ops), script):
        if op.kind == "stream":
            os.replace(op.path, op.effect["dest"])
        script.apply(op)
    return workdir


def test_archive_script_is_byte_identical_per_seed(tmp_path):
    n = 3 * len(archive_script.CYCLE)
    a = _script_files(str(tmp_path / "a"), 3, n)
    b = _script_files(str(tmp_path / "b"), 3, n)
    c = _script_files(str(tmp_path / "c"), 4, n)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_archive_model_follows_the_script(tmp_path):
    script = archive_script.ArchiveScript(5, str(tmp_path), archive_script.SMOKE)
    for _, op in zip(range(2 * len(archive_script.CYCLE)), script):
        script.apply(op)
    counts = script.model.counts(archive_script.SMOKE)
    assert counts["videos"] > 0 and counts["history"] > 0 and counts["playlists"] > 0
    assert counts["comments"] == archive_script.SMOKE["comments"] * len(script.model.present)


def test_metric_tables_match_benchmark_json():
    declared = _declared()
    assert {m["name"]: m["unit"] for m in declared["end_to_end"]} == main.E2E_UNITS
    assert {m["name"]: m["unit"] for m in declared["per_layer"]} == main.LAYER_UNITS
    assert {w["name"] for w in declared["workloads"]} <= set(main.WORKLOADS)


def _launch(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True,
        timeout=300,
    )


@pytest.mark.parametrize("workload,trace", [
    ("archive", "0"), ("headline", "0"), ("heavy", "0"), ("archive", "1"),
])
def test_smoke_run(workload, trace):
    proc = _launch(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
                   "--trace", trace, "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0 and result["correct"] and result["attempted"] > 0, proc.stderr[-3000:]
    declared = _declared()["per_layer" if trace == "1" else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["store.commit_s"]["value"] > 0
        assert result["metrics"]["streaming.add_batch_ms"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _launch(str(tmp_path), "--workload", "archive", "--seed", "1", "--seconds", "1",
                   "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout == ""
