#!/usr/bin/env python
"""Materialization gate: a change to persist / checkpoint / storage level
under ``yark_spark/`` must come with a fresh 50x scale-lane result.

    python scripts/check_materialization.py <base-rev>

Run from the repository root. Compares the working tree with
``<base-rev>``. Exits 1 when the diff adds or removes a line under
``yark_spark/`` that matches ``persist|localCheckpoint|StorageLevel|.cache(`` and
no ``SCALE_*_50x.json`` was added or changed since ``<base-rev>``
(committed, in the working tree, or untracked); exits 0 otherwise.
Materialization is where the 50x lane has caught what smaller runs did
not, such as an eager row-block ``localCheckpoint`` that ran the JVM out
of heap at ~50M edges.
"""

from __future__ import annotations

import re
import subprocess
import sys

MATERIALIZATION = re.compile(r"persist|localCheckpoint|StorageLevel|\.cache\(")
SCALE_50X = re.compile(r"(^|/)SCALE_[^/]*_50x\.json$")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], check=True, capture_output=True, text=True
    ).stdout


def materialization_lines(base: str) -> list[str]:
    """Changed lines under ``yark_spark/`` that touch materialization."""
    diff = _git("diff", "--unified=0", base, "--", "yark_spark/")
    return [
        line
        for line in diff.splitlines()
        if line[:1] in "+-"
        and not line.startswith(("+++", "---"))
        and MATERIALIZATION.search(line)
    ]


def fresh_50x_results(base: str) -> list[str]:
    """``SCALE_*_50x.json`` files added or changed since ``base``."""
    changed = _git("diff", "--name-only", base).splitlines()
    untracked = _git("ls-files", "--others", "--exclude-standard").splitlines()
    return [p for p in changed + untracked if SCALE_50X.search(p)]


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    base = argv[0]
    touched = materialization_lines(base)
    if not touched:
        print(f"no materialization change since {base}")
        return 0
    fresh = fresh_50x_results(base)
    if fresh:
        print(f"materialization changed; 50x result(s): {', '.join(fresh)}")
        return 0
    print(
        f"materialization changed since {base} and no SCALE_*_50x.json is "
        "newer; run the 50x lane (scripts/scale_bench.py) first:",
        file=sys.stderr,
    )
    for line in touched:
        print(f"  {line}", file=sys.stderr)
    return 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
