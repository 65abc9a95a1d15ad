"""Every repo path a docstring, comment or top-level doc names must exist.

Scans the tracked ``.py`` files, README.md, BASELINE.md and the verify
skill for ``tools/``, ``tests/``, ``perfbench/``, ``examples/`` and
``plans/`` paths, and resolves each against the repo root or the package
dir (``plans/io_q.py`` is the package's). A path to a file that is gone
is written ``path@<sha>``: the commit that last had it. No Spark.
"""

from __future__ import annotations

import os
import re
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "weather_etl_docker_airflow_project_spark")
DOCS = ["README.md", "BASELINE.md", ".claude/skills/verify/SKILL.md"]

# a path starts a token (not ``pkg/plans/x.py``, not ``../tests``) and may
# end in ``@<sha>``; ``::test_name`` and trailing punctuation are cut off
_PATH = re.compile(
    r"(?<![\w/.\-])((?:tools|tests|perfbench|examples|plans)/[\w./\-]*)"
    r"(@[0-9a-f]{7,40})?"
)


def _scanned_files() -> list[str]:
    out = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True
    )
    if out.returncode == 0:
        py = out.stdout.split()
    else:  # not a git checkout: every .py outside hidden and cache dirs
        py = []
        for d, subdirs, names in os.walk(ROOT):
            subdirs[:] = [s for s in subdirs if s[0] not in "._"]
            py += [
                os.path.relpath(os.path.join(d, n), ROOT)
                for n in names
                if n.endswith(".py")
            ]
    return sorted(py) + DOCS


def _resolves(path: str) -> bool:
    # ``plans/relational.j7_range_value_buckets`` names a module attribute
    module = re.sub(r"\.[^/]*$", "", path) + ".py"
    return any(
        os.path.exists(os.path.join(base, p))
        for base in (ROOT, PKG)
        for p in (path, module)
    )


def dangling_paths(text: str) -> list[tuple[int, str]]:
    """(line number, path) for every unresolved path in ``text``."""
    bad = []
    for lineno, line in enumerate(text.splitlines(), 1):
        for m in _PATH.finditer(line):
            path = m.group(1).rstrip(".")
            if not m.group(2) and not _resolves(path):
                bad.append((lineno, path))
    return bad


def test_dangling_paths_detector():
    assert dangling_paths("see tests/test_plan_shapes.py::test_x.") == []
    assert dangling_paths("see plans/io_q.py and tools/code_lines.py") == []
    gone = "tests/" + "test_gone.py"  # split, so this file names no gone path
    assert dangling_paths(f"({gone})\nok") == [(1, gone)]
    assert dangling_paths("tools/gone.py@b01e732, plans/r16/x.txt@b01e732") == []
    assert dangling_paths("pkg/plans/gone.py ../tests/gone.py") == []


def test_named_paths_resolve():
    bad = {}
    for rel in _scanned_files():
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            found = dangling_paths(f.read())
        if found:
            bad[rel] = found
    assert not bad, f"paths named but not in the repo: {bad}"
