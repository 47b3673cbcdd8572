"""Repository hygiene, no Spark: the code and the user-facing docs name no
file of the retired round archive, and every tool they name is tracked.

History and source documents (CHANGES.md, ROADMAP.md, SURVEY.md,
PAPER.md) are not scanned."""

from __future__ import annotations

import os
import re
import subprocess

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the bracketed classes keep this file from matching its own pattern
ARCHIVE = re.compile(
    r"BENCH_r\d|CORRECTNESS_r\d|PERF_r\d|VERIFY_r\d|OPTIMIZATION_r\d|BENCH_sf[1]"
    r"|PLAN_AUDI[T]|BASELINE\.(json|md)|plans/r1\d"
)
TOOL = re.compile(r"tools/(\w+)\.py")
DOCS = {"README.md", "DEPLOY.md", "FIXTURES.md", "PARITY.md"}


def _tracked() -> list[str]:
    try:
        out = subprocess.run(
            ["git", "ls-files"], cwd=_REPO, capture_output=True, text=True, timeout=60
        )
    except (OSError, subprocess.SubprocessError):
        out = None
    if out is None or out.returncode != 0:
        pytest.skip("needs a git checkout")
    return out.stdout.splitlines()


def _scanned(tracked: list[str]) -> dict[str, str]:
    paths = [
        p for p in tracked
        if p.endswith(".py") or p in DOCS or p.startswith(".claude/")
    ]
    out = {}
    for p in paths:
        with open(os.path.join(_REPO, p), encoding="utf-8", errors="replace") as f:
            out[p] = f.read()
    return out


def test_no_archive_file_named():
    hits = [
        f"{p}:{n}: {m.group(0)}"
        for p, text in _scanned(_tracked()).items()
        for n, line in enumerate(text.splitlines(), 1)
        for m in ARCHIVE.finditer(line)
    ]
    assert not hits, "names of deleted archive files:\n" + "\n".join(hits)


def test_named_tools_are_tracked():
    tracked = _tracked()
    missing = sorted(
        f"{p}: tools/{name}.py"
        for p, text in _scanned(tracked).items()
        for name in set(TOOL.findall(text))
        if f"tools/{name}.py" not in tracked
    )
    assert not missing, "untracked tools named:\n" + "\n".join(missing)
