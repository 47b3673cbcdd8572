from __future__ import annotations

import os
import subprocess

import pytest

from exon_duckdb_spark.session import get_session

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_changes() -> str | None:
    """``git status`` of tracked files, or None without a usable git."""
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=no"],
            cwd=_REPO, capture_output=True, text=True, timeout=60,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout if out.returncode == 0 else None


@pytest.fixture(scope="session", autouse=True)
def tracked_files_unchanged():
    """Fail the run if it modified tracked files, naming them."""
    before = _tracked_changes()
    yield
    after = _tracked_changes()
    if before is None or after is None:
        return
    changed = sorted(set(after.splitlines()) - set(before.splitlines()))
    assert not changed, "the test run modified tracked files:\n" + "\n".join(changed)


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="exon_duckdb_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
