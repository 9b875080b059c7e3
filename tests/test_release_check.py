"""tools_release_check: a record under ``artifacts/`` is fresh only
when a commit that changed its CONTENT follows the last measured-source
change; a pure rename is no regeneration, and files outside
``artifacts/`` are never listed."""

from __future__ import annotations

import os
import subprocess

import pytest

import tools_release_check as rc


def _git(repo, *args: str) -> None:
    subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@example.com",
         *args],
        cwd=repo, check=True, capture_output=True,
    )


@pytest.fixture
def repo(tmp_path):
    """Round-1 record committed at the root with its source; a later
    commit changes the source and only ``git mv``s the record, bytes
    unchanged, to ``artifacts/X.json``."""
    _git(tmp_path, "init", "-q")
    (tmp_path / "bench.py").write_text("v = 1\n")
    (tmp_path / "X_r01.json").write_text('{"wall": 1.0}\n')
    _git(tmp_path, "add", "-A")
    _git(tmp_path, "commit", "-q", "-m", "measure")
    (tmp_path / "artifacts").mkdir()
    _git(tmp_path, "mv", "X_r01.json", "artifacts/X.json")
    (tmp_path / "bench.py").write_text("v = 2\n")
    _git(tmp_path, "commit", "-q", "-am", "change source, move record")
    return tmp_path


def test_moved_record_stays_stale(repo):
    result = rc.check(str(repo))
    assert result["artifacts"]["artifacts/X.json"]["status"] == "STALE"
    assert len(result["violations"]) == 1


def test_rewritten_record_is_fresh(repo):
    (repo / "artifacts" / "X.json").write_text('{"wall": 0.9}\n')
    _git(repo, "commit", "-q", "-am", "regenerate")
    result = rc.check(str(repo))
    assert result["artifacts"]["artifacts/X.json"]["status"] == "fresh"
    assert result["violations"] == []


def test_root_driver_files_never_listed(repo):
    for name in ("PERF_r99.json", "VERIFY_r99.json"):
        (repo / name).write_text("{}\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", "driver files")
    assert list(rc.check(str(repo))["artifacts"]) == ["artifacts/X.json"]


def test_measured_source_paths_exist():
    """A deleted harness must leave the list too: a pathspec that
    matches nothing drops out of ``git log`` silently."""
    missing = [
        p for p in rc.MEASURED_SOURCE
        if not os.path.exists(os.path.join(rc.REPO, p))
    ]
    assert missing == []
