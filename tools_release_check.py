#!/usr/bin/env python
"""Mechanical source-freeze check for the committed measurement records.

A record measured before a later change to the code it measures
describes code that no longer exists. This script makes that visible:

  for every committed record under ``artifacts/``, the LAST commit
  touching any measured-source path must be an ANCESTOR OF (or equal
  to) the last commit that changed the record's CONTENT — i.e. nothing
  that affects what the record measures changed after it was
  regenerated. A pure rename (``git mv`` with identical bytes) is not a
  regeneration and does not refresh a record.

Measured source = everything whose behavior the records capture: the
package, the entry module, the bench/tool CLIs. Tests, docs and this
script are NOT measured source — committing them after the regen is
fine and expected.

Also fails when the working tree has UNCOMMITTED changes to measured
source: records regenerated on a dirty tree cannot be tied to any
commit at all.

Only ``artifacts/`` is checked: files other writers put elsewhere in
the repo are out of scope by location.

Usage:
  python tools_release_check.py       # exit 1 on violations
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
ARTIFACTS = "artifacts"

# Paths (git pathspecs) whose content the records measure.
MEASURED_SOURCE = [
    "datafusion_dist_spark",
    "__spark_entry__.py",
    "bench.py",
    "bench_cores.py",
    "bench_memory.py",
    "bench_scale.py",
    "tools_driver_sim.py",
    "tools_f3_compare.py",
    "tools_profile_queries.py",
    "tools_scale_curve.py",
    "tools_standalone.py",
]


def _git(repo: str, *args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=repo, check=True,
        capture_output=True, text=True,
    ).stdout.strip()


def _last_commit(repo: str, pathspecs: list[str]) -> str | None:
    out = _git(repo, "log", "-1", "--format=%H", "--", *pathspecs)
    return out or None


def _last_content_commit(repo: str, path: str) -> str | None:
    """Newest commit (following renames) whose diff changed ``path``'s
    bytes: its raw diff line carries different old/new blob ids. A
    100% rename carries the same blob on both sides and is skipped."""
    out = _git(
        repo, "log", "--follow", "--format=commit %H", "--raw",
        "--no-abbrev", "--", path,
    )
    commit = None
    for line in out.splitlines():
        if line.startswith("commit "):
            commit = line.split()[1]
        elif line.startswith(":") and commit is not None:
            old_blob, new_blob = line.split()[2:4]
            if old_blob != new_blob:
                return commit
    return None


def _is_ancestor(repo: str, ancestor: str, descendant: str) -> bool:
    rc = subprocess.run(
        ["git", "merge-base", "--is-ancestor", ancestor, descendant],
        cwd=repo,
    ).returncode
    return rc == 0


def check(repo: str = REPO) -> dict:
    violations: list[str] = []
    dirty = _git(repo, "status", "--porcelain", "--", *MEASURED_SOURCE)
    if dirty:
        violations.append(
            "uncommitted measured-source changes:\n" + dirty
        )
    src_commit = _last_commit(repo, MEASURED_SOURCE)
    if src_commit is None:
        raise SystemExit("no commits touch measured source?")

    artifacts: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(repo, ARTIFACTS, "*"))):
        name = os.path.relpath(path, repo)
        art_commit = _last_content_commit(repo, name)
        if art_commit is None:
            artifacts[name] = {"status": "UNCOMMITTED"}
            violations.append(f"{name}: exists but is not committed")
            continue
        ok = _is_ancestor(repo, src_commit, art_commit)
        artifacts[name] = {
            "status": "fresh" if ok else "STALE",
            "artifact_commit": art_commit[:12],
        }
        if not ok:
            violations.append(
                f"{name}: content last changed at {art_commit[:12]}, but "
                f"measured source changed later at {src_commit[:12]} — "
                "regenerate the record on the final tree"
            )
    return {
        "source_last_commit": src_commit[:12],
        "artifacts": artifacts,
        "violations": violations,
    }


def main() -> None:
    if sys.argv[1:]:
        raise SystemExit(f"unknown argument {sys.argv[1]!r}")
    result = check()
    print(json.dumps(result, indent=1))
    if result["violations"]:
        print("release check FAILED", file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
