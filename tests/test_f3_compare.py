"""tools_f3_compare: merging several JSONL inputs per side and the
degenerate geomean cases (no shared query, zero walls)."""

from __future__ import annotations

import io
import json

import tools_f3_compare as f3


def _jsonl(*rows: dict) -> io.StringIO:
    return io.StringIO("".join(json.dumps(r) + "\n" for r in rows))


def _row(query: str, walls: list[float], jobs: int | None, facts: dict | None = None) -> dict:
    row = {"query": query, "runs": [{"wall": w, "canary": 0.01} for w in walls]}
    if jobs is not None:
        row["jobs_last_run"] = jobs
    if facts is not None:
        row["facts"] = facts
    return row


def test_jobs_and_facts_follow_the_min_wall_file():
    merged = f3._load([
        _jsonl(_row("a", [2.0, 1.5], 7, {"scans": 1}), _row("b", [3.0], 4, {"scans": 2})),
        # A slower later file must not overwrite a's fields; a file
        # without the keys must not reset b's fields to None.
        _jsonl(_row("a", [1.9], 9, {"scans": 5}), _row("b", [2.5], None)),
    ])
    assert [r["wall"] for r in merged["a"]["runs"]] == [2.0, 1.5, 1.9]
    assert (merged["a"]["jobs"], merged["a"]["facts"]) == (7, {"scans": 1})
    # b's min wall comes from the second file, which carries no fields.
    assert (merged["b"]["jobs"], merged["b"]["facts"]) == (None, None)
    merged = f3._load([_jsonl(_row("a", [2.0], 7)), _jsonl(_row("a", [1.0], 3))])
    assert merged["a"]["jobs"] == 3


def test_geomean_none_without_shared_queries_and_zero_walls_skipped():
    prev = f3._load([_jsonl(_row("a", [1.0], 1), _row("b", [2.0], 1), _row("c", [1.0], 1))])
    rec = f3.compare(prev, f3._load([_jsonl(_row("z", [1.0], 1))]))
    assert rec["n_queries"] == 0 and rec["geomean_ratio"] is None
    now = f3._load([_jsonl(_row("a", [0.5], 1), _row("b", [16.0], 1), _row("c", [0.0], 1))])
    rec = f3.compare(prev, now)
    assert rec["zero_wall"] == ["c"] and rec["queries"]["c"]["ratio"] is None
    assert rec["geomean_ratio"] == 2.0  # sqrt(0.5 * 8.0)
    rec = f3.compare(prev, f3._load([_jsonl(_row("c", [0.0], 1))]))
    assert rec["geomean_ratio"] is None and rec["zero_wall"] == ["c"]
