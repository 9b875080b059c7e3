"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import importlib
import pathlib

import pytest

import __spark_entry__ as entrymod

_ROOT = pathlib.Path(__file__).resolve().parent.parent
# Every root harness module.
_HARNESSES = sorted(
    p.stem
    for pattern in ("bench*.py", "tools_*.py")
    for p in _ROOT.glob(pattern)
)


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) > 0
    assert set(oracles) <= set(qs)
    # Every query either has an oracle or is an explicitly rows-only op.
    rows_only = set(qs) - set(oracles)
    from datafusion_dist_spark import registry

    for name in rows_only:
        assert registry.all_specs()[name].oracle is None


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert rows is not None
    assert len(df.schema.fields) > 0


def test_bench_budget_gate_logic(tmp_path, capsys):
    """bench.py --assert-budget: gates only comparable runs (same sf,
    same data hashes), flags >factor-x per-query drift, and treats a
    regenerated corpus as incomparable rather than a failure."""
    import json

    import bench

    base = {
        "sf": 0.1,
        "queries": {"q_fast": 1.0, "q_slow": 2.0, "q_gone": 1.0},
        "data_hashes": {"lineitem": "aaa", "orders": "bbb"},
    }
    bp = tmp_path / "base.json"
    bp.write_text(json.dumps(base))
    cur = {
        "sf": 0.1,
        "queries": {"q_fast": 1.1, "q_slow": 5.0, "q_new": 9.9},
        "data_hashes": {"lineitem": "aaa", "orders": "bbb"},
    }
    problems = bench.assert_budget(cur, str(bp), 2.0)
    assert len(problems) == 1 and problems[0].startswith("q_slow:")
    # Regenerated corpus → incomparable, no violations.
    cur2 = dict(cur, data_hashes={"lineitem": "zzz", "orders": "bbb"})
    assert bench.assert_budget(cur2, str(bp), 2.0) == []
    assert "lineitem" in capsys.readouterr().err
    # Different sf → incomparable.
    cur3 = dict(cur, sf=0.01)
    assert bench.assert_budget(cur3, str(bp), 2.0) == []
    # Pre-r4 baseline without hashes still gates on sf.
    bp2 = tmp_path / "base2.json"
    bp2.write_text(json.dumps({"sf": 0.1, "queries": {"q_slow": 2.0}}))
    assert len(bench.assert_budget(cur, str(bp2), 2.0)) == 1


def test_bench_compact_line_restores_per_query_contract():
    """r12 measurement-bug fix (VERDICT r11 task 2): the LAST stdout
    line must fit the driver's ~2000-char tail capture AND carry real
    per-query timings again — most-expensive entries first, the
    omitted cheap tail counted explicitly, and a sha over the full map
    so the line is verifiable against the committed record."""
    import hashlib
    import json

    import bench

    timings = {f"query_name_number_{i:03d}": 0.1 + i * 0.01 for i in range(120)}
    result = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "sf": 0.1,
        "queries": timings,
    }
    line = bench.compact_line(result)
    assert len(line) <= 1950
    d = json.loads(line)
    assert d["n_queries"] == 120
    assert d["queries_omitted"] == 120 - len(d["queries"])
    assert len(d["queries"]) > 0
    # Most-expensive survive: every included entry >= every omitted one.
    included = set(d["queries"])
    omitted_max = max(
        (v for k, v in timings.items() if k not in included), default=-1.0
    )
    assert min(timings[k] for k in included) >= omitted_max
    full_map = json.dumps(
        {k: timings[k] for k in sorted(timings)}, separators=(",", ":")
    )
    assert d["queries_sha"] == hashlib.sha256(full_map.encode()).hexdigest()[:8]
    # A small map passes through whole.
    small = dict(result, queries={"a": 1.0, "b": 2.0})
    d2 = json.loads(bench.compact_line(small))
    assert d2["queries_omitted"] == 0 and len(d2["queries"]) == 2


def test_bench_budget_canary_normalization(tmp_path):
    """r8 host canary: --assert-budget divides per-query drift by the
    measured host-throughput ratio — a uniformly slower host relaxes
    the gate by exactly its canary ratio (clamped [1, 3]); a FASTER
    host never tightens it; records without canaries gate as before."""
    import json

    import bench

    base = {
        "sf": 0.1,
        "queries": {"q": 1.0},
        "data_hashes": {"lineitem": "aaa"},
        "canary": {"matmul_sec": 0.01, "pyloop_sec": 0.1},
    }
    bp = tmp_path / "base.json"
    bp.write_text(json.dumps(base))
    # 2.5x drift on a host the canary says is 2x slower: allowed
    # (2.0 factor x 2.0 host adjustment = 4.0 effective budget).
    slow_host = {
        "sf": 0.1,
        "queries": {"q": 2.5},
        "data_hashes": {"lineitem": "aaa"},
        "canary": {"matmul_sec": 0.02, "pyloop_sec": 0.2},
    }
    assert bench.assert_budget(slow_host, str(bp), 2.0) == []
    # Same drift with an EQUAL-throughput canary: violation.
    same_host = dict(slow_host, canary=dict(base["canary"]))
    assert len(bench.assert_budget(same_host, str(bp), 2.0)) == 1
    # A faster host must not tighten the gate below the raw factor.
    fast_host = {
        "sf": 0.1,
        "queries": {"q": 1.9},
        "data_hashes": {"lineitem": "aaa"},
        "canary": {"matmul_sec": 0.005, "pyloop_sec": 0.05},
    }
    assert bench.assert_budget(fast_host, str(bp), 2.0) == []
    # Pathological canary reading cannot waive the gate past the 3x clamp.
    broken_canary = dict(
        slow_host,
        queries={"q": 7.0},
        canary={"matmul_sec": 1.0, "pyloop_sec": 10.0},
    )
    assert len(bench.assert_budget(broken_canary, str(bp), 2.0)) == 1
    # Canary missing on either side: plain gate.
    no_canary = {
        "sf": 0.1,
        "queries": {"q": 2.5},
        "data_hashes": {"lineitem": "aaa"},
    }
    assert len(bench.assert_budget(no_canary, str(bp), 2.0)) == 1
    assert bench.canary_ratio(no_canary, base) is None


def test_bench_data_hashes_fingerprint(tmp_path):
    import bench

    (tmp_path / "a.parquet").write_bytes(b"xyz")
    (tmp_path / "b.txt").write_bytes(b"ignored")
    h = bench.data_hashes(str(tmp_path))
    assert set(h) == {"a"}
    (tmp_path / "a.parquet").write_bytes(b"xyz2")
    assert bench.data_hashes(str(tmp_path))["a"] != h["a"]


def test_driver_sample_order_is_family_interleaved():
    """The external correctness driver hash-checks a fixed-size prefix
    of ``queries()`` in dict iteration order. That order is the
    registry's family interleave rotated by ``ROTATION_EPOCH``: names
    are unique, and the first entries cover every operator family
    before any family repeats."""
    from datafusion_dist_spark import registry

    names = list(registry.all_specs())
    assert len(names) == len(set(names))
    assert names == registry._interleaved_order(
        list(registry._REGISTRY), registry.ROTATION_EPOCH
    )
    families = {n.split("_", 1)[0] for n in names}
    assert {n.split("_", 1)[0] for n in names[: len(families)]} == families


@pytest.mark.parametrize("module", _HARNESSES)
def test_root_harness_imports_with_main(module):
    """Every root harness imports cleanly and exposes a callable
    ``main``: most of them are run by no test, so a broken import in
    the shared base would otherwise go unnoticed."""
    mod = importlib.import_module(module)
    assert callable(getattr(mod, "main", None))
