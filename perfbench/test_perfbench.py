"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/ -q

The smoke tests start Spark three times per workload at sf0.001
(about a minute each); the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import measure, run, workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.mark.parametrize("seed", [0, 1, 987654321])
def test_same_seed_same_requests(seed):
    assert workloads.scan_requests(seed, 40, 150_000) == workloads.scan_requests(
        seed, 40, 150_000
    )
    assert workloads.mix_requests(seed, 40) == workloads.mix_requests(seed, 40)
    entries = run.PIPELINE_ENTRIES
    assert workloads.pipeline_requests(seed, 12, entries) == workloads.pipeline_requests(
        seed, 12, entries
    )


def test_seeds_differ_but_blocks_cover_every_stratum():
    a = workloads.scan_requests(1, 16, 150_000)
    b = workloads.scan_requests(2, 16, 150_000)
    assert [r["sql"] for r in a] != [r["sql"] for r in b]
    for block in (a[:8], a[8:]):
        assert sorted(len(r["columns"]) for r in block) == list(range(4, 12))
        for r in block:
            share = workloads.SCAN_SHARE[len(r["columns"])]
            frac = (r["hi"] - r["lo"]) / 150_000
            assert 0.95 * share - 1e-5 <= frac <= share + 1e-5
    mix = workloads.mix_requests(3, 16)
    assert sorted(r["shape"] for r in mix[:8]) == sorted(workloads.MIX_SHAPES)
    pipe = workloads.pipeline_requests(3, 2 * len(run.PIPELINE_ENTRIES), run.PIPELINE_ENTRIES)
    assert sorted(r["entry"] for r in pipe[: len(run.PIPELINE_ENTRIES)]) == sorted(
        run.PIPELINE_ENTRIES
    )


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 31)]  # 30 samples
    pct, val = measure.tail(values)
    assert val == 20.0 and sum(v > val for v in values) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    big = [float(i) for i in range(1, 1011)]
    pct, val = measure.tail(big)
    assert val == 1000.0 and pct == pytest.approx(100 * 1000 / 1010)
    # Below 20 samples the rank falls under the median: no tail.
    assert measure.tail([1.0] * 19) == (None, None)
    assert measure.tail([float(i) for i in range(20)]) == (50.0, 9.0)


def test_metric_names_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += list(run.LAYERS) + [w["name"] for w in spec["workloads"]]
    for n in names:
        assert NAME.fullmatch(n), n
    assert len(set(m["name"] for m in spec["end_to_end"] + spec["per_layer"])) == len(
        spec["end_to_end"] + spec["per_layer"]
    )
    for m in spec["per_layer"]:
        assert m["name"] in run.LAYERS, m["name"]
    summary = {"attempted": 1, "completed": 1, "failed": 0, "rows": 1, "wall_s": 1.0,
               **{k: {"p50": 1.0, "tail": None} for k in ("ttfb", "ttlb", "health")}}
    e2e = run.e2e_metrics(summary, 1.0, 1.0)
    for n in e2e:
        assert NAME.fullmatch(n), n
    for m in spec["end_to_end"]:
        assert m["name"] in e2e, m["name"]
    assert set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS)


def test_table_hash_ignores_row_order_and_integer_width():
    import pyarrow as pa

    a = pa.table({"k": pa.array([1, 2, 3], pa.int32()), "v": [1.5, None, 2.0]})
    b = pa.table({"v": [2.0, 1.5, None], "k": pa.array([3, 1, 2], pa.int64())})
    assert measure.table_hash(a) == measure.table_hash(b)
    c = pa.table({"k": pa.array([3, 1, 2], pa.int64()), "v": [2.0, 1.5, 0.0]})
    assert measure.table_hash(a) != measure.table_hash(c)


def test_column_sums_add_up_over_batches():
    import pyarrow as pa

    t = pa.table({
        "i": pa.array([5, -7, 11], pa.int64()),
        "d": [0.01, 1234.56, -3.5],
        "s": ["a", "b", "a"],
    })
    acc: dict = {}
    for b in t.to_batches(max_chunksize=1):
        measure.add_sums(acc, measure.column_sums(b))
    assert acc == measure.column_sums(t)


def test_self_time_subtracts_children():
    tr = measure.Tracer(True)
    tr.spans = [
        {"id": 1, "name": "req", "parent": None, "request": "r", "start": 0.0, "end": 10.0},
        {"id": 2, "name": "a", "parent": 1, "request": "r", "start": 1.0, "end": 4.0},
        {"id": 3, "name": "b", "parent": 1, "request": "r", "start": 3.0, "end": 6.0},
    ]
    st = tr.self_times()
    assert st == {"req": pytest.approx(5.0), "a": pytest.approx(3.0), "b": pytest.approx(3.0)}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_has_no_errors(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--sf", "0.001", "--trace", "0"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stderr[-2000:]
    record, last = json.loads(lines[-2]), json.loads(lines[-1])
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert record["end_to_end"]["error_rate"] == 0
    assert record["leaks"]["engine.jobs_left_running"] == 0
