#!/usr/bin/env python
"""Per-query profile: wall (min-of-N), Spark job count, executed-plan
facts (real source scans / exchanges after cache dedup), and a host
canary beside every row so noisy-window rows are discountable.

    python tools_profile_queries.py [--runs 3] [name ...]

Defaults to the bench HEADLINE list. Rows print as JSON lines.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench
from datafusion_dist_spark import registry
from datafusion_dist_spark.catalog import DEFAULT_SF_DIR
from datafusion_dist_spark.plans import executed_scan_facts
from datafusion_dist_spark.session import build_session


def quick_canary() -> float:
    """One-shot matmul probe (~10 ms on a quiet host)."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((512, 512))
    t0 = time.perf_counter()
    (a @ a).sum()
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    argv = sys.argv[1:]
    runs = 3
    if argv and argv[0] == "--runs":
        runs = int(argv[1])
        argv = argv[2:]
    names = argv or list(bench.HEADLINE)
    sf_dir = DEFAULT_SF_DIR
    spark = build_session("ddspark-profile")
    bench.warmup(spark, sf_dir)
    specs = registry.all_specs()
    tracker = spark.sparkContext.statusTracker()
    for name in names:
        fn = specs[name].spark_fn
        walls = []
        n_jobs = 0
        facts = {}
        for i in range(runs):
            jobs_before = len(tracker.getJobIdsForGroup(None) or [])
            c0 = quick_canary()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            bench.run_query(df)
            wall = time.perf_counter() - t0
            c1 = quick_canary()
            walls.append(
                {
                    "wall": round(wall, 3),
                    "build": round(t_build, 3),
                    "canary": max(c0, c1),
                }
            )
            if i == runs - 1:
                n_jobs = (
                    len(tracker.getJobIdsForGroup(None) or []) - jobs_before
                )
                try:
                    # The noop write executes a CLONED QueryExecution;
                    # df's own stays unexecuted (isFinalPlan=false), so
                    # walking it would miss AQE stage reuse. Execute
                    # df's own plan JVM-side (no rows cross to Python)
                    # before taking the facts.
                    df._jdf.queryExecution().toRdd().count()
                    facts = executed_scan_facts(df)
                except Exception as exc:  # noqa: BLE001
                    facts = {"error": repr(exc)}
        best = min(w["wall"] for w in walls)
        print(
            json.dumps(
                {
                    "query": name,
                    "best_wall": round(best, 3),
                    "runs": walls,
                    "jobs_last_run": n_jobs,
                    "facts": facts,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
