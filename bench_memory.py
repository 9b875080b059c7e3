#!/usr/bin/env python
"""Memory-pressure / multi-process rehearsal: the heavy dedup/ANN/graph
tier at the x10 corpus on a REAL 2-executor cluster with a bounded heap
(`local-cluster[2,4,4096]` — 2 executor JVMs x 4 cores x 4 GiB), instead
of the 128 GiB single-JVM local[32] every other artifact uses.

What a big shared heap hides, this config exposes:

* broadcasts that only "fit" because driver and executor share one
  heap (here every broadcast must serialize into a 4 GiB executor);
* hash aggregates / joins / applyInPandas group buffers that silently
  relied on tens of GiB of headroom (here they must SPILL, not OOM);
* closure/broadcast serialization and Python-worker shipping across
  process boundaries (each executor forks its own workers).

The reference's only performance environment is a real 3-node compose
cluster (integration-tests/docker-compose.yaml:4-53); this is the
single-host analog with deliberately tight memory.

Pass/fail contract: every entry must COMPLETE (a spill is fine and
invisible here except as wall time; an OOM/executor-lost fails the
entry) and finish within ``--mult`` x its local[32] wall at the same
x10 corpus, read from a reference artifact (default
artifacts/BENCH_SCALE.json, or artifacts/BENCH_SCALE_SKEW.json with
--skew; its `scaled_sec` rows) — the stated budget for "8
bounded cores vs 32 unbounded cores plus cluster overhead". Entries
without a reference row get the absolute ``--cap`` seconds.

``--skew zipf`` (r6) composes the two failure axes the r5 artifacts
only measured separately: the zipfian corpus (hot keys, template
cluster, boilerplate shingles, hot embedding direction) INSIDE the
4 GiB executors — hot partition + small heap is where AQE skew-split,
spill, and broadcast sizing actually interact (the reference's only
perf environment is exactly this shape: a real 3-node compose
cluster, integration-tests/docker-compose.yaml:4-53). The entry set
switches to the skew rehearsal's (bench_scale.SKEW_QUERIES), budgets
read from the skew reference artifact, and the AQE skew-join probe
must still report a split plan inside the bounded heap.

Usage:
  python bench_memory.py --factor 10 --out artifacts/BENCH_MEMORY.json
  python bench_memory.py --skew zipf --out artifacts/BENCH_MEMORY_SKEW.json
  python bench_memory.py --queries dedup_minhash_lsh_capped --no-assert

Prints ONE JSON line:
  {"metric": "memory_rehearsal", "master": "local-cluster[2,4,4096]",
   "queries": {name: {"sec": s, "budget": b, "ok": true, ...}}, ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench
from datafusion_dist_spark.catalog import DEFAULT_SF_DIR

MASTER = "local-cluster[2,4,4096]"
DEFAULT_MULT = 8.0  # vs local[32] scaled_sec: 4x fewer cores + overhead
MIN_BUDGET = 30.0  # scheduling floor — sub-second walls carry no signal
ABS_CAP = 300.0  # entries with no reference row

# The heavy tier: every SCALE_QUERIES entry that is not a documented
# fixed-constant quadratic twin (those are oracle pins; their adaptive
# twins are the at-scale path and ARE run here).
SKIP = {
    "dedup_embedding_cosine": "fixed-nbits quadratic oracle pin; "
    "the adaptive twin is the at-scale path and is measured",
    "dedup_semantic": "fixed-K quadratic oracle pin (also caps "
    "parallelism at K groups); adaptive twin measured",
    "ann_ivf_knn_join": "fixed-K quadratic oracle pin; adaptive twin "
    "measured",
}


def main() -> None:
    argv = sys.argv[1:]
    factor = 10
    out_path: str | None = None
    ref_path: str | None = None
    mult = DEFAULT_MULT
    cap = ABS_CAP
    do_assert = True
    only: list[str] | None = None
    skew: str | None = None
    while argv:
        a = argv.pop(0)
        if a == "--factor":
            factor = int(argv.pop(0))
        elif a == "--out":
            out_path = argv.pop(0)
        elif a == "--ref":
            ref_path = argv.pop(0)
        elif a == "--mult":
            mult = float(argv.pop(0))
        elif a == "--cap":
            cap = float(argv.pop(0))
        elif a == "--no-assert":
            do_assert = False
        elif a == "--queries":
            only = argv.pop(0).split(",")
        elif a == "--skew":
            skew = argv.pop(0)
        else:
            raise SystemExit(f"unknown argument {a!r}")
    if ref_path is None:
        ref_path = os.path.join(
            "artifacts",
            "BENCH_SCALE_SKEW.json" if skew else "BENCH_SCALE.json",
        )

    from bench_scale import SCALE_QUERIES, SKEW_QUERIES
    from datafusion_dist_spark import registry
    from datafusion_dist_spark.scale import scale_corpus

    base_dir = DEFAULT_SF_DIR
    suffix = f"-{skew}" if skew else ""
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", f"/tmp/ddspark-scale/f{factor}{suffix}"
    )
    print(
        f"scaling corpus {base_dir} -> {scale_dir} (x{factor}"
        f"{', skew=' + skew if skew else ''})",
        file=sys.stderr,
    )
    scale_corpus(base_dir, scale_dir, factor, skew=skew)

    ref: dict[str, float] = {}
    try:
        with open(os.path.join(REPO, ref_path)) as fh:
            for name, row in json.load(fh)["queries"].items():
                if "scaled_sec" in row:
                    ref[name] = float(row["scaled_sec"])
    except (OSError, ValueError, KeyError):
        print(f"no reference artifact at {ref_path}; absolute caps only",
              file=sys.stderr)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(MASTER)
        .appName("ddspark-bench-memory")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "3g")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    tier = SKEW_QUERIES if skew else SCALE_QUERIES
    names = [
        n for n in tier
        if n not in SKIP and (only is None or n in only)
    ]
    for name, why in SKIP.items():
        if name in tier:
            print(f"skipped {name}: {why}", file=sys.stderr)
    specs = registry.all_specs()

    results: dict[str, dict] = {}
    violations: list[str] = []
    for name in names:
        budget = max(MIN_BUDGET, mult * ref[name]) if name in ref else cap
        t0 = time.perf_counter()
        err = None
        try:
            specs[name].spark_fn(spark, scale_dir).write.mode(
                "overwrite"
            ).format("noop").save()
        except Exception as exc:  # OOM / executor lost / task failure
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        sec = round(time.perf_counter() - t0, 3)
        ok = err is None and sec <= budget
        results[name] = {
            "sec": sec,
            "budget": round(budget, 1),
            "ref_local32_sec": ref.get(name),
            "ok": ok,
            **({"error": err} if err else {}),
        }
        flag = "" if ok else "  <-- " + (err or "OVER BUDGET")
        print(f"{name}: {sec:.2f}s (budget {budget:.0f}s){flag}", file=sys.stderr)
        if not ok:
            violations.append(f"{name}: {err or f'{sec:.1f}s > {budget:.0f}s'}")
    aqe_probe = None
    if skew is not None and only is None:
        # The composed assertion this mode exists for: AQE's
        # OptimizeSkewedJoin must still split the hot-custkey partition
        # when the join runs inside a 4 GiB executor heap (not just in
        # the 128 GiB single JVM the skew rehearsal used).
        from bench_scale import measure_aqe_skew_join

        try:
            aqe_probe = measure_aqe_skew_join(spark, scale_dir)
        except Exception as exc:
            aqe_probe = {"skew_split_fired": False,
                         "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
        print(f"aqe_skew_join: {aqe_probe}", file=sys.stderr)
        if not aqe_probe["skew_split_fired"]:
            violations.append(
                "aqe_skew_join: OptimizeSkewedJoin did not split the hot "
                "partition inside the bounded-memory cluster"
            )
    spark.stop()
    out = {
        "metric": "memory_rehearsal" + (f"_{skew}" if skew else ""),
        "master": MASTER,
        "factor": factor,
        "skew": skew,
        **({"aqe_skew_join": aqe_probe} if aqe_probe is not None else {}),
        "base_dir": base_dir,
        "budget_mult_vs_local32": mult,
        "ref_artifact": ref_path,
        "queries": results,
        "skipped": SKIP,
        "violations": violations,
    }
    bench.emit(out, out_path)
    if violations and do_assert:
        print("memory rehearsal FAILED:\n  " + "\n  ".join(violations),
              file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
