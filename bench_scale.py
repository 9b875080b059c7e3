#!/usr/bin/env python
"""Scale rehearsal: run the heavy dedup/ANN/graph tier at sf0.1 AND at
a deterministically manufactured factor-x corpus (default 10x ~ sf1),
and assert per-query wall-time growth stays within budget.

This is the empirical check behind the "scales" claims: every
candidate generator in this tier is bucketed (LSH bands, capped
posting lists, IVF probe lists, degree-ordered wedges, cross-set
banded joins), so wall time should grow ~linearly in data — NOT with
the quadratic pair space. A scale-dependent constant that silently
no-ops at larger SF (the r3 n-gram cap bug) or an accidental
all-pairs join shows up here as a blown ratio, in-round instead of
one round late.

Usage:
  python bench_scale.py                       # generate + run + assert
  python bench_scale.py --factor 10 --runs 2 --out artifacts/BENCH_SCALE.json
  python bench_scale.py --no-assert           # measure only

Env: $SPARK_GRAFT_SF_DIR     base corpus   (default catalog.DEFAULT_SF_DIR)
     $SPARK_GRAFT_SCALE_DIR  scaled corpus (default /tmp/ddspark-scale/f<factor>)

Prints ONE JSON line:
  {"metric": "scale_rehearsal", "factor": F, "queries":
     {name: {"base_sec": s, "scaled_sec": s, "ratio": r,
             "budget": b, "ok": true}}, ...}
Exit 1 when any ratio exceeds its budget (unless --no-assert).

Budgets are ratios over the measured base time: default 12x for a 10x
corpus (linear + scheduling/codegen overhead on a fixed-size local
executor), with per-query overrides where the algorithm's honest cost
model is super-linear for a documented reason. Entries EXCLUDED from
the rehearsal (and why) are listed in EXCLUDED — printed, not hidden,
so a reader can see what was not measured.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench
from datafusion_dist_spark.catalog import DEFAULT_SF_DIR
from datafusion_dist_spark.scale import scale_corpus
from datafusion_dist_spark.session import build_session

# name -> (growth_power, coeff): budget ratio = coeff * factor**power.
# None = the default (power 1 = linear in data, coeff 1.2 headroom).
# Budgets are generous vs the linear ideal because the host shows
# 2-6x co-tenant load spikes; the failure mode being hunted is
# quadratic blowup (factor^2-ish where linear was claimed), which no
# spike masks.
SCALE_QUERIES: dict[str, tuple[float, float] | None] = {
    # exact / fuzzy-exact dedup: hash-groupBy, one exchange
    "dedup_exact": None,
    "dedup_exact_normalized": None,
    "dedup_paragraph_blocks": None,
    # sketch dedup: banded LSH / simhash blocks / capped posting lists
    "dedup_minhash_lsh": None,
    "dedup_simhash": None,
    "dedup_ngram_jaccard_capped": None,
    "dedup_containment": None,
    "dedup_incremental": None,
    "dedup_substring_spans": None,
    # embedding-space dedup: sign-bucket blocking with a FIXED 4-bit
    # bucket count — pair work is sum over 16 buckets of m^2, so the
    # honest cost model is quadratic-in-factor until nbits grows with
    # the corpus (log2(n / target_bucket_size) at real scale, the same
    # documented knob family as dedup_semantic's K). Measured x41-46 at
    # x10 in this rehearsal, exactly n^2/buckets.
    "dedup_embedding_cosine": (2.0, 1.5),
    # ...and the adaptive variant holds the LINEAR budget: nbits grows
    # with the corpus so bucket population (and per-bucket m^2 work
    # per unit data) stays constant. The measured fixed/adaptive pair
    # demonstrates the knob, same as the ivf_knn_join pair.
    "dedup_embedding_cosine_adaptive": None,
    # SemDeDup: pair work = sum over clusters of cluster^2; cluster count
    # is fixed (K=8 coarse centroids) while cluster SIZE grows ~linearly,
    # so the honest cost model is ~quadratic-in-factor inside clusters.
    # The documented mitigation at real scale is growing K with the
    # corpus; the rehearsal pins the CURRENT knob's behavior instead of
    # silently skipping the entry.
    "dedup_semantic": (2.0, 1.5),
    # ...and the adaptive variant holds the LINEAR budget: K = n/250
    # keeps cluster size (and per-cluster m^2 work per unit data)
    # constant — the third measured fixed/adaptive knob pair.
    "dedup_semantic_adaptive": None,
    "dedup_clusters": None,
    "dedup_keep_best": None,
    # ANN family: probe discipline keeps scored candidates ~linear
    "ann_topk_bruteforce": None,
    "ann_ivf_topk": None,
    "ann_ivf_pq_topk": None,
    "embedding_pq_encode": None,
    # Batch kNN self-join: the registry entry's query set is a fixed
    # FRACTION of the corpus (vec_id % 40), so |Q| grows with n and
    # candidate work is |Q| x n x nprobe / K — quadratic at the
    # oracle-pinned K=8 (x45 measured while 2-core-pinned, x5.7 after the
    # spread() fix made the n x K term parallel). At real scale K tracks
    # the corpus (constant inverted-list size), making the join linear
    # in |Q|; see ivf_knn_join's docstring.
    "ann_ivf_knn_join": (2.0, 1.5),
    # ...and the adaptive variant holds the LINEAR budget: K = n/250
    # keeps inverted-list size constant, so per-query candidate work
    # does not grow with the corpus. This pair is the measured
    # demonstration that the knob closes the quadratic.
    "ann_ivf_knn_join_adaptive": None,
    "ann_kmeans_refine": None,
    # graph
    "graph_pagerank": None,
    "graph_triangle_count": None,
    # pipelines / text
    "pipeline_clean_corpus": None,
    "pipeline_multisignal_dedup": None,
    "decontaminate_bloom_verify": None,
    "text_tfidf_topk": None,
    "sample_temperature": None,
    # r8 additions: dataset-level contamination matrix (distinct
    # (source, shingle) bounds the self-join at n_sources rows per
    # shingle — linear in corpus bytes), CMS heavy hitters (constant
    # grid, linear scan + linear candidate distinct), salted shuffle
    # join (pure routing over a linear join).
    "pipeline_contamination_matrix": None,
    "agg_countmin_heavy_hitters": None,
    "join_skew_salted": None,
    # r9: HLL cardinality — constant 2^p-register state, linear scan
    # (the exact-distinct control arm shuffles the key space; still
    # linear).
    "agg_hll_cardinality": None,
    # r10: KMV/theta matrix — one distinct-key exchange (linear) +
    # bounded per-group selection + k-row broadcast algebra.
    "agg_theta_intersection_matrix": None,
    # r11: band-cardinality stats — one register aggregate over the
    # banded frame (linear scan, bands x 2^p state).
    "dedup_band_stats": None,
    # r11: quantile sketch — one group exchange with map-side
    # WindowGroupLimit (<= k rows per group per task reach the
    # shuffle), then constant per-group math.
    "agg_kmv_quantiles": None,
    # r11: runtime-Bloom shuffle join — the injected might_contain
    # prefilter drops fact rows pre-shuffle; linear in the fact side.
    "join_runtime_bloom": None,
}

# --skew zipf: the skewed-data rehearsal (r5). Same harness, but the
# scaled corpus is scale_corpus(skew="zipf") — deterministic hot keys
# (orders.o_custkey / events.user_id zipf-remapped), a global
# boilerplate prefix whose shingle df grows with the corpus, a
# template near-dup cluster (the LSH hot-bucket pathology), and a
# zipf document-length tail (~+21% text bytes). The entry list is the
# subset those axes actually touch; embeddings are NOT skewed, so the
# ANN tier would just re-measure the uniform corpus and is omitted.
# Budgets: linear entries get coeff 1.5 (12x growth + skewed volume +
# straggler scheduling headroom); entries whose OUTPUT is the
# quadratic pair listing of the planted template cluster are budgeted
# factor² and paired with their capped/linear twin — the same
# fixed-vs-adaptive demonstration discipline as the uniform tier.
SKEW_QUERIES: dict[str, tuple[float, float] | None] = {
    # hash-group dedup: hot digest groups are still one exchange
    "dedup_exact": (1.0, 1.5),
    "dedup_exact_normalized": (1.0, 1.5),
    "dedup_paragraph_blocks": (1.0, 1.5),
    # the planted template cluster makes the UNCAPPED pair listing
    # honestly quadratic (m ~ 0.4% of docs, all in one band bucket);
    # the capped twin bounds per-bucket candidates and must hold the
    # linear budget — the knob demonstration under real skew.
    "dedup_minhash_lsh": (2.0, 1.5),
    "dedup_minhash_lsh_capped": (1.0, 1.5),
    # incremental dedup pairs index x batch members of the cluster —
    # same quadratic pair space as the uncapped listing.
    "dedup_incremental": (2.0, 1.5),
    # consumes the uncapped pair set (m² edges into CC)
    "dedup_clusters": (2.0, 1.5),
    "dedup_simhash": (1.0, 1.5),
    # boilerplate shingle df grows linearly with the corpus: these are
    # the entries whose ABSOLUTE posting caps finally bite (uniform
    # corpus max df ~25 never reaches them).
    "dedup_ngram_jaccard_capped": (1.0, 1.5),
    "dedup_containment": (1.0, 1.5),
    "dedup_substring_spans": (1.0, 1.5),
    # single-scan text / pipeline tier under the length tail
    "pipeline_clean_corpus": (1.0, 1.5),
    "decontaminate_bloom_verify": (1.0, 1.5),
    "text_tfidf_topk": (1.0, 1.5),
    "sample_temperature": (1.0, 1.5),
    # hot custkey = hub node: degree-ordered orientation / lineage-cut
    # PR are the hub guards being exercised
    "graph_pagerank": (1.0, 1.5),
    "graph_triangle_count": (1.0, 1.5),
    # the skew-proof aggregation itself
    "agg_salted_twophase": (1.0, 1.5),
    # r11: the template cluster inflates ONE band bucket's postings —
    # the register compaction that measures it stays a linear
    # aggregate (hot buckets raise n_post values, never row counts).
    "dedup_band_stats": (1.0, 1.5),
    # relational / TPC-H tier (r6): the reference's canonical showcase
    # is the partitioned multi-join + two-phase agg shape
    # (README.md:23-56, planner.rs tests:99-161) — never before
    # measured above sf0.1. The five heaviest TPC-H entries plus the
    # window/dedup-agg shapes, at zipf x10: o_custkey hot-key remap
    # hits the customer⋈orders joins (q5/q8/q18) directly, and AQE's
    # skew split is the declared mitigation (probe row below asserts
    # it still fires). Linear budgets — these are all
    # shuffle-join/two-phase-agg plans whose work is ~rows.
    "tpch_q5": (1.0, 1.5),
    "tpch_q8": (1.0, 1.5),
    "tpch_q9": (1.0, 1.5),
    "tpch_q18": (1.0, 1.5),
    "tpch_q21_waiting": (1.0, 1.5),
    "window_rank_top1": (1.0, 1.5),
    "agg_count_distinct": (1.0, 1.5),
    # r7 additions (VERDICT r6 ask 6): q1 = the full-scan two-phase
    # agg under the document/order volume tail; q13 = outer join +
    # count-distinct landing DIRECTLY on the hot o_custkey (the
    # classic skewed-outer-join stall, AQE skew split is the declared
    # mitigation); join_asof + events_sessionize give the
    # window/temporal family its first scale rows — sessionize's
    # per-user window is exactly where a zipf user_id hot key turns
    # into one giant window partition.
    "tpch_q1": (1.0, 1.5),
    "tpch_q13": (1.0, 1.5),
    "join_asof": (1.0, 1.5),
    "events_sessionize": (1.0, 1.5),
    # embedding tier under the planted hot-DIRECTION cluster: adaptive
    # nbits/K split the SPACE, not a cluster, so the uncapped ops'
    # in-bucket / in-cell pair term is m² (m ~ 2% of vectors, growing
    # with the corpus) — factor² budgets, paired with the head-cap
    # twins that must hold linear. Same demonstration discipline as
    # minhash's bucket cap.
    "dedup_embedding_cosine_adaptive": (2.0, 1.5),
    "dedup_embedding_cosine_capped": (1.0, 1.5),
    "dedup_semantic_adaptive": (2.0, 1.5),
    "dedup_semantic_capped": (1.0, 1.5),
    # r8 additions. The salted join is THE explicit hot-key lever —
    # measured under the zipf corpus it exists for; CMS's hot user_id
    # only inflates one counter cell (work is unchanged by skew); the
    # contamination matrix's boilerplate-prefix shingles (df grows
    # with the corpus) are exactly what the distinct-(source,shingle)
    # reduction bounds at n_sources rows per shingle.
    "join_skew_salted": (1.0, 1.5),
    "agg_countmin_heavy_hitters": (1.0, 1.5),
    "pipeline_contamination_matrix": (1.0, 1.5),
    # r9: a zipf-hot user_id raises at most one register's max — HLL
    # work is cardinality-shaped, indifferent to frequency skew.
    "agg_hll_cardinality": (1.0, 1.5),
    # r10: a zipf-hot user_id is ONE distinct hash — KMV work is
    # cardinality-shaped too; the distinct exchange absorbs the skew.
    "agg_theta_intersection_matrix": (1.0, 1.5),
    # r11 entries (agg_kmv_quantiles, join_runtime_bloom) are NOT in
    # this tier: the skew axes (zipf o_custkey/user_id, document
    # shape) touch neither l_returnflag grouping nor the o_orderkey
    # join key — they are measured in the uniform tier.
}

EXCLUDED: dict[str, str] = {
    "dedup_ngram_jaccard": "exact inverted-index variant, uncapped by "
    "definition (the oracle-grade twin); dedup_ngram_jaccard_capped is "
    "the at-scale path and IS measured",
    "dedup_simhash_pairs": "its OUTPUT is the true near-dup pair "
    "listing, and the synthetic corpus' small token vocabulary makes "
    "token-SET near-collisions genuinely abundant (1.6M pairs at "
    "sf0.1) — wall time would measure result materialization, not "
    "candidate discipline. The adaptive sketch width that keeps the "
    "candidate join linear is hash-checked at both SFs instead "
    "(dedup_simhash, the sketch itself, IS measured)",
    "dedup_lsh_quality": "quality gate that runs the exact "
    "inverted-index truth side on purpose; not a production per-batch "
    "op",
    "ann_kmeans_converged": "wall time = Lloyd round count, which may "
    "legitimately differ between corpora; ann_kmeans_refine (one "
    "round) is the per-round scaling proxy and IS measured",
    "events_cms_watchlist": "same cells aggregate as "
    "agg_countmin_heavy_hitters (which IS measured at both skew and "
    "uniform x10) plus a ts-only min/max pass and constant-size "
    "watchlist joins; no scale axis of its own",
    "sample_split_train_val": "single-scan hash-bucket projection + "
    "two-phase count agg — the exact plan shape sample_temperature "
    "already measures",
    "agg_hll_registers": "the register build inside "
    "agg_hll_cardinality (which IS measured at both skew and uniform "
    "x10); no axis of its own",
    "agg_hll_grouped": "same scan-dominated register build as "
    "agg_hll_cardinality plus per-group state at groups x 2^p rows — "
    "the grouped exact-distinct control arm is the only extra work "
    "and it is the plan shape agg_count_distinct already measures",
    "agg_hll_overlap_matrix": "two scans (both the shape "
    "agg_hll_cardinality measures) + set algebra over <= pairs x 2^p "
    "register rows — constant-size work by construction, no scale "
    "axis of its own",
}

DEFAULT_BUDGET_PER_FACTOR = 1.2  # 12x at factor 10


def measure_ivf_prebuilt(
    spark, base_dir: str, scale_dir: str, factor: int, runs: int
) -> dict[str, dict]:
    """Phase-split measurement of the ingest-amortized IVF kNN join —
    the claim the ivf_knn_join docstring makes ('at scale assignment
    is precomputed at ingest with cid as the partition key') measured
    as two separate pseudo-entries:

      ann_ivf_knn_join_prebuilt_build  — ivf_index_build: assign +
        write the cid-partitioned index. One scan per unit data ->
        linear budget.
      ann_ivf_knn_join_prebuilt_query  — ivf_knn_join_prebuilt: probe
        ranking + partition-pruned read + broadcast-probes scoring.
        With adaptive K (constant inverted-list size) per-query work
        is constant and |Q| grows with n -> linear budget.

    Together with the inline adaptive entry this completes the
    demonstration: fixed-K inline (quadratic, measured), adaptive-K
    inline (linear minus query-time assignment), adaptive-K prebuilt
    (both phases linear, assignment amortized at ingest)."""
    from pyspark.sql import functions as F

    from datafusion_dist_spark.catalog import load_table
    from datafusion_dist_spark.operators import similarity

    phases: dict[str, tuple[float, float]] = {}
    # Untimed first pass over the base corpus: the first-use cost (Python
    # workers, codegen of these plans) would otherwise land in base_sec.
    emb = load_table(spark, base_dir, "embeddings")
    path = os.path.join(
        os.path.dirname(scale_dir) or "/tmp/ddspark-scale", "ivf-index-base"
    )
    similarity.ivf_index_build(emb, n_centroids=max(8, emb.count() // 250), path=path)
    qs = emb.filter(F.col("vec_id") % 40 == 0)
    bench.run_query(similarity.ivf_knn_join_prebuilt(spark, path, qs, k=5, nprobe=2))
    for tag, d in (("base", base_dir), ("scaled", scale_dir)):
        emb = load_table(spark, d, "embeddings")
        n = emb.count()
        k_centroids = max(8, n // 250)  # the adaptive-K discipline
        path = os.path.join(
            os.path.dirname(scale_dir) or "/tmp/ddspark-scale",
            f"ivf-index-{tag}",
        )
        tb = tq = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            similarity.ivf_index_build(emb, n_centroids=k_centroids, path=path)
            tb = min(tb, time.perf_counter() - t0)
        qs = emb.filter(F.col("vec_id") % 40 == 0)
        for _ in range(runs):
            t0 = time.perf_counter()
            bench.run_query(
                similarity.ivf_knn_join_prebuilt(spark, path, qs, k=5, nprobe=2)
            )
            tq = min(tq, time.perf_counter() - t0)
        phases[tag] = (tb, tq)
    out: dict[str, dict] = {}
    for phase, idx in (("build", 0), ("query", 1)):
        tb, ts = phases["base"][idx], phases["scaled"][idx]
        budget = DEFAULT_BUDGET_PER_FACTOR * factor
        ratio = round(ts / tb, 2) if tb > 0 else float("inf")
        out[f"ann_ivf_knn_join_prebuilt_{phase}"] = {
            "base_sec": round(tb, 3),
            "scaled_sec": round(ts, 3),
            "ratio": ratio,
            "budget": round(budget, 1),
            "ok": ratio <= budget,
        }
    return out


def measure_aqe_skew_join(spark, scale_dir: str) -> dict:
    """The AQE skew-join probe the zipf rehearsal exists for: join the
    hot-custkey orders table against customer as a plain shuffle SMJ
    and record whether AQE's OptimizeSkewedJoin actually SPLIT the hot
    partition (the final adaptive plan carries `skew=true`). Thresholds
    are scaled to the rehearsal corpus (the hot partition is ~20 MB at
    x10 vs a ~300 KB median; production defaults are 256 MB): the
    point is that the engine's declarative join path leaves AQE free
    to handle the skew — no manual salt needed — and the artifact
    records that it did."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256kb",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256kb",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        o = spark.read.parquet(os.path.join(scale_dir, "orders.parquet"))
        c = spark.read.parquet(os.path.join(scale_dir, "customer.parquet"))
        j = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n"))
        )
        t0 = time.perf_counter()
        n = len(j.collect())
        wall = time.perf_counter() - t0
        plan = j._jdf.queryExecution().executedPlan().toString()
        return {
            "skew_split_fired": "skew=true" in plan,
            "groups": n,
            "sec": round(wall, 3),
        }
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def main() -> None:
    argv = sys.argv[1:]
    factor = 10
    runs = 2
    out_path: str | None = None
    do_assert = True
    only: list[str] | None = None
    skew: str | None = None
    while argv:
        a = argv.pop(0)
        if a == "--factor":
            factor = int(argv.pop(0))
        elif a == "--runs":
            runs = int(argv.pop(0))
        elif a == "--out":
            out_path = argv.pop(0)
        elif a == "--no-assert":
            do_assert = False
        elif a == "--queries":
            only = argv.pop(0).split(",")
        elif a == "--skew":
            skew = argv.pop(0)
        else:
            raise SystemExit(f"unknown argument {a!r}")

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
    t0 = time.perf_counter()
    manifest = scale_corpus(base_dir, scale_dir, factor, skew=skew)
    print(f"corpus ready in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    spark = build_session("ddspark-bench-scale")
    bench.warmup(spark, base_dir)
    budgets = SKEW_QUERIES if skew else SCALE_QUERIES
    names = [n for n in budgets if only is None or n in only]
    for name, why in EXCLUDED.items():
        print(f"excluded {name}: {why}", file=sys.stderr)

    results: dict[str, dict] = {}
    violations: list[str] = []
    for name in names:
        power, coeff = budgets[name] or (1.0, DEFAULT_BUDGET_PER_FACTOR)
        budget = coeff * factor**power
        # Untimed first pass: the entry's first-use cost (Python workers,
        # codegen of its plans) would otherwise land in base_sec.
        bench.time_entry(spark, name, base_dir, 1)
        tb = min(bench.time_entry(spark, name, base_dir, runs))
        ts = min(bench.time_entry(spark, name, scale_dir, runs))
        ratio = round(ts / tb, 2) if tb > 0 else float("inf")
        ok = ratio <= budget
        results[name] = {
            "base_sec": round(tb, 3),
            "scaled_sec": round(ts, 3),
            "ratio": ratio,
            "budget": round(budget, 1),
            "ok": ok,
        }
        flag = "" if ok else "  <-- OVER BUDGET"
        print(
            f"{name}: {tb:.2f}s -> {ts:.2f}s  x{ratio}{flag}",
            file=sys.stderr,
        )
        if not ok:
            violations.append(
                f"{name}: x{ratio} > budget x{budget:.1f} "
                f"({tb:.2f}s -> {ts:.2f}s)"
            )
    aqe_probe = None
    if skew is not None and only is None:
        aqe_probe = measure_aqe_skew_join(spark, scale_dir)
        print(f"aqe_skew_join: {aqe_probe}", file=sys.stderr)
        if not aqe_probe["skew_split_fired"]:
            violations.append(
                "aqe_skew_join: OptimizeSkewedJoin did not split the hot "
                "partition at the skewed corpus"
            )
    if skew is None and (
        only is None
        or any(n.startswith("ann_ivf_knn_join_prebuilt") for n in only)
    ):
        for name, r in measure_ivf_prebuilt(
            spark, base_dir, scale_dir, factor, runs
        ).items():
            results[name] = r
            flag = "" if r["ok"] else "  <-- OVER BUDGET"
            print(
                f"{name}: {r['base_sec']:.2f}s -> {r['scaled_sec']:.2f}s"
                f"  x{r['ratio']}{flag}",
                file=sys.stderr,
            )
            if not r["ok"]:
                violations.append(
                    f"{name}: x{r['ratio']} > budget x{r['budget']:.1f}"
                )
    spark.stop()
    out = {
        "metric": "scale_rehearsal" + (f"_{skew}" if skew else ""),
        "factor": factor,
        "skew": skew,
        **({"aqe_skew_join": aqe_probe} if aqe_probe is not None else {}),
        "runs_per_query": runs,
        "base_dir": base_dir,
        "queries": results,
        "excluded": EXCLUDED,
        "violations": violations,
        "base_data_hashes": manifest["source"],
    }
    bench.emit(out, out_path)
    if violations and do_assert:
        print("scale budget FAILED:\n  " + "\n  ".join(violations), file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
