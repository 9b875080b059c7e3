#!/usr/bin/env python
"""Point-lookup serving wall, flat vs band-bucketed minhash index, as
the index grows — the empirical anchor for the pruned-vs-flat
auto-select thresholds (``dedup.PRUNE_MIN_INDEX_BYTES/FILES``).

The f100 probe (r6) showed the FLAT scan beating the bucketed/pruned
read at a 50 MB index: pruning pays a fixed driver-side key-collect
job (the batch sketches once just to enumerate its (band_id, bk)
partition pairs), and below a scan-cost crossover that fixed job costs
more than the whole flat scan it avoids. The layout exists for the
multi-GB serving index — this harness builds those indexes and
measures where the crossover actually sits.

The index rows are SYNTHETIC banded signatures (correctness is not at
issue — bit-identity of the two read paths is pinned by
tests/test_operators.py; this measures storage-read walls): real
``_banded`` schema (doc_id, sig[16] BIGINT, band_id, band_key), sig
components from crc32 so they neither compress away nor collide with
the probe batch's real keys — a zero-match point lookup, the serving
shape for a novel document. Both layouts hold IDENTICAL rows; the
probe batch is one real document from the corpus, served through the
real ``minhash_dedup_pairs_prebuilt`` path with ``prune`` forced each
way (auto is also recorded).

Prints ONE JSON line:
  {"metric": "index_point_lookup", "scales": [
     {"docs": N, "bucketed": {"bytes": B, "files": K},
      "flat_sec": s, "pruned_sec": s, "flat_layout_sec": s,
      "auto_prunes": bool}, ...],
   "crossover_docs": N_or_null, "violations": [...]}

``flat_sec`` is the bucketed layout scanned WITHOUT pruning,
``flat_layout_sec`` the unpartitioned layout (the true flat
baseline); ``pruned_sec`` is the partition-pruned read. A violation
is recorded if the auto-select picks the slower side by more than
1.3x at any measured scale.

Usage:
  python bench_index.py [--docs 200000,1000000,4000000]
                        [--buckets 128] [--runs 2]
                        [--out artifacts/BENCH_INDEX.json]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench
from datafusion_dist_spark.catalog import DEFAULT_SF_DIR

WORK = "/tmp/ddspark-index-bench"
BANDS, ROWS_PER_BAND = 4, 4
NUM_HASHES = BANDS * ROWS_PER_BAND


def synthetic_banded(spark, n_docs: int):
    """n_docs × BANDS banded signature rows, all JVM-side exprs.

    sig components are crc32(doc_id · component) BIGINTs — incompres-
    sible enough to emulate real minhash bytes-per-row; band keys are
    the real ``_banded`` formula over those components so the row
    widths match production."""
    sig = F.array(
        *[
            F.crc32(F.concat(F.col("id").cast("string"), F.lit(f"#{j}")))
            for j in range(NUM_HASHES)
        ]
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), sig.alias("sig")
    )
    from datafusion_dist_spark.operators.dedup import _banded

    return _banded(docs, BANDS, ROWS_PER_BAND)


def build_layouts(spark, n_docs: int, buckets: int) -> tuple[str, str]:
    from datafusion_dist_spark.sources.sidecar import write_json_sidecar

    flat = os.path.join(WORK, f"flat-{n_docs}")
    bucketed = os.path.join(WORK, f"bucketed-{n_docs}")
    params = {"k": 3, "bands": BANDS, "rows_per_band": ROWS_PER_BAND}
    if not os.path.exists(os.path.join(flat, "_params.json")):
        banded = synthetic_banded(spark, n_docs)
        banded.write.mode("overwrite").parquet(flat)
        write_json_sidecar(
            spark, flat, "_params.json", {**params, "band_buckets": None}
        )
    if not os.path.exists(os.path.join(bucketed, "_params.json")):
        banded = synthetic_banded(spark, n_docs)
        # Same writer discipline as minhash_index_build: repartition by
        # the partition key -> one file per (band_id, bk) dir.
        banded.withColumn(
            "bk", F.pmod(F.crc32(F.col("band_key")), F.lit(buckets)).cast("int")
        ).repartition("band_id", "bk").write.mode("overwrite").partitionBy(
            "band_id", "bk"
        ).parquet(bucketed)
        write_json_sidecar(
            spark, bucketed, "_params.json", {**params, "band_buckets": buckets}
        )
    return flat, bucketed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="200000,1000000,4000000")
    ap.add_argument("--buckets", type=int, default=128)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--out", default=None)
    ap.add_argument("--keep", action="store_true", help="keep index dirs")
    args = ap.parse_args()

    from datafusion_dist_spark.catalog import load_table
    from datafusion_dist_spark.operators import dedup
    from datafusion_dist_spark.session import build_session
    from datafusion_dist_spark.sources.sidecar import dir_summary

    spark = build_session(app_name="ddspark-index-bench")
    os.makedirs(WORK, exist_ok=True)

    batch = (
        load_table(spark, args.sf_dir, "documents")
        .filter(F.col("doc_id") == 7)
        .select((F.col("doc_id") + 50_000_000).alias("doc_id"), "text")
    )
    batch.count()  # session + parquet-footer warmup

    def lookup(path: str, prune) -> None:
        dedup.minhash_dedup_pairs_prebuilt(
            spark, path, batch, split_id=50_000_000, prune=prune
        ).collect()

    def lookup_wall(path: str, prune) -> float:
        # One untimed lookup first: the first read of a layout pays its
        # file listing and footer reads and the plan's codegen.
        lookup(path, prune)
        best = None
        for _ in range(args.runs):
            t = time.time()
            lookup(path, prune)
            w = time.time() - t
            best = w if best is None else min(best, w)
        return round(best, 3)

    scales, violations = [], []
    crossover = layout_crossover = None
    for n_docs in [int(x) for x in args.docs.split(",")]:
        t0 = time.time()
        flat_path, bucketed_path = build_layouts(spark, n_docs, args.buckets)
        build_sec = round(time.time() - t0, 1)
        nbytes, nfiles = dir_summary(spark, bucketed_path)
        auto_prunes = (
            nbytes >= dedup.PRUNE_MIN_INDEX_BYTES
            or nfiles >= dedup.PRUNE_MIN_INDEX_FILES
        )
        # Build-side layout auto-select (band_buckets="auto"): would it
        # bucket at this scale? Estimated the same way the builder does.
        auto_buckets = (
            n_docs * BANDS * dedup.EST_BANDED_ROW_BYTES
            >= dedup.BUCKET_MIN_INDEX_BYTES
        )
        # Band-stats sidecar compaction cost (VERDICT r10 task 5): the
        # per-band HLL register pass minhash_index_build pays at
        # ingest, measured over the index's own columnar files (the
        # 2-column pruned scan the builder uses). Bounded two ways,
        # both gated: STATE is ≤ bands x 2^p rows regardless of index
        # size, and WALL must stay under the ingest it rides on (it is
        # one linear aggregate over bytes the build just wrote).
        t0 = time.time()
        stats_rows = dedup._band_stats_rows(
            dedup.band_register_table(spark.read.parquet(flat_path))
        )
        band_stats_sec = round(time.time() - t0, 3)
        row = {
            "docs": n_docs,
            "build_sec": build_sec,
            "bucketed": {"bytes": nbytes, "files": nfiles},
            "flat_layout_sec": lookup_wall(flat_path, prune=None),
            "flat_sec": lookup_wall(bucketed_path, prune=False),
            "pruned_sec": lookup_wall(bucketed_path, prune=True),
            "auto_prunes": auto_prunes,
            "auto_buckets": auto_buckets,
            "band_stats_sec": band_stats_sec,
            "band_stats_rows": len(stats_rows),
        }
        if len(stats_rows) > BANDS * 256:
            violations.append(
                {"docs": n_docs, "band_stats_rows": len(stats_rows),
                 "bound": BANDS * 256}
            )
        scales.append(row)
        if crossover is None and row["pruned_sec"] < row["flat_sec"]:
            crossover = n_docs
        if (
            layout_crossover is None
            and row["pruned_sec"] < row["flat_layout_sec"]
        ):
            layout_crossover = n_docs
        auto_sec = row["pruned_sec"] if auto_prunes else row["flat_sec"]
        best_sec = min(row["pruned_sec"], row["flat_sec"])
        if auto_sec > 1.3 * best_sec:
            violations.append(
                {
                    "docs": n_docs,
                    "auto_prunes": auto_prunes,
                    "auto_sec": auto_sec,
                    "best_sec": best_sec,
                }
            )
        # Layout violation: band_buckets="auto" must not pick the
        # measured-slower SERVING layout (flat vs bucketed+pruned)
        # by more than 1.3x at any measured scale (r7 ADVICE: the old
        # 64 MiB build threshold picked bucketed where flat wins).
        auto_layout_sec = (
            row["pruned_sec"] if auto_buckets else row["flat_layout_sec"]
        )
        best_layout_sec = min(row["pruned_sec"], row["flat_layout_sec"])
        if auto_layout_sec > 1.3 * best_layout_sec:
            violations.append(
                {
                    "docs": n_docs,
                    "auto_buckets": auto_buckets,
                    "auto_layout_sec": auto_layout_sec,
                    "best_layout_sec": best_layout_sec,
                }
            )
        print(f"  docs={n_docs} {row}", file=sys.stderr, flush=True)
        if not args.keep:
            shutil.rmtree(flat_path, ignore_errors=True)

    # Sidecar WALL bound: one linear aggregate — its growth across the
    # measured scales must stay within the linear budget (1.5x the
    # docs ratio, the same coefficient the scale rehearsals use).
    if len(scales) >= 2:
        s0, s1 = scales[0], scales[-1]
        growth = s1["band_stats_sec"] / max(s0["band_stats_sec"], 1e-9)
        budget = 1.5 * (s1["docs"] / s0["docs"])
        if growth > budget:
            violations.append(
                {"band_stats_growth": round(growth, 2),
                 "budget": round(budget, 2)}
            )

    result = {
        "metric": "index_point_lookup",
        "buckets": args.buckets,
        "runs": args.runs,
        "scales": scales,
        "crossover_docs": crossover,
        "layout_crossover_docs": layout_crossover,
        "prune_min_index_bytes": dedup.PRUNE_MIN_INDEX_BYTES,
        "prune_min_index_files": dedup.PRUNE_MIN_INDEX_FILES,
        "bucket_min_index_bytes": dedup.BUCKET_MIN_INDEX_BYTES,
        "violations": violations,
    }
    bench.emit(result, args.out)
    if not args.keep:
        shutil.rmtree(WORK, ignore_errors=True)
    spark.stop()
    if violations:
        print(f"violations: {violations}", file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
