#!/usr/bin/env python
"""Assemble the committed cross-round f3 per-query comparison record.

VERDICT r11 task 3: at sf0.1 the headline bench is per-query
scheduling-overhead-bound and between-window host scatter (median 8%,
max 33% on identical code) swamps code effects, so the round-over-round
optimization signal moves to the x3 rehearsal corpus
(/tmp/ddspark-scale/f3, the deterministic manifest-cached corpus
bench_scale.py builds), where per-entry walls are 1-4 s and code
dominates.

Inputs are ``tools_profile_queries.py`` JSONL outputs (wall min-of-N,
per-run host canary, Spark job count, executed-plan facts) taken on two
source trees — the PREVIOUS round's tree (a pristine clone at its final
commit) and the current tree — over the same query list at the same
corpus. Multiple samples per tree are allowed; the record keeps every
run (wall + canary) and reports min-of-all-runs per side. Min-of-N
estimates the quiet-host cost, so give BOTH sides comparable quiet
coverage (the per-run canaries in the record let a reader audit that)
— extra samples on one side can only lower that side's min.

    python tools_f3_compare.py --prev-label prev@<commit> \
        --out artifacts/BENCH_F3_COMPARE.json \
        --prev /tmp/f3_prev.jsonl /tmp/f3_prev_b.jsonl \
        --now /tmp/f3_now.jsonl
"""
from __future__ import annotations

import json
import math
import sys


def _load(sources) -> dict[str, dict]:
    """Merge JSONL inputs (paths or open text streams) per query. Every
    run is kept; ``jobs``/``facts`` come from the row whose runs hold
    that query's min wall, so they describe the run the record reports."""
    out: dict[str, dict] = {}
    for src in sources:
        with open(src) if isinstance(src, str) else src as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                row = json.loads(line)
                runs = [{"wall": r["wall"], "canary": r["canary"]} for r in row["runs"]]
                e = out.setdefault(row["query"], {"runs": [], "jobs": None, "facts": None})
                best = min((r["wall"] for r in e["runs"]), default=math.inf)
                e["runs"].extend(runs)
                if runs and min(r["wall"] for r in runs) < best:
                    e["jobs"] = row.get("jobs_last_run")
                    e["facts"] = row.get("facts")
    return out


def compare(prev: dict[str, dict], now: dict[str, dict], prev_label: str = "prev") -> dict:
    """The comparison record over the queries both sides measured. A
    query with a zero wall on either side gets ``ratio: None`` and is
    listed in ``zero_wall``, outside the geomean; the geomean is None
    when no query is left."""
    queries = {}
    ratios = []
    zero_wall = []
    for q in sorted(set(prev) & set(now)):
        p, n = prev[q], now[q]
        wp = min((r["wall"] for r in p["runs"]), default=0.0)
        wn = min((r["wall"] for r in n["runs"]), default=0.0)
        if wp > 0 and wn > 0:
            ratios.append(wn / wp)
            ratio = round(wn / wp, 3)
        else:
            zero_wall.append(q)
            ratio = None
        queries[q] = {
            "prev_wall": wp,
            "now_wall": wn,
            "ratio": ratio,
            "prev_jobs": p["jobs"],
            "now_jobs": n["jobs"],
            "prev_runs": p["runs"],
            "now_runs": n["runs"],
            "now_facts": n["facts"],
        }
    geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios)) if ratios else None
    return {
        "metric": "f3_per_query_compare",
        "corpus": "/tmp/ddspark-scale/f3 (bench_scale.py deterministic x3 corpus)",
        "prev_label": prev_label,
        "method": (
            "tools_profile_queries.py per tree; wall = min over ALL runs"
            " of that tree (every run kept with its host canary; quiet"
            " host = matmul canary <= ~0.012)"
        ),
        "n_queries": len(queries),
        "total_prev": round(sum(v["prev_wall"] for v in queries.values()), 3),
        "total_now": round(sum(v["now_wall"] for v in queries.values()), 3),
        "geomean_ratio": None if geo is None else round(geo, 3),
        "zero_wall": zero_wall,
        "queries": queries,
    }


def main() -> None:
    argv = sys.argv[1:]
    prev_paths: list[str] = []
    now_paths: list[str] = []
    out_path = "artifacts/BENCH_F3_COMPARE.json"
    prev_label = "prev"
    cur = None
    while argv:
        a = argv.pop(0)
        if a == "--prev":
            cur = prev_paths
        elif a == "--now":
            cur = now_paths
        elif a == "--out":
            out_path = argv.pop(0)
        elif a == "--prev-label":
            prev_label = argv.pop(0)
        elif cur is not None:
            cur.append(a)
        else:
            raise SystemExit(f"unexpected arg {a}")
    record = compare(_load(prev_paths), _load(now_paths), prev_label)
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=False)
        f.write("\n")
    print(
        f"wrote {out_path}: {record['n_queries']} queries, "
        f"{record['total_prev']} -> {record['total_now']} s, "
        f"geomean ratio {record['geomean_ratio']}"
        + (f", zero walls skipped: {record['zero_wall']}" if record["zero_wall"] else "")
    )


if __name__ == "__main__":
    main()
