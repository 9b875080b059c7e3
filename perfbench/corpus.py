"""Deterministic synthetic corpus for the serving benchmark.

The benchmark reads and writes only inside its own checkout, so it
cannot use a prepared testdata directory: it generates the same ten
tables the engine's catalog registers (``catalog.TESTDATA_TABLES``),
with the schemas and value distributions of the reference testdata,
from a FIXED corpus seed. The workload seed never touches the corpus —
it only draws the requests — so every run of every seed queries the
same bytes and the per-entry result hashes recorded beside the
benchmark stay valid.

The x3 corpus for ``pipeline_ops`` is ``scale.scale_corpus`` over the
generated sf0.1 corpus; both are cached under the checkout and rebuilt
only when the generator version changes.
"""

from __future__ import annotations

import json
import os

import numpy as np

CORPUS_SEED = 42
GENERATOR_VERSION = 1

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_P_ADJ = ("red", "new", "hot", "small", "big", "old", "cold", "blue")
_P_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe")
_P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, rng) -> dict:
    """Column dicts per table at scale factor ``sf`` (sf0.1 = 600k
    lineitem rows, the size of the reference testdata)."""
    import pyarrow as pa

    def n(base: int, floor: int = 25) -> int:
        return max(floor, int(round(base * sf)))

    n_cust, n_supp, n_part = n(150_000), n(10_000, 10), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_vec = n(50_000, 500), n(20_000, 500)
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_P_ADJ, n_part), rng.choice(_P_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("O", "P", "F"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }
    okey = rng.integers(0, n_ord, n_line).astype(np.int64)
    # Line numbers 1..k within each order, in row order.
    order_idx = np.argsort(okey, kind="stable")
    sorted_keys = okey[order_idx]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_line]))
    linenumber = np.empty(n_line, np.int32)
    linenumber[order_idx] = np.arange(n_line) - run_start + 1
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("O", "F"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    }
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(ts0 + rng.integers(0, span, n_ev)).astype("datetime64[us]"),
        "user_id": rng.integers(0, n(15_000, 50), n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 101, n_doc)
    ]
    # Planted duplicates: ~0.2% verbatim copies and ~5% near-copies with
    # one word replaced, so the dedup/near-dup operators find real pairs.
    for i in range(1, n_doc):
        u = rng.random()
        if u < 0.002:
            texts[i] = texts[int(rng.integers(0, i))]
        elif u < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.standard_normal((10, 64)) * 0.07
    vecs = centers[labels] + rng.standard_normal((n_vec, 64)) * 0.125
    # Near-duplicate vectors (~2%) for the cosine dedup entries.
    near = rng.random(n_vec) < 0.02
    near[0] = False
    src = (rng.random(n_vec) * np.arange(n_vec)).astype(np.int64)
    vecs[near] = vecs[src[near]] + rng.standard_normal((int(near.sum()), 64)) * 0.002
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    }
    return t


def build(dst_dir: str, sf: float) -> None:
    """Write the corpus at ``dst_dir`` unless a matching one is there."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    manifest = {"sf": sf, "seed": CORPUS_SEED, "version": GENERATOR_VERSION}
    mpath = os.path.join(dst_dir, "_CORPUS_MANIFEST.json")
    try:
        with open(mpath) as fh:
            if json.load(fh) == manifest:
                return
    except (OSError, ValueError):
        pass
    os.makedirs(dst_dir, exist_ok=True)
    for name, cols in _tables(sf, np.random.default_rng(CORPUS_SEED)).items():
        pq.write_table(pa.table(cols), os.path.join(dst_dir, f"{name}.parquet"))
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)


def prepare(work_dir: str, sf: float, factor: int) -> tuple[str, str]:
    """Build (or reuse) the base corpus and its ``scale.scale_corpus``
    replica. Returns (base_dir, scaled_dir)."""
    from datafusion_dist_spark import scale

    base = os.path.join(work_dir, "corpus", f"sf{sf:g}")
    build(base, sf)
    scaled = os.path.join(work_dir, "corpus", f"sf{sf:g}-x{factor}")
    scale.scale_corpus(base, scaled, factor)
    return base, scaled
