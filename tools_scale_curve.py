"""Two-point scaling-exponent analysis over bench_scale artifacts.

Reads two BENCH_SCALE JSONs at different factors (default: the
committed artifacts/BENCH_SCALE_F3.json and artifacts/BENCH_SCALE.json,
factors 3 and 10) and prints, per
query, the fitted power-law exponent

    p = log(ratio_hi / ratio_lo) / log(factor_hi / factor_lo)

under wall(f) ~ c * f^p. Constant per-query overheads (Spark job
scheduling, ~0.2-0.5 s on this host) depress p for entries whose
absolute wall is small, so the linear tier reads p ~ 0.1-0.7 rather
than exactly 1; the signal this exists for is the other tail:
entries whose honest cost model is quadratic at fixed blocking
constants measure p ~ 2 (dedup_embedding_cosine 1.86,
ann_ivf_knn_join 1.99 in the r4 artifacts) while their
corpus-tracking adaptive twins measure p ~ 1 (0.86 / 1.01) — the
two-point curve separates linear from quadratic in a way a single
factor-10 ratio cannot.

    python tools_scale_curve.py [LO.json HI.json]
"""
import json
import math
import sys


def main() -> None:
    lo_path, hi_path = (
        sys.argv[1:3]
        if len(sys.argv) >= 3
        else ("artifacts/BENCH_SCALE_F3.json", "artifacts/BENCH_SCALE.json")
    )
    lo, hi = json.load(open(lo_path)), json.load(open(hi_path))
    flo, fhi = lo["factor"], hi["factor"]
    if flo >= fhi:
        raise SystemExit("first artifact must be the lower factor")
    print(f"{'entry':40s} {'x'+str(flo):>7s} {'x'+str(fhi):>7s} {'exp':>6s}")
    for name, q in hi["queries"].items():
        if name not in lo["queries"]:
            continue
        rlo, rhi = lo["queries"][name]["ratio"], q["ratio"]
        if rlo <= 0 or rhi <= 0:
            continue
        p = math.log(rhi / rlo) / math.log(fhi / flo)
        print(f"{name:40s} {rlo:7.2f} {rhi:7.2f} {p:6.2f}")


if __name__ == "__main__":
    main()
