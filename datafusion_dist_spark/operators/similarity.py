"""Embedding similarity search over an ``array<float>`` column.

Two strategies, one semantics:

- ``cosine_topk_bruteforce`` — exact: score every vector against the
  query with a JVM-side dot product, then TopK. The right baseline and,
  at 100 TB, still the right *verifier* for sampled queries: one scan,
  no shuffle (TopK is partial-per-partition then merged).
- ``lsh_bucket_topk`` — approximate scale path: sign-bit bucketing
  (axis-aligned random-hyperplane LSH) assigns every vector to a
  2^nbits bucket at write time; queries probe only the buckets within
  Hamming distance 1 of the query's bucket, turning top-k into a
  selective scan. On a cluster the bucket id is a partition/cluster
  key, so a probe reads a handful of files.

Dot products: when the dimension is known (probed once from the data)
the sum is unrolled into a fixed chain of ``element_at`` products —
plain codegen-able expressions that stay inside WholeStageCodegen. The
higher-order ``aggregate``/``zip_with`` fold (interpreted per element,
~5-10x slower) remains the fallback for unknown dims. Both produce the
identical left-to-right double summation, so results are bit-equal.

All scores are computed in double and rounded to 6dp (see registry.py
exactness rules). Near-dup pair scoring pre-computes each row's norm
once (N norms instead of one per pair).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_dist_spark.operators.common import (
    QUADRATIC_PIN_MAX_ROWS,
    quadratic_pin_guard,
    session_cache,
    spread,
)

# Fixed-point scale of the k-means and PQ operators: components are
# quantized to round(x * MICRO) BIGINT units so sums are exact integers.
# The DuckDB oracle twins hard-code the same 1000000.
MICRO = 1_000_000


def _dot_fold(a: Column, b: Column) -> Column:
    """Interpreted fallback when the dimension is unknown."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_ref(x, i: int) -> str:
    """SQL for element i (1-based) of x: a column reference (possibly
    alias-qualified; prefix '@' marks a column that is already
    ARRAY<DOUBLE>, skipping the per-element cast) or a Python float
    list. Literals use the D suffix: repr() is the shortest exact
    roundtrip and Spark's double-literal parse is correctly rounded,
    so the parsed value is bit-identical to the driver-side double."""
    if isinstance(x, str):
        if x.startswith("@"):
            return f"element_at({x[1:]}, {i})"
        return f"CAST(element_at({x}, {i}) AS DOUBLE)"
    return f"{float(x[i - 1])!r}D"


def _dot_sql(a, b, dim: int) -> str:
    """Unrolled dot product as ONE SQL fragment. Building the same
    expression Column-by-Column costs thousands of py4j round-trips
    (~5 s of pure driver time at dim 64 × 8 centroids, measured);
    one F.expr parse is milliseconds. '+' parses left-associative, so
    the summation order matches _dot_fold exactly."""
    return (
        "("
        + " + ".join(
            f"{_sql_ref(a, i)} * {_sql_ref(b, i)}" for i in range(1, dim + 1)
        )
        + ")"
    )


def _dot(a, b, dim: int | None = None) -> Column:
    """Dot product; identical summation order in all implementations.

    dim=None: interpreted fold, a/b are Columns. dim given: codegen'd
    unrolled SQL, a/b are column-reference strings or float lists.
    """
    if dim is None:
        return _dot_fold(a, b)
    return F.expr(_dot_sql(a, b, dim))


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """One-row action to learn the (assumed uniform) vector length."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).head()
    return int(row.d) if row and row.d is not None and row.d > 0 else None


def cosine(a, b, dim: int | None = None) -> Column:
    """Cosine similarity of two float arrays, computed in double.

    dim=None: a/b are Columns (interpreted fold). dim given: a/b are
    column-reference strings or float lists (one parsed SQL
    expression); a literal side's norm is constant-folded by Catalyst.
    """
    if dim is None:
        return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))
    return F.expr(
        f"{_dot_sql(a, b, dim)} / "
        f"(sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)}))"
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector. The
    query-side norm is a foldable expression Catalyst evaluates once."""
    dim = len(query_vec)
    q = [float(v) for v in query_vec]
    scored = spread(embeddings).select(
        F.col("vec_id"),
        F.round(cosine("embedding", q, dim), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


# Corpus-tracking knob ladders — THE DEFAULTS for the blocked
# operators below (knob=None ⇒ derive from a corpus count). The r4
# scale rehearsal measured what fixed blocking constants do at x10
# data (n²/buckets pair work, x41-51 wall): a constant knob is only
# correct for a pinned corpus, so pinning is now the caller's explicit
# act (the registry's oracle entries pass nbits=4 / n_centroids=8)
# and growth is the default. Integer threshold ladders, never libm
# log2: the SQL oracle twins replay the identical integer via scalar
# subqueries, and a last-ulp libm disagreement exactly at a
# bucket-doubling boundary would silently fork the two engines.
#
# nbits ladder: ~log2(n / 125) clamped to [4, 8] — bucket population
# stays ~constant as the corpus grows. IVF/SemDeDup K: n / 250 with
# an 8-floor — constant ~250-vector inverted lists / clusters.
NBITS_LADDER: list[tuple[int, int]] = [
    (125 << b, b) for b in range(8, 3, -1)
]  # >= 32000 -> 8 ... >= 2000 -> 4 (floor)
IVF_LIST_SIZE = 250


def adaptive_nbits(n: int) -> int:
    """Sign-bucket width for an n-vector corpus (see NBITS_LADDER)."""
    for threshold, b in NBITS_LADDER:
        if n >= threshold:
            return b
    return 4


def adaptive_n_centroids(n: int) -> int:
    """Coarse-centroid count for an n-vector corpus: constant
    ~IVF_LIST_SIZE-vector inverted lists, floored at 8."""
    return max(8, n // IVF_LIST_SIZE)


def sign_bucket(vec: Column, nbits: int = 4) -> Column:
    """LSH bucket id: bit i = sign(vec[i]), packed to an int.

    Axis-aligned hyperplanes keep the oracle expressible in SQL; swap
    the element lookup for a dot product against random hyperplanes for
    production-grade recall (same plan shape).
    """
    bucket = F.lit(0)
    for i in range(nbits):
        bucket = bucket + F.when(
            F.element_at(vec, i + 1) >= 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_bucket_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nbits: int = 4,
) -> DataFrame:
    """Approximate top-k: probe the query's sign bucket plus all buckets
    at Hamming distance 1 (multi-probe), exact cosine within probes."""
    dim = len(query_vec)
    q_bucket = 0
    for i in range(nbits):
        if float(query_vec[i]) >= 0:
            q_bucket += 2**i
    probes = [q_bucket] + [q_bucket ^ (1 << i) for i in range(nbits)]
    q = [float(v) for v in query_vec]
    scored = (
        spread(embeddings).withColumn("bucket", sign_bucket(F.col("embedding"), nbits))
        .filter(F.col("bucket").isin(probes))
        .select(
            F.col("vec_id"),
            F.col("bucket"),
            F.round(cosine("embedding", q, dim), 6).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


def ivf_assignments(
    embeddings: DataFrame,
    n_centroids: int = 8,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: assign every vector to its nearest
    centroid (max cosine, deterministic centroid-id tiebreak).

    Centroids here are the first ``n_centroids`` vectors by id — a
    deterministic stand-in for a k-means codebook (training a codebook
    is an offline iterative job; the *serving* plan shape, which is
    what scales, is identical). The codebook is a model artifact, so
    it lives on the driver: one tiny pushed-filter scan collects the K
    centroid vectors, and assignment becomes a pure per-row projection
    — K inlined cosine expressions + array_max argmax. No N×K row
    explosion, no join, no shuffle of the vector column at all; the
    vector table is scanned exactly once. (The previous shape — a
    broadcast cross join + per-id top-1 window — multiplied the scan
    by K and shuffled every vector through the window exchange.)

    Tiebreak: struct (csim, -cid) under array_max picks max csim then
    min cid — identical to ORDER BY csim DESC, cid ASC row_number()=1.

    The row's own norm is a separate, multiply-referenced non-cheap
    alias, so CollapseProject keeps it materialized once per row
    instead of inlining sqrt(dot(v,v)) into all K cosines; each
    centroid's norm is a plain double literal (same fold order in
    Python, so bit-identical to computing it in the plan).
    """
    if dim is None:
        # Empty table → no rows will evaluate; 1 keeps the generated
        # SQL valid instead of raising TypeError in _dot_sql.
        dim = _probe_dim(embeddings, "embedding") or 1
    cents = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    cent_rows = cents.collect()
    if not cent_rows:
        # Empty codebook (empty table): no assignment is possible —
        # an empty result with the output schema, not a type error
        # from array_max(array()).
        empty = embeddings.filter(F.lit(False)).select(
            "vec_id",
            "embedding",
            F.lit(None).cast("double").alias("_norm"),
            F.lit(None).cast("bigint").alias("cid"),
            F.lit(None).cast("double").alias("csim"),
        )
        return empty, cents
    normed = spread(embeddings).select(
        "vec_id",
        "embedding",
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("_vd"),
    ).select(
        "vec_id",
        "embedding",
        "_vd",
        F.expr(f"sqrt({_dot_sql('@_vd', '@_vd', dim)})").alias("_norm"),
    )
    best = _best_centroid(cent_rows, "@_vd", "_norm", dim)
    assigned = normed.select(
        "vec_id",
        "embedding",
        "_norm",
        (-best["ncid"]).alias("cid"),
        best["csim"].alias("csim"),
    )
    return assigned, cents


def _lit_norm(vec) -> float:
    """Vector norm as a Python double with _dot's exact fold order
    (left-to-right sum of per-element double products) — bit-identical
    to evaluating sqrt(_dot(v, v)) in the plan."""
    import math

    vals = [float(v) for v in vec]
    s = vals[0] * vals[0]
    for v in vals[1:]:
        s = s + v * v
    return math.sqrt(s)


def _best_centroid(cent_rows, vec_col: str, norm_col: str, dim: int):
    """array_max over struct(csim, -cid) — the per-row argmax centroid
    as ONE parsed SQL expression (codebook vectors and norms inlined
    as literals, row norm referenced from ``norm_col``)."""
    entries = ", ".join(
        "named_struct('csim', round({dot} / ({norm} * {cnorm}), 6), "
        "'ncid', {ncid}L)".format(
            dot=_dot_sql(vec_col, [float(v) for v in row.cvec], dim),
            norm=norm_col,
            cnorm=_sql_ref([_lit_norm(row.cvec)], 1),
            ncid=-int(row.cid),
        )
        for row in cent_rows
    )
    return F.expr(f"array_max(array({entries}))")


def _score_rows(V, C, cn, q=None, qn=None):
    """The one numpy implementation of the batched cosine scorer:
    given a row batch ``V`` (n×dim float64), centroid arrays ``C`` with
    norms ``cn`` and a query ``q``/``qn``, return (qscore, csims) with
    the SQL fold's EXACT operation order (qscore is None, and its fold
    is skipped, when there is no query) — shared by the literal
    scorer (``_numpy_ivf_scorer``) and the dynamic-codebook scorer
    (``_numpy_dyn_scorer``) so a codebook that arrives as a column is
    scored bit-identically to one embedded as literals.

    Order discipline, matching ``_dot_sql``/``_lit_norm``:
    - accumulate over dims left-to-right, starting from the FIRST
      product (no 0.0 seed) — elementwise IEEE ops across the row
      batch in the same sequence as the SQL ``+`` chain;
    - ``raw / (norm * cnorm)`` with the same parenthesization.
    """
    import numpy as np

    dim = V.shape[1]
    K = len(C)
    v0 = V[:, 0]
    sq = v0 * v0
    qdot = None if q is None else v0 * q[0]
    dots = [v0 * C[j][0] for j in range(K)]
    for i in range(1, dim):
        vi = V[:, i]
        sq = sq + vi * vi
        if q is not None:
            qdot = qdot + vi * q[i]
        for j in range(K):
            dots[j] = dots[j] + vi * C[j][i]
    norm = np.sqrt(sq)
    qscore = None if q is None else qdot / (norm * qn)
    csims = np.stack([dots[j] / (norm * cn[j]) for j in range(K)], axis=1)
    return qscore, csims


def _numpy_ivf_scorer(cvecs, cnorms, qvec=None, qnorm=None):
    """Arrow-batched scorer: per row, the raw query cosine and the raw
    cosine to each of K centroids, computed by numpy with the SQL
    fold's EXACT operation order — so every double is bit-identical to
    the unrolled ``_dot_sql`` expression (property-tested,
    tests/test_properties.py::test_numpy_scorer_matches_sql_fold).

    Why: the unrolled K×dim argmax expression costs a multi-second
    Janino compile on its first run (VERDICT r1 #5) — pure latency, no
    data work. Here the heavy arithmetic is numpy over Arrow batches
    (no codegen at all, vectorized across rows), while rounding and
    the argmax tiebreak stay in the Spark plan, where they already
    match the DuckDB oracle.

    Floats are widened float32→float64 before any multiply, like the
    ``CAST(... AS DOUBLE)`` in the expression; the fold order lives in
    ``_score_rows``. Centroid-only callers omit ``qvec``: qscore is
    then NULL and its fold is never computed.
    """
    import numpy as np

    C = [np.asarray(c, dtype=np.float64) for c in cvecs]
    cn = [float(x) for x in cnorms]
    q = None if qvec is None else np.asarray(qvec, dtype=np.float64)
    qn = None if qnorm is None else float(qnorm)

    @F.pandas_udf("struct<qscore: double, csims: array<double>>")
    def score(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame({"qscore": [], "csims": []})
        V = np.stack(emb.to_numpy()).astype(np.float64)
        qscore, csims = _score_rows(V, C, cn, q, qn)
        return pd.DataFrame({"qscore": qscore, "csims": list(csims)})

    return score


def _numpy_dyn_scorer():
    """Dynamic-codebook twin of ``_numpy_ivf_scorer``: the centroids
    arrive as a COLUMN (a constant array<struct<cid, cvec>> attached by
    a 1-row broadcast crossJoin) instead of Python literals, so a Lloyd
    round can consume the PREVIOUS round's in-plan output without a
    driver collect between them (VERDICT r11 task 1). Per Arrow batch
    the codebook is unpacked once; the arithmetic is the shared
    ``_score_rows`` fold and the norms are ``_lit_norm`` on the same
    doubles the literal path would have collected — bit-identical
    csims by construction (asserted by
    test_kmeans_fused_rounds_bit_identical). Returns the csims array
    aligned with the codebook's array order (callers zip it with
    ``transform(cb, s -> s.cid)`` for the argmax). The codebook column
    copies K×dim doubles onto every row, which stays small only because
    its one caller fixes K=8 (``kmeans_train`` from
    ``queries/llm.py:ann_kmeans_converged``)."""
    import numpy as np

    @F.pandas_udf("array<double>")
    def score(emb: pd.Series, cb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        book = cb.iloc[0]
        C = [
            np.asarray([float(v) for v in e["cvec"]], dtype=np.float64)
            for e in book
        ]
        if not C:
            return pd.Series([[]] * len(emb))
        cn = [_lit_norm(e["cvec"]) for e in book]
        V = np.stack(emb.to_numpy()).astype(np.float64)
        _, csims = _score_rows(V, C, cn)
        return pd.Series(list(csims))

    return score


def _rounded_argmax_cid(cent_rows, csims_ref: str = "s.csims"):
    """In-plan argmax over the scorer's csims array: round each cosine
    to 6dp, take max on (csim, -cid) — identical to ORDER BY csim
    DESC, cid ASC row_number()=1 and to the DuckDB oracles. coalesce
    makes cid statically non-nullable (the entries array is non-empty)
    so joins don't infer isnotnull(cid) and push a duplicate of the
    expression into the scan's data filter."""
    entries = ", ".join(
        f"named_struct('csim', round(element_at({csims_ref}, {j + 1}), 6), "
        f"'ncid', {-int(r.cid)}L)"
        for j, r in enumerate(cent_rows)
    )
    best = F.expr(f"array_max(array({entries}))")
    return F.coalesce(-best["ncid"], F.lit(-1).cast("bigint"))


def kmeans_refine_step(
    embeddings: DataFrame,
    n_centroids: int = 8,
    codebook: list | None = None,
) -> DataFrame:
    """One Lloyd iteration of codebook training, distributed and
    bit-deterministic: assign every vector to its nearest seed
    centroid (max rounded cosine, id tiebreak — the same assignment
    rule as ``ivf_assignments``/``ivf_topk``), then recompute each
    centroid as the per-dimension mean of its members.

    The mean is computed in **fixed point**: every component is
    quantized to integer micro-units (round(x * 1e6) as BIGINT),
    summed exactly (integer addition is associative — any shuffle or
    aggregation order gives the same sum, unlike double summation),
    and divided once at the end. That one division of exact integers
    is bit-identical on every engine, which is what makes an
    *iterative* distributed algorithm hash-checkable against a SQL
    oracle at all — the standard trick this repo uses for regression
    moments, applied to k-means.

    Plan shape at 100 TB: one scan of the vector table; the scorer is
    an Arrow-batched numpy projection; the argmax runs once per vector,
    in a Project below the Generate; posexplode then fans each row into
    dim (cid, dim, micro) tuples that carry ``cid`` as a plain column;
    ONE two-phase aggregation keyed by (cid, dim) — K*dim final groups,
    so the reduce side is trivially small no matter the corpus size.

    Returns (cid, dim, centroid, n_members): dim is 1-based,
    ``centroid`` the refined per-dimension mean rounded to 6dp.

    ``codebook`` overrides the seed centroids with an explicit
    [(cid, vector), ...] — how iteration N+1 consumes iteration N's
    output (the codebook is a driver-side model artifact between
    rounds, exactly like ``ivf_topk``'s).
    """
    if codebook is not None:
        from collections import namedtuple

        _C = namedtuple("_C", ["cid", "cvec"])
        cent_rows = [_C(int(c), list(v)) for c, v in codebook]
    else:
        cent_rows = (
            embeddings.filter(F.col("vec_id") < n_centroids)
            .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
            .collect()
        )
    if not cent_rows:
        return embeddings.filter(F.lit(False)).select(
            F.lit(0).cast("bigint").alias("cid"),
            F.lit(0).alias("dim"),
            F.lit(0.0).alias("centroid"),
            F.lit(0).cast("bigint").alias("n_members"),
        )
    cvecs = [[float(v) for v in r.cvec] for r in cent_rows]
    scorer = _numpy_ivf_scorer(cvecs, [_lit_norm(c) for c in cvecs])
    # spread(): the r5 strong-scaling gate measured this entry FLAT at
    # 8 vs 32 cores (x1.0, 3.1 s) — the x10 corpus parquet arrives as
    # 1-2 input splits and the scorer + posexplode + partial aggregate
    # are all pipelined into those map tasks, so the whole round ran
    # on 2 cores. The earlier "no spread, assignment is shuffle-free"
    # reasoning optimized away the one shuffle that buys 16x map
    # parallelism; spread() skips itself when the input is already
    # parallel (the 100 TB case), so only under-parallel inputs pay.
    # The argmax gets its own select below the posexplode: Spark
    # evaluates an expression that shares a select with a generator in
    # the Project ABOVE the Generate, i.e. once per exploded component.
    assigned = (
        spread(embeddings)
        .select(F.col("embedding"), scorer(F.col("embedding")).alias("s"))
        .select(_rounded_argmax_cid(cent_rows).alias("cid"), "embedding")
        .select("cid", F.posexplode("embedding").alias("i", "x"))
    )
    return _fixed_point_means(assigned)


def _fixed_point_means(assigned: DataFrame) -> DataFrame:
    """The Lloyd update shared by both refine rounds: (cid, i, x) rows —
    each vector component ``x`` at 0-based position ``i`` under its
    assigned ``cid`` — to (cid, dim, centroid, n_members), components
    summed as integer MICRO-units and divided once."""
    m = F.round(F.col("x").cast("double") * MICRO).cast("bigint")
    return (
        assigned.select("cid", (F.col("i") + 1).alias("dim"), m.alias("m"))
        .groupBy("cid", "dim")
        .agg(F.sum("m").alias("sm"), F.count("*").alias("n_members"))
        .select(
            "cid",
            "dim",
            F.round(
                F.col("sm").cast("double") / (F.col("n_members") * float(MICRO)),
                6,
            ).alias("centroid"),
            "n_members",
        )
    )


def _codebook_from_rows(rows) -> list[tuple[int, list[float]]]:
    """(cid, dim, centroid) rows → [(cid, vector), ...] sorted by cid,
    each vector ordered by dim."""
    by_cid: dict[int, dict[int, float]] = {}
    for row in rows:
        by_cid.setdefault(int(row.cid), {})[int(row.dim)] = float(row.centroid)
    return [
        (cid, [dims[d] for d in sorted(dims)])
        for cid, dims in sorted(by_cid.items())
    ]


def collect_codebook(refined: DataFrame) -> list[tuple[int, list[float]]]:
    """Materialize a :func:`kmeans_refine_step` result as the
    [(cid, vector), ...] codebook that parameterizes the next round —
    the only thing that ever crosses the driver between iterations
    (K×dim rounded doubles, never data)."""
    return _codebook_from_rows(refined.collect())


def _codebook_array(refined: DataFrame) -> DataFrame:
    """In-plan twin of :func:`collect_codebook`: a 1-row
    array<struct<cid, cvec>> sorted by cid, cvec ordered by dim, built
    from a refine-step output in ONE global aggregation (no per-cid
    exchange — the reshape from the sorted (cid, dim, centroid) array
    is a pure expression over ≤ K×dim elements: ``array_distinct``
    keeps the cid-ascending first-occurrence order and ``filter``
    preserves the (cid, dim)-ascending sort, exactly the driver-side
    ``sorted(...)`` walk)."""
    return refined.agg(
        F.array_sort(
            F.collect_list(F.struct("cid", "dim", "centroid"))
        ).alias("arr")
    ).select(
        F.expr(
            "transform(array_distinct(transform(arr, x -> x.cid)), "
            "c -> named_struct('cid', c, "
            "'cvec', transform(filter(arr, x -> x.cid = c), "
            "x -> x.centroid)))"
        ).alias("cb")
    )


def _kmeans_refine_dyn(vecs: DataFrame, cb: DataFrame) -> DataFrame:
    """One Lloyd round whose codebook is a tiny 1-row array RELATION
    (``cb``: array<struct<cid, cvec>> sorted by cid) — the previous
    round's in-plan output — instead of driver-side literals: the
    chaining primitive that lets :func:`kmeans_train` compute TWO
    rounds per action (guide §2.4/§4: the per-round cost had become
    pure driver round-trips). The codebook row is broadcast-crossJoined
    onto every vector; the scorer is the shared ``_score_rows`` fold
    and the argmax is the same round-to-6dp / min-cid tiebreak as
    ``_rounded_argmax_cid``, written over the zipped (csims, cids)
    arrays — bit-identical assignment to the literal-codebook round by
    construction. As there, the (interpreted) ``zip_with`` argmax is
    computed once per vector, below the Generate that explodes the
    components."""
    scorer = _numpy_dyn_scorer()
    best = F.expr(
        "array_max(zip_with(csims, ccids, (s, c) -> "
        "named_struct('csim', round(s, 6), 'ncid', -c)))"
    )
    assigned = (
        vecs.crossJoin(F.broadcast(cb))
        .select(
            F.col("embedding"),
            F.expr("transform(cb, s -> s.cid)").alias("ccids"),
            scorer(F.col("embedding"), F.col("cb")).alias("csims"),
        )
        .select(
            F.coalesce(-best["ncid"], F.lit(-1).cast("bigint")).alias("cid"),
            "embedding",
        )
        .select("cid", F.posexplode("embedding").alias("i", "x"))
    )
    return _fixed_point_means(assigned)


def _collect_codebook_batch(
    vecs: DataFrame,
    param: list | None,
    n_rounds: int,
    n_centroids: int,
) -> list[list[tuple[int, list[float]]]]:
    """Run ``n_rounds`` Lloyd rounds in ONE action and return their
    codebooks in order. Round A is the literal-codebook
    :func:`kmeans_refine_step` (seeded from vec_id < n_centroids when
    ``param`` is None); each later round chains off its predecessor's
    aggregate through :func:`_kmeans_refine_dyn` — no driver sync
    between the rounds. Every chained-FROM K×dim aggregate is
    persisted for the duration of the action: it has two consumers
    (the tagged union carrying its codebook to the driver, and the
    next round's broadcast codebook build), and a broadcast branch's
    separate job does NOT get exchange OR broadcast reuse (the r10
    recompute-trap data point, re-confirmed here: 0 ReusedExchange in
    both the union and double-crossJoin shapes) — without the persist
    each chained-from scorer pass over the corpus executed twice per
    batch. The persists are released before returning; only codebooks
    leave the function."""
    # Round A is ALWAYS the literal-codebook refine step (when starting,
    # its internal seed collect doubles as the persist-build trigger for
    # ``vecs`` — one cheap job over the cache). An in-plan seed variant
    # (seed agg → broadcast → dynamic round) was measured SLOWER here:
    # it trades one driver-sized collect for two extra AQE stage jobs.
    out_a = kmeans_refine_step(vecs, n_centroids=n_centroids, codebook=param)

    outs = [out_a]
    persisted: list[DataFrame] = []
    try:
        while len(outs) < n_rounds:
            prev = outs[-1].persist()
            persisted.append(prev)
            outs[-1] = prev
            outs.append(_kmeans_refine_dyn(vecs, _codebook_array(prev)))
        tagged = outs[0].select(
            F.lit(1).alias("r"), "cid", "dim", "centroid"
        )
        for i, out in enumerate(outs[1:], start=2):
            tagged = tagged.unionByName(
                out.select(F.lit(i).alias("r"), "cid", "dim", "centroid")
            )
        rows = tagged.collect()
        return [
            _codebook_from_rows([row for row in rows if row.r == r])
            for r in range(1, n_rounds + 1)
        ]
    finally:
        for p in persisted:
            p.unpersist()


def kmeans_train(
    embeddings: DataFrame,
    n_centroids: int = 8,
    max_rounds: int = 4,
) -> tuple[DataFrame, int]:
    """Lloyd's algorithm to convergence: chain
    :func:`kmeans_refine_step` until the fixed-point codebook stops
    changing or ``max_rounds`` is reached. Returns (final refine-step
    DataFrame, rounds actually computed).

    Convergence stays hash-checkable because of the fixed-point trick:
    every round's output is bit-deterministic integer-mean arithmetic,
    so "converged" is EXACT equality of consecutive codebooks — and an
    exact fixed point is stable (one more Lloyd round reproduces it
    bit-for-bit). An oracle that always runs ``max_rounds`` rounds
    therefore matches regardless of which round the training loop
    stopped at: the skipped rounds are provable no-ops.

    Per round: one scan of the vector table, one (cid, dim)-keyed
    two-phase aggregate with K×dim final groups; only the K×dim
    codebook crosses the driver between rounds. This is the offline
    IVF codebook trainer that ``ivf_topk``'s docstring promises.

    Unlike :func:`~datafusion_dist_spark.operators.graph.pagerank`
    (which chains rounds into one lazy plan and therefore cuts lineage
    every N rounds), plan depth here is CONSTANT in the round count by
    construction: each round's collect_codebook() forces execution and
    the next round rebuilds a fresh plan from the embeddings scan plus
    literal centroids — a 50-round run compiles the same plan shape as
    round 1 (codegen size grows with K, never with rounds). No
    checkpointing needed.

    The training loop persists the narrow (id, vector) projection —
    post-spread, so the cache is already balanced across the cluster —
    and every round's scan reads that in-memory table instead of
    re-scanning the source and re-paying the round-robin exchange
    (N rounds: 1 scan + 1 shuffle, not N of each). The cache is
    released before returning; the RETURNED DataFrame is rebuilt from
    the raw table parameterized by the final round's codebook, so
    callers never hold executor storage. Rebuild equals loop output
    bit-for-bit: assignment is a deterministic function of (vector,
    codebook) and the fixed-point integer means are order-independent.

    Driver-sync discipline (optimization r12, VERDICT r11 task 1):
    rounds are collected TWO per action — round B chains off round A's
    aggregate in-plan through the dynamic-codebook scorer
    (:func:`_collect_codebook_batch`), halving the blocking collects
    of the round loop. The convergence walk below replays the
    sequential semantics exactly over the batched codebooks, so
    ``rounds``, the parameterizing codebook, and the returned plan are
    identical to the one-collect-per-round loop.
    """
    if max_rounds < 1:
        raise ValueError(
            f"kmeans_train needs max_rounds >= 1, got {max_rounds}"
        )
    vecs = spread(
        embeddings.select(F.col("vec_id"), F.col("embedding"))
    ).persist()
    # Batched driver protocol (VERDICT r11 task 1): the sequential loop
    # paid one action per round (plus a seed-collect job) and its cost
    # at any corpus size had become pure scheduler round-trips. Here
    # each action computes up to _BATCH_ROUNDS Lloyd rounds (each later
    # round chains off its predecessor's aggregate in-plan via the
    # dynamic-codebook scorer) and returns their codebooks; the driver
    # replays the sequential convergence walk over them, so `rounds`,
    # the parameterizing codebook, and the returned plan are IDENTICAL
    # to the one-round-per-action loop: a codebook computed past the
    # fixed point is discarded (a bit-exact fixed point is stable, so
    # it equals its predecessor anyway), and when the previous codebook
    # was EMPTY the sequential loop's next round is provably empty too,
    # so the batch's chained output is overridden to [] rather than
    # trusting the dynamic round's no-centroid sentinel groups.
    #
    # Batch size trades blocking driver syncs against overshoot (a
    # fixed point landing mid-batch wastes the batch's remaining
    # corpus passes) AND against in-plan chain depth: 3 rounds per
    # action measured MORE jobs than 2 at the x3 corpus (19 vs 16;
    # walls directionally worse too, within host scatter) — each extra
    # chained round persists another K×dim aggregate whose cache
    # materialization serializes the chain and adds AQE stages, so the
    # saved driver sync is repaid with interest. 2 is the optimum.
    _BATCH_ROUNDS = 2
    try:
        cbs: list[list] = []
        rounds = max_rounds
        stopped = False
        while len(cbs) < max_rounds - 1 and not stopped:
            take = min(_BATCH_ROUNDS, (max_rounds - 1) - len(cbs))
            batch = _collect_codebook_batch(
                vecs, cbs[-1] if cbs else None, take, n_centroids
            )
            for codebook in batch:
                if cbs and not cbs[-1]:
                    codebook = []  # empty codebook is a fixed point
                if cbs and codebook == cbs[-1]:
                    stopped = True  # exact fixed point: later rounds no-op
                    rounds = len(cbs) + 1
                    break
                cbs.append(codebook)
        param: list | None = cbs[rounds - 2] if rounds >= 2 else None
    finally:
        vecs.unpersist()
    return (
        kmeans_refine_step(embeddings, n_centroids=n_centroids, codebook=param),
        rounds,
    )


def _probe_rank_key(row):
    """Probe-ranking sort key over a (cid, qsim) row: highest rounded
    cosine first, centroid id as tiebreak — identical to the oracle's
    ORDER BY qsim DESC, cid ASC. The ONE definition of the probe
    tiebreak, shared by _probe_cids (ivf_topk / ivf_pq_topk) and
    ivf_knn_join's batch ranking — change it in both universes or not
    at all."""
    return (-row.qsim, row.cid)


# Memo for codebook probes: the centroid fetch + query scoring is a
# tiny Spark job, but it reruns for EVERY query plan built against the
# same static table (bench passes, repeated user queries) — a
# production IVF index caches its codebook. Held in the session cache
# (common.session_cache), keyed on the embeddings plan's semantic hash
# (no job to compute) + a file-scan freshness token (#files, max
# mtime, bytes) + the query, so a changed table, a same-path parquet
# rewrite, or a new session all miss.


def _freshness_token(df: DataFrame):
    """Cheap freshness token for file-scan plans: (#files, max
    mtime_ns, total bytes) over the scan's input files (no Spark job —
    ``inputFiles`` reads the FileIndex). Same-path parquet rewrites
    change mtime/size, so the probe memo MISSES instead of serving
    stale centroid rows — unlike the repo's other persisted caches,
    a stale hit here returns wrong data rather than just recomputing.
    Non-file or unlistable plans → None (memo falls back to the
    semanticHash-only key, the original static-warehouse trade)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import os as _os
    from urllib.parse import unquote as _unquote, urlparse as _urlparse

    max_mtime, total = 0, 0
    for uri in files:
        parsed = _urlparse(uri)
        if parsed.scheme not in ("file", ""):
            # Remote store: fall back to the file list itself (paths
            # usually change on rewrite; stat is not free there).
            return ("paths", len(files), hash(tuple(sorted(files))))
        try:
            st = _os.stat(_unquote(parsed.path))
        except OSError:
            return None
        max_mtime = max(max_mtime, st.st_mtime_ns)
        total += st.st_size
    return (len(files), max_mtime, total)


def _probe_cids(
    embeddings: DataFrame,
    query_vec: list[float],
    n_centroids: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> tuple[list, list[int]]:
    """(cent_rows, nprobe nearest centroid ids) for one query. The
    query-to-centroid scores are Spark-computed (rounded cosine) so
    the ranking's rounding/tiebreak matches the SQL ORDER BY exactly;
    the sort key is the shared :func:`_probe_rank_key`."""

    def rank():
        q = F.lit([float(v) for v in query_vec])
        cent_rows = (
            embeddings.filter(F.col(id_col) < n_centroids)
            .select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cvec"),
                F.round(cosine(F.col(vec_col), q, None), 6).alias("qsim"),
            )
            .collect()
        )
        probe_cids = [
            int(r.cid)
            for r in sorted(cent_rows, key=_probe_rank_key)[:nprobe]
        ]
        return cent_rows, probe_cids

    try:
        params = (
            embeddings.semanticHash(),
            _freshness_token(embeddings),
            tuple(float(v) for v in query_vec),
            n_centroids,
            nprobe,
            id_col,
            vec_col,
        )
    except Exception:  # semanticHash unavailable (exotic plan): no memo
        return rank()
    return session_cache(embeddings.sparkSession, "ivf_probe", params, rank)


def _coarse_probe(
    embeddings: DataFrame,
    query_vec: list[float],
    n_centroids: int,
    nprobe: int,
):
    """Shared IVF coarse-probe machinery: (cent_rows, probes, scorer).

    ONE tiny pushed-filter job returns the codebook vectors AND the
    query-to-centroid scores; probe ranking is then a driver-side
    sort of K pre-rounded doubles (the qsim values are Spark-
    computed, so ranking ties match the SQL ORDER BY exactly). The
    interpreted fold avoids compiling an unrolled expression for K
    rows (identical summation order, so scores are bit-equal).

    The scorer runs raw per-row arithmetic (dots, norms, divisions)
    in an Arrow-batched numpy projection with the SQL fold's exact
    operation order — no K×dim unrolled expression, so no
    multi-second Janino compile on the cold run (VERDICT r1 #5).
    Rounding and the argmax tiebreak stay in the plan (see
    ``_rounded_argmax_cid``). The probe/tiebreak discipline lives
    ONLY here so ``ivf_topk`` and ``ivf_pq_topk`` cannot drift.
    """
    spark = embeddings.sparkSession
    cent_rows, probe_cids = _probe_cids(
        embeddings, query_vec, n_centroids, nprobe, "vec_id", "embedding"
    )
    probes = spark.createDataFrame([(c,) for c in probe_cids], "pcid long")
    scorer = _numpy_ivf_scorer(
        [[float(v) for v in r.cvec] for r in cent_rows],
        [_lit_norm(r.cvec) for r in cent_rows],
        [float(v) for v in query_vec],
        _lit_norm(query_vec),
    )
    return cent_rows, probes, scorer


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF top-k: score the query against the codebook, probe the
    ``nprobe`` nearest inverted lists, exact cosine within them.

    At 100 TB the assignment is precomputed at ingest and ``cid`` is
    the partition key, so a probe reads nprobe/n_centroids of the data.

    One scan, no shuffle except the final TopK merge: assignment and
    query score are per-row expressions over a shared ``_norm``
    column, and the probe filter is a 2-row broadcast *semi-join* on
    the computed cid. A literal ``isin`` filter would be pushed
    through the projections, splicing the whole K-centroid argmax
    expression into the scan's data filter where it is re-evaluated
    outside codegen (measured 5-20x slower); the join keeps the
    argmax evaluated exactly once per row.
    """
    cent_rows, probes, scorer = _coarse_probe(
        embeddings, query_vec, n_centroids, nprobe
    )
    # No spread: the scorer needs no shuffle at all — numpy work is
    # vectorized per Arrow batch, and the parquet source's natural
    # splits carry the parallelism at scale; a repartition here would
    # add the plan's ONLY exchange before the TopK merge.
    scored0 = embeddings.select("vec_id", scorer(F.col("embedding")).alias("s"))
    scored = scored0.select(
        "vec_id",
        _rounded_argmax_cid(cent_rows).alias("cid"),
        F.round(F.col("s.qscore"), 6).alias("score"),
    ).join(F.broadcast(probes), F.col("cid") == F.col("pcid"), "left_semi")
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    nbits: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by sign bucket.

    Only pairs sharing a bucket are scored (near-identical vectors
    agree on sign bits with high probability); exact cosine verifies.
    At scale the bucket equi-join replaces the quadratic cross join.
    Each row's norm is computed once before the join, so a pair costs
    one dot product, not three.

    ``nbits`` is the corpus-tracking knob, NOT a constant: pair work
    is sum over 2^nbits buckets of m², so at a FIXED nbits the pass
    is quadratic in corpus size — n²/buckets pairs (the r4 rehearsal
    measured the quadratic directly, x41-46 wall at x10 data, until
    the scoring-shape fix below dropped the per-pair constant to
    numpy speed; the pair COUNT still grows n², which the factor²
    budget tracks). Size it as ~log2(n / target_bucket_size) so
    bucket population stays constant as data grows — the same knob
    family as SemDeDup's cluster count K. Since r5 the corpus-tracking
    ladder IS the default (``nbits=None`` ⇒ ``adaptive_nbits(count)``,
    one count job); passing a constant is the explicit pinning act —
    the registry's ``dedup_embedding_cosine`` entry pins nbits=4
    because its oracle encodes the 4-bit bucket arithmetic.

    Scoring shape: ONE applyInPandas per bucket (SemDeDup's
    row-blocked numpy pair scorer), not a bucket self-JOIN. The join
    form read beautifully but Catalyst pushed the threshold filter —
    dragging the whole 2×dim-term rounded dot with it — into the
    SortMergeJoin's non-equi condition, where it is evaluated
    per buffered pair OUTSIDE whole-stage codegen: the f30 scale
    rehearsal measured 61 s of the 64 s wall in that predicate
    (~8.7 µs/pair for work numpy does in nanoseconds). Here the
    corpus crosses Arrow once (linear, never per pair), the numpy
    prefilter keeps a strict superset (raw >= threshold - 1e-6), and
    the EXACT rounded-threshold decision stays in the plan —
    bit-identical to the SQL-fold oracle by the scorer's sequential
    accumulation discipline (same as ``semantic_dedup_decisions``).

    ``bucket_cap`` is the HOT-BUCKET skew guard (the sign-bucket
    analog of minhash's band ``bucket_cap``): a hot DIRECTION cluster
    — m near-identical vectors, all in one sign bucket — makes both
    the pair work AND the pair LISTING m², and no bucket width can
    split a direction cluster. With the cap, only the bucket's first
    C members (vec_id order) serve as the LOWER side of a pair:
    per-bucket work and output drop to C×m, every overflow member
    still pairs with every head member above threshold (so cluster
    membership survives for connected components), and only
    redundant overflow×overflow listings are dropped. Deterministic
    (id order) ⇒ the SQL oracle replays it via row_number."""
    import numpy as np

    if nbits is None:
        nbits = adaptive_nbits(embeddings.count())
    elif bucket_cap is None:
        # Explicitly-pinned nbits with no hot-bucket cap: if the pin is
        # UNDER-provisioned for the corpus (below the adaptive ladder's
        # answer), bucket population — and pair work — grows with the
        # data. Executable fence for the oracle-anchor config (r7
        # task 2); a pinned-but-adequate nbits (>= ladder) passes.
        n = embeddings.count()
        if n > QUADRATIC_PIN_MAX_ROWS and nbits < adaptive_nbits(n):
            quadratic_pin_guard(
                n,
                f"embedding_near_dup_pairs(nbits={nbits}) — an "
                f"under-provisioned fixed sign-bucket width "
                f"(adaptive ladder says {adaptive_nbits(n)})",
                "nbits=None (corpus-tracking default; registry twin "
                "dedup_embedding_cosine_adaptive) or a bucket_cap",
            )
    dim = _probe_dim(embeddings, "embedding") or 1  # 1: empty-input guard
    b = spread(embeddings).select(
        F.col("vec_id"),
        F.col("embedding"),
        sign_bucket(F.col("embedding"), nbits).alias("bucket"),
    )
    raw_cut = threshold - 1e-6
    cap = bucket_cap

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "score": []})
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        sq = V[:, 0] * V[:, 0]
        for i in range(1, dim):
            sq = sq + V[:, i] * V[:, i]
        norm = np.sqrt(sq)
        # The a (lower-id, column) side: whole bucket, or the ≤cap
        # head — the matrix below is then block×head, never block×n.
        head = n if cap is None else min(cap, n)
        out_a, out_b, out_s = [], [], []
        block = 2048  # bounds the pair matrix to block×head doubles
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            D = np.multiply.outer(V[lo:hi, 0], V[:head, 0])
            for i in range(1, dim):
                D = D + np.multiply.outer(V[lo:hi, i], V[:head, i])
            S = D / np.multiply.outer(norm[lo:hi], norm[:head])
            # a (column) is the LOWER id: rows are the b side
            r_idx, c_idx = np.nonzero(
                (S >= raw_cut)
                & (
                    np.arange(head)[None, :]
                    < (lo + np.arange(hi - lo))[:, None]
                )
            )
            out_a.append(ids[c_idx])
            out_b.append(ids[r_idx + lo])
            out_s.append(S[r_idx, c_idx])
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a) if out_a else [],
                "b_id": np.concatenate(out_b) if out_b else [],
                "score": np.concatenate(out_s) if out_s else [],
            }
        )

    cand = b.groupBy("bucket").applyInPandas(
        _bucket_pairs, schema="a_id long, b_id long, score double"
    )
    return cand.select(
        "a_id", "b_id", F.round(F.col("score"), 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = 127 / max|x|,
    q_i = round(x_i * scale). The storage-side optimization of a
    100 TB vector store (4x smaller than float32, dot products stay
    SIMD-able); one projection, no shuffle.

    Output keeps the quantized array plus scalar audit columns
    (scale, quantized-value checksum, max reconstruction error) so the
    result is hashable cross-engine.
    """
    v = F.col("embedding")
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    # Zero vectors get the sentinel scale 0.0 (q_vec all zeros, zero
    # error) — an unguarded 127/0 would make scale Infinity and every
    # quantized element NULL via round(0*Inf)=round(NaN).
    scale = F.when(max_abs > 0, F.lit(127.0) / max_abs).otherwise(F.lit(0.0))
    quant = F.transform(v, lambda x: F.round(x.cast("double") * scale).cast("int"))
    recon_err = F.when(
        max_abs > 0,
        F.array_max(
            F.zip_with(
                quant,
                v,
                lambda q, x: F.abs(q.cast("double") / scale - x.cast("double")),
            )
        ),
    ).otherwise(F.lit(0.0))
    return embeddings.select(
        F.col("vec_id"),
        quant.alias("q_vec"),
        F.round(scale, 6).alias("scale"),
        F.aggregate(quant, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.round(recon_err, 6).alias("max_err"),
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """KNN join: for every query vector, its k nearest corpus vectors
    by cosine (self-matches excluded) — the batch primitive behind
    embedding dedup and retrieval-evaluation pipelines.

    Shape for |Q| << |corpus| (the practical case): the query set is
    broadcast, the corpus scan is the only big side, and each side's
    norm is computed once before pairing so a pair costs one dot
    product. Per-query top-k is a row_number window keyed by q_id;
    at 100 TB you first cut candidates with the IVF/LSH route
    (ivf_topk, lsh_bucket_topk) and keep this exact join for the
    shortlist — same output contract.
    """
    dim = _probe_dim(corpus, "embedding") or 1  # 1: empty-input guard
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.expr(f"sqrt({_dot_sql('embedding', 'embedding', dim)})").alias("q_norm"),
    )
    c = spread(corpus).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.expr(f"sqrt({_dot_sql('embedding', 'embedding', dim)})").alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.round(
                _dot("c_vec", "q_vec", dim)
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", "score", "rn")
    )


def semantic_dedup_decisions(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    threshold: float = 0.5,
    head_cap: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the embedding space,
    score pairwise cosine only WITHIN a cluster, and mark every vector
    that has a lower-id in-cluster neighbor above ``threshold`` as a
    semantic duplicate (dup_of = the smallest such neighbor id).

    This is the published SemDeDup recipe (k-means then intra-cluster
    cosine pruning) in its production shape: a shuffle-free
    coarse-quantizer projection, then ONE applyInPandas over cid
    groups that scores each cluster's pair matrix with vectorized
    numpy (row-blocked to bound memory). Pair work drops from O(N²)
    to O(sum of cluster sizes²); at 100 TB the operating point is
    K ≈ sqrt(N) so each cluster's block is small — K is the knob, and
    the grouped map shuffles each vector exactly once, keyed on cid.
    Since r5 the corpus-tracking ladder IS the default
    (``n_centroids=None`` ⇒ ``adaptive_n_centroids(count)``, constant
    ~250-vector clusters); passing a constant is the explicit pinning
    act — the registry's ``dedup_semantic`` entry pins K=8 because
    its oracle replays that policy.

    Operating constraint (stated, not hidden): applyInPandas buffers
    one whole cluster per task, so the LARGEST cluster must fit an
    executor — the row-blocking bounds the score matrix, not the
    group buffer. A pathologically fat coarse cell needs a bigger K
    (re-cluster) or a pre-split on a secondary sketch (e.g. sign
    bucket) before this operator; the previous join-based shape
    tolerated fat clusters via AQE but cost 2.5× everywhere else.

    ``head_cap`` is the FAT-CELL work guard: a hot direction cluster
    lands whole in one coarse cell no matter how K grows (adaptive K
    splits the SPACE, not a cluster), making in-cell pair work m².
    With the cap, only the cell's first C members (vec_id order)
    serve as comparison partners: per-cell work drops to C×m while
    every member still gets its dup_of (the head contains the cell's
    smallest ids — exactly the ids dup_of points to) and n_dups
    counts lower-id HEAD partners only (a documented undercount for
    deep overflow, the price of the bound). Deterministic ⇒ the SQL
    oracle replays it via row_number.

    Exactness split: Python computes the RAW cosine with the SQL
    fold's exact operation order (left-to-right accumulation of
    per-dimension products — the same discipline as
    ``_numpy_ivf_scorer``, extended pairwise via rank-1 updates), and
    emits candidate pairs passing a conservatively widened raw
    threshold; the EXACT decision ``round(score, 6) >= threshold``
    runs in the Spark plan, where ROUND already matches the DuckDB
    oracle bit-for-bit. np.round (banker's) never touches a score.

    A previous shape (cid self-join with the 64-term rounded cosine
    in the join condition) was 2.5× slower: the joined pair rows
    materialize two full vectors each and the giant condition blows
    whole-stage codegen's 64 KB method budget.
    """
    import numpy as np

    if n_centroids is None:
        n_centroids = adaptive_n_centroids(embeddings.count())
    elif head_cap is None:
        # Pinned K with no fat-cell cap: cluster SIZE grows with the
        # corpus while the cell count stays fixed, so in-cell pair work
        # is quadratic. Executable fence for the oracle-anchor config
        # (r7 task 2); an adequate pinned K (>= ladder) passes.
        n = embeddings.count()
        if n > QUADRATIC_PIN_MAX_ROWS and n_centroids < adaptive_n_centroids(
            n
        ):
            quadratic_pin_guard(
                n,
                f"semantic_dedup_decisions(n_centroids={n_centroids}) — "
                f"an under-provisioned fixed cluster count (adaptive "
                f"ladder says {adaptive_n_centroids(n)})",
                "n_centroids=None (corpus-tracking default; registry "
                "twin dedup_semantic_adaptive) or a head_cap",
            )
    dim = _probe_dim(embeddings, "embedding") or 1
    cent_rows = (
        embeddings.filter(F.col("vec_id") < n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        .collect()
    )
    if not cent_rows:
        return embeddings.filter(F.lit(False)).select(
            "vec_id",
            F.lit(None).cast("bigint").alias("cid"),
            F.lit(None).cast("bigint").alias("dup_of"),
            F.lit(0).cast("bigint").alias("n_dups"),
        )
    cvecs = [[float(v) for v in r.cvec] for r in cent_rows]
    scorer = _numpy_ivf_scorer(cvecs, [_lit_norm(c) for c in cvecs])
    a = (
        spread(embeddings)
        .select("vec_id", "embedding", scorer(F.col("embedding")).alias("s"))
        .select(
            "vec_id",
            "embedding",
            _rounded_argmax_cid(cent_rows).alias("cid"),
        )
    )
    # Any raw score whose 6dp rounding can reach the threshold is
    # >= threshold - 5e-7; widen to 1e-6 so the Python prefilter is a
    # strict superset of the exact in-plan decision.
    raw_cut = threshold - 1e-6
    cap = head_cap

    def _pair_scores(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        cid = int(pdf["cid"].iloc[0])
        n = len(pdf)
        out_id, out_nbr, out_score = [ids], [np.full(n, -1)], [np.full(n, np.nan)]
        if n > 1:
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # norms with the fold's left-to-right order
            sq = V[:, 0] * V[:, 0]
            for i in range(1, dim):
                sq = sq + V[:, i] * V[:, i]
            norm = np.sqrt(sq)
            # Comparison partners: the whole cell, or the ≤cap head.
            head = n if cap is None else min(cap, n)
            block = 2048  # bounds the pair matrix to block×head doubles
            for lo in range(0, n, block):
                hi = min(lo + block, n)
                D = np.multiply.outer(V[lo:hi, 0], V[:head, 0])
                for i in range(1, dim):
                    D = D + np.multiply.outer(V[lo:hi, i], V[:head, i])
                S = D / np.multiply.outer(norm[lo:hi], norm[:head])
                # candidate pairs: lower-id (column) < this row's id
                r_idx, c_idx = np.nonzero(
                    (S >= raw_cut)
                    & (
                        np.arange(head)[None, :]
                        < (lo + np.arange(hi - lo))[:, None]
                    )
                )
                out_id.append(ids[r_idx + lo])
                out_nbr.append(ids[c_idx])
                out_score.append(S[r_idx, c_idx])
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_id),
                "cid": cid,
                "nbr": np.concatenate(out_nbr),
                "score": np.concatenate(out_score),
            }
        )

    cand = a.groupBy("cid").applyInPandas(
        _pair_scores,
        schema="vec_id long, cid long, nbr long, score double",
    )
    # The sentinel row (nbr = -1, score = null) per vector carries the
    # decision base; the EXACT rounded-threshold filter and the
    # min/count aggregation stay in the plan.
    passes = (F.col("nbr") >= 0) & (F.round(F.col("score"), 6) >= threshold)
    return cand.groupBy("vec_id", "cid").agg(
        F.min(F.when(passes, F.col("nbr"))).alias("dup_of"),
        F.sum(F.when(passes, 1).otherwise(0)).cast("bigint").alias("n_dups"),
    )


def pq_encode(
    embeddings: DataFrame, n_codes: int = 4, n_subspaces: int = 4
) -> DataFrame:
    """Product-quantization encoder: split each vector into
    ``n_subspaces`` contiguous subvectors and store, per subspace, the
    id of the nearest codebook centroid — the compressed representation
    IVF-PQ serving stacks keep in RAM (a 64-dim float32 vector becomes
    ``n_subspaces`` small ints).

    Codebook: the first ``n_codes`` vectors' subvectors (the same
    deterministic seed-codebook stand-in as ``ivf_assignments``; a
    trained codebook would come from ``kmeans_train`` per subspace).

    Exactness: components are quantized to integer micro-units with
    the same in-plan ROUND both engines share, so each squared-L2
    distance is an exact BIGINT sum (|x|≤2e6 squared ×16 dims ≈ 6e13,
    comfortably in range) and argmin needs no float tolerance at all.
    The codebook rows come from the SAME in-plan transform — no
    driver-side Python rounding (banker's rounding would diverge from
    SQL ROUND half-away-from-zero).

    Plan shape: explode to (vec, subspace, offset, micro) quads,
    broadcast-join the n_subspaces×n_codes×sub_dim codebook, then
    three shrinking aggregations: (vec,s,code)→distance (partial agg
    collapses the 256-way fan-out map-side before any shuffle),
    (vec,s)→argmin via lexicographic struct min, vec→code array. The
    shuffled rows are a few longs each; the vector payload itself
    never shuffles.
    """
    best = pq_codes(embeddings, n_codes, n_subspaces)
    # codes as a '-'-joined string: the oracle comparison canonicalizes
    # scalar columns only (array cells defeat order-insensitive row
    # sorting on both the driver and the local gate).
    return (
        best.groupBy("vid")
        .agg(
            F.concat_ws(
                "-",
                F.expr(
                    "transform(array_sort(collect_list(struct(s, code))),"
                    " x -> CAST(x.code AS STRING))"
                ),
            ).alias("codes"),
            F.sum("dist").alias("total_qerr"),
        )
        .select(F.col("vid").alias("vec_id"), "codes", "total_qerr")
    )

def _pq_explode(
    df: DataFrame,
    keep: str,
    sub_dim: int,
    id_col: str,
    vec_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Vector → (id, subspace, offset, micro-unit component) quads.
    Quantization uses in-plan SQL ROUND so both engines agree
    bit-for-bit (Python's banker's rounding would diverge). ``carry``
    names extra columns of ``df`` threaded through unchanged (e.g. a
    precomputed coarse cid, so a caller never joins back for it)."""
    return df.select(
        F.col(id_col).alias(keep),
        *carry,
        F.posexplode(vec_col).alias("_i", "_x"),
    ).select(
        keep,
        *carry,
        F.expr(f"_i div {sub_dim}").alias("s"),
        (F.col("_i") % sub_dim).alias("o"),
        F.round(F.col("_x").cast("double") * MICRO).cast("bigint").alias("m"),
    )


def pq_subspace_codebook(
    embeddings: DataFrame, n_codes: int, sub_dim: int
) -> DataFrame:
    """(code, s, o, cm) micro-unit codebook: the first ``n_codes``
    vectors' subvectors, built by the same in-plan transform as the
    data side so quantization is identical."""
    return _pq_explode(
        embeddings.filter(F.col("vec_id") < n_codes),
        "code", sub_dim, "vec_id", "embedding",
    ).select("code", "s", "o", F.col("m").alias("cm"))


def pq_codes(
    embeddings: DataFrame,
    n_codes: int = 4,
    n_subspaces: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    codebook_src: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """PQ code assignment: (vid, s, code, dist) — per vector and
    subspace, the nearest codebook entry by exact integer squared-L2.
    Shared core of :func:`pq_encode` and :func:`ivf_pq_topk`.

    ``dim`` skips the probe job when the caller already knows it;
    ``codebook_src`` lets a caller encode a FILTERED subset against
    the full table's codebook (the probed subset may not contain the
    seed rows); ``carry`` threads extra columns of ``embeddings``
    through the grouping unchanged (each must be functionally
    determined by the id column, e.g. a precomputed coarse cid — the
    groups are then identical with or without it)."""
    if dim is None:
        dim = _probe_dim(embeddings, vec_col) or 1
    sub_dim = dim // n_subspaces
    ex = _pq_explode(
        spread(embeddings), "vid", sub_dim, id_col, vec_col, carry=carry
    )
    cb = pq_subspace_codebook(
        codebook_src if codebook_src is not None else embeddings, n_codes, sub_dim
    )
    d = F.col("m") - F.col("cm")
    dists = (
        ex.join(F.broadcast(cb), ["s", "o"])
        .groupBy("vid", *carry, "s", "code")
        .agg(F.sum(d * d).alias("dist"))
    )
    return (
        dists.groupBy("vid", *carry, "s")
        .agg(F.min(F.struct("dist", "code")).alias("b"))
        .select(
            "vid", *carry, "s",
            F.col("b.code").alias("code"), F.col("b.dist").alias("dist"),
        )
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_codes: int = 4,
    n_subspaces: int = 4,
) -> DataFrame:
    """IVF-PQ approximate top-k — the full two-level ANN serving
    stack: an IVF coarse quantizer prunes the corpus to ``nprobe``
    inverted lists, then candidates are ranked by PQ **asymmetric
    distance** (ADC): the query's raw subvectors are compared to each
    subspace codebook entry ONCE (an n_subspaces×n_codes lookup
    table), and a candidate's distance is the sum of table lookups on
    its stored codes — no candidate vector is ever touched.

    Exactness: the ADC table is built in-plan from the query row's
    micro-quantized components (``query_id`` names the table row the
    query came from; a free-standing vector would be quantized
    driver-side with SQL-equivalent rounding), so every distance is
    an exact BIGINT and the ranking needs no float tolerance.

    Plan shape: the probe filter prunes FIRST — the PQ explode/
    distance work runs only on the probed subset (nprobe/K of the
    corpus), not on everything with the filter applied after. The ADC
    table and the probe list broadcast; the codes pipeline shuffles a
    few longs per probed vector. At 100 TB both cid and the PQ codes
    are ingest-time columns of the SAME row (the serving index), so
    the probe is a partition-pruned scan and the ADC ranking is pure
    table lookups: this composition is the query-time plan, not the
    storage layout.
    """
    dim = len(query_vec)
    sub_dim = dim // n_subspaces
    cent_rows, probes, scorer = _coarse_probe(
        embeddings, query_vec, n_centroids, nprobe
    )
    # ONE full pass: assign the coarse cid, keep only probed-list rows
    # (broadcast semi-join), and CARRY the vector + cid into the PQ
    # pipeline. The previous shape computed the assignment subtree for
    # two consumers (the codes path's id semi-join and the final cid
    # lookup join) and re-scanned the source a third time for the
    # probed vectors — cid rides the code grouping keys instead (it is
    # functionally determined by vid, so the groups are unchanged),
    # and both extra scans and both joins disappear. spread(): a
    # compact single-file corpus would otherwise run the scorer on
    # 1-2 input splits.
    probed = (
        spread(embeddings)
        .select("vec_id", "embedding", scorer(F.col("embedding")).alias("s"))
        .select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("_pv"),
            _rounded_argmax_cid(cent_rows).alias("cid"),
        )
        .join(F.broadcast(probes), F.col("cid") == F.col("pcid"), "left_semi")
    )
    # ADC lookup table: query subvector vs every codebook entry.
    cb = pq_subspace_codebook(embeddings, n_codes, sub_dim)
    qx = _pq_explode(
        embeddings.filter(F.col("vec_id") == query_id),
        "qid", sub_dim, "vec_id", "embedding",
    )
    dq = F.col("m") - F.col("cm")
    adc_table = (
        qx.join(cb, ["s", "o"])
        .groupBy("s", "code")
        .agg(F.sum(dq * dq).alias("qdist"))
    )
    # Encode ONLY the probed subset (against the full table's
    # codebook — the probed lists may not contain the seed rows).
    codes = pq_codes(
        probed, n_codes, n_subspaces, "vid", "_pv",
        dim=dim, codebook_src=embeddings, carry=("cid",),
    )
    return (
        codes.join(F.broadcast(adc_table), ["s", "code"])
        .groupBy("vid", "cid")
        .agg(F.sum("qdist").alias("adc_dist"))
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cid").cast("bigint").alias("cid"),
            "adc_dist",
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 2,
    corpus_count: int | None = None,
) -> DataFrame:
    """IVF-accelerated kNN join: ``knn_join``'s output contract served
    through the coarse-quantizer route — per query, only the
    ``nprobe`` probed inverted lists are scored, not the whole corpus.

    The batch-serving shape at 100 TB: corpus assignment is a per-row
    expression over one scan (no shuffle — at scale it is precomputed
    at ingest with ``cid`` as the partition key, making each probe a
    partition-pruned read); the query set is small by contract, so its
    probe lists are ranked driver-side with the shared
    ``_probe_cids`` discipline and broadcast as (q_id, q_vec, pcid)
    rows. Candidates come from one broadcast equi-join on cid —
    |corpus| × nprobe/n_centroids rows instead of knn_join's
    |corpus| × |Q| — then exact cosine + per-query top-k exactly as
    the brute-force join. Recall < 1 by design (vectors whose list
    was not probed are unseen), the standard IVF trade.

    Cost model, measured not assumed (r4 scale rehearsal): candidate
    work is |Q| × |corpus| × nprobe / n_centroids. With BOTH sides
    growing and n_centroids fixed that is quadratic (x33 at x10 data
    with the registry entry's K=8, which its oracle pins). At real
    scale n_centroids tracks the corpus — constant inverted-list
    size, K ≈ n / list_size — making the join linear in |Q| and
    independent of total corpus size per query; batches also bound
    |Q| by contract. The knob family is the same as SemDeDup's K and
    sign-bucket nbits: fixed blocking constants turn linear claims
    quadratic, so they must scale with data. Since r5 the
    corpus-tracking ladder IS the default (``n_centroids=None`` ⇒
    ``adaptive_n_centroids(count)``); passing a constant is the
    explicit pinning act — the registry's ``ann_ivf_knn_join`` entry
    pins K=8 because its oracle replays that policy.
    """
    spark = corpus.sparkSession
    # ``corpus_count``: callers that already counted the corpus (the
    # adaptive registry entry computes K from its own count) pass it
    # through so the ladder/guard below does not re-run the count job.
    if n_centroids is None:
        n_centroids = adaptive_n_centroids(
            corpus.count() if corpus_count is None else corpus_count
        )
    else:
        # Pinned K: per-query candidate work is |corpus| × nprobe / K,
        # so an under-provisioned fixed K makes the join quadratic
        # when both sides grow. Executable fence for the oracle-anchor
        # config (r7 task 2); an adequate pinned K (>= ladder) passes.
        n = corpus.count() if corpus_count is None else corpus_count
        if n > QUADRATIC_PIN_MAX_ROWS and n_centroids < adaptive_n_centroids(
            n
        ):
            quadratic_pin_guard(
                n,
                f"ivf_knn_join(n_centroids={n_centroids}) — an "
                f"under-provisioned fixed inverted-list count "
                f"(adaptive ladder says {adaptive_n_centroids(n)})",
                "n_centroids=None (corpus-tracking default; registry "
                "twin ann_ivf_knn_join_adaptive)",
            )
    # TWO driver-sized jobs feed the probe ranking: ONE tagged-union
    # collect of the K centroid rows and the |Q| query rows (they were
    # two separate collects until r12 — a union of two driver-sized
    # sides is still one job, and it works for ARBITRARY query/corpus
    # inputs, so no containment guard is needed; VERDICT r11 task 5),
    # then a |Q|×K SCALAR sims job (in-plan rounded cosine, so ranking
    # parity with the oracle is by construction). The sims job's rows
    # carry NO vectors — a |Q|×K collect carrying dim-width arrays per
    # pair was the py4j bottleneck the strong-scaling rehearsal caught
    # (4 s at x10 data); the union collect carries each vector ONCE.
    qdf = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = corpus.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    # Both sides cast to array<double> so the union types align for
    # arbitrary inputs (float32 widens exactly; the driver-side
    # float(v) widened identically before).
    both = cents.select(
        F.lit(0).alias("_side"), F.col("cid").alias("_id"),
        F.col("cvec").cast("array<double>").alias("_vec"),
    ).unionByName(
        qdf.select(
            F.lit(1).alias("_side"), F.col("q_id").alias("_id"),
            F.col("q_vec").cast("array<double>").alias("_vec"),
        )
    )
    rows = both.collect()
    cent_rows_raw = [r for r in rows if r._side == 0]
    q_rows = [r for r in rows if r._side == 1]
    if not cent_rows_raw or not q_rows:
        # no centroids or no queries: empty result, k columns
        return corpus.limit(0).select(
            F.lit(None).cast("bigint").alias("q_id"),
            F.lit(None).cast("bigint").alias("c_id"),
            F.lit(None).cast("double").alias("score"),
            F.lit(None).cast("int").alias("rn"),
        )
    cmap = {int(r._id): [float(v) for v in r._vec] for r in cent_rows_raw}
    cids = sorted(cmap)
    cvecs = [cmap[c] for c in cids]
    cnorms = [_lit_norm(v) for v in cvecs]
    dim = len(cvecs[0])
    qvec_map = {int(r._id): [float(v) for v in r._vec] for r in q_rows}
    sims = _collect_probe_sims(
        spark,
        [(c, cmap[c]) for c in cids],
        [(q, qvec_map[q]) for q in sorted(qvec_map)],
        dim,
    )
    probe_rows = _probe_rows_from_sims(sims, nprobe, qvec_map)
    probes = spark.createDataFrame(
        probe_rows, "q_id long, q_vec array<double>, q_norm double, pcid long"
    )
    # Corpus assignment via the Arrow-batched numpy scorer + in-plan
    # rounded argmax — ivf_topk's route: no K×dim unrolled expression,
    # so no cold Janino spike and milliseconds of planning instead of
    # a monster expression tree per call. The query-score half of the
    # scorer is unused here (dummy query = centroid 0). spread():
    # a compact parquet corpus arrives as 1-2 input splits, which
    # would pin the scorer + candidate join to 2 cores (measured flat
    # 8->32-core speedup in BENCH_CORES before the fix).
    from types import SimpleNamespace

    cent_rows = [SimpleNamespace(cid=c) for c in cids]
    scorer = _numpy_ivf_scorer(cvecs, cnorms)
    scored0 = spread(corpus).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        scorer(F.col("embedding")).alias("s"),
    )
    assigned = scored0.select(
        "c_id",
        "c_vec",
        _rounded_argmax_cid(cent_rows).alias("cid"),
        F.expr(f"sqrt({_dot_sql('c_vec', 'c_vec', dim)})").alias("c_norm"),
    )
    return _score_probed(assigned, probes, k, dim)


def _collect_probe_sims(
    spark,
    cent_pairs: list[tuple[int, list[float]]],
    q_pairs: list[tuple[int, list[float]]],
    dim: int,
) -> list:
    """One K × |Q| job over a DRIVER-LOCAL pair relation returning
    SCALAR rows only — (q_id, cid, qsim) with the in-plan rounded
    cosine, so probe ranking matches the SQL oracle's by construction
    (same codegen'd expression, identical summation order). Both
    callers have already collected the centroid and query vectors, so
    the pairs are enumerated driver-side and evaluated over one
    LocalTableScan — no source re-scan and no broadcast-build job,
    which the previous cents × broadcast(qdf) shape paid per call
    (two extra scheduler round-trips for K × |Q| rows that are
    driver-sized by contract). The vectors are deliberately NOT in
    the result: a |Q|×K collect carrying dim-width arrays per pair is
    the py4j bottleneck the strong-scaling rehearsal caught (4 s at
    x10 data for rows whose scalar form is milliseconds). Shared by
    the inline and prebuilt IVF kNN paths."""
    pairs = [
        (q_id, cid, cvec, qvec)
        for cid, cvec in cent_pairs
        for q_id, qvec in q_pairs
    ]
    local = spark.createDataFrame(
        pairs,
        "q_id long, cid long, cvec array<double>, q_vec array<double>",
    )
    return local.select(
        "q_id",
        "cid",
        F.round(cosine("cvec", "q_vec", dim), 6).alias("qsim"),
    ).collect()


def _probe_rows_from_sims(
    sims, nprobe: int, qvec_map: dict[int, list[float]]
) -> list[tuple]:
    """Driver-side probe ranking shared by the inline and prebuilt IVF
    kNN paths: per query, the top-``nprobe`` centroid lists under the
    rounded-cosine/centroid-id discipline of ``_probe_rank_key`` —
    rows of (q_id, q_vec, q_norm, pcid). Query vectors come from the
    separately collected ``qvec_map`` (|Q| arrays once, not per
    pair)."""
    by_q: dict[int, list] = {}
    for r in sims:
        by_q.setdefault(int(r.q_id), []).append(r)
    probe_rows = []
    for q_id, rows in by_q.items():
        qvec = qvec_map[q_id]
        qn = _lit_norm(qvec)
        for r in sorted(rows, key=_probe_rank_key)[:nprobe]:
            probe_rows.append((q_id, qvec, qn, int(r.cid)))
    return probe_rows


def _score_probed(assigned: DataFrame, probes: DataFrame, k: int, dim: int) -> DataFrame:
    """Candidate scoring shared by the inline and prebuilt IVF kNN
    paths: broadcast equi-join of (q_id, q_vec, q_norm, pcid) probe
    rows onto the cid-assigned corpus, exact cosine, per-query
    top-k. The corpus side is never shuffled."""
    cand = assigned.join(
        F.broadcast(probes), F.col("cid") == F.col("pcid")
    ).filter(F.col("c_id") != F.col("q_id"))
    scored = cand.select(
        "q_id",
        "c_id",
        F.round(
            _dot("c_vec", "q_vec", dim) / (F.col("c_norm") * F.col("q_norm")),
            6,
        ).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", "score", "rn")
    )


def ivf_index_build(
    corpus: DataFrame,
    n_centroids: int | None = None,
    path: str | None = None,
) -> str:
    """Ingest-time half of the IVF kNN join: assign every corpus
    vector to its nearest coarse centroid and persist the corpus as
    parquet PARTITIONED BY the assigned list id — the inverted-file
    layout on distributed storage. This is the amortization the
    ``ivf_knn_join`` docstring's cost model promises: the n×K coarse
    assignment is paid once per ingest batch (one scan, per-row
    numpy-scored projection, no shuffle of the vector column), and
    every subsequent query batch probes lists via partition-pruned
    reads instead of re-assigning the corpus per query
    (``ivf_knn_join_prebuilt``).

    The K-row codebook is a model artifact: it ships alongside the
    index as ``_codebook.json`` (an underscore-prefixed file, so
    parquet discovery ignores it; on a cluster the same file lives on
    the DFS next to the partition directories).

    Assignment is bit-identical to the inline path in
    ``ivf_knn_join`` (same numpy scorer, same rounded-argmax
    tiebreak, same stored-norm expression), so the prebuilt query
    half returns exactly the inline result for the same probe policy.
    ``n_centroids=None`` (the default) derives the corpus-tracking K
    from one count job — the ingest path is where the adaptive
    discipline matters most, since the partition layout it writes is
    what every later query prunes against.
    """
    from types import SimpleNamespace

    from datafusion_dist_spark.sources.sidecar import write_json_sidecar

    if path is None:
        raise ValueError("ivf_index_build requires an output path")
    if n_centroids is None:
        n_centroids = adaptive_n_centroids(corpus.count())
    cents = corpus.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    cent_rows_raw = cents.collect()
    if not cent_rows_raw:
        empty = corpus.sparkSession.createDataFrame(
            [], "c_id long, c_vec array<double>, c_norm double, cid long"
        )
        empty.write.mode("overwrite").partitionBy("cid").parquet(path)
        write_json_sidecar(
            corpus.sparkSession,
            path,
            "_codebook.json",
            {"cids": [], "cvecs": [], "dim": 1},
        )
        return path
    cmap = {int(r.cid): [float(v) for v in r.cvec] for r in cent_rows_raw}
    cids = sorted(cmap)
    cvecs = [cmap[c] for c in cids]
    cnorms = [_lit_norm(v) for v in cvecs]
    dim = len(cvecs[0])
    cent_rows = [SimpleNamespace(cid=c) for c in cids]
    scorer = _numpy_ivf_scorer(cvecs, cnorms)
    scored0 = spread(corpus).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        scorer(F.col("embedding")).alias("s"),
    )
    assigned = scored0.select(
        "c_id",
        "c_vec",
        F.expr(f"sqrt({_dot_sql('c_vec', 'c_vec', dim)})").alias("c_norm"),
        _rounded_argmax_cid(cent_rows).alias("cid"),
    )
    # Repartition BY THE PARTITION KEY before the partitioned write:
    # without it every assignment task writes into every probed cid
    # dir (tasks x K tiny files — 2557 files for an 80-list index at
    # x10, measured), and every later partition-pruned query pays
    # per-file open cost. One exchange at ingest buys one file per
    # inverted list.
    assigned.repartition("cid").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(path)
    write_json_sidecar(
        corpus.sparkSession,
        path,
        "_codebook.json",
        {"cids": cids, "cvecs": cvecs, "dim": dim},
    )
    return path


def ivf_knn_join_prebuilt(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Query-serving half of the IVF kNN join over a prebuilt
    ``ivf_index_build`` index: rank each query's probe lists against
    the driver-side codebook, then read ONLY the probed inverted
    lists — a partition-pruned parquet scan on the cid directory key —
    and score candidates through the same broadcast-probes join and
    per-query top-k as the inline path (``_score_probed``).

    This is the at-scale serving shape the rehearsal measures: per
    query batch the corpus cost is |probed lists| × list_size, with
    list size held constant by the adaptive-K discipline
    (``ann_ivf_knn_join_adaptive``); nothing re-scans or re-assigns
    the corpus. The driver-side probe ranking is |Q| × K rounded
    cosines — the coarse search every IVF serving system performs
    (production systems put an HNSW over the codebook; at our K a
    flat scan is exact and cheap). Results are bit-identical to
    ``ivf_knn_join`` for the same corpus, queries, and probe policy
    (asserted in tests).
    """
    from datafusion_dist_spark.sources.sidecar import read_json_sidecar

    book = read_json_sidecar(spark, index_path, "_codebook.json")
    if book is None:
        raise ValueError(
            f"IVF index at {index_path} has no _codebook.json sidecar "
            "(written by ivf_index_build); probe ranking needs the "
            "codebook — rebuild the index"
        )
    empty = spark.createDataFrame(
        [], "q_id long, c_id long, score double, rn int"
    )
    if not book["cids"]:
        return empty
    dim = int(book["dim"])
    cent_pairs = [
        (int(c), [float(v) for v in vec])
        for c, vec in zip(book["cids"], book["cvecs"])
    ]
    qdf = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    q_rows = qdf.collect()
    if not q_rows:
        return empty
    qvec_map = {int(r.q_id): [float(v) for v in r.q_vec] for r in q_rows}
    sims = _collect_probe_sims(
        spark,
        cent_pairs,
        [(q, qvec_map[q]) for q in sorted(qvec_map)],
        dim,
    )
    probe_rows = _probe_rows_from_sims(sims, nprobe, qvec_map)
    probes = spark.createDataFrame(
        probe_rows, "q_id long, q_vec array<double>, q_norm double, pcid long"
    )
    probed_cids = sorted({pr[3] for pr in probe_rows})
    # Filter on the partition column BEFORE any cast so the parquet
    # source prunes whole cid directories (plan-gated in tests).
    pruned = (
        spark.read.parquet(index_path)
        .filter(F.col("cid").isin(probed_cids))
        .select(
            "c_id", "c_vec", "c_norm", F.col("cid").cast("long").alias("cid")
        )
    )
    return _score_probed(pruned, probes, k, dim)
