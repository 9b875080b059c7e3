"""Deterministic sampling for large-scale pipeline reproducibility.

``df.sample()`` draws from a per-partition RNG — results change with
partitioning and are impossible to reproduce in another engine. For a
training-data pipeline, sampling must be a *pure function of the row*:
hash the stable key, keep rows whose hash falls under the rate
threshold. Same rows selected on any cluster size, any engine, any
day — and the sample of a superset is a superset of the sample.

Hashes are md5-prefix (functions/hashing.py) so the DuckDB oracle
selects bit-identical row sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_dist_spark.functions.hashing import hash_hex, hash_hex_oracle, tokens
from datafusion_dist_spark.operators.common import spread

# 4 hex chars = 16 bits of hash → rate granularity 1/65536.
_SPACE = 1 << 16


def _bucket(key: Column, seed: int | str) -> Column:
    return F.conv(hash_hex(key.cast("string"), seed, width=4), 16, 10).cast("int")


def bucket_oracle(key_expr: str, seed: int | str) -> str:
    return (
        f"CAST(('0x' || {hash_hex_oracle(f'CAST({key_expr} AS VARCHAR)', seed, 4)})"
        f" AS INTEGER)"
    )


def hash_sample(
    df: DataFrame, key: str, rate: float, seed: int | str = "smp"
) -> DataFrame:
    """Deterministic Bernoulli(rate) sample keyed on ``key``."""
    return df.filter(_bucket(F.col(key), seed) < int(rate * _SPACE))


def stratified_hash_sample(
    df: DataFrame, key: str, stratum: str, rates: dict[str, float],
    default_rate: float = 0.0, seed: int | str = "smp",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample common
    sources, keep rare ones whole). ``rates`` maps stratum value →
    keep-rate; strata not listed use ``default_rate``."""
    threshold = F.lit(int(default_rate * _SPACE))
    for value, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(stratum) == value, F.lit(int(rate * _SPACE))
        ).otherwise(threshold)
    return df.filter(_bucket(F.col(key), seed) < threshold)


def mix_rebalance(
    df: DataFrame,
    key: str,
    stratum: str,
    weights: dict[str, float],
    seed: int | str = "mix",
) -> DataFrame:
    """Rebalance strata to target mixture proportions, keeping as much
    data as possible: the stratum that binds (min n_s/w_s) is kept
    whole, every other stratum is deterministically downsampled so the
    surviving counts are ∝ ``weights`` — the training-mix solver of a
    data pipeline, computed FROM the data in one tiny aggregation.

    Plan: per-stratum counts (one partial-agg shuffle of a few rows) →
    scalar min ratio (cross join of one row) → broadcast the per-
    stratum thresholds back onto the stream — the big table is scanned
    once and never shuffled. Thresholds are integer hash cutoffs
    (floor(T·w_s/n_s · 65536)), so membership is a pure function of
    the row key: reproducible on any cluster and in the oracle.
    Strata missing from ``weights`` are dropped (weight 0).
    """
    wcol = F.lit(None).cast("double")
    for value, w in sorted(weights.items()):
        wcol = F.when(F.col(stratum) == value, F.lit(float(w))).otherwise(wcol)
    counts = (
        df.groupBy(stratum)
        .agg(F.count("*").alias("n"))
        .withColumn("w", wcol)
        .filter(F.col("w").isNotNull())
    )
    tmin = counts.select(F.min(F.col("n") / F.col("w")).alias("t"))
    # round(), not floor(): the binding stratum's ratio t*w/n is
    # exactly 1.0 mathematically but can land at 0.999... in doubles;
    # floor would then drop bucket 65535 (~1/65536 of the stratum the
    # spec says is kept whole). Nearest-int keeps it whole and is
    # within half a bucket of proportional for every other stratum.
    thresholds = counts.crossJoin(tmin).select(
        stratum,
        F.round(F.col("t") * F.col("w") / F.col("n") * _SPACE)
        .cast("int")
        .alias("thr"),
    )
    return (
        df.join(F.broadcast(thresholds), stratum)
        .filter(_bucket(F.col(key), seed) < F.col("thr"))
        .select(key, stratum, "thr")
    )


def temperature_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    alpha: float = 0.7,
    frac: float = 0.5,
    seed: int | str = "temp",
) -> DataFrame:
    """Temperature sampling over strata (languages/sources): target
    mixture q_s ∝ p_s^alpha — the multilingual rebalancing knob of
    XLM-R / mT5-style pretraining (alpha < 1 upweights rare strata).

    Keeps ~``frac`` of the corpus overall, distributed across strata
    by the temperature-flattened distribution: per-stratum quota
    q_s · frac · N, keep-rate min(1, quota/n_s). Plan: one tiny
    per-stratum count aggregation → scalar normalizer (1-row cross
    joins) → integer hash thresholds broadcast back onto the single
    corpus scan. Membership is a pure function of the row key —
    reproducible on any cluster size and in the oracle.
    """
    counts = df.groupBy(stratum).agg(F.count("*").alias("n"))
    tot = counts.select(F.sum("n").alias("n_total"))
    q = counts.crossJoin(tot).withColumn(
        "q", F.pow(F.col("n") / F.col("n_total"), F.lit(float(alpha)))
    )
    z = q.select(F.sum("q").alias("z"))
    thresholds = q.crossJoin(z).select(
        stratum,
        F.round(
            F.least(
                F.lit(1.0),
                F.col("q") / F.col("z") * float(frac) * F.col("n_total") / F.col("n"),
            )
            * _SPACE
        )
        .cast("int")
        .alias("thr"),
    )
    return (
        df.join(F.broadcast(thresholds), stratum)
        .filter(_bucket(F.col(key), seed) < F.col("thr"))
        .select(key, stratum, "thr")
    )


def temperature_sample_oracle(
    table: str,
    key_expr: str,
    stratum: str,
    alpha: float = 0.7,
    frac: float = 0.5,
    seed: int | str = "temp",
) -> str:
    """DuckDB mirror of ``temperature_sample`` — same expression tree
    (pow → normalize → least → round) so the integer thresholds match
    bit-for-bit."""
    return f"""
        WITH counts AS (
            SELECT {stratum}, count(*) AS n FROM {table} GROUP BY {stratum}
        ),
        tot AS (SELECT sum(n) AS n_total FROM counts),
        q AS (
            SELECT {stratum}, n, n_total,
                   pow(CAST(n AS DOUBLE) / n_total, {float(alpha)}) AS q
            FROM counts CROSS JOIN tot
        ),
        z AS (SELECT sum(q) AS z FROM q),
        thresholds AS (
            SELECT {stratum},
                   CAST(round(least(1.0,
                        q / z.z * {float(frac)} * n_total / n) * {_SPACE})
                        AS INTEGER) AS thr
            FROM q CROSS JOIN z
        )
        SELECT d.{key_expr}, t.{stratum}, t.thr
        FROM {table} d JOIN thresholds t USING ({stratum})
        WHERE {bucket_oracle('d.' + key_expr, seed)} < t.thr
    """


def importance_weights_dsir(
    docs: DataFrame,
    target_value: str = "en",
    n_buckets: int = 1024,
    seed: int | str = "dsir",
) -> DataFrame:
    """DSIR-style importance weights: score each doc by the hashed-unigram
    log-likelihood ratio of a target distribution (rows where
    ``lang == target_value``) vs the whole corpus — the
    data-selection scorer for pretraining mixtures (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling";
    public method).

    Exactness: per-bucket log-ratios are integerized to micro-nats
    (round(ln·1e6) as BIGINT) so the per-document score is an INTEGER
    sum — deterministic under any aggregation order, unlike a float
    sum. Plan: one token explode → (doc, bucket) count shuffle →
    bucket stats (n_buckets rows, broadcast back) → per-doc integer
    sum. The corpus is tokenized once; nothing quadratic, no skew
    (buckets are hash-uniform).
    """
    toks = spread(docs).select(
        "doc_id",
        # when/otherwise, not a bare boolean cast: NULL flag must score
        # as non-target (0), matching SQL CASE ... ELSE 0.
        F.when(F.col("lang") == target_value, 1).otherwise(0).alias("is_t"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    # Count per (doc, token) BEFORE hashing: the partial aggregation
    # combines repeated tokens map-side (~6x fewer shuffled rows on
    # natural text) and md5 then runs once per distinct (doc, token)
    # instead of once per occurrence. Bucket counts are identical, so
    # the oracle is untouched.
    per_tok = toks.groupBy("doc_id", "tok", "is_t").agg(
        F.count("*").alias("n_occ")
    )
    bucket = (
        F.conv(hash_hex(F.col("tok"), seed), 16, 10).cast("bigint")
        % n_buckets
    )
    # occ feeds THREE consumers (bucket stats, their totals, and the
    # final per-doc score join); without an explicit materialization
    # point the whole tokenize→explode→two-aggregation pipeline is
    # re-derived per consumer (the static plan shows zero
    # ReusedExchange). Lazy localCheckpoint computes it once per
    # evaluation; at cluster scale the same role is played by
    # .persist(DISK_ONLY) or a checkpoint dir.
    occ = (
        per_tok.withColumn("bucket", bucket)
        .groupBy("doc_id", "bucket")
        .agg(F.sum("n_occ").alias("n_occ"), F.max("is_t").alias("is_t"))
        .localCheckpoint(eager=False)
    )
    stats = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t") == 1, F.col("n_occ")).otherwise(0)).alias("ct"),
        F.sum("n_occ").alias("cs"),
    )
    totals = stats.select(
        F.sum("ct").alias("nt"), F.sum("cs").alias("ns")
    )
    b = float(n_buckets)
    lr = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("ct") + 1).cast("double") / (F.col("nt") + b)
                )
                - F.log(
                    (F.col("cs") + 1).cast("double") / (F.col("ns") + b)
                )
            )
            * 1e6
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    return (
        occ.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("n_occ") * F.col("lr_micro")).alias("score_micro"),
            F.sum("n_occ").alias("n_tok"),
        )
    )


def split_thresholds(splits: list[tuple[str, float]]) -> list[tuple[str, int]]:
    """Cumulative integer bucket thresholds for named splits — the ONE
    place the float->int rounding happens, shared by ``hash_split`` and
    any oracle SQL, so both engines draw identical boundaries."""
    acc, out = 0.0, []
    for name, frac in splits:
        acc += frac
        out.append((name, int(acc * _SPACE)))
    return out


def hash_split(
    df: DataFrame,
    key: str,
    splits: list[tuple[str, float]],
    seed: int | str = "split",
) -> DataFrame:
    """Deterministic named dataset splits (train/val/test): each row's
    split is a pure function of its key, so the assignment is
    reproducible across engines, cluster sizes, and reruns, rows never
    migrate between splits when the corpus grows (monotone hash
    buckets), and a single scan tags everything — no sampling job per
    split. Fractions must be positive and sum to 1; the last split
    absorbs the rounding remainder of the 16-bit bucket space.
    NULL-keyed rows are dropped (same contract as ``hash_sample`` and
    the sketches: NULL is not a key — without the filter every NULL
    row would silently fall through the when-chain into the LAST
    split, inflating the held-out set)."""
    if abs(sum(f for _, f in splits) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1: {splits}")
    if any(f <= 0 for _, f in splits):
        raise ValueError(f"split fractions must be positive: {splits}")
    ths = split_thresholds(splits)
    b = _bucket(F.col(key), seed)
    expr = None
    for name, th in ths[:-1]:
        expr = F.when(b < th, name) if expr is None else expr.when(b < th, name)
    expr = expr.otherwise(ths[-1][0]) if expr is not None else F.lit(ths[-1][0])
    return df.where(F.col(key).isNotNull()).withColumn("split", expr)
