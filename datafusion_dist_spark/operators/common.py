"""Shared operator helpers."""

from __future__ import annotations

import re
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EXCHANGE_RE = re.compile(r"Exchange\b")


# Hard fence for explicitly-pinned QUADRATIC operator configurations
# (uncapped pair listings, under-provisioned fixed blocking constants).
# These configurations exist as hash-checked oracle anchors — the
# control arms the adaptive/capped twins are measured against — and
# their plans deliberately do NOT survive 100x growth. The bound sits
# just above the largest scale-rehearsal corpus (150k docs at the f30
# sweep; rehearsals measure the quadratic ON PURPOSE under factor²
# budgets) and far below fact scale, so a caller pointing a pinned
# form at real input fails fast with the twin's name instead of
# stalling in an m²-pair stage (r7 VERDICT task 2 — the executable
# form of what was previously only a docstring warning).
QUADRATIC_PIN_MAX_ROWS = 250_000


def quadratic_pin_guard(n_rows: int, what: str, twin: str) -> None:
    """Raise when a pinned-quadratic configuration is applied beyond
    the oracle-anchor corpus bound. ``what`` names the offending
    config, ``twin`` the scale-safe alternative (adaptive/capped
    form + its registry entry)."""
    if n_rows > QUADRATIC_PIN_MAX_ROWS:
        raise ValueError(
            f"{what} on a {n_rows}-row corpus exceeds the "
            f"{QUADRATIC_PIN_MAX_ROWS}-row quadratic-anchor contract "
            f"(this configuration is the hash-checked oracle control "
            f"arm; its pair work does not survive fact-scale input). "
            f"Use {twin}."
        )


# The session cache: the ONE owner of results reused across queries
# (persisted pair sets and plan-keyed tables, memoized IVF probes).
_SESSION_CACHE: dict[tuple, object] = {}
_SESSION_CACHE_LOCK = threading.Lock()
SESSION_CACHE_PER_NAME = 2
_CACHE_HITS = {"n": 0}


def session_cache_hits() -> int:
    """Monotonic count of session-cache hits. Telemetry only (bench
    ``warm`` flags, perfbench ``operators.cache_hits``); never read by
    query logic."""
    return _CACHE_HITS["n"]


def _release(value, keep=None) -> None:
    """Unpersist a cached DataFrame — unless it is semantically
    ``keep``: Spark's CacheManager holds ONE copy per plan, so
    unpersisting an equal plan would drop ``keep``'s storage too."""
    try:
        if isinstance(value, DataFrame) and (
            keep is None or not value.sameSemantics(keep)
        ):
            value.unpersist()
    except Exception:  # its session may be gone
        pass


def session_cache(spark, name: str, params: tuple, build, same=None):
    """Return the session-cached value for ``(name, *params)``,
    building it on a miss. DataFrame values are persisted.

    - Key: ``(applicationId, name, *params)``. ``same``, when given,
      must also accept a cached value before it is served (plan-keyed
      entries confirm their ``semanticHash`` key with
      ``sameSemantics``); a rejected value is replaced.
    - Bound: at most ``SESSION_CACHE_PER_NAME`` entries per name,
      first in first out. Eviction unpersists, so two alternating
      consumers of one name both stay warm without pinning more.
    - Stale sessions: the first miss from a new ``applicationId``
      unpersists and drops every entry of any other application.
    - Lost race: ``build`` runs OUTSIDE the lock (builds run Spark
      jobs and may re-enter the cache). When two callers miss the
      same key, the first insert wins, every caller gets the winner,
      and the loser's copy is unpersisted (unless it is the same plan,
      which shares the winner's storage).
    - Hits bump :func:`session_cache_hits` under the lock.
    """
    app = spark.sparkContext.applicationId
    key = (app, name, *params)

    def cached():
        v = _SESSION_CACHE.get(key)
        return v if v is not None and (same is None or same(v)) else None

    with _SESSION_CACHE_LOCK:
        first = cached()
        if first is not None:
            _CACHE_HITS["n"] += 1
            return first
    value = build()
    if isinstance(value, DataFrame):
        value = value.persist()
    with _SESSION_CACHE_LOCK:
        first = cached()
        if first is not None:
            winner, dropped = first, [value]
        else:
            dropped = [
                _SESSION_CACHE.pop(k)
                for k in list(_SESSION_CACHE)
                if k[0] != app or k == key
            ]
            mine = [k for k in _SESSION_CACHE if k[1] == name]
            evict = max(0, len(mine) + 1 - SESSION_CACHE_PER_NAME)
            dropped += [_SESSION_CACHE.pop(k) for k in mine[:evict]]
            winner = _SESSION_CACHE[key] = value
    for v in dropped:
        _release(v, keep=winner)
    return winner


def cached_plan(name: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` through :func:`session_cache` under its plan: a
    semantically identical repeat call gets the warm table back
    instead of unpersisting and rebuilding it."""
    return session_cache(
        df.sparkSession,
        name,
        (df.semanticHash(),),
        lambda: df,
        same=df.sameSemantics,
    )


def forget(spark, name: str, params: tuple = ()) -> None:
    """Drop one :func:`session_cache` entry and unpersist it."""
    with _SESSION_CACHE_LOCK:
        value = _SESSION_CACHE.pop(
            (spark.sparkContext.applicationId, name, *params), None
        )
    _release(value)


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    rn_col: str = "rn",
    partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Distributed EXACT global row_number over a total order — the
    scalable replacement for ``Window.orderBy(...)`` with no
    partitionBy, which Spark executes by moving EVERY row through one
    task ("No Partition Defined for Window operation"): a global sort
    is fine distributed, but a global window is single-partition by
    construction and dies at 100 TB.

    Two-pass ranking over DETERMINISTIC range buckets: approx-quantile
    boundaries of the leading order column (one narrow pass) define a
    bucket id that is a pure function of the row, so the counts pass
    and the caller's output pass assign identical buckets without any
    persisted intermediate (the r6 form range-repartitioned and cached
    the shuffle to keep ``spark_partition_id`` stable between passes —
    a session-lifetime executor-storage hold, ADVICE r6). Count rows
    per bucket (one tiny job, ≤ partitions rows to the driver), then
    rank within each bucket and add the broadcast prefix offset.

    Exactness never depends on boundary quality: any monotone split of
    the leading column preserves the total order across buckets, and
    the in-bucket window finishes the order with the remaining columns.
    Contract: ``order_cols`` are ASCENDING and form a total order
    (callers append a unique tiebreak column); the leading column must
    be numeric (approxQuantile's domain — both current callers rank by
    a score/key double or long). A heavily-tied leading column only
    degrades bucket BALANCE, not correctness.

    DETERMINISM CONTRACT (r7 ADVICE, stated executable): because the
    persist-free form recomputes the upstream plan in the counts pass
    and again in the caller's output pass, the plan must produce the
    SAME rows both times — a non-deterministic column feeding the
    order (``rand()``, ``monotonically_increasing_id()``) or input
    files rewritten between the two actions violates the contract.
    Callers with such inputs must ``persist()`` the input themselves
    (pin the rows, not this helper's internals) before calling. The
    violation is fenced in-plan, not just documented: a row whose
    bucket the counts pass never saw hits ``raise_error`` at output
    time instead of silently carrying a NULL rank (rows that merely
    MOVE between already-seen buckets under recomputation are
    inherently undetectable without a third pass — the fence catches
    the new-bucket shape, tests pin the totals-equality shape for the
    in-repo callers).

    Cost model, deliberately: THREE narrow scans of the upstream plan
    (quantile, counts, the caller's output pass) and zero retained
    state. The alternative — persist the projection once and read it
    thrice — is what r6 shipped, and its cache had session-lifetime
    executor-storage residency with no safe unpersist point (ADVICE
    r6): at 100 TB you cannot pin the projection in memory anyway, so
    recomputing a narrow columnar scan IS the scalable trade. Callers
    that want one-scan behavior can persist their input themselves and
    release it when THEY are done.

    Returns ``(df_with_rn, total_row_count)`` — callers that derive
    quantile/decile boundaries need the total anyway, and it falls out
    of the counts pass for free."""
    from pyspark.sql import Window

    spark = df.sparkSession
    # Bucket-count cap: the window stage's parallelism is the number of
    # distinct bucket ids, but the per-row bucket assignment below
    # costs O(bounds) comparisons — 4096 buckets is plenty of
    # parallelism headroom while keeping that scan bounded.
    n_part = min(partitions or spark.sparkContext.defaultParallelism, 4096)
    lead = order_cols[0]
    probs = [i / n_part for i in range(1, n_part)]
    bounds = sorted(
        set(
            df.select(lead.cast("double").alias("_gok0")).stat.approxQuantile(
                "_gok0", probs, 1.0 / (4 * n_part)
            )
        )
    )
    # ONE compact expression (array literal + higher-order filter), not
    # an O(bounds)-term chained add — thousands of nested Add/Coalesce
    # nodes would blow whole-stage codegen's method-size limit at real
    # cluster parallelism. A NULL lead makes every predicate NULL, the
    # filter keeps none, and size() = bucket 0 — matching Spark's
    # ascending NULLS FIRST default inside the window.
    if bounds:
        bucket = F.size(
            F.filter(
                F.array(*[F.lit(b) for b in bounds]),
                lambda b: lead > b,
            )
        )
    else:
        bucket = F.lit(0)
    bucketed = df.withColumn("_pid", bucket)
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in bucketed.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    if not counts:
        return df.withColumn(rn_col, F.lit(1).cast("long")), 0
    offsets: dict[int, int] = {}
    total = 0
    for pid, cnt in counts:
        offsets[int(pid)] = total
        total += int(cnt)
    omap = F.create_map(
        *[lit for pid, off in offsets.items() for lit in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    # Determinism fence: a bucket id the counts pass never saw has no
    # offset — raise instead of emitting a silent NULL rank (see the
    # determinism contract above). Costs nothing when the contract
    # holds (one null check per row inside codegen).
    off = omap[F.col("_pid")]
    off = F.when(
        off.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "global_row_number: output-pass bucket "
                ),
                F.col("_pid").cast("string"),
                F.lit(
                    " was never seen by the counts pass - the upstream "
                    "plan changed between the two actions (rand()/"
                    "monotonically_increasing_id in the order, or input "
                    "files rewritten mid-flight, violate the determinism "
                    "contract; persist() the input before calling)"
                ),
            )
        ).cast("long"),
    ).otherwise(off)
    out = bucketed.withColumn(
        rn_col, F.row_number().over(w).cast("long") + off
    ).drop("_pid")
    return out, total


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition a small-file input to full parallelism before a
    CPU-heavy per-row transform.

    A corpus read from one small parquet file arrives in 1-2 splits, so
    an expensive downstream pipeline (shingling, hashing, Pandas UDFs)
    would run on 1-2 cores. Round-robin keeps the partitions balanced
    regardless of key skew.

    At 100 TB the input already arrives in thousands of splits, so the
    repartition is skipped entirely: shuffling the raw text/vector
    payload before shingling/hashing would be the single biggest
    avoidable cost at scale. Only an under-parallel input (fewer
    partitions than the target) pays the shuffle.

    Laziness discipline: the partition-count decision must not execute
    anything at plan-build time. Under AQE, ``df.rdd`` forces
    ``getFinalPhysicalPlan()``, which EXECUTES every shuffle stage in
    the input plan and throws the work away — so that probe is only
    taken for shuffle-free plans (where it is pure planning, no jobs).
    A plan that already contains a shuffle exchange emerges with
    ``spark.sql.shuffle.partitions`` (or AQE-coalesced) partitions —
    already parallel — and passes through unprobed.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    # Physical-plan *text* is lazy to produce (explain never runs
    # jobs). ANY exchange (shuffle or broadcast) makes the .rdd probe
    # eager under AQE, and a shuffle output is already parallel — so
    # exchange-bearing plans pass through unprobed.
    plan = df._jdf.queryExecution().executedPlan().toString()
    if _EXCHANGE_RE.search(plan):
        return df
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
