"""Join strategies beyond the built-ins: skew salting, as-of.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
session.py) handles most skew automatically; explicit salting is the
tool for the pathological case AQE can't fix — a hot key on BOTH the
probe and a large build side, or aggregations on a hot key. Pinned here
as a first-class operator with a correctness test proving it equals the
plain join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(df: DataFrame, salt: int) -> Column:
    """The retry-stable salt expression ``salted_join`` assigns to the
    skewed side: ``pmod(xxhash64(<all hashable columns>), salt)`` — a
    pure function of row content, so every (re)execution of a task
    deals the same row to the same salt bucket. Exposed separately so
    tests can pin the per-bucket row counts under injected task retry.

    Map-bearing columns are excluded — at ANY nesting depth
    (array<map<...>>, struct fields), since Spark's hash expressions
    reject MapType wherever it appears; EXACT duplicate rows
    necessarily share a bucket, so a
    hot key whose rows are byte-identical still lands on one reducer
    — carry any unique-ish column (an id, a timestamp) on the salted
    side for full spread. Content-determinism is the deliberate
    trade: a rand() salt spreads duplicates but re-deals buckets on
    task retry / AQE re-planning, making stage row counts
    nondeterministic."""
    hashable = [c for c, t in df.dtypes if "map<" not in t]
    if not hashable:
        raise ValueError(
            "salt_column: no hashable (non-map) columns to derive a "
            "deterministic salt from"
        )
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in hashable]), F.lit(salt)
    ).cast("int")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting: the (skewed) left side gets a salt
    in [0, salt) derived from a pure hash of the whole row; the right
    side is replicated ``salt`` times with every salt value. The hot
    key's rows spread over ``salt`` reducers instead of one straggler
    task.

    The salt is ``pmod(xxhash64(<all hashable left columns>), salt)``
    — a pure function of row content, NOT ``F.rand``: a task retry or
    an AQE re-coalesce re-deals ``rand`` values (rand is
    partition-dependent), making intermediate stage row-counts
    nondeterministic and skew diagnosis noisy. A row-content hash
    assigns the same salt on every (re)execution, so per-salt bucket
    sizes are a stable property of the data. The trade: EXACT
    duplicate rows share a bucket, so the left side must carry some
    per-row-distinct column (an id, a timestamp — anything beyond the
    bare join key) for the hot key to actually spread; a left side
    projected down to the join key alone would make the salt a pure
    key function (salting silently becomes a no-op while still paying
    the replicated right side), so that call shape is rejected.

    Cost model: right side shuffle volume × salt — use for a moderate
    right side against a skewed-heavy left. Result is identical to the
    plain join for inner / left joins (verified in
    tests/test_operators.py). Right/full outer are rejected: the right
    side is replicated per salt value, so an unmatched right row would
    surface ``salt`` null-padded times instead of once — salting that
    direction requires salting the other side instead.
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti", "cross"):
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched "
            "replicated-side rows; salt the other side instead"
        )
    non_key = [
        c for c, t in left.dtypes
        if c != left_key and "map<" not in t
    ]
    if not non_key:
        raise ValueError(
            "salted_join: the left side carries only the join key, so "
            "a content-derived salt would be a pure key function and "
            "every hot-key row would share one bucket (salting as a "
            "no-op); keep a per-row-distinct column on the salted side"
        )
    salted_left = left.withColumn("_salt", salt_column(left, salt))
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt")
    salted_right = right.select("*", salts)
    joined = salted_left.join(
        salted_right,
        (salted_left[left_key] == salted_right[right_key])
        & (salted_left["_salt"] == salted_right["_salt"]),
        how,
    )
    return joined.drop("_salt")

