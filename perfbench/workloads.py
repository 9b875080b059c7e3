"""Workload request generators and their independent result references.

Each generator is a pure function of the seed: the same seed always
yields the same SQL text (or registry entry order). Requests come in
blocks that cover every stratum of the workload's cost once, in a
seed-shuffled order, so a run of any seed sees the same mix of work and
the figures of different seeds stay comparable.
"""

from __future__ import annotations

import random

LINEITEM_COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
)

# lineitem's columns by type. A projection of width w takes the type mix
# of the first w entries of _TYPE_FILL and seed-draws the columns within
# each type, so projections of one width cost alike.
_BY_TYPE = {
    "int": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    "double": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "string": ("l_returnflag", "l_linestatus"),
    "timestamp": ("l_shipdate",),
}
_TYPE_FILL = (
    "int", "double", "string", "int", "double", "timestamp",
    "int", "double", "string", "int", "double",
)


def _columns(rng: random.Random, width: int) -> list[str]:
    mix = _TYPE_FILL[:width]
    cols = [c for t, group in _BY_TYPE.items() for c in rng.sample(group, mix.count(t))]
    return sorted(cols, key=LINEITEM_COLUMNS.index)


# One scan_stream block holds one projection of each width 4..11 (all
# 11 columns at the top). The row share falls as the width grows so that
# every request costs about the same: on a 4-core host a request takes
# ~0.59 s + 0.025 s per 10^5 rows + 0.28 s per 10^6 cells. The block's
# median request is then any of its eight, not the two middle ones of a
# cost ladder, which halves the run-to-run spread of the median.
SCAN_SHARE = {4: 1.0, 5: 0.83, 6: 0.71, 7: 0.62, 8: 0.55, 9: 0.5, 10: 0.45, 11: 0.41}
_SCAN_STRATA = len(SCAN_SHARE)


def scan_requests(seed: int, n: int, n_orders: int, label: str = "scan_stream") -> list[dict]:
    """``n`` lineitem projections with an ``l_orderkey`` range keeping
    41-100% of the rows. ``label`` names an independent request stream."""
    rng = random.Random(f"{label}:{seed}")
    out: list[dict] = []
    while len(out) < n:
        widths = list(SCAN_SHARE)
        rng.shuffle(widths)
        for width in widths:
            frac = SCAN_SHARE[width] * (0.95 + 0.05 * rng.random())
            lo = rng.randrange(0, int(n_orders * (1.0 - frac)) + 1)
            hi = lo + max(1, int(n_orders * frac))
            cols = _columns(rng, width)
            sql = (
                f"SELECT {', '.join(cols)} FROM lineitem "
                f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
            )
            out.append({"sql": sql, "columns": cols, "lo": lo, "hi": hi})
    return out[:n]


# Money as exact cents (the registry's cross-engine exactness rule).
def _cents(expr: str) -> str:
    return f"SUM(CAST(ROUND(({expr}) * 100) AS BIGINT))"


_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _date(rng: random.Random, y0: int, y1: int) -> str:
    return f"{rng.randint(y0, y1)}-{rng.randint(1, 12):02d}-01"


def _stress_count(rng):
    return f"SELECT count(*) AS n FROM lineitem WHERE l_quantity <= {rng.randint(10, 50)}"


def _stress_theta(rng):
    return (
        "SELECT s.s_suppkey, count(*) AS n FROM supplier s JOIN customer c "
        f"ON s.s_acctbal > c.c_acctbal + {rng.randint(0, 2000)} GROUP BY s.s_suppkey"
    )


def _stress_rank(rng):
    return (
        "SELECT * FROM (SELECT c_nationkey, c_custkey, rank() OVER "
        "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rk FROM customer "
        f"WHERE c_mktsegment = '{rng.choice(_SEGMENTS)}') WHERE rk = 1"
    )


def _q1(rng):
    ep, disc = "l_extendedprice", "l_extendedprice * (1 - l_discount)"
    return (
        f"SELECT l_returnflag, l_linestatus, {_cents('l_quantity')} AS sum_qty_c, "
        f"{_cents(ep)} AS sum_base_c, {_cents(disc)} AS sum_disc_c, "
        f"{_cents(disc + ' * (1 + l_tax)')} AS sum_charge_c, count(*) AS count_order "
        f"FROM lineitem WHERE l_shipdate <= DATE '{_date(rng, 1999, 2001)}' "
        "GROUP BY l_returnflag, l_linestatus"
    )


def _q3(rng):
    d = _date(rng, 1996, 2000)
    return (
        "SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, "
        f"{_cents('l_extendedprice * (1 - l_discount)')} AS revenue_c "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE c_mktsegment = '{rng.choice(_SEGMENTS)}' "
        f"AND o_orderdate < DATE '{d}' AND l_shipdate > DATE '{d}' "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue_c DESC, l_orderkey LIMIT 10"
    )


def _q5(rng):
    y = rng.randint(1995, 2000)
    return (
        f"SELECT n_name, {_cents('l_extendedprice * (1 - l_discount)')} AS revenue_c "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{rng.choice(_REGIONS)}' "
        f"AND o_orderdate >= DATE '{y}-01-01' AND o_orderdate < DATE '{y + 1}-01-01' "
        "GROUP BY n_name"
    )


def _q6(rng):
    y, d = rng.randint(1995, 2000), rng.randint(2, 9)
    return (
        f"SELECT {_cents('l_extendedprice * l_discount')} AS revenue_c FROM lineitem "
        f"WHERE l_shipdate >= DATE '{y}-01-01' AND l_shipdate < DATE '{y + 1}-01-01' "
        f"AND l_discount BETWEEN {(d - 1) / 100:.2f} AND {(d + 1) / 100:.2f} "
        f"AND l_quantity < {rng.randint(24, 25)}"
    )


def _q10(rng):
    y, m = rng.randint(1995, 2000), rng.choice((1, 4, 7, 10))
    return (
        "SELECT c_custkey, c_name, "
        f"{_cents('l_extendedprice * (1 - l_discount)')} AS revenue_c, c_acctbal, n_name "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE o_orderdate >= DATE '{y}-{m:02d}-01' "
        f"AND o_orderdate < DATE '{y + (m + 3 > 12)}-{(m + 2) % 12 + 1:02d}-01' "
        "AND l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue_c DESC, c_custkey LIMIT 20"
    )


MIX_SHAPES = {
    "stress_count": _stress_count,
    "stress_theta": _stress_theta,
    "stress_rank": _stress_rank,
    "tpch_q1": _q1,
    "tpch_q3": _q3,
    "tpch_q5": _q5,
    "tpch_q6": _q6,
    "tpch_q10": _q10,
}


def mix_requests(seed: int, n: int, label: str = "mix_concurrent") -> list[dict]:
    """``n`` requests; every block of eight holds each shape once.
    ``label`` names an independent request stream."""
    rng = random.Random(f"{label}:{seed}")
    out: list[dict] = []
    while len(out) < n:
        shapes = list(MIX_SHAPES)
        rng.shuffle(shapes)
        out.extend({"shape": s, "sql": MIX_SHAPES[s](rng)} for s in shapes)
    return out[:n]


# Requests per block: every stratum (scan) or shape (mix) once. A
# pipeline_ops block is a whole number of passes over its entries.
BLOCK = {"scan_stream": _SCAN_STRATA, "mix_concurrent": len(MIX_SHAPES)}


def pipeline_requests(seed: int, n: int, entries: list[str]) -> list[dict]:
    """``n`` registry entries: whole passes over ``entries``, each pass
    in a seed-shuffled order."""
    rng = random.Random(f"pipeline_ops:{seed}")
    out: list[dict] = []
    while len(out) < n:
        order = list(entries)
        rng.shuffle(order)
        out.extend({"entry": e} for e in order)
    return out[:n]


# -- independent references ----------------------------------------------


class ScanReference:
    """Expected row count and per-column checksums of a scan_stream
    request, from pyarrow over the same parquet (no Spark involved)."""

    def __init__(self, lineitem_path: str) -> None:
        import pyarrow.parquet as pq

        self.table = pq.read_table(lineitem_path)
        self.keys = self.table.column("l_orderkey").to_numpy()

    def expect(self, req: dict) -> tuple[int, dict]:
        from perfbench.measure import column_sums

        import numpy as np

        idx = np.flatnonzero((self.keys >= req["lo"]) & (self.keys < req["hi"]))
        part = self.table.select(req["columns"]).take(idx)
        return part.num_rows, column_sums(part)


class DuckReference:
    """DuckDB over the same parquet files, for mix_concurrent."""

    def __init__(self, sf_dir: str, tables) -> None:
        import duckdb

        from datafusion_dist_spark.catalog import table_path

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        self._memo: dict[str, str] = {}

    def expect(self, sql: str) -> str:
        from perfbench.measure import table_hash

        if sql not in self._memo:
            self._memo[sql] = table_hash(self.con.execute(sql).fetch_arrow_table())
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()
