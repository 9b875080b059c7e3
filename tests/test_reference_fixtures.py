"""The reference's semantics fixtures, golden-row exact (FIXTURES.md).

Recreates the two MemTables from ``integration-tests/src/data.rs``
(2 partitions each, same rows — partitioning included because it drove
the reference's plan shapes) and runs the sqllogictest corpus queries
against golden outputs taken from the same semantics the ``.slt`` file
pins (``integration-tests/tests/sqllogictest.slt``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fixtures(spark):
    simple = spark.createDataFrame(
        [("Alice", 25), ("Bob", 30)], "name string, age int"
    ).repartition(2)
    simple.createOrReplaceTempView("simple")
    file_grid = spark.createDataFrame(
        [
            (1, "older", 100),
            (1, "latest", 200),
            (1, "missing", None),
            (2, "only_null", None),
            (3, "latest3", 50),
            (3, "older3", 40),
        ],
        "id int, file_name string, view_updated long",
    ).repartition(2)
    file_grid.createOrReplaceTempView("file_grid")
    return spark


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_full_scan(fixtures):
    # slt:1-6
    got = rows(fixtures.sql("SELECT name, age FROM simple ORDER BY name"))
    assert got == [("Alice", 25), ("Bob", 30)]


def test_source_partitioning(fixtures):
    # data.rs:42-52: 2 partitions drive plan shapes (DataSourceExec partitions=2)
    assert fixtures.table("simple").rdd.getNumPartitions() == 2


def test_cross_join(fixtures):
    # slt:8-15
    got = rows(
        fixtures.sql(
            """SELECT t1.name, t2.name FROM simple t1 CROSS JOIN simple t2
               ORDER BY 1, 2"""
        )
    )
    assert got == [
        ("Alice", "Alice"),
        ("Alice", "Bob"),
        ("Bob", "Alice"),
        ("Bob", "Bob"),
    ]


def test_theta_join(fixtures):
    # slt:17-21: t1.age > t2.age → NestedLoopJoin
    got = rows(
        fixtures.sql(
            """SELECT t1.name, t1.age, t2.name, t2.age
               FROM simple t1 JOIN simple t2 ON t1.age > t2.age"""
        )
    )
    assert got == [("Bob", 30, "Alice", 25)]


def test_equi_self_join(fixtures):
    # slt:23-49 (partitioned + collect-left shapes, same result)
    got = rows(
        fixtures.sql(
            """SELECT t1.name, t2.age FROM simple t1
               JOIN simple t2 ON t1.name = t2.name ORDER BY t1.name"""
        )
    )
    assert got == [("Alice", 25), ("Bob", 30)]


def test_union_distinct(fixtures):
    # slt:51-56
    got = rows(
        fixtures.sql(
            "SELECT name FROM simple UNION SELECT name FROM simple ORDER BY name"
        )
    )
    assert got == [("Alice",), ("Bob",)]


def test_distributed_sort(fixtures):
    # slt:58-63
    got = rows(fixtures.sql("SELECT age FROM simple ORDER BY age DESC"))
    assert got == [(30,), (25,)]


def test_filter_no_match_then_count(fixtures):
    # slt:86-88 + slt:73-88: empty filter; COUNT(*) over empty → 0
    assert rows(fixtures.sql("SELECT * FROM simple WHERE name = 'nonexistent'")) == []
    assert rows(
        fixtures.sql("SELECT count(*) FROM simple WHERE name = 'nonexistent'")
    ) == [(0,)]


def test_groupby_null_skipping_aggregates(fixtures):
    # slt:127-134: SUM/MIN/MAX/COUNT skip NULLs
    got = rows(
        fixtures.sql(
            """SELECT id, count(view_updated), sum(view_updated),
                      min(view_updated), max(view_updated)
               FROM file_grid GROUP BY id ORDER BY id"""
        )
    )
    assert got == [
        (1, 2, 300, 100, 200),
        (2, 0, None, None, None),
        (3, 2, 90, 40, 50),
    ]


def test_null_group_key_forms_own_group(fixtures):
    # slt:136-147
    got = rows(
        fixtures.sql(
            """SELECT view_updated, count(*) FROM file_grid
               GROUP BY view_updated ORDER BY view_updated ASC NULLS LAST"""
        )
    )
    assert got == [(40, 1), (50, 1), (100, 1), (200, 1), (None, 2)]


def test_global_aggregate_no_groupby(fixtures):
    # slt:149-153
    got = rows(
        fixtures.sql(
            "SELECT count(*), count(view_updated), sum(view_updated) FROM file_grid"
        )
    )
    assert got == [(6, 4, 390)]


def test_having(fixtures):
    # slt:102-107
    got = rows(
        fixtures.sql(
            """SELECT id, count(*) AS n FROM file_grid
               GROUP BY id HAVING count(*) > 1 ORDER BY id"""
        )
    )
    assert got == [(1, 3), (3, 2)]


def test_groupby_empty_input(fixtures):
    # slt:155-158
    assert (
        rows(
            fixtures.sql(
                "SELECT id, count(*) FROM file_grid WHERE id = 999 GROUP BY id"
            )
        )
        == []
    )


def test_window_rank_top1_per_group(fixtures):
    # slt:65-71: the reference's signature window query, incl. the NULL
    # row winning rank 1 in a group where every value is NULL.
    got = rows(
        fixtures.sql(
            """SELECT id, file_name, view_updated FROM (
                   SELECT *, rank() OVER (
                       PARTITION BY id ORDER BY view_updated DESC NULLS LAST
                   ) AS rk FROM file_grid
               ) WHERE rk = 1 ORDER BY id"""
        )
    )
    assert got == [(1, "latest", 200), (2, "only_null", None), (3, "latest3", 50)]


def test_nulls_first_last_orderings(fixtures):
    # slt:170-204
    asc_first = rows(
        fixtures.sql(
            """SELECT file_name FROM file_grid
               ORDER BY view_updated ASC NULLS FIRST, file_name"""
        )
    )
    assert asc_first == [
        ("missing",),
        ("only_null",),
        ("older3",),
        ("latest3",),
        ("older",),
        ("latest",),
    ]
    desc_last = rows(
        fixtures.sql(
            """SELECT file_name FROM file_grid
               ORDER BY view_updated DESC NULLS LAST, file_name"""
        )
    )
    assert desc_last == [
        ("latest",),
        ("older",),
        ("latest3",),
        ("older3",),
        ("missing",),
        ("only_null",),
    ]


def test_limit_offset_topk(fixtures):
    # slt:206-243
    assert rows(
        fixtures.sql(
            "SELECT file_name FROM file_grid ORDER BY id, file_name LIMIT 2"
        )
    ) == [("latest",), ("missing",)]
    assert rows(
        fixtures.sql(
            "SELECT file_name FROM file_grid ORDER BY id, file_name LIMIT 2 OFFSET 2"
        )
    ) == [("older",), ("only_null",)]
    assert rows(fixtures.sql("SELECT * FROM file_grid LIMIT 0")) == []
    # limit-in-subquery then aggregate
    assert rows(
        fixtures.sql(
            """SELECT count(*) FROM (
                   SELECT id FROM file_grid ORDER BY id LIMIT 4
               )"""
        )
    ) == [(4,)]


def test_constant_projection(fixtures):
    # slt:249-264
    assert rows(fixtures.sql("SELECT 1 FROM simple")) == [(1,), (1,)]


def test_outer_join_reference_gap_covered(fixtures):
    # slt:160-164: the reference DOCUMENTS wrong LEFT JOIN results
    # through its dist path (left-preserved rows lost) and defers the
    # fix. Our engine must get them right.
    got = rows(
        fixtures.sql(
            """SELECT g.id, g.file_name, s.name
               FROM file_grid g LEFT JOIN simple s ON g.id = s.age
               ORDER BY g.id, g.file_name"""
        )
    )
    assert got == [
        (1, "latest", None),
        (1, "missing", None),
        (1, "older", None),
        (2, "only_null", None),
        (3, "latest3", None),
        (3, "older3", None),
    ]


def test_slt_tail_single_and_multi_column_batches(fixtures):
    """slt:265-300: the file's final block — empty-filter constant
    projection, single-column ordered select, nullable int with NULLS
    FIRST plus a secondary key, and an explicit (non-*) projection —
    golden rows verbatim."""
    # slt:266-269: SELECT 1 ... WHERE id = 999 → empty
    assert rows(fixtures.sql("SELECT 1 FROM file_grid WHERE id = 999")) == []
    # slt:271-276: single string column, explicit order
    assert rows(fixtures.sql("SELECT name FROM simple ORDER BY name")) == [
        ("Alice",),
        ("Bob",),
    ]
    # slt:278-288: nullable int, NULLS FIRST + secondary key
    got = rows(
        fixtures.sql(
            "SELECT view_updated FROM file_grid "
            "ORDER BY view_updated NULLS FIRST, file_name ASC"
        )
    )
    assert got == [(None,), (None,), (40,), (50,), (100,), (200,)]
    # slt:290-300: explicit projection (projection pushdown path)
    got = rows(
        fixtures.sql(
            "SELECT id, file_name, view_updated FROM file_grid "
            "ORDER BY id ASC, file_name ASC"
        )
    )
    assert got == [
        (1, "latest", 200),
        (1, "missing", None),
        (1, "older", 100),
        (2, "only_null", None),
        (3, "latest3", 50),
        (3, "older3", 40),
    ]
