"""Sources/sinks + physical-layout features (bucketing, partitioned
writes) — the storage-side half of the 100 TB design.

The reference has no file sinks (results stream to the client only,
SURVEY §2.C sinks row); Spark's writers are part of this engine's
surface, so they're pinned here: round-trip fidelity, partition
pruning on partitioned layouts, and bucketed joins eliminating the
shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_dist_spark.catalog import load_table
from datafusion_dist_spark.plans import formatted_plan, plan_facts
from tests.conftest import SF_DIR


def test_parquet_roundtrip(spark, tmp_path):
    out = str(tmp_path / "nation_out")
    n = load_table(spark, SF_DIR, "nation")
    n.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    out = str(tmp_path / "orders_by_status")
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = formatted_plan(back)
    # Partition pruning: the filter is resolved against directory
    # partitions, not data (PartitionFilters, zero PushedFilters rows).
    assert "PartitionFilters" in plan
    assert back.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key co-locates matching rows at
    write time: the join plan has ZERO exchanges — at 100 TB this is
    the difference between re-shuffling the fact table per query and
    reading pre-colocated buckets."""
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
        "li_bucketed"
    )
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        "o_bucketed"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_bucketed").join(
            spark.table("o_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        facts = plan_facts(joined)
        assert facts["n_exchanges"] == 0, (
            f"bucketed join must not shuffle: {facts}"
        )
        # Same result as the plain shuffle join.
        assert joined.count() == li.join(
            o, li.l_orderkey == o.o_orderkey
        ).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_csv_json_sources_roundtrip(spark, tmp_path):
    n = load_table(spark, SF_DIR, "nation")
    csv_path, json_path = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    n.write.option("header", "true").csv(csv_path)
    n.write.json(json_path)
    csv_back = spark.read.option("header", "true").schema(n.schema).csv(csv_path)
    json_back = spark.read.schema(n.schema).json(json_path)
    expect = sorted(map(tuple, n.collect()))
    assert sorted(map(tuple, csv_back.collect())) == expect
    assert sorted(map(tuple, json_back.collect())) == expect


def test_result_sink_is_arrow_stream(spark):
    """Reference sink = Arrow stream to the client (server.rs:109-141);
    engine analog: toArrow batches carry the full result."""
    df = load_table(spark, SF_DIR, "region").orderBy("r_regionkey")
    table = df.toArrow()
    assert table.num_rows == 5
    assert table.column_names[0] == "r_regionkey"


def test_python_datasource_synth_partitioned(spark):
    """Custom Python DataSource (the reference's TableProvider analog,
    integration-tests/app/src/table.rs:14-61): partition-parallel
    deterministic generation."""
    from datafusion_dist_spark.sources.python_ds import register_sources

    register_sources(spark)
    df = (
        spark.read.format("ddspark_synth")
        .option("partitions", "8")
        .option("rows_per_partition", "50")
        .option("seed", "s1")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 400
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, (
        spark.read.format("ddspark_synth")
        .option("partitions", "8")
        .option("rows_per_partition", "50")
        .option("seed", "s1")
        .load()
    ).collect()))
    assert a == b, "same seed must reproduce identical data"
    from pyspark.sql import functions as F
    assert df.filter(F.col("part_id") == 3).count() == 50


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    n = load_table(spark, SF_DIR, "nation")
    out = str(tmp_path / "nation_orc")
    n.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(F.col("n_regionkey") == 1)
    expect = sorted(
        map(tuple, n.filter(F.col("n_regionkey") == 1).collect())
    )
    assert sorted(map(tuple, back.collect())) == expect
    plan = back._jdf.queryExecution().executedPlan().toString()
    # ORC scan must receive the pushed filter like parquet does.
    assert "PushedFilters" in plan and "n_regionkey" in plan


def test_text_source_reads_lines(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    rows = spark.read.text(str(p)).collect()
    assert sorted(r.value for r in rows) == ["alpha", "beta", "gamma"]


def test_ctas_insert_drop_lifecycle(spark, tmp_path):
    """Catalog DDL lifecycle over parquet: CTAS with explicit LOCATION,
    INSERT INTO appends, DROP TABLE removes the catalog entry. The
    SQL-warehouse surface a reference user would expect from the
    FlightSQL entry point."""
    loc = str(tmp_path / "nation_ctas")
    n = load_table(spark, SF_DIR, "nation")
    n.createOrReplaceTempView("_nation_src")
    try:
        spark.sql(
            f"CREATE TABLE nation_ctas USING parquet LOCATION '{loc}' "
            "AS SELECT n_nationkey, n_name FROM _nation_src"
        )
        base = spark.sql("SELECT count(*) AS c FROM nation_ctas").head().c
        assert base == n.count()
        spark.sql(
            "INSERT INTO nation_ctas "
            "SELECT n_nationkey + 100, concat('X_', n_name) "
            "FROM _nation_src WHERE n_nationkey < 5"
        )
        after = spark.sql("SELECT count(*) AS c FROM nation_ctas").head().c
        assert after == base + min(5, base)
        got = spark.sql(
            "SELECT n_name FROM nation_ctas WHERE n_nationkey >= 100 "
            "ORDER BY n_nationkey"
        ).collect()
        assert all(r.n_name.startswith("X_") for r in got)
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_ctas")
        spark.catalog.dropTempView("_nation_src")
    assert not spark.catalog.tableExists("nation_ctas")


def test_load_table_sets_excluded_rules_once(spark, monkeypatch):
    """``pin_session_confs`` appends its optimizer rule to
    ``excludedRules`` once: a later ``load_table`` finds it in place
    and makes no ``RuntimeConfig.set`` round trip for that key."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    sets = []
    real_set = RuntimeConfig.set

    def counting_set(self, k, v):
        if k == key:
            sets.append(v)
        return real_set(self, k, v)

    spark.conf.unset(key)
    monkeypatch.setattr(RuntimeConfig, "set", counting_set)
    try:
        load_table(spark, SF_DIR, "nation")
        assert len(sets) == 1, sets
        load_table(spark, SF_DIR, "nation")
        assert len(sets) == 1, sets
    finally:
        monkeypatch.undo()
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_ship_package_reuses_one_zip_per_code_version(spark, tmp_path, monkeypatch):
    """The shipped package zip is named by a hash of the sources, so
    two ships of the same tree (from two applications or processes)
    leave one zip in the temp dir, not one per driver process."""
    import os
    import tempfile
    import zipfile

    from datafusion_dist_spark import catalog

    shipped = []
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    monkeypatch.setattr(catalog, "_SHIPPED_APPS", set())
    catalog._ship_package(spark)
    # A second driver process: new pid, nothing shipped yet.
    other_pid = os.getpid() + 1
    monkeypatch.setattr(os, "getpid", lambda: other_pid)
    catalog._SHIPPED_APPS.clear()
    catalog._ship_package(spark)
    zips = list(tmp_path.iterdir())
    assert len(zips) == 1, zips
    assert shipped == [str(zips[0])] * 2
    with zipfile.ZipFile(zips[0]) as z:
        assert "datafusion_dist_spark/catalog.py" in z.namelist()
