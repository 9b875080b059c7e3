"""Sources/sinks + physical-layout features (bucketing, partitioned
writes) — the storage-side half of the 100 TB design.

The reference has no file sinks (results stream to the client only,
SURVEY §2.C sinks row); Spark's writers are part of this engine's
surface, so they're pinned here: round-trip fidelity, partition
pruning on partitioned layouts, and bucketed joins eliminating the
shuffle entirely.
"""

from __future__ import annotations

import pytest
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


def test_arrow_dir_writer_manifest_and_roundtrip(spark, tmp_path):
    """ddspark_arrow_dir sink: per-task LZ4 Arrow IPC files + a
    driver-side _MANIFEST naming exactly the committed files (the
    task-commit/job-commit protocol of Spark's file sinks, over the
    reference's wire format). Read-back through the manifest must
    reproduce the rows exactly; a second overwrite commit must
    supersede the first attempt's files."""
    import json
    import os

    import pyarrow as pa

    from datafusion_dist_spark.catalog import load_table
    from datafusion_dist_spark.sources.python_ds import register_sources

    register_sources(spark)
    out = str(tmp_path / "arrowdir")
    n = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    n.write.format("ddspark_arrow_dir").option("path", out).mode(
        "append"
    ).save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST")))
    files = manifest["files"]
    assert files and all(f["rows"] > 0 for f in files)
    assert sum(f["rows"] for f in files) == n.count()
    # Every manifest file exists; read back and compare contents.
    tables = []
    for f in files:
        with pa.ipc.open_file(os.path.join(out, f["file"])) as r:
            tables.append(r.read_all())
    got = pa.concat_tables(tables).to_pandas().sort_values("n_nationkey")
    exp = n.toPandas().sort_values("n_nationkey")
    assert got["n_nationkey"].tolist() == exp["n_nationkey"].tolist()
    assert got["n_name"].tolist() == exp["n_name"].tolist()
    # Overwrite: the new manifest must reference only surviving files.
    n.limit(5).write.format("ddspark_arrow_dir").option("path", out).mode(
        "overwrite"
    ).save()
    manifest2 = json.load(open(os.path.join(out, "_MANIFEST")))
    named = {f["file"] for f in manifest2["files"]}
    on_disk = {p for p in os.listdir(out) if p.startswith("part-")}
    assert named == on_disk
    assert sum(f["rows"] for f in manifest2["files"]) == 5


def test_arrow_dir_reads_back_through_spark(spark, tmp_path):
    """The arrow-dir format is symmetric: spark.read of the manifest
    reproduces the written rows exactly, one input partition per
    committed file, and a stray uncommitted part file on disk is
    invisible to the scan (the manifest IS the source of truth)."""
    from datafusion_dist_spark.catalog import load_table
    from datafusion_dist_spark.sources.python_ds import register_sources

    register_sources(spark)
    out = str(tmp_path / "arrowdir2")
    src = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    src.write.format("ddspark_arrow_dir").option("path", out).mode("append").save()
    # Plant a stray file that no commit references.
    with open(f"{out}/part-deadbeef.arrow", "wb") as fh:
        fh.write(b"not arrow")
    back = (
        spark.read.format("ddspark_arrow_dir").option("path", out).load()
    )
    got = back.toPandas().sort_values("n_nationkey").reset_index(drop=True)
    exp = src.toPandas().sort_values("n_nationkey").reset_index(drop=True)
    assert got["n_nationkey"].tolist() == exp["n_nationkey"].tolist()
    assert got["n_name"].tolist() == exp["n_name"].tolist()


def test_arrow_dir_append_mode_extends_manifest(spark, tmp_path):
    """Two append jobs must both be visible: the second commit extends
    the manifest instead of clobbering it (a manifest naming only the
    newest job's files would strand every earlier file)."""
    from datafusion_dist_spark.catalog import load_table
    from datafusion_dist_spark.sources.python_ds import register_sources

    register_sources(spark)
    out = str(tmp_path / "arrowdir_append")
    n = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    n.filter("n_nationkey < 10").coalesce(1).write.format(
        "ddspark_arrow_dir"
    ).option("path", out).mode("append").save()
    n.filter("n_nationkey >= 10").coalesce(1).write.format(
        "ddspark_arrow_dir"
    ).option("path", out).mode("append").save()
    back = (
        spark.read.format("ddspark_arrow_dir").option("path", out).load()
    )
    assert back.count() == n.count()
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in n.collect()
    )


def test_arrow_dir_streaming_reader_incremental(spark, tmp_path):
    """The streaming reader ingests exactly the files committed since
    the last checkpointed offset: first run sees the initial commit,
    a restart after another append sees ONLY the new file's rows."""
    from datafusion_dist_spark.catalog import load_table
    from datafusion_dist_spark.sources.python_ds import register_sources

    register_sources(spark)
    out = str(tmp_path / "arrowdir_stream")
    ckpt = str(tmp_path / "ckpt")
    n = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    n.filter("n_nationkey < 10").coalesce(1).write.format(
        "ddspark_arrow_dir"
    ).option("path", out).mode("append").save()

    def run_stream(_name):
        got: set = set()

        def sink(batch_df, _bid):
            got.update(r.n_nationkey for r in batch_df.collect())

        # foreachBatch, not the memory sink: memory cannot recover
        # from a checkpoint, and recovery is exactly what the second
        # run asserts.
        q = (
            spark.readStream.format("ddspark_arrow_dir")
            .option("path", out)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    first = run_stream("arrow_stream_1")
    assert first == set(range(10)), first

    n.filter("n_nationkey >= 10").coalesce(1).write.format(
        "ddspark_arrow_dir"
    ).option("path", out).mode("append").save()
    second = run_stream("arrow_stream_2")
    # Same checkpoint: only files committed after the first run.
    assert second == set(range(10, 25)), second


def test_arrow_dir_stream_detects_overwrite(spark, tmp_path):
    """An overwrite commit replaces the manifest (new generation) and
    deletes old part-files; a stream resuming from a checkpoint into
    the OLD manifest must fail loudly, not serve wrong files."""
    import pytest

    from datafusion_dist_spark.catalog import load_table
    from datafusion_dist_spark.sources.python_ds import register_sources

    register_sources(spark)
    out = str(tmp_path / "arrowdir_gen")
    ckpt = str(tmp_path / "ckpt_gen")
    n = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    n.coalesce(1).write.format("ddspark_arrow_dir").option("path", out).mode(
        "append"
    ).save()

    def run():
        q = (
            spark.readStream.format("ddspark_arrow_dir")
            .option("path", out)
            .load()
            .writeStream.foreachBatch(lambda df, bid: df.count())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # Overwrite: new generation, old offsets meaningless.
    n.limit(3).coalesce(1).write.format("ddspark_arrow_dir").option(
        "path", out
    ).mode("overwrite").save()
    with pytest.raises(Exception, match="OVERWRITTEN|generation"):
        run()


def test_arrow_dir_stream_starts_before_first_commit(spark, tmp_path):
    """A consumer may start the stream on an empty directory; the
    first producer commit — even an overwrite (fresh generation) —
    must flow through, because n=0 offsets reference no old files."""
    from datafusion_dist_spark.catalog import load_table
    from datafusion_dist_spark.sources.python_ds import register_sources

    register_sources(spark)
    out = str(tmp_path / "cold_start")
    ckpt = str(tmp_path / "ckpt_cold")
    import os

    os.makedirs(out, exist_ok=True)
    got: set = set()

    def run():
        q = (
            spark.readStream.format("ddspark_arrow_dir")
            .option("path", out)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: got.update(r.n_nationkey for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # Empty directory: needs an explicit schema (no manifest yet) —
    # matching the Arrow file types exactly (int, not long).
    n = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    schema = n.schema
    q0 = (
        spark.readStream.format("ddspark_arrow_dir")
        .schema(schema)
        .option("path", out)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: got.update(r.n_nationkey for r in df.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q0.awaitTermination(120)
    assert got == set()
    # First commit is an OVERWRITE → fresh generation; the stream's
    # n=0 checkpointed offset must still replay cleanly.
    n.coalesce(1).write.format("ddspark_arrow_dir").option("path", out).mode(
        "overwrite"
    ).save()
    run()
    assert got == set(range(25)), got


def test_arrow_dir_batch_read_missing_manifest_fails_loudly(spark, tmp_path):
    """A typo'd path must raise, not return an empty placeholder-schema
    DataFrame that lets wrong results propagate."""
    import pytest

    from datafusion_dist_spark.sources.python_ds import register_sources

    register_sources(spark)
    with pytest.raises(Exception, match="_MANIFEST|Arrow-dir"):
        spark.read.format("ddspark_arrow_dir").option(
            "path", str(tmp_path / "nope")
        ).load().collect()


def test_arrow_dir_commit_survives_flock_oserror(tmp_path, monkeypatch):
    """On filesystems where flock itself raises OSError (some NFS
    mounts: ENOLCK), the commit must degrade to the documented
    best-effort/no-lock path, not abort the write job."""
    import errno
    import fcntl
    import json
    import os

    from datafusion_dist_spark.sources.python_ds import (
        ArrowDirWriter,
        ArrowFileCommit,
    )

    def broken_flock(fh, op):
        raise OSError(errno.ENOLCK, "No locks available")

    monkeypatch.setattr(fcntl, "flock", broken_flock)
    out = str(tmp_path / "nolock")
    os.makedirs(out)
    w = ArrowDirWriter(out, overwrite=False)
    w.commit([ArrowFileCommit("part-0-test.arrow", 3)])
    m = json.load(open(os.path.join(out, "_MANIFEST")))
    assert m["files"] == [{"file": "part-0-test.arrow", "rows": 3}]
