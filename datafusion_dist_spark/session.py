"""SparkSession construction tuned for the engine.

The reference configures its session at
``integration-tests/src/data.rs:15-24`` (``target_partitions = 12``,
dynamic-filter pushdown disabled because plans cross node boundaries).
Spark needs no such workaround — plans never serialize across an
optimizer boundary — so we enable the full adaptive stack instead.

Scale stance (100 TB target): every knob here is either
scale-independent (AQE, Arrow) or derived from the environment
(``SPARK_GRAFT_CPUS``); on a real cluster the same builder is used with
``master`` pointing at the cluster manager and
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "datafusion-dist-spark"


def default_parallelism() -> int:
    """CPU budget: env override first, else all local cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults are chosen for correctness-portability (UTC, Arrow) and
    scale (AQE on, skew-join handling on, partition coalescing on).
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Partition count ~ cores locally; on a cluster pass 2-3x cores.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, runtime re-plan.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere Python touches JVM data (pandas_udf, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic cross-engine semantics for the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off: reference (DataFusion) and DuckDB both return NULL on
        # e.g. bad casts in these test shapes; keep permissive semantics.
        .config("spark.sql.ansi.enabled", "false")
        # Non-interactive runs don't need the UI.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # FAIR pools so a CPU-hogging query cannot starve health checks
        # (reference isolates CPU work on a dedicated runtime,
        # dist/src/executor.rs:55-96; Spark's analog is scheduler pools).
        .config("spark.scheduler.mode", "FAIR")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    if not master.startswith("local[") and os.environ.get("PYTHONPATH"):
        # Multi-process masters (local-cluster, spark:// standalone):
        # executor JVMs fork their Python workers with the EXECUTOR
        # environment, not the driver's. local[*] shares one process so
        # imports just work; a standalone worker daemon launched from a
        # clean shell does not have the repo on its path, and every
        # cloudpickled function referencing this package would fail to
        # unpickle worker-side. Propagate the driver's PYTHONPATH.
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
