"""Table registration: parquet directories → DataFrames / temp views.

The reference registers in-memory ``MemTable``s in a DataFusion
``SessionContext`` (``integration-tests/src/data.rs:36-92``). Here
tables are parquet scans — columnar, splittable, predicate-pushdown-
capable — which is the honest 100 TB story: at scale these paths point
at a distributed store and every operator below still works.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import tempfile
import uuid
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def pin_session_confs(spark: SparkSession) -> None:
    """Pin the runtime confs determinism depends on, idempotently.

    **This mutates the host session's global runtime confs** (session
    timezone → UTC, parquet nanosAsLong → true, one optimizer rule
    appended to excludedRules) — in a shared session that changes
    timestamp semantics for the host's own queries too. It is the
    deliberate contract of every public entry point below
    (``load_table`` / ``register_views``): the
    engine's oracle parity hard-requires these settings, and a
    save/restore scope would silently un-pin them for the lazily
    evaluated DataFrames we return (confs are read at execution, not
    at load). Each set is skipped when the value is already in place.

    Why each pin:
    - UTC session timezone: parquet timestamps are naive/UTC and the
      DuckDB oracle compares them naively (SURVEY §7 risk register);
    - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS), which Spark
      otherwise refuses to read ([PARQUET_TYPE_ILLEGAL]).
    """
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # InferFiltersFromGenerate duplicates the generator expression into
    # a filter that predicate-pushdown then moves below our parallelism
    # repartition — for computed shingle/token arrays that means
    # re-evaluating the expensive expression on the raw (few-split)
    # input: measured 4x slowdown on the dedup operators. The rule only
    # ever helps selective explodes of *stored* arrays, which these
    # pipelines don't do. APPEND to any exclusions the host session
    # already carries — this may be someone else's session.
    _rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    existing = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    rules = [r for r in existing.split(",") if r]
    if _rule not in rules:
        rules.append(_rule)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    _ship_package(spark)


# Applications this process already shipped the package to: gates
# ``addPyFile`` to once per application. It holds no query value, so it
# stays outside the session cache.
_SHIPPED_APPS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    Pandas-UDF / mapInPandas closures are pickled by module reference,
    so workers must be able to ``import datafusion_dist_spark``. The
    driver's session is not ours — its cwd/PYTHONPATH may not reach this
    repo — and on a real cluster executors share no filesystem with the
    driver at all. One zip per session makes both cases work.

    The zip is named by a hash of the packaged sources (relative path
    and bytes of each ``.py``), so every driver process running one
    code version shares one file in the temp dir and a given name
    always holds the same code.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    sources = [
        (str(pkg_dir.name / p.relative_to(pkg_dir)), p.read_bytes())
        for p in sorted(pkg_dir.rglob("*.py"))
    ]
    digest = hashlib.sha256()
    for arcname, data in sources:
        digest.update(f"{arcname}\0{len(data)}\0".encode())
        digest.update(data)
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"datafusion_dist_spark_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        # Write-aside + rename: a concurrent builder must never expose
        # a half-written archive.
        tmp = f"{zpath}.{uuid.uuid4().hex}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for arcname, data in sources:
                z.writestr(arcname, data)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_APPS.add(app_id)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table (schema from parquet footer).

    Side effect: pins session confs (UTC timezone, nanosAsLong,
    excluded optimizer rule) on the host session — see
    ``pin_session_confs`` for the rationale and exact set."""
    pin_session_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # Normalize ts to session-tz TimestampType whatever the parquet
        # physical type is (the driver has shipped both TIMESTAMP(NANOS)
        # — read as raw long under nanosAsLong — and TIMESTAMP(MICROS) —
        # read as timestamp_ntz). Integer DIV avoids double-precision
        # loss; with the session pinned to UTC the ntz cast is value-
        # preserving.
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so ``spark.sql`` can see it.

    Idempotent; re-registering with the same sf_dir is a no-op in
    effect. Mirrors the reference's ``ctx.register_table`` calls.
    Side effect: pins session confs (see ``pin_session_confs``).
    """
    for n in TESTDATA_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
