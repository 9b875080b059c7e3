"""Event-time operators over the ``events`` table.

The reference has no stream-time semantics ("streaming" there means
pipelined delivery, SURVEY §1.4) — these are engine extensions, batch
queries that the DuckDB oracle verifies.

Scale notes: tumbling windows are a pure groupBy on a derived key (no
extra shuffle vs any agg); the as-of join uses max_by within an
equi-join group instead of a sort-merge-per-key, so it stays a single
shuffle; sessionization is one window function pass per user partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_dist_spark.catalog import load_table
from datafusion_dist_spark.registry import register


@register(
    "events_window_tumble",
    oracle="""
        SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS VARCHAR) AS win_start,
               event_type,
               count(*) AS n,
               CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
        FROM events
        GROUP BY time_bucket(INTERVAL 6 HOUR, ts), event_type
    """,
    doc="Tumbling event-time window aggregation (batch form of the "
    "Structured Streaming windowed agg; F.window ≡ time_bucket).",
)
def events_window_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_value_c"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value_c",
        )
    )


@register(
    "events_sessionize",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_session
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, event_id,
                   CAST(SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM gaps
        )
        SELECT user_id, session_id, count(*) AS n_events,
               CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
               CAST(epoch_us(max(ts)) AS BIGINT) AS session_end_us
        FROM sess GROUP BY user_id, session_id
    """,
    doc="Sessionization (30-min inactivity gap): lag + gap flag + "
    "running sum → session ids (pyspark_guide 'Common OLAP patterns'). "
    "Streaming twin: session_window(ts, '30 minutes').",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Microsecond-exact gap: cast('long') truncates to seconds, which
    # diverges from the oracle's INTERVAL comparison for gaps landing
    # inside the (1800, 1801)s window.
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap_us <= 30 * 60 * 1_000_000, F.lit(0)).otherwise(F.lit(1))
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(cum).cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
        )
    )


@register(
    "join_asof",
    oracle="""
        SELECT e.event_id, e.user_id,
               arg_max(o.o_orderkey,
                       CAST(epoch(o.o_orderdate) AS BIGINT) * 100000000
                         + o.o_orderkey) AS last_orderkey
        FROM (SELECT * FROM events WHERE event_id < 2000) e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        GROUP BY e.event_id, e.user_id
    """,
    doc="As-of join: latest order at-or-before each event for the same "
    "user (SURVEY §2.C joins, stretch row; DuckDB ASOF JOIN semantics, "
    "with o_orderkey as deterministic same-date tie-break). Spark impl: "
    "equi-join on user + time filter + max_by argmax — one shuffle, no "
    "per-key sort.",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    joined = e.join(
        o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts), "left_outer"
    )
    # Argmax per event: latest o_orderdate wins; o_orderkey breaks
    # same-date ties deterministically (single bigint sort key).
    tie_key = (
        F.unix_seconds(F.col("o_orderdate").cast("timestamp")) * F.lit(100000000)
        + F.col("o_orderkey")
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.max_by("o_orderkey", tie_key).alias("last_orderkey")
    )


@register(
    "join_range_interval",
    oracle="""
        SELECT e.event_id,
               count(o.o_orderkey) AS n_orders_7d
        FROM (SELECT * FROM events WHERE event_id < 1000) e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey
         AND o.o_orderdate >= e.ts - INTERVAL 1825 DAY
         AND o.o_orderdate <  e.ts - INTERVAL 1818 DAY
        GROUP BY e.event_id
    """,
    doc="Interval/range join: orders in a 7-day window per event "
    "(equi key + range predicate → shuffle join with residual filter; "
    "range-only joins would use bucketized band join).",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    o = load_table(spark, sf_dir, "orders")
    lo = F.col("ts") - F.expr("INTERVAL 1825 DAYS")
    hi = F.col("ts") - F.expr("INTERVAL 1818 DAYS")
    joined = e.join(
        o,
        (e.user_id == o.o_custkey) & (o.o_orderdate >= lo) & (o.o_orderdate < hi),
        "left_outer",
    )
    return joined.groupBy("event_id").agg(F.count("o_orderkey").alias("n_orders_7d"))


@register(
    "events_hopping",
    oracle="""
        WITH hopped AS (
            SELECT time_bucket(INTERVAL 3 HOUR, ts) AS win_start, event_type, value
            FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL 3 HOUR, ts) - INTERVAL 3 HOUR, event_type, value
            FROM events
        )
        SELECT CAST(win_start AS VARCHAR) AS win_start, event_type,
               count(*) AS n,
               CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
        FROM hopped
        GROUP BY win_start, event_type
    """,
    doc="Hopping (sliding) event-time window: 6h length, 3h slide — "
    "every event lands in exactly 2 windows. Batch twin of "
    "Structured Streaming's F.window(ts, '6 hours', '3 hours'); the "
    "oracle expands the window membership as a 2-way UNION ALL of "
    "shifted tumbles.",
)
def events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_value_c"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value_c",
        )
    )


@register(
    "events_rollup_reagg",
    oracle="""
        WITH hourly AS (
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h, user_id,
                   count(*) AS n,
                   CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_c
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(CAST(h AS DATE) AS VARCHAR) AS day, user_id,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(SUM(sum_c) AS BIGINT) AS sum_value_c,
               count(*) AS n_active_hours
        FROM hourly
        GROUP BY CAST(h AS DATE), user_id
    """,
    doc="Hypertable-style rollup re-aggregation: hourly partial "
    "aggregates re-aggregated to daily (sum-of-sums + active-hour "
    "counts). The continuous-aggregate pattern: at scale the hourly "
    "table is materialized once and daily/weekly views re-aggregate "
    "the partials instead of the raw events.",
)
def events_rollup_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "user_id"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_c"),
    )
    return hourly.groupBy(
        F.col("h").cast("date").cast("string").alias("day"), "user_id"
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sum_c").cast("bigint").alias("sum_value_c"),
        F.count("*").alias("n_active_hours"),
    )


@register(
    "timeseries_gapfill",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   count(*) AS n,
                   CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_c
            FROM events WHERE user_id < 40
            GROUP BY user_id, CAST(ts AS DATE)
        ),
        spans AS (
            SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
        ),
        grid AS (
            SELECT s.user_id, CAST(g.d AS DATE) AS day
            FROM spans s, UNNEST(range(s.d0, s.d1 + INTERVAL 1 DAY, INTERVAL 1 DAY)) AS g(d)
        )
        SELECT g.user_id, CAST(g.day AS VARCHAR) AS day,
               coalesce(d.n, 0) AS n_events,
               CASE WHEN d.user_id IS NULL THEN 1 ELSE 0 END AS gap_filled,
               last_value(d.sum_c IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sum_value_c_locf
        FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
    doc="Time-series gap filling + LOCF: per-user daily grid from "
    "sequence()/explode, left join onto observed days, "
    "last-observation-carried-forward via last(ignorenulls) window. "
    "The grid explode is partition-local (no shuffle beyond the "
    "daily aggregation); LOCF is one window pass per user.",
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    daily = e.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_c"),
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    d = daily.alias("d")
    g = grid.alias("g")
    w = (
        Window.partitionBy("g.user_id")
        .orderBy("g.day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        g.join(
            d,
            (F.col("g.user_id") == F.col("d.user_id"))
            & (F.col("g.day") == F.col("d.day")),
            "left_outer",
        )
        .select(
            F.col("g.user_id").alias("user_id"),
            F.col("g.day").cast("string").alias("day"),
            F.coalesce(F.col("d.n"), F.lit(0)).alias("n_events"),
            F.when(F.col("d.user_id").isNull(), 1).otherwise(0).alias("gap_filled"),
            F.last(F.col("d.sum_c"), ignorenulls=True)
            .over(w)
            .alias("sum_value_c_locf"),
        )
    )


@register(
    "scd2_history",
    oracle="""
        WITH ch AS (
            SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        ),
        runs AS (
            SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
            FROM ch WHERE prev_status IS NULL
                       OR prev_status <> o_orderstatus
        )
        SELECT o_custkey, o_orderstatus,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
               coalesce(strftime(lead(o_orderdate) OVER w2,
                                 '%Y-%m-%d %H:%M:%S'),
                        '9999-12-31 00:00:00') AS valid_to,
               CASE WHEN lead(o_orderdate) OVER w2 IS NULL
                    THEN 1 ELSE 0 END AS is_current
        FROM runs
        WINDOW w2 AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Type-2 slowly-changing dimension from an event log: collapse "
    "consecutive equal statuses per customer (change detection via "
    "lag), then open/close validity intervals via lead — the history-"
    "table builder of a warehouse. Both windows share one "
    "(partition, order), so the plan is a single hash shuffle + sort "
    "reused by both window passes.",
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    runs = (
        o.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
        .withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
        .drop("prev_status")
    )
    nxt = F.lead("o_orderdate").over(w)
    return runs.select(
        "o_custkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "events_funnel",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                   event_type
            FROM events
        ),
        l1 AS (
            SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
                      OVER (PARTITION BY user_id) AS t1
            FROM e
        ),
        l2 AS (
            SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > t1
                               THEN ts_us END)
                      OVER (PARTITION BY user_id) AS t2
            FROM l1
        ),
        l3 AS (
            SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > t2
                               THEN ts_us END)
                      OVER (PARTITION BY user_id) AS t3
            FROM l2
        )
        SELECT user_id, min(t1) AS view_us, min(t2) AS click_us,
               min(t3) AS purchase_us,
               CAST(CASE WHEN min(t3) IS NOT NULL THEN 3
                         WHEN min(t2) IS NOT NULL THEN 2
                         WHEN min(t1) IS NOT NULL THEN 1
                         ELSE 0 END AS INTEGER) AS funnel_stage
        FROM l3 GROUP BY user_id
    """,
    doc="Ordered funnel analysis (view -> click -> purchase): stage k's "
    "timestamp is the first qualifying event AFTER stage k-1, computed "
    "with three stacked conditional window-mins over ONE user "
    "partitioning — a single shuffle reused by all three passes, no "
    "self-joins (the MATCH_RECOGNIZE-style sequential pattern "
    "expressed in portable SQL).",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
    )
    w = Window.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == "view", F.col("ts_us"))
    ).over(w)
    l1 = e.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts_us") > F.col("t1")),
            F.col("ts_us"),
        )
    ).over(w)
    l2 = l1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts_us") > F.col("t2")),
            F.col("ts_us"),
        )
    ).over(w)
    l3 = l2.withColumn("t3", t3)
    stage = (
        F.when(F.min("t3").isNotNull(), 3)
        .when(F.min("t2").isNotNull(), 2)
        .when(F.min("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return l3.groupBy("user_id").agg(
        F.min("t1").alias("view_us"),
        F.min("t2").alias("click_us"),
        F.min("t3").alias("purchase_us"),
        stage.cast("int").alias("funnel_stage"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
        WITH f AS (
            SELECT user_id,
                   CAST(min(epoch_us(ts)) AS BIGINT) AS first_us
            FROM events GROUP BY user_id
        )
        SELECT CAST(floor(f.first_us / 604800000000.0) AS BIGINT)
                 AS cohort_week,
               CAST(floor((CAST(epoch_us(e.ts) AS BIGINT) - f.first_us)
                          / 604800000000.0) AS BIGINT) AS week_offset,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events e JOIN f ON e.user_id = f.user_id
        GROUP BY 1, 2
    """,
    doc="Cohort retention: users grouped by first-activity epoch-week, "
    "activity counted per weeks-since-cohort offset. Plan: first_us "
    "is a window min over the user partitioning — ONE scan of the "
    "event log and one shuffle, with no driver-side collection of the "
    "per-user aggregate (a broadcast of one row per user is unbounded "
    "at scale) — then a two-phase (cohort, offset) aggregate.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    w = Window.partitionBy("user_id")
    week = 604800000000.0
    withf = e.withColumn("first_us", F.min("ts_us").over(w))
    return withf.groupBy(
        F.floor(F.col("first_us") / week).alias("cohort_week"),
        F.floor((F.col("ts_us") - F.col("first_us")) / week).alias(
            "week_offset"
        ),
    ).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type,
                   quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type,
                   quantile_cont(abs(e.value - m.med), 0.5) AS mad
            FROM events e JOIN med m ON e.event_type = m.event_type
            GROUP BY e.event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - m.med) / x.mad, 6) AS deviation
        FROM events e
        JOIN med m ON e.event_type = m.event_type
        JOIN mad x ON e.event_type = x.event_type
        WHERE x.mad > 0 AND abs(e.value - m.med) > 6 * x.mad
    """,
    doc="Robust outlier detection per event_type: |value - median| > "
    "6x the median absolute deviation. Median/MAD are exact "
    "interpolated percentiles (Spark percentile == DuckDB "
    "quantile_cont, pinned by agg_percentiles); the per-type stats "
    "are two tiny aggregations broadcast back onto the event scan — "
    "at 100 TB the events table is scanned twice and shuffled only "
    "by the low-cardinality event_type key.",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type").filter(
        (F.col("mad") > 0)
        & (F.abs(F.col("value") - F.col("med")) > 6 * F.col("mad"))
    )
    return flagged.select(
        "event_id",
        "event_type",
        "value",
        F.round((F.col("value") - F.col("med")) / F.col("mad"), 6).alias(
            "deviation"
        ),
    )


@register(
    "join_range_banded",
    oracle="""
        SELECT a.event_id, count(b.event_id) AS n_close
        FROM (SELECT event_id, value FROM events WHERE event_id < 3000) a
        LEFT JOIN (SELECT event_id, value FROM events
                   WHERE event_id < 3000) b
          ON abs(a.value - b.value) <= 0.5 AND a.event_id <> b.event_id
        GROUP BY a.event_id
    """,
    doc="Range-ONLY join (no equi key): per event, how many other "
    "events fall within +/-0.5 of its value. Spark has no native "
    "band join, so the range predicate is rewritten as an equi-join "
    "on width-0.5 value buckets: one side explodes to its bucket "
    "+/- 1 (any pair within the band straddles at most adjacent "
    "buckets, so candidates are a proven superset), the exact "
    "|a-b| <= 0.5 predicate verifies, and each true pair lands in "
    "exactly one bucket cell (the probed bucket ids are distinct). "
    "This replaces the BroadcastNestedLoopJoin Spark would otherwise "
    "pick — O(n*k) candidates instead of O(n^2), shuffled on a "
    "fixed-width long key that AQE can re-split on skew.",
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    width = 0.5
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "value")
    )
    bb = F.floor(F.col("value") / width).cast("bigint")
    lhs = base.select(
        "event_id",
        "value",
        F.explode(F.array(bb - 1, bb, bb + 1)).alias("nb"),
    )
    rhs = base.select(
        F.col("event_id").alias("b_id"),
        F.col("value").alias("b_value"),
        bb.alias("bb"),
    )
    j = lhs.join(
        rhs,
        (F.col("nb") == F.col("bb"))
        & (F.abs(F.col("value") - F.col("b_value")) <= width)
        & (F.col("event_id") != F.col("b_id")),
        "left_outer",
    )
    return j.groupBy("event_id").agg(F.count("b_id").alias("n_close"))


@register(
    "events_window_quantiles",
    oracle="""
        SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS VARCHAR) AS win_start,
               event_type,
               round(median(CAST(ROUND(value*1000) AS BIGINT)), 4) AS p50_m,
               round(quantile_cont(CAST(ROUND(value*1000) AS BIGINT), 0.95), 4)
                 AS p95_m,
               CAST(max(CAST(ROUND(value*1000) AS BIGINT)) AS BIGINT) AS max_m
        FROM events
        GROUP BY time_bucket(INTERVAL 6 HOUR, ts), event_type
    """,
    doc="Per-window latency-style quantiles: exact p50/p95/max of the "
    "event value over tumbling 6h windows per event type — the "
    "observability rollup (p95 dashboards) computed batch-side. Exact "
    "percentiles on integer milli-units with continuous interpolation "
    "are deterministic cross-engine (agg_percentiles' discipline); "
    "one two-phase aggregation, keys = (window, type).",
)
def events_window_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    val_m = F.round(F.col("value") * 1000).cast("bigint")
    return (
        e.select(F.window("ts", "6 hours").alias("w"), "event_type", val_m.alias("vm"))
        .groupBy("w", "event_type")
        .agg(
            F.round(F.median("vm"), 4).alias("p50_m"),
            F.round(F.percentile("vm", F.lit(0.95)), 4).alias("p95_m"),
            F.max("vm").alias("max_m"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "p50_m",
            "p95_m",
            "max_m",
        )
    )


@register(
    "join_scd2_pit",
    oracle="""
        WITH ch AS (
            SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                   lag(o_orderstatus) OVER w AS prev_status
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        ),
        states AS (
            SELECT o_custkey AS ck, o_orderdate AS t, 0 AS kind,
                   o_orderkey AS seq, o_orderstatus AS status,
                   NULL::BIGINT AS l_orderkey, NULL::INTEGER AS l_linenumber
            FROM ch WHERE prev_status IS NULL
                       OR prev_status <> o_orderstatus
        ),
        facts AS (
            SELECT o.o_custkey AS ck, l.l_shipdate AS t, 1 AS kind,
                   l.l_orderkey * 10 + l.l_linenumber AS seq,
                   NULL::VARCHAR AS status,
                   l.l_orderkey, l.l_linenumber
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey < 2000
        ),
        u AS (
            SELECT * FROM states UNION ALL SELECT * FROM facts
        ),
        pit AS (
            SELECT ck, t, kind, l_orderkey, l_linenumber,
                   last_value(status IGNORE NULLS) OVER (
                       PARTITION BY ck ORDER BY t, kind, seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS status_at
            FROM u
        )
        SELECT l_orderkey, l_linenumber, ck AS o_custkey,
               CAST(epoch_us(t) AS BIGINT) AS ship_us,
               coalesce(status_at, 'NONE') AS status_at_ship
        FROM pit WHERE kind = 1
    """,
    doc="Point-in-time join against the SCD2 history: each shipment "
    "picks up the customer's order-status dimension row valid AT its "
    "ship time. Implemented as the union-as-of trick — dimension "
    "change rows and fact rows union into ONE stream per key, and a "
    "running last_value(IGNORE NULLS) carries the in-effect status "
    "onto every fact: a single hash shuffle + sort, no join fan-out, "
    "no per-fact interval probe (the plan that survives a 100x "
    "dimension-churn scale-up; an interval join would re-scan "
    "history per fact). Facts on the change date see the new status "
    "(kind orders states before facts at equal timestamps).",
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    states = (
        o.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
        .withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderdate").alias("t"),
            F.lit(0).alias("kind"),
            F.col("o_orderkey").alias("seq"),
            F.col("o_orderstatus").alias("status"),
            F.lit(None).cast("bigint").alias("l_orderkey"),
            F.lit(None).cast("int").alias("l_linenumber"),
        )
    )
    facts = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("ck"),
        F.col("l_shipdate").alias("t"),
        F.lit(1).alias("kind"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.lit(None).cast("string").alias("status"),
        "l_orderkey",
        "l_linenumber",
    )
    w2 = (
        Window.partitionBy("ck")
        .orderBy("t", "kind", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pit = states.unionByName(facts).withColumn(
        "status_at", F.last("status", ignorenulls=True).over(w2)
    )
    return pit.filter(F.col("kind") == 1).select(
        "l_orderkey",
        "l_linenumber",
        F.col("ck").alias("o_custkey"),
        F.unix_micros(F.col("t").cast("timestamp")).alias("ship_us"),
        F.coalesce(F.col("status_at"), F.lit("NONE")).alias("status_at_ship"),
    )


# -- windowed count-min watchlist -------------------------------------------

from datafusion_dist_spark.operators import sketch as _sketch

_WCMS_DEPTH, _WCMS_WIDTH = 3, 128
_WCMS_WATCH = [1, 2, 3, 5, 8]

_WCMS_CELLS_SQL = " UNION ALL ".join(
    "SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS VARCHAR) AS win_start, "
    f"{h} AS h, {_sketch.bucket_oracle('user_id', h, _WCMS_WIDTH)} AS b "
    "FROM events WHERE user_id IS NOT NULL"
    for h in range(_WCMS_DEPTH)
)
_WCMS_PROBES_SQL = ", ".join(
    f"({k}, {h}, {b})"
    for k, h, b in _sketch.watch_buckets(_WCMS_WATCH, _WCMS_DEPTH, _WCMS_WIDTH)
)


@register(
    "events_cms_watchlist",
    oracle=f"""
        WITH raw AS ({_WCMS_CELLS_SQL}),
        cells AS (
            SELECT win_start, h, b, count(*) AS cnt FROM raw GROUP BY 1, 2, 3
        ),
        probes(user_id, h, b) AS (VALUES {_WCMS_PROBES_SQL}),
        wins AS (
            SELECT CAST(ws AS VARCHAR) AS win_start
            FROM (
                SELECT unnest(generate_series(
                    min(time_bucket(INTERVAL 6 HOUR, ts)),
                    max(time_bucket(INTERVAL 6 HOUR, ts)),
                    INTERVAL 6 HOUR)) AS ws
                FROM events
            )
        )
        SELECT w.win_start, p.user_id,
               CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
        FROM wins w CROSS JOIN probes p
        LEFT JOIN cells c
            ON c.win_start = w.win_start AND c.h = p.h AND c.b = p.b
        GROUP BY 1, 2
    """,
    doc="Per-window rate monitor for a fixed watchlist via count-min: "
    "one grid per 6-hour tumbling window (state = depth x width PER "
    "WINDOW regardless of traffic or key cardinality), probed by "
    "driver-computed literal buckets (operators/sketch.py:"
    "watch_buckets — hashlib md5, bit-identical to the column hash) so "
    "the query is one grid-building scan of events plus a min/max "
    "ts-only pass for the window calendar: no distinct-key enumeration "
    "anywhere. The calendar spans the observed time range, so "
    "zero-traffic windows — including fully silent ones — are explicit "
    "est_count=0 rows for every watched key. The production shape "
    "for 'requests per key per window' at crawl scale, where exact "
    "per-key counts would shuffle the full key space every window.",
)
def events_cms_watchlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "events")
        .select(F.window("ts", "6 hours").alias("w"), "user_id")
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "user_id",
        )
    )
    cells = _sketch.countmin_cells(
        e, "user_id", _WCMS_DEPTH, _WCMS_WIDTH, group_cols=("win_start",)
    )
    probes = spark.createDataFrame(
        _sketch.watch_buckets(_WCMS_WATCH, _WCMS_DEPTH, _WCMS_WIDTH),
        "user_id bigint, h int, b int",
    )
    # Window calendar from the observed time RANGE (min/max ts ->
    # truncate the TWO scalars -> sequence), not from distinct
    # traffic: the second pass is a bare min/max over the raw ts
    # column — no per-row window struct, formatting, or re-parsing
    # (min(window(ts).start) == floor6h(min(ts)) since bucketing is
    # monotone), it cannot be silently pruned into a grid recompute
    # (the audit caught cells.select("win_start").distinct()
    # re-running the scan+explode), and it makes ZERO-TRAFFIC windows
    # explicit rows — a rate monitor that skips silent windows is
    # blind exactly when the signal matters.
    def _floor6h(c: "F.Column") -> "F.Column":
        # Epoch-anchored 6 h bucket start — integer math equivalent of
        # F.window(c, "6 hours").start (same anchor, session TZ UTC).
        u = F.unix_timestamp(c)
        return F.timestamp_seconds(u - F.pmod(u, F.lit(21600)))

    bounds = (
        load_table(spark, sf_dir, "events")
        .select("ts")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    )
    wins = bounds.select(
        F.explode(
            F.sequence(
                _floor6h(F.col("t0")),
                _floor6h(F.col("t1")),
                F.expr("interval 6 hours"),
            )
        ).alias("ws")
    ).select(F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("win_start"))
    return (
        wins.crossJoin(F.broadcast(probes))
        .join(cells, ["win_start", "h", "b"], "left")
        .fillna({"cnt": 0})
        .groupBy("win_start", "user_id")
        .agg(F.min("cnt").cast("bigint").alias("est_count"))
    )
