"""Graph analytics over warehouse tables (engine extensions).

The reference's capability surface has no graph operators (its query
layer is delegated to DataFusion), but connected components
(operators/dedup.py:duplicate_clusters) established the pattern for
iterative algorithms here: express each iteration as plain DataFrame
joins/aggregations so Catalyst plans every step, and keep the
arithmetic fixed-point-integer so results are bit-deterministic and
hash-checkable against a SQL oracle regardless of partitioning or
aggregation order.

PageRank below follows that pattern. Unlike a driver-side loop that
collects state between rounds, a FIXED number of iterations chains as
one lazy plan: iteration i's score table is a DataFrame fed straight
into iteration i+1's join — nothing ever touches the driver, and the
repeated edge-list subtree is a textbook ReuseExchange target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_dist_spark.operators.common import cached_plan

# Fixed-point score scale: 1.0 == 1_000_000 micro-units. All score
# arithmetic is BIGINT add / multiply / integer-divide (truncating on
# positives, identical in Spark `div` and DuckDB `//`), so every
# engine computes bit-identical scores.
SCALE = 1_000_000
DAMPING_NUM = 85  # damping 0.85 as an exact rational 85/100
DAMPING_DEN = 100
BASE = SCALE * (DAMPING_DEN - DAMPING_NUM) // DAMPING_DEN  # (1-d)*SCALE


def bipartite_edges(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Customer↔supplier interaction graph from the order book.

    One undirected edge per distinct (custkey, suppkey) that ever
    traded, materialized as two directed rows ('c:<id>' ↔ 's:<id>') so
    standard directed PageRank applies and no node is a sink. The
    orders⋈lineitem join shuffles on orderkey; the distinct collapses
    the ~4 lineitems/order fan-in before node-id strings are built.
    """
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    c = F.concat(F.lit("c:"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
    # Single-pass fan-out: fwd UNION rev inlined the orders⋈lineitem +
    # distinct pipeline into BOTH branches (two full derivations, four
    # parquet scans in the uncached plan); one Generate emits the same
    # two directed rows per pair from one derivation (guide §2.4 —
    # remove whole repeated passes before tuning anything else).
    return pairs.select(
        F.explode(
            F.array(
                F.struct(c.alias("src"), s.alias("dst")),
                F.struct(s.alias("src"), c.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate plan lineage at an iteration boundary: reliable
    checkpoint when the session has a checkpoint dir configured (the
    cluster deployment — survives executor loss), localCheckpoint
    otherwise (local mode; the duplicate_clusters pattern). Lazy where
    possible: the plan is replaced by a LogicalRDD immediately, so
    codegen/analysis cost stops growing with iteration count, and the
    actual materialization rides the next job."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def pagerank(
    edges: DataFrame, iterations: int = 3, checkpoint_every: int = 6
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Per iteration: each node splits its score evenly across its
    out-edges (integer division — exact), contributions are summed per
    destination (a two-phase agg on dst), and the damped update
    ``new = BASE + d * sum`` is applied. Because the input graph is
    symmetric (every node has in-edges), the sum covers every node and
    no dangling-mass correction is needed; the choice is documented
    rather than hidden.

    Scale: per iteration exactly one shuffle each for the score⋈edges
    join (on src) and the dst aggregation. Scores are 2 longs per
    node — the payload never grows with iterations. The degree-
    annotated edge list is **persisted once** before iterating:
    Catalyst inlines each reference to a DataFrame as a full copy of
    its subtree (measured: 14 re-scans of lineitem for 3 iterations
    with no cache, zero ReusedExchange), so the edge materialization
    is the load-bearing step — the same pattern as the persisted
    MinHash pair set, held in the session cache (``cached_plan``:
    two entries, so two interleaved graphs both stay warm; a third
    evicts and unpersists the oldest). 100 TB of lineitem distills to
    |C|+|S| nodes ≪ input.

    Iteration count is NOT bounded by plan growth: lineage is cut
    every ``checkpoint_every`` rounds (:func:`_cut_lineage` — reliable
    checkpoint on a cluster, localCheckpoint locally), so a 20- or
    50-round run keeps constant-size plans instead of accumulating one
    join+agg subtree per round into a single ever-deeper lazy plan.
    At the default 3 iterations no cut ever fires and the single-plan
    chaining (ReuseExchange-friendly) is unchanged. Checkpointing is a
    pure lineage operation on bit-exact integer scores, so results are
    identical with or without cuts (pinned by test against the 8-round
    SQL oracle).
    """
    # Out-degree as a window count over the edge list itself: the old
    # groupBy + re-join referenced `edges` twice (Catalyst inlines each
    # reference as a full copy of the upstream subtree — two complete
    # edge derivations in the cache-build plan) and paid three
    # exchanges (agg partial/final + both join sides). One window over
    # hashpartitioning(src) annotates every edge in a single pass and
    # leaves the cached table partitioned by src — exactly the key the
    # per-iteration score⋈edges join needs (guide §2.4: operations
    # keyed the same way share one exchange).
    from pyspark.sql import Window

    src_deg = cached_plan(
        "pagerank_src_deg",
        edges.withColumn(
            "outdeg", F.count("*").over(Window.partitionBy("src"))
        ),
    )
    # Initial score: 1.0 (== SCALE) for every node. Node set = all
    # srcs (symmetric graph: srcs == dsts == nodes); derived from the
    # cached edge table so nothing upstream re-executes.
    scores = (
        src_deg.select("src", "outdeg")
        .distinct()
        .select(
            F.col("src").alias("node"),
            F.lit(SCALE).cast("bigint").alias("score"),
        )
    )
    for i in range(iterations):
        contrib = (
            src_deg.join(scores, F.col("src") == F.col("node"))
            .select(
                "dst",
                F.expr("score div outdeg").alias("contrib"),
            )
        )
        scores = contrib.groupBy("dst").agg(
            (
                F.lit(BASE)
                + F.expr(f"({DAMPING_NUM} * sum(contrib)) div {DAMPING_DEN}")
            ).alias("score")
        ).select(F.col("dst").alias("node"), "score")
        if (
            checkpoint_every
            and (i + 1) % checkpoint_every == 0
            and (i + 1) < iterations
        ):
            scores = _cut_lineage(scores)
    return scores


def pagerank_iter_oracle(prev: str, out: str) -> str:
    """DuckDB CTE fragment: one PageRank iteration reading score table
    ``prev`` (node, score), writing ``out`` — the oracle twin of one
    loop body in :func:`pagerank` (same integer truncation, `//`)."""
    return f"""
    {out} AS (
        SELECT e.dst AS node,
               {BASE} + ({DAMPING_NUM} * sum(s.score // d.outdeg))
                        // {DAMPING_DEN} AS score
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN {prev} s ON e.src = s.node
        GROUP BY e.dst
    )
    """


def copurchase_edges(
    orders: DataFrame,
    lineitem: DataFrame,
    min_quantity: int = 45,
    max_group: int = 20,
) -> DataFrame:
    """Customer co-purchase graph: an undirected edge (u < v) between
    customers who bought the same part (high-quantity lines only).

    Pair enumeration from an inverted index (part → customers) is the
    same posting-list shape as n-gram dedup, with the same skew
    hazard: one hot part with d buyers emits d² pairs. ``max_group``
    is the skew cap — hot posting lists are dropped before the
    self-join (dedup_ngram_jaccard_capped's discipline), bounding the
    pair fan-out per part to max_group² at any data scale.
    """
    from pyspark.sql import Window

    cp = (
        lineitem.filter(F.col("l_quantity") >= min_quantity)
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("l_partkey").alias("pk"), F.col("o_custkey").alias("ck"))
        .distinct()
    )
    # The cap as a window count instead of a groupBy + semi-join back:
    # the old three-reference shape (cp → small, cp → a, cp → b)
    # inlined the lineitem⋈orders derivation three times; the window
    # annotates each posting with its list size in the same
    # hashpartitioning(pk) pass the self-join needs anyway, and the
    # remaining two references (a, b) are identical subtrees that
    # collapse via AQE stage reuse — one derivation total.
    capped = cp.withColumn(
        "nc", F.count("*").over(Window.partitionBy("pk"))
    ).filter(F.col("nc") <= max_group).select("pk", "ck")
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, (F.col("a.pk") == F.col("b.pk")) & (F.col("a.ck") < F.col("b.ck")))
        .select(F.col("a.ck").alias("u"), F.col("b.ck").alias("v"))
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge list (u < v).

    Degree-ordered orientation (the scale-critical trick): every edge
    is directed from its lower-(degree, id) endpoint, so a node's
    out-degree is bounded by O(sqrt(|E|)) on any graph and the wedge
    self-join cannot blow up on hubs — the naive id-ordered
    enumeration would square a celebrity node's degree. The closing
    wedge→edge check is an equi-join on the oriented list. Orientation
    changes only the join sizes, never the triangle set, so a plain
    a<b<c SQL enumeration is a valid oracle.

    Three shuffles total (degree agg, wedge join, closure join) over
    id-only rows; the payload never moves.

    The input edge list is materialized once (session-cached, the
    pagerank pattern): it is referenced five times in the
    final plan (degree agg, two orientation joins, both wedge sides,
    closure), and Catalyst inlines every reference as a full copy of
    the upstream subtree — for the co-purchase graph that means five
    re-runs of the lineitem⋈orders pipeline (measured 14.6 s → the
    cached plan's join work is sub-second). Edges are id pairs, so the
    cached table is ≪ input data on any real graph.
    """
    edges = cached_plan("triangle_edges", edges)
    # explode, not unionAll: a union of two selects inlines the edge
    # subtree twice; explode touches it once.
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # Total order on (deg, node) as an explicit lexicographic
    # comparison over two BIGINT columns — NOT a deg*2^32+node packed
    # bigint (stops being a total order, and can overflow, for 64-bit
    # hashed or negative node ids), and NOT a struct<deg,node>
    # comparison (struct ordering drops the join out of whole-stage
    # codegen: measured 3x slower end-to-end).
    forward = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
        .select(
            F.when(forward, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(forward, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(forward, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"),
        )
    )
    # The oriented list is itself referenced three times (both wedge
    # sides + the closure probe); materialize it once too.
    e = cached_plan("triangle_oriented", e)
    w1, w2 = e.alias("w1"), e.alias("w2")
    dst_lt = (F.col("w1.dst_deg") < F.col("w2.dst_deg")) | (
        (F.col("w1.dst_deg") == F.col("w2.dst_deg"))
        & (F.col("w1.dst") < F.col("w2.dst"))
    )
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src")) & dst_lt,
    ).select(
        F.col("w1.src").alias("a"),
        F.col("w1.dst").alias("b"),
        F.col("w2.dst").alias("c"),
    )
    closing = e.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"])
    # explode the three corners from ONE pass over tris: a unionAll of
    # three selects would inline (and re-execute) the whole wedge +
    # closure pipeline three times — measured 3x the plan's Exchanges.
    corners = tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))
