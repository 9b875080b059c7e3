"""Physical-plan inspection utilities.

The reference pins golden plan *strings* (``integration-tests/tests/
planner.rs``); Spark plan text is version-volatile, so per SURVEY §5 we
pin *behavioral* facts instead: which exchanges exist, which joins went
broadcast, whether filters reached the scan. These helpers extract
those facts from ``explain`` output for tests and for the bench's
plan-quality report.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_facts(df: DataFrame) -> dict:
    """Extract scale-relevant facts from the physical plan.

    After AQE has (partially) executed a plan, ``explain formatted``
    prints both the final and the initial plan — only the final one
    counts, so everything after the "Initial Plan" marker is dropped.
    """
    plan = formatted_plan(df).split("Initial Plan")[0]
    # `formatted` prints each node twice: once in the plan tree, once
    # in the numbered detail list. Count operators in the tree only.
    tree = re.split(r"\n\(\d+\) ", plan)[0]
    return {
        "n_exchanges": len(re.findall(r"\bExchange\b", tree)),
        "n_broadcast_joins": len(re.findall(r"BroadcastHashJoin", tree)),
        "n_sortmerge_joins": len(re.findall(r"SortMergeJoin", tree)),
        "n_shuffledhash_joins": len(re.findall(r"ShuffledHashJoin", tree)),
        "n_bnl_joins": len(re.findall(r"BroadcastNestedLoopJoin", tree)),
        "has_topk": "TakeOrderedAndProject" in tree,
        "n_wholestage_codegen": len(re.findall(r"WholeStageCodegen", tree)),
        # Expression ids (``#54``) differ between two builds of one
        # query; the filters themselves do not.
        "pushed_filters": re.findall(
            r"PushedFilters: \[([^\]]*)\]", re.sub(r"#\d+", "", plan)
        ),
        "partial_aggregate": "HashAggregate" in tree or "SortAggregate" in tree,
    }


def executed_scan_facts(df: DataFrame, descend_cached: bool = True) -> dict:
    """Runtime-truth node accounting for an EXECUTED plan, robust to
    nested cached relations — plan-TEXT trees truncate at an inner
    ``AdaptiveSparkPlan`` (an InMemoryRelation's build plan renders
    mid-tree and cuts off every later branch, r10), so text counting
    silently under-reports, which makes text ABSENCE assertions and
    upper-bound counts on any cache-involving plan vacuous (VERDICT
    r10 task 3). This walks the JVM executedPlan instead: descends
    into AQE final plans and query stages, walks each DISTINCT cached
    relation's build plan exactly once (a cache HIT does not re-scan
    source at runtime; its one-time build cost is what gets counted),
    dedupes query-stage objects, and counts the node classes the
    scale gates care about.

    ``descend_cached=False`` stops at cache reads instead — for gates
    whose budget is the work ON TOP of an already-materialized cached
    table (the cache's own build is gated where it is built).

    Returns: ``source_scans`` (FileSourceScan occurrences — parquet
    passes actually paid), ``inmemory_scans`` (cache reads),
    ``reused_exchanges``, ``exchanges`` (distinct shuffle exchanges
    actually planned), ``shuffle_joins`` (SMJ+SHJ), ``bnl_joins``,
    ``broadcast_joins``, ``cartesian_products``."""
    jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
    seen: set[int] = set()
    counts = {
        "source_scans": 0,
        "inmemory_scans": 0,
        "reused_exchanges": 0,
        "exchanges": 0,
        "shuffle_joins": 0,
        "bnl_joins": 0,
        "broadcast_joins": 0,
        "cartesian_products": 0,
    }

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls == "InMemoryTableScanExec":
            counts["inmemory_scans"] += 1
            rel = node.relation()
            rid = jvm.System.identityHashCode(rel)
            if descend_cached and rid not in seen:
                seen.add(rid)
                walk(rel.cachedPlan())
            return
        if cls.endswith("QueryStageExec"):
            sid = jvm.System.identityHashCode(node)
            if sid in seen:
                return
            seen.add(sid)
            walk(node.plan())
            return
        if cls == "FileSourceScanExec":
            counts["source_scans"] += 1
        elif cls == "ReusedExchangeExec":
            counts["reused_exchanges"] += 1
        elif cls == "ShuffleExchangeExec":
            counts["exchanges"] += 1
        elif cls in ("SortMergeJoinExec", "ShuffledHashJoinExec"):
            counts["shuffle_joins"] += 1
        elif cls == "BroadcastNestedLoopJoinExec":
            counts["bnl_joins"] += 1
        elif cls == "BroadcastHashJoinExec":
            counts["broadcast_joins"] += 1
        elif cls == "CartesianProductExec":
            counts["cartesian_products"] += 1
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())  # type: ignore[attr-defined]
    return counts


def exprs_above_generate(df: DataFrame) -> list[str]:
    """Expressions evaluated once per GENERATED row that need not be.

    Spark puts every expression that shares a ``select`` with a
    generator (``explode``, ``posexplode``, ...) into the Project above
    the ``Generate``, so it runs once per exploded element rather than
    once per input row. Walks the optimized logical plan and returns,
    for each Project directly above a Generate, every non-attribute
    expression that reads no generator output — work that could have
    been computed below the Generate. An alias of a plain column is a
    rename, not work, and is not returned. Expression ids are stripped.
    """

    def scala_list(seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    found: list[str] = []

    def walk(node) -> None:
        children = scala_list(node.children())
        if (
            node.getClass().getSimpleName() == "Project"
            and children[0].getClass().getSimpleName() == "Generate"
        ):
            gen_ids = {
                a.exprId().id()
                for a in scala_list(children[0].generatorOutput())
            }
            for ne in scala_list(node.projectList()):
                inner = ne.child() if ne.getClass().getSimpleName() == "Alias" else ne
                if inner.getClass().getSimpleName() == "AttributeReference":
                    continue
                refs = scala_list(ne.references().toSeq())
                if not any(r.exprId().id() in gen_ids for r in refs):
                    found.append(re.sub(r"#\d+L?", "", ne.toString()))
        for child in children:
            walk(child)

    walk(df._jdf.queryExecution().optimizedPlan())  # type: ignore[attr-defined]
    return found
