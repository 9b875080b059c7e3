"""Plan-quality gates (SURVEY §5 layer 2, behavioral not textual).

The reference pins golden plan strings; Spark plan text is version-
volatile, so these assert the *facts* that matter at 100 TB: dimension
joins broadcast, fact-fact joins shuffle once, filters reach the
parquet scan, ORDER BY+LIMIT compiles to TopK, aggregates are
two-phase (partial before the exchange).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_dist_spark.catalog import load_table
from datafusion_dist_spark.plans import formatted_plan, plan_facts
from datafusion_dist_spark.queries.tpch import tpch_q3, tpch_q5, tpch_q6
from datafusion_dist_spark.queries.sorts_windows import topk
from tests.conftest import SF_DIR


def test_q5_star_join_broadcasts_dims(spark):
    facts = plan_facts(tpch_q5(spark, SF_DIR))
    # All four dims broadcast; only lineitem⋈orders may shuffle.
    assert facts["n_broadcast_joins"] >= 4, facts
    assert facts["n_sortmerge_joins"] + facts["n_shuffledhash_joins"] <= 1, facts


def test_q3_topk_and_broadcast(spark):
    facts = plan_facts(tpch_q3(spark, SF_DIR))
    assert facts["has_topk"], "ORDER BY+LIMIT must compile to TakeOrderedAndProject"
    assert facts["n_broadcast_joins"] >= 1, facts


def test_q6_filters_pushed_to_scan(spark):
    plan = formatted_plan(tpch_q6(spark, SF_DIR))
    assert "PushedFilters" in plan
    # The shipdate range must reach the parquet reader.
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:400], plan[:2000]


def test_plan_facts_equal_across_builds(spark):
    """Two builds of one query in one session give equal plan facts:
    expression ids (``ScalarSubquery#54`` vs ``#68``) are not facts."""
    from datafusion_dist_spark import registry

    build = registry.all_specs()["subquery_scalar"].spark_fn
    first = plan_facts(build(spark, SF_DIR))
    assert first["pushed_filters"], first
    assert first == plan_facts(build(spark, SF_DIR))


def test_scan_prunes_columns(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = formatted_plan(df)
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_topk_no_global_sort(spark):
    facts = plan_facts(topk(spark, SF_DIR))
    assert facts["has_topk"], "top-k query must avoid a full global sort"


def test_groupby_is_two_phase(spark):
    df = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    plan = formatted_plan(df)
    # Partial aggregate appears before the exchange, final after.
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan


def test_broadcast_join_no_shuffle_of_fact(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    supp = load_table(spark, SF_DIR, "supplier")
    df = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey).select(
        "l_orderkey", "s_name"
    )
    facts = plan_facts(df)
    assert facts["n_broadcast_joins"] == 1
    assert facts["n_exchanges"] == 0, "broadcast join must not shuffle the fact side"


def test_ivf_assignment_is_projection_only(spark):
    """The IVF coarse quantizer inlines the driver-side codebook into
    a per-row argmax projection: no join of any kind, no N×K row
    explosion, and the only exchange is spread()'s round-robin — the
    vector column never shuffles for assignment."""
    from datafusion_dist_spark.operators.similarity import ivf_assignments

    emb = load_table(spark, SF_DIR, "embeddings")
    assigned, _ = ivf_assignments(emb, n_centroids=8)
    facts = plan_facts(assigned)
    n_joins = (
        facts["n_broadcast_joins"]
        + facts["n_bnl_joins"]
        + facts["n_sortmerge_joins"]
        + facts["n_shuffledhash_joins"]
    )
    assert n_joins == 0, facts
    assert facts["n_exchanges"] <= 1, facts


def test_hash_sample_prunes_columns(spark):
    """Deterministic sampling must not widen the scan: only the key
    and projected columns are read."""
    from datafusion_dist_spark.operators.sampling import hash_sample

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    plan = formatted_plan(hash_sample(docs, "doc_id", 0.2))
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    assert all("text" not in s for s in schemas), schemas


def test_minhash_signature_single_aggregation(spark):
    """The whole signature (16 hash mins) must come from ONE
    aggregation — one shuffle of (doc, digest) rows, not one per hash
    function."""
    from datafusion_dist_spark.operators.dedup import (
        doc_shingles,
        minhash_signatures,
    )
    from datafusion_dist_spark.queries.llm import _corpus

    sigs = minhash_signatures(doc_shingles(_corpus(spark, SF_DIR)), 16)
    facts = plan_facts(sigs)
    # spread() repartition + the aggregation exchange; nothing more.
    assert facts["n_exchanges"] <= 2, facts


def test_salted_agg_two_exchanges_max(spark):
    from datafusion_dist_spark.queries.advanced import agg_salted_twophase

    facts = plan_facts(agg_salted_twophase(spark, SF_DIR))
    # (key,salt) agg exchange + key agg exchange; partial agg present.
    assert facts["n_exchanges"] <= 2, facts
    assert facts["partial_aggregate"], facts


def test_gapfill_no_extra_shuffles(spark):
    """Gap filling: daily agg shuffle + span agg + grid join + window.
    The explode itself must add no exchange."""
    from datafusion_dist_spark.queries.temporal import timeseries_gapfill

    facts = plan_facts(timeseries_gapfill(spark, SF_DIR))
    assert facts["n_exchanges"] <= 5, facts


def test_funnel_single_shuffle(spark):
    """Three stacked conditional window-mins + the final per-user agg
    must share ONE user_id exchange — no per-stage re-shuffle, no
    self-joins."""
    from datafusion_dist_spark.queries.temporal import events_funnel

    facts = plan_facts(events_funnel(spark, SF_DIR))
    assert facts["n_exchanges"] <= 1, facts
    n_joins = (
        facts["n_broadcast_joins"]
        + facts["n_bnl_joins"]
        + facts["n_sortmerge_joins"]
        + facts["n_shuffledhash_joins"]
    )
    assert n_joins == 0, facts


def test_ngram_pair_enumeration_streams(spark):
    """Pair enumeration must be streamed Generate nodes, never a
    per-shingle flatten(transform(...)) that materializes the full
    m²/2 pair array in one interpreted expression (quadratic memory
    per posting list — the shape that regressed 3x when posting lists
    grew)."""
    from datafusion_dist_spark.operators.dedup import ngram_jaccard_pairs
    from datafusion_dist_spark.queries.llm import _corpus

    df = ngram_jaccard_pairs(_corpus(spark, SF_DIR), threshold=0.5)
    plan = formatted_plan(df)
    facts = plan_facts(df)
    assert plan.count("Generate") >= 3, "expected stacked explode generators"
    assert "flatten(transform" not in plan
    # One tokenize pass: spread repartition + posting agg + pair agg.
    assert facts["n_exchanges"] <= 3, facts


def test_ivf_scorer_single_python_eval(spark):
    """The IVF numpy scorer must appear exactly once in the plan (a
    duplicated ArrowEvalPython would re-score every row per reference
    to the struct column), the probe filter must be a broadcast join,
    and the final top-k must compile to TakeOrderedAndProject."""
    import re

    from datafusion_dist_spark.queries.llm import ann_ivf_topk

    df = ann_ivf_topk(spark, SF_DIR)
    plan = formatted_plan(df).split("Initial Plan")[0]
    tree = re.split(r"\n\(\d+\) ", plan)[0]
    assert tree.count("ArrowEvalPython") == 1, tree
    facts = plan_facts(df)
    assert facts["n_broadcast_joins"] == 1, facts
    assert facts["has_topk"], facts
    assert facts["n_exchanges"] <= 1, facts


def test_kmeans_refine_single_exchange(spark):
    """The Lloyd iteration must be: scorer projection (one Python
    eval) → posexplode → ONE two-phase aggregation keyed by (cid,
    dim). The only other exchange permitted is spread()'s ROUND-ROBIN
    repartition of an under-parallel input (this tiny test corpus is
    1 split; the r5 strong-scaling gate measured the round pinned to
    2 cores without it — at 100 TB the input is already parallel and
    spread() is a pass-through, so that exchange vanishes). Any OTHER
    exchange means the vector column is being shuffled by key — the
    thing the design exists to avoid."""
    import re

    from datafusion_dist_spark.queries.llm import ann_kmeans_refine

    df = ann_kmeans_refine(spark, SF_DIR)
    plan = formatted_plan(df).split("Initial Plan")[0]
    tree = re.split(r"\n\(\d+\) ", plan)[0]
    facts = plan_facts(df)
    assert tree.count("ArrowEvalPython") == 1, tree
    assert facts["n_exchanges"] <= 2, facts
    if facts["n_exchanges"] == 2:
        assert plan.lower().count("roundrobin") >= 1, plan
    assert facts["partial_aggregate"], facts


def test_kmeans_argmax_once_per_vector(spark):
    """The k-means assignment (argmax over the centroid scores) must be
    computed once per vector, below the posexplode — not in the Project
    above the Generate, where it runs once per exploded component. The
    synthetic frame checks the guard sees the shape it is looking for."""
    from datafusion_dist_spark import registry
    from datafusion_dist_spark.plans import exprs_above_generate

    demo = spark.createDataFrame([(1, [1.0, 2.0])], "id long, v array<double>")
    assert exprs_above_generate(
        demo.select((F.col("id") * 2).alias("k"), F.posexplode("v"))
    )
    assert not exprs_above_generate(
        demo.select((F.col("id") * 2).alias("k"), "v").select(
            "k", F.posexplode("v")
        )
    )
    specs = registry.all_specs()
    for name in ("ann_kmeans_refine", "ann_kmeans_two_rounds", "ann_kmeans_converged"):
        df = specs[name].spark_fn(spark, SF_DIR)
        assert exprs_above_generate(df) == [], name


def test_keep_best_broadcasts_pair_stats(spark):
    """Cluster keep-selection: the cluster labels (tiny) broadcast
    onto the corpus join; at most the window + count aggregation
    shuffle — the big corpus is never exchanged more than that.
    Counted on the EXECUTED JVM plan with ``descend_cached=False``:
    the entry reads the persisted minhash pair cache, whose nested
    InMemoryRelation truncates the printed tree (a text upper bound
    could pass vacuously, VERDICT r10 task 3); the budget here is the
    work ON TOP of the cached pairs — the pair build is gated by its
    own tests."""
    from datafusion_dist_spark.plans import executed_scan_facts
    from datafusion_dist_spark.queries.llm import dedup_keep_best

    df = dedup_keep_best(spark, SF_DIR)
    df.collect()
    facts = executed_scan_facts(df, descend_cached=False)
    assert facts["broadcast_joins"] >= 1, facts
    assert facts["exchanges"] <= 2, facts
    assert facts["cartesian_products"] == 0, facts


def test_spread_passthrough_for_parallel_input(spark):
    """VERDICT r2 'What's wrong #1': spread() must NOT repartition an
    input that already has >= target-parallelism partitions — at 100 TB
    the corpus arrives in thousands of splits and a round-robin
    repartition there is a full extra shuffle of the raw payload
    before shingling/hashing. Only an under-parallel input pays it."""
    from datafusion_dist_spark.operators.common import spread

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).repartition(n)
    out = spread(wide)
    # Identity return = provably zero added Exchange in any downstream plan.
    assert out is wide, "spread() must pass an already-parallel input through"
    # Laziness: an exchange-bearing plan must pass through WITHOUT the
    # .rdd partition probe — under AQE that probe executes the upstream
    # shuffle at plan-build time (double execution; breaks the
    # engine's no-execution-before-pull contract).
    agg = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
    assert spread(agg) is agg, "exchange-bearing plans must not be probed"

    narrow = spark.range(10_000).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == n


def test_clean_corpus_no_self_join(spark):
    """VERDICT r2 #3: pipeline_clean_corpus must compute quality as a
    projection on the corpus scan, not join the score back to the
    corpus (that join shuffled the whole corpus for a per-row
    expression). Expected shape: zero joins; exchanges are only
    spread()'s local round-robin (passthrough at scale) plus the
    dedup digest window shuffle."""
    from datafusion_dist_spark.queries.llm import pipeline_clean_corpus

    facts = plan_facts(pipeline_clean_corpus(spark, SF_DIR))
    assert (
        facts["n_broadcast_joins"]
        + facts["n_sortmerge_joins"]
        + facts["n_shuffledhash_joins"]
        + facts["n_bnl_joins"]
    ) == 0, facts
    assert facts["n_exchanges"] <= 2, facts


def test_semantic_dedup_scorer_once_no_nlj(spark):
    """SemDeDup: the numpy scorer must run once per side build (no
    duplicated ArrowEvalPython per column reference), the in-cluster
    pair join must be an equi-join on cid (never a nested-loop), and
    assignment must not blow the codegen budget into a cross join."""
    import re

    from datafusion_dist_spark.queries.llm import dedup_semantic

    df = dedup_semantic(spark, SF_DIR)
    plan = formatted_plan(df).split("Initial Plan")[0]
    tree = re.split(r"\n\(\d+\) ", plan)[0]
    facts = plan_facts(df)
    assert "BroadcastNestedLoopJoin" not in plan.split("Initial Plan")[0], tree
    assert "CartesianProduct" not in plan, tree
    # one scorer eval per self-join side
    assert tree.count("ArrowEvalPython") <= 2, tree


def test_pagerank_no_cartesian_chained_plan(spark):
    """PageRank chains 3 iterations lazily into one plan: no
    cartesian/NLJ anywhere, and the per-iteration dst aggregation is
    two-phase (partial before the exchange) so contribution sums
    combine map-side. The absence assertions run on the EXECUTED JVM
    plan (executed_scan_facts), not plan text: the persisted
    degree-annotated edge table nests an InMemoryRelation whose
    rendered build plan truncates the printed tree, so a text
    'not in plan' check could pass vacuously (VERDICT r10 task 3)."""
    from datafusion_dist_spark.plans import executed_scan_facts
    from datafusion_dist_spark.queries.advanced import graph_pagerank

    df = graph_pagerank(spark, SF_DIR)
    df.collect()
    facts = executed_scan_facts(df)
    assert facts["cartesian_products"] == 0, facts
    assert facts["bnl_joins"] == 0, facts
    assert plan_facts(df)["partial_aggregate"]  # presence: text is sound


def test_block_dedup_digest_keyed_window(spark):
    """Sub-document dedup: the duplicate decision's window partitions
    on the fixed-width md5 digest (not raw block text) and the plan
    has no join at all — block payload moves through exactly the
    window exchange and the per-doc reassembly exchange."""
    from datafusion_dist_spark.queries.llm import dedup_paragraph_blocks

    df = dedup_paragraph_blocks(spark, SF_DIR)
    plan = formatted_plan(df)
    facts = plan_facts(df)
    assert (
        facts["n_broadcast_joins"]
        + facts["n_sortmerge_joins"]
        + facts["n_shuffledhash_joins"]
    ) == 0, facts
    # Only the digest window + per-doc reassembly may hash-shuffle the
    # block payload. (spread()'s round-robin on the tiny local input
    # doesn't exist at scale — the passthrough guard is tested above.)
    assert plan.count("hashpartitioning") <= 2, plan[:2000]
    assert "md5" in plan, "window must key on the digest"


def test_boilerplate_score_broadcast_total(spark):
    """Corpus size must enter as a broadcast 1-row scalar, never a
    shuffle; the shingle-df join colocates with the df aggregation."""
    from datafusion_dist_spark.queries.llm import text_boilerplate_score

    facts = plan_facts(text_boilerplate_score(spark, SF_DIR))
    assert facts["n_broadcast_joins"] >= 1, facts


def test_ivf_pq_adc_broadcasts_lookup_table(spark):
    """IVF-PQ: the probe list and the ADC lookup table must broadcast
    (the only shuffled state is the codes pipeline's few-longs rows),
    no cartesian anywhere, and the final ranking compiles to TopK."""
    from datafusion_dist_spark.queries.llm import ann_ivf_pq_topk

    df = ann_ivf_pq_topk(spark, SF_DIR)
    plan = formatted_plan(df)
    facts = plan_facts(df)
    assert "CartesianProduct" not in plan
    assert facts["n_broadcast_joins"] >= 2, facts
    assert facts["has_topk"], facts


def test_banded_range_join_no_nlj(spark):
    """The range-only join must run as a bucket equi-join, never the
    BroadcastNestedLoopJoin Spark picks for a bare range predicate."""
    from datafusion_dist_spark.queries.temporal import join_range_banded

    plan = formatted_plan(join_range_banded(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan.split("Initial Plan")[0]
    assert "CartesianProduct" not in plan


def test_normalized_dedup_single_exchange(spark):
    """Normalization is a projection on the scan; only (digest, id)
    shuffles through the one dedup aggregation."""
    from datafusion_dist_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    facts = plan_facts(dedup.exact_dedup_normalized(docs))
    assert facts["n_exchanges"] <= 1, facts
    assert facts["partial_aggregate"], facts


def test_bloom_decontaminate_corpus_joins_broadcast_only(spark):
    """The corpus shingle stream must reach the verify join without a
    shuffle: survivors join the broadcast benchmark set, never a
    shuffled join of the corpus side. The one exchange is the final
    per-doc count aggregation."""
    from datafusion_dist_spark.operators import text as text_ops

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = text_ops.decontaminate_bloom_verify(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        min_shared=2,
    )
    facts = plan_facts(out)
    assert facts["n_sortmerge_joins"] + facts["n_shuffledhash_joins"] == 0, facts
    assert facts["n_broadcast_joins"] >= 1, facts
    assert facts["n_bnl_joins"] == 0, facts


def test_temperature_sample_broadcast_thresholds_single_scan(spark):
    """The big table is scanned once and never shuffled: per-stratum
    thresholds come back via a broadcast join; the only exchanges
    belong to the tiny counts/normalizer aggregations."""
    from datafusion_dist_spark.operators import sampling as smp

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    facts = plan_facts(smp.temperature_sample(docs, "doc_id", "lang"))
    assert facts["n_sortmerge_joins"] + facts["n_shuffledhash_joins"] == 0, facts
    assert facts["n_broadcast_joins"] >= 1, facts


def test_shuffle_shard_single_exchange(spark):
    """One hash exchange on shard, then a local sort — the classic
    shard-writer plan; no global sort, no second shuffle."""
    import __spark_entry__ as E

    facts = plan_facts(E.queries()["pipeline_shuffle_shard"](spark, SF_DIR))
    assert facts["n_exchanges"] == 1, facts
    assert not facts["has_topk"], facts


def test_triangle_count_no_cartesian_no_bnl(spark):
    """Wedge enumeration and closure must stay equi-joins (degree
    orientation bounds them); a BroadcastNestedLoopJoin or cartesian
    here would square a hub's neighborhood at scale. Asserted on the
    EXECUTED JVM plan: triangle_count persists the oriented edge
    table, and a nested InMemoryRelation truncates the printed tree —
    a text absence check could pass without seeing the joins at all
    (VERDICT r10 task 3)."""
    from datafusion_dist_spark.operators.graph import triangle_count
    from datafusion_dist_spark.plans import executed_scan_facts

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "u long, v long"
    )
    df = triangle_count(edges)
    df.collect()
    facts = executed_scan_facts(df)
    assert facts["cartesian_products"] == 0, facts
    assert facts["bnl_joins"] == 0, facts


def test_ivf_knn_join_broadcast_probes_no_corpus_shuffle_join(spark):
    """Candidate generation is a broadcast equi-join of the corpus
    stream against the tiny probe table — the corpus is never the
    build side of a shuffled join; the only exchange is the per-query
    top-k window."""
    from datafusion_dist_spark.operators import similarity as sim

    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    facts = plan_facts(sim.ivf_knn_join(qs, emb, k=3))
    assert facts["n_sortmerge_joins"] + facts["n_shuffledhash_joins"] == 0, facts
    assert facts["n_broadcast_joins"] >= 1, facts
    assert facts["n_bnl_joins"] == 0, facts


def test_partsupp_synthesis_no_shuffle(spark):
    """The synthesized partsupp is a map-side derivation: one part
    scan, a 1-row count broadcast, an explode — the only exchange
    allowed is the distinct's (which AQE may keep); never a join
    shuffle of part."""
    from datafusion_dist_spark.queries.tpch import _partsupp

    facts = plan_facts(_partsupp(spark, SF_DIR))
    assert facts["n_sortmerge_joins"] + facts["n_shuffledhash_joins"] == 0, facts
    # Exactly one BNLJ is expected and fine: the broadcast cross join
    # of the 1-ROW supplier count (a scalar, not a data-sized side).
    assert facts["n_bnl_joins"] <= 1, facts


def test_q2_full_broadcasts_dimension_chain(spark):
    """Q2's region->nation->supplier pruning chain broadcasts; the
    per-part min is the window-rank pattern (one exchange family),
    not a re-join of partsupp against itself at shuffle scale."""
    from datafusion_dist_spark.queries.tpch import tpch_q2_full

    facts = plan_facts(tpch_q2_full(spark, SF_DIR))
    assert facts["n_broadcast_joins"] >= 3, facts
    # The single BNLJ is the 1-row supplier-count scalar join inside
    # the partsupp derivation; nothing data-sized nest-loops.
    assert facts["n_bnl_joins"] <= 1, facts


def test_ivf_prebuilt_query_scan_is_partition_pruned(spark, tmp_path):
    """The prebuilt-index query phase must read ONLY the probed
    inverted lists: the parquet scan over the cid-partitioned index
    carries a PartitionFilters entry on cid (directory-level pruning,
    no row-level filtering of unprobed lists), and the corpus side is
    still never a shuffled join build side."""
    from datafusion_dist_spark.operators import similarity as sim

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf-index")
    sim.ivf_index_build(emb, n_centroids=8, path=path)
    qs = emb.filter(F.col("vec_id") == 0)  # one query -> <=2 probed lists
    df = sim.ivf_knn_join_prebuilt(spark, path, qs, k=3, nprobe=2)
    plan = formatted_plan(df)
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf_lines, plan[:2000]
    import re

    m = re.search(r"cid#\d+ IN \(([^)]*)\)", pf_lines[0])
    assert m, pf_lines[0]
    assert len(m.group(1).split(",")) <= 2, pf_lines[0]
    facts = plan_facts(df)
    assert facts["n_sortmerge_joins"] + facts["n_shuffledhash_joins"] == 0, facts
    assert facts["n_broadcast_joins"] >= 1, facts


def test_embedding_near_dup_no_pair_join(spark):
    """embedding_near_dup_pairs: pair scoring must be ONE
    applyInPandas per sign bucket, never a bucket self-join. The join
    form let Catalyst push the threshold filter — with the whole
    2×dim-term rounded dot it references — into the SortMergeJoin's
    non-equi condition, evaluated per buffered pair OUTSIDE
    whole-stage codegen (~8.7 µs/pair; the f30 scale rehearsal
    measured 61 s of a 64 s wall in that predicate). The Pandas shape
    crosses Arrow once (linear in the corpus) and leaves no per-pair
    expression for the optimizer to misplace."""
    import re

    from datafusion_dist_spark.queries.llm import dedup_embedding_cosine

    df = dedup_embedding_cosine(spark, SF_DIR)
    plan = formatted_plan(df)
    tree = re.split(r"\n\(\d+\) ", plan.split("Initial Plan")[0])[0]
    facts = plan_facts(df)
    assert (
        facts["n_sortmerge_joins"]
        + facts["n_shuffledhash_joins"]
        + facts["n_broadcast_joins"]
        == 0
    ), facts
    assert "CartesianProduct" not in tree and "NestedLoop" not in tree, tree
    assert tree.count("FlatMapGroupsInPandas") == 1, tree


def test_tfidf_bm25_tokenize_once(spark):
    """tfidf_topk / bm25_topk: the tokenize+explode subtree (the
    dominant per-row cost) must appear ONCE in the plan. The previous
    df-as-broadcast-join shape materialized the vocabulary-sized df
    table as a broadcast job, inside which ReuseExchange cannot see
    the main plan's exchanges — the ENTIRE scan+Generate+aggregate
    executed twice (measured 2× executor time and a FLAT 8→32-core
    curve at the x30 corpus, r8 cores gate). df now comes from a
    count window over the term partition of the tf rows — each
    (doc, term) row is unique post-aggregation, so count(*) per term
    IS the document frequency."""
    import re

    from datafusion_dist_spark.queries.llm import text_bm25_topk, text_tfidf_topk

    for fn in (text_tfidf_topk, text_bm25_topk):
        plan = formatted_plan(fn(spark, SF_DIR))
        # explain('formatted') details every node once as "(N) Generate";
        # the old shape carried two (main plan + broadcast subtree).
        n_gen = len(re.findall(r"\(\d+\) Generate", plan))
        assert n_gen == 1, (
            f"{fn.__name__}: expected exactly one tokenize Generate, "
            f"found {n_gen}\n{plan[:3000]}"
        )


def test_band_stats_aggregate_only_no_joins(spark):
    """dedup_band_stats is pure aggregation over one pass of the
    banded frame: no join of any kind (a join here would mean the
    register compaction re-derived something instead of folding it
    map-side), two-phase aggregates, and at most the pipeline's four
    exchanges (spread round-robin + signature agg + fine register agg
    + per-band agg)."""
    from datafusion_dist_spark.queries.llm import dedup_band_stats

    facts = plan_facts(dedup_band_stats(spark, SF_DIR))
    n_joins = (
        facts["n_broadcast_joins"]
        + facts["n_bnl_joins"]
        + facts["n_sortmerge_joins"]
        + facts["n_shuffledhash_joins"]
    )
    assert n_joins == 0, facts
    assert facts["n_exchanges"] <= 4, facts
    assert facts["partial_aggregate"], facts


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling is the engine's answer to hot join keys
    (the reference's load-aware scheduling analog, and what the zipf
    rehearsal's hot-custkey probe exercises at x10 — bench_scale.py
    measure_aqe_skew_join): a declarative shuffle SMJ over a key
    holding 75% of the rows must come out of AQE with the hot
    partition SPLIT (final plan: SortMergeJoin(skew=true) +
    'skewed' AQEShuffleRead), no manual salting involved. Pins the
    conf recipe thresholds scale down for test-sized shuffles."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16kb",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16kb",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(400_000).select(
            F.when(F.col("id") < 300_000, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
        rows = j.collect()
        assert rows[0].n == 300_000 * 1 + 100_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert "skewed" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_entry_shuffles_on_salted_keys(spark):
    """join_skew_salted must take the shuffle path (that is the regime
    the operator exists for) and carry the salt in its join keys —
    a broadcast here would mean the hint/salt plumbing silently
    degenerated into the plain plan."""
    from datafusion_dist_spark.queries.relational import join_skew_salted

    df = join_skew_salted(spark, SF_DIR)
    facts = plan_facts(df)
    assert facts["n_broadcast_joins"] == 0, "salted join must not broadcast"
    assert facts["n_shuffledhash_joins"] + facts["n_sortmerge_joins"] == 1
    assert "_salt" in formatted_plan(df), "salt column missing from plan"


def test_countmin_constant_shuffle_and_broadcast_lookup(spark):
    """The CMS build's exchange carries cell partials (<= depth*width
    per task): exactly two exchanges total (cells aggregate + candidate
    distinct, whose min-agg reuses the same partitioning), and the grid
    reaches the lookup as a broadcast — never a shuffle join."""
    from datafusion_dist_spark.queries.aggregates import (
        agg_countmin_heavy_hitters,
    )

    df = agg_countmin_heavy_hitters(spark, SF_DIR)
    facts = plan_facts(df)
    assert facts["n_broadcast_joins"] == 1
    assert facts["n_shuffledhash_joins"] == 0
    assert facts["n_sortmerge_joins"] == 0
    assert facts["n_exchanges"] == 2, formatted_plan(df)


def test_hll_registers_constant_shuffle(spark):
    """The HLL register build's exchange carries register partials
    (<= 2^p per task, the partial max runs inside the scan stage):
    exactly one exchange, no join anywhere. The cardinality entry adds
    only 1-row aggregates crossed via broadcast — any shuffle join
    would mean the sketch stopped being a pure aggregate."""
    from datafusion_dist_spark.queries.aggregates import (
        agg_hll_cardinality,
        agg_hll_registers,
    )

    regs = agg_hll_registers(spark, SF_DIR)
    facts = plan_facts(regs)
    assert facts["n_exchanges"] == 1, formatted_plan(regs)
    assert (
        facts["n_broadcast_joins"]
        + facts["n_shuffledhash_joins"]
        + facts["n_sortmerge_joins"]
    ) == 0
    card = agg_hll_cardinality(spark, SF_DIR)
    cfacts = plan_facts(card)
    assert cfacts["n_shuffledhash_joins"] + cfacts["n_sortmerge_joins"] == 0, (
        formatted_plan(card)
    )


def test_hll_overlap_matrix_scans_twice(spark):
    """agg_hll_overlap_matrix's EXECUTED plan: exactly TWO events
    scans — the register build and the column-pruned distinct-type
    pair frame (persisted: guard probe + pair frame share that one
    pass) — with the shared register branch's exchange reused between
    the per-side and union aggregates. A third scan means a sketch
    branch split off the shared exchange (the broadcast-recompute /
    aggregate-fusion trap this entry's structure exists to avoid).
    Counted on the JVM executedPlan (executed_scan_facts), not plan
    text — a nested InMemoryRelation truncates the printed tree."""
    import re as _re

    from datafusion_dist_spark.plans import executed_scan_facts
    from datafusion_dist_spark.queries.aggregates import (
        agg_hll_overlap_matrix,
    )

    df = agg_hll_overlap_matrix(spark, SF_DIR)
    df.collect()
    facts = executed_scan_facts(df)
    assert facts["source_scans"] == 2, facts
    assert facts["reused_exchanges"] >= 1, facts
    assert facts["shuffle_joins"] == 0, facts
    # Both scans must stay pruned to the two working columns (the
    # pair-frame scan carries user_id only for its NULL filter).
    details = formatted_plan(df)
    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", details)
    assert schemas, details[:2000]
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"event_type", "user_id"}, schemas


def test_theta_matrix_single_scan_over_cached_sketch(spark):
    """agg_theta_intersection_matrix's EXECUTED plan: ONE events scan
    feeding the persisted KMV sketch; every pair-algebra branch (side
    thetas, pair frame, replicate join) reads the InMemoryRelation.
    A second parquet scan means a sketch-derived broadcast branch
    recomputed the distinct-key exchange from source — the r8
    broadcast-recompute trap the persist exists to close. No shuffle
    join anywhere: the pair frames stay broadcast-only. Counted on
    the JVM executedPlan (executed_scan_facts) because the nested
    cached plan truncates the printed tree; runtime REST metrics
    cross-checked once by hand (one 100k-row parquet scan, three
    320-row cache reads)."""
    from datafusion_dist_spark.plans import executed_scan_facts
    from datafusion_dist_spark.queries.aggregates import (
        agg_theta_intersection_matrix,
    )

    df = agg_theta_intersection_matrix(spark, SF_DIR)
    df.collect()
    facts = executed_scan_facts(df)
    assert facts["source_scans"] == 1, facts
    assert facts["inmemory_scans"] >= 2, facts
    assert facts["shuffle_joins"] == 0, facts


def test_contamination_matrix_tokenizes_once(spark):
    """source_overlap_matrix's distinct-shingle subtree feeds four plan
    branches; all four must collapse to ONE scan + ONE tokenize via
    AQE exchange reuse in the EXECUTED plan (the static plan prints the
    branches separately — only the final plan proves the reuse)."""
    import re as _re

    from datafusion_dist_spark.queries.llm import pipeline_contamination_matrix

    df = pipeline_contamination_matrix(spark, SF_DIR)
    df.collect()
    final = formatted_plan(df).split("Initial Plan")[0]
    tree = _re.split(r"\n\(\d+\) ", final)[0]
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Generate") == 1, tree
    assert tree.count("ReusedExchange") >= 3, tree
    assert "CartesianProduct" not in tree
    # Exactly one nested-loop join is sanctioned: the complete pair
    # frame crosses the n_groups-row group list with itself on `<` —
    # dataset count, dozens of rows, broadcast both sides. Any second
    # NLJ would mean shingle or doc rows leaked into a pair loop.
    assert tree.count("BroadcastNestedLoopJoin") <= 1, tree


def test_cms_watchlist_single_grid_build(spark):
    """events_cms_watchlist's EXECUTED plan: the cell grid is built by
    exactly one explode over one events scan; the only other pass is
    the ts-only min/max calendar (its Generate is the window sequence,
    a handful of rows). A second grid build means the calendar branch
    got pruned back into a recompute (the bug the runtime audit caught
    in the distinct-windows form)."""
    import re as _re

    from datafusion_dist_spark.queries.temporal import events_cms_watchlist

    df = events_cms_watchlist(spark, SF_DIR)
    df.collect()
    final = formatted_plan(df).split("Initial Plan")[0]
    tree = _re.split(r"\n\(\d+\) ", final)[0]
    assert tree.count("Scan parquet") == 2, tree
    assert tree.count("Generate") == 2, tree
    assert "CartesianProduct" not in tree


def test_kmv_quantiles_single_exchange_window_group_limit(spark):
    """agg_kmv_quantiles' plan: ONE group exchange — the sketch
    window's group partitioning is reused by the quantile window and
    the final per-group aggregate (same key), and Spark plants a
    map-side WindowGroupLimit before it, so each task ships at most
    k rows per group into that one shuffle. The only other exchange
    permitted is spread()'s round-robin over an under-parallel source
    (single-split test corpus); it must sit BELOW the WindowGroupLimit
    so the per-task k-row pruning still bounds what the group exchange
    ships. No joins anywhere: the whole estimator is window +
    aggregate algebra."""
    from datafusion_dist_spark.queries.aggregates import agg_kmv_quantiles

    df = agg_kmv_quantiles(spark, SF_DIR)
    facts = plan_facts(df)
    plan = formatted_plan(df)
    assert facts["n_exchanges"] <= 2, plan
    if facts["n_exchanges"] == 2:
        assert plan.lower().count("roundrobin") == 1, plan
    assert (
        facts["n_broadcast_joins"]
        + facts["n_shuffledhash_joins"]
        + facts["n_sortmerge_joins"]
        + facts["n_bnl_joins"]
    ) == 0
    assert "WindowGroupLimit" in formatted_plan(df)


def test_runtime_bloom_filter_injected(spark):
    """join_runtime_bloom's plan must show Catalyst's runtime Bloom
    filter actually planted above the fact side (might_contain over a
    bloom_filter_agg subquery) with the join kept a shuffle join —
    the at-scale regime the entry models. The conf scoping must not
    leak: the SHARED session's thresholds stay at their defaults."""
    from datafusion_dist_spark.queries.relational import join_runtime_bloom

    before_bloom = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    before_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = join_runtime_bloom(spark, SF_DIR)
    txt = formatted_plan(df).lower()
    assert "might_contain" in txt, txt[:3000]
    assert "broadcasthashjoin" not in txt
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["n_items"] > 0
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
        == before_bloom
    )
    assert (
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        == before_bcast
    )
