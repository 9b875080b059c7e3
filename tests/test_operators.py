"""Operator-level semantics tests (beyond the oracle gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_dist_spark.catalog import load_table
from datafusion_dist_spark.operators import dedup, joins, similarity
from tests.conftest import SF_DIR


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    plain = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_custkey"
    )
    salted = joins.salted_join(li, o, "l_orderkey", "o_orderkey", salt=4).select(
        "l_orderkey", "l_quantity", "o_custkey"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_left_outer(spark):
    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey")
    o = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_custkey")
    )
    plain = c.join(o, c.c_custkey == o.o_custkey, "left_outer").select(
        "c_custkey", "o_orderkey"
    )
    salted = joins.salted_join(c, o, "c_custkey", "o_custkey", salt=4, how="left_outer").select(
        "c_custkey", "o_orderkey"
    )
    assert sorted(
        map(tuple, salted.collect()), key=str
    ) == sorted(map(tuple, plain.collect()), key=str)


def test_salted_join_rejects_key_only_left(spark):
    """A left side projected to the bare join key makes the content
    salt a pure key function — every hot-key row in ONE bucket, i.e.
    salting as a silent no-op that still pays the replicated right
    side. Must refuse loudly (review finding r9)."""
    c = load_table(spark, SF_DIR, "customer").select("c_custkey")
    o = load_table(spark, SF_DIR, "orders").select("o_custkey")
    with pytest.raises(ValueError, match="per-row-distinct"):
        joins.salted_join(c, o, "c_custkey", "o_custkey", salt=4)


def test_salt_column_excludes_nested_maps(spark):
    """Map types are unhashable to Spark's hash expressions at ANY
    nesting depth — a map buried in array<map<...>> or a struct field
    must be excluded from the content salt exactly like a top-level
    map, not passed through to an opaque xxhash64 analysis error
    (review finding r9). The salt stays a valid expression derived
    from the remaining columns."""
    df = spark.sql(
        "SELECT 1 AS id, map('a', 1) AS m, "
        "array(map('b', 2)) AS am, "
        "named_struct('inner', map('c', 3)) AS sm"
    )
    col = joins.salt_column(df, 4)
    assert df.select(col.alias("s")).collect()[0]["s"] in range(4)
    with pytest.raises(ValueError, match="no hashable"):
        joins.salt_column(df.select("m", "am", "sm"), 4)


def test_skew_stats(spark):
    e = load_table(spark, SF_DIR, "events")
    top = joins.skew_stats(e, "event_type", top=3).collect()
    assert len(top) == 3
    assert top[0].cnt >= top[1].cnt >= top[2].cnt
    assert 0 < top[0].fraction <= 1


def test_minhash_lsh_finds_planted_near_dups(spark):
    """Plant a near-duplicate (one token changed) and an exact dup;
    LSH must surface both pairs with sensible estimates."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(50)
    rows = docs.collect()
    base = rows[0].text
    mutated = base.rsplit(" ", 1)[0] + " zzz"
    planted = spark.createDataFrame(
        [(90001, base), (90002, mutated)], "doc_id long, text string"
    )
    corpus = docs.unionByName(planted)
    pairs = dedup.minhash_dedup_pairs(corpus, threshold=0.3).collect()
    by_pair = {(r.a_id, r.b_id): r.est_jaccard for r in pairs}
    exact_est = by_pair.get((rows[0].doc_id, 90001))
    assert exact_est == 1.0, f"exact dup must estimate 1.0: {by_pair}"
    near_keys = [k for k in by_pair if 90002 in k and rows[0].doc_id in k or k == (90001, 90002)]
    assert near_keys, f"near-dup pair not found: {by_pair}"


def test_simhash_exact_dup_distance_zero(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(30)
    first = docs.first()
    planted = spark.createDataFrame(
        [(90010, first.text)], "doc_id long, text string"
    )
    sims = dedup.simhash(docs.unionByName(planted))
    vals = {r.doc_id: r.simhash for r in sims.collect()}
    assert vals[first.doc_id] == vals[90010]


def test_ann_lsh_recall_vs_bruteforce(spark):
    """Multi-probe LSH top-10 must overlap substantially with exact
    top-10 (same-bucket near vectors)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 3).select("embedding").head()[0])
    exact = {r.vec_id for r in similarity.cosine_topk_bruteforce(emb, q, k=10).collect()}
    approx = {r.vec_id for r in similarity.lsh_bucket_topk(emb, q, k=10, nbits=4).collect()}
    assert len(exact & approx) >= 5, f"recall too low: {exact & approx}"


def test_embedding_near_dup_planted(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(100)
    first = emb.first()
    clone = spark.createDataFrame(
        [(99001, list(first.embedding), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = similarity.embedding_near_dup_pairs(
        emb.unionByName(clone), threshold=0.99
    ).collect()
    found = [(r.a_id, r.b_id) for r in pairs]
    assert (first.vec_id, 99001) in found, found


def test_hash_sample_deterministic_and_monotone(spark):
    from datafusion_dist_spark.operators import sampling

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    s1 = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 0.2).collect()}
    s2 = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 0.2).collect()}
    assert s1 == s2, "same rate must select identical rows"
    bigger = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 0.5).collect()}
    assert s1 <= bigger, "sample at higher rate must be a superset"
    n = docs.count()
    assert 0.1 * n < len(s1) < 0.35 * n, f"rate far off: {len(s1)}/{n}"


def test_stratified_sample_rates_respected(spark):
    from datafusion_dist_spark.operators import sampling

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    out = sampling.stratified_hash_sample(
        docs, "doc_id", "source", {"src1": 1.0}, default_rate=0.0
    )
    rows = out.collect()
    assert rows, "rate-1.0 stratum must survive"
    assert {r.source for r in rows} == {"src1"}
    n_src1 = docs.filter(F.col("source") == "src1").count()
    assert len(rows) == n_src1, "rate 1.0 must keep the whole stratum"


def test_ivf_topk_overlaps_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 5).select("embedding").head()[0])
    exact = {r.vec_id for r in similarity.cosine_topk_bruteforce(emb, q, k=10).collect()}
    approx = {r.vec_id for r in similarity.ivf_topk(emb, q, k=10, n_centroids=8, nprobe=3).collect()}
    assert len(exact & approx) >= 4, f"IVF recall too low: {exact & approx}"


def test_ivf_assignment_is_total_partition(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    assigned, cents = similarity.ivf_assignments(emb, n_centroids=8)
    n = emb.count()
    assert assigned.count() == n, "every vector must get exactly one centroid"
    assert assigned.select("cid").distinct().count() <= 8


def test_duplicate_clusters_resolves_chains(spark):
    """A~B and B~C (no direct A~C) must land in one cluster with
    cluster_id = min; disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200), (500, 150)],
        "a_id long, b_id long",
    )
    got = {
        r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {
        10: 10, 20: 10, 30: 10, 40: 10,
        100: 100, 200: 100,
        150: 150, 500: 150,
    }, got


def test_duplicate_clusters_from_minhash_pairs(spark):
    """End-to-end: corpus near-dup pairs → clusters; every planted
    copy (doc_id+100000) must share a cluster with its original."""
    corpus = _corpus_for_test(spark)
    pairs = dedup.minhash_dedup_pairs(corpus, threshold=0.9)
    clusters = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    originals = [d for d in clusters if d < 100000 and d + 100000 in clusters]
    assert originals, "no copy pairs found"
    for d in originals:
        assert clusters[d] == clusters[d + 100000], (d, clusters[d], clusters[d + 100000])


def _corpus_for_test(spark):
    from datafusion_dist_spark.queries.llm import _corpus

    return _corpus(spark, SF_DIR)


def test_redact_masks_planted_pii(spark):
    from datafusion_dist_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "contact me at jane.doe+x@example.co.uk today"),
            (2, "call +1 (415) 555-0199 or 020-7946-0958 now"),
            (3, "see https://example.com/a?b=c#frag and more"),
            (4, "Customer CUSTOMER customerly"),
            (5, "clean text with nothing sensitive"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.text_redacted
        for r in text_ops.redact(docs, entities=("customer",)).collect()
    }
    assert out[1] == "contact me at <EMAIL> today"
    assert "<PHONE>" in out[2] and "555" not in out[2]
    assert out[3] == "see <URL> and more"
    # whole-word, case-insensitive: 'customerly' untouched
    assert out[4] == "<ENT> <ENT> customerly"
    assert out[5] == "clean text with nothing sensitive"


def test_decontaminate_flags_planted_benchmark_copy(spark):
    from datafusion_dist_spark.operators import text as text_ops

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 5)
    # Plant a verbatim benchmark copy into the corpus.
    leak = bench.limit(1).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    corpus = docs.filter(F.col("doc_id") >= 5).unionByName(leak)
    flagged = {
        r.doc_id: r.max_shared
        for r in text_ops.decontaminate_overlap(corpus, bench, min_shared=5).collect()
    }
    assert 900000 in flagged, flagged
    assert flagged[900000] >= 5


def test_salted_join_rejects_right_outer(spark):
    """Right/full outer would emit salt copies of unmatched right rows;
    the operator must refuse instead of silently duplicating."""
    import pytest

    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    with pytest.raises(ValueError, match="salt the other side"):
        joins.salted_join(li, o, "l_orderkey", "o_orderkey", how="right")


def test_duplicate_clusters_long_chain_converges(spark):
    """Pointer jumping: a 30-edge chain (diameter 30) must fully
    converge within the default max_iters=8 — one-hop propagation
    alone would silently return wrong labels."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a_id long, b_id long"
    )
    out = dedup.duplicate_clusters(pairs).collect()
    assert len(out) == 31
    assert all(r.cluster_id == 0 for r in out), sorted(
        (r.doc_id, r.cluster_id) for r in out
    )[:5]


def test_redact_escapes_regex_metacharacters(spark):
    from datafusion_dist_spark.operators.text import redact

    docs = spark.createDataFrame(
        [(1, "we use C++ at Acme Inc. and CCC daily")], "doc_id long, text string"
    )
    out = redact(docs, entities=("C++", "Acme Inc.")).head()
    red = out.text_redacted
    assert "C++" not in red and "Acme Inc." not in red
    # '+' must not quantify: plain C runs and other text survive.
    assert "CCC" in red and "daily" in red


def test_quantize_int8_zero_vector(spark):
    emb = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, -2.0, 0.5, 4.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in similarity.quantize_int8(emb).collect()}
    z = rows[0]
    assert z.scale == 0.0 and z.q_sum == 0 and z.max_err == 0.0
    assert list(z.q_vec) == [0, 0, 0, 0]
    assert rows[1].q_sum is not None  # nonzero path unaffected


def test_vector_ops_tolerate_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.embedding_near_dup_pairs(empty).count() == 0
    assigned, _ = similarity.ivf_assignments(empty, n_centroids=8)
    assert assigned.count() == 0


def test_multimodal_null_payloads_skipped(spark):
    from datafusion_dist_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string"
    )
    p = multimodal.attach_payload(docs)
    assert {r.doc_id for r in multimodal.extract_features(p).collect()} == {1}
    assert {r.doc_id for r in multimodal.resize_images(p).collect()} == {1}
    assert {r.doc_id for r in multimodal.sample_frames(p).collect()} == {1}


def test_approx_distinct_within_hll_error_bound(spark):
    """agg_approx_distinct projects the sketch's QUALITY, not its value
    (sketches are engine-specific): HyperLogLog++ at the default
    rsd=0.05 must land within ceil(15%) (3x rsd) of the exact
    per-group distinct count it reports beside it — a broken sketch or
    wrong column fails loudly."""
    from datafusion_dist_spark.queries.aggregates import agg_approx_distinct

    got = {
        r.l_returnflag: (r.n_orders, r.within_bound)
        for r in agg_approx_distinct(spark, SF_DIR).collect()
    }
    li = load_table(spark, SF_DIR, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_orderkey").alias("n"))
        .collect()
    }
    assert got == {flag: (n, True) for flag, n in exact.items()}


def test_approx_distinct_error_across_scales_and_seeds(spark):
    """The HLL++ error bound holds ACROSS group sizes and id
    distributions, not just the one lineitem layout: 3 deterministic
    id patterns (sequential, odd-stride, splitmix-style scrambled) ×
    group sizes spanning 10..100k — covering the sparse/dense sketch
    representations and the regime where the estimator switches —
    must each land within 3×rsd of the exact count (plus a small
    absolute floor for tiny groups). A registration-order or
    column-wiring bug produces ~100% error and fails instantly."""
    sizes = [10, 100, 1_000, 10_000, 100_000]
    # (seed name, id transform as a Spark column over F.col("id"))
    patterns = [
        ("seq", F.col("id")),
        ("stride", F.col("id") * 1_000_003 + 17),
        # splitmix-ish scramble: spreads bits across the hash domain
        ("scramble", F.xxhash64(F.col("id"))),
    ]
    rows = []
    for size in sizes:
        base = spark.range(size)
        for name, expr in patterns:
            got = (
                base.select(expr.alias("v"))
                .agg(F.approx_count_distinct("v").alias("a"))
                .first()
                .a
            )
            rows.append((name, size, got))
    for name, size, got in rows:
        assert abs(got - size) <= max(2, 0.15 * size), (name, size, got)


def test_kmeans_train_stops_at_fixed_point(spark):
    """kmeans_train must detect the exact fixed point and stop early:
    when every vector sits exactly on its seed centroid, round 2
    reproduces round 1's codebook bit-for-bit and rounds 3..max are
    provably no-ops (which is why a fixed-round oracle stays valid)."""
    rows = []
    for vec_id, base in [(0, 0.0), (1, 10.0)]:
        for copy in range(5):
            rows.append((vec_id if copy == 0 else 2 + vec_id * 5 + copy,
                         [base] * 4))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out, rounds = similarity.kmeans_train(df, n_centroids=2, max_rounds=10)
    assert rounds == 2, f"expected early stop at round 2, ran {rounds}"
    got = {(r.cid, r.dim): (r.centroid, r.n_members) for r in out.collect()}
    for dim in range(1, 5):
        assert got[(0, dim)] == (0.0, 5)
        assert got[(1, dim)] == (10.0, 5)


def test_kmeans_train_rejects_no_rounds(spark):
    with pytest.raises(ValueError, match="max_rounds"):
        similarity.kmeans_train(spark.range(1), max_rounds=0)


def test_kmeans_fused_rounds_bit_identical(spark):
    """The r12 batched trainer (two Lloyd rounds per collect, round B
    chained in-plan through the dynamic-codebook scorer) must be
    BIT-identical to the original one-collect-per-round loop: same
    rounds count, same parameterizing codebook, same returned rows —
    on an input whose means are non-trivial doubles and which does NOT
    converge within max_rounds (so the dynamic chaining path is what
    produced every intermediate codebook)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out, rounds = similarity.kmeans_train(df, n_centroids=4, max_rounds=4)

    # Replay of the pre-r12 sequential loop, verbatim semantics.
    out_seq = similarity.kmeans_refine_step(df, n_centroids=4)
    param = None
    prev = None
    rr = 1
    while rr < 4:
        cb = similarity.collect_codebook(out_seq)
        if cb == prev:
            break
        prev = cb
        param = cb
        out_seq = similarity.kmeans_refine_step(df, codebook=cb)
        rr += 1
    final_seq = similarity.kmeans_refine_step(df, n_centroids=4, codebook=param)

    assert rounds == rr
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in final_seq.collect())
    assert got == want  # exact, including float bits


def test_substring_spans_catch_copied_paragraph(spark):
    """A span copied between two otherwise-unrelated docs must pair
    them (the case token-set Jaccard misses: the shared span is a
    small fraction of both docs); an unrelated doc must stay unpaired."""
    copied = "this exact paragraph was copied verbatim between pages"
    rows = [
        (1, "alpha beta gamma delta " + copied + " epsilon zeta eta"),
        (2, "one two three four five " + copied + " six seven eight nine"),
        (3, "completely different content with no overlap whatsoever here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.substring_span_pairs(docs, span_chars=24, min_shared=2)
    got = {(r.a_id, r.b_id): r.n_shared_spans for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] >= 10
    assert all(3 not in pair for pair in got)

    # Identical docs: full containment.
    twins = spark.createDataFrame(
        [(1, "x" * 10 + " shared body of text long enough for spans"),
         (2, "x" * 10 + " shared body of text long enough for spans")],
        "doc_id long, text string",
    )
    t = dedup.substring_span_pairs(twins, span_chars=24, min_shared=2).collect()
    assert len(t) == 1 and t[0].span_containment == 1.0


def test_tfidf_distinctive_term_ranks_first(spark):
    """A term unique to one doc must out-rank corpus-wide terms."""
    from datafusion_dist_spark.operators import text as text_ops

    rows = [
        (1, "common common common zebra"),
        (2, "common common filler filler"),
        (3, "common filler filler filler"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = text_ops.tfidf_topk(docs, k_top=1).collect()
    by_doc = {r.doc_id: r for r in top}
    assert by_doc[1].term == "zebra"  # df=1 beats tf=3 of df=3 'common'
    assert by_doc[1].tfidf > 0
    # 'common' appears in every doc: idf = ln(1) = 0 everywhere.
    assert all(r.term != "common" for r in top)


def test_bigram_lm_score_ranks_typical_text_higher(spark):
    """A doc made of the corpus's dominant bigrams must score higher
    (less negative mean log-prob) than one full of rare bigrams."""
    from datafusion_dist_spark.operators import text as text_ops

    # Context 'a' is ambiguous: 'ab' dominates the corpus, 'ac' is
    # rare — so the 'ac' doc must score lower. (A corpus where every
    # context has a single successor scores 0.0 everywhere.)
    rows = [(i, "abababab") for i in range(9)] + [(9, "acacacac")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r.doc_id: r.avg_logprob for r in
              text_ops.bigram_lm_score(docs).collect()}
    assert scores[0] > scores[9], scores
    assert len(scores) == 10


def test_normalized_dedup_catches_case_punct_variants(spark):
    """Raw exact dedup misses an uppercased/punctuated re-scrape;
    normalized dedup collapses it onto the original."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(20)
    variant = docs.limit(1).select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("!!  ")).alias("text"),
    )
    corpus = docs.unionByName(variant)
    assert dedup.exact_dedup_keep_min(corpus).count() == 0
    groups = dedup.exact_dedup_normalized(corpus).collect()
    assert len(groups) == 1 and groups[0].n_copies == 2


def test_bloom_decontaminate_matches_exact_join(spark):
    """The Bloom prefilter must be loss-free: verify-stage output is
    bit-identical to the exact inverted-index overlap (no false
    negatives by construction; false positives die in verify)."""
    from datafusion_dist_spark.operators import text as text_ops

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    bloom = text_ops.decontaminate_bloom_verify(
        corpus, bench, min_shared=2
    ).collect()
    # Exact twin: union-of-benchmark-shingles overlap counts.
    from datafusion_dist_spark.functions.hashing import shingle_array, tokens

    def sh(df, alias):
        t = df.select(F.col("doc_id").alias(alias), tokens(F.col("text")).alias("toks"))
        return t.select(alias, F.explode(F.array_distinct(shingle_array(F.col("toks"), 3))).alias("shingle"))

    exact = (
        sh(corpus, "doc_id")
        .join(sh(bench, "bench_id").select("shingle").distinct(), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .collect()
    )
    assert sorted(map(tuple, bloom)) == sorted(map(tuple, exact))


def test_bloom_decontaminate_tiny_filter_still_exact(spark):
    """Even a saturated 1-Kbit Bloom (FP rate ~1) cannot corrupt the
    result — the verify join makes the pipeline exact, only slower."""
    from datafusion_dist_spark.operators import text as text_ops

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(40)
    bench = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    small = text_ops.decontaminate_bloom_verify(
        corpus, bench, min_shared=2, m_bits=1 << 10
    ).collect()
    big = text_ops.decontaminate_bloom_verify(
        corpus, bench, min_shared=2, m_bits=1 << 20
    ).collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, big))


def test_temperature_sample_flattens_mixture(spark):
    """alpha<1 must upweight rare strata: the rare stratum's keep-rate
    exceeds the common stratum's, and the overall kept fraction is
    within a few points of frac."""
    from datafusion_dist_spark.operators import sampling as smp

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    n = docs.count()
    out = smp.temperature_sample(docs, "doc_id", "lang", alpha=0.5, frac=0.5)
    kept = out.groupBy("lang").count().collect()
    base = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    rates = {r["lang"]: r["count"] / base[r["lang"]] for r in kept}
    rare = min(base, key=base.get)
    common = max(base, key=base.get)
    assert rates.get(rare, 0) >= rates.get(common, 1e9) or rates.get(rare, 0) == 1.0
    total_kept = sum(r["count"] for r in kept)
    assert abs(total_kept / n - 0.5) < 0.1


def test_triangle_count_k4_plus_chain(spark):
    """K4 (4 triangles, 3 per node) plus a pendant chain (0)."""
    from datafusion_dist_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "u long, v long",
    )
    out = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_session_cache_two_threads_alternate_two_graphs(spark):
    """Two threads alternate triangle_count over two different edge
    lists. Each graph keeps its own session-cache entries (two per
    name), so neither thread unpersists the table the other is
    reading: every result equals its single-threaded result, every
    repeat call is a cache hit, and at most two tables per cache name
    stay persisted afterwards."""
    import threading

    from datafusion_dist_spark.operators.common import session_cache_hits
    from datafusion_dist_spark.operators.graph import triangle_count

    graphs = [
        spark.createDataFrame(edges, "u long, v long")
        for edges in (
            [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
            [(10, 11), (10, 12), (11, 12), (12, 13), (13, 14), (12, 14)],
        )
    ]

    def run(g):
        return sorted(tuple(r) for r in triangle_count(graphs[g]).collect())

    sc = spark.sparkContext
    rdds0 = sc._jsc.getPersistentRDDs().size()
    want = [run(0), run(1)]
    h0 = session_cache_hits()
    rounds = 5
    got = {0: [], 1: []}
    errors = []

    def worker(g):
        try:
            for _ in range(rounds):
                got[g].append(run(g))
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(g,)) for g in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == {0: [want[0]] * rounds, 1: [want[1]] * rounds}
    # 2 threads x 5 rounds x 2 cache names, all warm after want[]
    assert session_cache_hits() - h0 == 2 * rounds * 2
    names_used = 2  # triangle_edges, triangle_oriented
    assert sc._jsc.getPersistentRDDs().size() <= rdds0 + 2 * names_used


@pytest.mark.parametrize("same_plan", [False, True])
def test_session_cache_lost_race_keeps_one_copy(spark, same_plan):
    """Two callers miss the same key and build concurrently (the build
    runs outside the lock): both get the first inserted value and
    exactly one persisted copy survives. An equal-plan loser shares
    the winner's storage, so it must not be unpersisted."""
    import threading

    from datafusion_dist_spark.operators.common import forget, session_cache

    barrier = threading.Barrier(2)
    built, out = [], [None, None]

    def build(i):
        df = spark.range(1717 if same_plan else 1717 + i)
        built.append(df)
        barrier.wait(timeout=60)
        return df

    def call(i):
        out[i] = session_cache(spark, "test_race", (same_plan,), lambda: build(i))

    threads = [threading.Thread(target=call, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert len(built) == 2 and out[0] is out[1] and out[0] in built
    # storageLevel looks the plan up in Spark's CacheManager, so equal
    # plans both report the one surviving copy
    persisted = [df for df in built if df.storageLevel.useMemory]
    assert len(persisted) == (2 if same_plan else 1)
    assert out[0].storageLevel.useMemory
    forget(spark, "test_race", (same_plan,))
    assert not any(df.storageLevel.useMemory for df in built)


def test_session_cache_stress_counts_every_hit(spark):
    """More threads than cores hammer two cache names with a short
    switch interval: every call is either a hit or a build (a lost
    counter update breaks the sum), and all callers of a name that
    never evicts share one value per key."""
    import os
    import sys
    import threading

    from datafusion_dist_spark.operators.common import (
        forget,
        session_cache,
        session_cache_hits,
    )

    n_threads, calls = 2 * (os.cpu_count() or 2), 50
    lock = threading.Lock()
    builds, seen = [0], {}

    def build(key):
        with lock:
            builds[0] += 1
        return ("v", key, object())

    def worker(t):
        for i in range(calls):
            name, k = ("stress_a", i % 2) if i % 3 else ("stress_b", t)
            v = session_cache(spark, name, (k,), lambda: build((name, k)))
            if name == "stress_a":
                with lock:
                    seen.setdefault(k, set()).add(id(v))

    h0 = session_cache_hits()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert session_cache_hits() - h0 + builds[0] == n_threads * calls
    assert {k: len(ids) for k, ids in seen.items()} == {0: 1, 1: 1}
    for name, keys in (("stress_a", range(2)), ("stress_b", range(n_threads))):
        for k in keys:
            forget(spark, name, (k,))


def test_session_cache_bound_evicts_oldest(spark):
    """At most two entries per name: a third key evicts and
    unpersists the oldest; the two newest stay warm."""
    from datafusion_dist_spark.operators.common import (
        forget,
        session_cache,
        session_cache_hits,
    )

    dfs = [
        session_cache(spark, "test_bound", (i,), lambda i=i: spark.range(2000 + i))
        for i in range(3)
    ]
    assert [df.storageLevel.useMemory for df in dfs] == [False, True, True]
    h0 = session_cache_hits()
    for i in (1, 2):
        assert session_cache(spark, "test_bound", (i,), None) is dfs[i]
    assert session_cache_hits() == h0 + 2
    for i in range(3):
        forget(spark, "test_bound", (i,))
    assert not any(df.storageLevel.useMemory for df in dfs)


def test_shuffle_shard_is_a_permutation(spark):
    """Every doc appears exactly once; positions are 1..n_s per shard."""
    import __spark_entry__ as E

    out = E.queries()["pipeline_shuffle_shard"](spark, SF_DIR).collect()
    n = load_table(spark, SF_DIR, "documents").count()
    assert len(out) == n and len({r.doc_id for r in out}) == n
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_incremental_dedup_only_cross_set_pairs(spark):
    """Planted batch copies of index docs are flagged; the pair list
    never contains index-index or batch-batch pairs."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    index = docs.filter(F.col("doc_id") < 40)
    planted = index.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") >= 40).unionByName(planted)
    pairs = dedup.minhash_dedup_pairs(
        index.unionByName(batch), threshold=0.5, split_id=40
    ).collect()
    assert all(r.a_id < 40 <= r.b_id for r in pairs)
    flagged = {r.b_id for r in pairs}
    for r in planted.collect():
        assert r.doc_id in flagged, f"planted copy {r.doc_id} not flagged"


def test_ivf_knn_join_probing_all_lists_is_exact(spark):
    """nprobe == n_centroids probes every inverted list, so the IVF
    route must return knn_join's exact result, bit for bit."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    exact = similarity.knn_join(qs, emb, k=3).collect()
    ivf = similarity.ivf_knn_join(
        qs, emb, k=3, n_centroids=8, nprobe=8
    ).collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, exact))


def test_ivf_knn_join_candidates_respect_probes(spark):
    """With nprobe < K every returned neighbor's assigned list must be
    one of its query's probed lists (no leakage past the quantizer)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    out = similarity.ivf_knn_join(qs, emb, k=4, n_centroids=8, nprobe=2)
    assigned, _ = similarity.ivf_assignments(emb, n_centroids=8)
    cid_of = {r.vec_id: r.cid for r in assigned.select("vec_id", "cid").collect()}
    rows = out.collect()
    assert rows, "no neighbors returned"
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    for q_id, nbrs in per_q.items():
        assert [r.rn for r in sorted(nbrs, key=lambda r: r.rn)] == list(
            range(1, len(nbrs) + 1)
        )
        lists_used = {cid_of[r.c_id] for r in nbrs}
        assert len(lists_used) <= 2


def test_scd2_pit_fact_on_change_date_sees_new_status(spark):
    """A fact timestamped exactly at a dimension change must pick up
    the NEW status (state rows order before fact rows at equal ts),
    and facts before any state resolve to the NONE sentinel."""
    import __spark_entry__ as E

    rows = E.queries()["join_scd2_pit"](spark, SF_DIR).collect()
    assert rows and all(r.status_at_ship is not None for r in rows)
    # Cross-check a sample against a brute-force interval scan.
    from datafusion_dist_spark.catalog import load_table
    from pyspark.sql import Window as W

    o = load_table(spark, SF_DIR, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    states = (
        o.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
        .withColumn("prev", F.lag("o_orderstatus").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("o_orderstatus")))
        # Epoch micros computed BY SPARK (same expression the query
        # uses) — any Python datetime arithmetic here would re-import
        # host-timezone rendering subtleties into the oracle.
        .withColumn(
            "odate_us", F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        )
        .collect()
    )
    by_ck = {}
    for s in states:
        by_ck.setdefault(s.o_custkey, []).append(s)
    li = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_orderkey") < 2000)
    facts = {
        (r.l_orderkey, r.l_linenumber): (r.o_custkey, r.ship_us, r.status_at_ship)
        for r in rows
    }
    import random

    random.seed(7)
    sample = random.sample(sorted(facts), min(50, len(facts)))
    for key in sample:
        ck, ship_us, got = facts[key]
        hist = sorted(
            by_ck.get(ck, []),
            key=lambda s: (s.o_orderdate, s.o_orderkey),
        )
        expect = "NONE"
        for s in hist:
            if s.odate_us <= ship_us:
                expect = s.o_orderstatus
        assert got == expect, (key, got, expect)


def test_lsh_quality_perfect_on_exact_duplicates(spark):
    """On a corpus whose only near-dups are exact copies, LSH flags
    every true pair (recall 1.0) — exact duplicates share every
    minhash component, so banding cannot miss them."""
    import __spark_entry__ as E

    row = E.queries()["dedup_lsh_quality"](spark, SF_DIR).collect()[0]
    assert row.n_true > 0
    assert row.recall_ == 1.0, row
    assert 0.0 < row.precision_ <= 1.0


def test_ngram_truth_cache_matches_direct_derivation(spark):
    """The per-(session, sf_dir) persisted exact-Jaccard pair set that
    dedup_lsh_quality's ground-truth arm reads (r12) must be
    bit-identical to deriving the pairs inline with the same
    parameters — identical parameters ⇒ identical pair set, and a warm
    second lookup must be a cache hit (the bench's per-query ``warm``
    annotation keys on that counter)."""
    from datafusion_dist_spark.operators.common import session_cache_hits
    from datafusion_dist_spark.queries import llm

    direct = dedup.ngram_jaccard_pairs(
        llm._corpus(spark, SF_DIR), threshold=0.5, max_list_len=None
    )
    shared = llm._ngram_truth_shared(spark, SF_DIR)
    want = sorted(tuple(r) for r in direct.collect())
    got = sorted(tuple(r) for r in shared.collect())
    assert got == want
    h0 = session_cache_hits()
    again = llm._ngram_truth_shared(spark, SF_DIR)
    assert session_cache_hits() == h0 + 1
    assert again is shared


def test_embedding_health_report_degenerate_rows_match_oracle(spark, tmp_path):
    """The health report must stay engine-identical exactly on the
    unhealthy inputs it exists to detect: a NaN component makes the
    norm NaN (non-ANSI Spark would cast it to 0 → miscounted as
    n_zero_norm; DuckDB would error on CAST(NaN AS BIGINT)), and an
    inf component makes it inf. Both are nulled out pre-cast on both
    engines and reported only via n_with_nan / left out of the norm
    stats."""
    import math

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_dist_spark import registry
    from tests.oracle_compare import assert_frames_match

    rows = {
        "vec_id": [1, 2, 3, 4, 5],
        "embedding": [
            [1.0] * 64,                                  # healthy
            [math.nan] + [1.0] * 63,                     # NaN component
            [math.inf] + [0.0] * 63,                     # inf component
            [0.0] * 64,                                  # zero norm
            [2.0] * 32,                                  # wrong dim
        ],
        "label": [0, 1, 2, 3, 4],
    }
    t = pa.table(
        rows,
        schema=pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    spec = registry.all_specs()["embedding_health_report"]
    sdf = spec.spark_fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    odf = con.execute(spec.oracle).fetchdf()
    con.close()
    assert_frames_match(sdf, odf, "embedding_health_report/degenerate")
    row = sdf.iloc[0]
    assert row["n_vectors"] == 5
    assert row["n_with_nan"] == 1
    assert row["n_bad_dim"] == 1
    assert row["n_zero_norm"] == 1
    # Only the 3 finite-norm rows feed the norm stats.
    assert row["min_norm_u"] == 0


def test_pagerank_eight_rounds_checkpointed_matches_oracle(spark, duck):
    """Iteration count must not be bounded by plan growth: 8 rounds
    with lineage cut every 3 produce bit-identical scores to the
    8-iteration SQL oracle, and the final plan really is truncated
    (a LogicalRDD scan replaces the pre-cut subtree)."""
    from datafusion_dist_spark.operators.graph import (
        bipartite_edges,
        pagerank,
        pagerank_iter_oracle,
    )
    from tests.oracle_compare import assert_frames_match

    edges = bipartite_edges(
        load_table(spark, SF_DIR, "orders"),
        load_table(spark, SF_DIR, "lineitem"),
    )
    scores = pagerank(edges, iterations=8, checkpoint_every=3)
    plan = scores._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    iters = ",".join(
        pagerank_iter_oracle(f"s{i}", f"s{i + 1}") for i in range(8)
    )
    oracle = f"""
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        edges AS (
            SELECT 'c:' || CAST(ck AS VARCHAR) AS src,
                   's:' || CAST(sk AS VARCHAR) AS dst FROM pairs
            UNION ALL
            SELECT 's:' || CAST(sk AS VARCHAR) AS src,
                   'c:' || CAST(ck AS VARCHAR) AS dst FROM pairs
        ),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        s0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS score
               FROM deg),
        {iters}
        SELECT node, CAST(score AS BIGINT) AS score FROM s8
    """
    assert_frames_match(
        scores.toPandas(), duck.execute(oracle).fetchdf(), "pagerank8"
    )


def test_ivf_prebuilt_matches_inline_exactly(spark, tmp_path):
    """ivf_index_build + ivf_knn_join_prebuilt must return the inline
    ivf_knn_join result bit for bit: same assignment scorer, same
    probe-ranking discipline, same stored-norm expression, same
    rounding and tiebreaks — the index just moves the assignment to
    ingest time."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") % 40 == 0)
    inline = similarity.ivf_knn_join(
        qs, emb, k=5, n_centroids=8, nprobe=2
    ).collect()
    path = str(tmp_path / "ivf-index")
    similarity.ivf_index_build(emb, n_centroids=8, path=path)
    prebuilt = similarity.ivf_knn_join_prebuilt(
        spark, path, qs, k=5, nprobe=2
    ).collect()
    assert sorted(map(tuple, prebuilt)) == sorted(map(tuple, inline))
    assert prebuilt, "empty kNN result"


def test_ivf_prebuilt_empty_corpus_and_empty_queries(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf-empty")
    similarity.ivf_index_build(emb.filter(F.lit(False)), n_centroids=8, path=path)
    out = similarity.ivf_knn_join_prebuilt(spark, path, emb.limit(3), k=5)
    assert out.collect() == []
    path2 = str(tmp_path / "ivf-full")
    similarity.ivf_index_build(emb, n_centroids=8, path=path2)
    out2 = similarity.ivf_knn_join_prebuilt(
        spark, path2, emb.filter(F.lit(False)), k=5
    )
    assert out2.collect() == []


def test_minhash_prebuilt_matches_union_exactly(spark, tmp_path):
    """minhash_index_build + minhash_dedup_pairs_prebuilt must return
    the incremental union form's pairs bit for bit — the index just
    moves the corpus sketch to ingest time (same shingles, signatures,
    banding, estimate, and cross-set predicate)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    index = docs.filter(F.col("doc_id") < 40)
    planted = index.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") >= 40).unionByName(planted)
    union_pairs = dedup.minhash_dedup_pairs(
        index.unionByName(batch), threshold=0.5, split_id=40
    ).collect()
    path = str(tmp_path / "mh-index")
    dedup.minhash_index_build(index, path)
    pre_pairs = dedup.minhash_dedup_pairs_prebuilt(
        spark, path, batch, split_id=40, threshold=0.5
    ).collect()
    assert sorted(map(tuple, pre_pairs)) == sorted(map(tuple, union_pairs))
    assert pre_pairs, "no pairs found"
    flagged = {r.b_id for r in pre_pairs}
    for r in planted.collect():
        assert r.doc_id in flagged, f"planted copy {r.doc_id} not flagged"


def test_minhash_index_params_sidecar(spark, tmp_path):
    """The index's _params.json sidecar is the source of truth for
    sketch parameters: the prebuilt query path derives k/bands/rows
    from it when the caller passes none (so non-default indexes keep
    working without the caller repeating the numbers), and REJECTS a
    mismatching explicit value — a silent k/bands mismatch corrupts
    every Jaccard estimate (sig length vs num_hashes divisor)."""
    import pytest as _pytest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    index = docs.filter(F.col("doc_id") < 30)
    batch = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text"
    )
    path = str(tmp_path / "mh-params")
    dedup.minhash_index_build(index, path, k=4, bands=2, rows_per_band=8)
    # Defaults derive from the sidecar → identical to the union form
    # run with the build-time parameters.
    derived = dedup.minhash_dedup_pairs_prebuilt(
        spark, path, batch, split_id=400000, threshold=0.5
    ).collect()
    union = dedup.minhash_dedup_pairs(
        index.unionByName(batch),
        k=4,
        bands=2,
        rows_per_band=8,
        threshold=0.5,
        split_id=400000,
    ).collect()
    assert sorted(map(tuple, derived)) == sorted(map(tuple, union))
    assert derived, "planted exact copies must pair"
    # An explicit mismatch raises instead of silently mis-estimating.
    with _pytest.raises(ValueError, match="built with"):
        dedup.minhash_dedup_pairs_prebuilt(
            spark, path, batch, split_id=400000, k=3
        )
    with _pytest.raises(ValueError, match="bands"):
        dedup.minhash_dedup_pairs_prebuilt(
            spark, path, batch, split_id=400000, bands=4
        )
    # r6: a LOST sidecar is an error unless the caller states ALL
    # sketch params — the old silent k=3/bands=4/rows=4 fallback
    # re-opened exactly the mismatch corruption the sidecar prevents.
    import os as _os

    _os.remove(_os.path.join(path, "_params.json"))
    with _pytest.raises(ValueError, match="no _params.json"):
        dedup.minhash_dedup_pairs_prebuilt(
            spark, path, batch, split_id=400000, threshold=0.5
        )
    explicit = dedup.minhash_dedup_pairs_prebuilt(
        spark, path, batch, split_id=400000, threshold=0.5,
        k=4, bands=2, rows_per_band=8,
    ).collect()
    assert sorted(map(tuple, explicit)) == sorted(map(tuple, union))


def test_minhash_index_append_matches_inline(spark, tmp_path):
    """minhash_index_append folds a crawl drop into an existing index
    so the NEXT drop pairs against it: after appending drop1, deduping
    drop2 via the prebuilt path must equal the inline union form over
    (index ∪ drop1 ∪ drop2) bit for bit — including cross-drop pairs
    (drop2 repeats drop1's texts). Appends always reuse the sidecar's
    sketch params; a lost sidecar refuses the append."""
    import pytest as _pytest

    split = 1_000_000
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    index = docs.filter(F.col("doc_id") < 60)
    src = docs.filter(F.col("doc_id") % 10 == 0)
    drops = [
        src.select((F.col("doc_id") + split * (i + 1)).alias("doc_id"), "text")
        for i in range(2)
    ]
    for buckets in (None, 4):
        path = str(tmp_path / f"mh-append-{buckets}")
        dedup.minhash_index_build(index, path, band_buckets=buckets)
        dedup.minhash_index_append(spark, drops[0], path)
        got = dedup.minhash_dedup_pairs_prebuilt(
            spark, path, drops[1], split_id=2 * split, threshold=0.5
        ).collect()
        want = dedup.minhash_dedup_pairs(
            index.unionByName(drops[0]).unionByName(drops[1]),
            threshold=0.5,
            split_id=2 * split,
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        # Cross-drop pairs prove the append is live: every drop1 doc is
        # an exact twin of its drop2 counterpart.
        cross = {(r.a_id, r.b_id) for r in got if r.a_id >= split}
        assert len(cross) >= src.count()
    import os as _os

    _os.remove(_os.path.join(path, "_params.json"))
    with _pytest.raises(ValueError, match="no _params.json"):
        dedup.minhash_index_append(spark, drops[0], path)


def test_band_stats_sidecar_merge_equals_rebuild(spark, tmp_path):
    """The _band_stats.json compaction is a true distributed aggregate:
    build over half the corpus + append the other half must leave the
    SAME register rows as one full build (max_rho max-merges, n_post
    sum-merges) — so a continuously-appended index answers bucket-
    cardinality questions as if it had been rebuilt, without ever
    rescanning itself."""
    from datafusion_dist_spark.sources.sidecar import read_json_sidecar

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    inc_path = str(tmp_path / "mh-inc")
    full_path = str(tmp_path / "mh-full")
    dedup.minhash_index_build(half_a, inc_path)
    dedup.minhash_index_append(spark, half_b, inc_path)
    dedup.minhash_index_build(docs, full_path)
    inc = read_json_sidecar(spark, inc_path, dedup.BAND_STATS_SIDECAR)
    full = read_json_sidecar(spark, full_path, dedup.BAND_STATS_SIDECAR)
    assert inc["registers"] == full["registers"]
    assert inc["registers"], "sidecar must hold register rows"


def test_measured_bucket_cap_selection(spark, tmp_path):
    """bucket_cap selection from measured cardinality (VERDICT r10
    task 5): a planted template cluster (one text repeated 400x — the
    hot-bucket shape the cap guards) raises the selected cap above the
    static default (recall headroom where buckets are legitimately
    big) but never past MAX_BUCKET_CAP; a healthy corpus keeps the
    default. The zero-cost sidecar read (select_bucket_cap), the
    inline 'measured' selection, and the pair output under an explicit
    equal cap all agree; a stats-less index refuses instead of
    silently falling back."""
    import os as _os

    import pytest as _pytest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 40)
    template = spark.range(400).select(
        (F.col("id") + 500_000).alias("doc_id"),
        F.lit(
            "identical template boilerplate page body repeated verbatim "
            "across the synthetic crawl for the hot bucket test"
        ).alias("text"),
    )
    corpus = base.unionByName(template)
    path = str(tmp_path / "mh-hot")
    dedup.minhash_index_build(corpus, path)
    cap = dedup.select_bucket_cap(spark, path)
    assert dedup.DEFAULT_BUCKET_CAP < cap <= dedup.MAX_BUCKET_CAP, cap
    # Inline measured selection over the same corpus agrees.
    banded = dedup._banded(
        dedup.minhash_signatures(dedup.doc_shingles(corpus), 16), 4, 4
    )
    stats = dedup.band_stats_from_registers(
        dedup.band_register_table(banded)
    ).collect()
    assert cap == max(r["bucket_cap"] for r in stats)
    # bucket_cap='measured' == the explicit equal cap, bit for bit.
    got = dedup.minhash_dedup_pairs(corpus, bucket_cap="measured").collect()
    want = dedup.minhash_dedup_pairs(corpus, bucket_cap=cap).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got, "template cluster must pair"
    # Healthy corpus: mean bucket ~1 -> the static default stands.
    healthy_path = str(tmp_path / "mh-healthy")
    dedup.minhash_index_build(docs.filter(F.col("doc_id") < 80), healthy_path)
    assert dedup.select_bucket_cap(spark, healthy_path) == dedup.DEFAULT_BUCKET_CAP
    # A stats-less index (predates the sidecar) refuses loudly.
    _os.remove(_os.path.join(path, dedup.BAND_STATS_SIDECAR))
    with _pytest.raises(ValueError, match="no _band_stats.json"):
        dedup.select_bucket_cap(spark, path)
    with _pytest.raises(ValueError, match="bucket_cap"):
        dedup.minhash_dedup_pairs(corpus, bucket_cap="typo")


def test_minhash_index_build_auto_layout(spark, tmp_path, monkeypatch):
    """band_buckets='auto' picks the layout from the estimated banded
    bytes: a small corpus writes FLAT (the measured faster serving
    layout below the crossover), and once the estimate crosses
    BUCKET_MIN_INDEX_BYTES — the LAYOUT crossover (~1 GiB), separate
    from and higher than the read-side PRUNE_MIN_INDEX_BYTES per r7
    ADVICE (threshold shrunk here rather than building a 1 GiB index
    in a unit test) — the same call writes the bucketed layout with
    the resolved bucket count in the sidecar — reads and appends
    never see the 'auto' sentinel."""
    import glob as _glob
    import os as _os

    from datafusion_dist_spark.sources.sidecar import read_json_sidecar

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    small = docs.filter(F.col("doc_id") < 60)

    flat_path = str(tmp_path / "mh-auto-flat")
    dedup.minhash_index_build(small, flat_path, band_buckets="auto")
    assert not _glob.glob(_os.path.join(flat_path, "band_id=*"))
    assert read_json_sidecar(spark, flat_path, "_params.json")[
        "band_buckets"
    ] is None

    monkeypatch.setattr(dedup, "BUCKET_MIN_INDEX_BYTES", 1)
    monkeypatch.setattr(dedup, "DEFAULT_BAND_BUCKETS", 4)
    bucketed_path = str(tmp_path / "mh-auto-bucketed")
    dedup.minhash_index_build(small, bucketed_path, band_buckets="auto")
    assert _glob.glob(_os.path.join(bucketed_path, "band_id=*", "bk=*"))
    assert (
        read_json_sidecar(spark, bucketed_path, "_params.json")["band_buckets"]
        == 4
    )
    # Both layouts serve identical pairs through the prebuilt path.
    batch = small.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    got_flat = sorted(
        map(
            tuple,
            dedup.minhash_dedup_pairs_prebuilt(
                spark, flat_path, batch, split_id=500000
            ).collect(),
        )
    )
    got_bucketed = sorted(
        map(
            tuple,
            dedup.minhash_dedup_pairs_prebuilt(
                spark, bucketed_path, batch, split_id=500000
            ).collect(),
        )
    )
    assert got_flat and got_flat == got_bucketed


def test_global_row_number_determinism_fence(spark, tmp_path):
    """global_row_number's persist-free form recomputes the upstream
    plan in the counts pass and the output pass; an input that CHANGES
    between the two (the r7 ADVICE latent hazard) must hit the in-plan
    raise_error fence instead of silently emitting NULL ranks. Planted
    here with a nondeterministic UDF reading a side file whose content
    flips after the counts pass — the new values land in a bucket the
    counts pass never saw."""
    from pyspark.sql.types import DoubleType

    from datafusion_dist_spark.operators.common import global_row_number

    side = tmp_path / "lead-source.txt"
    side.write_text("0")

    @F.udf(DoubleType())
    def flaky_lead(i):
        return float(open(str(side)).read()) + (10.0 if i % 2 else 0.0)

    flaky_lead = flaky_lead.asNondeterministic()
    base = spark.range(40).select(
        F.col("id"), flaky_lead(F.col("id")).alias("x")
    )
    # Quantile + counts passes run inside the call: values {0, 10} ->
    # bounds {0, 10} -> occupied buckets {0, 1}; bucket 2 (x > 10)
    # exists but is EMPTY at count time.
    gdf, total = global_row_number(base, [F.col("x"), F.col("id")])
    assert total == 40
    # Deterministic replay: ranks are exactly 1..total, no NULLs.
    ranks = [r.rn for r in gdf.select("rn").collect()]
    assert sorted(ranks) == list(range(1, 41))
    # Flip the side file: the output pass now computes x in {20, 30} —
    # bucket 2, never seen by the counts pass. The fence must raise.
    side.write_text("20")
    with pytest.raises(Exception, match="never seen by the counts pass"):
        gdf.collect()


def test_quadratic_pin_guards_fence_oversized_input(spark):
    """The five quadratic oracle-pin configurations (uncapped LSH
    listing, uncapped inverted-index pairs, pinned nbits / K /
    n_centroids below the adaptive ladder) must RAISE past the
    250k-row anchor bound instead of silently stalling in an m²-pair
    stage — the executable form of the 'oracle anchor, quadratic by
    design' docstrings (VERDICT r7 task 2). The guard fires at plan
    time (one metadata-cheap count), before any quadratic work."""
    from datafusion_dist_spark.operators.common import (
        QUADRATIC_PIN_MAX_ROWS,
    )

    n = QUADRATIC_PIN_MAX_ROWS + 1
    big_docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("alpha beta gamma").alias("text")
    )
    big_vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(-1.0)).alias("embedding"),
    )

    with pytest.raises(ValueError, match="dedup_minhash_lsh_capped"):
        dedup.minhash_dedup_pairs(big_docs, bucket_cap=None)
    with pytest.raises(ValueError, match="dedup_ngram_jaccard_capped"):
        dedup.ngram_jaccard_pairs(big_docs, max_list_len=None)
    with pytest.raises(ValueError, match="quadratic-anchor"):
        dedup.substring_span_pairs(big_docs, max_list_len=None)
    with pytest.raises(ValueError, match="dedup_embedding_cosine_adaptive"):
        similarity.embedding_near_dup_pairs(big_vecs, nbits=4)
    with pytest.raises(ValueError, match="dedup_semantic_adaptive"):
        similarity.semantic_dedup_decisions(big_vecs, n_centroids=8)
    with pytest.raises(ValueError, match="ann_ivf_knn_join_adaptive"):
        similarity.ivf_knn_join(big_vecs.limit(5), big_vecs, n_centroids=8)

    # The fences are scoped precisely: linear-safe configurations of
    # the same operators pass the bound check untouched.
    #  - capped LSH (the no-arg default) and incremental mode
    dedup.minhash_dedup_pairs(big_docs)
    dedup.minhash_dedup_pairs(big_docs, split_id=n // 2, bucket_cap=None)
    #  - capped posting lists (the no-arg default)
    dedup.ngram_jaccard_pairs(big_docs)
    #  - an ADEQUATELY-provisioned pinned constant (>= adaptive ladder)
    similarity.semantic_dedup_decisions(
        big_vecs, n_centroids=max(8, n // 250)
    )
    #  - a hot-bucket/fat-cell cap closes the quadratic, pin allowed
    similarity.embedding_near_dup_pairs(big_vecs, nbits=4, bucket_cap=16)


def test_minhash_prebuilt_prune_true_on_flat_layout_raises(spark, tmp_path):
    """prune=True on a FLAT-layout index must raise, not silently
    serve the flat scan: the caller explicitly forced the pruned read
    and a flat index has no partition dirs to prune (r7 ADVICE — the
    old `if band_buckets and prune` gate swallowed the request)."""
    import pytest as _pytest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    path = str(tmp_path / "mh-flat-noprune")
    dedup.minhash_index_build(docs.filter(F.col("doc_id") < 30), path)
    batch = docs.filter(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    with _pytest.raises(ValueError, match="flat layout"):
        dedup.minhash_dedup_pairs_prebuilt(
            spark, path, batch, split_id=500000, prune=True
        )
    # prune=False and auto stay valid on the flat layout.
    assert (
        dedup.minhash_dedup_pairs_prebuilt(
            spark, path, batch, split_id=500000, prune=False
        ).collect()
        == dedup.minhash_dedup_pairs_prebuilt(
            spark, path, batch, split_id=500000
        ).collect()
    )


def test_index_scale_cache_cross_process_append(spark, tmp_path, monkeypatch):
    """A cross-process append must flip the pruned-vs-flat auto-select
    WITHOUT a restart (VERDICT r7 task 5): the (bytes, files) memo is
    keyed on the root _SUCCESS marker's freshness token, which Spark's
    commit protocol rewrites on every write job from any process. The
    parent session reads once below the file threshold (flat scan),
    a SUBPROCESS appends enough files to cross it, and the parent's
    next read — same session, no manual invalidation — must serve the
    partition-pruned plan."""
    import os
    import subprocess
    import sys as _sys
    import textwrap

    from datafusion_dist_spark.operators import dedup as dd
    from datafusion_dist_spark.plans import formatted_plan

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    path = str(tmp_path / "mh-xproc")
    dd.minhash_index_build(
        docs.filter(F.col("doc_id") < 40), path, band_buckets=4
    )
    batch = docs.filter(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )

    def prunes(df) -> bool:
        return any(
            "PartitionFilters" in ln and "bk#" in ln
            for ln in formatted_plan(df).splitlines()
        )

    from datafusion_dist_spark.sources.sidecar import dir_summary

    _, files_before = dir_summary(spark, path)
    # Threshold between the pre- and post-append file counts so the
    # append itself is what flips the decision.
    monkeypatch.setattr(dd, "PRUNE_MIN_INDEX_FILES", files_before + 1)
    dd._INDEX_SCALE_CACHE.pop(path, None)
    before = dd.minhash_dedup_pairs_prebuilt(
        spark, path, batch, split_id=500000
    )
    assert not prunes(before), "small index must serve the flat scan"
    assert path in dd._INDEX_SCALE_CACHE, "probe result must be memoized"

    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from pyspark.sql import SparkSession, functions as F
        from datafusion_dist_spark.catalog import load_table
        from datafusion_dist_spark.operators import dedup
        spark = (SparkSession.builder.master("local[2]")
                 .appName("xproc-append")
                 .config("spark.ui.enabled", "false").getOrCreate())
        docs = load_table(spark, {SF_DIR!r}, "documents").select("doc_id", "text")
        drop = docs.filter(F.col("doc_id").between(40, 80)).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text")
        dedup.minhash_index_append(spark, drop, {path!r})
        spark.stop()
        """
    )
    subprocess.run(
        [_sys.executable, "-c", script], check=True, capture_output=True
    )
    _, files_after = dir_summary(spark, path)
    assert files_after > files_before, "append must add files"

    after = dd.minhash_dedup_pairs_prebuilt(
        spark, path, batch, split_id=500000
    )
    assert prunes(after), (
        "cross-process append did not flip the auto-select to the "
        "pruned read — stale _INDEX_SCALE_CACHE entry"
    )


def test_minhash_bucketed_index_file_discipline(spark, tmp_path):
    """The bucketed layout must write ONE file per (band_id, bk)
    partition dir per ingest (repartition by the partition key before
    partitionBy): without it every shuffle task writes into every dir
    — tasks x bands x buckets tiny files, and the pruned point-lookup
    read measured 5x SLOWER than the flat scan at x30 from per-file
    open cost alone. An append adds at most one more file per dir."""
    import glob as _glob
    import os as _os

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    path = str(tmp_path / "mh-filecount")
    dedup.minhash_index_build(
        docs.filter(F.col("doc_id") < 80), path, band_buckets=4
    )

    def files_per_dir():
        out = {}
        for d in _glob.glob(_os.path.join(path, "band_id=*", "bk=*")):
            out[d] = len(_glob.glob(_os.path.join(d, "*.parquet")))
        return out

    counts = files_per_dir()
    assert counts, "no partition dirs written"
    assert max(counts.values()) == 1, counts
    batch = docs.filter(F.col("doc_id") >= 80).limit(40)
    dedup.minhash_index_append(spark, batch, path)
    assert max(files_per_dir().values()) <= 2, files_per_dir()


def test_ivf_index_file_discipline(spark, tmp_path):
    """ivf_index_build must write ONE file per inverted-list dir
    (repartition by cid before partitionBy): unpartitioned-shuffle
    writes produced tasks x K tiny files (2557 for an 80-list x10
    index — build wall 23 s of which ~17 s was file commit; 6 s and
    80 files after the fix), and every partition-pruned probe read
    pays per-file open cost."""
    import glob as _glob

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf-filecount")
    from datafusion_dist_spark.operators import similarity

    similarity.ivf_index_build(emb, n_centroids=8, path=path)
    dirs = _glob.glob(str(tmp_path / "ivf-filecount" / "cid=*"))
    assert dirs, "no inverted-list dirs written"
    for d in dirs:
        assert len(_glob.glob(d + "/*.parquet")) == 1, d


def test_probe_cache_misses_on_same_path_rewrite(spark, tmp_path):
    """The IVF probe memo must not serve stale centroid rankings after the
    parquet under the SAME path is rewritten: the freshness token
    (#files, max mtime, bytes) folds file state into the cache key.
    Unlike the repo's other persisted caches, a stale hit here returns
    WRONG data, not just a recompute."""
    from datafusion_dist_spark.operators.common import session_cache_hits
    from datafusion_dist_spark.operators.similarity import (
        _freshness_token,
        _probe_cids,
    )

    path = str(tmp_path / "emb-rewrite")
    emb = load_table(spark, SF_DIR, "embeddings")
    emb.filter(F.col("vec_id") < 50).write.mode("overwrite").parquet(path)
    df1 = spark.read.parquet(path)
    tok1 = _freshness_token(df1)
    assert tok1 is not None, "file-scan plan must yield a token"
    q = [float(v) for v in emb.filter(F.col("vec_id") == 60).first().embedding]
    cents1, probes1 = _probe_cids(df1, q, 8, 2, "vec_id", "embedding")
    # Rewrite the same path with a disjoint centroid set (ids shifted
    # into [0, 8) from rows 100+ so the nearest-centroid ranking must
    # change), then re-read: a stale cache hit would return probes1.
    emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)).select(
        (F.col("vec_id") - 100).alias("vec_id"), "embedding"
    ).write.mode("overwrite").parquet(path)
    df2 = spark.read.parquet(path)
    tok2 = _freshness_token(df2)
    assert tok1 != tok2, "rewrite must change the freshness token"
    cents2, probes2 = _probe_cids(df2, q, 8, 2, "vec_id", "embedding")
    # A stale hit would hand back cents1 verbatim; the rewritten table's
    # centroid vectors are a disjoint row set, so the query-to-centroid
    # similarities must differ.
    sims1 = {(int(r.cid), float(r.qsim)) for r in cents1}
    sims2 = {(int(r.cid), float(r.qsim)) for r in cents2}
    assert sims1 != sims2, "stale centroid rows served after rewrite"
    assert len(cents2) == 8 and len(probes2) == 2
    # the memo is live: an unchanged table is served from the cache
    h0 = session_cache_hits()
    assert _probe_cids(df2, q, 8, 2, "vec_id", "embedding") == (cents2, probes2)
    assert session_cache_hits() == h0 + 1


def test_minhash_bucket_cap_bounds_hot_cluster(spark):
    """The hot-band-bucket cap is the LSH skew guard: a template
    cluster (m identical docs — the SEO-boilerplate shape) lands whole
    in one band bucket per band and the uncapped join emits all
    m(m-1)/2 pairs; with cap C the candidates per bucket are exactly
    C(C-1)/2 head pairs + (m-C) representative pairs, and connected
    components still recover the full cluster through the rank-1
    representative's star."""
    tpl = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lamda mu nu xi omicron pi rho sigma tau upsilon"
    )
    m, cap = 40, 8
    rows = [(i, tpl) for i in range(m)]
    noise = [
        "quarterly revenue figures exceeded projections in several regions",
        "the migration script renames every legacy column before backfill",
        "ferry schedules change seasonally depending on harbor conditions",
        "a compiler optimization pass removed the redundant bounds checks",
    ]
    rows += [(1000 + i, noise[i]) for i in range(len(noise))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.5, bucket_cap=None
        ).collect()
    }
    capped = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.5, bucket_cap=cap
        ).collect()
    }
    cluster_unc = {p for p in uncapped if p[0] < m and p[1] < m}
    cluster_cap = {p for p in capped if p[0] < m and p[1] < m}
    assert len(cluster_unc) == m * (m - 1) // 2  # the quadratic listing
    # r6: the NO-ARG default is the capped path (DEFAULT_BUCKET_CAP) —
    # the job-killer form needs an explicit bucket_cap=None opt-out.
    default_pairs = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
        if r.a_id < m and r.b_id < m
    }
    d = dedup.DEFAULT_BUCKET_CAP
    assert len(default_pairs) == d * (d - 1) // 2 + (m - d)
    assert capped <= uncapped
    assert len(cluster_cap) == cap * (cap - 1) // 2 + (m - cap)
    # Identical docs -> identical buckets in every band: ranks agree,
    # so the surviving pair set is the head + representative star.
    assert all(b <= cap - 1 or a == 0 for a, b in cluster_cap)
    # Connectivity: union-find over capped pairs joins all m members.
    parent = list(range(m))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cluster_cap:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(m)}) == 1
    # A cap no bucket exceeds is a no-op: bit-identical to uncapped.
    relaxed = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.5, bucket_cap=m + 1
        ).collect()
    }
    assert relaxed == uncapped


def test_adaptive_simhash_width_ladder_and_pairs(spark):
    """The simhash sketch width must track the corpus (a fixed 16-bit
    sketch saturates: ~1% of ALL pairs land within Hamming 3 by chance
    at 72k docs — caught OOMing the r5 second-SF sweep). Ladder pins +
    an end-to-end check that planted exact dups still pair at the
    adaptive width with a 60-bit hash."""
    assert dedup.adaptive_simhash_bits(0) == 16
    assert dedup.adaptive_simhash_bits(16) == 16
    assert dedup.adaptive_simhash_bits(17) == 20
    assert dedup.adaptive_simhash_bits(7200) == 52
    assert dedup.adaptive_simhash_bits(72_000) == 60
    assert dedup.adaptive_simhash_bits(10**12) == 60  # hash budget cap
    with pytest.raises(ValueError, match="exceeds"):
        dedup.simhash(None, bits=36, hash_width=8)

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(40)
    first = docs.first()
    planted = spark.createDataFrame(
        [(91000, first.text)], "doc_id long, text string"
    )
    corpus = docs.unionByName(planted)
    bits = dedup.adaptive_simhash_bits(41)
    sims = dedup.simhash(corpus, bits=bits, hash_width=dedup.SIMHASH_HASH_WIDTH)
    pairs = {
        (r.a_id, r.b_id): r.hamming
        for r in dedup.simhash_hamming_pairs(sims, bits=bits).collect()
    }
    assert pairs.get((first.doc_id, 91000)) == 0, pairs


def _hot_direction_cluster(spark, m=40, n_noise=60):
    """m near-identical vectors (pairwise cosine ~0.9, one sign
    bucket) + decorrelated noise vectors — the embedding analog of the
    minhash template cluster."""
    import hashlib

    def u(key):
        h = hashlib.md5(str(key).encode()).digest()
        return int.from_bytes(h[:4], "big") / 2**32 - 0.5

    rows = []
    for i in range(m):
        v = [0.3 + 0.05 * u(i * 64 + j) for j in range(8)] + [
            0.05 + 0.1 * u(i * 64 + j) for j in range(8, 64)
        ]
        rows.append((i, v, 0))
    for i in range(n_noise):
        v = [0.4 * u((1000 + i) * 64 + j) for j in range(64)]
        rows.append((1000 + i, v, 1))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_embedding_bucket_cap_bounds_hot_direction_cluster(spark):
    """bucket_cap on the sign-bucket pairs op: a hot direction cluster
    (m members, one bucket, all pairwise above threshold) emits
    m(m-1)/2 pairs uncapped; with cap C only head members serve as the
    lower side — exactly sum over b of min(rank(b)-1, C) pairs — and
    every overflow member still pairs with every head member, so
    cluster membership survives."""
    m, cap = 40, 8
    emb = _hot_direction_cluster(spark, m=m)
    unc = {
        (r.a_id, r.b_id)
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.5, nbits=4
        ).collect()
    }
    capd = {
        (r.a_id, r.b_id)
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.5, nbits=4, bucket_cap=cap
        ).collect()
    }
    cl_unc = {p for p in unc if p[0] < m and p[1] < m}
    cl_cap = {p for p in capd if p[0] < m and p[1] < m}
    assert len(cl_unc) == m * (m - 1) // 2, len(cl_unc)
    assert capd <= unc
    # head-head pairs: C(C-1)/2; overflow: each pairs with all C heads.
    assert len(cl_cap) == cap * (cap - 1) // 2 + (m - cap) * cap
    assert all(a < cap for a, _ in cl_cap)
    overflow_covered = {b for a, b in cl_cap if b >= cap}
    assert overflow_covered == set(range(cap, m)), "overflow member lost"
    # A cap no bucket exceeds is a no-op.
    relaxed = {
        (r.a_id, r.b_id)
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.5, nbits=4, bucket_cap=1000
        ).collect()
    }
    assert relaxed == unc


def test_semantic_head_cap_preserves_dup_of(spark):
    """head_cap on SemDeDup: every cluster member (head or overflow)
    keeps its dup_of (the head holds the cell's smallest ids); n_dups
    for overflow counts head partners only — the documented
    undercount that buys the C x m work bound."""
    import hashlib

    def u(key):
        h = hashlib.md5(str(key).encode()).digest()
        return int.from_bytes(h[:4], "big") / 2**32 - 0.5

    # 4 well-separated centroid anchors (ids 0..3, disjoint dim
    # blocks); a 40-member hot cluster (ids 10..49) hugging anchor 0,
    # so the whole cluster lands in ONE coarse cell.
    m, cap = 40, 8
    rows = [
        (j, [0.5 if j * 16 <= i < (j + 1) * 16 else 0.0 for i in range(64)], 0)
        for j in range(4)
    ]
    for t in range(m):
        v = [
            (0.3 if i < 16 else 0.02) + 0.03 * u(t * 64 + i)
            for i in range(64)
        ]
        rows.append((10 + t, v, 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    unc = {
        r.vec_id: (r.dup_of, r.n_dups)
        for r in similarity.semantic_dedup_decisions(
            emb, n_centroids=4, threshold=0.5
        ).collect()
    }
    capd = {
        r.vec_id: (r.dup_of, r.n_dups)
        for r in similarity.semantic_dedup_decisions(
            emb, n_centroids=4, threshold=0.5, head_cap=cap
        ).collect()
    }
    assert set(capd) == set(unc)
    # Anchor 0 is the cell's smallest id and above threshold for every
    # member (cos ~1.0): dup_of must survive the cap for ALL members.
    for t in range(m):
        vid = 10 + t
        assert unc[vid][0] == 0, (vid, unc[vid])
        assert capd[vid][0] == 0, (vid, capd[vid])
        # head of cell 0 = {0, 10, ..., 10+cap-2}; lower-id head
        # partners of member t = anchor + min(t, cap-1) members.
        assert capd[vid][1] == 1 + min(t, cap - 1), (vid, capd[vid])
        assert unc[vid][1] == 1 + t, (vid, unc[vid])
    # cap >= cell size is a no-op.
    relaxed = {
        r.vec_id: (r.dup_of, r.n_dups)
        for r in similarity.semantic_dedup_decisions(
            emb, n_centroids=4, threshold=0.5, head_cap=1000
        ).collect()
    }
    assert relaxed == unc


def test_minhash_band_bucketed_index_bit_identical(spark, tmp_path):
    """The band-bucketed index layout (PARTITIONED BY band_id, bk) is
    storage-internal: the prebuilt query path over it must return
    exactly the flat layout's pairs AND the inline union form's —
    the bucket key only prunes reads, never changes results."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    index = docs.filter(F.col("doc_id") < 60)
    batch = index.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    flat = str(tmp_path / "mh-flat")
    bucketed = str(tmp_path / "mh-bucketed")
    dedup.minhash_index_build(index, flat)
    dedup.minhash_index_build(index, bucketed, band_buckets=8)

    def pairs(path, prune=None):
        return sorted(
            map(
                tuple,
                dedup.minhash_dedup_pairs_prebuilt(
                    spark, path, batch, split_id=500000, threshold=0.5,
                    prune=prune,
                ).collect(),
            )
        )

    p_flat, p_bucketed = pairs(flat), pairs(bucketed)
    assert p_flat, "planted copies must pair"
    assert p_bucketed == p_flat
    # r7 auto-select: both FORCED read modes over the bucketed layout
    # are bit-identical to the flat layout — the pruned-vs-flat choice
    # only moves storage reads, never results.
    assert pairs(bucketed, prune=True) == p_flat
    assert pairs(bucketed, prune=False) == p_flat
    inline = sorted(
        map(
            tuple,
            dedup.minhash_dedup_pairs(
                index.unionByName(batch), threshold=0.5, split_id=500000
            ).collect(),
        )
    )
    assert p_bucketed == inline
    # Empty batch over the bucketed layout: no keys -> empty result.
    empty = dedup.minhash_dedup_pairs_prebuilt(
        spark, bucketed, batch.filter(F.lit(False)), split_id=500000
    )
    assert empty.collect() == []


def test_global_row_number_exact_and_edges(spark):
    """global_row_number must equal the single-partition global window
    bit-for-bit (same total order), including totals, on shuffled
    input; empty input returns total 0; and the ntile-from-rank
    arithmetic used by pipeline_quality_buckets matches F.ntile for
    n < buckets (base = 0: every row its own bucket)."""
    from pyspark.sql import Window

    from datafusion_dist_spark.operators.common import global_row_number

    df = spark.range(0, 997).select(
        (F.col("id") * 7919 % 997).alias("k"), F.col("id").alias("v")
    ).repartition(13)
    got, n = global_row_number(df, [F.col("k"), F.col("v")])
    assert n == 997
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k", "v")).cast("long")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    empty, n0 = global_row_number(
        df.filter(F.lit(False)), [F.col("k"), F.col("v")]
    )
    assert n0 == 0 and empty.count() == 0
    # n < buckets: exact ntile arithmetic (first n buckets of size 1).
    small = spark.range(0, 4).select(F.col("id").alias("k"))
    ranked, n_small = global_row_number(small, [F.col("k")])
    assert n_small == 4
    base, rem = divmod(n_small, 10)
    assert base == 0
    buckets = {
        r.k: r.rn for r in ranked.collect()
    }  # rank == bucket when base == 0
    want_ntile = {
        r.k: r.b
        for r in small.withColumn(
            "b", F.ntile(10).over(Window.orderBy("k"))
        ).collect()
    }
    assert {k: int(v) for k, v in buckets.items()} == want_ntile


def test_countmin_estimate_upper_bounds_exact(spark):
    """CMS invariants: grid size <= depth*width regardless of input;
    est(k) >= true count for EVERY key (collisions only inflate);
    unseen keys read their buckets (>= 0) instead of vanishing."""
    from datafusion_dist_spark.operators import sketch

    ev = load_table(spark, SF_DIR, "events").select("user_id")
    depth, width = 3, 64
    cells = sketch.countmin_cells(ev, "user_id", depth, width)
    assert cells.count() <= depth * width
    per_h = {r["h"]: r["s"] for r in cells.groupBy("h").agg(F.sum("cnt").alias("s")).collect()}
    n = ev.count()
    assert all(v == n for v in per_h.values()), per_h  # each row counts every input once
    exact = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    est = {
        r["user_id"]: r["est"]
        for r in sketch.countmin_lookup(
            ev.distinct(), cells, "user_id", depth, width
        ).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    unseen = spark.createDataFrame([(999999999,)], "user_id bigint")
    got = sketch.countmin_lookup(unseen, cells, "user_id", depth, width).collect()
    assert len(got) == 1 and got[0]["est"] >= 0


def test_source_overlap_matrix_symmetric_and_bounded(spark):
    """The matrix is COMPLETE (one row per unordered group pair, with
    a < b, zero-overlap pairs explicit); containment in [0, 1]; and it
    agrees with a brute-force pandas recompute on the tiny SF."""
    from datafusion_dist_spark.operators import text as text_ops

    docs = load_table(spark, SF_DIR, "documents").select("source", "text")
    m = text_ops.source_overlap_matrix(docs).collect()
    n_groups = docs.select("source").distinct().count()
    assert len(m) == n_groups * (n_groups - 1) // 2
    assert all(r["source_a"] < r["source_b"] for r in m)
    assert all(0 <= r["containment"] <= 1.0 for r in m)
    import re as _re

    pdf = docs.toPandas()
    sets: dict[str, set] = {}
    for _, row in pdf.iterrows():
        toks = [t for t in _re.split(r"[^a-z0-9]+", row["text"].lower()) if t]
        shs = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        sets.setdefault(row["source"], set()).update(shs)
    for r in m:
        want = len(sets[r["source_a"]] & sets[r["source_b"]])
        assert r["n_shared"] == want, (r, want)


def test_source_overlap_matrix_keeps_shingleless_groups(spark):
    """A group whose documents ALL have fewer than k tokens must still
    appear in the matrix (n_shared=0, containment=0.0) — ADVICE r8: a
    plain explode drops its rows, silently erasing the group from the
    dataset-card report. Also pins NULL-text docs (NULL shingle array
    takes the same padding path)."""
    from datafusion_dist_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            ("web", "alpha beta gamma delta alpha beta"),
            ("web", "beta gamma delta epsilon"),
            ("books", "alpha beta gamma zeta"),
            ("tiny", "one two"),  # < k=3 tokens -> zero shingles
            ("tiny", "x"),
            ("nulls", None),  # NULL text -> NULL shingle array
        ],
        "source string, text string",
    )
    m = {(r["source_a"], r["source_b"]): r for r in
         text_ops.source_overlap_matrix(docs).collect()}
    assert len(m) == 4 * 3 // 2, sorted(m)
    for pair, r in m.items():
        if "tiny" in pair or "nulls" in pair:
            assert r["n_shared"] == 0 and r["containment"] == 0.0, r
    assert m[("books", "web")]["n_shared"] == 1  # "alpha beta gamma"


def test_countmin_grids_are_sum_mergeable(spark):
    """CMS grids over disjoint shards merged by cell-wise sum must
    equal the grid over the union — the property that makes the sketch
    a distributed/streaming aggregate (map-side partials, per-batch
    state updates, and cross-shard rollups are all this one merge)."""
    from datafusion_dist_spark.operators import sketch

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    a = ev.filter(F.col("event_id") % 2 == 0).select("user_id")
    b = ev.filter(F.col("event_id") % 2 == 1).select("user_id")
    merged = {
        (r["h"], r["b"]): r["cnt"]
        for r in (
            sketch.countmin_cells(a, "user_id")
            .unionByName(sketch.countmin_cells(b, "user_id"))
            .groupBy("h", "b")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
    }
    want = {
        (r["h"], r["b"]): r["cnt"]
        for r in sketch.countmin_cells(ev.select("user_id"), "user_id").collect()
    }
    assert merged == want


def test_hll_registers_are_max_mergeable(spark):
    """HLL registers over disjoint shards merged by register-wise MAX
    must equal the registers over the union — max is monotone, so
    map-side partials, per-batch streaming updates, cross-shard
    rollups, AND late/replayed data all reduce to this one merge
    (replay can only re-assert a max, never corrupt it)."""
    from datafusion_dist_spark.operators import sketch

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    a = ev.filter(F.col("event_id") % 2 == 0).select("user_id")
    b = ev.filter(F.col("event_id") % 2 == 1).select("user_id")
    merged = {
        r["register"]: r["max_rho"]
        for r in (
            sketch.hll_registers(a, "user_id")
            .unionByName(sketch.hll_registers(b, "user_id"))
            .groupBy("register")
            .agg(F.max("max_rho").alias("max_rho"))
            .collect()
        )
    }
    want = {
        r["register"]: r["max_rho"]
        for r in sketch.hll_registers(ev.select("user_id"), "user_id").collect()
    }
    assert merged == want
    # Replay idempotence: duplicating a shard changes nothing.
    replayed = {
        r["register"]: r["max_rho"]
        for r in sketch.hll_registers(
            ev.select("user_id").unionByName(a), "user_id"
        ).collect()
    }
    assert replayed == want


def test_hll_estimate_accuracy_and_bounds(spark):
    """The register table respects the 2^p state bound, the estimate
    lands within 4 standard errors (sigma = 1.04/sqrt(m) ~ 6.5% at
    m=256) of the exact distinct count, and an empty input estimates
    exactly 0 through the linear-counting branch."""
    from datafusion_dist_spark.operators import sketch

    ev = load_table(spark, SF_DIR, "events").select("user_id")
    regs = sketch.hll_registers(ev, "user_id")
    m = 1 << sketch.HLL_P
    rows = regs.collect()
    assert 0 < len(rows) <= m
    assert all(1 <= r["max_rho"] <= sketch.hll_rho_max() for r in rows)
    est = sketch.hll_estimate(regs).collect()[0]
    exact = ev.where(F.col("user_id").isNotNull()).distinct().count()
    assert est["touched_registers"] == len(rows)
    assert est["zero_registers"] == m - len(rows)
    rel_err = abs(est["est_distinct"] - exact) / exact
    assert rel_err <= 4 * 1.04 / (m ** 0.5), (est["est_distinct"], exact)
    empty = sketch.hll_estimate(
        sketch.hll_registers(ev.limit(0), "user_id")
    ).collect()[0]
    assert empty["est_distinct"] == 0.0
    assert empty["zero_registers"] == m and empty["touched_registers"] == 0


def test_kmv_exact_mode_under_k_distinct(spark):
    """Groups with fewer than k distinct keys keep ALL their hashes
    (theta = 1), so the whole matrix degenerates to EXACT set algebra:
    planted 40/30-member groups sharing 20 users must come out as
    intersection 20, union 50, jaccard 0.4 — literally, not
    approximately."""
    from datafusion_dist_spark.operators import sketch

    rows = [("a", f"u{i}") for i in range(40)] + [
        ("b", f"u{i}") for i in range(20, 50)
    ]
    df = spark.createDataFrame(rows, ["grp", "uid"])
    sk = sketch.kmv_sketch(df, "uid", "grp")
    assert sk.count() == 70  # every distinct hash retained
    out = sketch.kmv_intersection_matrix(sk, "grp").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["type_a"], r["type_b"]) == ("a", "b")
    assert r["n_common"] == 20
    assert r["est_intersection"] == 20.0
    assert r["est_union"] == 50.0
    assert r["est_jaccard"] == 0.4
    assert r["est_rse"] == 0.0  # exact pair: zero sampling error


def test_kmv_sketch_merge_equals_rebuild(spark):
    """KMV sketches are mergeable the way HLL registers are max-
    mergeable: the k smallest distinct hashes of A ∪ B equal the
    re-ranked k smallest of (sketch(A) ∪ sketch(B)) — the property
    that makes the sketch a distributed/streaming aggregate (shards
    sketch independently; a k-row merge reproduces the global
    sketch). Split events by user hash parity and verify the merge
    against the full-corpus build bit-for-bit — through the SHIPPED
    merge step (kmv_merge, the same fold the streaming mode applies
    per batch), not a test-local reimplementation."""
    from datafusion_dist_spark.operators import sketch

    ev = load_table(spark, SF_DIR, "events").select("event_type", "user_id")
    half_a = ev.where(F.pmod(F.col("user_id"), F.lit(2)) == 0)
    half_b = ev.where(F.pmod(F.col("user_id"), F.lit(2)) == 1)
    merged = sketch.kmv_merge(
        sketch.kmv_sketch(half_a, "user_id", "event_type").unionByName(
            sketch.kmv_sketch(half_b, "user_id", "event_type")
        ),
        "event_type",
    )
    full = sketch.kmv_sketch(ev, "user_id", "event_type")
    want = {(r["event_type"], r["h"], r["rn"]) for r in full.collect()}
    got = {(r["event_type"], r["h"], r["rn"]) for r in merged.collect()}
    assert got == want


def test_theta_intersection_tracks_exact_overlap(spark):
    """The theta estimates must track the exact pairwise overlap in
    SKETCH mode — a planted corpus with >k distinct keys per group
    forces theta < 1 so the estimator actually extrapolates (the
    sf0.001 test events have only 15 distinct users/type, which would
    silently take the exact branch; the real-data sketch branch is
    hash-checked by the oracle sweeps at sf0.01/sf0.1 where types
    hold 150/1500 distinct users vs k=64): every pair's
    intersection/union within ~4 standard errors
    (sd ~ exact_union/sqrt(k-1)), and the ratio jaccard within the
    same band of the exact jaccard."""
    from datafusion_dist_spark.operators import sketch

    # a: 0..499, b: 250..749 (inter 250, union 750, jac 1/3),
    # c: 0..99 (subset of a; a∩c=100, b∩c=0)
    df = (
        spark.range(500).select(F.lit("a").alias("grp"), F.col("id"))
        .unionByName(
            spark.range(250, 750).select(
                F.lit("b").alias("grp"), F.col("id")
            )
        )
        .unionByName(
            spark.range(100).select(F.lit("c").alias("grp"), F.col("id"))
        )
        .select("grp", F.col("id").cast("string").alias("uid"))
    )
    sk = sketch.kmv_sketch(df, "uid", "grp")
    out = {
        (r["type_a"], r["type_b"]): r
        for r in sketch.kmv_intersection_matrix(sk, "grp").collect()
    }
    exact = {
        ("a", "b"): (250, 750),
        ("a", "c"): (100, 500),
        ("b", "c"): (0, 600),
    }
    assert set(out) == set(exact)
    se_k = 4.0 / (sketch.KMV_K - 1) ** 0.5
    for pair, (n_inter, n_union) in exact.items():
        r = out[pair]
        tol = se_k * n_union
        assert abs(r["est_intersection"] - n_inter) <= tol, (pair, r)
        assert abs(r["est_union"] - n_union) <= tol, (pair, r)
        assert abs(r["est_jaccard"] - n_inter / n_union) <= se_k, (pair, r)
    # evidence counts, not inferred-from-zero, where overlap exists
    assert out[("a", "b")]["n_common"] > 0
    assert out[("a", "c")]["n_common"] > 0
    assert out[("b", "c")]["n_common"] == 0  # disjoint stays zero
    # est_rse: the 1/sqrt(n_common) evidence bound where evidence
    # exists; NULL (not 0.0) where the estimate rests on NO retained
    # common hashes — zero evidence must be flagged, not dressed as a
    # precise zero (VERDICT r10 task 6).
    for pair in (("a", "b"), ("a", "c")):
        r = out[pair]
        assert r["est_rse"] == round(1.0 / r["n_common"] ** 0.5, 4), r
    assert out[("b", "c")]["est_rse"] is None


def test_overlap_pair_guard_fences_many_groups(spark):
    """The all-pairs sketch matrix is quadratic in the group count by
    construction (VERDICT r9 task 4): past OVERLAP_MAX_GROUPS the
    guard must refuse loudly, naming the linear-state per-group
    fallback, while the in-bound path stays untouched. The entry wires
    the guard through a bounded limit+count probe, so a synthetic
    1k-group table never reaches the pair frame."""
    from datafusion_dist_spark.operators import sketch

    sketch.overlap_pair_guard(sketch.OVERLAP_MAX_GROUPS, "x")  # in bound
    with pytest.raises(ValueError, match="agg_hll_grouped"):
        sketch.overlap_pair_guard(1000, "x")
    # end-to-end: a planted >bound-group sketch must be refused by the
    # matrix itself (the guard runs inside, against the cached sketch,
    # so the fence costs no extra source pass)
    many = spark.range(1000).select(
        F.col("id").cast("string").alias("grp"),
        F.col("id").cast("string").alias("uid"),
    )
    sk = sketch.kmv_sketch(many, "uid", "grp")
    with pytest.raises(ValueError, match="quadratic"):
        sketch.kmv_intersection_matrix(sk, "grp")
    # ADVICE r10: a REJECTED sketch must not keep its cache slot — the
    # guard-raise path unpersists and forgets it, so a retry misses.
    assert not sk.storageLevel.useMemory
    _assert_rejected_sketch_not_cached(sketch, sk)


def _assert_rejected_sketch_not_cached(sketch, sk):
    from datafusion_dist_spark.operators.common import session_cache_hits

    h0 = session_cache_hits()
    with pytest.raises(ValueError):
        sketch.kmv_intersection_matrix(sk, "grp")
    assert session_cache_hits() == h0
    assert not sk.storageLevel.useMemory


def test_kmv_matrix_rejects_mismatched_k(spark):
    """A sketch built with a larger k than the matrix is told about
    would silently misread saturated groups as exact (theta detection
    keys on n_sk == k) — estimates degenerate to raw retained counts.
    The detectable direction (rn > k rows present) must refuse loudly
    (review finding r10)."""
    from datafusion_dist_spark.operators import sketch

    df = spark.range(400).select(
        F.lit("a").alias("grp"), F.col("id").cast("string").alias("uid")
    )
    sk_big = sketch.kmv_sketch(df, "uid", "grp", k=128)
    with pytest.raises(ValueError, match="built with a larger k"):
        sketch.kmv_intersection_matrix(sk_big, "grp")  # k=64
    # the rejected sketch must not occupy the cache slot (ADVICE r10)
    assert not sk_big.storageLevel.useMemory
    _assert_rejected_sketch_not_cached(sketch, sk_big)


def test_hll_overlap_matrix_tracks_exact_overlap(spark):
    """The inclusion-exclusion intersection estimate must track the
    exact pairwise user overlap: every pair within ~4 combined
    standard errors (3 estimates at sigma = 1.04/sqrt(256) each), and
    union >= max side / intersection <= min side structurally."""
    from datafusion_dist_spark.queries.aggregates import (
        agg_hll_overlap_matrix,
    )

    out = {
        (r["type_a"], r["type_b"]): r
        for r in agg_hll_overlap_matrix(spark, SF_DIR).collect()
    }
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
        .collect()
    )
    users: dict[str, set] = {}
    for r in ev:
        users.setdefault(r["event_type"], set()).add(r["user_id"])
    types = sorted(users)
    assert len(out) == len(types) * (len(types) - 1) // 2
    sigma = 1.04 / (256 ** 0.5)
    for (a, b), r in out.items():
        exact_union = len(users[a] | users[b])
        exact_inter = len(users[a] & users[b])
        assert abs(r["est_union"] - exact_union) <= 4 * sigma * exact_union + 2
        tol = 4 * sigma * (3 ** 0.5) * exact_union + 2
        assert abs(r["est_intersection"] - exact_inter) <= tol, (
            (a, b), r["est_intersection"], exact_inter, tol
        )
        assert 0.0 <= r["est_jaccard"] <= 1.0 + 1e-9


def test_watch_buckets_match_column_hash(spark):
    """The driver-side (hashlib) probe buckets must equal the Spark
    column hash for the same keys — the watchlist join is keyed on
    these, so a divergence silently probes the wrong counters."""
    from datafusion_dist_spark.operators import sketch

    keys = [0, 1, 5, 8, -3, 2**61, 123456789]
    want = {
        (k, h): b for k, h, b in sketch.watch_buckets(keys, depth=3, width=128)
    }
    sdf = spark.createDataFrame([(k,) for k in keys], "k bigint").select(
        "k",
        *[sketch._bucket(F.col("k"), h, 128).alias(f"b{h}") for h in range(3)],
    )
    for r in sdf.collect():
        for h in range(3):
            assert r[f"b{h}"] == want[(r["k"], h)]


def test_hash_split_is_stable_and_total(spark):
    """Every row gets exactly one split; assignments never migrate when
    a split fraction grows (monotone thresholds: train@0.7 is a subset
    of train@0.8); bad fractions raise."""
    from datafusion_dist_spark.operators import sampling

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    s80 = sampling.hash_split(docs, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    s70 = sampling.hash_split(docs, "doc_id", [("train", 0.7), ("val", 0.2), ("test", 0.1)])
    n = docs.count()
    assert s80.where(F.col("split").isNull()).count() == 0
    assert s80.count() == n
    t80 = {r["doc_id"] for r in s80.where(F.col("split") == "train").collect()}
    t70 = {r["doc_id"] for r in s70.where(F.col("split") == "train").collect()}
    assert t70 <= t80 and len(t70) < len(t80)
    with pytest.raises(ValueError):
        sampling.hash_split(docs, "doc_id", [("a", 0.5), ("b", 0.1)])
    with pytest.raises(ValueError):
        sampling.hash_split(docs, "doc_id", [("a", 1.1), ("b", -0.1)])


def test_countmin_lookup_rejects_grouped_grid(spark):
    """A per-group grid joined on (h, b) alone would min() counters
    across groups into a plausible wrong estimate — lookup must refuse
    it loudly."""
    from datafusion_dist_spark.operators import sketch

    ev = load_table(spark, SF_DIR, "events").select("event_type", "user_id")
    grouped = sketch.countmin_cells(
        ev, "user_id", group_cols=("event_type",)
    )
    with pytest.raises(ValueError, match="ungrouped"):
        sketch.countmin_lookup(ev.select("user_id").distinct(), grouped, "user_id")


def test_kmv_quantile_merge_equals_rebuild(spark):
    """The quantile sketch's bottom-k row sample under the (h, v)
    total order is mergeable exactly like the distinct-key KMV: the
    re-ranked bottom-k of two shards' bottom-k equals the full-data
    build bit-for-bit, and replaying a shard changes nothing (the
    merge's distinct on (group, h, v) absorbs it) — the property
    that makes the sketch a distributed/streaming aggregate, checked
    through the SHIPPED merge step."""
    from datafusion_dist_spark.operators import sketch

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    rid = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    v = F.round(F.col("l_extendedprice") * 100).cast("bigint")

    def sk_of(df):
        return sketch.kmv_quantile_sketch(df, rid, v, "l_returnflag")

    half_a = li.where(F.pmod(F.col("l_orderkey"), F.lit(2)) == 0)
    half_b = li.where(F.pmod(F.col("l_orderkey"), F.lit(2)) == 1)
    merged = sketch.kmv_quantile_merge(
        sk_of(half_a).unionByName(sk_of(half_b)), "l_returnflag"
    )
    full = sk_of(li)
    want = {
        (r["l_returnflag"], r["h"], r["v"], r["rn"])
        for r in full.collect()
    }
    got = {
        (r["l_returnflag"], r["h"], r["v"], r["rn"])
        for r in merged.collect()
    }
    assert got == want
    replayed = sketch.kmv_quantile_merge(
        full.unionByName(sk_of(half_a)), "l_returnflag"
    )
    got_replay = {
        (r["l_returnflag"], r["h"], r["v"], r["rn"])
        for r in replayed.collect()
    }
    assert got_replay == want


def test_kmv_quantiles_exact_mode(spark):
    """A group smaller than k retains every row, so the reported
    quantiles are the EXACT nearest-rank order statistics, exact is
    flagged, and est_eps is literally 0.0 — planted 10 known values
    checked against hand-computed (q*(n-1)) div den + 1 indexes."""
    from datafusion_dist_spark.operators import sketch

    rows = [("g", i, i * 10) for i in range(1, 11)]
    df = spark.createDataFrame(rows, ["grp", "rid", "val"])
    sk = sketch.kmv_quantile_sketch(
        df, F.col("rid").cast("string"), F.col("val"), "grp"
    )
    assert sk.count() == 10
    out = sketch.kmv_quantiles(sk, "grp").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_sample"] == 10 and r["exact"] is True
    # n=10: idx(p25)=3, idx(p50)=5, idx(p75)=7, idx(p90)=9, idx(p99)=9
    assert (r["p25"], r["p50"], r["p75"], r["p90"], r["p99"]) == (
        30, 50, 70, 90, 90,
    )
    assert r["est_eps"] == 0.0


def test_kmv_quantiles_dkw_accuracy(spark):
    """The DKW band the est_eps column claims must actually contain
    the truth on real data: for every estimated quantile, the TRUE
    empirical CDF rank of the estimate (fraction of the full group at
    or below it) lies within q ± est_eps. One all-rows group makes n
    >> k so the estimator genuinely samples (exact=false)."""
    from datafusion_dist_spark.operators import sketch

    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("grp", F.lit("all"))
    )
    rid = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    v = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    sk = sketch.kmv_quantile_sketch(li, rid, v, "grp")
    r = sketch.kmv_quantiles(sk, "grp").collect()[0]
    assert r["exact"] is False and r["n_sample"] == sketch.KMV_K
    n_total = li.count()
    for (num, den, name) in sketch.KMV_QUANTS:
        q = num / den
        est = r[name]
        true_rank = li.where(v <= est).count() / n_total
        assert abs(true_rank - q) <= r["est_eps"], (
            name, est, true_rank, q, r["est_eps"],
        )
