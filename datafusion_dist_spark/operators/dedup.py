"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB dedup pass of a training-data pipeline:

- *exact*: one hash-groupBy on a content digest — a single shuffle of
  (digest, doc_id) pairs, never of the payload.
- *MinHash + LSH*: per-doc signatures are one explode + groupBy
  (shuffle carries (doc, shingle-hash)); banding turns the quadratic
  all-pairs problem into an equi-join on band keys, so candidate
  generation is a plain shuffle join — skew-safe under AQE; verification
  touches only candidate pairs.
- *SimHash*: fixed-width bit aggregation per doc, then a band join on
  bit-blocks for Hamming candidates.
- *n-gram Jaccard*: exact verify via an inverted-index join (shingle →
  docs), intersection counts from a groupBy — no cross join anywhere.

All sketch hashes are md5-hex (see functions/hashing.py) so the DuckDB
oracle reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from datafusion_dist_spark.functions.hashing import (
    hash_hex,
    shingle_array,
    tokens,
    wide_hash_window,
)
from datafusion_dist_spark.operators.common import quadratic_pin_guard, spread

# No-arg skew guards (r6). The text-dedup pair ops are the calls a
# 100 TB user reaches FIRST, and uncapped they are job-killers on any
# real crawl (one boilerplate shingle / one template cluster = m²
# work in one task — both measured in the zipf rehearsals: containment
# x11.8, minhash hot bucket honestly quadratic). Mirroring the r5
# adaptive-default move in the embedding tier, the caps are now the
# DEFAULTS and the exact/uncapped form is the explicit opt-out
# (``max_list_len=None`` / ``bucket_cap=None``) — the registry's
# uncapped oracle-pin entries opt out explicitly. Values match the
# registry's capped twins: an ABSOLUTE posting-list cap (relative caps
# re-grow with the corpus and trend quadratic — measured r4) and the
# per-(band,bucket) head rank cap.
DEFAULT_MAX_LIST_LEN = 100
DEFAULT_BUCKET_CAP = 16
# Sentinel distinguishing "not passed" from an explicit None opt-out
# (minhash's default depends on the dedup mode — see
# ``minhash_dedup_pairs``).
_UNSET = object()

# -- exact ----------------------------------------------------------------


def exact_dedup_keep_min(docs: DataFrame) -> DataFrame:
    """Exact dedup on content digest; keep the smallest doc_id per
    group. Returns (digest, n_copies, keep_id) for duplicated groups."""
    digest = F.md5(F.col("text")).alias("digest")
    return (
        docs.select(digest, "doc_id")
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def normalized_text(text: Column) -> Column:
    """C4/CCNet-style normalization before exact dedup: lowercase,
    collapse every non-alphanumeric run to a single space, trim. Two
    scrapes of one page that differ only in casing/punctuation/
    whitespace collapse to one digest."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def normalized_text_oracle(text_expr: str) -> str:
    """DuckDB mirror of ``normalized_text`` (needs the 'g' flag —
    DuckDB regexp_replace is first-match-only by default)."""
    return f"trim(regexp_replace(lower({text_expr}), '[^a-z0-9]+', ' ', 'g'))"


def exact_dedup_normalized(docs: DataFrame) -> DataFrame:
    """Normalized-exact ("fuzzy exact") dedup: digest the normalized
    text instead of the raw bytes. Same single-shuffle plan shape as
    ``exact_dedup_keep_min`` — the normalization is a codegen'd
    projection on the scan; only (digest, doc_id) is shuffled."""
    digest = F.md5(normalized_text(F.col("text"))).alias("digest")
    return (
        docs.select(digest, "doc_id")
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


# -- shingles + MinHash ---------------------------------------------------


def doc_shingles(
    docs: DataFrame,
    k: int = 3,
    id_alias: str = "doc_id",
    parallelize: bool = True,
) -> DataFrame:
    """(id, shingle) exploded, distinct per doc — THE one definition of
    the tokenize → k-shingle → distinct pipeline (minhash, n-gram
    Jaccard, and both decontaminators all route through it, so the
    shingle model can never drift between the sketch path, the exact
    path, and their oracles).

    Tokens are materialized as a column BEFORE shingling: interpreted
    higher-order functions re-evaluate lambda subtrees per element, so
    an inlined tokens() expression inside shingle_array's slice would
    re-tokenize the document once per shingle (~40x redundant regexp
    work, measured). ``parallelize=False`` skips the spread() for
    deliberately tiny sides (e.g. a broadcast benchmark set)."""
    src = spread(docs) if parallelize else docs
    t = src.select(
        F.col("doc_id").alias(id_alias), tokens(F.col("text")).alias("toks")
    )
    sh = shingle_array(F.col("toks"), k)
    return t.select(id_alias, F.explode(F.array_distinct(sh)).alias("shingle"))


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = MIN(hash_i(shingle)).

    One aggregation, ``num_hashes`` min() columns packed into one
    ``sig`` array — the shuffle carries one row per (doc, shingle);
    signature width is a constant. Each md5 digest feeds 4 hash
    functions (disjoint hex windows, functions/hashing.py:
    wide_hash_window), so 16 hashes cost 4 md5 evaluations per
    shingle. Digests are materialized in a projection before the
    aggregation so each is computed exactly once per row.

    Components are BIGINTs (hex window → conv base 16): min() over a
    fixed-width lowercase-hex string orders identically, but string
    min buffers force a SortAggregate — numeric min keeps the
    aggregation a hash aggregate with a primitive, spill-friendly
    buffer. Equality/ordering semantics (all LSH needs) are preserved
    because the hex→int map is injective and monotone.
    """
    n_digests = -(-num_hashes // 4)
    digests = shingles.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{g}:"), F.col("shingle"))).alias(f"_d{g}")
            for g in range(n_digests)
        ],
    )
    aggs = []
    for i in range(num_hashes):
        g, start = wide_hash_window(i)
        aggs.append(
            F.min(
                F.conv(F.substring(F.col(f"_d{g}"), start, 8), 16, 10).cast(
                    "bigint"
                )
            ).alias(f"mh{i}")
        )
    per_hash = digests.groupBy("doc_id").agg(*aggs)
    return per_hash.select(
        "doc_id", F.array(*[f"mh{i}" for i in range(num_hashes)]).alias("sig")
    )


def _banded(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """One row per (doc, band): band_key joins the band's sig slice.

    Keys are built with null-propagating concat (not concat_ws, which
    silently SKIPS nulls): if bands × rows_per_band overruns the
    signature width, the out-of-range elements are NULL and the band
    key becomes NULL — null keys never equi-join, so a misconfiguration
    yields zero candidates instead of a quadratic blowup of colliding
    empty keys."""

    def _key(b: int):
        parts: list = []
        for r in range(rows_per_band):
            if r:
                parts.append(F.lit("|"))
            parts.append(F.col("sig")[b * rows_per_band + r].cast("string"))
        return F.concat(*parts)

    band_entries = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), _key(b).alias("band_key"))
            for b in range(bands)
        ]
    )
    return signatures.select(
        "doc_id", "sig", F.explode(band_entries).alias("band")
    ).select("doc_id", "sig", "band.band_id", "band.band_key")


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    split_id: int | None = None,
    bucket_cap: int | None | str = _UNSET,  # type: ignore[assignment]
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band
    join → estimate Jaccard as matching-signature-component fraction;
    keep pairs ≥ threshold.

    Single-pass plan: the band self-join carries both signature arrays,
    so the estimate is a zip_with over columns already in hand — the
    signature subtree is computed once, not re-joined per side (cuts
    two shuffles and two recomputations vs the naive 4-way join).
    The self-join is hinted SHUFFLE_HASH: both sides then produce the
    *identical* hash-partitioned exchange over the signature subtree,
    which Spark's ReuseExchange collapses into one computation — a
    broadcast join would instead rebuild the whole shingle→md5→min
    pipeline per side (and at 100 TB the banded signatures are far too
    big to broadcast). The estimate (a scalar) is computed before the
    per-pair dedup so dropDuplicates hash-aggregates primitive columns
    only, never signature arrays.

    ``split_id`` switches self-dedup into **incremental** dedup — the
    production "dedupe the new crawl against the existing corpus"
    pass: ``docs`` is index ∪ batch with disjoint id ranges (index ids
    < split_id ≤ batch ids), and the band join pairs index docs with
    batch docs only (a = index, b = new), never index-index or
    batch-batch. Same single computed signature subtree and the same
    join shape — one banded equi-join, no all-pairs.

    ``bucket_cap`` is the HOT-BUCKET skew guard. Banded LSH's one
    genuine scale pathology is a large near-identical cluster
    (template/SEO boilerplate pages — a real crawl's heaviest key):
    all m members land in the same band buckets and the equi-join
    emits m² candidate rows per band, quadratic in the cluster no
    matter how the rest of the corpus behaves. With a cap C, members
    are ranked by doc_id inside each (band_id, band_key) bucket and a
    pair survives only if BOTH ranks ≤ C — full fidelity inside the
    head — or the lower side is the bucket's rank-1 representative:
    every overflow member still pairs with the representative, so
    per-bucket candidates are ≤ C(C-1)/2 + (m-C) (LINEAR in m) and
    connected components recover the full cluster through the
    representative's star. Deterministic (rank = doc_id order), so
    the SQL oracle replays it exactly; same discipline as the
    ABSOLUTE n-gram posting-list cap (relative caps re-grow with the
    corpus and trend quadratic — measured r4). Self/union dedup only.

    Defaults (r6): for SELF/union dedup the cap defaults ON
    (``DEFAULT_BUCKET_CAP``) — the no-arg call must survive a real
    crawl's template cluster; pass ``bucket_cap=None`` for the exact
    uncapped pair listing (the registry's ``dedup_minhash_lsh``
    oracle pin). In incremental mode (``split_id`` set) the default
    stays None, kept so existing results stay identical.

    ``bucket_cap="measured"`` selects the cap from the corpus's OWN
    band-bucket cardinality (one bounded register pass — see
    ``band_stats_from_registers``) instead of the static default: a
    corpus whose typical bucket legitimately holds more than
    DEFAULT_BUCKET_CAP members keeps its recall (headroom x the
    measured mean), while per-bucket work stays bounded by
    MAX_BUCKET_CAP².
    """
    if bucket_cap is _UNSET:
        bucket_cap = DEFAULT_BUCKET_CAP if split_id is None else None
    if isinstance(bucket_cap, str) and bucket_cap != "measured":
        raise ValueError(
            f"bucket_cap must be an int, None, or 'measured'; got "
            f"{bucket_cap!r}"
        )
    if bucket_cap is None and split_id is None:
        # Explicitly-uncapped SELF dedup: the all-pairs listing whose
        # hot-bucket output is m² (the registry's dedup_minhash_lsh
        # oracle pin). Executable fence, not a docstring (r7 task 2).
        # Incremental mode (split_id set) stays unguarded: index×batch
        # never enumerates index×index, and the cap is undefined there.
        quadratic_pin_guard(
            docs.count(),
            "minhash_dedup_pairs(bucket_cap=None) — the uncapped "
            "all-pairs LSH listing",
            "the default capped form (bucket_cap=DEFAULT_BUCKET_CAP; "
            "registry twin dedup_minhash_lsh_capped)",
        )
    num_hashes = bands * rows_per_band
    sigs = minhash_signatures(doc_shingles(docs, k), num_hashes)
    banded = _banded(sigs, bands, rows_per_band)
    if bucket_cap == "measured":
        # Measured-cardinality cap selection (VERDICT r10 task 5): one
        # bounded register pass over the banded frame (bands x 2^p
        # rows to the driver). Headroom x the measured mean bucket
        # size, clamped to [DEFAULT_BUCKET_CAP, MAX_BUCKET_CAP].
        caps = [
            r["bucket_cap"]
            for r in band_stats_from_registers(
                band_register_table(banded)
            ).collect()
        ]
        bucket_cap = int(max(caps)) if caps else DEFAULT_BUCKET_CAP
    if bucket_cap is None:
        a, b = banded.alias("a").hint("shuffle_hash"), banded.alias("b")
        return _band_pair_estimates(a, b, num_hashes, threshold, split_id)
    from pyspark.sql import Window

    ranked = banded.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("band_id", "band_key").orderBy("doc_id")
        ),
    )
    # The JOIN SHAPE is where the cap earns its bound, not the
    # predicate: with the rank filter only in the join condition the
    # hash join still ENUMERATES all m² in-bucket pairs before
    # rejecting them (measured: capped wall == uncapped wall at the
    # x10 skew rehearsal's 2.9k-member template cluster). Filtering
    # the BUILD side to the ≤cap head rows per bucket bounds
    # enumeration to cap × m per bucket — the build table a probe row
    # scans holds at most cap entries per key — while the (b.rn ≤ cap
    # OR a.rn = 1) condition then trims that to the head pairs plus
    # the representative's star.
    a = ranked.filter(F.col("rn") <= bucket_cap).alias("a").hint(
        "shuffle_hash"
    )
    b = ranked.alias("b")
    return _band_pair_estimates(
        a, b, num_hashes, threshold, split_id, bucket_cap=bucket_cap
    )


def _band_pair_estimates(
    a: DataFrame,
    b: DataFrame,
    num_hashes: int,
    threshold: float,
    split_id: int | None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Shared banded-join tail of the MinHash dedup family: equi-join
    on (band_id, band_key), Jaccard estimated as the
    matching-signature-component fraction from the sig arrays both
    sides already carry, per-pair dedup over primitive columns only.
    ``a``/``b`` must be aliased "a"/"b" by the caller (the same banded
    frame). ``bucket_cap`` requires the caller to have
    ranked the banded frame (``rn`` per bucket, doc_id order) and adds
    the hot-bucket guard predicate — see ``minhash_dedup_pairs``."""
    if split_id is None:
        side_pred = F.col("a.doc_id") < F.col("b.doc_id")
    else:
        side_pred = (F.col("a.doc_id") < split_id) & (
            F.col("b.doc_id") >= split_id
        )
    if bucket_cap is not None:
        # Both-in-head, or the lower side is the bucket representative
        # (rank ordering == doc_id ordering, so a.rn < b.rn already).
        side_pred = side_pred & (
            (F.col("b.rn") <= bucket_cap) | (F.col("a.rn") == 1)
        )
    matches = F.aggregate(
        F.zip_with(
            F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = F.round(matches.cast("double") / F.lit(float(num_hashes)), 6)
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & side_pred,
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            est.alias("est_jaccard"),
        )
        .dropDuplicates(["a_id", "b_id"])
        .filter(F.col("est_jaccard") >= threshold)
    )


# -- band-cardinality stats ------------------------------------------------
#
# The hot-bucket cap's one tunable was static (DEFAULT_BUCKET_CAP).
# What the right cap IS depends on a measurable corpus property: how
# many postings share a band bucket. A per-band HLL register table
# (bands x 2^p integers, constant regardless of corpus size) answers
# "how many distinct buckets / postings per bucket does band b hold",
# so the cap can be SELECTED from measured cardinality: headroom x the
# measured mean bucket size, floored at the static default (normal
# corpora — mean ~1 — keep cap 16 and the guard bites only
# pathological buckets), ceilinged at MAX_BUCKET_CAP (per-bucket pair
# work stays <= cap^2 regardless of what the corpus claims).
MAX_BUCKET_CAP = 256
BUCKET_CAP_HEADROOM = 4


def band_register_table(banded: DataFrame) -> DataFrame:
    """Per-(band_id, register) HLL compaction of the banded signature
    table: (band_id, register, max_rho, n_post). One aggregate over
    one pass; bands x 2^p rows of state regardless of corpus size.
    max_rho estimates DISTINCT band keys (bucket count); n_post counts
    posting rows — their ratio is the mean bucket size, the quantity
    that drives bucket_cap selection."""
    from datafusion_dist_spark.operators import sketch

    return sketch.hll_registers(
        banded.select("band_id", "band_key"),
        "band_key",
        group_cols=("band_id",),
        with_counts=True,
    )


def band_stats_from_registers(regs: DataFrame) -> DataFrame:
    """Per-band ingest stats from a ``band_register_table``:
    ``(band_id, n_postings, est_distinct_buckets, mean_bucket,
    bucket_cap)``. est comes from the shared HLL estimator
    (cross-engine-exact register math); mean_bucket = postings /
    estimated distinct buckets; bucket_cap is the measured-cardinality
    selection ``clamp(DEFAULT_BUCKET_CAP, HEADROOM * ceil(mean),
    MAX_BUCKET_CAP)`` — integer ladder on the rounded mean, identical
    textual op order in the DuckDB oracle."""
    from datafusion_dist_spark.operators import sketch

    agg = regs.groupBy("band_id").agg(
        F.count("*").alias("touched"),
        F.sum(sketch.rho_weight_scaled("max_rho")).alias("s_touched"),
        F.sum("n_post").cast("bigint").alias("n_postings"),
    )
    est = sketch.hll_estimate_expr(F.col("touched"), F.col("s_touched"))
    mean = F.round(F.col("n_postings").cast("double") / est, 4)
    cap = F.least(
        F.lit(MAX_BUCKET_CAP),
        F.greatest(
            F.lit(DEFAULT_BUCKET_CAP),
            (F.lit(BUCKET_CAP_HEADROOM) * F.ceil(mean)).cast("int"),
        ),
    )
    return agg.select(
        "band_id",
        "n_postings",
        est.alias("est_distinct_buckets"),
        mean.alias("mean_bucket"),
        cap.cast("int").alias("bucket_cap"),
    )


# -- SimHash --------------------------------------------------------------


# Corpus-tracking SimHash width. A FIXED sketch width saturates: at 16
# bits a 72k-doc corpus puts ~1% of ALL pairs within Hamming 3 by
# chance, so the pair op's OUTPUT is quadratic in the corpus no matter
# how candidates are blocked — the r5 second-SF sweep found the sweep
# session OOMing on exactly this (the sf0.01 gate passed for four
# rounds). The width must grow so the block-key space tracks the
# corpus: block_bits ≈ ceil(log2 n) clamped to [4, 15] (15 = the
# 60-bit hash budget / 4 pigeonhole blocks), bits = 4 × block_bits.
# Integer threshold ladder, never libm log2 — the SQL oracle replays
# the identical integer from a count(*) scalar.
SIMHASH_HASH_WIDTH = 15  # hex chars of md5 -> 60-bit token hash


def adaptive_simhash_bits(n: int) -> int:
    """SimHash width for an n-doc corpus: 4 pigeonhole blocks of
    ceil(log2 n) bits each, clamped to [16, 60]."""
    for b in range(15, 4, -1):
        if n > 1 << (b - 1):
            return 4 * b
    return 16


def simhash(
    docs: DataFrame,
    bits: int = 16,
    hash_width: int = 8,
) -> DataFrame:
    """Per-doc SimHash over distinct tokens: bit_j = sign of
    sum(+1/-1 per token according to bit j of the token hash).

    Token hash = first ``hash_width`` hex chars of md5 (cross-engine
    stable; 8 → 32-bit, 15 → 60-bit for the adaptive widths); ``bits``
    bit-columns summed in one aggregation, then packed to one BIGINT.
    """
    if bits > 4 * hash_width:
        raise ValueError(
            f"bits={bits} exceeds the {4 * hash_width}-bit hash "
            f"(hash_width={hash_width} hex chars)"
        )
    toks = spread(docs).select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    h = F.conv(
        hash_hex(F.col("tok"), seed="sim", width=hash_width), 16, 10
    ).cast("bigint")
    toks = toks.withColumn("h", h)
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    per_bit = toks.groupBy("doc_id").agg(*aggs)
    packed = sum(
        F.when(F.col(f"b{j}") > 0, F.lit(2**j)).otherwise(F.lit(0)) for j in range(bits)
    )
    return per_bit.select("doc_id", packed.cast("bigint").alias("simhash"))


def simhash_hamming_pairs(
    sims: DataFrame, bits: int = 16, max_distance: int = 3
) -> DataFrame:
    """Near-dup candidates by SimHash: block on bit-halves (a pair
    within distance d must agree on ≥1 of d+1 blocks — pigeonhole),
    then verify exact Hamming distance via bit_count(xor)."""
    n_blocks = max_distance + 1
    block_bits = bits // n_blocks
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftright(F.col("simhash"), i * block_bits)
                .bitwiseAND(2**block_bits - 1)
                .alias("block_key"),
            )
            for i in range(n_blocks)
        ]
    )
    blocked = sims.select("doc_id", "simhash", F.explode(blocks).alias("blk")).select(
        "doc_id", "simhash", "blk.block_id", "blk.block_key"
    )
    # SHUFFLE_HASH: identical per-side exchanges on (block_id,
    # block_key) → the token→simhash aggregation runs once
    # (ReuseExchange); broadcast would rebuild it per side.
    a, b = blocked.alias("a").hint("shuffle_hash"), blocked.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cands.select(
        "a_id", "b_id", dist.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_distance)


# -- exact n-gram Jaccard -------------------------------------------------


def _ngram_pair_counts(
    docs: DataFrame,
    k: int,
    max_list_len: int | None,
) -> DataFrame:
    """Shared inverted-index core: (a_id, b_id, n_inter, na, nb) for
    every doc pair sharing >= 1 shingle. One tokenize+explode pass
    (the dominant per-row cost) and one shuffle — a self-join on the
    shingle stream would compute and shuffle it twice. At 100 TB the
    posting lists ARE the inverted index.

    ``max_list_len`` is the skew guard: a degenerate "stop shingle"
    shared by m docs explodes m²/2 pairs inside ONE task — at 100 TB a
    single boilerplate n-gram is a job-killer. With the cap set,
    shingles whose posting list exceeds it are dropped *before* pair
    enumeration (the standard stop-shingle treatment in inverted
    indexes), bounding per-shingle work at cap²/2. This is an explicit
    approximation: a pair whose ONLY shared shingles are capped ones
    is missed, and surviving pairs' n_inter excludes capped shingles
    while set sizes stay uncapped, so capped scores are a lower bound
    on the exact ones. Default None = exact.
    """
    if max_list_len is None:
        # Explicitly-uncapped inverted index: one boilerplate shingle
        # shared by m docs is m²/2 pairs in one task. Executable fence
        # for the exact/oracle-anchor form (r7 task 2).
        quadratic_pin_guard(
            docs.count(),
            "the uncapped inverted-index pair listing "
            "(max_list_len=None)",
            "the default capped form (max_list_len="
            "DEFAULT_MAX_LIST_LEN; registry twin "
            "dedup_ngram_jaccard_capped)",
        )
    # Carry each doc's shingle-set size on its shingle rows (one window
    # -free groupBy-join collapsed into the explode) so the pair
    # aggregation needs no extra join against a sizes table.
    t = spread(docs).select("doc_id", tokens(F.col("text")).alias("toks"))
    sh = shingle_array(F.col("toks"), k)
    shingles = t.select(
        "doc_id", F.array_distinct(sh).alias("shs")
    ).select(
        "doc_id", F.size("shs").alias("n_sh"), F.explode("shs").alias("shingle")
    )
    return _pair_counts_from_shingles(shingles, max_list_len)


def _pair_counts_from_shingles(
    shingles: DataFrame, max_list_len: int | None
) -> DataFrame:
    """Posting-list pair enumeration over any (doc_id, n_sh, shingle)
    stream — shared by the token-shingle ops and the char-span op,
    which differ only in how they cut shingles out of the text."""
    posting = shingles.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds")
    )
    if max_list_len is not None:
        posting = posting.filter(F.size("ds") <= max_list_len)
    # Pair enumeration as TWO stacked generators (posexplode the list,
    # then explode the tail slice after each element): both are
    # codegen'd Generate nodes that STREAM pairs, where a
    # flatten(transform(transform(...))) would build the entire m²/2
    # pair array per shingle row in one interpreted expression before
    # exploding it — measured 2.5x slower end-to-end once the corpus's
    # posting lists grew past ~30 docs.
    pairs = (
        posting.select(F.posexplode("ds").alias("i", "a"), "ds")
        .select("a", F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("b"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
    )
    return pairs.groupBy("a_id", "b_id").agg(
        F.count("*").alias("n_inter"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_list_len: int | None = DEFAULT_MAX_LIST_LEN,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted-index join.

    |A∩B| comes from enumerating ordered pairs inside each shingle's
    posting list (each shared shingle contributes once — shingle sets
    are distinct per doc); |A∪B| = |A|+|B|-|A∩B|. See
    ``_ngram_pair_counts`` for the plan and the ``max_list_len`` skew
    guard.
    """
    inter = _ngram_pair_counts(docs, k, max_list_len)
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_list_len: int | None = DEFAULT_MAX_LIST_LEN,
) -> DataFrame:
    """Asymmetric n-gram containment: C = |A∩B| / min(|A|, |B|) — the
    subset detector Jaccard misses. A short document quoted inside a
    long one has tiny Jaccard (the union is dominated by the long doc)
    but containment ≈ 1; the standard screen for quote/excerpt
    duplication and doc-in-doc training leakage. Same inverted-index
    plan as ``ngram_jaccard_pairs`` (shared ``_ngram_pair_counts``);
    only the final score differs, and its inputs are exact integers,
    so the division is bit-deterministic cross-engine.
    """
    inter = _ngram_pair_counts(docs, k, max_list_len)
    cont = F.col("n_inter") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.select("a_id", "b_id", F.round(cont, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def substring_span_pairs(
    docs: DataFrame,
    span_chars: int = 24,
    min_shared: int = 2,
    max_list_len: int | None = DEFAULT_MAX_LIST_LEN,
) -> DataFrame:
    """Substring-level duplication: doc pairs sharing at least
    ``min_shared`` distinct character ``span_chars``-grams — the
    scalable inverted-index approximation of suffix-array substring
    dedup (exact repeated *spans* across documents, which token-set
    Jaccard misses entirely when the shared span is a small fraction
    of both documents: a copied paragraph inside two otherwise
    unrelated pages).

    Plan shape: cut every char k-gram out of the text as a projection
    (codegen'd transform over ``sequence``, zero Python), dedup per
    doc, then reuse the SAME posting-list pair core as the n-gram
    family (``_pair_counts_from_shingles``): one explode pass, one
    shuffle, streamed pair generators. At 100 TB the char-gram posting
    lists are skew-capped exactly like token shingles
    (``max_list_len`` drops boilerplate spans — headers, licenses —
    before the m²/2 enumeration).

    Returns (a_id, b_id, n_shared_spans, span_containment) where
    span_containment = shared / min(set sizes) — 1.0 means every span
    of the shorter doc appears in the longer one (doc-in-doc copy).
    """
    from datafusion_dist_spark.functions.hashing import char_ngrams

    if max_list_len is None:
        # Same fence as _ngram_pair_counts: char-gram posting lists
        # have the identical m²-per-stop-span pathology.
        quadratic_pin_guard(
            docs.count(),
            "the uncapped char-span pair listing (max_list_len=None)",
            "the default capped form (max_list_len=DEFAULT_MAX_LIST_LEN)",
        )
    grams = char_ngrams("text", span_chars)
    shingles = (
        spread(docs)
        .select("doc_id", F.array_distinct(grams).alias("shs"))
        .select(
            "doc_id",
            F.size("shs").alias("n_sh"),
            F.explode("shs").alias("shingle"),
        )
    )
    inter = _pair_counts_from_shingles(shingles, max_list_len)
    cont = F.col("n_inter") / F.least(F.col("na"), F.col("nb"))
    return inter.filter(F.col("n_inter") >= min_shared).select(
        "a_id",
        "b_id",
        F.col("n_inter").alias("n_shared_spans"),
        F.round(cont, 6).alias("span_containment"),
    )


# -- duplicate clusters (connected components) ----------------------------


def duplicate_clusters(
    pairs: DataFrame, max_iters: int = 8
) -> DataFrame:
    """Resolve near-dup pairs into duplicate clusters: every node gets
    ``cluster_id`` = the minimum doc_id reachable through the pair
    graph (connected components via min-label propagation with
    pointer jumping).

    Each round does (a) a neighbor-min pass — every node takes the min
    label among itself and its neighbors (one hop) — and (b) a
    pointer-jumping pass — label(v) := min(label(v), label(label(v)))
    — which doubles how far labels have propagated, so a chain of
    length L converges in O(log L) rounds (neighbor-min alone is one
    hop per round: a 20-node chain would silently exhaust the loop).
    Early exit when a round changes nothing: the number of changed
    labels is observed (``DataFrame.observe``) inside the same job as
    the eager ``localCheckpoint``, so a round runs no separate count.
    The checkpoint cuts the lineage so plans stay constant-size (at
    cluster scale use a checkpoint dir). Raises if the loop exhausts
    without converging — wrong labels must never be returned silently.

    Returns (doc_id, cluster_id); singletons are absent (a doc with no
    pair is its own implicit cluster).
    """
    fwd = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    rev = pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    edges = fwd.unionByName(rev).distinct().localCheckpoint(eager=False)
    # Seed with the 1-hop minimum (node vs its direct neighbors) — one
    # aggregation over the already-materialized edges that makes the
    # common case (size-2/3 duplicate cliques) converge in the first
    # verification round instead of needing a full propagation pass.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("m")).alias("label"),
        )
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        hop = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left_outer")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                    "label"
                ),
                F.col("label").alias("old_label"),
            )
        )
        # Pointer jumping: follow each node's label to THAT node's
        # label (labels are node ids, so the label table joins itself).
        lab2 = hop.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        obs = Observation()
        updated = (
            hop.join(lab2, hop.label == lab2.l_node, "left_outer")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("l_label", "label")).alias(
                    "new_label"
                ),
                "old_label",
            )
            .observe(
                obs,
                F.sum(
                    (F.col("new_label") != F.col("old_label")).cast("long")
                ).alias("changed"),
            )
        ).localCheckpoint(eager=True)
        changed = obs.get["changed"] or 0
        labels = updated.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iters} rounds; "
        "raise max_iters (component diameter exceeds 2^max_iters)"
    )
