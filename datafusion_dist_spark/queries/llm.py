"""Training-data pipeline queries: dedup, similarity, text, multimodal.

Each entry delegates to an operator in ``datafusion_dist_spark/
operators/`` and carries a DuckDB oracle that reproduces the
computation exactly (md5-based sketch hashes are bit-identical across
engines; see functions/hashing.py).

Dedup demos run over ``corpus`` = documents ∪ a doc_id-shifted copy of
every 5th document, so exact/near-duplicate pairs exist
deterministically (the raw synthetic corpus has no duplicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_dist_spark.catalog import load_table
from datafusion_dist_spark.functions.hashing import (
    hash_hex_oracle,
    hash_hex_wide_oracle,
    shingle_array_oracle,
    tokens_oracle,
)
from datafusion_dist_spark.operators import dedup, multimodal, similarity, text
from datafusion_dist_spark.operators.common import session_cache
from datafusion_dist_spark.registry import register

# -- shared SQL fragments --------------------------------------------------

# Planted-duplicate id offset: the smallest multiple of 100000 strictly
# above max(doc_id), NOT a literal. At the driver's testdata SFs
# (max doc_id < 100000) this is exactly the historical 100000, so
# outputs are unchanged; at scale_corpus factors > 20 (replica doc_ids
# reach factor x 5000) a literal would collide with real replica ids
# and silently merge distinct docs into one doc_id (the r5 F30
# rehearsal measured exactly that corrupted corpus). Entries that need
# several disjoint planted ranges use small multiples of this offset.
_DUP_OFFSET_SQL = "(SELECT (MAX(doc_id) // 100000 + 1) * 100000 FROM documents)"

CORPUS_CTE = f"""
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_DUP_OFFSET_SQL} AS doc_id, text FROM documents
        WHERE doc_id % 5 = 0
    )
"""

TOKS = tokens_oracle("text")
SHINGLES = shingle_array_oracle(TOKS, k=3)

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = 4


_QVEC_CACHE: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The vec_id=0 query vector — a 64-float query *parameter*, cached
    per scale dir so repeated ANN queries don't re-run the one-row
    lookup job."""
    if sf_dir not in _QVEC_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _QVEC_CACHE[sf_dir] = list(
            emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
        )
    return _QVEC_CACHE[sf_dir]


_DUP_OFFSET_CACHE: dict[tuple[str, str, str, int], int] = {}


def _planted_id_offset(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    id_col: str,
    granularity: int,
) -> int:
    """Smallest multiple of ``granularity`` strictly above
    ``max(id_col)`` — the collision-free base for planted-replica ids,
    cached per (scale dir, table, id col, granularity) so repeated
    entries don't re-run the one-row aggregate job (granularity is part
    of the key: a cached multiple of 100000 is NOT a valid offset for a
    caller asking in units of 1000000). Both sides read the same
    parquet, so Spark and the DuckDB oracle derive the identical
    integer."""
    key = (sf_dir, table, id_col, granularity)
    off = _DUP_OFFSET_CACHE.get(key)
    if off is None:
        mx = (
            load_table(spark, sf_dir, table).agg(F.max(id_col)).head()[0]
        )
        if mx is None:
            raise ValueError(
                f"{table}.{id_col} at {sf_dir} is empty/all-NULL: cannot "
                "derive a planted-id offset for the synthetic replicas"
            )
        off = (int(mx) // granularity + 1) * granularity
        _DUP_OFFSET_CACHE[key] = off
    return off


def _dup_offset(spark: SparkSession, sf_dir: str) -> int:
    """Python twin of ``_DUP_OFFSET_SQL``: the smallest multiple of
    100000 strictly above max(doc_id)."""
    return _planted_id_offset(spark, sf_dir, "documents", "doc_id", 100000)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus the planted 20% near-duplicate replicas.

    Row-identical to the historical ``documents UNION ALL shifted
    subset`` (the oracle's CORPUS_CTE keeps that form), but built as a
    single-scan fan-out: each row explodes into itself plus — for
    doc_id % 5 == 0 — an id-shifted replica. The union form inlined the
    documents scan into BOTH branches, so every corpus-consuming entry
    paid two full parquet reads+decodes (the %5 predicate cannot push
    down, so branch two still read every row); at 100 TB that is an
    entire extra pass over the corpus per query (guide §1.2/§2.4:
    remove whole passes first). One Generate after one scan emits the
    same rows. NULL doc_ids ride the otherwise-branch unchanged, same
    as the union (NULL % 5 is NULL, never = 0)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    off = _dup_offset(spark, sf_dir)
    fan = F.when(
        F.col("doc_id") % 5 == 0,
        F.array(F.col("doc_id"), F.col("doc_id") + off),
    ).otherwise(F.array(F.col("doc_id")))
    return d.select(F.explode(fan).alias("doc_id"), "text")


def _minhash_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH near-dup pair set, persisted once per
    (session, sf_dir).

    ``dedup_minhash_lsh`` and ``dedup_clusters`` are stages of ONE
    pipeline (find pairs → resolve components); re-deriving the
    2-second shingle→signature→band-join pipeline for the cluster
    entry doubled its cost (VERDICT r1). At 100 TB this persist is the
    standard materialization point: the pair set is tiny relative to
    the corpus (candidates only), every CC iteration re-reads it, and
    downstream consumers (cluster resolution, keep-list builds) reuse
    it without touching the corpus again. Held in
    :func:`~datafusion_dist_spark.operators.common.session_cache`.
    """
    return session_cache(
        spark,
        "minhash_pairs",
        (sf_dir,),
        lambda: dedup.minhash_dedup_pairs(
            _corpus(spark, sf_dir),
            bands=BANDS,
            rows_per_band=ROWS_PER_BAND,
            threshold=0.5,
            bucket_cap=None,  # oracle pin: exact uncapped listing
        ),
    )


def _ngram_truth_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact n-gram Jaccard ≥ 0.5 pair set (uncapped inverted
    index), persisted once per (session, sf_dir).

    ``dedup_ngram_jaccard`` and ``dedup_lsh_quality``'s ground-truth
    arm are stages of ONE pipeline (derive the exact pair set → score
    the sketch against it); re-deriving the tokenize→posting-list→pair
    pipeline inside the quality gate was ~its entire remaining cost
    after r11 cached the LSH arm (VERDICT r11 task 4 — this is the
    materialization point it asks for, placed at the pair set rather
    than the shingle stream because the shingle relation has a single
    consumer per plan while the PAIR SET is what both entries share;
    identical parameters ⇒ bit-identical pairs). The anchor entry
    ``dedup_minhash_lsh``'s twin ``dedup_ngram_jaccard`` deliberately
    BYPASSES this cache, so the bench keeps measuring the full
    derivation cost every round; the quality gate reads the persisted
    copy, same as every other downstream consumer would at 100 TB.
    Held in :func:`~datafusion_dist_spark.operators.common.session_cache`.
    """
    return session_cache(
        spark,
        "ngram_truth",
        (sf_dir,),
        lambda: dedup.ngram_jaccard_pairs(
            _corpus(spark, sf_dir),
            threshold=0.5,
            max_list_len=None,  # oracle pin: exact ground truth
        ),
    )


def _shingle_cte(source: str = "corpus") -> str:
    return f"""
    shingles AS (
        SELECT DISTINCT doc_id, sh.shingle
        FROM {source}, UNNEST({SHINGLES}) AS sh(shingle)
    )
    """


def _sig_cte() -> str:
    mins = ",\n               ".join(
        f"min({hash_hex_wide_oracle('shingle', i)}) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    return f"""
    sigs AS (
        SELECT doc_id,
               {mins}
        FROM shingles GROUP BY doc_id
    )
    """


def _match_frac_sql(sa: str = "sa", sb: str = "sb") -> str:
    """Fraction of matching signature components — the est-Jaccard
    numerator shared by the minhash-LSH and cluster oracles."""
    return (
        "CAST("
        + " + ".join(
            f"CASE WHEN {sa}.mh{i} = {sb}.mh{i} THEN 1 ELSE 0 END"
            for i in range(NUM_HASHES)
        )
        + f" AS DOUBLE) / {float(NUM_HASHES)}"
    )


def _minhash_pairs_cte(threshold: float = 0.5) -> str:
    """cands + thresholded pairs CTEs (assumes shingles/sigs/banded in
    scope) — ONE definition of the near-dup pair set, reused by the
    pairs query and the cluster query so they can never diverge."""
    frac = _match_frac_sql()
    return f"""cands AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM banded a JOIN banded b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        pairs AS (
            SELECT c.a_id, c.b_id, {frac} AS est
            FROM cands c
            JOIN sigs sa ON c.a_id = sa.doc_id
            JOIN sigs sb ON c.b_id = sb.doc_id
            WHERE {frac} >= {threshold}
        )"""


def _band_cte() -> str:
    # Key parts are the DECIMAL text of the hash integers — the exact
    # band_key bytes the Spark side builds (sig components are BIGINTs
    # there; the sigs CTE holds hex strings, an injective monotone
    # re-encoding that joins identically). The pair entries only need
    # within-engine join consistency, but dedup_band_stats HASHES
    # band_key cross-engine, so the text must match byte-for-byte.
    selects = []
    for b in range(BANDS):
        key = " || '|' || ".join(
            f"CAST(('0x' || mh{b * ROWS_PER_BAND + r}) AS BIGINT)"
            for r in range(ROWS_PER_BAND)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs"
        )
    return "banded AS (\n" + "\nUNION ALL\n".join(selects) + "\n)"


# -- dedup -----------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
        WITH {CORPUS_CTE}
        SELECT md5(text) AS digest, count(*) AS n_copies, min(doc_id) AS keep_id
        FROM corpus GROUP BY md5(text) HAVING count(*) > 1
    """,
    doc="Exact dedup by content digest: hash-groupBy, keep min doc_id "
    "per duplicate group. One shuffle of (digest, id) — the payload "
    "never moves.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_keep_min(_corpus(spark, sf_dir))


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH {CORPUS_CTE},
        {_shingle_cte()},
        {_sig_cte()},
        {_band_cte()},
        {_minhash_pairs_cte()}
        SELECT a_id, b_id, round(est, 6) AS est_jaccard FROM pairs
    """,
    doc="MinHash(16)+LSH(4 bands × 4 rows) near-dup pairs with "
    "estimated Jaccard ≥ 0.5. Candidate generation is an equi-join on "
    "band keys — linear shuffle, no all-pairs. "
    "(operators/dedup.py:minhash_dedup_pairs)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately NOT the persisted copy: this entry is the bench's
    # measure of the full pair-derivation pipeline; serving it from
    # _minhash_pairs_shared's cache would hide that cost from every
    # bench pass (min-of-2 would time a cache read).
    return dedup.minhash_dedup_pairs(
        _corpus(spark, sf_dir),
        bands=BANDS,
        rows_per_band=ROWS_PER_BAND,
        threshold=0.5,
        bucket_cap=None,  # oracle pin: exact uncapped listing
    )


# Hot-band-bucket cap — ABSOLUTE, like llm._NGRAM_CAP (a corpus-
# relative cap re-grows with the corpus and trends quadratic; measured
# r4). 16 keeps full pair fidelity for every bucket the uniform
# corpora produce (max band-bucket ~ a handful of docs) while bounding
# a planted template cluster's candidates to C(C-1)/2 + (m-C).
_BUCKET_CAP = 16


def _minhash_pairs_capped_cte(
    threshold: float = 0.5, cap: int = _BUCKET_CAP
) -> str:
    """Capped twin of _minhash_pairs_cte: rank inside each band bucket
    (doc_id order), keep pairs with both ranks in the head or whose
    lower side is the rank-1 representative — the identical integer
    policy the Spark operator applies."""
    frac = _match_frac_sql()
    return f"""banded_rn AS (
            SELECT doc_id, band_id, band_key,
                   row_number() OVER (
                       PARTITION BY band_id, band_key ORDER BY doc_id
                   ) AS rn
            FROM banded
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM banded_rn a JOIN banded_rn b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
             AND (b.rn <= {cap} OR a.rn = 1)
        ),
        pairs AS (
            SELECT c.a_id, c.b_id, {frac} AS est
            FROM cands c
            JOIN sigs sa ON c.a_id = sa.doc_id
            JOIN sigs sb ON c.b_id = sb.doc_id
            WHERE {frac} >= {threshold}
        )"""


@register(
    "dedup_minhash_lsh_capped",
    oracle=f"""
        WITH {CORPUS_CTE},
        {_shingle_cte()},
        {_sig_cte()},
        {_band_cte()},
        {_minhash_pairs_capped_cte()}
        SELECT a_id, b_id, round(est, 6) AS est_jaccard FROM pairs
    """,
    doc="MinHash-LSH near-dup pairs with the hot-band-bucket skew "
    "guard: members of a band bucket are ranked by doc_id and a pair "
    "survives only with both ranks <= 16 or via the bucket's rank-1 "
    "representative, bounding per-bucket candidates to C(C-1)/2 + "
    "(m-C) — LINEAR in a template cluster's size m where the uncapped "
    "join is m^2 (a real crawl's heaviest skew key: boilerplate/SEO "
    "template pages). Connected components recover the full cluster "
    "through the representative's star, so cluster-level dedup "
    "decisions are unchanged; only redundant intra-cluster pair "
    "listings are dropped. On the uniform test corpora no bucket "
    "exceeds the cap, so output equals dedup_minhash_lsh exactly. "
    "(operators/dedup.py:minhash_dedup_pairs bucket_cap)",
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dedup_pairs(
        _corpus(spark, sf_dir),
        bands=BANDS,
        rows_per_band=ROWS_PER_BAND,
        threshold=0.5,
        bucket_cap=_BUCKET_CAP,
    )


def _band_stats_oracle() -> str:
    """DuckDB mirror of the band-cardinality stats: the same shingle →
    signature → band pipeline as the minhash entries, then the shared
    HLL register compaction per band and the measured bucket_cap
    ladder — identical integer/round op order as
    dedup.band_stats_from_registers."""
    from datafusion_dist_spark.operators import sketch
    from datafusion_dist_spark.queries.aggregates import _hll_est_sql

    regs = sketch.hll_registers_oracle(
        "band_key", "banded", group_cols=("band_id",), with_counts=True
    )
    rho_max = sketch.hll_rho_max()
    est = _hll_est_sql("")
    mean = f"round(CAST(n_postings AS DOUBLE) / {est}, 4)"
    cap = (
        f"CAST(LEAST({dedup.MAX_BUCKET_CAP}, GREATEST("
        f"{dedup.DEFAULT_BUCKET_CAP}, CAST("
        f"{dedup.BUCKET_CAP_HEADROOM} * CEIL({mean}) AS INTEGER)))"
        " AS INTEGER)"
    )
    return f"""
        WITH {CORPUS_CTE},
        {_shingle_cte()},
        {_sig_cte()},
        {_band_cte()},
        regs AS ({regs}),
        a AS (
            SELECT band_id, count(*) AS touched,
                   coalesce(SUM(1::BIGINT << ({rho_max} - max_rho)), 0)
                       AS s_touched,
                   CAST(SUM(n_post) AS BIGINT) AS n_postings
            FROM regs GROUP BY 1
        )
        SELECT band_id, n_postings,
               {est} AS est_distinct_buckets,
               {mean} AS mean_bucket,
               {cap} AS bucket_cap
        FROM a
    """


@register(
    "dedup_band_stats",
    oracle=_band_stats_oracle(),
    doc="Ingest-time band-cardinality stats for the minhash index "
    "(VERDICT r10 task 5): per band, posting count, HLL-estimated "
    "distinct band buckets, mean bucket size, and the "
    "measured-cardinality bucket_cap selection (headroom x ceil(mean) "
    "clamped to [DEFAULT_BUCKET_CAP, MAX_BUCKET_CAP]) — the compaction "
    "minhash_index_build persists beside the posting lists "
    "(_band_stats.json, bands x 2^p integers; max_rho max-merges and "
    "n_post sum-merges on append, so the sidecar equals a rebuild's) "
    "and select_bucket_cap reads at zero cost. One register aggregate "
    "over one pass of the banded frame; state bands x 2^p regardless "
    "of corpus size. (operators/dedup.py:band_register_table/"
    "band_stats_from_registers; ref: the reference has no sketch "
    "surface — this extends its dedup story the way the HLL/CMS "
    "entries extend approx_distinct)",
)
def dedup_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    banded = dedup._banded(
        dedup.minhash_signatures(
            dedup.doc_shingles(_corpus(spark, sf_dir)), NUM_HASHES
        ),
        BANDS,
        ROWS_PER_BAND,
    )
    return dedup.band_stats_from_registers(dedup.band_register_table(banded))


_SIMHASH_BITS = 16


def _simhash_cte(source: str = "corpus") -> str:
    sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b{j}"
        for j in range(_SIMHASH_BITS)
    )
    pack = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END" for j in range(_SIMHASH_BITS)
    )
    return f"""
    doc_tokens AS (
        SELECT DISTINCT doc_id, t.tok
        FROM {source}, UNNEST({TOKS}) AS t(tok)
    ),
    tok_hashes AS (
        SELECT doc_id, CAST(('0x' || {hash_hex_oracle("tok", seed="sim")}) AS BIGINT) AS h
        FROM doc_tokens
    ),
    bit_sums AS (
        SELECT doc_id,
               {sums}
        FROM tok_hashes GROUP BY doc_id
    ),
    simhashes AS (
        SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM bit_sums
    )
    """


def _simhash_wide_cte(source: str = "corpus") -> str:
    """Adaptive-width simhash + blocked candidate CTEs: 60-bit token
    hash (15 hex chars), width from the corpus-count integer ladder
    (``dedup.adaptive_simhash_bits`` replayed as a CASE over
    count(*)), pack gated on j < bits, and the 4-block pigeonhole
    candidate join — the provably lossless rewrite of the all-pairs
    Hamming scan (a pair within distance 3 agrees exactly on ≥1 of 4
    blocks), which also keeps the ORACLE feasible at sf0.1."""
    from datafusion_dist_spark.operators.dedup import SIMHASH_HASH_WIDTH

    maxbits = 4 * SIMHASH_HASH_WIDTH
    ladder = " ".join(
        f"WHEN n > {1 << (b - 1)} THEN {4 * b}" for b in range(15, 4, -1)
    )
    sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT)"
        f" AS b{j}"
        for j in range(maxbits)
    )
    pack = " + ".join(
        f"CASE WHEN {j} < w.bits AND b{j} > 0 THEN {2**j} ELSE 0 END"
        for j in range(maxbits)
    )
    h = hash_hex_oracle("tok", seed="sim", width=SIMHASH_HASH_WIDTH)
    return f"""
    doc_tokens AS (
        SELECT DISTINCT doc_id, t.tok
        FROM {source}, UNNEST({TOKS}) AS t(tok)
    ),
    tok_hashes AS (
        SELECT doc_id, CAST(('0x' || {h}) AS BIGINT) AS h
        FROM doc_tokens
    ),
    w AS (
        SELECT CASE {ladder} ELSE 16 END AS bits,
               (CASE {ladder} ELSE 16 END) // 4 AS bb
        FROM (SELECT count(*) AS n FROM {source})
    ),
    bit_sums AS (
        SELECT doc_id,
               {sums}
        FROM tok_hashes GROUP BY doc_id
    ),
    simhashes AS (
        SELECT doc_id, CAST({pack} AS BIGINT) AS simhash
        FROM bit_sums CROSS JOIN w
    ),
    blocked AS (
        SELECT doc_id, simhash, u.i AS block_id,
               (simhash >> (u.i * w.bb))
                 & ((CAST(1 AS BIGINT) << w.bb) - 1) AS block_key
        FROM simhashes CROSS JOIN w, UNNEST([0, 1, 2, 3]) AS u(i)
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               a.simhash AS sa, b.simhash AS sb
        FROM blocked a JOIN blocked b
          ON a.block_id = b.block_id AND a.block_key = b.block_key
         AND a.doc_id < b.doc_id
    )
    """


@register(
    "dedup_simhash",
    oracle=f"""
        WITH {CORPUS_CTE},
        {_simhash_cte()}
        SELECT doc_id, simhash FROM simhashes
    """,
    doc="SimHash(16-bit) fingerprint per document (distinct-token ±1 "
    "bit votes, md5-derived token hashes). (operators/dedup.py:simhash)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_corpus(spark, sf_dir), bits=_SIMHASH_BITS)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH {CORPUS_CTE},
        {_simhash_wide_cte()}
        SELECT a_id, b_id,
               CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        FROM cands WHERE bit_count(xor(sa, sb)) <= 3
    """,
    doc="SimHash near-dup pairs (Hamming ≤ 3) via pigeonhole bit-block "
    "banding: a pair within distance d agrees on ≥1 of d+1 blocks, so "
    "the blocked equi-join provably loses nothing vs an all-pairs "
    "scan. The sketch WIDTH tracks the corpus (4 blocks of "
    "~ceil(log2 n) bits, 16..60 — integer ladder, scalar-subquery "
    "replayed in SQL): the r5 second-SF sweep caught the previous "
    "FIXED 16-bit width saturating at sf0.1 — with 72k docs ~1% of "
    "ALL pairs sit within Hamming 3 of each other by chance, making "
    "the op's OUTPUT quadratic in the corpus (driver OOM) while the "
    "sf0.01 gate had passed for four rounds. Same knob family as "
    "nbits/K/posting caps: fixed blocking constants are only correct "
    "for a pinned corpus size. The oracle uses the same provably "
    "lossless blocked candidates (an all-pairs oracle join would "
    "itself be 2.6e9 rows at sf0.1). "
    "(operators/dedup.py:simhash_hamming_pairs, adaptive_simhash_bits)",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    bits = dedup.adaptive_simhash_bits(corpus.count())
    sims = dedup.simhash(
        corpus, bits=bits, hash_width=dedup.SIMHASH_HASH_WIDTH
    )
    return dedup.simhash_hamming_pairs(sims, bits=bits, max_distance=3)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH {CORPUS_CTE},
        {_shingle_cte()},
        sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.a_id, i.b_id,
               round(CAST(i.n_inter AS DOUBLE)
                     / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
    """,
    doc="Exact n-gram (3-shingle) Jaccard ≥ 0.5 via inverted-index "
    "join — intersection counts from a groupBy on shared shingles, "
    "no pair enumeration beyond docs sharing a shingle. "
    "(operators/dedup.py:ngram_jaccard_pairs)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_list_len=None: this entry IS the exact twin (oracle pin);
    # the operator's no-arg default is the capped at-scale path.
    return dedup.ngram_jaccard_pairs(
        _corpus(spark, sf_dir), threshold=0.5, max_list_len=None
    )


# ABSOLUTE document-frequency cap. This constant's history is the
# whole scale lesson: an absolute cap of 8 silently no-oped the pass
# at sf0.1 (median df outgrew it; zero pairs flagged), so r3 made the
# cap RELATIVE (greatest(8, |corpus|/50)). The r4 scale rehearsal
# then measured x104 wall growth at x10 data on this entry — the
# trigger for the analysis that ended here. Root causes were two:
# the rehearsal corpus generator had a tokenization artifact that
# inflated shingle dfs (fixed in scale.py), AND the relative cap is
# analytically unbounded work on real corpora: a given shingle's df
# grows ~linearly with an open-web corpus, a relative cap re-grows
# with it, and pair work per kept list is df^2 — so the pass trends
# quadratic exactly where the cap exists to prevent that. An
# absolute cap is a true work bound: total pair work <= (cap/2) *
# total shingle occurrences, linear in data at any scale. 100 equals
# the r3 relative value at sf0.1, so reference behavior at the bench
# SF is bit-identical (1375 pairs, hash-checked). The recall trade
# is documented, not hidden: as a real corpus grows, more hot
# shingles exceed a fixed cap and drop out — boilerplate-heavy
# near-dup recall is the MinHash-LSH pass's job (constant work per
# doc by construction); this capped exact pass is the high-precision
# complement for rare-shingle overlap.
_NGRAM_CAP = 100
_NGRAM_CAP_SQL = str(_NGRAM_CAP)

# Shared capped inverted-index CTE head: shingle sizes + the kept
# (df <= cap) posting stream + pair intersections — the SQL replay of
# _pair_counts_from_shingles' cap, used by both the Jaccard and the
# containment entries so the two scores can never diverge on which
# pairs exist.
_CAPPED_INTER_CTES = f"""sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
        ),
        kept AS (
            SELECT s.doc_id, s.shingle FROM shingles s
            JOIN (SELECT shingle, count(*) AS df FROM shingles
                  GROUP BY shingle HAVING count(*) <= {_NGRAM_CAP_SQL}) l
              ON s.shingle = l.shingle
        ),
        inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )"""


@register(
    "dedup_containment",
    oracle=f"""
        WITH {CORPUS_CTE},
        {_shingle_cte()},
        {_CAPPED_INTER_CTES}
        SELECT i.a_id, i.b_id,
               round(CAST(i.n_inter AS DOUBLE)
                     / least(sa.n_sh, sb.n_sh), 6) AS containment
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.6
    """,
    doc="Asymmetric n-gram containment >= 0.6: |A∩B| / min(|A|,|B|) — "
    "the doc-in-doc / quoted-excerpt detector that Jaccard misses "
    "(a short doc quoted inside a long one has tiny Jaccard but "
    "containment ~1). Same single-pass inverted-index plan as the "
    "Jaccard pass, and — since r5 — the same ABSOLUTE posting-list "
    "cap: the zipf skew rehearsal caught this entry uncapped at "
    "x11.8 wall (vs the capped Jaccard twin's x3.1) because the "
    "injected boilerplate prefix's shingles carry df ~ 8% of the "
    "corpus and the uncapped inverted index enumerates df²/2 pairs "
    "per hot list. The cap drops those lists before enumeration "
    "(exact-scoring docs' rare-shingle overlap is the op's actual "
    "job; boilerplate recall belongs to MinHash-LSH). Exact uncapped "
    "scoring remains available via max_list_len=None, mirrored by "
    "dedup_ngram_jaccard. (operators/dedup.py:ngram_containment_pairs)",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_containment_pairs(
        _corpus(spark, sf_dir), threshold=0.6, max_list_len=_NGRAM_CAP
    )


@register(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
        WITH {CORPUS_CTE},
        {_shingle_cte()},
        {_CAPPED_INTER_CTES}
        SELECT i.a_id, i.b_id,
               round(CAST(i.n_inter AS DOUBLE)
                     / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
    """,
    doc="The skew-guarded n-gram Jaccard pass (VERDICT r1 #4): posting "
    "lists longer than the ABSOLUTE df cap (100) — 'stop shingles' "
    "whose pair enumeration is quadratic per list — are dropped "
    "before pair generation; scores are an exact lower bound (set "
    "sizes stay uncapped). The cap is deliberately absolute: it "
    "bounds total pair work at (cap/2) x total shingle occurrences, "
    "LINEAR in corpus size, where the r3 relative cap re-grows with "
    "the corpus and trends quadratic on real df distributions (see "
    "the _NGRAM_CAP comment). The oracle reproduces the cap in SQL, so the "
    "approximation itself is hash-checked; skew-bounding is "
    "property-tested with planted stop-shingles "
    "(tests/test_properties.py). (operators/dedup.py:ngram_jaccard_pairs)",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _corpus(spark, sf_dir), threshold=0.5, max_list_len=_NGRAM_CAP
    )


# -- embedding similarity --------------------------------------------------

def _cos_sql(a: str, b: str) -> str:
    """Rounded cosine-similarity fragment, parameterized — one source
    for every oracle (no string-surgery on a shared template)."""
    return (
        "round(CAST(list_cosine_similarity("
        f"CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])"
        ") AS DOUBLE), 6)"
    )


_COS = _cos_sql("a.embedding", "b.embedding")

# Corpus-tracking IVF/SemDeDup centroid count: constant inverted-list /
# cluster size (~250 vectors), the knob the r4 scale rehearsal showed
# is what keeps blocked candidate generation linear (fixed K makes
# cluster size grow with the corpus and in-cluster pair work sum(m^2)
# quadratic; fixed K also caps applyInPandas parallelism at K groups —
# both measured, BENCH_SCALE_r04 / BENCH_CORES_r04). 8-floor keeps
# tiny corpora sane. The SQL twin computes the identical integer via a
# scalar subquery; at the oracle scale factors n/250 <= 8 so K floors
# at 8 and adaptive entries hash-match the fixed-K policy.
# The ladder itself lives in operators/similarity.py since r5 (it is
# the operators' DEFAULT when no knob is passed); aliased here so the
# SQL twins below are generated from the same integers.
_IVF_LIST_SIZE = similarity.IVF_LIST_SIZE
_ADAPTIVE_K_SQL = (
    f"(SELECT greatest(8, count(*) // {_IVF_LIST_SIZE}) FROM embeddings)"
)


def _bucket_expr(tbl: str) -> str:
    return " + ".join(
        f"CASE WHEN {tbl}.embedding[{i + 1}] >= 0 THEN {2**i} ELSE 0 END"
        for i in range(4)
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, {_COS} AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ({_bucket_expr("a")}) = ({_bucket_expr("b")})
          AND {_COS} >= 0.5
    """,
    doc="Embedding-cosine near-dup pairs, sign-bucket blocked (pairs "
    "must share the 4-bit sign bucket), exact cosine ≥ 0.5 verify. "
    "ORACLE PIN, weak-by-design at 100 TB: nbits is pinned to 4 so "
    "the SQL twin can replay the exact bucket policy, which makes "
    "per-bucket pair work quadratic in the corpus (measured ~x45 at "
    "x10). No composed path routes through this form: the operator's "
    "no-arg default is the corpus-tracking nbits ladder "
    "(dedup_embedding_cosine_adaptive, measured linear), plus the "
    "bucket_cap head-cap twin for hot directions. "
    "(operators/similarity.py:embedding_near_dup_pairs)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.5, nbits=4)


# Corpus-tracking sign-bucket width: nbits grows with the corpus so
# bucket POPULATION stays ~constant (pair work = sum over 2^nbits
# buckets of m^2 — fixed nbits measured x41-46 at x10 data in the r4
# rehearsal). An integer threshold ladder, not floor(log2(n/125)):
# bit-identical across Python and SQL with plain comparisons, where
# libm log2 could disagree in the last ulp exactly at bucket-doubling
# boundaries.
# >=32000->8 ... — aliased from the operator module (the ladder is
# the operator default since r5; the SQL twin must replay the same
# integers).
_NBITS_LADDER = similarity.NBITS_LADDER
_adaptive_nbits = similarity.adaptive_nbits


_NBITS_SQL = (
    "(SELECT CASE "
    + " ".join(
        f"WHEN count(*) >= {t} THEN {b}" for t, b in _NBITS_LADDER
    )
    + " ELSE 4 END FROM embeddings)"
)


def _bucket_expr_adaptive(tbl: str) -> str:
    """8 candidate sign bits, each gated on the scalar-subquery nbits —
    static SQL whose effective bucket width tracks the corpus."""
    return " + ".join(
        f"CASE WHEN {i} < {_NBITS_SQL} AND {tbl}.embedding[{i + 1}] >= 0 "
        f"THEN {2**i} ELSE 0 END"
        for i in range(8)
    )


@register(
    "dedup_embedding_cosine_adaptive",
    oracle=f"""
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, {_COS} AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ({_bucket_expr_adaptive("a")}) = ({_bucket_expr_adaptive("b")})
          AND {_COS} >= 0.5
    """,
    doc="The at-scale variant of dedup_embedding_cosine: the sign-"
    "bucket width TRACKS the corpus (nbits from an integer threshold "
    "ladder ~ log2(n/125), so bucket population stays constant) "
    "instead of being a fixed 4 bits — the knob the r4 scale "
    "rehearsal demonstrated (fixed nbits=4 measured x41-51 wall at x10 "
    "data; more bits = fewer candidate pairs = lower recall per "
    "bucket, the standard LSH trade). At the oracle scale factors the "
    "ladder yields nbits=4, so results hash-match the fixed entry's "
    "policy replayed in SQL with the identical scalar-subquery nbits. "
    "(operators/similarity.py:embedding_near_dup_pairs)",
)
def dedup_embedding_cosine_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nbits = _adaptive_nbits(emb.count())
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.5, nbits=nbits
    )


# Head cap for the embedding-tier hot-cluster guards: per sign bucket /
# SemDeDup cell, only the first C members (vec_id order) serve as the
# lower side of a comparison. ABSOLUTE, same discipline as _NGRAM_CAP
# and _BUCKET_CAP: a hot DIRECTION cluster lands whole in one bucket
# and one coarse cell no matter how nbits/K grow (adaptive knobs split
# the SPACE, not a cluster), so without the cap both pair work and —
# for the pairs op — pair OUTPUT are m² in the cluster.
_EMB_HEAD_CAP = 16


@register(
    "dedup_embedding_cosine_capped",
    oracle=f"""
        WITH ranked AS (
            SELECT vec_id, embedding,
                   ({_bucket_expr_adaptive("embeddings")}) AS bucket,
                   row_number() OVER (
                       PARTITION BY ({_bucket_expr_adaptive("embeddings")})
                       ORDER BY vec_id
                   ) AS rn
            FROM embeddings
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, {_COS} AS cosine
        FROM ranked a JOIN ranked b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         AND a.rn <= {_EMB_HEAD_CAP}
        WHERE {_COS} >= 0.5
    """,
    doc="Embedding near-dup pairs with the hot-bucket skew guard on "
    "top of the adaptive sign-bucket width: only a bucket's first 16 "
    "members (vec_id order) serve as the lower pair side, bounding "
    "per-bucket work AND output to 16 x m where a hot direction "
    "cluster (the zipf skew corpus plants one) is otherwise m² in "
    "both — no bucket width can split a direction cluster, so the "
    "cap is the knob that survives it. Every overflow member still "
    "pairs with every head member above threshold, so cluster "
    "membership survives connected components; only redundant "
    "overflow x overflow listings are dropped. Cap replayed in SQL "
    "via row_number. "
    "(operators/similarity.py:embedding_near_dup_pairs bucket_cap)",
)
def dedup_embedding_cosine_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nbits = _adaptive_nbits(emb.count())
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.5, nbits=nbits, bucket_cap=_EMB_HEAD_CAP
    )


@register(
    "ann_topk_bruteforce",
    oracle="""
        SELECT a.vec_id,
               round(CAST(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])
               ) AS DOUBLE), 6) AS score
        FROM embeddings a
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        ORDER BY score DESC, a.vec_id ASC LIMIT 10
    """,
    doc="Exact cosine top-10 for the vec_id=0 query vector: JVM-side "
    "fold (zip_with + aggregate) + TopK — scan-only, no shuffle. "
    "(operators/similarity.py:cosine_topk_bruteforce)",
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    return similarity.cosine_topk_bruteforce(emb, list(qvec), k=10)


@register(
    "ann_lsh_topk",
    oracle=f"""
        WITH q AS (
            SELECT embedding, ({_bucket_expr("embeddings")}) AS qbucket
            FROM embeddings WHERE vec_id = 0
        )
        SELECT a.vec_id, CAST({_bucket_expr("a")} AS INTEGER) AS bucket,
               {_cos_sql("a.embedding", "q.embedding")} AS score
        FROM embeddings a CROSS JOIN q
        WHERE bit_count(xor(CAST({_bucket_expr("a")} AS BIGINT),
                            CAST(q.qbucket AS BIGINT))) <= 1
        ORDER BY score DESC, a.vec_id ASC LIMIT 10
    """,
    doc="Approximate top-10: sign-bit LSH bucket + Hamming≤1 multi-"
    "probe, exact cosine within probed buckets. The 100 TB path: "
    "bucket is a partition key, a probe reads a handful of files. "
    "(operators/similarity.py:lsh_bucket_topk)",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    return similarity.lsh_bucket_topk(emb, list(qvec), k=10, nbits=4)


# -- text analysis ---------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
        SELECT doc_id,
               CAST(len(list_filter(str_split_regex(text, '\\s+'), t -> t <> ''))
                    AS BIGINT) AS n_ws_tokens,
               CAST(len({TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({TOKS})) AS BIGINT) AS n_distinct_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    """,
    doc="Token counting: whitespace tokens, regex (BPE-ish alnum-run) "
    "tokens, distinct tokens, chars. (operators/text.py:token_stats)",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(load_table(spark, sf_dir, "documents"))


_STOP_IN = ", ".join(f"'{w}'" for w in text.STOPWORDS)

_QUALITY_SQL = f"""
        WITH t AS (
            SELECT doc_id, {TOKS} AS toks, text FROM documents
        ), m AS (
            SELECT doc_id,
                   len(toks) AS n_tok,
                   len(list_filter(toks, x -> x IN ({_STOP_IN}))) AS n_stop,
                   len(list_distinct(toks)) AS n_uniq,
                   length(array_to_string(toks, '')) AS n_alpha
            FROM t
        )
        SELECT doc_id,
               CAST(n_tok AS BIGINT) AS n_tokens,
               round(CASE WHEN n_tok > 0
                     THEN CAST(n_alpha AS DOUBLE) / n_tok ELSE 0.0 END, 6)
                 AS mean_token_len,
               round(CASE WHEN n_tok > 0
                     THEN CAST(n_stop AS DOUBLE) / n_tok ELSE 0.0 END, 6)
                 AS stopword_ratio,
               round(CASE WHEN n_tok > 0
                     THEN CAST(n_uniq AS DOUBLE) / n_tok ELSE 0.0 END, 6)
                 AS unique_ratio,
               round(0.4 * least(n_tok / 50.0, 1.0)
                     + 0.3 * (CASE WHEN n_tok > 0
                              THEN CAST(n_uniq AS DOUBLE) / n_tok ELSE 0.0 END)
                     + 0.3 * (1.0 - CASE WHEN n_tok > 0
                              THEN CAST(n_stop AS DOUBLE) / n_tok ELSE 0.0 END), 6)
                 AS quality
        FROM m
"""

@register(
    "text_quality",
    oracle=_QUALITY_SQL,
    doc="Heuristic quality scoring: length / stopword ratio / "
    "repetition ratio → composite score. (operators/text.py:quality_score)",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    score_cols = ",\n               ".join(
        f"CAST(len(list_filter(toks, x -> x IN "
        f"({', '.join(repr(w) for w in words)}))) AS BIGINT) AS score_{lang}"
        for lang, words in text.LANG_PROFILES.items()
    )
    langs = list(text.LANG_PROFILES)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " ELSE 'und' END"
    return f"""
        WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
        s AS (
            SELECT doc_id,
               {score_cols}
            FROM t
        )
        SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
               {case} AS pred_lang
        FROM s
    """


@register(
    "text_langid",
    oracle=_langid_oracle(),
    doc="Lexicon-profile language ID: per-language token-overlap scores "
    "+ deterministic argmax (first profile wins ties). "
    "(operators/text.py:language_id)",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    oracle=f"""
        WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
        g AS (
            SELECT doc_id,
                   list_transform(range(1, greatest(len(toks) - 1, 1)),
                       i -> {hash_hex_oracle(
                           "array_to_string(list_slice(toks, i, i + 2), ' ')",
                           seed="fp",
                       )}) AS ghashes
            FROM t WHERE len(toks) >= 3
        ),
        w AS (
            SELECT doc_id,
                   list_transform(range(1, len(ghashes) + 1),
                       i -> list_aggregate(list_slice(ghashes, i, i + 3), 'min'))
                     AS wmins
            FROM g
        )
        SELECT doc_id,
               CAST(len(list_distinct(wmins)) AS BIGINT) AS n_fingerprints,
               list_aggregate(wmins, 'min') AS fp_min,
               list_aggregate(wmins, 'max') AS fp_max
        FROM w
    """,
    doc="Winnowing document fingerprints (k=3 grams, window=4): "
    "rolling md5 k-gram hashes, per-window minima, distinct set per "
    "doc. (operators/text.py:winnow_fingerprints)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=3, window=4
    )


# -- multimodal ------------------------------------------------------------


@register(
    "multimodal_features",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               lower(hex(substr(text, 1, 4))) AS header_hex,
               CAST(coalesce(list_sum(list_transform(
                   range(1, least(length(text), 64) + 1),
                   i -> ascii(substr(text, i, 1))
               )), 0) % 100000 AS BIGINT) AS byte_checksum
        FROM documents
    """,
    doc="Multimodal plumbing: text bytes stand in for an opaque media "
    "payload; Arrow-batched mapInPandas feature extraction with a "
    "deterministic fake decoder (real decoders stubbed — libs absent). "
    "(operators/multimodal.py:extract_features)",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.extract_features(multimodal.attach_payload(docs))


# -- sampling --------------------------------------------------------------

from datafusion_dist_spark.operators import sampling  # noqa: E402


@register(
    "sample_hash_bernoulli",
    oracle=f"""
        SELECT doc_id, source
        FROM documents
        WHERE {sampling.bucket_oracle("doc_id", "smp")} < {int(0.2 * 65536)}
    """,
    doc="Deterministic Bernoulli sampling: keep rows whose 16-bit "
    "md5-hash of the key falls under rate*2^16. A pure function of the "
    "row — reproducible across engines, cluster sizes, and reruns, and "
    "monotone under data growth. (operators/sampling.py:hash_sample)",
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.hash_sample(docs, "doc_id", rate=0.2)


@register(
    "sample_stratified",
    oracle=f"""
        SELECT doc_id, source
        FROM documents
        WHERE {sampling.bucket_oracle("doc_id", "smp")} <
              CASE WHEN source = 'src1' THEN {int(1.0 * 65536)}
                   WHEN source = 'src2' THEN {int(0.5 * 65536)}
                   ELSE {int(0.1 * 65536)} END
    """,
    doc="Stratified deterministic sampling: per-source keep rates "
    "(keep rare strata whole, downsample common ones) — the "
    "training-mix knob of a data pipeline. "
    "(operators/sampling.py:stratified_hash_sample)",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.stratified_hash_sample(
        docs, "doc_id", "source", {"src1": 1.0, "src2": 0.5}, default_rate=0.1
    )


# -- IVF ANN ---------------------------------------------------------------




@register(
    "ann_ivf_topk",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
        ),
        assigned AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT a.vec_id, a.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        probes AS (
            SELECT cid FROM cents, q
            ORDER BY {_cos_sql("cvec", "qvec")} DESC, cid ASC
            LIMIT 2
        )
        SELECT a.vec_id, a.cid,
               {_cos_sql("a.embedding", "q.qvec")} AS score
        FROM assigned a JOIN probes p ON a.cid = p.cid CROSS JOIN q
        ORDER BY score DESC, a.vec_id ASC LIMIT 10
    """,
    doc="IVF approximate top-10: coarse-quantize every vector to its "
    "nearest of 8 deterministic centroids (broadcast codebook + top-1 "
    "window), probe the 2 centroids nearest the query, exact cosine "
    "within the probed inverted lists. At scale cid is the partition "
    "key → a probe reads nprobe/K of the data. "
    "(operators/similarity.py:ivf_topk)",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    return similarity.ivf_topk(emb, list(qvec), k=10, n_centroids=8, nprobe=2)


@register(
    "text_top_ngrams",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SHINGLES} AS shs FROM documents),
        g AS (
            SELECT doc_id, sh.shingle
            FROM t, UNNEST(list_distinct(shs)) AS sh(shingle)
        )
        SELECT shingle,
               count(*) AS doc_freq
        FROM g
        GROUP BY shingle
        ORDER BY doc_freq DESC, shingle ASC
        LIMIT 25
    """,
    doc="Corpus-level n-gram document frequency: distinct 3-gram per "
    "doc, global count, top-25. The df side of tf-idf and the "
    "stop-phrase detector of a dedup pipeline; one explode + one "
    "two-phase count + TopK.",
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_dist_spark.functions.hashing import shingle_array, tokens
    from datafusion_dist_spark.operators.common import spread

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Materialize tokens before the shingle lambda (interpreted HOFs
    # re-evaluate lambda subtrees per element — see operators/dedup.py
    # doc_shingles).
    t = spread(d).select("doc_id", tokens(F.col("text")).alias("toks"))
    sh = shingle_array(F.col("toks"), 3)
    return (
        t.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(25)
    )


@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE {CORPUS_CTE},
        {_shingle_cte()},
        {_sig_cte()},
        {_band_cte()},
        {_minhash_pairs_cte()},
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION
            SELECT b_id AS src, a_id AS dst FROM pairs
        ),
        reach(node, r) AS (
            SELECT src AS node, src AS r FROM edges
            UNION
            SELECT reach.node, e.dst
            FROM reach JOIN edges e ON reach.r = e.src
        )
        SELECT node AS doc_id, min(r) AS cluster_id
        FROM reach GROUP BY node
    """,
    doc="Duplicate-cluster resolution: MinHash near-dup pairs → "
    "connected components via iterative min-label propagation "
    "(each round = one join + one aggregation, early exit on "
    "convergence, lineage cut per round). Output: (doc_id, "
    "cluster_id=min reachable id). Oracle: DuckDB recursive-CTE "
    "transitive closure + min over the reachable set — a full "
    "hash-check of the iterative algorithm, plus planted-chain tests "
    "(tests/test_operators.py). (operators/dedup.py:duplicate_clusters)",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shares the persisted pair set with dedup_minhash_lsh — the CC
    # loop costs ~1 round-trip per iteration, not a pipeline re-derive.
    return dedup.duplicate_clusters(_minhash_pairs_shared(spark, sf_dir))


@register(
    "dedup_keep_best",
    oracle=f"""
        WITH RECURSIVE {CORPUS_CTE},
        {_shingle_cte()},
        {_sig_cte()},
        {_band_cte()},
        {_minhash_pairs_cte()},
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION
            SELECT b_id AS src, a_id AS dst FROM pairs
        ),
        reach(node, r) AS (
            SELECT src AS node, src AS r FROM edges
            UNION
            SELECT reach.node, e.dst
            FROM reach JOIN edges e ON reach.r = e.src
        ),
        clusters AS (
            SELECT node AS doc_id, min(r) AS cluster_id
            FROM reach GROUP BY node
        ),
        member AS (
            SELECT c.doc_id, c.cluster_id, length(t.text) AS n_chars
            FROM clusters c JOIN corpus t ON c.doc_id = t.doc_id
        ),
        ranked AS (
            SELECT doc_id, cluster_id, n_chars,
                   row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS rn
            FROM member
        ),
        counts AS (
            SELECT cluster_id, count(*) AS n_members
            FROM member GROUP BY cluster_id
        )
        SELECT r.cluster_id, r.doc_id AS keep_id,
               CAST(r.n_chars AS BIGINT) AS keep_chars, c.n_members
        FROM ranked r JOIN counts c ON r.cluster_id = c.cluster_id
        WHERE r.rn = 1
    """,
    doc="The dedup pipeline's final decision: per duplicate cluster, "
    "WHICH doc to keep — longest text wins, doc_id breaks ties (the "
    "quality-ranked keep-list of a production dedup pass: pairs → "
    "connected components → keep selection, all stages hash-checked). "
    "One window over the cluster membership; the corpus join is "
    "id-to-id. (operators/dedup.py:duplicate_clusters + keep ranking)",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    clusters = dedup.duplicate_clusters(_minhash_pairs_shared(spark, sf_dir))
    members = clusters.join(_corpus(spark, sf_dir), "doc_id").select(
        "doc_id", "cluster_id", F.length("text").alias("n_chars")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    # n_members rides the SAME cluster_id window partition as the keep
    # rank (unordered frame = whole partition), so one exchange serves
    # both; the previous groupBy+join re-derived the clusters⋈corpus
    # membership a second time (the two cluster_id exchanges carry
    # different payloads, so nothing reuses) and paid a join for a
    # per-partition count.
    wc = Window.partitionBy("cluster_id")
    ranked = members.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_members"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("keep_id"),
        F.col("n_chars").cast("bigint").alias("keep_chars"),
        "n_members",
    )


@register(
    "text_redact",
    oracle="""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                               '<EMAIL>', 'g'),
                           '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g'),
                       'https?://[^\\s]+', '<URL>', 'g'),
                   '(?i)\\bcustomer\\b', '<ENT>', 'g') AS text_redacted
        FROM documents WHERE doc_id < 100
    """,
    doc="PII-style scrubbing: email/phone/URL regex redaction + "
    "case-insensitive entity masking, one codegen'd projection, no "
    "shuffle. Pattern efficacy on planted PII is unit-tested "
    "(tests/test_operators.py). (operators/text.py:redact)",
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return text.redact(docs, entities=("customer",)).select(
        "doc_id", "text_redacted"
    )


@register(
    "decontaminate_ngram",
    oracle=f"""
        WITH corp AS (
            SELECT doc_id, sh.shingle
            FROM (SELECT doc_id, list_distinct({SHINGLES}) AS shs
                  FROM documents WHERE doc_id >= 20) t,
                 UNNEST(shs) AS sh(shingle)
        ),
        bench AS (
            SELECT doc_id AS bench_id, sh.shingle
            FROM (SELECT doc_id, list_distinct({SHINGLES}) AS shs
                  FROM documents WHERE doc_id < 20) t,
                 UNNEST(shs) AS sh(shingle)
        ),
        overlap AS (
            SELECT c.doc_id, b.bench_id, count(*) AS n_shared
            FROM corp c JOIN bench b ON c.shingle = b.shingle
            GROUP BY c.doc_id, b.bench_id
            HAVING count(*) >= 3
        )
        SELECT doc_id,
               CAST(max(n_shared) AS BIGINT) AS max_shared,
               count(*) AS n_benchmarks_hit
        FROM overlap GROUP BY doc_id
    """,
    doc="Benchmark decontamination: corpus docs sharing >= 3 distinct "
    "3-gram shingles with any benchmark doc (docs 0-19 stand in for "
    "the eval set). Inverted-index join with the benchmark side "
    "broadcast — the corpus is scanned once, never cross-joined. "
    "(operators/text.py:decontaminate_overlap)",
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.decontaminate_overlap(
        d.filter(F.col("doc_id") >= 20), d.filter(F.col("doc_id") < 20),
        min_shared=3,
    )


@register(
    "pipeline_clean_corpus",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, source, text, {TOKS} AS toks FROM documents
        ), m AS (
            SELECT doc_id, lang, source, text,
                   len(toks) AS n_tok,
                   len(list_filter(toks, x -> x IN ({_STOP_IN}))) AS n_stop,
                   len(list_distinct(toks)) AS n_uniq
            FROM t
        ), scored AS (
            SELECT doc_id, lang, source, text,
                   0.4 * least(n_tok / 50.0, 1.0)
                   + 0.3 * (CASE WHEN n_tok > 0
                            THEN CAST(n_uniq AS DOUBLE) / n_tok ELSE 0.0 END)
                   + 0.3 * (1.0 - CASE WHEN n_tok > 0
                            THEN CAST(n_stop AS DOUBLE) / n_tok ELSE 0.0 END)
                     AS quality
            FROM m
        ), kept AS (
            SELECT *, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
            ) AS rn
            FROM scored
            WHERE round(quality, 6) >= 0.55 AND lang = 'en' AND length(text) >= 80
        )
        SELECT doc_id, source, round(quality, 6) AS quality
        FROM kept WHERE rn = 1
    """,
    doc="End-to-end corpus cleaning pass: quality-score filter + "
    "language filter + length floor + exact-dedup keep-first — the "
    "composed shape of a production data-cleaning job (one scan, one "
    "digest shuffle). Composes operators/text.py:quality_score and "
    "operators/dedup.py:exact semantics.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # Quality is a per-row expression — carry lang/source/text through
    # the scoring projection instead of joining the score back to the
    # corpus (that join was a needless full-corpus shuffle at scale).
    enriched = text.quality_score(
        docs, keep_cols=("lang", "source", "text")
    ).filter(
        (F.col("quality") >= 0.55)
        & (F.col("lang") == "en")
        & (F.length("text") >= 80)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        enriched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", F.round("quality", 6).alias("quality"))
    )


@register(
    "embedding_quantize_int8",
    oracle="""
        WITH m AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS max_abs
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, embedding, max_abs,
                   CASE WHEN max_abs > 0 THEN 127.0 / max_abs
                        ELSE 0.0 END AS scale,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) *
                           CASE WHEN max_abs > 0 THEN 127.0 / max_abs
                                ELSE 0.0 END) AS INTEGER)) AS q_vec
            FROM m
        )
        SELECT vec_id,
               round(scale, 6) AS scale,
               CAST(list_sum(q_vec) AS BIGINT) AS q_sum,
               CASE WHEN max_abs > 0 THEN
                   round(list_max(list_transform(range(1, len(q_vec) + 1),
                       i -> abs(CAST(q_vec[i] AS DOUBLE) / scale
                                - CAST(embedding[i] AS DOUBLE)))), 6)
               ELSE 0.0 END AS max_err
        FROM q
    """,
    doc="Symmetric int8 embedding quantization: per-vector scale, "
    "quantized checksum, max reconstruction error — the 4x-compression "
    "storage path for a 100 TB vector store, one shuffle-free "
    "projection. (operators/similarity.py:quantize_int8)",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_int8(emb).select(
        "vec_id", "scale", "q_sum", "max_err"
    )


@register(
    "text_bm25_topk",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {TOKS} AS toks,
                   len({TOKS}) AS dl
            FROM documents
        ),
        tf AS (
            SELECT doc_id, dl, t.term, count(*) AS tf
            FROM d, UNNEST(list_filter(toks,
                x -> x IN ('spark', 'join', 'window'))) AS t(term)
            GROUP BY doc_id, dl, t.term
        ),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
        dft AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
        )
        SELECT tf.doc_id,
               round(SUM(
                   ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                   * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / stats.avgdl)))
               ), 6) AS bm25
        FROM tf JOIN dft USING (term), stats
        GROUP BY tf.doc_id
        ORDER BY bm25 DESC, tf.doc_id ASC
        LIMIT 20
    """,
    doc="BM25 retrieval (k1=1.2, b=0.75) of the top-20 documents for a "
    "fixed query-term bag: tokens are filtered to query terms BEFORE "
    "the explode so the aggregation input is |Q| rows/doc max; corpus "
    "stats and per-term document frequencies are 1-row / |Q|-row "
    "broadcasts. The full-text ranking primitive of a retrieval "
    "pipeline. (operators/text.py:bm25_topk)",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bm25_topk(docs, query_terms=("spark", "join", "window"))


@register(
    "text_repetition",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {TOKS} AS toks FROM documents
        ),
        b AS (
            SELECT doc_id, len(toks) AS n_tok,
                   len(list_distinct(toks)) AS n_uniq,
                   CASE WHEN len(toks) >= 2
                        THEN list_transform(range(1, len(toks)),
                             i -> toks[i] || ' ' || toks[i + 1])
                        ELSE CAST([] AS VARCHAR[]) END AS bigrams
            FROM d
        ),
        g AS (
            SELECT doc_id, u.bg, count(*) AS c
            FROM b, UNNEST(bigrams) AS u(bg)
            GROUP BY doc_id, u.bg
        ),
        m AS (
            SELECT doc_id, max(c) AS maxc,
                   CAST(SUM(c) AS BIGINT) AS total_bg
            FROM g GROUP BY doc_id
        )
        SELECT b.doc_id,
               round(CASE WHEN b.n_tok > 0
                          THEN 1.0 - b.n_uniq / b.n_tok
                          ELSE 0.0 END, 6) AS dup_token_ratio,
               round(coalesce(CAST(m.maxc AS DOUBLE) / m.total_bg, 0.0), 6)
                 AS top_bigram_frac
        FROM b LEFT JOIN m USING (doc_id)
    """,
    doc="Gopher-style repetition quality filters per document: "
    "duplicate-token ratio (1 - distinct/total) and the fraction of "
    "bigram mass held by the most frequent bigram — both exact "
    "rationals, one bigram explode grouped by doc_id (no global "
    "token shuffle). (operators/text.py:repetition_stats)",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.repetition_stats(docs)


@register(
    "ann_knn_join",
    oracle="""
        WITH q AS (
            SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
            FROM embeddings WHERE vec_id % 40 = 0
        ),
        s AS (
            SELECT q.q_id, a.vec_id AS c_id,
                   round(CAST(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]), q.q_vec
                   ) AS DOUBLE), 6) AS score
            FROM embeddings a CROSS JOIN q
            WHERE a.vec_id <> q.q_id
        )
        SELECT q_id, c_id, score, rn FROM (
            SELECT q_id, c_id, score,
                   row_number() OVER (
                       PARTITION BY q_id ORDER BY score DESC, c_id ASC
                   ) AS rn
            FROM s
        ) WHERE rn <= 5
    """,
    doc="KNN join: exact cosine top-5 corpus neighbors for every query "
    "vector (every 40th embedding), self-matches excluded. Query set "
    "broadcast, norms precomputed per side, per-query top-k window. "
    "(operators/similarity.py:knn_join)",
)
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 40 == 0)
    return similarity.knn_join(qs, emb, k=5)


@register(
    "pipeline_pack_sequences",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, doc_id % 16 AS shard,
                   CAST(len({TOKS}) AS BIGINT) AS n_tok
            FROM documents
        ),
        c AS (
            SELECT doc_id, source, shard, n_tok,
                   CAST(SUM(n_tok) OVER (
                       PARTITION BY source, shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM t
        )
        SELECT doc_id, source, shard, (cum - n_tok) // 512 AS pack_id,
               n_tok
        FROM c
    """,
    doc="Sequence packing: each document assigned to a 512-token-budget "
    "pack by its starting offset within a deterministic (source, "
    "shard) stream — shard = doc_id % 16 keeps the cumsum window "
    "embarrassingly parallel at cluster scale. "
    "(operators/text.py:pack_sequences)",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return text.pack_sequences(docs, budget_tokens=512, n_shards=16)


@register(
    "pipeline_chunk_documents",
    oracle=f"""
        WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
        n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        s AS (
            SELECT doc_id, toks, n, CAST(u.s AS BIGINT) AS start_tok
            FROM n, UNNEST(range(0, n, 48)) AS u(s)
            WHERE u.s = 0 OR u.s + 16 < n
        )
        SELECT doc_id,
               CAST(start_tok // 48 AS BIGINT) AS chunk_idx,
               start_tok,
               CAST(len(toks[start_tok + 1 : start_tok + 64]) AS BIGINT)
                 AS chunk_tokens,
               array_to_string(toks[start_tok + 1 : start_tok + 64], ' ')
                 AS chunk_text
        FROM s
    """,
    doc="Context-window chunking: 64-token chunks, stride 48 (16-token "
    "overlap) — tokenize once, per-row sequence+slice+explode; no "
    "join, no shuffle, giant documents split inside the scan stream "
    "instead of becoming one hot task. "
    "(operators/text.py:chunk_documents)",
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.chunk_documents(docs, size=64, stride=48)


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


@register(
    "pipeline_mix_rebalance",
    oracle=f"""
        WITH w AS (
            SELECT source, n,
                   CASE source WHEN 'src0' THEN 0.5
                               WHEN 'src1' THEN 0.3
                               WHEN 'src2' THEN 0.2 END AS w
            FROM (SELECT source, count(*) AS n FROM documents GROUP BY source)
            WHERE source IN ('src0', 'src1', 'src2')
        ),
        t AS (SELECT min(n / w) AS t FROM w),
        thr AS (
            SELECT source,
                   CAST(round(t * w / n * 65536) AS INTEGER) AS thr
            FROM w, t
        )
        SELECT d.doc_id, d.source, thr.thr
        FROM documents d JOIN thr ON d.source = thr.source
        WHERE {sampling.bucket_oracle("d.doc_id", "mix")} < thr.thr
    """,
    doc="Training-mix rebalancing: compute per-source hash-sampling "
    "thresholds FROM the data so surviving counts match target "
    "proportions 0.5/0.3/0.2 with the binding stratum kept whole; "
    "tiny count agg -> scalar min ratio -> thresholds broadcast onto "
    "a single scan of the corpus. "
    "(operators/sampling.py:mix_rebalance)",
)
def pipeline_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.mix_rebalance(docs, "doc_id", "source", _MIX_WEIGHTS)


@register(
    "sample_importance_dsir",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t, t.tok
            FROM documents, UNNEST({TOKS}) AS t(tok)
        ),
        occ AS (
            SELECT doc_id,
                   CAST(('0x' || {hash_hex_oracle("tok", "dsir", 8)}) AS BIGINT)
                     % 1024 AS bucket,
                   CAST(count(*) AS BIGINT) AS n_occ, max(is_t) AS is_t
            FROM toks GROUP BY 1, 2
        ),
        stats AS (
            SELECT bucket,
                   CAST(SUM(CASE WHEN is_t = 1 THEN n_occ ELSE 0 END)
                        AS BIGINT) AS ct,
                   CAST(SUM(n_occ) AS BIGINT) AS cs
            FROM occ GROUP BY bucket
        ),
        tot AS (
            SELECT CAST(SUM(ct) AS BIGINT) AS nt,
                   CAST(SUM(cs) AS BIGINT) AS ns
            FROM stats
        ),
        lr AS (
            SELECT bucket,
                   CAST(round((ln(CAST(ct + 1 AS DOUBLE) / (nt + 1024.0))
                             - ln(CAST(cs + 1 AS DOUBLE) / (ns + 1024.0)))
                             * 1e6) AS BIGINT) AS lr_micro
            FROM stats, tot
        )
        SELECT occ.doc_id,
               CAST(SUM(occ.n_occ * lr.lr_micro) AS BIGINT) AS score_micro,
               CAST(SUM(occ.n_occ) AS BIGINT) AS n_tok
        FROM occ JOIN lr USING (bucket) GROUP BY occ.doc_id
    """,
    doc="DSIR importance weights (Xie et al. 2023): per-doc hashed-"
    "unigram log-likelihood ratio of the lang='en' target vs the "
    "whole corpus, integerized to micro-nats so per-doc scores are "
    "order-independent integer sums. One explode, two small aggs, "
    "bucket table broadcast back. "
    "(operators/sampling.py:importance_weights_dsir)",
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return sampling.importance_weights_dsir(docs)


@register(
    "multimodal_resize",
    oracle="""
        SELECT doc_id,
               CAST(least(length(text), 256) AS BIGINT) AS out_bytes,
               md5(substring(text, 1, 256)) AS resized_md5
        FROM documents
    """,
    doc="Image-resize plumbing: Arrow-batched mapInPandas 1:1 transform "
    "over binary payloads (deterministic truncation stands in for "
    "PIL.thumbnail — identical schema/batching); output audit columns "
    "(size + md5 of resized bytes) give the Python path a bit-exact "
    "SQL oracle (payload bytes are the UTF-8 text, ASCII here). "
    "(operators/multimodal.py:resize_images)",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return multimodal.resize_images(multimodal.attach_payload(docs))


@register(
    "multimodal_frames",
    oracle="""
        WITH p AS (
            SELECT doc_id, text, CAST(length(text) AS BIGINT) AS nb
            FROM documents WHERE length(text) > 0
        ),
        s AS (
            SELECT doc_id, text,
                   CAST(ceil(CAST(nb AS DOUBLE) / 64) AS BIGINT) AS nf
            FROM p
        ),
        st AS (
            SELECT doc_id, text, nf,
                   CAST(ceil(CAST(nf AS DOUBLE) / 4) AS BIGINT) AS stride
            FROM s
        )
        SELECT doc_id, CAST(u.i AS BIGINT) AS frame_idx,
               CAST(length(substring(text, u.i * 64 + 1, 64)) AS BIGINT)
                 AS frame_bytes,
               md5(substring(text, u.i * 64 + 1, 64)) AS frame_md5
        FROM st, UNNEST(range(0, nf, stride)) AS u(i)
    """,
    doc="Video frame-sampling plumbing: 1-row-in N-rows-out mapInPandas "
    "fan-out (the ffmpeg keyframe shape) — payload treated as 64-byte "
    "frames, every ceil(nf/4)-th emitted with md5+length audit "
    "columns for an exact oracle. "
    "(operators/multimodal.py:sample_frames)",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return multimodal.sample_frames(multimodal.attach_payload(docs))


@register(
    "pipeline_dataset_card",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, source, text,
                   len({TOKS}) AS n_tok,
                   length(text) AS n_chars,
                   md5(text) AS digest
            FROM documents
        )
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               count(DISTINCT digest) AS n_unique,
               round(1.0 - CAST(count(DISTINCT digest) AS DOUBLE)
                     / count(*), 6) AS dup_rate,
               CAST(min(n_tok) AS BIGINT) AS min_tokens,
               CAST(max(n_tok) AS BIGINT) AS max_tokens
        FROM t GROUP BY lang, source
    """,
    doc="The dataset card: per (lang, source) stratum — doc counts, "
    "exact token/char totals, distinct-content count and duplication "
    "rate, token-length extremes. Every metric is an integer count or "
    "a single division of integers, so it is bit-deterministic at any "
    "aggregation order — the summary a 100 TB corpus publishes after "
    "every pipeline run. One scan, one two-phase aggregate keyed by "
    "the (lang, source) stratum.",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_dist_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.md5("text").alias("digest"),
    )
    uniq = F.countDistinct("digest")
    return t.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        uniq.alias("n_unique"),
        F.round(
            F.lit(1.0) - uniq.cast("double") / F.count("*"), 6
        ).alias("dup_rate"),
        F.min("n_tok").cast("bigint").alias("min_tokens"),
        F.max("n_tok").cast("bigint").alias("max_tokens"),
    )


@register(
    "ann_kmeans_refine",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings
            WHERE vec_id < 8
        ),
        assigned AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT a.vec_id, a.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        dims AS (
            SELECT cid, d.i AS dim,
                   CAST(ROUND(CAST(embedding[d.i] AS DOUBLE) * 1000000)
                        AS BIGINT) AS m
            FROM assigned, UNNEST(range(1, 65)) AS d(i)
        )
        SELECT cid, CAST(dim AS INTEGER) AS dim,
               round(CAST(sum(m) AS DOUBLE) / (count(*) * 1000000.0), 6)
                   AS centroid,
               count(*) AS n_members
        FROM dims GROUP BY cid, dim
    """,
    doc="One distributed Lloyd iteration of codebook training: assign "
    "every vector to its nearest seed centroid (max rounded cosine, "
    "id tiebreak), recompute centroids as per-dimension means in "
    "FIXED POINT (integer micro-units) so the distributed sum is "
    "associative and the result hash-checks against the SQL oracle — "
    "the integer-moments exactness trick applied to iterative ML. One "
    "scan, one (cid, dim)-keyed two-phase aggregate with K*64 final "
    "groups. (operators/similarity.py:kmeans_refine_step)",
)
def ann_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_refine_step(emb, n_centroids=8)


def _kmeans_iter_sql(src_cents: str, src_dims_alias: str) -> str:
    """One SQL Lloyd iteration against centroid CTE ``src_cents``
    (cid, cvec DOUBLE[]): assignment (rounded cosine, id tiebreak) +
    fixed-point per-dimension means — the oracle twin of
    operators/similarity.py:kmeans_refine_step."""
    return f"""
        {src_dims_alias}_assigned AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT a.vec_id, a.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY round(CAST(list_cosine_similarity(
                                        CAST(a.embedding AS DOUBLE[]),
                                        CAST(c.cvec AS DOUBLE[])
                                    ) AS DOUBLE), 6) DESC, c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN {src_cents} c
            ) WHERE rn = 1
        ),
        {src_dims_alias}_dims AS (
            SELECT cid, d.i AS dim,
                   CAST(ROUND(CAST(embedding[d.i] AS DOUBLE) * 1000000)
                        AS BIGINT) AS m
            FROM {src_dims_alias}_assigned, UNNEST(range(1, 65)) AS d(i)
        ),
        {src_dims_alias}_out AS (
            SELECT cid, dim,
                   round(CAST(sum(m) AS DOUBLE) / (count(*) * 1000000.0), 6)
                       AS centroid,
                   count(*) AS n_members
            FROM {src_dims_alias}_dims GROUP BY cid, dim
        )
    """


@register(
    "ann_kmeans_two_rounds",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < 8
        ),
        {_kmeans_iter_sql("cents", "r1")},
        cents2 AS (
            SELECT cid, list(centroid ORDER BY dim) AS cvec
            FROM r1_out GROUP BY cid
        ),
        {_kmeans_iter_sql("cents2", "r2")}
        SELECT cid, CAST(dim AS INTEGER) AS dim, centroid, n_members
        FROM r2_out
    """,
    doc="TWO chained Lloyd iterations, each hash-checked: round 1 "
    "refines the seed codebook; its fixed-point centroids become the "
    "driver-side model artifact that parameterizes round 2's "
    "assignment (collect K*64 rounded doubles between rounds — the "
    "iterative-training loop shape, where only the tiny codebook "
    "crosses the driver, never data). Exactness survives the "
    "iteration because each round's output is bit-deterministic "
    "integer-mean arithmetic, so both engines enter round 2 with "
    "IDENTICAL centroids. (operators/similarity.py:kmeans_refine_step)",
)
def ann_kmeans_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    r1 = similarity.kmeans_refine_step(emb, n_centroids=8)
    return similarity.kmeans_refine_step(
        emb, codebook=similarity.collect_codebook(r1)
    )


@register(
    "ann_kmeans_converged",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < 8
        ),
        {_kmeans_iter_sql("cents", "r1")},
        cents2 AS (
            SELECT cid, list(centroid ORDER BY dim) AS cvec
            FROM r1_out GROUP BY cid
        ),
        {_kmeans_iter_sql("cents2", "r2")},
        cents3 AS (
            SELECT cid, list(centroid ORDER BY dim) AS cvec
            FROM r2_out GROUP BY cid
        ),
        {_kmeans_iter_sql("cents3", "r3")},
        cents4 AS (
            SELECT cid, list(centroid ORDER BY dim) AS cvec
            FROM r3_out GROUP BY cid
        ),
        {_kmeans_iter_sql("cents4", "r4")}
        SELECT cid, CAST(dim AS INTEGER) AS dim, centroid, n_members
        FROM r4_out
    """,
    doc="Lloyd's algorithm TO CONVERGENCE (cap 4 rounds): the real "
    "offline IVF codebook trainer, not a fixed-round demo. The Spark "
    "side stops at the first EXACT fixed point of the integer-mean "
    "codebook; the oracle always runs the full 4 rounds — equivalent "
    "by construction, because a bit-exact fixed point is stable, so "
    "every round after convergence reproduces the same centroids. "
    "Only the K*64 rounded codebook crosses the driver per round. "
    "(operators/similarity.py:kmeans_train)",
)
def ann_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out, _rounds = similarity.kmeans_train(emb, n_centroids=8, max_rounds=4)
    return out


@register(
    "dedup_substring_spans",
    oracle=f"""
        WITH {CORPUS_CTE},
        spans AS (
            SELECT DISTINCT doc_id, g.span
            FROM (
                SELECT doc_id,
                       CASE WHEN length(text) >= 24 THEN
                           list_transform(range(1, length(text) - 22),
                                          i -> substring(text, i, 24))
                       ELSE CAST([] AS VARCHAR[]) END AS grams
                FROM corpus
            ), UNNEST(grams) AS g(span)
        ),
        sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM spans GROUP BY doc_id
        ),
        kept AS (
            SELECT s.doc_id, s.span FROM spans s
            JOIN (SELECT span FROM spans
                  GROUP BY span HAVING count(*) <= {_NGRAM_CAP_SQL}) l
              ON s.span = l.span
        ),
        inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
            FROM kept a JOIN kept b
              ON a.span = b.span AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.a_id, i.b_id,
               i.n_inter AS n_shared_spans,
               round(CAST(i.n_inter AS DOUBLE)
                     / least(sa.n_sh, sb.n_sh), 6) AS span_containment
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE i.n_inter >= 2
    """,
    doc="Substring-level dedup: doc pairs sharing >= 2 distinct "
    "character 24-grams — the inverted-index approximation of "
    "suffix-array substring dedup (catches a copied span that is a "
    "small fraction of both docs, invisible to token-set Jaccard). "
    "Char spans are cut as a codegen'd projection; pair counting "
    "reuses the posting-list core with the SAME absolute df cap as "
    "the n-gram family (100 — boilerplate spans like headers and "
    "license blocks are the char-level stop shingles; the cap is the "
    "work bound that keeps pair enumeration linear in corpus size, "
    "and it is mirrored in the oracle so the approximation is "
    "hash-checked). (operators/dedup.py:substring_span_pairs)",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_span_pairs(
        _corpus(spark, sf_dir),
        span_chars=24,
        min_shared=2,
        max_list_len=_NGRAM_CAP,
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, t.term, count(*) AS tf
            FROM (SELECT doc_id, {TOKS} AS toks FROM documents),
                 UNNEST(toks) AS t(term)
            GROUP BY doc_id, t.term
        ),
        dfreq AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
            ) AS rank
            FROM scored
        )
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, tfidf
        FROM ranked WHERE rank <= 3
    """,
    doc="Per-document top-3 TF-IDF keyword extraction: tf * ln(N/df), "
    "deterministic term tiebreak. One tokenize pass; document "
    "frequencies and the doc count aggregate from the same (doc, "
    "term) counts and join back term-keyed — the raw text never "
    "shuffles. (operators/text.py:tfidf_topk)",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_topk(load_table(spark, sf_dir, "documents"), k_top=3)


@register(
    "text_lm_score",
    oracle="""
        WITH bg AS (
            SELECT doc_id, g.bg, count(*) AS n
            FROM (
                SELECT doc_id,
                       CASE WHEN length(text) >= 2 THEN
                           list_transform(range(1, length(text)),
                                          i -> substring(text, i, 2))
                       ELSE CAST([] AS VARCHAR[]) END AS grams
                FROM documents
            ), UNNEST(grams) AS g(bg)
            GROUP BY doc_id, g.bg
        ),
        model AS (SELECT bg, sum(n) AS cnt FROM bg GROUP BY bg),
        ctx AS (
            SELECT substring(bg, 1, 1) AS c1, sum(cnt) AS ctx_cnt
            FROM model GROUP BY 1
        )
        SELECT b.doc_id,
               CAST(sum(b.n) AS BIGINT) AS n_bigrams,
               round(sum(b.n * ln(CAST(m.cnt AS DOUBLE) / x.ctx_cnt))
                     / sum(b.n), 6) AS avg_logprob
        FROM bg b
        JOIN model m ON b.bg = m.bg
        JOIN ctx x ON substring(b.bg, 1, 1) = x.c1
        GROUP BY b.doc_id
    """,
    doc="Model-based quality scoring: train a char-bigram LM on the "
    "corpus (two vocabulary-sized aggregations, broadcast back), "
    "score each doc by mean ln p(c2|c1) — the perplexity-filter "
    "shape where the model is tiny and the scoring pass is "
    "single-scan. (operators/text.py:bigram_lm_score)",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_lm_score(load_table(spark, sf_dir, "documents"))


# -- paragraph-block dedup / boilerplate / semantic dedup / graph ---------

_BLOCKS_CTE = f"""
    toksrc AS (SELECT doc_id, {TOKS} AS toks FROM corpus),
    blocks AS (
        SELECT doc_id, CAST(b.i AS BIGINT) AS block_idx,
               array_to_string(list_slice(toks, b.i*20 + 1, b.i*20 + 20),
                               ' ') AS block
        FROM toksrc, UNNEST(range(0, (len(toks) + 19) // 20)) AS b(i)
        WHERE len(toks) > 0
    )
"""


@register(
    "dedup_paragraph_blocks",
    oracle=f"""
        WITH {CORPUS_CTE}, {_BLOCKS_CTE},
        ranked AS (
            SELECT doc_id, block_idx, block,
                   row_number() OVER (
                       PARTITION BY md5(block)
                       ORDER BY doc_id, block_idx
                   ) = 1 AS keep
            FROM blocks
        )
        SELECT doc_id,
               count(*) AS n_blocks,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               coalesce(string_agg(block, ' ' ORDER BY block_idx)
                            FILTER (WHERE keep), '') AS text_dedup
        FROM ranked GROUP BY doc_id
    """,
    doc="Sub-document exact dedup (RefinedWeb-style line dedup over "
    "20-token blocks): repeated blocks survive only at their first "
    "(doc_id, block_idx) occurrence; documents are reassembled from "
    "surviving blocks. Duplicate decision keyed on the fixed-width "
    "md5 digest, payload shuffled exactly twice. "
    "(operators/text.py:block_dedup)",
)
def dedup_paragraph_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.block_dedup(_corpus(spark, sf_dir))


@register(
    "text_boilerplate_score",
    oracle=f"""
        WITH {_shingle_cte("documents")},
        df AS (SELECT shingle, count(*) AS dfc FROM shingles
               GROUP BY shingle),
        tot AS (SELECT count(*) AS total FROM documents)
        SELECT s.doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN d.dfc * 100 > t.total * 25
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
               round(CAST(sum(CASE WHEN d.dfc * 100 > t.total * 25
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS boiler_ratio,
               CAST(sum(CASE WHEN d.dfc * 100 > t.total * 25
                        THEN 1 ELSE 0 END) AS BIGINT) * 100
                   >= count(*) * 50 AS is_boiler
        FROM shingles s
        JOIN df d ON s.shingle = d.shingle
        CROSS JOIN tot t
        GROUP BY s.doc_id
    """,
    doc="Boilerplate detection (CCNet-style common-line filter): a "
    "shingle present in >25% of documents is 'common'; a document "
    "whose distinct shingles are >=50% common is flagged as "
    "template/boilerplate. Corpus size enters as a broadcast 1-row "
    "scalar; the shingle-df join is colocated with the df "
    "aggregation's partitioning. (operators/text.py:boilerplate_score)",
)
def text_boilerplate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.boilerplate_score(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_semantic",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < 8
        ),
        assigned AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT a.vec_id, a.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        dups AS (
            SELECT y.vec_id, min(x.vec_id) AS dup_of,
                   count(*) AS n_dups
            FROM assigned x
            JOIN assigned y ON x.cid = y.cid AND x.vec_id < y.vec_id
            WHERE {_cos_sql("x.embedding", "y.embedding")} >= 0.5
            GROUP BY y.vec_id
        )
        SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid, d.dup_of,
               CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups
        FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """,
    doc="SemDeDup-style semantic dedup: coarse-quantize the embedding "
    "space (shuffle-free centroid argmax, ivf_assignments), then "
    "score cosine only within a cluster and mark vectors with a "
    "lower-id in-cluster neighbor >= 0.5 as semantic duplicates. "
    "Pair work is sum-of-cluster-sizes squared, not corpus squared; "
    "K ~ sqrt(N) at scale keeps blocks small. ORACLE PIN, "
    "weak-by-design at 100 TB: K is pinned to 8 so the SQL twin "
    "replays the exact clustering, making cluster size (and the "
    "in-cluster pair term) grow linearly with the corpus. No "
    "composed path uses fixed K: the operator default is the "
    "adaptive K = n/250 ladder (dedup_semantic_adaptive, measured "
    "linear) with the head_cap twin for hot cells. "
    "(operators/similarity.py:semantic_dedup_decisions)",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_decisions(emb, n_centroids=8, threshold=0.5)


@register(
    "sample_reservoir",
    oracle="""
        SELECT doc_id, lang, rn FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY substr(md5('11:' || CAST(doc_id AS VARCHAR)),
                                       1, 8),
                                doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= 5
    """,
    doc="Deterministic per-stratum reservoir sample: exactly k=5 "
    "documents per language, chosen by ranking on a seeded md5 hash "
    "of the key (uniform, reproducible across engines and runs — the "
    "distributed replacement for driver-seeded random reservoirs). "
    "One window shuffle on the stratum key; the k*strata result is "
    "tiny regardless of corpus size.",
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from datafusion_dist_spark.functions.hashing import hash_hex

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        hash_hex(F.col("doc_id").cast("string"), seed=11), "doc_id"
    )
    return d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@register(
    "embedding_pq_encode",
    oracle="""
        WITH ex AS (
            SELECT vec_id, (d.i - 1) // 16 AS s, (d.i - 1) % 16 AS o,
                   CAST(ROUND(CAST(embedding[d.i] AS DOUBLE) * 1000000)
                        AS BIGINT) AS m
            FROM embeddings, UNNEST(range(1, 65)) AS d(i)
        ),
        cb AS (
            SELECT vec_id AS code, s, o, m AS cm FROM ex WHERE vec_id < 4
        ),
        dists AS (
            SELECT e.vec_id, e.s, c.code,
                   CAST(sum((e.m - c.cm) * (e.m - c.cm)) AS BIGINT) AS dist
            FROM ex e JOIN cb c ON e.s = c.s AND e.o = c.o
            GROUP BY e.vec_id, e.s, c.code
        ),
        best AS (
            SELECT vec_id, s, code, dist FROM (
                SELECT vec_id, s, code, dist,
                       row_number() OVER (
                           PARTITION BY vec_id, s
                           ORDER BY dist, code
                       ) AS rn
                FROM dists
            ) WHERE rn = 1
        )
        SELECT vec_id,
               string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS codes,
               CAST(sum(dist) AS BIGINT) AS total_qerr
        FROM best GROUP BY vec_id
    """,
    doc="Product-quantization encoding (4 subspaces x 16 dims, 4-entry "
    "seed codebook per subspace): each vector compresses to 4 small "
    "code ids + an exact integer quantization error. Components are "
    "quantized to micro-units in-plan so every squared-L2 distance is "
    "an exact BIGINT and the argmin is tolerance-free; the codebook "
    "broadcast-joins and three shrinking aggregations never shuffle "
    "the vector payload. The compressed form is what an IVF-PQ "
    "serving stack holds in RAM. (operators/similarity.py:pq_encode)",
)
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_encode(emb, n_codes=4, n_subspaces=4)


@register(
    "ann_ivf_pq_topk",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings
            WHERE vec_id < 8
        ),
        assigned AS (
            SELECT vec_id, cid FROM (
                SELECT a.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        probes AS (
            SELECT cid FROM cents, q
            ORDER BY {_cos_sql("cvec", "qvec")} DESC, cid ASC
            LIMIT 2
        ),
        ex AS (
            SELECT vec_id, (d.i - 1) // 16 AS s, (d.i - 1) % 16 AS o,
                   CAST(ROUND(CAST(embedding[d.i] AS DOUBLE) * 1000000)
                        AS BIGINT) AS m
            FROM embeddings, UNNEST(range(1, 65)) AS d(i)
        ),
        cb AS (
            SELECT vec_id AS code, s, o, m AS cm FROM ex WHERE vec_id < 4
        ),
        dists AS (
            SELECT e.vec_id, e.s, c.code,
                   CAST(sum((e.m - c.cm) * (e.m - c.cm)) AS BIGINT) AS dist
            FROM ex e JOIN cb c ON e.s = c.s AND e.o = c.o
            GROUP BY e.vec_id, e.s, c.code
        ),
        best AS (
            SELECT vec_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (
                           PARTITION BY vec_id, s
                           ORDER BY dist, code
                       ) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        qtab AS (
            SELECT c.code, e.s,
                   CAST(sum((e.m - c.cm) * (e.m - c.cm)) AS BIGINT) AS qdist
            FROM ex e JOIN cb c ON e.s = c.s AND e.o = c.o
            WHERE e.vec_id = 0
            GROUP BY c.code, e.s
        ),
        adc AS (
            SELECT b.vec_id, CAST(sum(t.qdist) AS BIGINT) AS adc_dist
            FROM best b JOIN qtab t ON b.s = t.s AND b.code = t.code
            GROUP BY b.vec_id
        )
        SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid, d.adc_dist
        FROM assigned a
        JOIN probes p ON a.cid = p.cid
        JOIN adc d ON d.vec_id = a.vec_id
        ORDER BY d.adc_dist ASC, a.vec_id ASC LIMIT 10
    """,
    doc="IVF-PQ approximate top-10 — the full two-level ANN serving "
    "stack: IVF prunes to the 2 probed inverted lists, PQ asymmetric "
    "distance ranks candidates by summing a broadcast "
    "subspace-distance lookup table over each vector's stored codes "
    "(exact BIGINT arithmetic end-to-end, no candidate vector "
    "touched). At scale cid and the codes are ingest-time columns of "
    "one row, so the query is a probe-pruned scan plus table "
    "lookups. (operators/similarity.py:ivf_pq_topk)",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir)
    return similarity.ivf_pq_topk(
        emb, list(qvec), query_id=0, k=10, n_centroids=8, nprobe=2,
        n_codes=4, n_subspaces=4,
    )

@register(
    "multimodal_phash_pairs",
    oracle=f"""
        WITH {CORPUS_CTE},
        ph AS (
            SELECT doc_id,
                   CAST((coalesce(list_sum(list_transform(range(1, least(length(text), 16) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 1 + (coalesce(list_sum(list_transform(range(17, least(length(text), 32) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 2 + (coalesce(list_sum(list_transform(range(33, least(length(text), 48) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 4 + (coalesce(list_sum(list_transform(range(49, least(length(text), 64) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 8 + (coalesce(list_sum(list_transform(range(65, least(length(text), 80) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 16 + (coalesce(list_sum(list_transform(range(81, least(length(text), 96) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 32 + (coalesce(list_sum(list_transform(range(97, least(length(text), 112) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 64 + (coalesce(list_sum(list_transform(range(113, least(length(text), 128) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 128 + (coalesce(list_sum(list_transform(range(129, least(length(text), 144) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 256 + (coalesce(list_sum(list_transform(range(145, least(length(text), 160) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 512 + (coalesce(list_sum(list_transform(range(161, least(length(text), 176) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 1024 + (coalesce(list_sum(list_transform(range(177, least(length(text), 192) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 2048 + (coalesce(list_sum(list_transform(range(193, least(length(text), 208) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 4096 + (coalesce(list_sum(list_transform(range(209, least(length(text), 224) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 8192 + (coalesce(list_sum(list_transform(range(225, least(length(text), 240) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 16384 + (coalesce(list_sum(list_transform(range(241, least(length(text), 256) + 1), i -> ascii(substr(text, i, 1)))), 0) % 2) * 32768
                        AS BIGINT) AS phash
            FROM corpus
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 2
    """,
    doc="Media near-dup pairs by perceptual hash: a 16-bit byte-chunk-"
    "parity pHash computed from the binary payload in Arrow-batched "
    "Python (where the real decoder+DCT would run), then the SimHash "
    "bit-block pigeonhole banding finds all pairs within Hamming "
    "distance 2 without an all-pairs join. One sketch-pair pipeline "
    "serves text and media alike. "
    "(operators/multimodal.py:perceptual_hash, "
    "operators/dedup.py:simhash_hamming_pairs)",
)
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pay = multimodal.attach_payload(_corpus(spark, sf_dir))
    ph = multimodal.perceptual_hash(pay, bits=16, window=256)
    return dedup.simhash_hamming_pairs(
        ph.select("doc_id", F.col("phash").alias("simhash")),
        bits=16,
        max_distance=2,
    )


@register(
    "pipeline_quality_buckets",
    oracle=f"""
        WITH q AS ({_QUALITY_SQL})
        SELECT bucket,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               min(quality) AS min_q,
               max(quality) AS max_q
        FROM (
            SELECT doc_id, n_tokens, quality,
                   ntile(10) OVER (ORDER BY quality, doc_id) AS bucket
            FROM q
        ) GROUP BY bucket
    """,
    doc="Curriculum / quality-binning pass: decile-bucket the corpus "
    "by the heuristic quality score (ntile with a doc_id tiebreak so "
    "the split is deterministic), then per-bucket volume stats — the "
    "shape that feeds mix weighting or staged training curricula. "
    "One global-sort window on a scalar projection (the text never "
    "enters the window) + one tiny aggregation.",
)
def pipeline_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT Window.orderBy(...).ntile: a global window is single-
    # partition by construction (Spark warns "Moving all data to a
    # single partition") — at 100 TB every (doc_id, n_tokens, quality)
    # row would funnel through one task. global_row_number ranks
    # distributed (range repartition + per-partition offsets), and
    # ntile's exact semantics are then integer arithmetic on the rank:
    # with n rows, the first n % 10 buckets hold ceil(n/10) rows and
    # the rest floor(n/10) — replayed bit-for-bit against the oracle's
    # real ntile at both SFs.
    from datafusion_dist_spark.operators.common import global_row_number

    q = text.quality_score(load_table(spark, sf_dir, "documents"))
    ranked, n = global_row_number(
        q.select("doc_id", "n_tokens", "quality"),
        [F.col("quality"), F.col("doc_id")],
    )
    base, rem = divmod(n, 10)
    head = rem * (base + 1)
    bucket = F.when(
        F.col("rn") <= head,
        F.expr(f"CAST((rn - 1) DIV {base + 1} AS INT) + 1"),
    )
    bucket = (
        bucket.otherwise(
            F.expr(f"CAST((rn - {head} - 1) DIV {base} AS INT) + {rem + 1}")
        )
        if base
        else bucket
    )
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("quality").alias("min_q"),
            F.max("quality").alias("max_q"),
        )
    )


@register(
    "entity_match_fuzzy",
    oracle="""
        WITH ents AS (
            SELECT c_custkey AS ent_key, c_name AS name FROM customer
            UNION ALL
            SELECT c_custkey
                     + (SELECT (MAX(c_custkey) // 1000000 + 1) * 1000000
                        FROM customer) AS ent_key,
                   substr(c_name, 1, length(c_name) - 1) || 'X' AS name
            FROM customer WHERE c_custkey % 10 = 0
        )
        SELECT a.ent_key AS a_key, b.ent_key AS b_key,
               CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
        FROM ents a JOIN ents b
          ON substr(a.name, 1, 16) = substr(b.name, 1, 16)
         AND a.ent_key < b.ent_key
        WHERE levenshtein(a.name, b.name) <= 1
    """,
    doc="Entity resolution by blocked fuzzy matching: entities (plus "
    "a deterministic typo'd copy of every 10th) block on a 16-char "
    "name prefix, then candidates verify with exact Levenshtein "
    "distance <= 1 — the classic block-then-verify shape that "
    "replaces the quadratic all-pairs string comparison (blocks are "
    "bounded key ranges; the join shuffles on the fixed-width "
    "prefix, and AQE splits a skewed block).",
)
def entity_match_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # Planted-id offset derived from max(c_custkey), same discipline as
    # _dup_offset for doc_ids: a literal +1000000 collides with real
    # replica custkeys at scale factors >= 67 and the oracle (same
    # literal) would hash-match the silently merged output. Cached per
    # (sf_dir, table) like _dup_offset so repeated bench/correctness
    # passes don't each pay the driver-side aggregate job (ADVICE r6).
    ent_offset = _planted_id_offset(
        spark, sf_dir, "customer", "c_custkey", 1_000_000
    )
    # Single-scan fan-out of the ents ∪ typo union (same rows; the
    # union form read customer twice — one full extra pass at scale).
    base = F.struct(
        F.col("c_custkey").alias("ent_key"), F.col("c_name").alias("name")
    )
    typo = F.struct(
        (F.col("c_custkey") + ent_offset).alias("ent_key"),
        F.concat(
            F.expr("substr(c_name, 1, length(c_name) - 1)"), F.lit("X")
        ).alias("name"),
    )
    fan = F.when(
        F.col("c_custkey") % 10 == 0, F.array(base, typo)
    ).otherwise(F.array(base))
    ents = c.select(F.explode(fan).alias("e")).select("e.ent_key", "e.name")
    blocked = ents.withColumn("blk", F.expr("substr(name, 1, 16)"))
    a, b = blocked.alias("a"), blocked.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.ent_key") < F.col("b.ent_key")),
        )
        .select(
            F.col("a.ent_key").alias("a_key"),
            F.col("b.ent_key").alias("b_key"),
            dist.cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
    )


@register(
    "pipeline_multisignal_dedup",
    oracle=f"""
        WITH {CORPUS_CTE},
        exact AS (
            SELECT doc_id,
                   row_number() OVER (
                       PARTITION BY md5(text) ORDER BY doc_id
                   ) > 1 AS is_exact_dup
            FROM corpus
        ),
        cents AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < {_ADAPTIVE_K_SQL}
        ),
        assigned AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT a.vec_id, a.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        sem AS (
            SELECT DISTINCT y.vec_id
            FROM assigned x
            JOIN assigned y ON x.cid = y.cid AND x.vec_id < y.vec_id
            WHERE {_cos_sql("x.embedding", "y.embedding")} >= 0.5
        ),
        toks AS (SELECT doc_id, len({TOKS}) AS n_tok FROM corpus)
        SELECT c.doc_id,
               e.is_exact_dup,
               s.vec_id IS NOT NULL AS is_semantic_dup,
               t.n_tok < 10 AS low_quality,
               NOT (e.is_exact_dup OR s.vec_id IS NOT NULL
                    OR t.n_tok < 10) AS keep
        FROM corpus c
        JOIN exact e ON c.doc_id = e.doc_id
        JOIN toks t ON c.doc_id = t.doc_id
        LEFT JOIN sem s ON c.doc_id = s.vec_id
    """,
    doc="The capstone composition: one keep/drop decision per corpus "
    "document from three independent dedup/quality signals — exact "
    "text duplication (digest-keyed first-occurrence window), "
    "semantic duplication (SemDeDup decisions at the adaptive "
    "corpus-tracking K, bridged over the doc_id==vec_id embedding), "
    "and a token-count quality floor. "
    "Each signal is the production operator, not a re-derivation; "
    "the decision join keys on doc_id only (signals are boolean "
    "columns, never text). This is the shape a real cleaning run "
    "ships: signals computed once, composed declaratively, keep "
    "decision auditable per document.",
)
def pipeline_multisignal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    corpus = _corpus(spark, sf_dir)
    # One corpus pass for BOTH text signals: the digest window and the
    # token-count floor are projections of the same scan, so computing
    # them as separate frames joined back on doc_id paid a second
    # corpus scan + tokenize and a join exchange for nothing (doc_ids
    # are unique, so the inner join equals the fused projection).
    w = Window.partitionBy("_dg").orderBy("doc_id")
    exact_toks = corpus.select(
        "doc_id",
        F.md5("text").alias("_dg"),
        F.size(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("n_tok"),
    ).select(
        "doc_id",
        (F.row_number().over(w) > 1).alias("is_exact_dup"),
        "n_tok",
    )
    emb = load_table(spark, sf_dir, "embeddings")
    # Adaptive K (constant ~250-vector clusters): fixed K=8 made this
    # capstone's semantic signal both quadratic-in-data AND capped at
    # 8 applyInPandas groups of parallelism — the strong-scaling
    # rehearsal measured x1.2 speedup at 4x cores before the switch.
    # Floors to 8 at the oracle SFs, so the oracle's scalar-subquery K
    # is hash-identical there.
    sem = (
        similarity.semantic_dedup_decisions(
            emb,
            n_centroids=max(8, emb.count() // _IVF_LIST_SIZE),
            threshold=0.5,
        )
        .filter(F.col("dup_of").isNotNull())
        .select(F.col("vec_id").alias("sem_id"))
    )
    return (
        exact_toks
        .join(sem, exact_toks.doc_id == F.col("sem_id"), "left")
        .select(
            "doc_id",
            "is_exact_dup",
            F.col("sem_id").isNotNull().alias("is_semantic_dup"),
            (F.col("n_tok") < 10).alias("low_quality"),
            (
                ~(
                    F.col("is_exact_dup")
                    | F.col("sem_id").isNotNull()
                    | (F.col("n_tok") < 10)
                )
            ).alias("keep"),
        )
    )


# -- round-3 additions: normalized dedup, bloom decontamination, ----------
# -- temperature sampling, shard shuffle ----------------------------------

_NORM_ORACLE = dedup.normalized_text_oracle("text")


@register(
    "dedup_exact_normalized",
    oracle=f"""
        WITH ncorpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 2 * {_DUP_OFFSET_SQL} AS doc_id,
                   upper(text) || '!!' AS text
            FROM documents WHERE doc_id % 7 = 0
        )
        SELECT md5({_NORM_ORACLE}) AS digest, count(*) AS n_copies,
               min(doc_id) AS keep_id
        FROM ncorpus GROUP BY md5({_NORM_ORACLE}) HAVING count(*) > 1
    """,
    doc="Normalized-exact (C4/CCNet 'fuzzy exact') dedup: digest of "
    "lowercased, punctuation/whitespace-collapsed text, so re-scrapes "
    "differing only in casing or markup noise collapse. The demo "
    "corpus plants uppercased+'!!' variants of every 7th doc — raw "
    "exact dedup finds nothing, normalized dedup finds them all. "
    "Same single-shuffle plan as dedup_exact: normalization is a "
    "codegen'd projection; only (digest, doc_id) moves. "
    "(operators/dedup.py:exact_dedup_normalized)",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-scan fan-out of the documents ∪ planted-variant union
    # (same rows, one parquet pass instead of two).
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = F.struct(F.col("doc_id"), F.col("text"))
    variant = F.struct(
        (F.col("doc_id") + 2 * _dup_offset(spark, sf_dir)).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("!!")).alias("text"),
    )
    fan = F.when(
        F.col("doc_id") % 7 == 0, F.array(base, variant)
    ).otherwise(F.array(base))
    ncorpus = d.select(F.explode(fan).alias("e")).select("e.doc_id", "e.text")
    return dedup.exact_dedup_normalized(ncorpus)


@register(
    "decontaminate_bloom_verify",
    oracle=f"""
        WITH corp AS (
            SELECT doc_id, sh.shingle
            FROM (SELECT doc_id, list_distinct({SHINGLES}) AS shs
                  FROM documents WHERE doc_id >= 20) t,
                 UNNEST(shs) AS sh(shingle)
        ),
        bench AS (
            SELECT DISTINCT sh.shingle
            FROM (SELECT list_distinct({SHINGLES}) AS shs
                  FROM documents WHERE doc_id < 20) t,
                 UNNEST(shs) AS sh(shingle)
        )
        SELECT doc_id, count(*) AS n_shared
        FROM corp JOIN bench USING (shingle)
        GROUP BY doc_id HAVING count(*) >= 2
    """,
    doc="Bloom-prefiltered eval-set decontamination, exact after "
    "verify: benchmark shingles build a broadcast Bloom bitset (one "
    "eval-set-sized collect); corpus shingles stream through a "
    "vectorized numpy membership probe so non-matching shingles die "
    "map-side without shuffling; survivors are exactly verified with "
    "a broadcast join, so Bloom false positives cannot reach the "
    "output — bit-identical to the exact inverted-index join the "
    "oracle runs. (operators/text.py:decontaminate_bloom_verify)",
)
def decontaminate_bloom_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.decontaminate_bloom_verify(
        d.filter(F.col("doc_id") >= 20),
        d.filter(F.col("doc_id") < 20),
        min_shared=2,
    )


@register(
    "sample_temperature",
    oracle=sampling.temperature_sample_oracle(
        "documents", "doc_id", "lang", alpha=0.7, frac=0.5
    ),
    doc="Temperature sampling over languages: target mixture "
    "q_l ∝ p_l^0.7 (XLM-R/mT5's multilingual rebalancing knob — "
    "alpha < 1 upweights rare languages). One tiny per-language "
    "count agg → scalar normalizer → integer hash thresholds "
    "broadcast onto a single corpus scan; membership is a pure "
    "function of doc_id, reproducible at any cluster size. "
    "(operators/sampling.py:temperature_sample)",
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.temperature_sample(
        docs, "doc_id", "lang", alpha=0.7, frac=0.5
    )


@register(
    "pipeline_shuffle_shard",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   {hash_hex_oracle("CAST(doc_id AS VARCHAR)", "shuf")} AS hx
            FROM documents
        ),
        s AS (
            SELECT doc_id, hx,
                   CAST(('0x' || substr(hx, 1, 4)) AS INTEGER) % 8 AS shard
            FROM h
        )
        SELECT doc_id, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY hx, doc_id
               ) AS pos
        FROM s
    """,
    doc="Deterministic global shuffle + sharding for training-data "
    "serving: hash doc_id to a pseudorandom key, route to one of 8 "
    "output shards, order within the shard by the hash — a seeded, "
    "engine-independent permutation (change the seed for a new "
    "epoch). Exactly one hash-partition shuffle then a within-"
    "partition sort; at 100 TB each shard sorts locally after a "
    "single exchange, the classic write path for tokenizer-ready "
    "shards.",
)
def pipeline_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from datafusion_dist_spark.functions.hashing import hash_hex

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = docs.select(
        "doc_id", hash_hex(F.col("doc_id").cast("string"), "shuf").alias("hx")
    )
    s = h.withColumn(
        "shard",
        (F.conv(F.substring("hx", 1, 4), 16, 10).cast("int") % 8),
    )
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return s.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


@register(
    "dedup_incremental",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 400
            UNION ALL
            SELECT doc_id + 3 * {_DUP_OFFSET_SQL} AS doc_id, text
            FROM documents
            WHERE doc_id < 400 AND doc_id % 9 = 0
            UNION ALL
            SELECT doc_id, text FROM documents WHERE doc_id >= 400
        ),
        {_shingle_cte()},
        {_sig_cte()},
        {_band_cte()},
        cands AS (
            SELECT DISTINCT a.doc_id AS index_id, b.doc_id AS new_id
            FROM banded a JOIN banded b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < 400 AND b.doc_id >= 400
        ),
        pairs AS (
            SELECT c.index_id, c.new_id, {_match_frac_sql()} AS est
            FROM cands c
            JOIN sigs sa ON c.index_id = sa.doc_id
            JOIN sigs sb ON c.new_id = sb.doc_id
            WHERE {_match_frac_sql()} >= 0.5
        )
        SELECT index_id, new_id, round(est, 6) AS est_jaccard FROM pairs
    """,
    doc="Incremental dedup: flag docs in a NEW batch that near-"
    "duplicate the EXISTING corpus index (the nightly-crawl pass of a "
    "production pipeline — self-dedup of the full corpus every run "
    "would be quadratic in corpus growth). Demo: index = docs < 400, "
    "batch = docs >= 400 plus planted copies of every 9th index doc. "
    "Banded cross-set join only (index x batch); never index x index. "
    "(operators/dedup.py:minhash_dedup_pairs with split_id)",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-scan fan-out of the three-branch union (index ∪ batch ∪
    # planted copies): each row emits itself plus — for index docs with
    # doc_id % 9 == 0 — the id-shifted planted replica. Row-identical
    # to the union (the oracle keeps that form), but one parquet pass
    # instead of three, and the band self-join's two identical subtrees
    # now collapse via AQE stage reuse (the union's asymmetric branches
    # defeated it). NULL doc_ids are dropped exactly as the old
    # (< 400) ∪ (>= 400) filters did.
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id").isNotNull())
    )
    off3 = 3 * _dup_offset(spark, sf_dir)
    fan = F.when(
        (F.col("doc_id") < 400) & (F.col("doc_id") % 9 == 0),
        F.array(F.col("doc_id"), F.col("doc_id") + off3),
    ).otherwise(F.array(F.col("doc_id")))
    corpus = d.select(F.explode(fan).alias("doc_id"), "text")
    return (
        dedup.minhash_dedup_pairs(
            corpus,
            bands=BANDS,
            rows_per_band=ROWS_PER_BAND,
            threshold=0.5,
            split_id=400,
            bucket_cap=None,  # oracle pin (incremental default is None)
        )
        .withColumnRenamed("a_id", "index_id")
        .withColumnRenamed("b_id", "new_id")
    )


@register(
    "ann_ivf_knn_join",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings
            WHERE vec_id < 8
        ),
        assigned AS (
            SELECT vec_id, cid FROM (
                SELECT a.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
            WHERE vec_id % 40 = 0
        ),
        probes AS (
            SELECT q_id, cid FROM (
                SELECT q.q_id, c.cid,
                       row_number() OVER (
                           PARTITION BY q.q_id
                           ORDER BY {_cos_sql("c.cvec", "q.qvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM cents c CROSS JOIN q
            ) WHERE rn <= 2
        ),
        s AS (
            SELECT p.q_id, a.vec_id AS c_id,
                   {_cos_sql("e.embedding", "q.qvec")} AS score
            FROM assigned a
            JOIN probes p ON a.cid = p.cid
            JOIN q ON q.q_id = p.q_id
            JOIN embeddings e ON e.vec_id = a.vec_id
            WHERE a.vec_id <> p.q_id
        )
        SELECT q_id, c_id, score, rn FROM (
            SELECT q_id, c_id, score,
                   row_number() OVER (
                       PARTITION BY q_id ORDER BY score DESC, c_id ASC
                   ) AS rn
            FROM s
        ) WHERE rn <= 5
    """,
    doc="IVF-accelerated kNN join: knn_join's contract (top-5 "
    "neighbors for every 40th embedding) served through the coarse "
    "quantizer — each query scores only its 2 probed inverted lists "
    "(|corpus| x nprobe/K candidate rows instead of |corpus| x |Q|). "
    "Corpus assignment is one shuffle-free scan; probe lists rank "
    "driver-side via the shared _probe_cids discipline and broadcast. "
    "Approximate by design (unprobed lists unseen) — the oracle "
    "replays the same probe policy, so results hash-match exactly. "
    "ORACLE PIN, weak-by-design at 100 TB: K is pinned to 8 so the "
    "oracle replays the exact probe policy; inverted lists then grow "
    "with the corpus and candidate work is quadratic (measured x5.7 "
    "post-spread at x10). No composed path uses fixed K: the "
    "operator default is adaptive K (ann_ivf_knn_join_adaptive, "
    "measured linear; prebuilt index variant amortizes assignment at "
    "ingest). (operators/similarity.py:ivf_knn_join)",
)
def ann_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 40 == 0)
    return similarity.ivf_knn_join(qs, emb, k=5, n_centroids=8, nprobe=2)


@register(
    "ann_ivf_knn_join_adaptive",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings
            WHERE vec_id < {_ADAPTIVE_K_SQL}
        ),
        assigned AS (
            SELECT vec_id, cid FROM (
                SELECT a.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
            WHERE vec_id % 40 = 0
        ),
        probes AS (
            SELECT q_id, cid FROM (
                SELECT q.q_id, c.cid,
                       row_number() OVER (
                           PARTITION BY q.q_id
                           ORDER BY {_cos_sql("c.cvec", "q.qvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM cents c CROSS JOIN q
            ) WHERE rn <= 2
        ),
        s AS (
            SELECT p.q_id, a.vec_id AS c_id,
                   {_cos_sql("e.embedding", "q.qvec")} AS score
            FROM assigned a
            JOIN probes p ON a.cid = p.cid
            JOIN q ON q.q_id = p.q_id
            JOIN embeddings e ON e.vec_id = a.vec_id
            WHERE a.vec_id <> p.q_id
        )
        SELECT q_id, c_id, score, rn FROM (
            SELECT q_id, c_id, score,
                   row_number() OVER (
                       PARTITION BY q_id ORDER BY score DESC, c_id ASC
                   ) AS rn
            FROM s
        ) WHERE rn <= 5
    """,
    doc="The at-scale variant of ann_ivf_knn_join: the coarse-centroid "
    "count TRACKS the corpus (K = max(8, n/250), constant ~250-vector "
    "inverted lists) instead of being a fixed constant, so per-query "
    "candidate work stays constant as data grows — the knob the r4 "
    "scale rehearsal demonstrated (fixed K=8 measured x45 wall at "
    "x10 data while its assignment stage was pinned to 2 cores, x5.7 "
    "after the spread() fix parallelized both twins — the n x K term "
    "still grows quadratically, it is just no longer wall-dominant "
    "at x10; this entry measured x2.3, inside the plain LINEAR "
    "budget — the residual above x1 is the query-time n x K coarse "
    "assignment, which a real deployment amortizes at ingest with cid "
    "as the partition key). At the "
    "oracle scale factors n/250 <= 8, so K floors at 8 and results "
    "hash-match the same probe policy replayed in SQL via a scalar "
    "subquery computing the identical K. "
    "(operators/similarity.py:ivf_knn_join)",
)
def ann_ivf_knn_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_centroids = max(8, n // _IVF_LIST_SIZE)
    qs = emb.filter(F.col("vec_id") % 40 == 0)
    return similarity.ivf_knn_join(
        qs, emb, k=5, n_centroids=k_centroids, nprobe=2, corpus_count=n
    )


@register(
    "dedup_semantic_adaptive",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < {_ADAPTIVE_K_SQL}
        ),
        assigned AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT a.vec_id, a.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        dups AS (
            SELECT y.vec_id, min(x.vec_id) AS dup_of,
                   count(*) AS n_dups
            FROM assigned x
            JOIN assigned y ON x.cid = y.cid AND x.vec_id < y.vec_id
            WHERE {_cos_sql("x.embedding", "y.embedding")} >= 0.5
            GROUP BY y.vec_id
        )
        SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid, d.dup_of,
               CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups
        FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """,
    doc="The at-scale variant of dedup_semantic: the SemDeDup cluster "
    "count TRACKS the corpus (K = max(8, n/250), constant ~250-vector "
    "clusters) instead of being a fixed 8 — the third fixed blocking "
    "constant the r4 scale rehearsal exposed (fixed K=8 means cluster "
    "SIZE grows linearly and in-cluster pair work sum(m^2) grows "
    "quadratically; this is the docstring's 'K ~ sqrt(N)/constant-"
    "cluster-size at scale' made concrete and measured). At the "
    "oracle scale factors n/250 <= 8, so K floors at 8 and results "
    "hash-match the fixed entry's policy replayed in SQL via the "
    "identical scalar-subquery K. "
    "(operators/similarity.py:semantic_dedup_decisions)",
)
def dedup_semantic_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    return similarity.semantic_dedup_decisions(
        emb, n_centroids=max(8, n // _IVF_LIST_SIZE), threshold=0.5
    )


@register(
    "dedup_semantic_capped",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < {_ADAPTIVE_K_SQL}
        ),
        assigned AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT a.vec_id, a.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql("a.embedding", "c.cvec")} DESC,
                                    c.cid ASC
                       ) AS rn
                FROM embeddings a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        ranked AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY cid ORDER BY vec_id
                   ) AS rn
            FROM assigned
        ),
        dups AS (
            SELECT y.vec_id, min(x.vec_id) AS dup_of,
                   count(*) AS n_dups
            FROM ranked x
            JOIN ranked y ON x.cid = y.cid AND x.vec_id < y.vec_id
                         AND x.rn <= {_EMB_HEAD_CAP}
            WHERE {_cos_sql("x.embedding", "y.embedding")} >= 0.5
            GROUP BY y.vec_id
        )
        SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid, d.dup_of,
               CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups
        FROM ranked a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """,
    doc="SemDeDup with the fat-cell work guard on top of the adaptive "
    "cluster count: only a cell's first 16 members (vec_id order) "
    "serve as comparison partners, bounding in-cell pair work to "
    "16 x m. A hot direction cluster lands whole in one coarse cell "
    "no matter how K grows (adaptive K splits the SPACE, not a "
    "cluster — the zipf skew corpus plants exactly this), so without "
    "the cap the cell's work is m². Every member still gets its "
    "dup_of (the head holds the cell's smallest ids, which is what "
    "dup_of points to); n_dups counts lower-id HEAD partners only — "
    "a documented undercount for deep overflow, the price of the "
    "bound. Cap replayed in SQL via row_number. "
    "(operators/similarity.py:semantic_dedup_decisions head_cap)",
)
def dedup_semantic_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    return similarity.semantic_dedup_decisions(
        emb,
        n_centroids=max(8, n // _IVF_LIST_SIZE),
        threshold=0.5,
        head_cap=_EMB_HEAD_CAP,
    )


@register(
    "text_rule_filters",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {TOKS} AS toks FROM documents
        ), m AS (
            SELECT doc_id,
                   len(toks) AS n_tok,
                   CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                        AS BIGINT) AS sum_len,
                   len(list_distinct(toks)) AS n_uniq,
                   len(list_filter(toks, x -> x IN ({_STOP_IN}))) AS n_stop
            FROM t
        )
        SELECT doc_id,
               n_tok >= 30 AS r_min_words,
               sum_len >= 3 * n_tok AND sum_len <= 7 * n_tok
                 AS r_mean_wordlen,
               5 * n_uniq >= 2 * n_tok AS r_unique_ratio,
               n_stop >= 1 AS r_has_stopword,
               (n_tok >= 30 AND sum_len >= 3 * n_tok AND sum_len <= 7 * n_tok
                AND 5 * n_uniq >= 2 * n_tok AND n_stop >= 1) AS keep
        FROM m
    """,
    doc="C4/Gopher-style rule-based filtering: per-document boolean "
    "rule flags (minimum word count, mean word length in [3,7], "
    "unique-token ratio >= 0.4, contains a stopword) plus the "
    "composed keep decision. Every rule is integer-exact arithmetic "
    "(sum_len vs 3n/7n instead of a float mean) over one tokenize "
    "pass — pure codegen'd projection, no shuffle, no Python; the "
    "auditable per-rule flags are what a pipeline logs to explain "
    "why a document was dropped.",
)
def text_rule_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_dist_spark.functions.hashing import tokens as tok_fn

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = d.select("doc_id", tok_fn(F.col("text")).alias("toks"))
    m = t.select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.aggregate(
            F.transform("toks", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.size(
            F.filter("toks", lambda x: x.isin(*text.STOPWORDS))
        ).alias("n_stop"),
    )
    r_minw = F.col("n_tok") >= 30
    r_len = (F.col("sum_len") >= 3 * F.col("n_tok")) & (
        F.col("sum_len") <= 7 * F.col("n_tok")
    )
    r_uniq = 5 * F.col("n_uniq") >= 2 * F.col("n_tok")
    r_stop = F.col("n_stop") >= 1
    return m.select(
        "doc_id",
        r_minw.alias("r_min_words"),
        r_len.alias("r_mean_wordlen"),
        r_uniq.alias("r_unique_ratio"),
        r_stop.alias("r_has_stopword"),
        (r_minw & r_len & r_uniq & r_stop).alias("keep"),
    )


@register(
    "text_vocab_coverage",
    oracle=f"""
        WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
        occ AS (
            SELECT tk.tok FROM t, UNNEST(toks) AS tk(tok)
        ),
        freq AS (
            SELECT tok, count(*) AS n FROM occ GROUP BY tok
        ),
        tot AS (SELECT sum(n) AS total FROM freq),
        ranked AS (
            SELECT tok, n,
                   row_number() OVER (ORDER BY n DESC, tok ASC) AS rank,
                   CAST(SUM(n) OVER (ORDER BY n DESC, tok ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM freq
        )
        SELECT rank, tok, n,
               round(CAST(cum AS DOUBLE) / total, 6) AS coverage
        FROM ranked CROSS JOIN tot
        WHERE rank <= 32
    """,
    doc="Vocabulary coverage curve: token occurrence counts ranked "
    "descending with the cumulative corpus share each vocab-size "
    "prefix covers — the tokenizer-design question ('how big a vocab "
    "for 95% coverage?') answered from one count aggregation. The "
    "per-rank cumulative sum runs over the tiny frequency table "
    "(|vocab| rows), never over occurrences; the corpus total is a "
    "1-row broadcast. Integer counts make the curve exact; only the "
    "final share divides, rounded to 6dp.",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from datafusion_dist_spark.functions.hashing import tokens as tok_fn
    from datafusion_dist_spark.operators.common import spread

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    occ = spread(d).select(
        F.explode(tok_fn(F.col("text"))).alias("tok")
    )
    freq = occ.groupBy("tok").agg(F.count("*").alias("n"))
    tot = freq.select(F.sum("n").alias("total"))
    # The curve is cut at rank <= 32, and cum at rank r only involves
    # the top-r rows — so the global window runs over a 32-row TopK
    # (orderBy + limit = distributed TakeOrdered), not the full vocab.
    # The unlimited form would single-partition the whole frequency
    # table (global windows move every row through one task).
    top = freq.orderBy(F.desc("n"), F.asc("tok")).limit(32)
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    ranked = top.select(
        "tok",
        "n",
        F.row_number().over(w).alias("rank"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.col("rank") <= 32)
        .select(
            "rank",
            "tok",
            "n",
            F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
    )


@register(
    "pipeline_epoch_upsample",
    oracle=f"""
        WITH counts AS (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang
        ),
        -- repeat factor in 1/1024 units: language share rebalanced to
        -- equal thirds against the LARGEST language (kept at 1.0x),
        -- i.e. r_s = max_n / n_s, capped at 4x.
        mx AS (SELECT max(n) AS max_n FROM counts),
        factors AS (
            SELECT lang,
                   least(CAST(4096 AS BIGINT),
                         (1024 * max_n) // n) AS r_mil
            FROM counts CROSS JOIN mx
        ),
        expanded AS (
            SELECT d.doc_id, d.lang, f.r_mil,
                   CAST(e.i AS BIGINT) AS copy_id
            FROM documents d
            JOIN factors f USING (lang),
                 UNNEST(range(0, (f.r_mil // 1024)
                        + CASE WHEN {sampling.bucket_oracle("d.doc_id", "ep")}
                               < ((f.r_mil % 1024) * 64) THEN 1 ELSE 0 END
                 )) AS e(i)
        )
        SELECT doc_id, lang, copy_id FROM expanded
    """,
    doc="Deterministic epoch upsampling: rare languages repeat "
    "floor(r_s) times plus one more copy for a hash-selected "
    "fraction of docs, so the EXPECTED repeat equals the exact "
    "rational factor r_s = max_n/n_s (capped 4x) — the '3.3 epochs "
    "of the small high-quality slice' knob of a training-data "
    "recipe. Factors come from one tiny count agg (1/1024 fixed-"
    "point, so both engines compute identical integers); the corpus "
    "is scanned once and fanned out map-side by an explode — no "
    "shuffle of the payload, no driver loop. The fractional-copy "
    "membership is a pure function of doc_id: reproducible across "
    "engines and cluster sizes. (16-bit hash space: r_mil%1024 "
    "thousandths ≙ (r_mil%1024)*64 of 65536 hash buckets.)",
)
def pipeline_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    mx = counts.select(F.max("n").alias("max_n"))
    factors = counts.crossJoin(mx).select(
        "lang",
        F.least(
            F.lit(4096).cast("bigint"),
            F.expr("(1024 * max_n) div n"),
        ).alias("r_mil"),
    )
    # Shared 16-bit bucket (functions/hashing.hash_hex) — the oracle
    # uses sampling.bucket_oracle over the same definition, so the two
    # sides cannot drift on the seed/width convention.
    from datafusion_dist_spark.functions.hashing import hash_hex

    bucket = F.conv(
        hash_hex(F.col("doc_id").cast("string"), "ep", width=4), 16, 10
    ).cast("int")
    n_copies = F.expr("r_mil div 1024") + F.when(
        bucket < (F.col("r_mil") % 1024) * 64, F.lit(1)
    ).otherwise(F.lit(0))
    # Guard the explode against n_copies == 0 (possible if a sub-1.0x
    # factor is ever configured): sequence(0, -1) would auto-step DOWN
    # and emit a spurious copy; an empty array emits nothing, matching
    # the oracle's range(0, 0).
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    return d.join(F.broadcast(factors), "lang").select(
        "doc_id",
        "lang",
        F.explode(copies).alias("copy_id"),
    )


@register(
    "dedup_lsh_quality",
    oracle=f"""
        WITH {CORPUS_CTE},
        {_shingle_cte()},
        {_sig_cte()},
        {_band_cte()},
        {_minhash_pairs_cte()},
        sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
            SELECT i.a_id, i.b_id
            FROM inter i
            JOIN sizes sa ON i.a_id = sa.doc_id
            JOIN sizes sb ON i.b_id = sb.doc_id
            WHERE CAST(i.n_inter AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
        ),
        hits AS (
            SELECT count(*) AS n_hit
            FROM pairs p JOIN truth t ON p.a_id = t.a_id AND p.b_id = t.b_id
        )
        SELECT (SELECT count(*) FROM pairs) AS n_lsh,
               (SELECT count(*) FROM truth) AS n_true,
               n_hit,
               round(CAST(n_hit AS DOUBLE)
                     / greatest((SELECT count(*) FROM pairs), 1), 6)
                 AS precision_,
               round(CAST(n_hit AS DOUBLE)
                     / greatest((SELECT count(*) FROM truth), 1), 6)
                 AS recall_
        FROM hits
    """,
    doc="Sketch-quality evaluation: MinHash-LSH flagged pairs scored "
    "against exact n-gram Jaccard ground truth — the 'measure, don't "
    "guess' gate a pipeline runs on a sample before trusting a sketch "
    "config at full scale (bands/rows tuning = this number). One row: "
    "flagged/true/hit counts + precision/recall. Both pair sets are "
    "the production candidate generators (banded join, inverted "
    "index); the comparison join touches only pair ids.",
)
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BOTH arms are the shared persisted pair sets: the LSH side is the
    # SAME uncapped pair set dedup_minhash_lsh / dedup_clusters derive,
    # and the exact ground truth is the SAME uncapped inverted-index
    # pair set dedup_ngram_jaccard derives — the quality gate is a
    # downstream stage of that one pipeline (find pairs → score), so it
    # reads the per-(session, sf_dir) persisted copies instead of
    # re-running either derivation (executed facts showed the corpus
    # scanned + tokenized for the truth arm on every call; the
    # pipelines' full costs stay measured by dedup_minhash_lsh and
    # dedup_ngram_jaccard, which deliberately bypass the caches).
    lsh = (
        _minhash_pairs_shared(spark, sf_dir)
        .select("a_id", "b_id")
        .withColumn("f", F.lit(1))
    )
    truth = (
        _ngram_truth_shared(spark, sf_dir)
        .select("a_id", "b_id")
        .withColumn("g", F.lit(1))
    )
    # One plan, one pass: full-outer join of the two pair-id sets and a
    # single aggregation — no driver-side counts re-executing the
    # sketch pipelines per metric.
    j = lsh.join(truth, ["a_id", "b_id"], "full_outer")
    # coalesce: sum over zero rows is NULL, but the oracle's count(*)
    # subqueries yield 0 on a corpus where either pair set is empty.
    agg = j.agg(
        F.coalesce(F.sum("f"), F.lit(0)).cast("bigint").alias("n_lsh"),
        F.coalesce(F.sum("g"), F.lit(0)).cast("bigint").alias("n_true"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("f").isNotNull() & F.col("g").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_hit"),
    )
    return agg.select(
        "n_lsh",
        "n_true",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double") / F.greatest(F.col("n_lsh"), F.lit(1)), 6
        ).alias("precision_"),
        F.round(
            F.col("n_hit").cast("double") / F.greatest(F.col("n_true"), F.lit(1)), 6
        ).alias("recall_"),
    )


@register(
    "pipeline_dataset_diff",
    oracle=f"""
        WITH v1 AS (
            SELECT doc_id, source, md5(text) AS digest FROM documents
            WHERE doc_id % 11 <> 0
        ),
        v2 AS (
            SELECT doc_id, source,
                   CASE WHEN doc_id % 13 = 0
                        THEN md5(text || ' edited')
                        ELSE md5(text) END AS digest
            FROM documents
            UNION ALL
            SELECT doc_id + 7 * {_DUP_OFFSET_SQL} AS doc_id,
                   source, md5(text) AS digest
            FROM documents WHERE doc_id % 17 = 0
        ),
        j AS (
            SELECT coalesce(v1.source, v2.source) AS source,
                   CASE
                     WHEN v1.doc_id IS NULL THEN 'added'
                     WHEN v2.doc_id IS NULL THEN 'removed'
                     WHEN v1.digest <> v2.digest THEN 'changed'
                     ELSE 'unchanged'
                   END AS change
            FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        )
        SELECT source, change, count(*) AS n
        FROM j GROUP BY source, change
    """,
    doc="Dataset version diff: two corpus snapshots compared by "
    "content digest in one full-outer id join → per-source "
    "added/removed/changed/unchanged counts — the audit a versioned "
    "data pipeline emits between releases. Demo: v2 edits every 13th "
    "doc, adds a copy of every 17th, and v1 lacks every 11th (so "
    "those read as added). Digests are computed in the scan "
    "projection; the join and count shuffle only (id, digest, "
    "source) — the payload never moves, so the diff costs two scans "
    "and one join at any corpus size.",
)
def pipeline_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    v1 = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    # v2 as a single-scan fan-out of the v2_base ∪ v2_new union (same
    # rows, one documents pass instead of two for the v2 side).
    v2_base = F.struct(
        F.col("doc_id"),
        F.col("source"),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.md5(F.concat(F.col("text"), F.lit(" edited"))),
        )
        .otherwise(F.md5("text"))
        .alias("digest"),
    )
    v2_new = F.struct(
        (F.col("doc_id") + 7 * _dup_offset(spark, sf_dir)).alias("doc_id"),
        F.col("source"),
        F.md5("text").alias("digest"),
    )
    v2 = d.select(
        F.explode(
            F.when(
                F.col("doc_id") % 17 == 0, F.array(v2_base, v2_new)
            ).otherwise(F.array(v2_base))
        ).alias("e")
    ).select("e.doc_id", "e.source", "e.digest")
    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.digest") != F.col("b.digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
    return j.groupBy("source", "change").agg(F.count("*").alias("n"))


@register(
    "embedding_health_report",
    oracle="""
        WITH raw AS (
            SELECT len(embedding) AS dim,
                   sqrt(list_sum(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm_d,
                   len(list_filter(CAST(embedding AS DOUBLE[]),
                                   x -> isnan(x))) AS n_nan
            FROM embeddings
        ), m AS (
            SELECT dim, n_nan,
                   CASE WHEN isfinite(norm_d)
                        THEN CAST(ROUND(norm_d * 1000000) AS BIGINT)
                        ELSE NULL END AS norm_u
            FROM raw
        )
        SELECT count(*) AS n_vectors,
               CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bad_dim,
               CAST(sum(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_with_nan,
               CAST(sum(CASE WHEN norm_u = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_zero_norm,
               CAST(sum(CASE WHEN norm_u IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_nonfinite_norm,
               CAST(min(norm_u) AS BIGINT) AS min_norm_u,
               CAST(max(norm_u) AS BIGINT) AS max_norm_u,
               CAST(round(median(norm_u)) AS BIGINT) AS med_norm_u
        FROM m
    """,
    doc="Embedding-table health report: the validation gate run before "
    "any index build — vector count, wrong-dimension rows, NaN "
    "components, zero norms, and min/median/max norm in exact integer "
    "micro-units (a degenerate norm distribution is how a broken "
    "encoder export shows up). One scan, per-row codegen arithmetic, "
    "one 1-row aggregation; nothing shuffles but seven numbers. "
    "Non-finite norms (a NaN/inf component) are nulled out before the "
    "integer cast on BOTH engines and counted explicitly as "
    "n_nonfinite_norm — an inf component carries no NaN, so without "
    "that counter an inf-corrupted encoder export would be nearly "
    "invisible (row silently dropped from the norm stats); they never "
    "pollute the min/median/max norm stats "
    "(non-ANSI Spark would cast NaN to 0 while DuckDB errors).",
)
def embedding_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vd = F.expr("CAST(embedding AS ARRAY<DOUBLE>)")
    norm_d = F.sqrt(
        F.aggregate(
            F.transform(vd, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    finite = ~(F.isnan(norm_d) | (norm_d == F.lit(float("inf"))))
    norm_u = F.when(finite, F.round(norm_d * 1_000_000).cast("bigint"))
    n_nan = F.size(F.filter(vd, lambda x: F.isnan(x)))
    m = emb.select(
        F.size("embedding").alias("dim"),
        norm_u.alias("norm_u"),
        n_nan.alias("n_nan"),
    )
    return m.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.when(F.col("dim") != 64, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bad_dim"),
        F.sum(F.when(F.col("n_nan") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_nan"),
        F.sum(F.when(F.col("norm_u") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_norm"),
        F.sum(F.when(F.col("norm_u").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nonfinite_norm"),
        F.min("norm_u").alias("min_norm_u"),
        F.max("norm_u").alias("max_norm_u"),
        F.round(F.median("norm_u")).cast("bigint").alias("med_norm_u"),
    )


@register(
    "pipeline_contamination_matrix",
    oracle=f"""
        WITH sh AS (
            -- NULL-pad empty/NULL shingle lists so a source whose docs
            -- all have < k tokens keeps a membership row (mirrors the
            -- engine's per-group sentinel padding); the NULL shingle
            -- never equi-joins and count(shingle) below excludes it.
            SELECT DISTINCT source AS g, s.shingle
            FROM (SELECT source, list_distinct({SHINGLES}) AS shs
                  FROM documents) t,
                 UNNEST(CASE WHEN len(coalesce(shs, [])) = 0
                             THEN [CAST(NULL AS VARCHAR)]
                             ELSE shs END) AS s(shingle)
        ),
        totals AS (SELECT g, count(shingle) AS n_sh FROM sh GROUP BY g),
        overlap AS (
            SELECT a.g AS source_a, b.g AS source_b, count(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.g < b.g
            GROUP BY 1, 2
        ),
        allp AS (
            SELECT a.g AS source_a, b.g AS source_b
            FROM totals a JOIN totals b ON a.g < b.g
        )
        SELECT p.source_a, p.source_b,
               CAST(coalesce(o.n_shared, 0) AS BIGINT) AS n_shared,
               CASE WHEN least(ta.n_sh, tb.n_sh) > 0
                    THEN round(CAST(coalesce(o.n_shared, 0) AS DOUBLE)
                               / least(ta.n_sh, tb.n_sh), 6)
                    ELSE 0.0 END AS containment
        FROM allp p
        LEFT JOIN overlap o
            ON o.source_a = p.source_a AND o.source_b = p.source_b
        JOIN totals ta ON ta.g = p.source_a
        JOIN totals tb ON tb.g = p.source_b
    """,
    doc="Dataset-level contamination matrix: distinct 3-shingles shared "
    "between EVERY pair of sources + containment n_shared/min(|A|,|B|) "
    "— the dataset-card report run BEFORE doc-level dedup to spot "
    "near-copy corpus slices; disjoint pairs appear as explicit "
    "n_shared=0 rows, and sources whose docs ALL have < k tokens stay "
    "in the matrix via sentinel padding + a zero-safe containment "
    "(complete matrix, never silent omission). "
    "Collapsing to DISTINCT (source, shingle) "
    "first bounds the shingle self-join at n_sources rows per shingle, "
    "so the matrix costs O(shingles x sources^2) with sources in the "
    "dozens — no doc x doc term anywhere, no banding or caps needed at "
    "100 TB. (operators/text.py:source_overlap_matrix)",
)
def pipeline_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return text.source_overlap_matrix(docs)


_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
_SPLIT_CASE = " ".join(
    f"WHEN {sampling.bucket_oracle('doc_id', 'split')} < {th} THEN '{name}'"
    for name, th in sampling.split_thresholds(_SPLITS)[:-1]
)


@register(
    "sample_split_train_val",
    oracle=f"""
        SELECT CASE {_SPLIT_CASE}
                    ELSE '{sampling.split_thresholds(_SPLITS)[-1][0]}'
               END AS split,
               source, count(*) AS n_docs
        FROM documents
        WHERE doc_id IS NOT NULL
        GROUP BY 1, 2
    """,
    doc="Deterministic train/val/test split (80/10/10) audited per "
    "source: each document's split is a pure hash of doc_id "
    "(reproducible across engines/cluster sizes/reruns; rows never "
    "migrate between splits as the corpus grows, so yesterday's test "
    "set is still held out tomorrow), assigned in ONE scan with no "
    "per-split sampling jobs. The integer thresholds are computed once "
    "(operators/sampling.py:split_thresholds) and shared with the "
    "oracle, so the float->int rounding cannot diverge between "
    "engines; NULL doc_id rows are excluded on BOTH sides (hash_split "
    "drops them, the oracle filters them) so the NULL-is-not-a-key "
    "contract is shared too — without the oracle filter a NULL key "
    "would fall through DuckDB's CASE into the last split while the "
    "engine dropped it. (operators/sampling.py:hash_split)",
)
def sample_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        sampling.hash_split(docs, "doc_id", _SPLITS)
        .groupBy("split", "source")
        .agg(F.count("*").alias("n_docs"))
    )
