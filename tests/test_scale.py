"""The scale-rehearsal corpus generator must preserve the statistical
structure whose growth it exists to measure — a distorted corpus makes
honest linear operators measure quadratic. TWO drafts failed exactly
this way (both caught by the rehearsal's own blown budgets): a `~k`
token suffix was split by the dedup tokenizer's [^a-z0-9]
normalization into standalone digit tokens (collapsing k-shingles
into degenerate unigram anchors), and an alnum `tokxkx` suffix
injected shared boilerplate characters into every char-24-gram window
(inflating span dfs 17x). The shipped transform is a bijective
character rotation, distortion-free by construction; these tests pin
the df distributions at BOTH granularities so a future "improvement"
cannot silently re-break either."""

from __future__ import annotations

import duckdb
import pytest

from datafusion_dist_spark.scale import _scaled_replica, scale_corpus

SRC = "/root/testdata/sf0.001"

_SHINGLE_DF = """
WITH corpus AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
    FROM read_parquet('{path}')
),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM corpus),
sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
    FROM toks, UNNEST(range(1, greatest(len(w) - 1, 1))) AS r(i)
    WHERE i + 2 <= len(w)
)
SELECT max(df) AS max_df, median(df) AS med_df, count(*) AS vocab
FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
"""


@pytest.fixture(scope="module")
def scaled(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("scale") / "f3")
    scale_corpus(SRC, dst, 3)
    return dst


def test_row_counts_and_replica0_identity(scaled):
    con = duckdb.connect()
    for t in ["documents", "lineitem", "orders", "embeddings", "events"]:
        n0 = con.execute(
            f"SELECT count(*) FROM read_parquet('{SRC}/{t}.parquet')"
        ).fetchone()[0]
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{scaled}/{t}.parquet')"
        ).fetchone()[0]
        assert n == 3 * n0, (t, n, n0)
    # Replica 0 is byte-identical source content (same ids, same text).
    diff = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{SRC}/documents.parquet') a
        JOIN read_parquet('{scaled}/documents.parquet') b USING (doc_id)
        WHERE a.text <> b.text
        """
    ).fetchone()[0]
    assert diff == 0


def test_shingle_df_distribution_preserved(scaled):
    """The load-bearing property: per-shingle document frequency after
    the dedup tokenizer's normalization must be IDENTICAL to the
    source distribution (max and median), with vocabulary scaled by
    the factor — i.e. replicas decorrelate without inflating any
    posting list."""
    con = duckdb.connect()
    base = con.execute(
        _SHINGLE_DF.format(path=f"{SRC}/documents.parquet")
    ).fetchone()
    scl = con.execute(
        _SHINGLE_DF.format(path=f"{scaled}/documents.parquet")
    ).fetchone()
    assert scl[0] == base[0], f"max df changed: {base} -> {scl}"
    assert scl[1] == base[1], f"median df changed: {base} -> {scl}"
    assert scl[2] == 3 * base[2], f"vocab not 3x: {base} -> {scl}"


_CHAR_SPAN_DF = """
WITH c AS (SELECT doc_id, text FROM read_parquet('{path}') {where}),
g AS (SELECT DISTINCT doc_id, substring(text, i, 24) AS s
      FROM c, UNNEST(range(1, greatest(length(text) - 22, 1))) AS r(i)),
d AS (SELECT s, count(*) AS df FROM g GROUP BY s)
SELECT max(df) AS max_df, sum(df * df) AS sum_df2 FROM d
"""


def test_char_span_df_distribution_preserved(scaled):
    """Char-24-gram posting-list structure per replica must equal the
    source exactly (max df and the sum of df^2 — the quantity pair
    enumeration work is proportional to). The token-suffix drafts
    passed the TOKEN-shingle check but inflated this one 17x."""
    con = duckdb.connect()
    base = con.execute(
        _CHAR_SPAN_DF.format(path=f"{SRC}/documents.parquet", where="")
    ).fetchone()
    n0 = con.execute(
        f"SELECT max(doc_id) + 1 FROM read_parquet('{SRC}/documents.parquet')"
    ).fetchone()[0]
    rep1 = con.execute(
        _CHAR_SPAN_DF.format(
            path=f"{scaled}/documents.parquet",
            where=f"WHERE doc_id >= {n0} AND doc_id < {2 * n0}",
        )
    ).fetchone()
    assert rep1 == base, f"char-span dfs distorted: {base} -> {rep1}"
    # n_chars must be untouched (the bijection is length-preserving).
    bad = con.execute(
        f"""SELECT count(*) FROM read_parquet('{scaled}/documents.parquet')
            WHERE n_chars <> length(text)"""
    ).fetchone()[0]
    assert bad == 0


def test_join_graph_and_embedding_norms(scaled):
    con = duckdb.connect()
    j0 = con.execute(
        f"""SELECT count(*) FROM read_parquet('{SRC}/lineitem.parquet') l
            JOIN read_parquet('{SRC}/orders.parquet') o
              ON l.l_orderkey = o.o_orderkey"""
    ).fetchone()[0]
    j = con.execute(
        f"""SELECT count(*) FROM read_parquet('{scaled}/lineitem.parquet') l
            JOIN read_parquet('{scaled}/orders.parquet') o
              ON l.l_orderkey = o.o_orderkey"""
    ).fetchone()[0]
    assert j == 3 * j0
    norms = """
        SELECT round(sum(list_sum(list_transform(
            CAST(embedding AS DOUBLE[]), x -> x * x))), 3)
        FROM read_parquet('{p}')
    """
    n0 = con.execute(norms.format(p=f"{SRC}/embeddings.parquet")).fetchone()[0]
    n = con.execute(norms.format(p=f"{scaled}/embeddings.parquet")).fetchone()[0]
    assert abs(n - 3 * n0) < 1e-6, (n, n0)


def test_embedding_transform_period_exceeds_factor_cap():
    """np.roll alone has period dim=64: replicas k and k+64 would carry
    byte-identical embeddings, manufacturing cross-replica cosine-1.0
    pairs that quadratically inflate the true pair count (the exact
    distortion class this module documents avoiding). The shipped
    transform composes the roll with a per-replica sign flip, so (a)
    k vs k+64 replicas differ, (b) the transform stays orthogonal —
    within-replica norms and pairwise cosines are EXACTLY the
    source's."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SRC}/embeddings.parquet").slice(0, 16)
    strides = {"embeddings": 10_000}

    def mat(k):
        rep = _scaled_replica("embeddings", tbl, k, strides)
        return np.array(rep.column("embedding").to_pylist(), dtype=np.float64)

    base, r2, r66 = mat(0), mat(2), mat(66)
    # (a) the k+dim collision is gone for every factor ≤ the 130 cap.
    assert not np.allclose(r2, r66), "replicas 2 and 66 byte-identical"
    for k, rep in ((2, r2), (66, r66)):
        # (b) orthogonality: norms exact...
        assert np.allclose(
            (rep * rep).sum(axis=1), (base * base).sum(axis=1)
        ), f"replica {k} norms distorted"
        # ...and the full within-replica Gram matrix (all pairwise
        # dot products) exact — cosine structure replicates per block.
        assert np.allclose(rep @ rep.T, base @ base.T), (
            f"replica {k} pairwise cosine structure distorted"
        )
    # Cross-replica decorrelation sanity: no manufactured exact dups.
    sims = (r2 / np.linalg.norm(r2, axis=1, keepdims=True)) @ (
        r66 / np.linalg.norm(r66, axis=1, keepdims=True)
    ).T
    assert float(np.abs(sims).max()) < 0.999, "cross-replica near-dup manufactured"


@pytest.fixture(scope="module")
def skewed(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("skew") / "f3z")
    scale_corpus(SRC, dst, 3, skew="zipf")
    return dst


def test_zipf_skew_distributions(skewed):
    """Pin the skew corpus' engineered distortions (the analog of the
    uniform corpus' df pins): a future generator edit that silently
    flattens the hot keys or the template cluster would turn the skew
    rehearsal back into the uniform one without failing any budget."""
    from datafusion_dist_spark.scale import (
        _SKEW_BP,
        _SKEW_BP_FRAC,
        _SKEW_HOT_FRAC,
        _SKEW_TPL,
    )

    con = duckdb.connect()
    # Hot-key zipf: the remapped share is ~_SKEW_HOT_FRAC and the top
    # key alone holds several times a uniform key's share.
    tot, top, med = con.execute(
        f"""
        WITH g AS (SELECT o_custkey, count(*) AS c
                   FROM read_parquet('{skewed}/orders.parquet') GROUP BY 1)
        SELECT (SELECT sum(c) FROM g),
               (SELECT max(c) FROM g),
               (SELECT median(c) FROM g)
        """
    ).fetchone()
    assert top / tot > 0.03, (top, tot)
    assert top > 5 * med, (top, med)
    # Top EVENT user: rank-0 zipf weight over the (clipped, sf0.001 has
    # few distinct users) hot set is ~1/H_15 ≈ 0.30 of the remapped 20%
    # ⇒ ~6-9% of ALL events incl. its natural share — an order of
    # magnitude above a uniform user's.
    top_u, tot_e = con.execute(
        f"""
        SELECT (SELECT max(c) FROM (SELECT count(*) AS c
                FROM read_parquet('{skewed}/events.parquet') GROUP BY user_id)),
               (SELECT count(*) FROM read_parquet('{skewed}/events.parquet'))
        """
    ).fetchone()
    assert 0.05 < top_u / tot_e < 0.15, (top_u, tot_e)
    # Boilerplate prefix share, and it must be UNROTATED (identical
    # string in every replica — its linear-growing shingle df is the
    # point).
    bp, tot_docs = con.execute(
        f"""
        SELECT sum(CASE WHEN text LIKE '{_SKEW_BP}%' THEN 1 ELSE 0 END),
               count(*)
        FROM read_parquet('{skewed}/documents.parquet')
        """
    ).fetchone()
    assert _SKEW_BP_FRAC * 0.7 < bp / tot_docs < _SKEW_BP_FRAC * 1.4
    # Template cluster: same source docs in every replica (ids congruent
    # mod the stride), all sharing the unrotated template prefix.
    tpl_rows = con.execute(
        f"""
        SELECT doc_id FROM read_parquet('{skewed}/documents.parquet')
        WHERE text LIKE '{_SKEW_TPL}%' ORDER BY doc_id
        """
    ).fetchall()
    n_src = con.execute(
        f"SELECT max(doc_id) + 1 FROM read_parquet('{SRC}/documents.parquet')"
    ).fetchone()[0]
    assert len(tpl_rows) >= 3 and len(tpl_rows) % 3 == 0, tpl_rows
    src_ids = sorted({r[0] % n_src for r in tpl_rows})
    assert len(src_ids) == len(tpl_rows) // 3, "template set not replica-invariant"
    # Length tail: a zipf x16 ceiling, and n_chars stays consistent
    # with the edited text everywhere.
    mx, base_mx = con.execute(
        f"""
        SELECT (SELECT max(n_chars) FROM read_parquet('{skewed}/documents.parquet')),
               (SELECT max(n_chars) FROM read_parquet('{SRC}/documents.parquet'))
        """
    ).fetchone()
    assert mx > 8 * base_mx, (mx, base_mx)
    bad = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{skewed}/documents.parquet')
        WHERE n_chars <> length(text)
        """
    ).fetchone()[0]
    assert bad == 0


def test_zipf_skew_deterministic_and_manifest_distinct(skewed, scaled):
    """Same inputs → byte-identical skew corpus (pure function of the
    source, no RNG); and the skew manifest differs from the uniform one
    only by the skew key, so cached uniform corpora are not invalidated."""
    import hashlib
    import json
    import os

    rebuilt = skewed + "-again"
    scale_corpus(SRC, rebuilt, 3, skew="zipf")

    def md5(p):
        h = hashlib.md5()
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()

    for t in ["documents", "orders", "events", "embeddings"]:
        assert md5(f"{skewed}/{t}.parquet") == md5(f"{rebuilt}/{t}.parquet"), t
    with open(os.path.join(skewed, "_SCALE_MANIFEST.json")) as fh:
        m_skew = json.load(fh)
    with open(os.path.join(scaled, "_SCALE_MANIFEST.json")) as fh:
        m_uni = json.load(fh)
    assert m_skew.pop("skew") == "zipf"
    assert isinstance(m_skew.pop("skew_version"), int)
    assert "skew" not in m_uni and "skew_version" not in m_uni
    # r6: EVERY manifest records the uniform replica-transform version,
    # so a transform edit can never silently reuse a stale cached
    # corpus (the skew path had this since r5; the uniform path now
    # does too).
    assert isinstance(m_uni.get("replica_version"), int)
    assert m_skew == m_uni


def test_zipf_skew_embedding_hot_cluster(skewed):
    """The embedding hot-direction cluster: selected vectors (2% of
    eligible source ids, replica-invariant selection, per-replica
    jitter) form a genuine near-dup clique — pairwise cosine above the
    0.5 dedup threshold — that shares ONE sign bucket (first 8
    components positive), while seed-centroid ids stay natural. A
    generator edit that flattens the cluster would silently turn the
    embedding-tier skew rows back into the uniform measurement."""
    import numpy as np

    con = duckdb.connect()
    emb = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{skewed}/embeddings.parquet')"
    ).fetchall()
    V = {v: np.array(e) for v, e in emb}
    hot = sorted(
        v
        for v, e in V.items()
        if (e[:8] > 0.1).all() and (e[:8] < 0.4).all() and (np.abs(e[8:]) < 0.2).all()
    )
    n_src = max(v for v in V) // 3 + 1
    assert len(hot) >= 6 and len(hot) % 3 == 0, hot
    # replica-invariant selection, ids >= the protected floor
    src_ids = sorted({v % n_src for v in hot})
    assert len(src_ids) == len(hot) // 3
    assert min(src_ids) >= 256
    H = np.stack([V[v] for v in hot])
    Hn = H / np.linalg.norm(H, axis=1, keepdims=True)
    S = Hn @ Hn.T
    iu = np.triu_indices(len(H), 1)
    assert S[iu].min() >= 0.5, float(S[iu].min())
    # no byte-identical members (per-replica jitter)
    assert len({tuple(np.round(r, 6)) for r in H}) == len(H)


def test_dup_offset_clears_replica_ids(spark, tmp_path):
    """r6 regression (ADVICE r5): the planted-dup id offset must clear
    the real id range. With the old literal +100000, any corpus whose
    doc_ids reach 100000 (scale factors > 20 at sf0.1) had planted-dup
    ids COLLIDE with real docs — shingle/signature aggregations then
    silently merged two different documents under one doc_id. The
    offset now derives from max(doc_id) identically in Spark and the
    SQL oracle, so the corpus construction itself stays hash-checked
    at any factor."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datafusion_dist_spark.queries import llm

    # A corpus shaped like a factor-30 scale dir: ids straddle 100000.
    ids = list(range(0, 60)) + list(range(119_000, 119_060))
    texts = [f"alpha beta gamma doc {i} body tail end" for i in ids]
    d = str(tmp_path / "sfbig")
    os.makedirs(d)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
        os.path.join(d, "documents.parquet"),
    )

    assert llm._dup_offset(spark, d) == 200_000
    corpus = llm._corpus(spark, d).toPandas()
    # Every id is unique: planted ids live strictly above the reals.
    assert corpus.doc_id.is_unique
    planted = corpus[corpus.doc_id >= 200_000]
    assert len(planted) == sum(1 for i in ids if i % 5 == 0)

    # And the SQL twin derives the SAME ids on the same parquet.
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    oracle_ids = {
        r[0]
        for r in con.execute(
            f"WITH {llm.CORPUS_CTE} SELECT doc_id FROM corpus"
        ).fetchall()
    }
    assert oracle_ids == set(corpus.doc_id)
