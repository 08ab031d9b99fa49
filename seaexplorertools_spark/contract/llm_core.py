"""LLM-pipeline core: dedup, text analysis, similarity, multimodal
(first tranche; BASELINE.json north star).

Split from the flat contract module in round 5 (registry mechanics and
conventions: contract/_base.py; canonical key order: contract/_order.py).
"""

from __future__ import annotations

import math  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.window import Window  # noqa: F401

from ..operators import windows as W  # noqa: F401
from ..operators.grid import binned_agg_2d, histogram  # noqa: F401
from ..operators.joins import asof_join, interp_join  # noqa: F401
from ..operators.qc import qc_velocity  # noqa: F401
from ._base import (  # noqa: F401
    EV_ORDER,
    ORACLES,
    QUERIES,
    R6P_SQL,
    events,
    ptable, q,
    r6,
    r6p,
    table,
    ts_us_col,
)


# ---------------------------------------------------------------------------
# Dedup / text / similarity / multimodal — LLM-data-pipeline operators
# (engine additions per BASELINE.json north star; not in the reference)
# ---------------------------------------------------------------------------

from ..operators import text as T  # noqa: E402
from ..operators.dedup import (  # noqa: E402
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash32,
)
from ..operators.multimodal import documents_as_media, extract_features  # noqa: E402
from ..operators.similarity import brute_force_topk, lsh_topk  # noqa: E402

_TOK_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"

# 3-token shingles over the token list (1-based list indexing in DuckDB,
# matching Spark element_at) — see operators/dedup.py shingles()
_SHINGLE_SQL = f"""
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= 3
             THEN list_transform(generate_series(1, len(toks) - 2),
                                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
             ELSE [array_to_string(toks, ' ')] END) AS tok
      FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM documents)
"""


@q(
    "dd_exact_dup",
    """
    SELECT md5(substr(text, 1, 40)) AS digest, min(doc_id) AS canonical_id,
           count(*) AS n_dups, max(doc_id) AS max_id
    FROM documents GROUP BY md5(substr(text, 1, 40)) HAVING count(*) > 1
    """,
)
def dd_exact_dup(spark, sf_dir):
    """Exact dedup via content-digest groupBy (hash-groupBy; shuffle volume
    = distinct digests). Keyed on a 40-char prefix digest here because the
    synthetic corpus has near-duplicates but zero byte-identical documents —
    the full-text variant is the same operator with ``key=F.col('text')``
    and would be a vacuous 0-row check."""
    docs = ptable(spark, sf_dir).withColumn(
        "text", F.substring(F.col("text"), 1, 40)
    )
    return exact_duplicates(docs)


@q(
    "dd_minhash_sig",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM ({_SHINGLE_SQL})
    )
    SELECT doc_id, s.seed, min(md5(s.seed::VARCHAR || ':' || md5(tok))) AS mh
    FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s
    GROUP BY doc_id, s.seed
    """,
)
def dd_minhash_sig(spark, sf_dir):
    """MinHash signatures (K=16) over 3-token shingles — md5-hex min per
    (doc, seed); engine-portable uniform min-hash. Shingles (not unigrams)
    so word ORDER matters: same-vocabulary word-salad documents don't
    collapse into one bucket."""
    return minhash_signatures(ptable(spark, sf_dir), k=16)


@q(
    "dd_minhash_lsh_pairs",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM ({_SHINGLE_SQL})
    ),
    sig AS (
      SELECT doc_id, s.seed, min(md5(s.seed::VARCHAR || ':' || md5(tok))) AS mh
      FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s
      GROUP BY doc_id, s.seed
    ),
    bands AS (
      SELECT doc_id, seed // 4 AS band, string_agg(mh, '|' ORDER BY seed) AS bsig
      FROM sig GROUP BY doc_id, seed // 4
    )
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    """,
)
def dd_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs (16 hashes, 4 bands × 4 rows): bucket-join
    on band signature — the scalable near-dup candidate generator."""
    return lsh_candidate_pairs(ptable(spark, sf_dir), k=16, band_rows=4)


@q(
    "dd_simhash",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({_TOK_SQL}) AS tok FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id, CAST(sum(CASE WHEN v >= 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dd_simhash(spark, sf_dir):
    """32-bit SimHash per document (per-bit ±1 votes over md5-derived token
    hashes)."""
    return simhash32(ptable(spark, sf_dir))


@q(
    "dd_ngram_jaccard",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, lang, unnest({_TOK_SQL}) AS tok FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
      FROM toks a JOIN toks b ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc1, doc2,
           round(CAST(n_inter AS DOUBLE)
                 / nullif(CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 0.0), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc1
    JOIN sizes sb ON sb.doc_id = doc2
    WHERE CAST(n_inter AS DOUBLE) / nullif(CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 0.0) >= 0.7
    """,
)
def dd_ngram_jaccard(spark, sf_dir):
    """Blocked pairwise token-set Jaccard (near-dup verification stage)."""
    out = ngram_jaccard_pairs(ptable(spark, sf_dir), block_col="lang", threshold=0.7)
    return out.select("doc1", "doc2", r6(F.col("jaccard")).alias("jaccard"))


@q(
    "dd_jaccard_prefix_pairs",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id AS id, unnest({_TOK_SQL}) AS tok FROM documents
    ),
    dfreq AS (SELECT tok, count(*) AS dfr FROM tok GROUP BY 1),
    lists AS (
      SELECT id, array_agg(t.tok ORDER BY d.dfr, t.tok) AS ord
      FROM tok t JOIN dfreq d USING (tok) GROUP BY id
    ),
    meta AS (
      SELECT id, ord, len(ord) AS n,
             CAST(len(ord) - ceil(0.8 * len(ord)) + 1 AS INT) AS plen
      FROM lists
    ),
    pref AS (SELECT id, n, unnest(list_slice(ord, 1, plen)) AS tok FROM meta),
    cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM pref a JOIN pref b
        ON a.tok = b.tok AND a.id < b.id
       AND CAST(least(a.n, b.n) AS DOUBLE) >= 0.8 * greatest(a.n, b.n)
    ),
    v AS (
      SELECT id1, id2,
             len(list_intersect(m1.ord, m2.ord)) AS inter,
             m1.n + m2.n - len(list_intersect(m1.ord, m2.ord)) AS uni
      FROM cand
      JOIN meta m1 ON id1 = m1.id
      JOIN meta m2 ON id2 = m2.id
    )
    SELECT id1 AS doc_id1, id2 AS doc_id2, inter, uni,
           floor(CAST(inter AS DOUBLE) / uni * 1000000.0 + 0.5) / 1000000.0
             AS jaccard
    FROM v WHERE CAST(inter AS DOUBLE) >= 0.8 * uni
    """,
)
def dd_jaccard_prefix_pairs(spark, sf_dir):
    """EXACT Jaccard ≥ 0.8 similarity self-join with AllPairs/PPJoin
    prefix filtering (operators/dedup.py::jaccard_prefix_join) — the
    zero-false-negative dedup path beside MinHash-LSH: candidates come
    from an equi-join on each document's rare-first token PREFIX
    (n − ceil(t·n) + 1 tokens), length-filtered, then verified by exact
    array_intersect. No all-pairs or blocking stage; candidate volume is
    the prefix-token collision count, the published AllPairs bound. The
    oracle replays the identical prefix algebra; every comparison is on
    integers or identical IEEE products, so the match is exact."""
    from ..operators.dedup import jaccard_prefix_join

    out = jaccard_prefix_join(ptable(spark, sf_dir), threshold=0.8)
    return out.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        "inter",
        "uni",
        "jaccard",
    )


@q(
    "dd_lsh_recall_report",
    f"""
    WITH tok AS (SELECT DISTINCT doc_id AS id, tok FROM ({_SHINGLE_SQL})),
    dfreq AS (SELECT tok, count(*) AS dfr FROM tok GROUP BY 1),
    lists AS (
      SELECT id, array_agg(t.tok ORDER BY d.dfr, t.tok) AS ord
      FROM tok t JOIN dfreq d USING (tok) GROUP BY id
    ),
    meta AS (
      SELECT id, ord, len(ord) AS n,
             CAST(len(ord) - ceil(0.8 * len(ord)) + 1 AS INT) AS plen
      FROM lists
    ),
    pref AS (SELECT id, n, unnest(list_slice(ord, 1, plen)) AS tok FROM meta),
    pcand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM pref a JOIN pref b
        ON a.tok = b.tok AND a.id < b.id
       AND CAST(least(a.n, b.n) AS DOUBLE) >= 0.8 * greatest(a.n, b.n)
    ),
    v AS (
      SELECT id1, id2,
             len(list_intersect(m1.ord, m2.ord)) AS inter,
             m1.n + m2.n - len(list_intersect(m1.ord, m2.ord)) AS uni
      FROM pcand
      JOIN meta m1 ON id1 = m1.id
      JOIN meta m2 ON id2 = m2.id
    ),
    truth AS (SELECT id1, id2 FROM v WHERE CAST(inter AS DOUBLE) >= 0.8 * uni),
    lsh AS (SELECT doc1, doc2 FROM ({ORACLES["dd_minhash_lsh_pairs"]})),
    m AS (
      SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
             CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_cand,
             CAST((SELECT count(*) FROM truth t
                   WHERE EXISTS (SELECT 1 FROM lsh l
                                 WHERE l.doc1 = t.id1 AND l.doc2 = t.id2))
                  AS BIGINT) AS n_hit
    )
    SELECT n_true, n_cand, n_hit,
           floor(CAST(n_hit AS DOUBLE) / nullif(n_true, 0) * 1000000.0 + 0.5)
             / 1000000.0 AS recall,
           floor(CAST(n_hit AS DOUBLE) / nullif(n_cand, 0) * 1000000.0 + 0.5)
             / 1000000.0 AS prec
    FROM m
    """,
)
def dd_lsh_recall_report(spark, sf_dir):
    """Banding-recall evaluation of the MinHash-LSH candidate generator
    against EXACT shingle-Jaccard ground truth — the measurement a dedup
    pipeline owes before trusting its probabilistic path. Ground truth:
    jaccard_prefix_join at t=0.8 over the SAME 3-token-shingle universe
    the 16-hash/4-band LSH signatures summarize (token_df override), so
    recall is the true banding s-curve sample (analytic expectation at
    J=0.8: 1−(1−0.8⁴)⁴ ≈ 0.88, higher for closer pairs) and precision is
    the candidate-verification survival rate. Everything is
    deterministic (md5 hashes, exact prefix algebra), so this
    APPROXIMATE-path evaluation has an EXACT oracle. One row:
    (n_true, n_cand, n_hit, recall, prec)."""
    from ..operators.dedup import (
        jaccard_prefix_join,
        lsh_candidate_pairs,
        shingles_from_tokens,
        tokens,
    )

    docs = ptable(spark, sf_dir)
    staged = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    sh = staged.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("__toks"), 3)).alias("tok")
    )
    truth = jaccard_prefix_join(docs, 0.8, token_df=sh).select("id1", "id2").cache()
    cand = lsh_candidate_pairs(docs, k=16, band_rows=4).cache()
    nt = truth.agg(F.count("*").alias("n_true")).withColumn("__k", F.lit(1))
    nc = cand.agg(F.count("*").alias("n_cand")).withColumn("__k", F.lit(1))
    nh = (
        truth.join(
            cand,
            (F.col("id1") == F.col("doc1")) & (F.col("id2") == F.col("doc2")),
            "left_semi",
        )
        .agg(F.count("*").alias("n_hit"))
        .withColumn("__k", F.lit(1))
    )
    one = nt.join(nc, "__k").join(nh, "__k").drop("__k")
    return one.select(
        "n_true",
        "n_cand",
        "n_hit",
        r6p(
            F.col("n_hit").cast("double") / F.nullif(F.col("n_true"), F.lit(0)).cast("double")
        ).alias("recall"),
        r6p(
            F.col("n_hit").cast("double") / F.nullif(F.col("n_cand"), F.lit(0)).cast("double")
        ).alias("prec"),
    )


@q(
    "dd_embedding_dup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(list_dot_product(a.v, b.v)
                 / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0.0),
                 6) AS sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0.0),
                6) >= 0.3
    """,
)
def dd_embedding_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (at scale the block
    is an LSH bucket). Threshold applied on the ROUNDED similarity so the
    cut is engine-deterministic."""
    from ..operators.similarity import cosine

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.select(F.col("vec_id").alias("id1"), F.col("label").alias("l1"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id2"), F.col("label").alias("l2"), F.col("v").alias("vb"))
    pairs = a.join(b, (F.col("l1") == F.col("l2")) & (F.col("id1") < F.col("id2")))
    sim = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return pairs.select("id1", "id2", sim.alias("sim")).filter(F.col("sim") >= 0.3)


def _brute_oracle_sql(k: int = 5) -> str:
    """DuckDB replay of similarity.brute_force_topk — shared by the
    ann_topk_bruteforce gate and as the truth leg of ann_recall_report."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 10),
    c AS (
      SELECT q.query_id, e.vec_id AS nbr_id,
             round(list_dot_product(q.vq, e.v)
                   / nullif(sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v)), 0.0),
                   6) AS sim
      FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rank
          FROM c)
    SELECT query_id, rank, nbr_id, sim FROM r WHERE rank <= {k}
    """


@q("ann_topk_bruteforce", _brute_oracle_sql())
def ann_topk_bruteforce(spark, sf_dir):
    """Exact brute-force cosine top-k (k=5) for the first 10 vectors as
    queries — the ANN correctness baseline. Rank on ROUNDED sim with vec_id
    tiebreak (engine-deterministic ordering)."""
    e = table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return brute_force_topk(e, qs, k=5)


@q(
    "ann_hard_negatives",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS q_label, v AS vq
          FROM e WHERE vec_id < 10),
    c AS (
      SELECT q.query_id, e.vec_id AS nbr_id, e.label AS neg_label,
             round(list_dot_product(q.vq, e.v)
                   / nullif(sqrt(list_dot_product(q.vq, q.vq))
                            * sqrt(list_dot_product(e.v, e.v)), 0.0),
                   6) AS sim
      FROM q CROSS JOIN e
      WHERE e.vec_id <> q.query_id AND e.label <> q.q_label
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, nbr_id ASC) AS rank
          FROM c)
    SELECT query_id, rank, nbr_id, neg_label, sim FROM r WHERE rank <= 5
    """,
)
def ann_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators/similarity.py::hard_negatives):
    per query, the 5 most cosine-similar vectors with a DIFFERENT label —
    the contrastive-training pair miner. Declared-exact |queries|-bounded
    crossJoin (the ann_topk_bruteforce pattern); at production query
    volume the label filter composes with the lsh_topk/ivf_topk shortlist
    generators instead."""
    from ..operators.similarity import hard_negatives

    e = table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negatives(e, qs, k=5)


def _lsh_oracle_sql(
    k: int = 5, band_width: int = 4, n_bands: int = 20, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB replay of similarity.lsh_topk with the SAME seed-42 plane
    constants embedded as literals: identical sign-bit buckets, any-band
    candidate join, 6-dp cosine re-rank, (sim desc, nbr_id) tie-break —
    the approximate path is deterministic, so it gets an EXACT oracle
    (upgraded from rows-only in round 3; recall quality is measured
    separately in tests/test_similarity_recall.py)."""
    from ..operators.similarity import gaussian_planes

    planes = gaussian_planes(n_bands * band_width, dim, seed)
    vals = ",\n      ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}])"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH planes AS MATERIALIZED (SELECT * FROM (VALUES {vals}) t(pid, p)),
    v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    bits AS MATERIALIZED (
      SELECT v.vec_id, planes.pid,
             CASE WHEN list_dot_product(v.emb, planes.p) >= 0 THEN 1 ELSE 0 END AS bit
      FROM v CROSS JOIN planes
    ),
    buckets AS MATERIALIZED (
      SELECT vec_id, pid // {band_width} AS band,
             SUM(bit * (1 << ({band_width - 1} - (pid % {band_width})))) AS bucket
      FROM bits GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS nbr_id
      FROM buckets q JOIN buckets e ON q.band = e.band AND q.bucket = e.bucket
      WHERE q.vec_id < 10 AND e.vec_id != q.vec_id
    ),
    scored AS MATERIALIZED (
      SELECT c.query_id, c.nbr_id,
             round(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
      FROM cand c JOIN v a ON a.vec_id = c.query_id JOIN v b ON b.vec_id = c.nbr_id
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rank, nbr_id, sim FROM (
      SELECT query_id, nbr_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@q("ann_topk_lsh", _lsh_oracle_sql())
def ann_topk_lsh(spark, sf_dir):
    """Approximate ANN: banded OR-amplified hyperplane LSH (20 bands × 4
    sign bits) restricts the candidate join — the 100 TB scale path
    (equi-join on (band, bucket) instead of crossJoin); recall@5 ≈ 0.94 vs
    brute force on this fixture (tests/test_similarity_recall.py).
    Approximate ⇒ no SQL oracle; driver records rows-only."""
    e = table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return lsh_topk(e, qs, dim=64, k=5)


_SW_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in T.STOPWORDS.items()
}


@q(
    "txt_langid",
    f"""
    WITH v AS (
      SELECT doc_id, lang,
             len(list_filter({_TOK_SQL}, x -> list_contains({_SW_SQL['de']}, x))) AS v_de,
             len(list_filter({_TOK_SQL}, x -> list_contains({_SW_SQL['en']}, x))) AS v_en,
             len(list_filter({_TOK_SQL}, x -> list_contains({_SW_SQL['es']}, x))) AS v_es,
             len(list_filter({_TOK_SQL}, x -> list_contains({_SW_SQL['fr']}, x))) AS v_fr,
             len(list_filter({_TOK_SQL}, x -> list_contains({_SW_SQL['zh']}, x))) AS v_zh
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(v_de, v_en, v_es, v_fr, v_zh) = 0 THEN 'und'
                WHEN v_de = greatest(v_de, v_en, v_es, v_fr, v_zh) THEN 'de'
                WHEN v_en = greatest(v_de, v_en, v_es, v_fr, v_zh) THEN 'en'
                WHEN v_es = greatest(v_de, v_en, v_es, v_fr, v_zh) THEN 'es'
                WHEN v_fr = greatest(v_de, v_en, v_es, v_fr, v_zh) THEN 'fr'
                ELSE 'zh' END AS lang_guess
    FROM v
    """,
)
def txt_langid(spark, sf_dir):
    """Language-ID heuristic: stopword votes, argmax with deterministic
    sorted-language tiebreak, 'und' when no votes."""
    docs = ptable(spark, sf_dir)
    return T.langid(docs).select("doc_id", "lang", "lang_guess")


@q(
    "q_kappa_langid",
    f"""
    WITH lid AS (SELECT lang, lang_guess FROM ({ORACLES["txt_langid"]})),
    cells AS (SELECT lang, lang_guess, count(*) AS n FROM lid GROUP BY 1, 2),
    rowm AS (SELECT lang, sum(n) AS nr FROM cells GROUP BY 1),
    colm AS (SELECT lang_guess, sum(n) AS nc FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
    agree AS (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS diag
              FROM cells WHERE lang = lang_guess),
    pe AS (SELECT CAST(COALESCE(sum(nr * nc), 0) AS BIGINT) AS cross_sum
           FROM rowm JOIN colm ON rowm.lang = colm.lang_guess)
    SELECT nn AS n, diag AS n_agree,
           floor(CAST(diag AS DOUBLE) / nn * 1000000.0 + 0.5) / 1000000.0 AS po,
           floor(CAST(cross_sum AS DOUBLE) / nn / nn * 1000000.0 + 0.5)
             / 1000000.0 AS pe,
           floor((CAST(diag AS DOUBLE) / nn - CAST(cross_sum AS DOUBLE) / nn / nn)
                 / nullif(1.0 - CAST(cross_sum AS DOUBLE) / nn / nn, 0.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS kappa
    FROM tot, agree, pe
    """,
)
def q_kappa_langid(spark, sf_dir):
    """Cohen's kappa between the stored language label and the n-gram
    langid heuristic — chance-corrected inter-rater agreement, the
    honest readout of a heuristic classifier on a skewed label mix
    (plain accuracy rewards majority-class guessing; kappa subtracts the
    marginal-product chance term). Scale shape: one |langs|²-cell
    contingency aggregate, then margins as two tiny aggregates joined
    back (no windows at all, no second scan of the rows). All counts
    stay BIGINT; po/pe/kappa derive from identical IEEE expressions in
    both engines, so the oracle match is exact."""
    docs = ptable(spark, sf_dir)
    lid = T.langid(docs).select("lang", "lang_guess")
    # cache: the expensive langid scan sits under FOUR consumers (rowm,
    # colm, tot, agree) and Spark does not dedupe common subplans — the
    # uncached form re-ran the n-gram scoring pass four times
    cells = (
        lid.groupBy("lang", "lang_guess").agg(F.count("*").alias("n")).cache()
    )
    rowm = cells.groupBy("lang").agg(F.sum("n").alias("nr"))
    colm = cells.groupBy("lang_guess").agg(F.sum("n").alias("nc"))
    tot = cells.agg(F.sum("n").cast("bigint").alias("nn"))
    agree = (
        cells.filter(F.col("lang") == F.col("lang_guess"))
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("diag"))
    )
    cross = (
        rowm.join(colm, rowm["lang"] == colm["lang_guess"])
        .agg(F.coalesce(F.sum(F.col("nr") * F.col("nc")), F.lit(0)).cast("bigint").alias("cross_sum"))
    )
    one = (
        tot.withColumn("__k", F.lit(1))
        .join(agree.withColumn("__k", F.lit(1)), "__k")
        .join(cross.withColumn("__k", F.lit(1)), "__k")
        .drop("__k")
    )
    po = F.col("diag").cast("double") / F.col("nn")
    pe = F.col("cross_sum").cast("double") / F.col("nn") / F.col("nn")
    return one.select(
        F.col("nn").alias("n"),
        F.col("diag").alias("n_agree"),
        r6p(po).alias("po"),
        r6p(pe).alias("pe"),
        r6p((po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0))).alias("kappa"),
    )


@q(
    "txt_quality",
    f"""
    WITH t AS (
      SELECT doc_id, length(text) AS n_chars_m,
             len({_TOK_SQL}) AS n_tokens,
             len(list_distinct({_TOK_SQL})) AS n_distinct_tokens,
             length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id, n_chars_m, n_tokens, n_distinct_tokens,
           round(CAST(n_distinct_tokens AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0.0), 6) AS ttr,
           round(CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0.0), 6)
             AS mean_tok_len,
           round(CAST(n_punct AS DOUBLE) / nullif(CAST(n_chars_m AS DOUBLE), 0.0), 6) AS punct_ratio
    FROM t
    """,
)
def txt_quality(spark, sf_dir):
    """Quality-scoring features: length, token counts, type-token ratio,
    mean token length, punctuation ratio — pure codegen expressions."""
    docs = T.quality_features(ptable(spark, sf_dir))
    return docs.select(
        "doc_id",
        F.col("n_chars_m").cast("long").alias("n_chars_m"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "ttr",
        "mean_tok_len",
        "punct_ratio",
    )


@q(
    "txt_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'),
                                   '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def txt_fingerprint(spark, sf_dir):
    """Normalization-robust document fingerprint (lowercase → strip punct →
    collapse whitespace → md5)."""
    docs = ptable(spark, sf_dir)
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


@q(
    "mm_media_features",
    """
    SELECT doc_id AS media_id, 'image' AS kind,
           33 + octet_length(encode(text)) AS n_bytes,
           CAST(1 + doc_id % 64 AS BIGINT) AS width,
           CAST(1 + doc_id % 48 AS BIGINT) AS height
    FROM documents
    """,
)
def mm_media_features(spark, sf_dir):
    """Multimodal feature extraction over binary payloads (mapInPandas,
    Arrow-batched). The payload is a PNG-shaped container (33-byte real
    signature+IHDR wrapping the text bytes, dimensions derived from
    doc_id), so width/height come from the REAL pure-python PNG header
    parse and the oracle can recompute them arithmetically; deeper pixel
    decode stays gated on the absent media libs."""
    media = documents_as_media(ptable(spark, sf_dir))
    feats = extract_features(media)
    return feats.select("media_id", "kind", "n_bytes", "width", "height")


@q(
    "st_windowed_counts",
    """
    SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
           count(*) AS n, round(sum(value), 6) AS sum_v
    FROM events GROUP BY 1, 2
    """,
)
def st_windowed_counts(spark, sf_dir):
    """Tumbling-window aggregation: hourly buckets by integer µs
    division, one partial-agg exchange."""
    ev = events(spark, sf_dir)
    return ev.groupBy(
        F.expr("ts_us div 3600000000").alias("hour_bucket"), "event_type"
    ).agg(F.count("*").alias("n"), r6(F.sum("value")).alias("sum_v"))


@q(
    "dd_contamination",
    f"""
    WITH sh AS (SELECT DISTINCT doc_id, tok FROM ({_SHINGLE_SQL})),
    hold AS (SELECT doc_id AS h_id, tok FROM sh WHERE doc_id % 50 = 0),
    train AS (SELECT doc_id, tok FROM sh WHERE doc_id % 50 <> 0)
    SELECT t.doc_id, count(DISTINCT t.tok) AS n_shared_shingles,
           count(DISTINCT h.h_id) AS n_holdout_docs
    FROM train t JOIN hold h ON t.tok = h.tok
    GROUP BY t.doc_id
    """,
)
def dd_contamination(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 3-token
    shingle with the holdout/eval slice (doc_id % 50 == 0 stands in for
    the eval set). The holdout shingle set is small by construction →
    broadcast join against the train shingle stream; shuffle volume is
    |contaminated (doc, shingle)| only. The standard n-gram-overlap
    decontamination pass (à la GPT-3/PaLM appendix methodology)."""
    from ..operators.dedup import doc_shingles

    docs = ptable(spark, sf_dir)
    sh = doc_shingles(docs, 3)
    hold = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("h_id"), "tok"
    )
    train = sh.filter(F.col("doc_id") % 50 != 0)
    return (
        train.join(F.broadcast(hold), "tok")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("tok").alias("n_shared_shingles"),
            F.count_distinct("h_id").alias("n_holdout_docs"),
        )
    )


@q(
    "txt_repetition",
    f"""
    WITH tk AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
    tok AS (
      SELECT doc_id, t AS term FROM (SELECT doc_id, unnest(toks) AS t FROM tk)
    ),
    bg AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id, unnest(
          CASE WHEN len(toks) >= 2
               THEN list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])
               ELSE [] END) AS t
        FROM tk)
    ),
    tokc AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS tok_total, max(n) AS tok_top_n FROM (
        SELECT doc_id, term, count(*) AS n FROM tok GROUP BY doc_id, term)
      GROUP BY doc_id
    ),
    bgc AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS bigram_total, max(n) AS bigram_top_n FROM (
        SELECT doc_id, term, count(*) AS n FROM bg GROUP BY doc_id, term)
      GROUP BY doc_id
    )
    SELECT t.doc_id, t.tok_total, t.tok_top_n,
           round(CAST(t.tok_top_n AS DOUBLE)
                 / nullif(CAST(t.tok_total AS DOUBLE), 0.0), 6) AS top_token_frac,
           coalesce(b.bigram_total, 0) AS bigram_total,
           coalesce(b.bigram_top_n, 0) AS bigram_top_n,
           round(CAST(b.bigram_top_n AS DOUBLE)
                 / nullif(CAST(b.bigram_total AS DOUBLE), 0.0), 6) AS top_bigram_frac
    FROM tokc t LEFT JOIN bgc b USING (doc_id)
    """,
)
def txt_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: fraction of the token
    stream consumed by the most frequent token / bigram (boilerplate and
    spam score high; pre-training filters threshold on these). Only max
    COUNTS are emitted, so term-frequency ties can't make results
    engine-dependent."""
    from ..operators.text import repetition_features

    docs = ptable(spark, sf_dir)
    return repetition_features(docs)


@q(
    "q_interval_join",
    """
    SELECT a.event_id AS left_id, b.event_id AS right_id, a.user_id,
           epoch_us(a.ts) AS t_left, epoch_us(b.ts) AS t_right
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
     AND a.event_id <> b.event_id
    """,
)
def q_interval_join(spark, sf_dir):
    """Range join: pairs of events of the same user within ±10 minutes —
    the batch form of a watermarked stream-stream interval join. Bucketed
    by t div tol with a 3-bucket probe so the planner sees a bounded
    equi-join, never an unbounded per-key theta join
    (operators/joins.py::interval_join)."""
    from ..operators.joins import interval_join

    ev = events(spark, sf_dir).select("event_id", "user_id", "ts_us")
    left = ev.select(F.col("event_id").alias("left_id"), "user_id", F.col("ts_us"))
    right = ev.select(F.col("event_id").alias("right_id"), "user_id", "ts_us")
    out = interval_join(left, right, on=["user_id"], time_col="ts_us", tol=600000000)
    return out.filter(F.col("left_id") != F.col("right_id")).select(
        "left_id",
        "right_id",
        "user_id",
        F.col("ts_us").alias("t_left"),
        F.col("ts_us_right").alias("t_right"),
    )


@q(
    "st_first_seen",
    """
    SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id
      ) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def st_first_seen(spark, sf_dir):
    """First-seen dedup per (user, event_type) via
    streaming/dedup.py::first_seen. min_by with a (ts, id) struct key:
    one groupBy, map-side partial min."""
    from ..streaming.dedup import first_seen

    ev = events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts_us", "value"
    )
    out = first_seen(ev, ["user_id", "event_type"], time_col="ts_us")
    return out.select("event_id", "user_id", "event_type", "ts_us", "value")


# ---------------------------------------------------------------------------
