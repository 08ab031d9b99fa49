"""Round-4/5 additions: JL projection, LR training, calibration,
NDCG, embedding DQ, newest registrations.

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
from .llm_core import _SHINGLE_SQL, _TOK_SQL  # noqa: F401
from .llm_scale import _j1_cogrouped_twin  # noqa: F401
from .llm_train import _MIX_WEIGHTS  # noqa: F401
from .olap_deep import _PS_SQL, _derived_ps, q_bm25_search  # noqa: F401


@q(
    "q_tpch_q20",
    f"""
    WITH ps AS ({_PS_SQL}),
    shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty97
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier
      JOIN ps ON ps_suppkey = s_suppkey
      JOIN part ON p_partkey = ps_partkey AND p_type = 'PROMO'
      LEFT JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
    WHERE ps_availqty > 0.5 * coalesce(qty97, 0)
    """,
)
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (excess-stock suppliers) over the derived supply table:
    availability vs half the year's shipments per (part, supplier) — the
    nested IN-subquery chain decorrelates to aggregate + left join +
    distinct project; part filter broadcasts into the supply slice."""
    ps = _derived_ps(spark, sf_dir)
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    shipped = li.groupBy(
        F.col("l_partkey").alias("sh_partkey"), F.col("l_suppkey").alias("sh_suppkey")
    ).agg(F.sum("l_quantity").alias("qty97"))
    return (
        ps.join(F.broadcast(s), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            shipped,
            (F.col("sh_partkey") == F.col("ps_partkey"))
            & (F.col("sh_suppkey") == F.col("ps_suppkey")),
            "left",
        )
        .filter(F.col("ps_availqty") > F.lit(0.5) * F.coalesce(F.col("qty97"), F.lit(0.0)))
        .select("s_suppkey", "s_name")
        .distinct()
    )


@q(
    "q_tpch_q21",
    """
    WITH l AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    w AS (
      SELECT DISTINCT l1.l_orderkey, l1.l_suppkey FROM l l1
      WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 80 DAY
        AND EXISTS (SELECT 1 FROM l l2
                    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM l l3
                        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > l3.o_orderdate + INTERVAL 80 DAY)
    )
    SELECT s_name, count(*)::BIGINT AS numwait
    FROM w JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    """,
)
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting; lateness = shipped
    > 80 days after order date, standing in for the absent receipt/commit
    dates): the EXISTS + NOT-EXISTS pair over the same fact decorrelates
    to ONE per-order aggregate — n_suppliers and n_late_suppliers — and
    the qualifying pairs are late rows where n_suppliers > 1 AND
    n_late_suppliers = 1. One shuffle on l_orderkey instead of three
    correlated rescans; the oracle keeps the textbook EXISTS formulation,
    so the driver check proves the decorrelation equivalence."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    l = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 80 DAY")
    )
    # two-stage aggregate instead of count_distinct×2: the distinct pairs
    # reduce first, then a plain count — same answer, same local wall time
    # (overhead-bound at these SFs), but WITHOUT the Expand operator that
    # duplicates every fact row once per distinct-aggregate at scale
    per_pair = l.groupBy("l_orderkey", "l_suppkey").agg(F.max("late").alias("late"))
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum(F.col("late").cast("int")).alias("n_late_supp"),
    )
    w = (
        per_pair.filter(F.col("late"))
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)), "l_orderkey")
        .select("l_orderkey", "l_suppkey")
    )
    return (
        w.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@q(
    "q_tpch_q22",
    """
    SELECT c_mktsegment, count(*)::BIGINT AS numcust,
           round(sum(c_acctbal), 6) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global-sales opportunity; market segment stands in for
    the absent phone country code, and 'no URGENT orders' for 'no orders'
    — every synthetic customer has orders, which would make the textbook
    predicate vacuous): scalar-avg broadcast + broadcast LEFT ANTI join
    against the urgent-order custkeys, then a segment rollup."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(F.broadcast(o), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("numcust"), r6(F.sum("c_acctbal")).alias("totacctbal"))
    )


@q(
    "q_countmin_tokens",
    f"""
    WITH toks AS (SELECT unnest({{tok}}) AS tok FROM documents),
    rs AS (SELECT unnest(generate_series(0, 3)) AS r),
    cms AS (
      SELECT r, ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 12))::BIGINT % 256 AS c,
             count(*) AS cnt
      FROM toks CROSS JOIN rs GROUP BY 1, 2
    ),
    true_counts AS (SELECT tok, count(*)::BIGINT AS true_count FROM toks GROUP BY tok),
    top AS (SELECT tok, true_count FROM true_counts ORDER BY true_count DESC, tok LIMIT 20),
    probes AS (
      SELECT tok, true_count, r,
             ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 12))::BIGINT % 256 AS c
      FROM top CROSS JOIN rs
    )
    SELECT tok, true_count, min(coalesce(cnt, 0))::BIGINT AS est_count
    FROM probes LEFT JOIN cms USING (r, c) GROUP BY 1, 2
    """,
)
def q_countmin_tokens(spark, sf_dir):
    """Count-Min sketch (operators/sketches.py::countmin_table/estimate):
    4×256 counters over the corpus token stream, probed for the 20 most
    frequent tokens next to their true counts. Like KMV, the md5 hashing
    makes this approximate structure fully deterministic — the oracle
    rebuilds the identical counter table, and the CMS guarantee
    (est ≥ true, overshoot bounded by collisions) is visible in the
    output rows. The sketch is a constant-size, merge-by-addition partial
    aggregate — the heavy-hitter primitive for unbounded streams."""
    from ..operators.dedup import tokens as tok_fn
    from ..operators.sketches import countmin_estimate, countmin_table

    toks = ptable(spark, sf_dir).select(
        F.explode(tok_fn(F.col("text"))).alias("tok")
    )
    cms = countmin_table(toks, "tok", depth=4, width=256)
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("tok"))
        .limit(20)
    )
    est = countmin_estimate(cms, top.select("tok"), "tok", depth=4, width=256)
    return top.join(est, "tok").select("tok", "true_count", "est_count")


@q(
    "q_dq_checks",
    """
    WITH wide AS (
      SELECT
        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn,
        sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL
                 THEN 1 ELSE 0 END)::BIGINT AS av,
        sum(CASE WHEN NOT (o_totalprice BETWEEN 0 AND 1000000) OR o_totalprice IS NULL
                 THEN 1 ELSE 0 END)::BIGINT AS rng
      FROM orders
    ),
    uniq AS (
      SELECT sum(n - 1)::BIGINT AS u FROM (
        SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
    ),
    refi AS (
      SELECT count(*)::BIGINT AS r FROM orders
      WHERE o_custkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    )
    SELECT 'not_null:o_custkey' AS "check", nn AS n_violations FROM wide
    UNION ALL SELECT 'accepted_values:o_orderstatus', av FROM wide
    UNION ALL SELECT 'in_range:o_totalprice', rng FROM wide
    UNION ALL SELECT 'unique:o_orderkey', u FROM uniq
    UNION ALL SELECT 'referential:o_custkey->c_custkey', r FROM refi
    """,
)
def q_dq_checks(spark, sf_dir):
    """Declarative data-quality suite (operators/quality.py — the
    dbt-tests/Deequ shape): not-null, accepted-values, range, uniqueness,
    and referential integrity over orders, reported as one
    (check, n_violations) table. The column-predicate checks compile into
    ONE conditional-sum aggregate (one scan for the whole suite — N
    separate filter().count() actions would scan N times); uniqueness is
    a keyed aggregate and the FK check a broadcast anti-join count."""
    from ..operators.quality import (
        accepted_values,
        in_range,
        not_null,
        referential_check,
        run_checks,
        unique_check,
    )

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    scans = run_checks(
        o,
        [
            not_null("o_custkey"),
            accepted_values("o_orderstatus", ["O", "F", "P"]),
            in_range("o_totalprice", 0, 1_000_000),
        ],
    )
    return scans.unionAll(unique_check(o, ["o_orderkey"])).unionAll(
        referential_check(o, "o_custkey", c, "c_custkey")
    )


@q(
    "q_label_centroids",
    """
    SELECT label, s.n - 1 AS dim,
           round(avg(embedding[s.n]::DOUBLE), 6) AS centroid,
           round(stddev_pop(embedding[s.n]::DOUBLE), 6) AS spread,
           count(*)::BIGINT AS n_vecs
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS n) s
    GROUP BY label, s.n
    """,
)
def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid + dispersion, per dimension — the
    cluster-quality report behind SemDeDup/IVF tuning. posexplode turns
    the vector column into (label, dim, value) rows and ONE map-side-
    combined aggregate produces mean and population-stddev for all
    (label, dim) cells; no UDF, no driver collect. Shuffle volume is
    |labels|×|dims| partial states per task regardless of row count —
    the same plan summarizes a 100 TB embedding store."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            r6(F.avg(F.col("v").cast("double"))).alias("centroid"),
            r6(F.stddev_pop(F.col("v").cast("double"))).alias("spread"),
            F.count("*").alias("n_vecs"),
        )
    )


@q(
    "q_corpus_shuffle",
    """
    SELECT doc_id,
           row_number() OVER (ORDER BY md5('ep1:' || doc_id::VARCHAR), doc_id) AS shuffle_pos
    FROM documents
    """,
)
def q_corpus_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle: global training order = rank under a
    salted hash of the id — reproducible across runs/engines (seed = the
    salt string, here epoch 'ep1'), with none of the
    single-partition-window trap (operators/rank.py::global_rank). Change
    the salt per epoch for fresh orders; ranks stay exact, so resuming a
    run mid-epoch is a WHERE on shuffle_pos."""
    from ..operators.rank import global_rank

    docs = ptable(spark, sf_dir).select("doc_id")
    key = F.md5(F.concat(F.lit("ep1:"), F.col("doc_id").cast("string")))
    return global_rank(
        docs.withColumn("__k", key), [F.col("__k"), F.col("doc_id")], "shuffle_pos"
    ).select("doc_id", "shuffle_pos")


@q(
    "q_hybrid_rrf",
    f"""
    WITH base AS (
      SELECT vec_id AS doc_id, list_transform(embedding, x -> x::DOUBLE) AS ed
      FROM embeddings WHERE vec_id < 500
    ),
    qv AS (SELECT ed AS q FROM base WHERE doc_id = 0),
    dense AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY
               list_dot_product(ed, q)
               / (sqrt(list_dot_product(ed, ed)) * sqrt(list_dot_product(q, q)))
               DESC, doc_id) AS r_dense
      FROM base, qv
    ),
    toks AS (SELECT doc_id, unnest({{tok}}) AS tok FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ('spark', 'data', 'window') GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    bm25 AS (
      SELECT doc_id,
             round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 6) AS bm25
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    ),
    sparse AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_sparse
      FROM bm25
    )
    SELECT doc_id, r_dense, r_sparse,
           round(1.0 / (60 + r_dense)
                 + coalesce(1.0 / (60 + r_sparse), 0.0), 6) AS rrf
    FROM dense LEFT JOIN sparse USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the dense rank
    (cosine vs the doc-0 embedding) and the sparse rank (BM25, 3-term
    query). Both ranks avoid the single-partition global window via
    operators/rank.py::global_rank. Cross-engine determinism: embeddings
    are cast float→double BEFORE the dot products, which makes Spark's
    ``zip_with``/``aggregate`` chain bit-identical to DuckDB's
    ``list_dot_product`` (verified 500/500 exact; the float32 path
    differs at ~1e-7 and would make ranks engine-dependent), and the BM25
    side ranks on its 6-dp-rounded oracle-matched score. At scale the
    dense rank's crossJoin is replaced by the ANN shortlist — the fusion
    stage is unchanged."""
    from ..operators.rank import global_rank
    from ..operators.similarity import dot

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    base = e.select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("ed"),
    )
    qv = base.filter(F.col("doc_id") == 0).select(F.col("ed").alias("q"))
    ed, q_ = F.col("ed"), F.col("q")
    cos = dot(ed, q_) / (F.sqrt(dot(ed, ed)) * F.sqrt(dot(q_, q_)))
    dense = global_rank(
        base.crossJoin(F.broadcast(qv)).select("doc_id", cos.alias("c")),
        [F.col("c").desc(), F.col("doc_id")],
        "r_dense",
    ).select("doc_id", "r_dense")
    sparse = global_rank(
        q_bm25_search(spark, sf_dir),
        [F.col("bm25").desc(), F.col("doc_id")],
        "r_sparse",
    ).select("doc_id", "r_sparse")
    rrf = F.round(
        F.lit(1.0) / (F.lit(60) + F.col("r_dense"))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_sparse")), F.lit(0.0)),
        6,
    )
    return (
        dense.join(sparse, "doc_id", "left")
        .select("doc_id", "r_dense", "r_sparse", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(20)
    )


@q(
    "q_incremental_agg",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 6) AS total,
           round(sum(value) / count(*), 6) AS mean
    FROM events GROUP BY event_type
    """,
)
def q_incremental_agg(spark, sf_dir):
    """Incremental materialized-view maintenance: the per-type rollup is
    maintained as (count, sum) partial states; a new day of events merges
    via delta-aggregate + full-outer coalesce-add — NO rescan of the base.
    The oracle is the full recompute, so the driver check IS the
    incremental==full equivalence proof. At 100 TB this is the difference
    between touching one day and touching the decade; derived metrics
    (mean) come from the merged states, which is why the state is
    (count, sum), not (mean)."""
    ev = events(spark, sf_dir)
    cutoff = 25 * 86400_000_000 + 1704067200000000  # 2024-01-26 (µs)
    base = (
        ev.filter(F.col("ts_us") < cutoff)
        .groupBy("event_type")
        .agg(F.count("*").alias("n0"), F.sum("value").alias("s0"))
    )
    delta = (
        ev.filter(F.col("ts_us") >= cutoff)
        .groupBy("event_type")
        .agg(F.count("*").alias("n1"), F.sum("value").alias("s1"))
    )
    merged = base.join(delta, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce(F.col("n0"), F.lit(0)) + F.coalesce(F.col("n1"), F.lit(0))).alias("n"),
        (
            F.coalesce(F.col("s0"), F.lit(0.0)) + F.coalesce(F.col("s1"), F.lit(0.0))
        ).alias("s"),
    )
    return merged.select(
        "event_type",
        "n",
        r6(F.col("s")).alias("total"),
        r6(F.col("s") / F.col("n")).alias("mean"),
    )


QUERIES["j1_cogrouped_twin"] = _j1_cogrouped_twin
ORACLES["j1_cogrouped_twin"] = ORACLES["j1_interp_join"]

ORACLES["txt_winnow"] = ORACLES["txt_winnow"].format(tok=_TOK_SQL)
ORACLES["dd_winnow_containment"] = ORACLES["dd_winnow_containment"].format(tok=_TOK_SQL)
ORACLES["q_hybrid_rrf"] = ORACLES["q_hybrid_rrf"].format(tok=_TOK_SQL)
ORACLES["q_countmin_tokens"] = ORACLES["q_countmin_tokens"].format(tok=_TOK_SQL)


@q(
    "q_dsir_selection",
    f"""
    WITH tk AS (SELECT doc_id, source, {_TOK_SQL} AS toks FROM documents),
    feats AS (
      SELECT doc_id, source, unnest(list_concat(toks,
        CASE WHEN len(toks) >= 2
             THEN list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])
             ELSE [] END)) AS f
      FROM tk),
    fb AS (SELECT doc_id, source,
                  ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS bucket,
                  count(*) AS c
           FROM feats GROUP BY 1, 2, 3),
    raw AS (SELECT bucket, sum(c) AS cr FROM fb GROUP BY 1),
    tgt AS (SELECT bucket, sum(c) AS ct FROM fb WHERE source = 'src0' GROUP BY 1),
    nr AS (SELECT sum(cr) AS v FROM raw),
    nt AS (SELECT coalesce(sum(ct), 0) AS v FROM tgt),
    lam AS (
      SELECT r.bucket,
             CAST(floor((ln((coalesce(t.ct, 0) + 1.0) / (nt.v + 1024.0))
                         - ln((r.cr + 1.0) / (nr.v + 1024.0)))
                        * 1000000.0 + 0.5) AS BIGINT) AS lam_micro
      FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN nr CROSS JOIN nt),
    scores AS (
      SELECT fb.doc_id,
             CAST(sum(fb.c * coalesce(l.lam_micro, 0)) AS BIGINT) AS score_micro
      FROM fb LEFT JOIN lam l USING (bucket) GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM scores)
    SELECT doc_id, score_micro,
           row_number() OVER (ORDER BY score_micro DESC, doc_id)
             <= CAST(ceil(0.25 * n.n_docs) AS BIGINT) AS selected
    FROM scores CROSS JOIN n
    """,
)
def q_dsir_selection(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): score every document by its
    hashed-n-gram importance log-weight under a target-vs-raw bucket
    model (target = the 'src0' slice standing in for a curated corpus)
    and keep the top quarter (operators/selection.py::dsir_select).
    Model tables are 1 024 rows → broadcast; scoring is map-side; the
    top-slice flag is the windowless global_rank. Scores are exact
    integer micro-nats (quantized log-ratios), so the oracle matches
    bit-for-bit. Engine addition — the reference (process_adcp.py) has
    no text/selection ops."""
    from ..operators.selection import dsir_select

    # parallelism-only round-robin repartition, guarded on under-
    # partitioning (the dd_substring_spans pattern): the local fixture is
    # a single split and the md5 feature-explode is CPU-dense (3.7 ->
    # 2.1 s at sf0.1); on a many-split production input the guard makes
    # this a no-op rather than a parallelism-REDUCING full-table shuffle
    docs = ptable(spark, sf_dir)  # ptable owns the parallelism guard
    return dsir_select(docs, F.col("source") == "src0", keep_fraction=0.25)


@q(
    "dd_bloom_decontaminate",
    f"""
    WITH sh AS (SELECT DISTINCT doc_id, tok FROM ({_SHINGLE_SQL})),
    hold AS (SELECT DISTINCT tok FROM sh WHERE doc_id % 50 = 0),
    hp AS (SELECT ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || tok), 1, 12))::BIGINT
                    % 65536 AS pos
           FROM hold CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j),
    bloom AS (SELECT pos // 32 AS word_idx,
                     bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
              FROM hp GROUP BY 1),
    tr AS (SELECT doc_id, tok FROM sh WHERE doc_id % 50 <> 0),
    pp AS (SELECT doc_id, tok,
                  ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || tok), 1, 12))::BIGINT
                    % 65536 AS pos
           FROM tr CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j),
    hit AS (SELECT doc_id, tok,
                   min(CASE WHEN (coalesce(b.word, 0)
                                  & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0
                            THEN 1 ELSE 0 END) AS all_hit
            FROM pp LEFT JOIN bloom b ON pp.pos // 32 = b.word_idx
            GROUP BY doc_id, tok)
    SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(all_hit) AS BIGINT) AS n_flagged,
           {R6P_SQL.format("sum(all_hit) / CAST(count(*) AS DOUBLE)")}
             AS contamination_rate
    FROM hit GROUP BY doc_id
    """,
)
def dd_bloom_decontaminate(spark, sf_dir):
    """Decontamination against a BLOOM FILTER of the holdout 3-shingle
    set (doc_id % 50 == 0 stands in for the eval benchmark, as in
    dd_contamination): the holdout n-grams compress to a 64 Kbit / k=3
    bitset built in one pass (operators/selection.py::bloom_build), the
    filter broadcasts (2 048 words), and the probe over the training
    pool is a map-side lookup — the 100 TB posture where the exact-join
    formulation (dd_contamination) would shuffle the pool keyed on
    n-grams. False-positive rate at these sizes ≈ (1−e^{{-kn/m}})^k;
    the filter is hash-deterministic, so the DuckDB oracle rebuilds the
    identical bitset and the per-doc flag counts match exactly."""
    from ..operators.dedup import doc_shingles
    from ..operators.selection import bloom_build, bloom_probe

    docs = ptable(spark, sf_dir)
    # doc_shingles is already (doc, DISTINCT shingle) via array_distinct —
    # no extra .distinct() exchange; the holdout side skips its global
    # token dedup too because bloom_build's bit_or is idempotent
    # (duplicate members OR the same bits). Measured 1.23 -> 0.95 s at
    # sf0.1, bit-identical output. Round 10 re-examined both at a 10x
    # scale step: re-adding the holdout distinct measured NEUTRAL
    # (ab_bloom_10x.json), and the r8-vs-r9 10x comparison is within
    # cross-run noise (ab_structural_10x.json vs the rerun) — kept.
    sh = doc_shingles(docs, 3)
    hold = sh.filter(F.col("doc_id") % 50 == 0).select("tok")
    bloom = bloom_build(hold, "tok", m_bits=65536, k=3)
    probed = bloom_probe(
        sh.filter(F.col("doc_id") % 50 != 0), "tok", bloom, m_bits=65536, k=3
    )
    flagged = F.col("maybe_member").cast("int")
    return probed.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(flagged).cast("bigint").alias("n_flagged"),
        r6p(F.sum(flagged) / F.count("*").cast("double")).alias(
            "contamination_rate"
        ),
    )


def _jl_oracle_sql(d_in: int = 64, d_out: int = 16) -> str:
    """DuckDB replay of similarity.py::jl_project — the SAME ±1 sign
    matrix (generated by the same jl_sign function at import time) and
    the SAME left-associated addition order, so the projected doubles are
    bit-identical and the compare needs no rounding."""
    from ..operators.similarity import jl_sign

    scale = 1.0 / (d_out ** 0.5)
    cols = []
    for j in range(d_out):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {jl_sign(i, j)}.0"
            for i in range(d_in)
        )
        cols.append(f"({terms}) * {scale!r} AS proj_{j:02d}")
    sel = ",\n           ".join(cols)
    return f"SELECT vec_id, {sel} FROM embeddings"


@q("ann_jl_project", _jl_oracle_sql())
def ann_jl_project(spark, sf_dir):
    """Johnson–Lindenstrauss ±1 random projection 64 → 16 dims
    (operators/similarity.py::jl_project) — the dimensionality-reduction
    stage a 100 TB ANN pipeline runs before LSH/IVF so every downstream
    dot product and shuffle shrinks 4×, with pairwise distances kept to
    (1±ε). Pure map (no shuffle, no UDF); left-associated IEEE sums and
    a power-of-two scale make the oracle match bit-exact with no
    rounding. Engine addition — the reference (process_adcp.py) has no
    embedding ops."""
    from ..operators.similarity import jl_project

    emb = table(spark, sf_dir, "embeddings")
    return jl_project(emb, "embedding", d_in=64, d_out=16, id_cols=["vec_id"])


_LR_FEATS = ["x0", "x1", "x2", "x3"]
_LR_POS_SOURCES = "('src0', 'src1', 'src2', 'src3', 'src4')"


def _lr_oracle_sql(n_iter: int = 3, lr: float = 1.0) -> str:
    """DuckDB replay of operators/classifier.py::logistic_train — the
    full-batch GD recurrence unrolled as g_k/w_k CTE pairs (one gradient
    aggregate + one 1-row weight update per iteration, weights starting
    at 0), then the per-doc σ(w·x) scoring pass. Weight trajectories in
    the two engines differ only by float-summation ulps; the final 6-dp
    rounding absorbs them (the PCA-oracle precedent)."""
    fs = _LR_FEATS

    def zexpr(wref: str | None) -> str:
        if wref is None:
            return " + ".join(f"0.0 * {f}" for f in fs)
        return " + ".join(f"{wref}.w{j} * {f}" for j, f in enumerate(fs))

    its = []
    prev = None
    for k in range(1, n_iter + 1):
        sig = f"1.0 / (1.0 + exp(-({zexpr(prev)})))"
        gsel = ", ".join(
            f"avg(({sig} - y) * {f}) AS g{j}" for j, f in enumerate(fs)
        )
        src = "f" if prev is None else f"f CROSS JOIN {prev}"
        wprev = "0.0" if prev is None else None
        wsel = ", ".join(
            (f"0.0 - {lr!r} * g{j} AS w{j}")
            if prev is None
            else (f"{prev}.w{j} - {lr!r} * g{j} AS w{j}")
            for j in range(len(fs))
        )
        gsrc = f"g{k}" if prev is None else f"g{k} CROSS JOIN {prev}"
        its.append(f"g{k} AS (SELECT {gsel} FROM {src})")
        its.append(f"w{k} AS (SELECT {wsel} FROM {gsrc})")
        prev = f"w{k}"
    its_sql = ",\n    ".join(its)
    return f"""
    WITH f AS (
      SELECT doc_id,
             1.0 AS x0,
             n_chars / 1000.0 AS x1,
             len(toks) / 100.0 AS x2,
             len(list_distinct(toks)) / CAST(nullif(len(toks), 0) AS DOUBLE) AS x3,
             CASE WHEN source IN {_LR_POS_SOURCES} THEN 1.0 ELSE 0.0 END AS y
      FROM (SELECT doc_id, source, n_chars, {_TOK_SQL} AS toks FROM documents)),
    {its_sql}
    SELECT doc_id, y, 1.0 / (1.0 + exp(-({zexpr(prev)}))) AS p
    FROM f CROSS JOIN {prev}
    """


def _lr_scored(spark, sf_dir):
    """Shared trainer+scorer for the LR queries: features from document
    stats, 3 full-batch GD iterations (driver-scalar weights, one
    4-value aggregate per iteration), σ(w·x) scoring as a pure map.
    Returns (doc_id, y, p) at full precision."""
    from ..operators.classifier import logistic_score, logistic_train
    from ..operators.dedup import tokens as _tokens

    docs = ptable(spark, sf_dir)
    nt = F.size(F.col("__toks"))
    f = docs.withColumn("__toks", _tokens(F.col("text"))).select(
        "doc_id",
        F.lit(1.0).alias("x0"),
        (F.col("n_chars") / F.lit(1000.0)).alias("x1"),
        (nt / F.lit(100.0)).alias("x2"),
        (
            F.size(F.array_distinct(F.col("__toks")))
            / F.nullif(nt, F.lit(0)).cast("double")
        ).alias("x3"),
        F.col("source")
        .isin("src0", "src1", "src2", "src3", "src4")
        .cast("double")
        .alias("y"),
    )
    # PERF: the feature frame feeds 3 gradient aggregates + the scoring
    # pass; cache once (cache-boundary rule: 3+ consumers)
    f = f.cache()
    w = logistic_train(f, _LR_FEATS, "y", n_iter=3, lr=1.0)
    return logistic_score(f, _LR_FEATS, w, "p").select("doc_id", "y", "p")


@q(
    "q_lr_quality_train",
    f"""
    SELECT doc_id, CAST(y AS INTEGER) AS label, round(p, 6) AS p_quality
    FROM ({_lr_oracle_sql(3, 1.0)})
    """,
)
def q_lr_quality_train(spark, sf_dir):
    """Learned quality filter (CCNet/fastText-style): train a logistic
    regression on document stats (bias, chars, tokens, type–token
    ratio; label = the curated source slice) by 3 full-batch GD
    iterations (operators/classifier.py::logistic_train — one
    |features|-row aggregate per iteration, weights as driver scalars),
    then score every document map-side. The oracle unrolls the same
    recurrence as CTEs; features are bit-identical across engines and
    weights match to well under the 6-dp rounding. Engine addition —
    the reference has no model ops."""
    scored = _lr_scored(spark, sf_dir)
    return scored.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        r6(F.col("p")).alias("p_quality"),
    )


@q(
    "q_calibration_bins",
    f"""
    SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS bin,
           count(*) AS n,
           round(avg(p), 6) AS avg_conf,
           round(avg(y), 6) AS frac_pos,
           round(abs(avg(p) - avg(y)), 6) AS gap
    FROM ({_lr_oracle_sql(3, 1.0)})
    GROUP BY 1
    """,
)
def q_calibration_bins(spark, sf_dir):
    """Classifier calibration audit (reliability-diagram bins): the
    trained quality filter's scores bucketed into 10 equal-width
    confidence bins with per-bin observed positive rate and |conf − acc|
    gap — the per-bin terms of expected calibration error. One
    10-group aggregate over the scored frame; composes with
    q_lr_quality_train's shared trainer. The gap column is what a
    pipeline thresholds before trusting filter scores as keep
    probabilities."""
    scored = _lr_scored(spark, sf_dir)
    b = F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int")
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            r6(F.avg("p")).alias("avg_conf"),
            r6(F.avg("y")).alias("frac_pos"),
            r6(F.abs(F.avg("p") - F.avg("y"))).alias("gap"),
        )
    )


@q(
    "q_zipf_fit",
    f"""
    WITH tok AS (SELECT unnest({_TOK_SQL}) AS tok FROM documents),
    cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
    rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM cnt),
    pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
            FROM rk),
    s AS (SELECT CAST(count(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM pts)
    SELECT CAST(n AS BIGINT) AS n_terms,
           {R6P_SQL.format("(n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)")}
             AS slope,
           {R6P_SQL.format(
               "(sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) * sx) / n"
           )} AS intercept,
           {R6P_SQL.format(
               "((n * sxy - sx * sy) * (n * sxy - sx * sy)) "
               "/ nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0)"
           )} AS r2
    FROM s
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Zipf's-law fit of the corpus token-frequency spectrum: OLS of
    ln(count) on ln(rank) — slope ≈ −1 on natural language; a corpus
    whose slope drifts far from −1 is template/spam-heavy, which makes
    this a standard corpus-health diagnostic. Ranks come from the
    windowless rank.global_rank over the |vocab|-row count table (tie
    break on token so the rank is a deterministic total order); the fit
    itself is one sufficient-statistics aggregate — nothing row-scale
    ever crosses a single partition."""
    from ..operators.dedup import tokens as _tokens
    from ..operators.rank import global_rank

    docs = ptable(spark, sf_dir)
    cnt = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    rk = global_rank(cnt, [F.col("c").desc(), F.col("tok")], "rank")
    pts = rk.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    slope = num / den
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        r6p(slope).alias("slope"),
        r6p((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        r6p(
            (num * num)
            / F.nullif(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
                F.lit(0.0),
            )
        ).alias("r2"),
    )


@q(
    "st_bloom_decontam",
    f"""
    WITH sh AS (SELECT DISTINCT doc_id, tok FROM ({_SHINGLE_SQL})),
    hold AS (SELECT DISTINCT tok FROM sh WHERE doc_id % 50 = 0),
    hp AS (SELECT ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || tok), 1, 12))::BIGINT
                    % 65536 AS pos
           FROM hold CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j),
    bloom AS (SELECT pos // 32 AS word_idx,
                     bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
              FROM hp GROUP BY 1),
    tr AS (SELECT doc_id, tok FROM sh WHERE doc_id % 50 <> 0),
    pp AS (SELECT doc_id, tok,
                  ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || tok), 1, 12))::BIGINT
                    % 65536 AS pos
           FROM tr CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j),
    hit AS (SELECT doc_id, tok,
                   min(CASE WHEN (coalesce(b.word, 0)
                                  & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0
                            THEN 1 ELSE 0 END) AS all_hit
            FROM pp LEFT JOIN bloom b ON pp.pos // 32 = b.word_idx
            GROUP BY doc_id, tok)
    SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(all_hit) AS BIGINT) AS n_flagged,
           CAST(sum(all_hit) > 0 AS BOOLEAN) AS is_contaminated
    FROM hit GROUP BY doc_id
    """,
)
def st_bloom_decontam(spark, sf_dir):
    """Bloom decontamination via streaming/decontam.py: the holdout
    bitset collapses to a literal 2 048-long array and the per-doc
    verdict is a stateless projection — ZERO exchanges. Same math as
    dd_bloom_decontaminate (which keeps the filter as a broadcast table
    and pays one verdict shuffle); the oracle rebuilds the identical
    bitset, so the two designs are pinned to agree exactly.

    The up-front round-robin repartition is PARALLELISM-ONLY, not a
    semantic shuffle: the local fixture parquet arrives as a single
    split, which would put the md5-dense probe on one core (measured
    9.5 → 0.9 s at sf0.1 with 32). At 100 TB the input already has
    thousands of splits and the repartition is a no-op to delete; the
    operator itself stays zero-exchange. Round-robin is
    layout-independent here — every verdict is per-row — so no
    cross-branch cache is needed."""
    from ..operators.dedup import doc_shingles
    from ..operators.selection import bloom_build
    from ..streaming.decontam import bitmap_from_words, decontaminate_flags

    docs = ptable(spark, sf_dir)  # ptable owns the parallelism guard
    hold = (
        doc_shingles(docs.filter(F.col("doc_id") % 50 == 0), 3)
        .select("tok")
        .distinct()
    )
    bm = bitmap_from_words(bloom_build(hold, "tok", 65536, 3), 65536)
    return decontaminate_flags(
        docs.filter(F.col("doc_id") % 50 != 0), bm, 65536, 3
    )


@q(
    "q_mixture_upsample",
    f"""
    WITH w(source, wt) AS (VALUES
        ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.1 AS DOUBLE))),
    n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
    t AS (SELECT count(*) AS total FROM documents
          WHERE source IN ('src0', 'src1', 'src2', 'src3')),
    r AS (SELECT d.doc_id, d.source,
                 CAST(3 * t.total AS DOUBLE) * w.wt / n.n_s AS rep,
                 ('0x' || substr(md5('up' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                   / 4294967296.0 AS u
          FROM documents d JOIN w USING (source) JOIN n USING (source)
          CROSS JOIN t),
    c AS (SELECT doc_id, source,
                 CAST(floor(rep) AS BIGINT)
                   + (CASE WHEN u < rep - floor(rep) THEN 1 ELSE 0 END) AS reps
          FROM r)
    SELECT doc_id, source,
           CAST(unnest(generate_series(1, reps)) AS BIGINT) AS copy_id
    FROM c WHERE reps >= 1
    """,
)
def q_mixture_upsample(spark, sf_dir):
    """Epoch construction by UPSAMPLING (operators/sampling.py::
    upsample_by_repeats): a 3-epoch budget over the weighted slice gives
    stratum repeat factors r_s = 3·total·w_s / n_s (src0 → ×4.8: 4
    guaranteed copies + an 80 %-probability 5th via the stable hash
    draw) — the duplication half of domain mixing that
    q_mixture_resample (keep/drop only) cannot express; GPT-3's "books
    ×2.9" table is exactly this shape. Per-source counts are a
    dim-sized driver collect (the J4/J5 small-side pattern); the
    emission itself is a literal-map lookup + sequence-explode, pure
    map-side. Repeat factors are proportion-invariant, so the expansion
    is identical at every SF."""
    from ..operators.sampling import upsample_by_repeats

    docs = ptable(spark, sf_dir)
    counts = {
        r["source"]: r["n"]
        for r in docs.filter(F.col("source").isin(*_MIX_WEIGHTS))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(counts.values())
    reps = {s: (3 * total) * w / counts[s] for s, w in _MIX_WEIGHTS.items() if s in counts}
    return upsample_by_repeats(docs, "source", "doc_id", reps, salt="up").select(
        "doc_id", "source", "copy_id"
    )


def _ndcg_oracle_sql(d_out: int = 16) -> str:
    """DuckDB replay of q_search_ndcg: exact-cosine ground truth (the
    ann_topk_bruteforce conventions — round-6 sims, vec_id tie break) vs
    the same retrieval run in JL space, scored with NDCG@10 / MRR. The
    JL projections come from _jl_oracle_sql's bit-exact CTE."""
    plist = ", ".join(f"proj_{j:02d}" for j in range(d_out))
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 10),
    cgt AS (
      SELECT q.query_id, e.vec_id AS nbr_id,
             round(list_dot_product(q.vq, e.v)
                   / nullif(sqrt(list_dot_product(q.vq, q.vq))
                            * sqrt(list_dot_product(e.v, e.v)), 0.0), 6) AS sim
      FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id),
    gt AS (SELECT query_id, nbr_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, nbr_id ASC) AS rank_gt
           FROM cgt QUALIFY rank_gt <= 10),
    rel AS (SELECT query_id, nbr_id, CAST(11 - rank_gt AS DOUBLE) AS rel,
                   rank_gt FROM gt),
    p AS (SELECT vec_id, [{plist}] AS pv FROM ({_jl_oracle_sql()})),
    pq AS (SELECT vec_id AS query_id, pv AS pvq FROM p WHERE vec_id < 10),
    csys AS (
      SELECT pq.query_id, p.vec_id AS nbr_id,
             round(list_dot_product(pq.pvq, p.pv)
                   / nullif(sqrt(list_dot_product(pq.pvq, pq.pvq))
                            * sqrt(list_dot_product(p.pv, p.pv)), 0.0), 6) AS sim
      FROM pq CROSS JOIN p WHERE p.vec_id <> pq.query_id),
    sys AS (SELECT query_id, nbr_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, nbr_id ASC) AS rank_sys
            FROM csys QUALIFY rank_sys <= 10),
    idcg AS (SELECT query_id, SUM(rel / log2(rank_gt + 1.0)) AS idcg
             FROM rel GROUP BY query_id),
    dcg AS (
      SELECT s.query_id,
             SUM(coalesce(r.rel, 0.0) / log2(s.rank_sys + 1.0)) AS dcg,
             MAX(CASE WHEN r.rel IS NOT NULL
                      THEN 1.0 / s.rank_sys ELSE 0.0 END) AS mrr
      FROM sys s
      LEFT JOIN rel r ON r.query_id = s.query_id AND r.nbr_id = s.nbr_id
      GROUP BY s.query_id)
    SELECT d.query_id,
           {R6P_SQL.format("d.dcg / i.idcg")} AS ndcg10,
           {R6P_SQL.format("d.mrr")} AS mrr
    FROM dcg d JOIN idcg i USING (query_id)
    """


@q("q_search_ndcg", _ndcg_oracle_sql())
def q_search_ndcg(spark, sf_dir):
    """Retrieval-quality evaluation: NDCG@10 and MRR of JL-projected
    (64 → 16 dim) cosine retrieval against the exact full-dim cosine
    ground truth, per query (MRR = reciprocal rank of the first
    RELEVANT result, relevance = ground-truth top-10 membership) — the
    standard ranking-eval pass any search
    or RAG pipeline runs before trusting a cheaper index (here it
    quantifies exactly what the JL reduction trades away; the recall
    twin is tests' distortion suite). Graded relevance = 11 − exact
    rank. Both rankings use the repo's deterministic conventions
    (round-6 sims, vec_id tie break), projections are bit-exact across
    engines, so the oracle matches at 6 dp. Candidate volume is the
    declared-exact |queries|-bounded crossJoin of the ANN baselines."""
    from ..operators.similarity import brute_force_topk, jl_project

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gt = brute_force_topk(emb, queries, k=10, query_id_col="query_id")
    rel = gt.select(
        "query_id",
        "nbr_id",
        (F.lit(11) - F.col("rank")).cast("double").alias("rel"),
        F.col("rank").alias("rank_gt"),
    )
    parr = F.array(*[F.col(f"proj_{j:02d}") for j in range(16)])
    proj = jl_project(emb, "embedding", 64, 16, id_cols=["vec_id"]).select(
        "vec_id", parr.alias("embedding")
    )
    pqueries = proj.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sys = brute_force_topk(proj, pqueries, k=10, query_id_col="query_id").select(
        "query_id", "nbr_id", F.col("rank").alias("rank_sys")
    )
    idcg = rel.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("rank_gt") + F.lit(1.0))).alias("idcg")
    )
    j = sys.join(
        rel.select("query_id", "nbr_id", "rel"), ["query_id", "nbr_id"], "left"
    )
    dcg = j.groupBy("query_id").agg(
        F.sum(
            F.coalesce(F.col("rel"), F.lit(0.0))
            / F.log2(F.col("rank_sys") + F.lit(1.0))
        ).alias("dcg"),
        F.max(
            F.when(F.col("rel").isNotNull(), 1.0 / F.col("rank_sys")).otherwise(0.0)
        ).alias("mrr"),
    )
    return dcg.join(F.broadcast(idcg), "query_id").select(
        "query_id",
        r6p(F.col("dcg") / F.col("idcg")).alias("ndcg10"),
        r6p(F.col("mrr")).alias("mrr"),
    )


@q(
    "q_vocab_coverage",
    f"""
    WITH tok AS (SELECT unnest({_TOK_SQL}) AS tok FROM documents),
    cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
    t AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM cnt),
    rk AS (SELECT tok, c,
                  row_number() OVER (ORDER BY c DESC, tok) AS rank,
                  SUM(c) OVER (ORDER BY c DESC, tok
                               ROWS UNBOUNDED PRECEDING) AS cum_mass
           FROM cnt)
    SELECT rank AS k, CAST(cum_mass AS BIGINT) AS cum_mass,
           {R6P_SQL.format("cum_mass / t.total")} AS coverage
    FROM rk CROSS JOIN t
    WHERE rank IN (1, 3, 10, 30, 100, 1000)
    """,
)
def q_vocab_coverage(spark, sf_dir):
    """Token-mass coverage curve for vocabulary sizing: what fraction of
    the corpus token stream the top-k most frequent terms cover, sampled
    at k ∈ {{1, 3, 10, 30, 100, 1000}} (clipped to \\|vocab\\|) — the
    number a tokenizer designer reads before fixing a vocab budget, and
    the Zipf fit's (q_zipf_fit) cumulative companion. Rank AND running
    mass come from ONE windowless rank.global_cumsum pass (cumsum of
    [c, 1] under the same total order — no `row_number() OVER ()` global
    window anywhere); the total rides a 1-row broadcast."""
    from ..operators.dedup import tokens as _tokens
    from ..operators.rank import global_cumsum

    docs = ptable(spark, sf_dir)
    cnt = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .withColumn("one", F.lit(1).cast("bigint"))
    )
    cum = global_cumsum(
        cnt,
        [F.col("c").desc(), F.col("tok")],
        ["c", "one"],
        ["cum_mass", "k"],
    )
    # total mass == the last rank's inclusive cum_mass — aggregate the
    # cumsum output (rides global_cumsum's internal consistency cache)
    # instead of re-scanning + re-shuffling the corpus token counts
    t = cum.agg(F.max("cum_mass").cast("double").alias("total")).withColumn(
        "__k", F.lit(1)
    )
    return (
        cum.filter(F.col("k").isin(1, 3, 10, 30, 100, 1000))
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(t), "__k")
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.col("cum_mass").cast("bigint").alias("cum_mass"),
            r6p(F.col("cum_mass") / F.col("total")).alias("coverage"),
        )
    )


@q(
    "dd_incremental_dedup",
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
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
      WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.corpus_id, count(*) AS n_inter
      FROM cand c JOIN toks ta ON ta.doc_id = c.new_id JOIN toks tb
        ON tb.doc_id = c.corpus_id AND tb.tok = ta.tok
      GROUP BY c.new_id, c.corpus_id
    )
    SELECT c.new_id, c.corpus_id,
           {R6P_SQL.format(
               "(CAST(coalesce(i.n_inter, 0) AS DOUBLE) "
               "/ nullif(CAST(sa.sz + sb.sz - coalesce(i.n_inter, 0) AS DOUBLE), 0.0))"
           )} AS jaccard,
           (CAST(coalesce(i.n_inter, 0) AS DOUBLE)
            / nullif(CAST(sa.sz + sb.sz - coalesce(i.n_inter, 0) AS DOUBLE), 0.0)) >= 0.8
             AS reject
    FROM cand c
    LEFT JOIN inter i ON i.new_id = c.new_id AND i.corpus_id = c.corpus_id
    JOIN sizes sa ON sa.doc_id = c.new_id
    JOIN sizes sb ON sb.doc_id = c.corpus_id
    """,
)
def dd_incremental_dedup(spark, sf_dir):
    """INCREMENTAL near-dedup — the nightly-ingest shape: a new batch
    (doc_id % 10 == 7 stands in for today's crawl) is checked against
    the existing corpus via a cross-side LSH band join
    (operators/dedup.py::lsh_cross_pairs), then exact shingle-Jaccard
    verification rejects true near-dups before admission. Differs from
    dd_dedup_pipeline (whole-corpus self-join): per-ingest cost is
    bounded by the batch — in production the corpus band_table is
    persisted bucketed by (band, bsig) and only batch bands are
    computed per run; candidate volume is band collisions, never
    \\|batch\\|×\\|corpus\\|. Recomputed here so the oracle replays the
    identical state. The corpus is shingled ONCE (one cached shingle
    table feeds both sides' band tables AND the exact-Jaccard verify
    stage via ``token_df`` — not once per consumer)."""
    from ..operators.dedup import (
        doc_shingles,
        jaccard_on_pairs,
        lsh_cross_pairs,
    )

    docs = ptable(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    toks = doc_shingles(docs, 3).cache()  # 3 consumers below
    cand = lsh_cross_pairs(
        batch,
        corpus,
        k=16,
        band_rows=4,
        new_token_df=toks.filter(F.col("doc_id") % 10 == 7),
        corpus_token_df=toks.filter(F.col("doc_id") % 10 != 7),
    )
    pairs = cand.select(
        F.col("new_id").alias("doc1"), F.col("corpus_id").alias("doc2")
    )
    out = jaccard_on_pairs(docs, pairs, use_shingles=True, token_df=toks)
    return out.select(
        F.col("doc1").alias("new_id"),
        F.col("doc2").alias("corpus_id"),
        r6p(F.col("jaccard")).alias("jaccard"),
        (F.col("jaccard") >= 0.8).alias("reject"),
    )




def _mm_dac_oracle_sql() -> str:
    """DuckDB replay of pipeline.velocity.get_dac over TWO interleaved
    synthetic missions derived from events: heading interp (J1 pattern),
    dead-reckoning cumsum with GPS reset, per-dive first/last fixes,
    lead-dive DAC, interp-back + bfill/ffill — every window PARTITIONED BY
    mission, exactly as the engine runs with options['mission_col']."""
    lon2m = "(40075000.0 * cos(radians({lat})) / 360.0)"
    def bf(col):
        return R6P_SQL.format(
            f"coalesce("
            f"first_value({col} IGNORE NULLS) OVER (PARTITION BY mission ORDER BY time_us"
            f" ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), "
            f"last_value({col} IGNORE NULLS) OVER (PARTITION BY mission ORDER BY time_us"
            f" ROWS UNBOUNDED PRECEDING))"
        )
    dac_e_sql, dac_n_sql = bf("dac_e0"), bf("dac_n0")
    return f"""
    WITH base AS MATERIALIZED (
      SELECT CAST(user_id % 2 AS VARCHAR) AS mission, epoch_us(ts) AS time_us,
             event_id, event_type, coalesce(value, 0.0) AS v
      FROM events
    ),
    ded AS MATERIALIZED (
      SELECT mission, time_us, event_id, event_type, v FROM (
        SELECT *, row_number() OVER (PARTITION BY mission, time_us ORDER BY event_id) AS rn1
        FROM base
      ) WHERE rn1 = 1
    ),
    glider AS MATERIALIZED (
      SELECT mission, time_us, v / 100.0 AS speed_horz,
             CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS dead_reck,
             CASE WHEN event_type = 'purchase' THEN 116 ELSE 100 END AS nav_res,
             ntile(6) OVER (PARTITION BY mission ORDER BY time_us) AS dive,
             58.0 + v / 1000.0 AS lat, 11.0 + v / 2000.0 AS lon
      FROM ded
    ),
    ping AS MATERIALIZED (
      SELECT mission, time_us + 500000 AS pt, (v * 7.0) % 360.0 AS heading
      FROM ded WHERE event_id % 3 = 0
    ),
    ps AS (
      SELECT mission, pt, heading, lead(pt) OVER w AS nt, lead(heading) OVER w AS nh
      FROM ping WINDOW w AS (PARTITION BY mission ORDER BY pt)
    ),
    gh AS MATERIALIZED (
      SELECT g.*, CASE WHEN g.time_us = s.pt THEN s.heading
                       WHEN s.nt IS NULL THEN NULL
                       ELSE s.heading + (s.nh - s.heading)
                            * ((g.time_us - s.pt) / (s.nt - s.pt)) END AS ha
      FROM glider g LEFT JOIN ps s
        ON g.mission = s.mission AND g.time_us >= s.pt
           AND (g.time_us < s.nt OR s.nt IS NULL)
    ),
    spd AS MATERIALIZED (
      SELECT mission, time_us, dive, lat, lon,
             time_us / 1000000.0 AS t_sec,
             coalesce(speed_horz * sin(radians(ha)), 0.0) AS speed_e,
             coalesce(speed_horz * cos(radians(ha)), 0.0) AS speed_n,
             (dead_reck < 1 AND nav_res = 116) AS gps
      FROM gh
    ),
    dts AS (
      SELECT *, t_sec - lag(t_sec) OVER w AS dt_s, row_number() OVER w AS rn
      FROM spd WINDOW w AS (PARTITION BY mission ORDER BY time_us)
    ),
    cum AS MATERIALIZED (
      SELECT *,
        sum(coalesce(speed_e * dt_s, 0.0)) OVER w2 AS de0,
        sum(coalesce(speed_n * dt_s, 0.0)) OVER w2 AS dn0
      FROM dts
      WINDOW w2 AS (PARTITION BY mission ORDER BY time_us ROWS UNBOUNDED PRECEDING)
    ),
    rst AS MATERIALIZED (
      SELECT *,
        de0 - last_value(CASE WHEN gps THEN de0 END IGNORE NULLS) OVER w2 AS de,
        dn0 - last_value(CASE WHEN gps THEN dn0 END IGNORE NULLS) OVER w2 AS dn
      FROM cum
      WINDOW w2 AS (PARTITION BY mission ORDER BY time_us ROWS UNBOUNDED PRECEDING)
    ),
    dsp AS (SELECT mission, dive, min(rn) AS first_rn, max(rn) AS last_rn
            FROM rst WHERE gps GROUP BY mission, dive),
    dinfo AS (
      SELECT d.mission, d.dive, d.first_rn,
             lr.lat AS dive_lat, lr.lon AS dive_lon, lr.t_sec AS dive_t,
             fr.lat AS first_lat, fr.lon AS first_lon, fr.t_sec AS first_t
      FROM dsp d
      JOIN rst lr ON lr.mission = d.mission AND lr.rn = d.last_rn
      JOIN rst fr ON fr.mission = d.mission AND fr.rn = d.first_rn
    ),
    led AS (
      SELECT *, lead(first_rn) OVER wd AS next_first_rn,
             lead(first_lat) OVER wd AS surf_lat, lead(first_lon) OVER wd AS surf_lon,
             lead(first_t) OVER wd AS surf_t
      FROM dinfo WINDOW wd AS (PARTITION BY mission ORDER BY dive)
    ),
    dac AS MATERIALIZED (
      SELECT l.mission,
             (l.surf_t + l.dive_t) / 2.0 AS meant,
             ((l.surf_lon - l.dive_lon) * {lon2m.format(lat="l.dive_lat")} - p.de)
               / nullif(l.surf_t - l.dive_t, 0.0) AS dac_e,
             ((l.surf_lat - l.dive_lat) * 111319.444 - p.dn)
               / nullif(l.surf_t - l.dive_t, 0.0) AS dac_n
      FROM led l LEFT JOIN rst p
        ON p.mission = l.mission AND p.rn = l.next_first_rn - 1
      WHERE l.surf_t IS NOT NULL
    ),
    ds AS (
      SELECT mission, CAST(floor(meant * 1000000.0) AS BIGINT) AS dt_us, dac_e, dac_n,
             lead(CAST(floor(meant * 1000000.0) AS BIGINT)) OVER w AS nt,
             lead(dac_e) OVER w AS ne, lead(dac_n) OVER w AS nn
      FROM dac
      WINDOW w AS (PARTITION BY mission ORDER BY CAST(floor(meant * 1000000.0) AS BIGINT))
    ),
    gi AS MATERIALIZED (
      SELECT g.mission, g.time_us, g.speed_e, g.speed_n,
             CASE WHEN g.time_us = s.dt_us THEN s.dac_e WHEN s.nt IS NULL THEN NULL
                  ELSE s.dac_e + (s.ne - s.dac_e)
                       * ((g.time_us - s.dt_us) / (s.nt - s.dt_us)) END AS dac_e0,
             CASE WHEN g.time_us = s.dt_us THEN s.dac_n WHEN s.nt IS NULL THEN NULL
                  ELSE s.dac_n + (s.nn - s.dac_n)
                       * ((g.time_us - s.dt_us) / (s.nt - s.dt_us)) END AS dac_n0
      FROM rst g LEFT JOIN ds s
        ON g.mission = s.mission AND g.time_us >= s.dt_us
           AND (g.time_us < s.nt OR s.nt IS NULL)
    )
    SELECT mission, time_us,
           {R6P_SQL.format("speed_e")} AS speed_e,
           {R6P_SQL.format("speed_n")} AS speed_n,
           {dac_e_sql} AS dac_e,
           {dac_n_sql} AS dac_n
    FROM gi
    """


@q("pipe_multimission_dac", _mm_dac_oracle_sql())
def pipe_multimission_dac(spark, sf_dir):
    """The PARTITIONED-MISSION pipeline path under the exact-hash gate:
    two interleaved synthetic missions (mission = user_id % 2, clocks
    fully overlapping) derived from events feed the REAL
    pipeline.velocity.get_dac with options['mission_col'] — heading
    interp join, dead-reckon cumsum + GPS reset, per-dive fixes, DAC
    interp-back, bfill/ffill — and the oracle replays every step with
    mission-partitioned windows. Complements the pytest isolation suite
    (tests/test_multimission.py) with a driver-recorded row; r6p output
    rounding absorbs cross-engine libm/summation noise."""
    from ..pipeline.velocity import get_dac

    ev = events(spark, sf_dir)
    base = ev.select(
        (F.col("user_id") % 2).cast("string").alias("mission"),
        F.col("ts_us").alias("time_us"),
        "event_id",
        "event_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("v"),
    )
    wdd = Window.partitionBy("mission", "time_us").orderBy("event_id")
    ded = base.withColumn("rn1", F.row_number().over(wdd)).filter(F.col("rn1") == 1)
    wt = Window.partitionBy("mission").orderBy("time_us")
    glider = ded.select(
        "mission",
        "time_us",
        (F.col("v") / 100.0).alias("speed_horz"),
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("DeadReckoning"),
        F.when(F.col("event_type") == "purchase", 116).otherwise(100).alias("NAV_RESOURCE"),
        F.ntile(6).over(wt).alias("diveNum"),
        (F.lit(58.0) + F.col("v") / 1000.0).alias("latitude"),
        (F.lit(11.0) + F.col("v") / 2000.0).alias("longitude"),
    )
    ping = ded.filter(F.col("event_id") % 3 == 0).select(
        "mission",
        (F.col("time_us") + 500000).alias("time_us"),
        ((F.col("v") * 7.0) % 360.0).alias("heading"),
    )
    out = get_dac(ping, glider, {"mission_col": "mission"})
    return out.select(
        "mission",
        "time_us",
        r6p(F.col("speed_e")).alias("speed_e"),
        r6p(F.col("speed_n")).alias("speed_n"),
        r6p(F.col("dac_e")).alias("dac_e"),
        r6p(F.col("dac_n")).alias("dac_n"),
    )


# ---------------------------------------------------------------------------
# Round 6: bucketed scale-mode J1/J2 under the EXACT oracle (VERDICT r5 #7)
# ---------------------------------------------------------------------------


def _exact_bucket_width(samples, probes, on="ts_us", partition_by=("user_id",)):
    """Tightest bucket width that makes ``interp_join(bucket=)`` /
    ``asof_join(bucket=)`` EXACT by construction: the max distance from any
    probe to its bracketing (prev/next) sample, + 1.

    The bucket mode fans samples into their own ± neighbor buckets, so a
    probe in bucket b sees exactly the samples in [(b-1)·B, (b+2)·B); with
    B ≥ that max distance every probe's bracketing pair is visible and the
    bucketed result equals the global-window result row-for-row. At 100 TB
    the caller picks B from domain knowledge (sensor cadence × slack); the
    contract derives the tight bound from data so the query is green at
    every SF by construction. One union + 2 running-frame windows + a
    1-row max — a scalar driver collect within the documented policy.
    """
    pb = list(partition_by)
    s = samples.select(*pb, F.col(on).cast("double").alias("__bt"), F.lit(0).alias("__bs"))
    p = probes.select(*pb, F.col(on).cast("double").alias("__bt"), F.lit(1).alias("__bs"))
    u = s.unionByName(p)
    wp = (
        Window.partitionBy(*pb)
        .orderBy("__bt", "__bs")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # reversed-order running frame, not (0, unboundedFollowing) — see
    # operators/joins.py: following-frames are O(n²) per partition
    wn = (
        Window.partitionBy(*pb)
        .orderBy(F.col("__bt").desc(), F.col("__bs").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    st = F.when(F.col("__bs") == 0, F.col("__bt"))
    u = u.select("*", F.last(st, ignorenulls=True).over(wn).alias("__nx")).select(
        "*", F.last(st, ignorenulls=True).over(wp).alias("__pv")
    )
    row = (
        u.filter(F.col("__bs") == 1)
        .agg(
            F.max(
                F.greatest(
                    F.coalesce(F.col("__bt") - F.col("__pv"), F.lit(0.0)),
                    F.coalesce(F.col("__nx") - F.col("__bt"), F.lit(0.0)),
                )
            ).alias("m")
        )
        .collect()[0]
    )
    return (row["m"] or 0.0) + 1.0


@q("j1_interp_join_bucketed")
def j1_interp_join_bucketed(spark, sf_dir):
    """J1 in ``bucket=`` scale mode — the plan a 100 TB un-keyed series
    actually runs (per-(key, bucket) windows, 3× sample fan-out buys
    unbounded parallelism; operators/joins.py:83-97). Same semantics as
    j1_interp_join (reference interp, process_adcp.py:144-146); the oracle
    IS j1_interp_join's SQL — results identical by construction because
    the bucket width exceeds every probe's bracketing distance."""
    ev = events(spark, sf_dir)
    samples = ev.filter(F.col("event_type") == "view").select("user_id", "ts_us", "value")
    probes = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us")
    bucket = _exact_bucket_width(samples.filter(F.col("value").isNotNull()), probes)
    out = interp_join(
        samples,
        probes,
        on="ts_us",
        values=["value"],
        partition_by=["user_id"],
        bucket=bucket,
        suffix="_i",
    )
    return out.select(
        "event_id", "user_id", F.col("ts_us").alias("t_us"), r6(F.col("value_i")).alias("value_i")
    )


ORACLES["j1_interp_join_bucketed"] = ORACLES["j1_interp_join"]


@q("j2_asof_nearest_bucketed")
def j2_asof_nearest_bucketed(spark, sf_dir):
    """J2 nearest-|Δt| as-of in ``bucket=`` scale mode (reference
    process_adcp.py:1503-1507 argmin loop). Oracle IS j2_asof_nearest's
    SQL — identical by construction, see j1_interp_join_bucketed."""
    ev = events(spark, sf_dir)
    samples = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "value", F.col("ts_us").cast("double").alias("t_s")
    )
    probes = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us")
    bucket = _exact_bucket_width(samples, probes)
    out = asof_join(
        samples,
        probes,
        on="ts_us",
        values=["value", "t_s"],
        partition_by=["user_id"],
        bucket=bucket,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("value").alias("v_near"),
        F.abs(F.col("ts_us").cast("double") - F.col("t_s")).cast("long").alias("dt_us"),
    )


ORACLES["j2_asof_nearest_bucketed"] = ORACLES["j2_asof_nearest"]


@q(
    "mm_image_features",
    """
    WITH p AS (
      SELECT doc_id,
             doc_id % 256 AS a,
             (37 + 11 * doc_id) % 256 AS b
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(16 * (1 + doc_id % 3) AS BIGINT) AS width,
           CAST(8 * (1 + doc_id % 4) AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           (a + b) / 2.0 AS mean_px,
           CAST(least(a, b) AS BIGINT) AS min_px,
           CAST(greatest(a, b) AS BIGINT) AS max_px
    FROM p
    """,
)
def mm_image_features(spark, sf_dir):
    """REAL JPEG encode → huffman+IDCT decode → pixel statistics, under an
    EXACT SQL oracle: per document a genuine baseline JPEG is synthesized
    (two flat grayscale tones, block-aligned halves, unit quantization —
    documents_as_jpeg), decoded by the pure-python baseline decoder
    (operators/jpegcodec.py), and reduced to width/height/channels/mean/
    min/max. Flat 8×8 blocks survive DCT→quantize→IDCT bit-exactly, so
    the decoded statistics are closed-form in doc_id and the oracle
    replays them as integer/double arithmetic — the whole two-codec
    mapInPandas path is driver-checkable, not rows-only. At 100 TB both
    stages are Arrow-batched, partition-preserving, zero-shuffle."""
    from ..operators.multimodal import documents_as_jpeg, image_signal_features

    media = documents_as_jpeg(ptable(spark, sf_dir))
    # native=False: the pure-python chain is the oracle authority — the
    # exact-hash gate must not depend on whether PIL is installed
    return image_signal_features(media, native=False)


@q(
    "txt_script_mix",
    """
    WITH aug AS (
      SELECT doc_id,
             coalesce(text, '') || CASE doc_id % 5
                       WHEN 1 THEN ' привет мир как дела'
                       WHEN 2 THEN ' 你好世界早上好'
                       WHEN 3 THEN ' γειά σου κόσμε'
                       WHEN 4 THEN ' مرحبا بالعالم صباح الخير'
                       ELSE '' END AS t
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '[A-Za-z]')) AS n_latin,
             len(regexp_extract_all(t, '[\\x{0400}-\\x{04FF}]')) AS n_cyrillic,
             len(regexp_extract_all(t, '[\\x{0370}-\\x{03FF}]')) AS n_greek,
             len(regexp_extract_all(t, '[\\x{4E00}-\\x{9FFF}]')) AS n_cjk,
             len(regexp_extract_all(t, '[\\x{0600}-\\x{06FF}]')) AS n_arabic
      FROM aug
    )
    SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
           CASE WHEN greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic) = 0
                  THEN 'other'
                WHEN n_latin = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic)
                  THEN 'latin'
                WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic)
                  THEN 'cyrillic'
                WHEN n_greek = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic)
                  THEN 'greek'
                WHEN n_cjk = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic)
                  THEN 'cjk'
                ELSE 'arabic' END AS dominant_script
    FROM c
    """,
)
def txt_script_mix(spark, sf_dir):
    """Writing-system composition per document (operators/text.py::
    script_profile): per-script character counts over unicode-block
    ranges — the same ``\\x{hhhh}`` class syntax parses in Java regex
    and RE2, so the oracle is exact — plus the dominant script with a
    fixed-order tiebreak. Complements the stopword-vote langid (script
    routing catches ru/el/zh/ar with zero stopword coverage; mixed-script
    docs are a corpus-poisoning signature). The fixture text is ASCII, so
    deterministic non-Latin snippets are appended per doc_id (same
    literals in the oracle) to make the check non-vacuous. Pure codegen
    regexp_count — scan-speed, zero shuffle."""
    from ..operators.text import script_profile

    d = ptable(spark, sf_dir)
    aug = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 5 == 1, F.lit(" привет мир как дела"))
            .when(F.col("doc_id") % 5 == 2, F.lit(" 你好世界早上好"))
            .when(F.col("doc_id") % 5 == 3, F.lit(" γειά σου κόσμε"))
            .when(F.col("doc_id") % 5 == 4, F.lit(" مرحبا بالعالم صباح الخير"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return script_profile(aug)


@q(
    "mm_image_dedup",
    """
    WITH p AS (
      SELECT doc_id,
             doc_id % 256 AS a,
             (37 + 11 * doc_id) % 256 AS b
      FROM documents
    ),
    h AS (
      SELECT doc_id AS media_id,
             CASE WHEN a > b THEN 'f0f0f0f0f0f0f0f0'
                  WHEN b > a THEN '0f0f0f0f0f0f0f0f'
                  ELSE '0000000000000000' END AS ahash
      FROM p
    )
    SELECT media_id, ahash,
           count(*) OVER (PARTITION BY ahash) AS group_size,
           min(media_id) OVER (PARTITION BY ahash) AS canonical_id
    FROM h
    """,
)
def mm_image_dedup(spark, sf_dir):
    """Perceptual image dedup over REAL decoded JPEG pixels: synthesize a
    genuine baseline JPEG per doc (documents_as_jpeg), average-hash the
    decoded raster (ahash_images — nearest 8×8 downsample, mean
    threshold, hex string), and attach each image's duplicate-group size
    and canonical (min-id) representative — hash equality is one
    groupBy-shaped window, no O(n²) pixel comparisons. The two-tone
    fixture makes the hash CLOSED-FORM (left half > mean ⟺ a > b), so
    the decode→hash→group path is driver-checked exactly, not rows-only.
    At 100 TB: hashing is mapInPandas zero-shuffle; the dedup group is
    one hash-keyed exchange — the image twin of dd_exact_dup."""
    from ..operators.multimodal import ahash_images, documents_as_jpeg

    media = documents_as_jpeg(ptable(spark, sf_dir))
    hashed = ahash_images(media, native=False)  # oracle authority: pure python
    w = Window.partitionBy("ahash")
    return hashed.select(
        "media_id",
        "ahash",
        F.count("*").over(w).alias("group_size"),
        F.min("media_id").over(w).alias("canonical_id"),
    )
