"""Hybrid search: lexical (BM25) + vector (cosine k-NN) retrieval
fused into one ranking — the OpenSearch 2.x hybrid-search surface
(search pipelines with the normalization processor, and rank-based
RRF fusion), built from the repo's existing oracle-checked kernels:
functions/fulltext.query_string_bm25 for the lexical leg and
functions/similarity.brute_force_topk for the vector leg.

Semantics mirror the published processors:
- each leg retrieves its own top-k INDEPENDENTLY (a document outside
  a leg's top-k contributes nothing for that leg — exactly how the
  hybrid query executes per sub-query before fusion);
- ``search_hybrid_rrf``: reciprocal-rank fusion, score =
  Σ_legs 1/(RRF_K + rank) with RRF_K = 60 (the constant from
  Cormack, Clarke & Büttner 2009 that every engine ships);
- ``search_hybrid_minmax``: the normalization-processor form — each
  leg's scores min-max normalized to [0, 1] over ITS OWN retrieved
  list, then a weighted arithmetic mean (0.3 lexical / 0.7 vector,
  the documented starting point for semantic-heavy workloads).

Determinism: both legs emit ROUND(score, 6) values identical across
engines (the BM25 and cosine kernels are already oracle-checked), so
rank assignment — row_number over (score desc, id) — is identical;
the fusion arithmetic is 2-3 float ops on identical doubles. Ranks
are assigned AFTER each leg's top-k limit, so the global windows run
over k rows, never corpus cardinality (the plan invariant).

Scale: each leg is the proven 100 TB shape (BM25 = two Zipf-bounded
count shuffles + a broadcast stats row; vector = scan → project →
TakeOrderedAndProject, per-partition heaps); fusion touches 2·k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from postgres_opensearch_cdc_spark.functions.fulltext import (
    query_string_bm25,
    query_string_bm25_sql,
)
from postgres_opensearch_cdc_spark.functions.similarity import (
    brute_force_topk,
)
from postgres_opensearch_cdc_spark.registry import load_table, memo

HYBRID_QUERY = "window merge stream"   # lexical sub-query
HYBRID_QVEC_ID = 0                     # vector sub-query = this row's
                                       # embedding (single-row lookup)
LEG_K = 100                            # per-leg retrieval depth
RRF_K = 60                             # the standard RRF constant
FUSED_K = 15                           # fused results returned
W_LEX, W_VEC = 0.3, 0.7                # min-max fusion weights


# The two ranked legs are the shared substrate of the WHOLE hybrid
# family (rrf, minmax, eval metrics, RBO — every entry starts from the
# same BM25 pass and the same brute-force vector top-k) — a session
# memo of the pinned legs, so the family runs both corpus passes once.
def _legs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(lexical, vector) ranked legs: (doc_id, r_lex) / (doc_id,
    r_vec), rank assigned over each leg's own top-LEG_K list."""
    return memo(spark, sf_dir, "hybrid_legs", _build_legs)


def _build_legs(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    vecs = load_table(spark, sf_dir, "embeddings")
    lex = query_string_bm25(docs, HYBRID_QUERY, top_k=LEG_K)
    qrow = vecs.filter(F.col("vec_id") == HYBRID_QVEC_ID).select(
        "embedding"
    ).head()
    vec = brute_force_topk(vecs, list(qrow[0]), k=LEG_K)
    lexr = lex.select(
        "doc_id",
        F.col("bm25").alias("s_lex"),
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), "doc_id")
        ).alias("r_lex"),
    )
    vecr = vec.select(
        F.col("vec_id").alias("doc_id"),
        F.col("cos_sim").alias("s_vec"),
        F.row_number().over(
            Window.orderBy(F.col("cos_sim").desc(), "vec_id")
        ).alias("r_vec"),
    )
    return (
        lexr.localCheckpoint(eager=True),
        vecr.localCheckpoint(eager=True),
    )


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the two legs; a doc missing from one
    leg's top-k contributes 0 for that leg (the hybrid-query
    semantics). Output: fused top-FUSED_K with both ranks exposed."""
    return _rrf_from_legs(*_legs(spark, sf_dir))


def _rrf_from_legs(lexr: DataFrame, vecr: DataFrame) -> DataFrame:
    """The fusion over ALREADY-BUILT legs — shared with
    search_eval_metrics, which pins the legs once and feeds all three
    rankings from them (r15: the eval previously re-derived both legs
    through this entry, running BM25 and the brute-force top-k twice
    per invocation)."""
    fused = lexr.join(vecr, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_vec",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")),
                       F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")),
                         F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(
        F.col("rrf_score").desc(), "doc_id"
    ).limit(FUSED_K)


def search_hybrid_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max normalization + weighted arithmetic mean — the
    normalization-processor fusion. Each leg normalizes over its OWN
    retrieved list; a missing leg contributes 0 (the processor's
    treatment of docs absent from a sub-query's results). Degenerate
    legs (max == min) normalize to 1.0."""
    lexr, vecr = _legs(spark, sf_dir)

    def norm(leg: DataFrame, score: str, out: str) -> DataFrame:
        stats = leg.agg(
            F.min(score).alias("_lo"), F.max(score).alias("_hi")
        )
        return leg.crossJoin(F.broadcast(stats)).select(
            "doc_id",
            F.when(F.col("_hi") == F.col("_lo"), F.lit(1.0))
            .otherwise(
                (F.col(score) - F.col("_lo"))
                / (F.col("_hi") - F.col("_lo"))
            ).alias(out),
        )
    nl = norm(lexr, "s_lex", "n_lex")
    nv = norm(vecr, "s_vec", "n_vec")
    fused = nl.join(nv, "doc_id", "full_outer").select(
        "doc_id",
        F.round(F.coalesce("n_lex", F.lit(0.0)), 6).alias("norm_lex"),
        F.round(F.coalesce("n_vec", F.lit(0.0)), 6).alias("norm_vec"),
        F.round(
            F.lit(W_LEX) * F.coalesce("n_lex", F.lit(0.0))
            + F.lit(W_VEC) * F.coalesce("n_vec", F.lit(0.0)),
            6,
        ).alias("hybrid_score"),
    )
    return fused.orderBy(
        F.col("hybrid_score").desc(), "doc_id"
    ).limit(FUSED_K)


EVAL_K = 10   # metric cutoff (@10, the standard reporting depth)


def search_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval evaluation — the metrics every search/RAG
    pipeline reports (precision@k, recall@k, MRR@k, nDCG@k) computed
    for all three rankings (lexical leg, vector leg, RRF fusion)
    against a binary relevance set: a document is relevant iff its
    embedding shares the query vector's cluster label (the corpus'
    own ground-truth proxy, same convention as the ANN recall curves
    in SCALE §18). log2 is written as ln(x)/ln(2) in BOTH engines so
    the discount uses identical doubles; every metric is a ≤k-term
    sum rounded at 6dp. One row per ranking.

    Scale: each ranking is already top-k (bounded); relevance is one
    broadcastable semi-join against the label column; the metric
    reduction is k rows per ranking. The eval harness shape at 100 TB
    is per-query fan-out of exactly this plan over a query set."""
    # legs come pinned from the session memo (each is consumed twice
    # here: its own ranking row + the fusion input)
    lexr, vecr = _legs(spark, sf_dir)
    rrf = _rrf_from_legs(lexr, vecr).select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.col("rrf_score").desc(), "doc_id")
        ).alias("rank"),
    )
    rankings = (
        lexr.select(F.lit("lex").alias("ranking"), "doc_id",
                    F.col("r_lex").alias("rank"))
        .unionByName(vecr.select(F.lit("vec").alias("ranking"), "doc_id",
                                 F.col("r_vec").alias("rank")))
        .unionByName(rrf.select(F.lit("rrf").alias("ranking"), "doc_id",
                                "rank"))
        .filter(F.col("rank") <= EVAL_K)
    )
    vecs = load_table(spark, sf_dir, "embeddings")
    qlabel = vecs.filter(F.col("vec_id") == HYBRID_QVEC_ID).head()["label"]
    rel = vecs.select(
        F.col("vec_id").alias("doc_id"),
        (F.col("label") == F.lit(int(qlabel))).cast("int").alias("rel"),
    )
    n_rel = rel.agg(F.sum("rel").alias("n_rel"))
    ln2 = F.log(F.lit(2.0))
    scored = rankings.join(rel, "doc_id", "left").select(
        "ranking",
        "rank",
        F.coalesce("rel", F.lit(0)).alias("rel"),
    )
    # ideal DCG over min(EVAL_K, n_rel) unit gains — a k-row literal
    # frame joined on nothing (broadcast scalar)
    ideal = (
        spark.range(1, EVAL_K + 1)
        .withColumnRenamed("id", "i")
        .crossJoin(F.broadcast(n_rel))
        .filter(F.col("i") <= F.col("n_rel"))
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.log(F.col("i") + 1.0) / ln2)), 6
            ).alias("idcg")
        )
    )
    per = scored.groupBy("ranking").agg(
        F.round(F.sum("rel") / F.lit(float(EVAL_K)), 6).alias(
            f"precision_at_{EVAL_K}"
        ),
        F.sum("rel").alias("_hits"),
        F.round(
            F.coalesce(
                F.max(
                    F.when(F.col("rel") == 1, F.lit(1.0) / F.col("rank"))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("mrr"),
        F.round(
            F.sum(F.col("rel") / (F.log(F.col("rank") + 1.0) / ln2)), 6
        ).alias("_dcg"),
    )
    return (
        per.crossJoin(F.broadcast(n_rel))
        .crossJoin(F.broadcast(ideal))
        .select(
            "ranking",
            f"precision_at_{EVAL_K}",
            F.round(F.col("_hits") / F.col("n_rel"), 6).alias(
                f"recall_at_{EVAL_K}"
            ),
            "mrr",
            F.round(F.col("_dcg") / F.col("idcg"), 6).alias(
                f"ndcg_at_{EVAL_K}"
            ),
        )
        .orderBy("ranking")
    )


RBO_P = 0.9   # persistence (Webber et al. 2010's reference value)


def _rbo_tail_weights() -> list[tuple[int, float]]:
    """(m, T(m)) for m = 1..LEG_K where T(m) = sum_{d=m..K} p^d / d:
    a document first entering both prefixes at depth m contributes
    T(m) to sum_d p^d * X_d / d (X_d counts docs with
    max(rank_a, rank_b) <= d). Computed ONCE here in python and
    shipped verbatim to BOTH engines (a literal frame in Spark, a
    VALUES list in the oracle), so every weight is the identical
    double."""
    out = []
    for m in range(1, LEG_K + 1):
        out.append((m, sum(RBO_P ** d / d for d in range(m, LEG_K + 1))))
    return out


def search_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    lexical and vector rankings — the top-weighted ranking-agreement
    diagnostic used to audit retrieval changes (unlike Kendall, it
    handles non-conjoint top-k lists and weights the head). Truncated
    form at depth LEG_K:

        RBO@K = (1-p)/p * sum_{d=1..K} p^d * X_d / d

    with X_d the overlap of the two depth-d prefixes. Per-doc
    reformulation: a doc in both lists enters every prefix from
    m = max(r_lex, r_vec), so it contributes the precomputed tail
    weight T(m) (see _rbo_tail_weights). Output also reports the
    plain overlap@10 for context. One row; all weights identical
    doubles in both engines."""
    lexr, vecr = _legs(spark, sf_dir)
    both = lexr.join(vecr, "doc_id").select(
        "doc_id",
        F.greatest("r_lex", "r_vec").alias("m"),
    )
    weights = spark.createDataFrame(
        _rbo_tail_weights(), "m int, t double"
    )
    acc = both.join(F.broadcast(weights), "m").agg(
        F.coalesce(F.sum("t"), F.lit(0.0)).alias("s"),
        F.coalesce(
            F.sum((F.col("m") <= 10).cast("int")), F.lit(0)
        ).alias("overlap_at_10"),
        F.count(F.lit(1)).alias("n_conjoint"),
    )
    return acc.select(
        F.lit(RBO_P).alias("p"),
        F.lit(LEG_K).alias("depth"),
        F.round(
            F.lit((1.0 - RBO_P) / RBO_P) * F.col("s"), 6
        ).alias("rbo_trunc"),
        "overlap_at_10",
        "n_conjoint",
    )


QUERIES = {
    "search_hybrid_rrf": search_hybrid_rrf,
    "search_hybrid_minmax": search_hybrid_minmax,
    "search_eval_metrics": search_eval_metrics,
    "search_rank_rbo": search_rank_rbo,
}


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_LEGS_SQL = f"""
    lex0 AS ({query_string_bm25_sql(HYBRID_QUERY, top_k=LEG_K)}),
    lexr AS (
        SELECT doc_id, bm25 AS s_lex,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
        FROM lex0
    ),
    q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id = {HYBRID_QVEC_ID}
    ),
    vec0 AS (
        SELECT vec_id AS doc_id,
               ROUND(
                   list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 6) AS s_vec
        FROM embeddings, q
        ORDER BY s_vec DESC, doc_id LIMIT {LEG_K}
    ),
    vecr AS (
        SELECT doc_id, s_vec,
               ROW_NUMBER() OVER (ORDER BY s_vec DESC, doc_id) AS r_vec
        FROM vec0
    )
"""

_RRF_SQL = f"""
    WITH {_LEGS_SQL}
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           l.r_lex, v.r_vec,
           ROUND(
               COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
               + COALESCE(1.0 / ({RRF_K} + v.r_vec), 0.0), 6
           ) AS rrf_score
    FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT {FUSED_K}
"""

_MINMAX_SQL = f"""
    WITH {_LEGS_SQL},
    nl AS (
        SELECT doc_id,
               CASE WHEN MAX(s_lex) OVER () = MIN(s_lex) OVER () THEN 1.0
                    ELSE (s_lex - MIN(s_lex) OVER ())
                         / (MAX(s_lex) OVER () - MIN(s_lex) OVER ())
               END AS n_lex
        FROM lexr
    ),
    nv AS (
        SELECT doc_id,
               CASE WHEN MAX(s_vec) OVER () = MIN(s_vec) OVER () THEN 1.0
                    ELSE (s_vec - MIN(s_vec) OVER ())
                         / (MAX(s_vec) OVER () - MIN(s_vec) OVER ())
               END AS n_vec
        FROM vecr
    )
    SELECT COALESCE(nl.doc_id, nv.doc_id) AS doc_id,
           ROUND(COALESCE(nl.n_lex, 0.0), 6) AS norm_lex,
           ROUND(COALESCE(nv.n_vec, 0.0), 6) AS norm_vec,
           ROUND({W_LEX!r} * COALESCE(nl.n_lex, 0.0)
                 + {W_VEC!r} * COALESCE(nv.n_vec, 0.0), 6) AS hybrid_score
    FROM nl FULL OUTER JOIN nv ON nl.doc_id = nv.doc_id
    ORDER BY hybrid_score DESC, doc_id LIMIT {FUSED_K}
"""

_EVAL_SQL = f"""
    WITH {_LEGS_SQL},
    rrf_f AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               ROUND(
                   COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
                   + COALESCE(1.0 / ({RRF_K} + v.r_vec), 0.0), 6
               ) AS rrf_score
        FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
    ),
    rrf_top AS (
        SELECT doc_id, rrf_score FROM rrf_f
        ORDER BY rrf_score DESC, doc_id LIMIT {FUSED_K}
    ),
    rrf_r AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
        FROM rrf_top
    ),
    rankings AS (
        SELECT 'lex' AS ranking, doc_id, r_lex AS rank
        FROM lexr WHERE r_lex <= {EVAL_K}
        UNION ALL
        SELECT 'vec', doc_id, r_vec FROM vecr WHERE r_vec <= {EVAL_K}
        UNION ALL
        SELECT 'rrf', doc_id, rank FROM rrf_r WHERE rank <= {EVAL_K}
    ),
    rel AS (
        SELECT vec_id AS doc_id,
               (label = (SELECT label FROM embeddings
                         WHERE vec_id = {HYBRID_QVEC_ID}))::INT AS rel
        FROM embeddings
    ),
    nrel AS (SELECT CAST(SUM(rel) AS BIGINT) AS n_rel FROM rel),
    scored AS (
        SELECT ranking, rank, COALESCE(r.rel, 0) AS rel
        FROM rankings LEFT JOIN rel r USING (doc_id)
    ),
    ideal AS (
        SELECT ROUND(SUM(1.0 / (ln(i + 1.0) / ln(2.0))), 6) AS idcg
        FROM (SELECT unnest(range(1, {EVAL_K} + 1)) AS i), nrel
        WHERE i <= n_rel
    ),
    per AS (
        SELECT ranking,
               ROUND(SUM(rel) / {float(EVAL_K)}, 6)
                   AS precision_at_{EVAL_K},
               CAST(SUM(rel) AS BIGINT) AS hits,
               ROUND(COALESCE(
                   MAX(CASE WHEN rel = 1 THEN 1.0 / rank END), 0.0), 6)
                   AS mrr,
               ROUND(SUM(rel / (ln(rank + 1.0) / ln(2.0))), 6) AS dcg
        FROM scored GROUP BY ranking
    )
    SELECT ranking, precision_at_{EVAL_K},
           ROUND(hits * 1.0 / n_rel, 6) AS recall_at_{EVAL_K},
           mrr,
           ROUND(dcg / idcg, 6) AS ndcg_at_{EVAL_K}
    FROM per, nrel, ideal ORDER BY ranking
"""

def _rbo_sql() -> str:
    values = ", ".join(
        f"({m}, {t!r})" for m, t in _rbo_tail_weights()
    )
    return f"""
    WITH {_LEGS_SQL},
    weights(m, t) AS (VALUES {values}),
    both_legs AS (
        SELECT l.doc_id, greatest(l.r_lex, v.r_vec) AS m
        FROM lexr l JOIN vecr v ON l.doc_id = v.doc_id
    ),
    acc AS (
        SELECT COALESCE(SUM(w.t), 0.0) AS s,
               CAST(COALESCE(SUM((b.m <= 10)::INT), 0) AS BIGINT)
                   AS overlap_at_10,
               COUNT(*) AS n_conjoint
        FROM both_legs b JOIN weights w USING (m)
    )
    SELECT ({RBO_P!r})::DOUBLE AS p, {LEG_K} AS depth,
           ROUND(({(1.0 - RBO_P) / RBO_P!r})::DOUBLE * s, 6)
               AS rbo_trunc,
           overlap_at_10, n_conjoint
    FROM acc
"""


ORACLE = {
    "search_hybrid_rrf": _RRF_SQL,
    "search_hybrid_minmax": _MINMAX_SQL,
    "search_eval_metrics": _EVAL_SQL,
    "search_rank_rbo": _rbo_sql(),
}
