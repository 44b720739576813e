"""Training-data pipeline batch 12 (round 14): streaming Gram
rollup, mutual-information feature selection, and an LSH recall
audit — three more published corpus-curation stages (absent from the
reference, whose consumer delegates all analytics to OpenSearch —
reference consumer.py:24-89; SURVEY §2.7 extension class alongside
batches 1-11).

- embedding_gram_stream: the STREAMING form of embedding_gram_matrix
  (training_pipeline11): embedding vectors arrive as two
  vec_id-ordered micro-batches through a real checkpointed stream
  into a GramRollupSink (streaming/gram.py) maintaining the d×d
  upper triangle; the entry reads the published store back and the
  oracle is the SAME batch Gram SQL — the stream/batch equivalence
  IS the check, exactly the sketch_*_rollup_stream idiom. The sink
  is ADDITIVE (Gram(A ⊎ B) = Gram(A) + Gram(B)), so its
  (writer_id, batch_id) replay guard is a correctness requirement
  like the count-min store's, not an optimization like the HLL
  store's idempotent max (contract pinned in
  tests/test_gram_stream.py).
- feature_mi_label: mutual information between word presence and a
  document label (lang = 'en') — the standard feature-selection
  ranking used to build fastText-style quality/language classifiers
  over a corpus. All four confusion cells are exact int64 document
  counts derived from two aggregates and the corpus totals; MI is a
  sum of x·ln(x) terms over those cells with the 0·ln(0) = 0
  convention made explicit in both engines.
- dedup_lsh_recall_audit: measures the LSH family against exact
  truth IN-ENGINE: brute-force 3-gram Jaccard pairs (≥ 0.4) LEFT
  JOIN the banded-LSH verified pair set; reports hit/missed counts,
  recall, and the mean Jaccard of the missed pairs (misses cluster
  just above the threshold — the standard b-band/r-row S-curve
  story, stated with measured numbers instead of argued). Verified
  LSH pairs are a SUBSET of truth by construction (same shingles,
  same threshold, exact verify), so precision is 1 and recall is
  the whole quality axis.

Determinism: counts are exact int64; MI/recall are deterministic
expressions over them (single divisions, ln of exact ratios);
streamed Gram differs from the one-shot batch only by float
summation order (~1e-12 relative), far inside the 6-dp rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgres_opensearch_cdc_spark.queries.training_pipeline11 import (
    EMB_DIM,
)
from postgres_opensearch_cdc_spark.registry import (
    load_table, stream_in_halves,
)

_TOKS_SQL = r"regexp_split_to_array(lower(text), '\s+')"

MI_LABEL_LANG = "en"
MI_TOP_K = 50

# ---------------------------------------------------------------------------
# Streaming Gram rollup (stream ≡ batch through a real checkpointed stream)
# ---------------------------------------------------------------------------


def embedding_gram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two vec_id-ordered micro-batches through a real checkpointed
    stream into a GramRollupSink; the published store, rounded,
    must equal the one-shot batch Gram — the oracle (the batch SQL)
    knows nothing about the split. float32 embeddings are cast to
    array<double> BEFORE the stream hop so the staged rows carry the
    exact doubles the batch Gram sums (the hop is parquet, read back
    with the frame's own schema, so the promotion is exact)."""
    from postgres_opensearch_cdc_spark.streaming.gram import GramRollupSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    sink = stream_in_halves(
        emb, "vec_id",
        lambda path: GramRollupSink(path=path, dim=EMB_DIM),
        keyed=True,
    )
    return (
        sink.gram(spark)
        .select("i", "j", F.round("gram_raw", 6).alias("gram"))
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------------------
# Mutual-information feature selection
# ---------------------------------------------------------------------------


def feature_mi_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K words by mutual information (nats) with the lang='en'
    document label. Confusion cells per word w over N documents:
    n11 = docs containing w with the label, n10 = containing w
    without it, n01/n00 the complements from the totals; MI =
    Σ (n_xy/N)·ln(N·n_xy / (n_x·n_y)) with empty cells contributing
    zero.

    Scale shape: one distinct-explode of the corpus, one groupBy on
    the word key (map-side combined), totals as a 1-row broadcast —
    no self-joins, no all-pairs anywhere; the TakeOrdered keeps K
    rows per partition."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            "doc_id",
            (F.col("lang") == MI_LABEL_LANG).cast("long").alias("y"),
            F.explode(
                F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
            ).alias("w"),
        )
        .filter(F.length("w") > 0)
    )
    totals = docs.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum(
            (F.col("lang") == MI_LABEL_LANG).cast("long")
        ).alias("n_label"),
    )
    cells = (
        words.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n1_"),
            F.sum("y").alias("n11"),
        )
        .crossJoin(F.broadcast(totals))
        .withColumn("n10", F.col("n1_") - F.col("n11"))
        .withColumn("n01", F.col("n_label") - F.col("n11"))
        .withColumn(
            "n00",
            F.col("n_corpus") - F.col("n_label") - F.col("n10"),
        )
    )

    def term(n_xy, n_x, n_y):
        # (n_xy/N) * ln(N*n_xy / (n_x*n_y)); 0 when the cell is empty.
        # Counts are cast to double BEFORE multiplying: int64 products
        # wrap silently past 2^63 at corpus scale (the overflow class
        # the r13 zipf fix closed); double products round identically
        # in both engines and are exact below 2^53.
        n = F.col("n_corpus")
        return F.when(
            n_xy > 0,
            (n_xy / n)
            * F.log(
                (n_xy.cast("double") * n.cast("double"))
                / (n_x.cast("double") * n_y.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    n = F.col("n_corpus")
    mi = (
        term(F.col("n11"), F.col("n1_"), F.col("n_label"))
        + term(F.col("n10"), F.col("n1_"), n - F.col("n_label"))
        + term(F.col("n01"), n - F.col("n1_"), F.col("n_label"))
        + term(F.col("n00"), n - F.col("n1_"), n - F.col("n_label"))
    )
    return (
        cells.select(
            "w",
            "n11",
            "n10",
            "n01",
            "n00",
            F.round(mi, 6).alias("mi"),
        )
        .orderBy(F.col("mi").desc(), "w")
        .limit(MI_TOP_K)
    )


# ---------------------------------------------------------------------------
# LSH recall audit
# ---------------------------------------------------------------------------


def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the banded-LSH near-dup pipeline against
    exact truth: n_truth brute-force pairs (Jaccard ≥ 0.4), how many
    the LSH family recovered, recall, and the mean Jaccard of the
    missed pairs. Reuses the memoized verified pair set
    (extensions.dedup_minhash_lsh) and the all-pairs truth
    (extensions.dedup_ngram_jaccard) — the audit itself is one left
    join and one aggregate over pair-count-sized inputs."""
    from postgres_opensearch_cdc_spark.queries.extensions import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        "id_a", "id_b", "jaccard"
    )
    lsh = dedup_minhash_lsh(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("in_lsh")
    )
    joined = truth.join(lsh, ["id_a", "id_b"], "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum(F.coalesce(F.col("in_lsh"), F.lit(0))).alias("n_hit"),
        F.sum(
            F.when(F.col("in_lsh").isNull(), 1).otherwise(0)
        ).alias("n_missed"),
        F.round(
            F.sum(F.coalesce(F.col("in_lsh"), F.lit(0)))
            / F.count(F.lit(1)),
            6,
        ).alias("recall"),
        F.coalesce(
            F.round(
                F.avg(
                    F.when(F.col("in_lsh").isNull(), F.col("jaccard"))
                ),
                6,
            ),
            F.lit(-1.0),
        ).alias("avg_missed_jaccard"),
    )


QUERIES = {
    "embedding_gram_stream": embedding_gram_stream,
    "feature_mi_label": feature_mi_label,
    "dedup_lsh_recall_audit": dedup_lsh_recall_audit,
}


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def _gram_stream_sql() -> str:
    # the stream must reproduce the BATCH Gram — same oracle as
    # embedding_gram_matrix. NOTE: called during ORACLE construction
    # below, so training_pipeline11 is imported at this module's
    # import time anyway (it already is — see the top-level import);
    # the function-local form just keeps the oracle's provenance
    # adjacent to its reuse
    from postgres_opensearch_cdc_spark.queries.training_pipeline11 import (
        ORACLE as _P11_ORACLE,
    )

    return _P11_ORACLE["embedding_gram_matrix"]


_MI_SQL = f"""
    WITH w AS MATERIALIZED (
        SELECT DISTINCT doc_id, y, w FROM (
            SELECT doc_id,
                   CASE WHEN lang = '{MI_LABEL_LANG}' THEN 1 ELSE 0 END AS y,
                   unnest({_TOKS_SQL}) AS w
            FROM documents
        ) WHERE length(w) > 0
    ),
    totals AS (
        SELECT COUNT(*) AS n_corpus,
               CAST(SUM(CASE WHEN lang = '{MI_LABEL_LANG}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_label
        FROM documents
    ),
    cells AS (
        SELECT w,
               COUNT(*) AS n1_,
               CAST(SUM(y) AS BIGINT) AS n11
        FROM w GROUP BY w
    ),
    full_cells AS (
        SELECT c.w, c.n11,
               c.n1_ - c.n11 AS n10,
               t.n_label - c.n11 AS n01,
               t.n_corpus - t.n_label - (c.n1_ - c.n11) AS n00,
               c.n1_, t.n_corpus, t.n_label
        FROM cells c CROSS JOIN totals t
    )
    SELECT w, n11, n10, n01, n00,
           ROUND(
               (CASE WHEN n11 > 0 THEN (n11 * 1.0 / n_corpus)
                    * ln((CAST(n11 AS DOUBLE) * CAST(n_corpus AS DOUBLE))
                         / (CAST(n1_ AS DOUBLE) * CAST(n_label AS DOUBLE)))
                ELSE 0 END)
             + (CASE WHEN n10 > 0 THEN (n10 * 1.0 / n_corpus)
                    * ln((CAST(n10 AS DOUBLE) * CAST(n_corpus AS DOUBLE))
                         / (CAST(n1_ AS DOUBLE)
                            * CAST(n_corpus - n_label AS DOUBLE)))
                ELSE 0 END)
             + (CASE WHEN n01 > 0 THEN (n01 * 1.0 / n_corpus)
                    * ln((CAST(n01 AS DOUBLE) * CAST(n_corpus AS DOUBLE))
                         / (CAST(n_corpus - n1_ AS DOUBLE)
                            * CAST(n_label AS DOUBLE)))
                ELSE 0 END)
             + (CASE WHEN n00 > 0 THEN (n00 * 1.0 / n_corpus)
                    * ln((CAST(n00 AS DOUBLE) * CAST(n_corpus AS DOUBLE))
                         / (CAST(n_corpus - n1_ AS DOUBLE)
                            * CAST(n_corpus - n_label AS DOUBLE)))
                ELSE 0 END),
           6) AS mi
    FROM full_cells
    ORDER BY mi DESC, w
    LIMIT {MI_TOP_K}
"""


def _recall_audit_sql() -> str:
    # truth reuses the brute-force `inter`/`sizes` CTEs that the
    # minhash oracle already defines; lsh pairs are `minhash_pairs`
    from postgres_opensearch_cdc_spark.queries.extensions import (
        MINHASH_PAIRS_CTES,
    )

    return f"""
        WITH {MINHASH_PAIRS_CTES},
        truth AS (
            SELECT i.id_a, i.id_b,
                   ROUND(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6)
                       AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.id = i.id_a
            JOIN sizes sb ON sb.id = i.id_b
            WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.4
        ),
        joined AS (
            SELECT t.jaccard,
                   CASE WHEN m.id_a IS NULL THEN 0 ELSE 1 END AS in_lsh
            FROM truth t
            LEFT JOIN minhash_pairs m
              ON m.id_a = t.id_a AND m.id_b = t.id_b
        )
        SELECT COUNT(*) AS n_truth,
               CAST(SUM(in_lsh) AS BIGINT) AS n_hit,
               CAST(SUM(1 - in_lsh) AS BIGINT) AS n_missed,
               ROUND(SUM(in_lsh) * 1.0 / COUNT(*), 6) AS recall,
               COALESCE(
                   ROUND(AVG(CASE WHEN in_lsh = 0 THEN jaccard END), 6),
                   -1.0) AS avg_missed_jaccard
        FROM joined
    """


ORACLE = {
    "embedding_gram_stream": _gram_stream_sql(),
    "feature_mi_label": _MI_SQL,
    "dedup_lsh_recall_audit": _recall_audit_sql(),
}
