"""Cluster-level deduplication: near-dup pairs → connected components →
canonical-survivor selection.

Completes the dedup pipeline (extensions.py stops at pairs): pairwise
similarity is not an equivalence relation, so production dedup takes the
transitive closure of the pair graph and keeps one canonical document
per cluster (lowest doc_id — the deterministic choice MinHash dedup
pipelines use). The DuckDB oracle replays the same clustering as a
recursive transitive-closure CTE and must agree exactly.

Scale shape: pairs come from the LSH-PRUNED MinHash path (the same
pipeline dedup_minhash_lsh value-checks — shuffle-free array
signatures, band-bucket candidate join, exact verification of
candidates only; never an all-pairs step over the corpus); components
run min-label propagation (functions/graph.py) whose per-round cost is
one equi-join on node id. Cluster sizes are small by construction
(near-dup groups), so the closure never explodes. The oracle replays
the identical minhash banding (extensions.MINHASH_PAIRS_CTES) before
its recursive closure, so the clustered pair set matches
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgres_opensearch_cdc_spark.functions.graph import (
    connected_components,
    connected_components_two_phase,
)
from postgres_opensearch_cdc_spark.queries.extensions import (
    MINHASH_PAIRS_CTES,
    dedup_minhash_lsh,
)
from postgres_opensearch_cdc_spark.registry import load_table, memo


def _label_clusters(spark: SparkSession, sf_dir: str,
                    comp_fn=connected_components) -> DataFrame:
    """(doc_id, source, n_chars, cluster_id) labeling over the
    LSH-pruned MinHash pair graph; singletons label themselves. The
    ONE definition of the labeling contract, parameterized by the
    connected-components variant so the min-label entries and the
    two-phase entry cannot drift."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = comp_fn(pairs)
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id"),
        )
    )


# The cluster labeling is a deterministic intermediate both entries (and
# any downstream dedup consumer) share — a session memo of the
# localCheckpointed result, the moral equivalent of a materialized view
# over the pair graph: the second consumer pays a metadata lookup, not
# a recomputation of the shingle self-join.
def _doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document; singletons label
    themselves. Pairs = LSH-pruned MinHash candidates exact-verified at
    Jaccard >= 0.4 (the same pair set dedup_minhash_lsh
    value-checks)."""
    return memo(
        spark, sf_dir, "doc_clusters",
        lambda s, d: _label_clusters(s, d).localCheckpoint(eager=True),
    )


def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document with its duplicate-cluster id (min doc_id of the
    transitive closure over near-dup pairs)."""
    return _doc_clusters(spark, sf_dir).select("doc_id", "cluster_id").orderBy("doc_id")


def dedup_cc_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME cluster labeling as dedup_cc_clusters, computed by the
    alternating large-star/small-star algorithm
    (functions/graph.connected_components_two_phase, Kiveris et al.
    SoCC'14) instead of min-label propagation — the O(log² n)-round
    escape hatch for long-diameter pair graphs (a min-label loop
    needs O(diameter) rounds, fine for near-dup clique unions, fatal
    for chain-heavy graphs at 100 TB). Answers the identical
    transitive-closure oracle, so the variant's equivalence is
    value-checked on the real pair graph, not just unit fixtures."""
    return (
        _label_clusters(spark, sf_dir, connected_components_two_phase)
        .select("doc_id", "cluster_id")
        .orderBy("doc_id")
    )


def dedup_cc_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup yield: total docs, surviving canonicals
    (doc_id == cluster_id), and surviving characters — the numbers a
    training-data pipeline reports after cluster-level dedup."""
    cl = _doc_clusters(spark, sf_dir)
    kept = (F.col("doc_id") == F.col("cluster_id")).cast("long")
    return (
        cl.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).alias("n_kept"),
            F.sum(F.col("n_chars") * kept).alias("chars_kept"),
        )
        .orderBy("source")
    )


def dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: per near-dup cluster keep the
    HIGHEST-quality document (tie → lower doc_id) instead of the
    min-id canonical — what production dedup actually ships when docs
    in a cluster differ (the boilerplate-stripped variant usually
    scores higher than the raw crawl copy). Reuses the memoized
    cluster labeling; the quality heuristic is the same portable
    score text_stats value-checks, so the whole selection replays in
    DuckDB.

    Scale shape: clusters come from the LSH-pruned pair graph (no new
    wide op); the selection is one row_number window over cluster_id —
    clusters are small by construction, no skew."""
    from postgres_opensearch_cdc_spark.functions.text import quality_score
    from pyspark.sql import Window

    cl = _doc_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )
    joined = cl.select("doc_id", "cluster_id").join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster_id", "doc_id", "quality")
        .orderBy("cluster_id")
    )


QUERIES = {
    "dedup_cc_clusters": dedup_cc_clusters,
    "dedup_cc_twophase": dedup_cc_twophase,
    "dedup_cc_survivors": dedup_cc_survivors,
    "dedup_quality_survivors": dedup_quality_survivors,
}

# Recursive transitive closure over the identical pair definition used
# by the dedup_minhash_lsh oracle (extensions.MINHASH_PAIRS_CTES):
# minhash banding → candidate join → exact Jaccard >= 0.4. reach()
# enumerates every (node, reachable-label); MIN(lbl) per node is the
# component id. Closure size is bounded by sum(|cluster|^2) — small
# clusters, small closure.
_CLUSTERS_CTE = f"""
        WITH RECURSIVE {MINHASH_PAIRS_CTES},
        edges AS (
            SELECT id_a AS s, id_b AS d FROM minhash_pairs
            UNION
            SELECT id_b, id_a FROM minhash_pairs
        ),
        reach(node, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
        ),
        clusters AS (
            SELECT node AS doc_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY node
        )
"""

# the same portable quality heuristic text_stats value-checks
_TOKS_SQL = "regexp_split_to_array(lower(text), '\\s+')"
_QUALITY_SQL = (
    f"ROUND(0.5 * (len(list_distinct({_TOKS_SQL})) * 1.0 / len({_TOKS_SQL}))"
    f" + 0.5 * least(len({_TOKS_SQL}) / 100.0, 1.0), 4)"
)

ORACLE = {
    "dedup_quality_survivors": _CLUSTERS_CTE
    + f""",
        q AS (
            SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
        )
        SELECT cluster_id, doc_id, quality FROM (
            SELECT c.cluster_id, c.doc_id, q.quality,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY q.quality DESC, c.doc_id) AS rn
            FROM clusters c JOIN q USING (doc_id)
        ) WHERE rn = 1 ORDER BY cluster_id
    """,
    "dedup_cc_clusters": _CLUSTERS_CTE
    + """
        SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id
    """,
    # the two-phase variant answers the IDENTICAL closure — same CTE
    "dedup_cc_twophase": _CLUSTERS_CTE
    + """
        SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id
    """,
    "dedup_cc_survivors": _CLUSTERS_CTE
    + """
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN c.cluster_id = d.doc_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN c.cluster_id = d.doc_id THEN d.n_chars
                             ELSE 0 END) AS BIGINT) AS chars_kept
        FROM documents d JOIN clusters c USING (doc_id)
        GROUP BY 1 ORDER BY 1
    """,
}
