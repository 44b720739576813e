"""Driver contract for the spark-graft builder (PySpark target).

Aggregates the engine's query surface from
postgres_opensearch_cdc_spark.queries.* — each module keeps its Spark
builders and DuckDB oracle SQL adjacent so they stay in lockstep.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from postgres_opensearch_cdc_spark.queries import (
    cdc_queries,
    dashboard,
    dsl_queries,
    extensions,
    graph_dedup,
    hybrid,
    patterns,
    ppl_queries,
    querydsl,
    querydsl3,
    querydsl4,
    querydsl_aggs,
    querydsl_aggs2,
    querystring_queries,
    relational,
    relational2,
    relational3,
    relational4,
    scalar_sql,
    sequences,
    timeseries,
    timeseries2,
    training_pipeline,
    training_pipeline2,
    training_pipeline3,
    training_pipeline4,
    training_pipeline5,
    training_pipeline6,
    training_pipeline7,
    training_pipeline8,
    training_pipeline9,
    training_pipeline10,
    training_pipeline11,
    training_pipeline12,
    windows_pivot,
)

_MODULES = [
    windows_pivot,
    patterns,
    ppl_queries,
    dsl_queries,
    querystring_queries,
    extensions,
    querydsl,
    querydsl3,
    querydsl4,
    training_pipeline,
    training_pipeline2,
    training_pipeline3,
    training_pipeline4,
    training_pipeline5,
    training_pipeline6,
    training_pipeline7,
    training_pipeline8,
    training_pipeline9,
    training_pipeline10,
    training_pipeline11,
    training_pipeline12,
    hybrid,
    timeseries,
    timeseries2,
    querydsl_aggs,
    querydsl_aggs2,
    sequences,
    graph_dedup,
    relational2,
    relational3,
    relational4,
    dashboard,
    cdc_queries,
    relational,
    scalar_sql,
]

# The driver's correctness harness samples the FIRST 50 entries of
# queries().  The window is DERIVED, not hand-counted (a hand-pasted
# queue dropped its oldest block twice, and a pasted copy of the
# staleness tool's output went stale whenever a new CORRECTNESS_r*.json
# landed): the hand-staged block below holds this round's new/changed
# entries, and the rest of the window is computed at import time by
# tools/staleness.py, which unions every CORRECTNESS_r*.json and stages
# entries by their LATEST fully-green CORRECTNESS round, oldest first,
# ties in queries() order.  tests/test_staleness_window.py checks the result.
_PRIORITY = [
    # the mirror sink under every engine_* entry was rewritten since the
    # last CORRECTNESS round (manifest-built reads, one keyed mirror,
    # derived bucket count, one pass per commit, one-pass monitor
    # writes) — re-certify through the oracle gate, riskiest first
    "engine_bulk_mirror",           # REST writes beside the stream
    "engine_update_delete_search",  # *_by_query writes, empty skips
    "engine_snapshot_restore",      # carried high-water mark
    "engine_search_mirror",         # observed high-water mark
    "engine_reindex_script",        # reindex into a fresh mirror
    "engine_monitor_stream_alerts", # one-pass monitor writes
    "engine_knn_index_search",      # seq-delta over the new mirror
    "engine_rollup_metrics",        # staged-envelope memo + rollups
    "engine_rollup_search",
    "engine_rollup_two_dim",
    "engine_rollup_stream",
    "engine_rollup_date_histogram",
    # one consumer each of the riskiest memos now routed through
    # registry.memo (the rollups above read the envelope stage; the
    # other memos' consumers fall to the staleness tail)
    "dedup_cc_clusters",            # nested build: clusters → pairs
    "dedup_containment_join",       # parameterized prefix substrate
    "kmeans_clusters",              # k-means centroid memo
]
# how many leading window rows are hand-staged; the staleness tool
# fills the rest of the 50
_HAND_STAGED = len(_PRIORITY)
_WINDOW = 50


def _merged(mapping_attr: str) -> dict:
    merged: dict = {}
    for m in _MODULES:
        merged.update(getattr(m, mapping_attr))
    return merged


def _staleness_tail() -> list[str]:
    """The window rows after the hand-staged block: the staleness
    tool's staging order with the hand-staged names removed. Ties are
    broken by the order with only the hand block placed first, which
    is also the order the tail produces, so the result is stable."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "_staleness",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "tools", "staleness.py"),
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    hand = set(_PRIORITY)
    order = _PRIORITY + [n for n in _merged("QUERIES") if n not in hand]
    staged = [n for n, _ in tool.staging_order(order) if n not in hand]
    return staged[: _WINDOW - _HAND_STAGED]


_PRIORITY += _staleness_tail()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full CDC apply path
    (changelog → last-write-wins compaction → delete suppression), the
    engine's core capability (SURVEY §7.1)."""
    return cdc_queries.cdc_mirror_compact(spark, "/root/testdata/sf0.001")


def _ordered(mapping_attr: str) -> dict:
    merged = _merged(mapping_attr)
    out = {k: merged[k] for k in _PRIORITY if k in merged}
    out.update({k: v for k, v in merged.items() if k not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered("QUERIES")


def oracle_sql() -> dict[str, str]:
    return _ordered("ORACLE")
