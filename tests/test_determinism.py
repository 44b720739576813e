"""Partitioning-independence: a representative slice of the surface
must return IDENTICAL results under different shuffle-partition counts
— the property that makes results stable across cluster sizes,
retries, and AQE re-plans. Catches limit-without-sort instability,
partition-dependent sampling, and non-deterministic tie-breaks."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# diverse plan shapes: top-k, global window, hash sampling, LSH,
# composite pagination, trendline, per-bucket ranking, connected
# components, PQ encode+ADC, compiled pipelines
ENTRIES = [
    "q08_top_n",
    "window_running_sum",
    "mixture_sample",
    "stratified_split",
    "dedup_minhash_lsh",
    "dsl_composite_after",
    "dsl_top_hits_by_type",
    "ppl_trendline_daily",
    "ppl_eventstats_share",
    "dedup_cc_clusters",
    "ann_pq_adc_topk",
    "vocab_coverage",
]


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def _clear_memoization():
    """The session memo holds the dedup pair/cluster frames — clear it
    so the second run genuinely re-executes under the new partition
    count instead of returning the memoized frame."""
    from postgres_opensearch_cdc_spark import registry

    registry._MEMO.clear()


@pytest.mark.parametrize("name", ENTRIES)
def test_result_is_partitioning_independent(spark, sf_dir, name):
    fn = entrymod.queries()[name]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        _clear_memoization()
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _rows(fn(spark, sf_dir))
        _clear_memoization()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _rows(fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert a == b, f"{name} differs across shuffle-partition counts"
