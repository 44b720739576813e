"""The session memo (registry.memo): one build per session and data
version, hits return the held object, a rewritten table is rebuilt
rather than served stale, and nested builds are accounted once."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from postgres_opensearch_cdc_spark import registry


def test_rewritten_table_rebuilds_the_memo(spark, sf_dir, tmp_path):
    from postgres_opensearch_cdc_spark.queries.extensions import (
        dedup_ngram_jaccard,
    )

    d = str(tmp_path / "sf")
    os.makedirs(d)
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), os.path.join(d, f))
    first = dedup_ngram_jaccard(spark, d)
    assert dedup_ngram_jaccard(spark, d) is first
    n_before = first.count()

    # rewrite documents as five copies of one text: exactly C(5, 2)
    # pairs, all at Jaccard 1.0
    path = os.path.join(d, "documents.parquet")
    docs = pq.read_table(path).slice(0, 5)
    text = docs.column("text")[0].as_py()
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text",
        pa.array([text] * 5, type=docs.schema.field("text").type),
    )
    os.remove(path)
    pq.write_table(docs, path)

    second = dedup_ngram_jaccard(spark, d)
    assert second is not first
    assert second.count() == 10 != n_before
    assert {r["jaccard"] for r in second.collect()} == {1.0}


def test_nested_builds_are_counted_once(spark, tmp_path):
    d = str(tmp_path)

    def inner(s, _d):
        time.sleep(0.5)
        return "inner"

    def outer(s, _d):
        time.sleep(0.1)
        return registry.memo(s, _d, "test_inner", inner) + "+outer"

    built = registry.MEMO_BUILD_SEC.copy()
    reads = registry.MEMO_READS.copy()
    assert registry.memo(spark, d, "test_outer", outer) == "inner+outer"
    assert registry.memo(spark, d, "test_outer", outer) == "inner+outer"
    inner_sec = registry.MEMO_BUILD_SEC["test_inner"] - built["test_inner"]
    outer_sec = registry.MEMO_BUILD_SEC["test_outer"] - built["test_outer"]
    assert inner_sec >= 0.5
    # the outer build's own seconds exclude the inner build it waited on
    assert 0.1 <= outer_sec < 0.5
    assert registry.MEMO_READS["test_outer"] - reads["test_outer"] == 2
    assert registry.MEMO_READS["test_inner"] - reads["test_inner"] == 1
