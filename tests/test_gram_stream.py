"""GramRollupSink contract tests (round 14): stream ≡ batch through
a real checkpointed stream, the MANDATORY additive replay guard
(mirroring the count-min contract, contrasting the HLL store's
idempotent max), crash healing, and dimension validation on both
read and write."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

DIM = 8


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def _data(n=40, dim=DIM, seed=7):
    rng = np.random.default_rng(seed)
    return [(i, rng.normal(size=dim)) for i in range(n)]


def _gram(spark, sink):
    return sorted(
        (r["i"], r["j"], r["gram_raw"])
        for r in sink.gram(spark).collect()
    )


def test_stream_equals_batch_through_real_checkpointed_stream(spark):
    from postgres_opensearch_cdc_spark.streaming.gram import GramRollupSink

    data = _data()
    workdir = tempfile.mkdtemp(prefix="gram_sink_t1_")
    src, ckpt = f"{workdir}/in", f"{workdir}/ckpt"
    sink = GramRollupSink(path=f"{workdir}/st", dim=DIM)

    def run_once():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).json(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda b, bid: sink.apply_batch(b, bid, writer_id=ckpt)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    _vecs(spark, data[:25]).coalesce(2).write.mode("append").json(src)
    run_once()
    _vecs(spark, data[25:]).coalesce(2).write.mode("append").json(src)
    run_once()

    x = np.stack([v for _, v in data])
    ref = x.T @ x
    got = _gram(spark, sink)
    assert len(got) == DIM * (DIM + 1) // 2
    for i, j, g in got:
        assert abs(g - ref[i, j]) < 1e-9


def test_additive_replay_guard_is_mandatory(spark):
    """Same writer+batch: skipped whole. DIFFERENT writer: the merge
    RE-APPLIES and the Gram doubles — the additive contract that
    makes the guard a correctness requirement (the HLL register
    store's max-merge is a no-op either way; the contrast is pinned
    in tests/test_hll_stream.py)."""
    from postgres_opensearch_cdc_spark.streaming.gram import GramRollupSink

    workdir = tempfile.mkdtemp(prefix="gram_sink_t2_")
    sink = GramRollupSink(path=f"{workdir}/st", dim=DIM)
    b = _vecs(spark, _data())
    sink.apply_batch(b, 0, writer_id="w1")
    before = _gram(spark, sink)

    sink.apply_batch(b, 0, writer_id="w1")  # guard path
    assert _gram(spark, sink) == before

    sink.apply_batch(b, 0, writer_id="w2")  # additive: DOUBLES
    after = dict(((i, j), g) for i, j, g in _gram(spark, sink))
    for i, j, g in before:
        assert abs(after[(i, j)] - 2 * g) < 1e-9


def test_crash_between_data_and_manifest_heals_on_replay(spark):
    """Deleting the newest manifest simulates a crash before the
    atomic publish: the previous version stays live, and replaying
    the lost batch republishes an equal merge."""
    from postgres_opensearch_cdc_spark.streaming.gram import GramRollupSink

    workdir = tempfile.mkdtemp(prefix="gram_sink_t3_")
    sink = GramRollupSink(path=f"{workdir}/st", dim=DIM)
    data = _data()
    sink.apply_batch(_vecs(spark, data[:20]), 0, writer_id="w1")
    sink.apply_batch(_vecs(spark, data[20:]), 1, writer_id="w1")
    final = _gram(spark, sink)

    # crash: lose the batch-1 publish
    names = sorted(os.listdir(sink.log.commits_dir))
    os.remove(os.path.join(sink.log.commits_dir, names[-1]))
    partial = _gram(spark, sink)
    assert partial != final  # previous version is live

    sink.apply_batch(_vecs(spark, data[20:]), 1, writer_id="w1")
    healed = dict(((i, j), g) for i, j, g in _gram(spark, sink))
    for i, j, g in final:
        assert abs(healed[(i, j)] - g) < 1e-9


def test_dim_mismatch_raises_on_read_and_write(spark):
    from postgres_opensearch_cdc_spark.streaming.gram import GramRollupSink

    workdir = tempfile.mkdtemp(prefix="gram_sink_t4_")
    sink = GramRollupSink(path=f"{workdir}/st", dim=DIM)
    sink.apply_batch(_vecs(spark, _data()), 0, writer_id="w1")

    bad = GramRollupSink(path=f"{workdir}/st", dim=DIM * 2)
    with pytest.raises(ValueError, match="dim"):
        bad.gram(spark)
    with pytest.raises(ValueError, match="dim"):
        bad.apply_batch(
            _vecs(spark, _data(dim=DIM * 2)), 1, writer_id="w1"
        )


def test_store_size_is_history_independent(spark):
    """The published table is exactly d(d+1)/2 rows no matter how
    many batches or vectors flowed through — the mergeable-summary
    scale contract."""
    from postgres_opensearch_cdc_spark.streaming.gram import GramRollupSink

    workdir = tempfile.mkdtemp(prefix="gram_sink_t5_")
    sink = GramRollupSink(path=f"{workdir}/st", dim=DIM)
    for bid in range(4):
        sink.apply_batch(
            _vecs(spark, _data(seed=bid)), bid, writer_id="w1"
        )
    assert sink.gram(spark).count() == DIM * (DIM + 1) // 2
