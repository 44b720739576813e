"""SemanticDedupSink: replay/crash/layout contracts and stream-vs-
single-pass equivalence on controlled vectors. The oracle entry
(dedup_semantic_stream) value-checks the full composition on the real
tables; these tests pin the adversarial corners a smooth corpus never
exercises — a within-batch near-dup pair replayed after a simulated
pre-commit crash (the SpanTrimSink round-12 lesson), layout drift on
reopen, and bucket-pruned store reads."""

from __future__ import annotations

import json
import os

import pytest

from postgres_opensearch_cdc_spark.streaming.semantic import SemanticDedupSink

# two well-separated centroids; vectors are near one or the other
CENTS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _pairs(sink, spark):
    return {
        (r.vec_id, r.cluster, r.kept)
        for r in sink.verdicts(spark).collect()
    }


class TestSemanticSink:
    def test_first_seen_survivor_across_batches(self, spark, tmp_path):
        sink = SemanticDedupSink(path=str(tmp_path / "s"), centroids=CENTS)
        b1 = _mk(spark, [(1, [1.0, 0.05, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])])
        sink.apply_batch(b1, 0)
        # 3 is a near-dup of 1 (same direction), 4 is orthogonal-ish
        b2 = _mk(spark, [(3, [0.99, 0.05, 0.0, 0.0]), (4, [0.1, 0.0, 1.0, 0.0])])
        sink.apply_batch(b2, 1)
        got = {r.vec_id: r.kept for r in sink.verdicts(spark).collect()}
        assert got[1] and got[2]
        assert not got[3]  # suppressed by batch-1 survivor 1
        assert got[4]

    def test_replayed_batch_id_is_skipped_whole(self, spark, tmp_path):
        sink = SemanticDedupSink(path=str(tmp_path / "s"), centroids=CENTS)
        b1 = _mk(spark, [(1, [1.0, 0.0, 0.0, 0.0])])
        sink.apply_batch(b1, 0)
        before = _pairs(sink, spark)
        sink.apply_batch(b1, 0)  # foreachBatch redelivery
        assert _pairs(sink, spark) == before
        # raw file rows also unchanged (skipped whole, not re-appended)
        raw = spark.read.parquet(os.path.join(sink.path, "verdicts"))
        assert raw.count() == len(before)

    def test_crash_replay_with_within_batch_neardup(self, spark, tmp_path):
        """A batch containing its own near-dup pair (10 kept, 11
        dropped), crashed AFTER the rep/verdict appends but BEFORE the
        meta commit: the replay must re-derive byte-identical verdicts
        — vector 10 must not be suppressed by its own crashed
        registration, and 11's verdict must not flip."""
        sink = SemanticDedupSink(path=str(tmp_path / "s"), centroids=CENTS)
        b0 = _mk(spark, [(1, [0.0, 1.0, 0.0, 0.0])])
        sink.apply_batch(b0, 0)
        batch = _mk(
            spark,
            [
                (10, [1.0, 0.01, 0.0, 0.0]),
                (11, [0.999, 0.012, 0.0, 0.0]),  # near-dup of 10
            ],
        )
        sink.apply_batch(batch, 1)
        committed = _pairs(sink, spark)
        # simulate the crash: appends landed, meta did not
        with open(os.path.join(sink.path, "_meta.json")) as fh:
            meta = json.load(fh)
        meta["batch_id"] = 0
        with open(os.path.join(sink.path, "_meta.json"), "w") as fh:
            json.dump(meta, fh)
        sink.apply_batch(batch, 1)  # replay
        assert _pairs(sink, spark) == committed
        got = {r.vec_id: r.kept for r in sink.verdicts(spark).collect()}
        assert got[10] and not got[11]

    def test_layout_params_enforced_on_reopen(self, spark, tmp_path):
        sink = SemanticDedupSink(path=str(tmp_path / "s"), centroids=CENTS)
        sink.apply_batch(_mk(spark, [(1, [1.0, 0.0, 0.0, 0.0])]), 0)
        for bad in (
            SemanticDedupSink(path=sink.path, centroids=CENTS, eps=0.9),
            SemanticDedupSink(path=sink.path, centroids=CENTS, num_buckets=4),
            SemanticDedupSink(
                path=sink.path,
                centroids=[[0.5, 0.5, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]],
            ),
        ):
            with pytest.raises(ValueError, match="store at"):
                bad.apply_batch(
                    _mk(spark, [(2, [1.0, 0.0, 0.0, 0.0])]), 1
                )

    def test_store_slice_reads_only_requested_buckets(self, spark, tmp_path):
        sink = SemanticDedupSink(
            path=str(tmp_path / "s"), centroids=CENTS, num_buckets=2
        )
        sink.apply_batch(
            _mk(
                spark,
                [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
            ),
            0,
        )
        from pyspark.sql import types as T

        sl = sink._store_for(spark, T.LongType(), [0])
        files = sl.inputFiles()
        assert files and all("bucket=0" in f for f in files)

    def test_two_batches_equal_single_greedy_pass(self, spark, tmp_path):
        """Feeding id-ordered batches reproduces one global greedy pass
        in (batch, dsq, vec_id) order — the contract the oracle entry
        checks on the real corpus, here on vectors engineered so the
        chain matters: B suppressed by A, C similar to B but NOT to A
        must be KEPT (greedy-survivor semantics: suppressed vectors
        register nothing)."""
        a = [1.0, 0.00, 0.0, 0.0]
        b = [0.98, 0.199, 0.0, 0.0]   # sim(a,b) ~ 0.98 -> suppressed
        c = [0.80, 0.599, 0.0, 0.0]   # sim(b,c) ~ 0.90, sim(a,c) ~ 0.80
        sink = SemanticDedupSink(
            path=str(tmp_path / "s"), centroids=CENTS, eps=0.9
        )
        sink.apply_batch(_mk(spark, [(1, a), (2, b)]), 0)
        sink.apply_batch(_mk(spark, [(3, c)]), 1)
        got = {r.vec_id: r.kept for r in sink.verdicts(spark).collect()}
        assert got == {1: True, 2: False, 3: True}
