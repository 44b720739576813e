"""HllRollupSink contract tests: stream ≡ batch registers through a
REAL checkpointed stream, idempotent replay under BOTH the same and a
DIFFERENT writer_id (the property additive stores can't offer — max
merge needs no dedup guard for correctness), crash healing across a
missing manifest, and the precision-mismatch guard."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from postgres_opensearch_cdc_spark.functions.sketch import (
    HLL_M,
    hll_registers,
)
from postgres_opensearch_cdc_spark.streaming.sketch import HllRollupSink


def _rows(spark, sink):
    return sorted(
        (r["g"], r["bucket"], r["register"])
        for r in sink.registers(spark).collect()
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "event_type string, user_id long")


DATA = [(f"t{i % 3}", i * 7 + 1) for i in range(120)]


def _want(spark):
    df = _batch(spark, DATA).select(
        F.col("event_type").cast("string").alias("g"),
        F.col("user_id").cast("string").alias("v"),
    )
    return sorted(
        (r["g"], r["bucket"], r["register"])
        for r in hll_registers(df, group_col="g", value_col="v")
        .collect()
    )


def test_stream_equals_batch_through_real_checkpointed_stream(spark):
    """Two availableNow micro-batches through a real file-source
    stream land the same register table as one batch pass."""
    workdir = tempfile.mkdtemp(prefix="hll_sink_t1_")
    src, ckpt = f"{workdir}/in", f"{workdir}/ckpt"
    sink = HllRollupSink(
        path=f"{workdir}/st", group_col="event_type", value_col="user_id"
    )

    def run_once():
        stream = spark.readStream.schema(
            "event_type string, user_id long"
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

    _batch(spark, DATA[:60]).coalesce(2).write.mode("append").json(src)
    run_once()
    _batch(spark, DATA[60:]).coalesce(2).write.mode("append").json(src)
    run_once()
    assert _rows(spark, sink) == _want(spark)
    # two stream launches => at least two commits published
    assert sink.log.load()["version"] >= 2


def test_replay_is_noop_same_and_different_writer(spark):
    """The distinctive max-merge property: re-applying an already-
    applied batch changes NOTHING — with the manifest guard firing
    (same writer+batch) and, stronger, with a different writer_id
    where the guard does NOT fire and the merge itself must be the
    no-op."""
    workdir = tempfile.mkdtemp(prefix="hll_sink_t2_")
    sink = HllRollupSink(
        path=f"{workdir}/st", group_col="event_type", value_col="user_id"
    )
    b = _batch(spark, DATA)
    sink.apply_batch(b, 0, writer_id="w1")
    before = _rows(spark, sink)
    v_before = sink.log.load()["version"]

    sink.apply_batch(b, 0, writer_id="w1")  # guard path: skipped whole
    assert sink.log.load()["version"] == v_before
    assert _rows(spark, sink) == before

    sink.apply_batch(b, 0, writer_id="w2")  # merge path: idempotent
    assert sink.log.load()["version"] == v_before + 1
    assert _rows(spark, sink) == before


def test_crash_between_data_and_manifest_heals_on_replay(spark):
    """Delete the latest manifest (crash before the commit point):
    the store serves the previous version, and replaying the batch
    republishes an identical register table."""
    workdir = tempfile.mkdtemp(prefix="hll_sink_t3_")
    sink = HllRollupSink(
        path=f"{workdir}/st", group_col="event_type", value_col="user_id"
    )
    sink.apply_batch(_batch(spark, DATA[:60]), 0, writer_id="w")
    first = _rows(spark, sink)
    sink.apply_batch(_batch(spark, DATA[60:]), 1, writer_id="w")
    final = _rows(spark, sink)

    # simulate the crash: data dir written, manifest never published
    names = sorted(os.listdir(sink.log.commits_dir))
    os.remove(os.path.join(sink.log.commits_dir, names[-1]))
    assert _rows(spark, sink) == first  # previous version still live

    sink.apply_batch(_batch(spark, DATA[60:]), 1, writer_id="w")
    assert _rows(spark, sink) == final


def test_precision_mismatch_raises(spark):
    workdir = tempfile.mkdtemp(prefix="hll_sink_t4_")
    sink = HllRollupSink(
        path=f"{workdir}/st", group_col="event_type", value_col="user_id"
    )
    sink.apply_batch(_batch(spark, DATA[:10]), 0, writer_id="w")
    # forge a store written under a different precision
    names = sorted(os.listdir(sink.log.commits_dir))
    mpath = os.path.join(sink.log.commits_dir, names[-1])
    with open(mpath) as fh:
        manifest = json.load(fh)
    manifest["m"] = HLL_M * 2
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="register store"):
        sink.apply_batch(_batch(spark, DATA[10:20]), 1, writer_id="w")


def test_estimates_read_back_from_store(spark):
    workdir = tempfile.mkdtemp(prefix="hll_sink_t5_")
    sink = HllRollupSink(
        path=f"{workdir}/st", group_col="event_type", value_col="user_id"
    )
    sink.apply_batch(_batch(spark, DATA), 0, writer_id="w")
    est = {r["g"]: r for r in sink.estimates(spark).collect()}
    assert set(est) == {"t0", "t1", "t2"}
    for g, r in est.items():
        exact = len({u for t, u in DATA if t == g})
        # m=16 → wide bound; deterministic hashes so this never flakes
        assert abs(r["hll_est"] - exact) / exact < 0.8


# ---------------------------------------------------------------------------
# CmsRollupSink: the ADDITIVE contrast — guard is mandatory
# ---------------------------------------------------------------------------


def _cms_cells(spark, sink):
    return sorted(
        (r["r"], r["bucket"], r["cell"])
        for r in sink.cells(spark).collect()
    )


def _ev(spark, rows):
    return spark.createDataFrame(rows, "user_id long")


CMS_DATA = [(i % 17,) for i in range(300)]


def test_cms_stream_equals_batch_through_real_stream(spark):
    import tempfile

    from postgres_opensearch_cdc_spark.streaming.sketch import CmsRollupSink

    workdir = tempfile.mkdtemp(prefix="cms_sink_t1_")
    src, ckpt = f"{workdir}/in", f"{workdir}/ckpt"
    sink = CmsRollupSink(path=f"{workdir}/st", value_col="user_id")

    def run_once():
        stream = spark.readStream.schema("user_id long").json(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda b, bid: sink.apply_batch(b, bid, writer_id=ckpt)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    _ev(spark, CMS_DATA[:150]).coalesce(2).write.mode("append").json(src)
    run_once()
    _ev(spark, CMS_DATA[150:]).coalesce(2).write.mode("append").json(src)
    run_once()

    ref = CmsRollupSink(path=f"{workdir}/ref", value_col="user_id")
    ref.apply_batch(_ev(spark, CMS_DATA), 0, writer_id="ref")
    assert _cms_cells(spark, sink) == _cms_cells(spark, ref)


def test_cms_replay_guard_is_mandatory(spark):
    """Same writer+batch: skipped whole. DIFFERENT writer: the merge
    RE-APPLIES and double-counts — the additive contract that makes
    the guard a correctness requirement (contrast
    test_replay_is_noop_same_and_different_writer above, where the
    HLL max-merge is a no-op either way)."""
    import tempfile

    from postgres_opensearch_cdc_spark.streaming.sketch import CmsRollupSink

    workdir = tempfile.mkdtemp(prefix="cms_sink_t2_")
    sink = CmsRollupSink(path=f"{workdir}/st", value_col="user_id")
    b = _ev(spark, CMS_DATA)
    sink.apply_batch(b, 0, writer_id="w1")
    before = _cms_cells(spark, sink)
    total_before = sum(c for _, _, c in before)

    sink.apply_batch(b, 0, writer_id="w1")  # guard path
    assert _cms_cells(spark, sink) == before

    sink.apply_batch(b, 0, writer_id="w2")  # additive: DOUBLE-COUNTS
    after = _cms_cells(spark, sink)
    assert sum(c for _, _, c in after) == 2 * total_before


def test_cms_crash_heals_and_estimates_are_one_sided(spark):
    import os
    import tempfile

    from postgres_opensearch_cdc_spark.streaming.sketch import CmsRollupSink

    workdir = tempfile.mkdtemp(prefix="cms_sink_t3_")
    sink = CmsRollupSink(path=f"{workdir}/st", value_col="user_id")
    sink.apply_batch(_ev(spark, CMS_DATA[:150]), 0, writer_id="w")
    first = _cms_cells(spark, sink)
    sink.apply_batch(_ev(spark, CMS_DATA[150:]), 1, writer_id="w")
    final = _cms_cells(spark, sink)

    names = sorted(os.listdir(sink.log.commits_dir))
    os.remove(os.path.join(sink.log.commits_dir, names[-1]))
    assert _cms_cells(spark, sink) == first
    sink.apply_batch(_ev(spark, CMS_DATA[150:]), 1, writer_id="w")
    assert _cms_cells(spark, sink) == final

    # one-sided error: estimate >= true count for every present value
    from collections import Counter

    true = Counter(u for (u,) in CMS_DATA)
    probes = _ev(spark, [(u,) for u in true])
    est = {
        r["user_id"]: r["cm_est"]
        for r in sink.estimates(probes, value_col="user_id").collect()
    }
    for u, t in true.items():
        assert est[u] >= t, (u, est[u], t)


def test_cms_geometry_mismatch_raises(spark):
    import json as _json
    import os
    import tempfile

    from postgres_opensearch_cdc_spark.streaming.sketch import CmsRollupSink

    workdir = tempfile.mkdtemp(prefix="cms_sink_t4_")
    sink = CmsRollupSink(path=f"{workdir}/st", value_col="user_id")
    sink.apply_batch(_ev(spark, CMS_DATA[:50]), 0, writer_id="w")
    names = sorted(os.listdir(sink.log.commits_dir))
    mpath = os.path.join(sink.log.commits_dir, names[-1])
    with open(mpath) as fh:
        manifest = _json.load(fh)
    manifest["width"] = 512
    with open(mpath, "w") as fh:
        _json.dump(manifest, fh)
    with pytest.raises(ValueError, match="cm sketch store"):
        sink.apply_batch(_ev(spark, CMS_DATA[50:]), 1, writer_id="w")
