"""Ops layer: bootstrap DDL, retention, routing, stream observability."""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

from pyspark.sql import functions as F, types as T

from postgres_opensearch_cdc_spark.ops import (
    OpStatsListener,
    bootstrap_mirror,
    retention_job,
    route_topics,
)


def test_bootstrap_creates_empty_typed_mirror(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("status", T.StringType())]
    )
    path = str(tmp_path / "mirror")
    bootstrap_mirror(spark, path, schema)
    df = spark.read.parquet(path)
    assert df.count() == 0
    assert df.schema == schema


def test_retention_drops_expired_rows(spark, tmp_path):
    path = str(tmp_path / "tbl")
    rows = [
        (1, datetime(2024, 1, 1)),
        (2, datetime(2024, 3, 1)),
        (3, datetime(2024, 3, 25)),
    ]
    spark.createDataFrame(rows, "id long, created_at timestamp").write.parquet(path)
    kept, dropped = retention_job(spark, path, "created_at", keep_days=90, now="2024-04-01 00:00:00")
    assert (kept, dropped) == (2, 1)
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {2, 3}


def test_route_topics_maps_and_nulls_unknown(spark):
    df = spark.createDataFrame(
        [("postgres.public.card",), ("postgres.public.unknown_t",)], "topic string"
    )
    out = route_topics(df, {"postgres.public.card": "card"})
    rows = {r["topic"]: r["target_table"] for r in out.collect()}
    assert rows["postgres.public.card"] == "card"
    assert rows["postgres.public.unknown_t"] is None


def test_op_stats_listener_collects_observed_metrics(spark, tmp_path):
    from postgres_opensearch_cdc_spark.sources.changelog import file_changelog_stream
    from postgres_opensearch_cdc_spark.streaming.apply import (
        VersionedMirrorSink,
        start_mirror_stream,
    )

    row_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("status", T.StringType())]
    )
    src = str(tmp_path / "log")
    os.makedirs(src)
    events = [
        {"op": "c", "after": {"id": 1, "status": "A"}, "offset": 1},
        {"op": "d", "before": {"id": 1, "status": "A"}, "offset": 2},
    ]
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))

    listener = OpStatsListener()
    spark.streams.addListener(listener)
    try:
        stream = file_changelog_stream(spark, src, row_schema)
        flat = stream.select(
            "op",
            F.coalesce(F.col("after.id"), F.col("before.id")).alias("id"),
            F.col("after.status").alias("status"),
            "offset",
        )
        sink = VersionedMirrorSink(
            path=str(tmp_path / "mirror"), key_cols=["id"], seq_cols=["offset"]
        )
        q = start_mirror_stream(flat, sink, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        # listener delivery is async — poll briefly
        for _ in range(50):
            if listener.batches:
                break
            time.sleep(0.2)
        assert listener.totals["events"] == 2
        assert listener.totals["deletes"] == 1
    finally:
        spark.streams.removeListener(listener)


# ---------------------------------------------------------------------------
# ILM rollover / tiering (reference ISM policy, TDD :572-629)
# ---------------------------------------------------------------------------


def _ilm(tmp_path, **overrides):
    from postgres_opensearch_cdc_spark.ops import IlmPolicy, IndexLifecycleManager

    return IndexLifecycleManager(
        path=str(tmp_path / "log"), policy=IlmPolicy(**overrides)
    )


def _write_gen(spark, mgr, gen, rows=100):
    spark.range(rows).withColumnRenamed("id", "v").write.mode("overwrite").parquet(
        mgr.gen_dir(gen)
    )


def test_ilm_age_rollover_creates_new_active_generation(spark, tmp_path):
    mgr = _ilm(tmp_path)
    g0 = mgr.active_generation(now="2026-01-01 00:00:00")
    _write_gen(spark, mgr, g0)
    # under both thresholds: no transition
    assert mgr.step(spark, now="2026-01-03 00:00:00") == []
    # 7 days: rollover; a new active generation appears
    trans = mgr.step(spark, now="2026-01-08 00:00:01")
    assert {(t["gen"], t["to"]) for t in trans} == {(g0, "hot(rolled)")}
    g1 = mgr.active_generation(now="2026-01-08 00:00:01")
    assert g1 == g0 + 1
    assert mgr.live_generations() == {g0: "hot", g1: "hot"}


def test_ilm_size_rollover_before_age(spark, tmp_path):
    mgr = _ilm(tmp_path, rollover_min_bytes=1)  # any write exceeds
    g0 = mgr.active_generation(now="2026-01-01 00:00:00")
    _write_gen(spark, mgr, g0)
    trans = mgr.step(spark, now="2026-01-01 01:00:00")  # age < 7d
    assert any(t["gen"] == g0 and t["to"] == "hot(rolled)" for t in trans)


def test_ilm_warm_compacts_and_delete_drops(spark, tmp_path):
    mgr = _ilm(tmp_path)
    g0 = mgr.active_generation(now="2026-01-01 00:00:00")
    # write with many small files to observe the warm compaction
    spark.range(1000).repartition(8).write.mode("overwrite").parquet(mgr.gen_dir(g0))
    files_before = [
        f for f in os.listdir(mgr.gen_dir(g0)) if f.endswith(".parquet")
    ]
    assert len(files_before) > 1
    mgr.step(spark, now="2026-01-08 00:00:00")  # roll
    trans = mgr.step(spark, now="2026-02-01 00:00:00")  # 31 d: warm
    assert any(t["gen"] == g0 and t["to"] == "warm" for t in trans)
    files_after = [
        f for f in os.listdir(mgr.gen_dir(g0)) if f.endswith(".parquet")
    ]
    assert len(files_after) == 1  # replicas->0 analogue: compacted
    assert spark.read.parquet(mgr.gen_dir(g0)).count() == 1000  # data intact
    # 91 d: delete — directory gone, state recorded, later gens untouched
    trans = mgr.step(spark, now="2026-04-02 00:00:00")
    assert any(t["gen"] == g0 and t["to"] == "deleted" for t in trans)
    assert not os.path.isdir(mgr.gen_dir(g0))
    assert g0 not in mgr.live_generations()


def test_ilm_step_is_idempotent_and_ordered(spark, tmp_path):
    """Replaying a step at the same logical time applies nothing new,
    and a long-skipped clock applies every due transition in one pass."""
    mgr = _ilm(tmp_path)
    g0 = mgr.active_generation(now="2026-01-01 00:00:00")
    _write_gen(spark, mgr, g0)
    # 100 days later in one tick: roll + warm + delete all due
    trans = mgr.step(spark, now="2026-04-15 00:00:00")
    tos = [t["to"] for t in trans if t["gen"] == g0]
    assert tos == ["hot(rolled)", "warm", "deleted"]
    assert mgr.step(spark, now="2026-04-15 00:00:00") == []


def test_slo_alarms_fire_per_reference_thresholds():
    from postgres_opensearch_cdc_spark.ops import SloThresholds, evaluate_slos

    progress = [
        # healthy batch: nothing fires
        {"batchId": 0, "batchDuration": 400, "sourceLagSeconds": 1.0,
         "iteratorAgeMs": 100, "observed": {"errors": 0}},
        # warning lag (30-60 s band) + slow batch
        {"batchId": 1, "batchDuration": 60_000, "sourceLagSeconds": 45.0},
        # critical lag + stale iterator + error storm
        {"batchId": 2, "batchDuration": 1_000, "sourceLagSeconds": 90.0,
         "iteratorAgeMs": 120_000, "observed": {"errors": 5}},
    ]
    alarms = evaluate_slos(progress)
    by_batch = {}
    for a in alarms:
        by_batch.setdefault(a["batch_id"], []).append((a["metric"], a["severity"]))
    assert 0 not in by_batch
    assert ("source_lag_s", "warning") in by_batch[1]
    assert ("batch_duration_ms", "warning") in by_batch[1]
    assert ("source_lag_s", "critical") in by_batch[2]
    assert ("iterator_age_ms", "critical") in by_batch[2]
    # 5 errors in a 1 s batch is 300/min — above the 10/min threshold
    assert ("errors_per_min", "critical") in by_batch[2]

    # thresholds are tunable: raise the duration bar and batch 1 quiets
    quiet = evaluate_slos(progress, SloThresholds(batch_duration_warning_ms=120_000))
    assert not any(
        a["metric"] == "batch_duration_ms" for a in quiet
    )
