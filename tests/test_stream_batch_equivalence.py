"""Streaming == batch equivalence on real driver data: the events
changelog applied through the micro-batched streaming sink must produce
exactly the mirror the batch compaction produces — the invariant that
makes the two paths interchangeable (SURVEY §7.2 phase 4)."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from postgres_opensearch_cdc_spark.cdc.apply import compact_changelog
from postgres_opensearch_cdc_spark.cdc.envelope import events_as_changelog
from postgres_opensearch_cdc_spark.registry import load_table
from postgres_opensearch_cdc_spark.streaming.apply import VersionedMirrorSink


def test_streaming_apply_equals_batch_compaction(spark, sf_dir, tmp_path):
    log = events_as_changelog(load_table(spark, sf_dir, "events"))

    # batch reference result
    expected = {
        (r["key"], r["event_id"])
        for r in compact_changelog(log, ["key"], ["ts", "event_id"]).collect()
    }

    # stream the same changelog as JSON-lines files in 3 chunks with
    # micro-batch shaping (maxFilesPerTrigger=1 → 3 micro-batches)
    src = str(tmp_path / "log")
    os.makedirs(src)
    # chunk in event-time order: per-key ordering across micro-batches is
    # the stream contract (ST2, Kafka partition ordering) the sink relies
    # on — deletes are applied, not retained as tombstones
    rows = (
        log.select(
            "op", "key", "event_id", F.col("ts").cast("string").alias("ts"), "value"
        )
        .orderBy("ts", "event_id")
        .collect()
    )
    third = len(rows) // 3 + 1
    chunks = [rows[i * third : (i + 1) * third] for i in range(3)]
    for i, chunk in enumerate(chunks):
        with open(os.path.join(src, f"chunk{i}.json"), "w") as f:
            for r in chunk:
                f.write(json.dumps(r.asDict()) + "\n")

    schema = "op string, key long, event_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    sink = VersionedMirrorSink(
        path=str(tmp_path / "mirror"), key_cols=["key"], seq_cols=["ts", "event_id"]
    )
    q = (
        stream.writeStream.foreachBatch(sink.apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # micro-batch shaping engaged: one committed manifest per batch
    assert len(glob.glob(os.path.join(sink.path, "_commits", "v*.json"))) >= 3

    got = {(r["key"], r["event_id"]) for r in sink.read(spark).collect()}
    assert got == expected
