"""Streaming CDC apply: file-changelog source → foreachBatch mirror
merge, checkpointed; crash-replay idempotence (ST5); event-time windows
with watermarks (ST8 extensions)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F, types as T

from postgres_opensearch_cdc_spark.engine import CdcEngine
from postgres_opensearch_cdc_spark.sources.changelog import file_changelog_stream
from postgres_opensearch_cdc_spark.streaming.apply import (
    VersionedMirrorSink,
    start_mirror_stream,
    streaming_dedup,
    windowed_event_counts,
)

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("status", T.StringType())]
)


def envelope(op, rid, status, offset):
    body = {"id": rid, "status": status}
    return json.dumps(
        {
            "op": op,
            "before": body if op == "d" else None,
            "after": None if op == "d" else body,
            "ts_ms": 1000 + offset,
            "source": {"schema": "public", "table": "card", "lsn": offset},
            "offset": offset,
        }
    )


def write_changelog_file(path, name, lines):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write("\n".join(lines))


def flat_changes(stream_df):
    """Envelope → flat change rows for the mirror sink: key + after-image
    columns + op + sequence (T2/T3 projection)."""
    return stream_df.select(
        "op",
        F.coalesce(F.col("after.id"), F.col("before.id")).alias("id"),
        F.col("after.status").alias("status"),
        F.col("offset"),
    )


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


def run_stream(spark, src_dir, sink, ckpt):
    stream = file_changelog_stream(spark, src_dir, ROW_SCHEMA)
    q = start_mirror_stream(flat_changes(stream), sink, ckpt)
    q.awaitTermination(120)
    return q


def test_stream_applies_changelog(spark, workdir):
    src = os.path.join(workdir, "log")
    write_changelog_file(
        src,
        "batch1.json",
        [
            envelope("r", 1, "SNAP", 1),
            envelope("c", 2, "NEW", 2),
            envelope("u", 1, "LIVE", 3),
            envelope("d", 2, None, 4),
        ],
    )
    sink = VersionedMirrorSink(
        path=os.path.join(workdir, "mirror"), key_cols=["id"], seq_cols=["offset"]
    )
    run_stream(spark, src, sink, os.path.join(workdir, "ckpt"))
    state = {r["id"]: r["status"] for r in sink.read(spark).collect()}
    assert state == {1: "LIVE"}


def test_incremental_micro_batches(spark, workdir):
    """New files after the first drain are picked up from the checkpoint —
    the snapshot-then-stream lifecycle (ST1/ST3)."""
    src = os.path.join(workdir, "log")
    ckpt = os.path.join(workdir, "ckpt")
    sink = VersionedMirrorSink(
        path=os.path.join(workdir, "mirror"), key_cols=["id"], seq_cols=["offset"]
    )
    write_changelog_file(src, "b1.json", [envelope("r", 1, "A", 1), envelope("r", 2, "B", 2)])
    run_stream(spark, src, sink, ckpt)
    write_changelog_file(src, "b2.json", [envelope("u", 1, "A2", 3), envelope("d", 2, None, 4)])
    run_stream(spark, src, sink, ckpt)
    state = {r["id"]: r["status"] for r in sink.read(spark).collect()}
    assert state == {1: "A2"}


def test_batch_replay_is_idempotent(spark, workdir):
    """ST5 crash-replay: re-applying the same micro-batch (as after a
    failure between sink write and checkpoint commit) must leave the
    mirror unchanged."""
    src = os.path.join(workdir, "log")
    write_changelog_file(src, "b1.json", [envelope("c", 1, "A", 1), envelope("u", 1, "B", 2)])
    sink = VersionedMirrorSink(
        path=os.path.join(workdir, "mirror"), key_cols=["id"], seq_cols=["offset"]
    )
    run_stream(spark, src, sink, os.path.join(workdir, "ckpt"))
    before = {r["id"]: r["status"] for r in sink.read(spark).collect()}
    # simulate replay: apply the same batch again directly
    replay = spark.createDataFrame(
        [("c", 1, "A", 1), ("u", 1, "B", 2)], "op string, id long, status string, offset long"
    )
    sink.apply_batch(replay, batch_id=0)
    after = {r["id"]: r["status"] for r in sink.read(spark).collect()}
    assert before == after == {1: "B"}


def test_windowed_counts_availablenow(spark, workdir):
    """ST8: event-time tumbling window agg over a bounded stream — the
    streaming form of Q6, watermark bounds state."""
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 10, "click", 1.0),
            (2, "2024-01-01 00:20:00", 10, "click", 2.0),
            (3, "2024-01-01 01:10:00", 11, "view", 3.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = os.path.join(workdir, "events_pq")
    events.write.parquet(path)
    stream = spark.readStream.schema(events.schema).parquet(path)
    agg = windowed_event_counts(stream, "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (str(r["start"]), r["event_type"]): r["cnt"]
        for r in spark.sql("select * from win_counts").collect()
    }
    assert rows[("2024-01-01 00:00:00", "click")] == 2
    assert rows[("2024-01-01 01:00:00", "view")] == 1


def test_streaming_dedup_drops_duplicate_keys(spark, workdir):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 00:11:00"),
            (2, "2024-01-01 00:12:00"),
        ],
        "event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = os.path.join(workdir, "dedup_pq")
    events.write.parquet(path)
    stream = spark.readStream.schema(events.schema).parquet(path)
    q = (
        streaming_dedup(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select event_id from dedup_out").collect()
    assert sorted(r["event_id"] for r in out) == [1, 2]


def test_mirror_equal_seq_replay_batch_row_wins(spark, workdir):
    """Equal-seq tie-break through the stream: at equal seq the incoming
    batch row deterministically beats the mirrored row, so a replayed
    backfill carrying seq=-1 on both sides (one now a delete) resolves
    the same way on every run."""
    src = os.path.join(workdir, "log")
    ckpt = os.path.join(workdir, "ckpt")
    sink = VersionedMirrorSink(
        path=os.path.join(workdir, "mirror-tie"), key_cols=["id"], seq_cols=["offset"]
    )
    write_changelog_file(
        src, "b1.json", [envelope("r", 1, "a", -1), envelope("r", 2, "b", -1)]
    )
    run_stream(spark, src, sink, ckpt)
    write_changelog_file(
        src, "b2.json", [envelope("d", 1, None, -1), envelope("u", 2, "b2", -1)]
    )
    run_stream(spark, src, sink, ckpt)
    state = {r["id"]: r["status"] for r in sink.read(spark).collect()}
    assert state == {2: "b2"}


def test_mirror_schema_evolution_add_column(spark, workdir):
    """Upstream ALTER TABLE ADD COLUMN mid-stream: the new column
    appears on new rows, null-fills history, and survives later
    batches that don't carry it — the sink analogue of the reference's
    dynamic mapping (W5)."""
    sink = VersionedMirrorSink(
        path=os.path.join(workdir, "mirror"),
        key_cols=["id"],
        seq_cols=["offset"],
    )
    b1 = spark.createDataFrame(
        [("c", 1, "ok", 1), ("c", 2, "new", 2)],
        "op string, id long, status string, offset long",
    )
    sink.apply_batch(b1, 0)
    b2 = spark.createDataFrame(
        [("u", 2, "upd", 3, "gold")],
        "op string, id long, status string, offset long, tier string",
    )
    sink.apply_batch(b2, 1)
    rows = {r["id"]: r for r in sink.read(spark).collect()}
    assert rows[2]["tier"] == "gold" and rows[2]["status"] == "upd"
    assert rows[1]["tier"] is None, "pre-evolution rows must null-fill"
    b3 = spark.createDataFrame(
        [("u", 1, "ok2", 4)],
        "op string, id long, status string, offset long",
    )
    sink.apply_batch(b3, 2)
    rows = {r["id"]: r for r in sink.read(spark).collect()}
    assert rows[1]["status"] == "ok2" and rows[1]["tier"] is None
    assert rows[2]["tier"] == "gold", "evolved column lost on later batch"


def test_mirror_type_widening(spark, workdir):
    """Upstream type widening (INT -> BIGINT) flows through the merge:
    the union coerces to the wider type and values past int range
    survive. The untouched bucket keeps its int32 file, which is read
    back as long under the widened manifest schema."""
    sink = VersionedMirrorSink(
        path=os.path.join(workdir, "mirror_w"),
        key_cols=["id"],
        seq_cols=["offset"],
        num_buckets=2,
    )
    b1 = spark.createDataFrame(
        [("c", i, i * 5, i) for i in range(1, 9)],
        "op string, id long, qty int, offset long",
    )
    sink.apply_batch(b1, 0)
    assert len(sink.latest_manifest()["buckets"]) == 2
    b2 = spark.createDataFrame(
        [("u", 1, 6_000_000_000, 9)], "op string, id long, qty long, offset long"
    )
    sink.apply_batch(b2, 1)
    commits = set(sink.latest_manifest()["buckets"].values())
    assert len(commits) == 2, "one bucket must stay on the int32 commit"
    out = sink.read(spark)
    assert out.schema["qty"].dataType.typeName() == "long"
    qty = {r["id"]: r["qty"] for r in out.collect()}
    assert qty == {1: 6_000_000_000, **{i: i * 5 for i in range(2, 9)}}


def test_mirror_rejects_missing_key_column(spark, workdir):
    """Schema evolution null-fills PAYLOAD columns only: a batch
    missing a key/seq/op column is a producer bug and must fail
    loudly, not collapse the merge window onto NULL keys."""
    sink = VersionedMirrorSink(
        path=os.path.join(workdir, "mirror_g"),
        key_cols=["id"],
        seq_cols=["offset"],
    )
    good = spark.createDataFrame(
        [("c", 1, "ok", 1)], "op string, id long, status string, offset long"
    )
    sink.apply_batch(good, 0)
    bad = spark.createDataFrame(
        [("u", "x", 2)], "op string, status string, offset long"
    )
    with pytest.raises(ValueError, match="merge-critical"):
        sink.apply_batch(bad, 1)


def test_multitable_schema_evolution_is_per_table(spark, workdir):
    """Routed tables keep their own columns: table a's ``tier`` is in
    the union parse, and b's events carry a stray ``tier`` field too,
    but only a's mirror gains the column."""
    engine = CdcEngine(spark=spark, workdir=os.path.join(workdir, "engine"))
    engine.register_table("a", T.StructType([
        *ROW_SCHEMA.fields, T.StructField("tier", T.StringType()),
    ]))
    engine.register_table("b", ROW_SCHEMA)

    def env(op, table, body, offset):
        return json.dumps({
            "op": op, "before": None, "after": body, "ts_ms": 1000 + offset,
            "source": {"schema": "public", "table": table, "lsn": offset},
            "offset": offset,
        })

    write_changelog_file(os.path.join(workdir, "log"), "b1.json", [
        env("c", "a", {"id": 1, "status": "x"}, 1),
        env("c", "b", {"id": 1, "status": "y", "tier": "stray"}, 2),
        env("u", "a", {"id": 1, "status": "x2", "tier": "gold"}, 3),
    ])
    engine.start_routed_stream(os.path.join(workdir, "log"))
    engine.await_all()
    assert engine.view("a").collect()[0]["tier"] == "gold"
    b = engine.view("b")
    assert "tier" not in b.columns, "evolution leaked across tables"
    assert [(r["id"], r["status"]) for r in b.collect()] == [(1, "y")]
