"""Routed multi-table streaming apply (reference: 3 topics → 3 indices
in one consumer, consumer.py:17-21) through the engine's
start_routed_stream, + stream-static and stream-stream joins
(Spark-native extensions)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F, types as T

from postgres_opensearch_cdc_spark.engine import CdcEngine

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("status", T.StringType())]
)


def envelope(op, rid, status, offset, table):
    body = {"id": rid, "status": status}
    return json.dumps(
        {
            "op": op,
            "before": body if op == "d" else None,
            "after": None if op == "d" else body,
            "ts_ms": 1000 + offset,
            "source": {"schema": "public", "table": table, "lsn": offset},
            "offset": offset,
        }
    )


def test_multitable_routing(spark, tmp_path):
    """Both tables use key 1: a delete routed to one table must leave
    the other table's row with the same key in place."""
    src = str(tmp_path / "log")
    os.makedirs(src)
    lines = [
        envelope("r", 1, "CARD_A", 1, "card"),
        envelope("r", 1, "TXN_A", 2, "authorize_transaction"),
        envelope("u", 1, "CARD_B", 3, "card"),
        envelope("c", 2, "TXN_B", 4, "authorize_transaction"),
        envelope("d", 1, None, 5, "authorize_transaction"),
    ]
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write("\n".join(lines))

    engine = CdcEngine(spark=spark, workdir=str(tmp_path / "engine"))
    for t in ["card", "authorize_transaction"]:
        engine.register_table(t, ROW_SCHEMA)
    engine.start_routed_stream(src)
    engine.await_all()

    card = {r["id"]: r["status"] for r in engine.view("card").collect()}
    txn = {
        r["id"]: r["status"]
        for r in engine.view("authorize_transaction").collect()
    }
    assert card == {1: "CARD_B"}
    assert txn == {2: "TXN_B"}  # id 1 deleted


def test_stream_static_join(spark, tmp_path):
    """Stream enriched with a static dimension — broadcast against every
    micro-batch (the streaming form of the Q3-shaped dim join)."""
    events = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 10)], "event_id long, dim_id long"
    )
    path = str(tmp_path / "ev")
    events.write.parquet(path)
    dim = spark.createDataFrame([(10, "gold"), (20, "silver")], "dim_id long, tier string")
    stream = spark.readStream.schema(events.schema).parquet(path)
    joined = stream.join(F.broadcast(dim), "dim_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["event_id"]: r["tier"] for r in spark.sql("select * from ss_join").collect()}
    assert rows == {1: "gold", 2: "silver", 3: "gold"}


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join bounded by watermarks + time range — the
    streaming attribution join (view ⋈ purchase within an hour)."""
    rows = [
        (1, 7, "2024-01-01 10:00:00", "view"),
        (2, 7, "2024-01-01 10:20:00", "purchase"),
        (3, 7, "2024-01-01 13:00:00", "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, kind string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ev2")
    df.write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    views = (
        stream.filter(F.col("kind") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("kind") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts BETWEEN v_ts AND v_ts + INTERVAL 1 HOUR"
        ),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("vs_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = [tuple(r) for r in spark.sql("select view_id, purchase_id from vs_join").collect()]
    assert out == [(1, 2)]  # view 3 has no purchase within the hour
