"""Source helpers (SURVEY §2.1)."""

from __future__ import annotations

from postgres_opensearch_cdc_spark.sources.changelog import select_tables


def test_select_tables_include_exclude():
    """S6: DMS selection rules (TDD :247-270): include public.%, exclude
    audit tables."""
    catalog = ["public.card", "public.audit_log", "public.orders", "internal.tmp"]
    out = select_tables(catalog, include=["public.%"], exclude=["%.audit_%"])
    assert out == ["public.card", "public.orders"]


def test_select_tables_no_rules_passthrough():
    catalog = ["a", "b"]
    assert select_tables(catalog) == ["a", "b"]


# ---------------------------------------------------------------------------
# Kafka builder golden tests + captured-Debezium envelope parse (S1/S3).
# No broker in this container: the option map is asserted exactly, and
# the parse runs on captured messages in the reference's documented
# format (Debezium PostgresConnector + JsonConverter with
# schemas.enable=false — bare {before, after, source, op, ts_ms}
# payloads on topics postgres.public.<table>, setup.sh:88-109).
# ---------------------------------------------------------------------------

import json
import os

import pytest

from pyspark.sql import functions as F, types as T

from postgres_opensearch_cdc_spark.sources.changelog import (
    kafka_changelog_stream,
    kafka_stream_options,
    parse_kafka_envelopes,
)

CARD_TOPICS = [
    "postgres.public.card",
    "postgres.public.authorize_transaction",
    "postgres.public.card_authorization",
]


def test_kafka_stream_options_golden():
    opts = kafka_stream_options(
        "localhost:9092", CARD_TOPICS, max_offsets_per_trigger=100
    )
    assert opts == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": (
            "postgres.public.card,postgres.public.authorize_transaction,"
            "postgres.public.card_authorization"
        ),
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "100",
    }


def test_kafka_stream_options_defaults():
    opts = kafka_stream_options("broker:9092", ["t1"])
    assert "maxOffsetsPerTrigger" not in opts
    assert opts["startingOffsets"] == "earliest"


CARD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("card_number", T.StringType()),
        T.StructField("status", T.StringType()),
    ]
)


def _debezium(op, before, after, lsn, ts_ms=1700000000123):
    """A payload in the reference's on-wire format (extra source fields
    present, as Debezium emits them; no top-level offset)."""
    return json.dumps(
        {
            "before": before,
            "after": after,
            "source": {
                "version": "2.5.0.Final",
                "connector": "postgresql",
                "name": "postgres",
                "ts_ms": ts_ms,
                "db": "carddb",
                "schema": "public",
                "table": "card",
                "lsn": lsn,
                "txId": 771,
            },
            "op": op,
            "ts_ms": ts_ms,
        }
    )


def _kafka_frame(spark, messages):
    """A static frame with the Kafka source's exact columns."""
    schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
        ]
    )
    rows = [
        (str(i).encode(), m.encode(), "postgres.public.card", 0, 1000 + i)
        for i, m in enumerate(messages)
    ]
    return spark.createDataFrame(rows, schema)


def test_parse_captured_debezium_messages(spark):
    """Envelope parse parity on the reference's documented format: ops
    r/c/u/d all surface; delete carries only the before image (REPLICA
    IDENTITY FULL); the ordering token falls back to the Kafka record
    offset; extra Debezium source fields are ignored."""
    msgs = [
        _debezium("r", None, {"id": 1, "card_number": "4111", "status": "ACTIVE"}, 100),
        _debezium("c", None, {"id": 2, "card_number": "4222", "status": "ACTIVE"}, 200),
        _debezium(
            "u",
            {"id": 1, "card_number": "4111", "status": "ACTIVE"},
            {"id": 1, "card_number": "4111", "status": "BLOCKED"},
            300,
        ),
        _debezium("d", {"id": 2, "card_number": "4222", "status": "ACTIVE"}, None, 400),
        "{not valid json",
    ]
    ok, bad = parse_kafka_envelopes(_kafka_frame(spark, msgs), CARD_SCHEMA)
    rows = {(r["op"], r["offset"]): r for r in ok.collect()}
    assert len(rows) == 4
    assert bad.count() == 1
    # offsets are the Kafka record offsets (payload has none)
    assert set(rows) == {("r", 1000), ("c", 1001), ("u", 1002), ("d", 1003)}
    upd = rows[("u", 1002)]
    assert upd["before"]["status"] == "ACTIVE" and upd["after"]["status"] == "BLOCKED"
    dele = rows[("d", 1003)]
    assert dele["after"] is None and dele["before"]["id"] == 2
    assert upd["source"]["lsn"] == 300 and upd["source"]["table"] == "card"
    assert all(r["topic"] == "postgres.public.card" for r in rows.values())


def test_parsed_kafka_batch_merges_like_file_path(spark, tmp_path):
    """The parsed Kafka frame drives the SAME merge the file path does:
    apply the captured batch through the mirror sink and check final state
    (id 1 blocked, id 2 deleted)."""
    from postgres_opensearch_cdc_spark.streaming.apply import VersionedMirrorSink

    msgs = [
        _debezium("r", None, {"id": 1, "card_number": "4111", "status": "ACTIVE"}, 100),
        _debezium("c", None, {"id": 2, "card_number": "4222", "status": "ACTIVE"}, 200),
        _debezium(
            "u",
            {"id": 1, "card_number": "4111", "status": "ACTIVE"},
            {"id": 1, "card_number": "4111", "status": "BLOCKED"},
            300,
        ),
        _debezium("d", {"id": 2, "card_number": "4222", "status": "ACTIVE"}, None, 400),
    ]
    ok, _ = parse_kafka_envelopes(_kafka_frame(spark, msgs), CARD_SCHEMA)
    flat = ok.select(
        "op",
        *[
            F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
            for c in [f.name for f in CARD_SCHEMA.fields]
        ],
        "offset",
    )
    sink = VersionedMirrorSink(
        path=str(tmp_path / "mirror"), key_cols=["id"], seq_cols=["offset"]
    )
    sink.apply_batch(flat, batch_id=0)
    state = {r["id"]: r["status"] for r in sink.read(spark).collect()}
    assert state == {1: "BLOCKED"}


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP"),
    reason="no Kafka broker in this environment "
    "(set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port to run)",
)
def test_kafka_stream_against_real_broker(spark):
    """Auto-unskips wherever a broker (and the spark-sql-kafka package)
    is available: builds the real readStream and drains one batch."""
    stream = kafka_changelog_stream(
        spark, os.environ["SPARK_GRAFT_KAFKA_BOOTSTRAP"], CARD_TOPICS
    )
    assert stream.isStreaming
