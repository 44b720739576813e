"""Operational parity layer (SURVEY §7.2 phase 5): mirror DDL bootstrap,
retention/lifecycle, topic routing, and stream observability — the
reference's setup.sh / ILM / consumer-stats behaviors in Spark terms.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQueryListener


def bootstrap_mirror(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    partition_cols: list[str] | None = None,
) -> None:
    """W4 index DDL bootstrap (reference setup.sh:128-145): create the
    empty keyed mirror with its explicit schema up front — the Spark
    analog of index creation with explicit mappings. Partition columns
    (typically a date or key bucket) are the scale lever: retention
    becomes partition drop, merges touch only affected partitions."""
    empty = spark.createDataFrame([], schema)
    writer = empty.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def retention_job(
    spark: SparkSession,
    path: str,
    ts_col: str,
    keep_days: int,
    now: str,
) -> tuple[int, int]:
    """W6 lifecycle (reference TDD :572-629 hot/warm/delete): drop rows
    older than the retention horizon. Returns (kept, dropped).

    On date-partitioned storage this compiles to partition pruning — the
    rewrite touches only expired partitions; with a table format
    (Delta/Iceberg) it is a metadata-only partition drop. ``now`` is a
    parameter, not a clock read, so runs are reproducible."""
    df = spark.read.parquet(path)
    cutoff = F.lit(now).cast("timestamp") - F.expr(f"INTERVAL {keep_days} DAYS")
    keep = df.filter(F.col(ts_col) >= cutoff)
    drop_cnt = df.filter(F.col(ts_col) < cutoff).count()
    keep_cnt = keep.count()
    keep.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
    return keep_cnt, drop_cnt


@dataclass
class IlmPolicy:
    """The reference's ISM lifecycle policy constants (TDD
    aurora-postgresql-cdc-opensearchtdd.md:572-629): hot indices roll
    over at 50 GB or 7 days, transition to warm at 30 days (replica
    count drops to 0 — a storage-tier action), and delete at 90 days."""

    rollover_min_bytes: int = 50 * 1024**3
    rollover_min_age_days: int = 7
    warm_after_days: int = 30
    delete_after_days: int = 90


@dataclass
class IndexLifecycleManager:
    """W6 rollover/tiering parity: the Spark-storage analogue of the
    reference's ISM policy, managed over rollover GENERATIONS of an
    append log / mirror (each generation ≙ one rolled index,
    ``<path>/gen=NNNN/``).

    State machine per generation (mirrors the reference states):

      hot(active) --size ≥ 50 GB or age ≥ 7 d--> hot(rolled, new active)
      hot(rolled) --age ≥ 30 d--> warm   (tier action: compact to few
                                          large files — the parquet
                                          analogue of replicas→0: halve
                                          the footprint/IO of a
                                          generation nobody writes to)
      warm        --age ≥ 90 d--> deleted (directory drop)

    Generation ages are measured from creation, like ISM's
    min_index_age. ``now`` is always a parameter (never a clock read)
    so transitions are reproducible and testable. State lives in
    ``<path>/_ilm_state.json`` — a single small JSON object, rewritten
    atomically (commits.write_json_atomic), the same one-object-PUT
    commit model as VersionedMirrorSink.

    At 100 TB: rollover bounds the size of the write-hot generation (so
    compaction jobs are bounded), warm compaction is one coalesce
    rewrite of a cold generation, and deletion is a directory drop —
    none of these touch the other generations.
    """

    path: str
    policy: IlmPolicy = field(default_factory=IlmPolicy)

    @property
    def _state_file(self) -> str:
        import os

        return os.path.join(self.path, "_ilm_state.json")

    def _load(self) -> dict:
        import json
        import os

        if not os.path.exists(self._state_file):
            return {"generations": {}}
        with open(self._state_file) as fh:
            return json.load(fh)

    def _save(self, state: dict) -> None:
        from postgres_opensearch_cdc_spark.commits import write_json_atomic

        write_json_atomic(self._state_file, state)

    def gen_dir(self, gen: int) -> str:
        import os

        return os.path.join(self.path, f"gen={gen:04d}")

    def active_generation(self, now: str) -> int:
        """The generation new writes target; bootstraps gen 0."""
        state = self._load()
        hot = [
            int(g)
            for g, info in state["generations"].items()
            if info["state"] == "hot" and info.get("active", False)
        ]
        if hot:
            return hot[0]
        gen = 1 + max((int(g) for g in state["generations"]), default=-1)
        state["generations"][str(gen)] = {
            "state": "hot",
            "active": True,
            "created_at": now,
        }
        self._save(state)
        return gen

    def _gen_bytes(self, gen: int) -> int:
        import os

        total = 0
        for root, _dirs, files in os.walk(self.gen_dir(gen)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    @staticmethod
    def _age_days(created_at: str, now: str) -> float:
        from datetime import datetime

        fmt = "%Y-%m-%d %H:%M:%S"
        return (
            datetime.strptime(now, fmt) - datetime.strptime(created_at, fmt)
        ).total_seconds() / 86400.0

    def step(self, spark: SparkSession, now: str) -> list[dict]:
        """One lifecycle evaluation pass (≙ the ISM scheduler tick).
        Applies every due transition and returns them as
        [{"gen", "from", "to"}...]."""
        import os
        import shutil

        state = self._load()
        transitions: list[dict] = []
        p = self.policy
        for g_str in sorted(state["generations"], key=int):
            info = state["generations"][g_str]
            gen = int(g_str)
            age = self._age_days(info["created_at"], now)
            if info["state"] == "hot" and info.get("active"):
                size = self._gen_bytes(gen)
                if size >= p.rollover_min_bytes or age >= p.rollover_min_age_days:
                    info["active"] = False
                    info["rolled_at"] = now
                    nxt = 1 + max(int(x) for x in state["generations"])
                    state["generations"][str(nxt)] = {
                        "state": "hot",
                        "active": True,
                        "created_at": now,
                    }
                    transitions.append(
                        {"gen": gen, "from": "hot(active)", "to": "hot(rolled)"}
                    )
            if info["state"] == "hot" and not info.get("active") and age >= p.warm_after_days:
                # tier action: compact the cold generation to one file
                # per partition (replicas→0 analogue)
                gdir = self.gen_dir(gen)
                if os.path.isdir(gdir):
                    df = spark.read.parquet(gdir)
                    df.coalesce(1).localCheckpoint(eager=True).write.mode(
                        "overwrite"
                    ).parquet(gdir)
                info["state"] = "warm"
                info["warmed_at"] = now
                transitions.append({"gen": gen, "from": "hot(rolled)", "to": "warm"})
            if info["state"] == "warm" and age >= p.delete_after_days:
                shutil.rmtree(self.gen_dir(gen), ignore_errors=True)
                info["state"] = "deleted"
                info["deleted_at"] = now
                transitions.append({"gen": gen, "from": "warm", "to": "deleted"})
        self._save(state)
        return transitions

    def live_generations(self) -> dict[int, str]:
        return {
            int(g): info["state"]
            for g, info in self._load()["generations"].items()
            if info["state"] != "deleted"
        }


def bootstrap_bucketed_mirror(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Bucketed mirror bootstrap — the co-located-join scale lever: two
    tables bucketed on the same key with the same bucket count join with
    NO exchange on either side (verified in tests/test_bucketing.py).
    For the CDC mirror, bucketing by PK also confines each merge to
    matching buckets. This is the saveAsTable path (bucket metadata
    lives in the session catalog); plain-path parquet writes cannot
    carry bucket info."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def route_topics(
    changes: DataFrame,
    topic_to_table: dict[str, str],
    topic_col: str = "topic",
) -> DataFrame:
    """T5 topic→index routing (reference consumer.py:17-21,57): static
    map lookup adding a 'target_table' column; unknown topics get null
    (→ quarantine branch, matching the consumer's skip-on-unknown)."""
    mapping = F.create_map(*[F.lit(x) for kv in topic_to_table.items() for x in kv])
    return changes.withColumn("target_table", mapping[F.col(topic_col)])


@dataclass
class OpStatsListener(StreamingQueryListener):
    """T9 run-stats (reference consumer.py:48,108-117) for the streaming
    path: collects the per-batch observe() metrics emitted by
    start_mirror_stream ('cdc_stats': events, deletes)."""

    batches: list[dict] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        row = event.progress.observedMetrics.get("cdc_stats")
        if row is not None:
            self.batches.append(row.asDict())

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    @property
    def totals(self) -> dict:
        return {
            "events": sum(b.get("events", 0) for b in self.batches),
            "deletes": sum(b.get("deletes", 0) or 0 for b in self.batches),
        }


@dataclass(frozen=True)
class SloThresholds:
    """The reference's operational alarm thresholds
    (aurora-postgresql-cdc-opensearchtdd.md:1213-1219), re-expressed in
    the Spark pipeline's units: source/apply lag comes from the stream's
    micro-batch progress, error and duration from the batch metrics."""

    source_lag_critical_s: float = 60.0   # DMS CDCLatencySource > 60 s
    apply_lag_warning_s: float = 30.0     # DMS CDCLatencyTarget > 30 s
    iterator_age_critical_ms: float = 60_000.0  # Kinesis iterator age
    errors_per_min_critical: float = 10.0       # Lambda errors > 10/min
    batch_duration_warning_ms: float = 50_000.0  # Lambda duration


def evaluate_slos(
    progress: list[dict], thresholds: SloThresholds | None = None
) -> list[dict]:
    """Evaluate streaming micro-batch progress records against the
    reference's alarm table; returns one alarm dict per breach
    (metric, severity, observed, threshold, batch_id). Records are the
    dicts a StreamingQuery's ``recentProgress``/listener yields:
    ``batchId``, ``batchDuration`` (ms), ``sources[0].metrics`` with
    optional ``maxOffsetsBehindLatest``-style lag, and the observed
    ``cdc_stats`` row with an ``errors`` count. Pure driver-side
    bookkeeping over per-batch scalars — nothing here touches the data
    plane, matching the reference's CloudWatch-side evaluation."""
    t = thresholds or SloThresholds()
    alarms: list[dict] = []

    def alarm(metric, severity, observed, threshold, batch_id):
        alarms.append(
            {
                "metric": metric,
                "severity": severity,
                "observed": observed,
                "threshold": threshold,
                "batch_id": batch_id,
            }
        )

    for p in progress:
        bid = p.get("batchId")
        dur = p.get("batchDuration")
        if dur is not None and dur > t.batch_duration_warning_ms:
            alarm("batch_duration_ms", "warning", dur,
                  t.batch_duration_warning_ms, bid)
        lag_s = p.get("sourceLagSeconds")
        if lag_s is not None and lag_s > t.source_lag_critical_s:
            alarm("source_lag_s", "critical", lag_s,
                  t.source_lag_critical_s, bid)
        elif lag_s is not None and lag_s > t.apply_lag_warning_s:
            alarm("source_lag_s", "warning", lag_s, t.apply_lag_warning_s, bid)
        age_ms = p.get("iteratorAgeMs")
        if age_ms is not None and age_ms > t.iterator_age_critical_ms:
            alarm("iterator_age_ms", "critical", age_ms,
                  t.iterator_age_critical_ms, bid)
        errors = (p.get("observed") or {}).get("errors")
        batch_minutes = (dur / 60_000.0) if dur else 1.0
        if errors is not None and errors / max(batch_minutes, 1e-9) > \
                t.errors_per_min_critical:
            alarm("errors_per_min", "critical",
                  errors / max(batch_minutes, 1e-9),
                  t.errors_per_min_critical, bid)
    return alarms
