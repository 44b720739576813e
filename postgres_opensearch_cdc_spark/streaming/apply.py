"""Streaming CDC apply: readStream → parse → foreachBatch(keyed merge).

Reference behavior being reproduced (SURVEY §3.1): the consumer's poll
loop (consumer.py:53) becomes the micro-batch planner; per-event PUT/
DELETE (consumer.py:64-100) becomes one idempotent merge per batch; the
at-least-once + idempotent-PUT guarantee (ST5) becomes checkpointed
foreachBatch + last-write-wins merge keyed on PK; op-mix stats (T9,
consumer.py:48) become df.observe + a StreamingQueryListener.

Latency budget: the reference's end-to-end SLA is 0.5-1.5 s
(TDD :1437-1445); processingTime triggers in that band are the
default, availableNow for tests/backfill.

Scale: state lives in the keyed mirror table (not the state store), so
mirror size is bounded by the source table, not by stream history. The
windowed/sessionized aggregations below do use the state store —
RocksDB-backed (session.py) with watermarks bounding state (ST8 —
capabilities the reference lacks; Spark-native extensions).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from postgres_opensearch_cdc_spark.cdc.envelope import OP_DELETE
from postgres_opensearch_cdc_spark.commits import CommitLog
from postgres_opensearch_cdc_spark.parquet_dirs import read_parquet_dirs


def _require_merge_columns(batch: DataFrame, key_cols, seq_cols, op_col) -> None:
    """Schema evolution null-fills PAYLOAD columns only: a batch missing
    a key/sequence/op column is a producer bug, and silently null-
    filling it would partition the merge window by NULL keys and
    collapse the batch into one arbitrary row. Fail loudly instead."""
    missing = [c for c in [*key_cols, *seq_cols, op_col] if c not in batch.columns]
    if missing:
        raise ValueError(
            f"changelog batch is missing merge-critical column(s) {missing}; "
            "only payload columns may evolve"
        )


def _fold_max_seq(prev: dict | None, new: dict) -> dict:
    """A sequence high-water mark raised to ``new``'s per-column maxima,
    never lowered. Only JSON-storable scalar seq types participate (the
    engine's long offsets; a timestamp seq leaves no mark and is
    compared via live rows instead)."""
    out = dict(prev or {})
    for c, v in new.items():
        if isinstance(v, (int, float, str)) and (out.get(c) is None or v > out[c]):
            out[c] = v
    return out


def observed_metrics(obs) -> dict:
    """An ``Observation``'s metrics once its action has run; ``{}``
    when the optimizer proved the observed input empty and pruned the
    observation with it (an empty relation folded through an
    aggregate above it), which means no row flowed. Spark then
    completes the observation with an empty row, on which
    ``Observation.get`` fails. An empty rollup delta reaches this case
    (its ``groupBy`` sits above the observation); the rollup tests pin
    it."""
    return obs.get if obs._jo.getRow().length() else {}


def start_mirror_stream(
    changes: DataFrame,
    sink: VersionedMirrorSink,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    processing_time: str = "1 second",
    after_batch=None,
):
    """Wire a changelog stream into the mirror sink.

    availableNow drains everything then stops (test/backfill mode, ST1);
    processingTime("1 second") matches the reference's refresh/latency
    budget (TDD :525, :1437-1445) for the live mode.
    Stats via observe(): per-batch op-mix counters, the reference's T9.
    ``after_batch(batch_id)``, when given, runs after each batch's
    merge commits — the hook monitor evaluation (engine alerting)
    rides on.
    """
    observed = changes.observe(
        "cdc_stats",
        F.count(F.lit(1)).alias("events"),
        F.sum(F.when(F.col(sink.op_col) == OP_DELETE, 1).otherwise(0)).alias("deletes"),
    )
    def _apply(batch: DataFrame, batch_id: int) -> None:
        # writer identity = the checkpoint: batch ids restart per
        # checkpoint, so the sink's replay guard needs both
        sink.apply_batch(batch, batch_id, writer_id=checkpoint_dir)
        if after_batch is not None:
            after_batch(batch_id)

    writer = observed.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


@dataclass
class VersionedMirrorSink:
    """The engine's keyed mirror: a bucket-partitioned parquet table
    maintained by partition-pruned, last-write-wins merges and published
    through commit manifests, so it is safe on object stores (no
    directory rename or delete is ever part of a commit; SURVEY W1
    scale note).

    Snapshot layout (mini table-format, Iceberg-style but dependency
    free):

        <path>/data/commit-<ver>-<uuid>/_bucket=<b>/*.parquet
        <path>/_commits/v<%08d>.json

    Invariants that make it object-store-safe:
      * Data files are IMMUTABLE and written into a fresh commit dir per
        batch — never overwritten, never renamed. Only appends.
      * A manifest maps every live bucket to the commit dir holding its
        current compacted contents, and records the snapshot's schema.
        Readers resolve max(version) manifest → the mapped bucket dirs;
        they never list the data dir or a superseded commit.
      * The single manifest file write IS the commit point (a one-object
        PUT — atomic on S3/GCS; modeled locally by write-temp + rename,
        see commits.py). A crash anywhere before it leaves orphan data
        files that no reader ever sees; the mirror stays readable at
        the previous version throughout. No rmtree is needed for emptied
        buckets — they are simply absent from the next manifest.
      * Batch replay after a checkpoint-recovery is detected via the
        manifest's batch_id (exactly-once commit, stronger than the
        merge's last-write-wins idempotency which still backstops it).

    Merge cost is |batch| + |touched bucket slices|, not |mirror|: only
    the touched buckets' directories are read, straight out of the
    manifest, which is file-level pruning without even a
    partition-filter scan. The bucket is ``pmod(xxhash64(key), n)`` by
    default; a range ``bucket_expr`` (e.g. ``"id div 100000"``) keeps
    clustered update keys in few buckets (SCALE.md §2). Old
    commits/manifests accumulate until vacuum() — time-travel for free
    until then.

    The hash-bucket count ``n`` is a property of the data, recorded in
    each manifest (``num_buckets``, plus the on-disk bytes of every
    live bucket in ``bucket_bytes``). The target is one bucket per
    ``spark.sql.files.openCostInBytes`` (4 MB by default), Spark's
    estimate of what opening one file costs in bytes read: a merge pays
    that per touched bucket plus the touched buckets' bytes, so buckets
    of about that size keep both a one-key batch (one bucket rewritten)
    and a batch touching every bucket (per-file cost about the bytes'
    cost) within a small factor of their best layout. The first commit
    writes 1 bucket. Each later commit computes the smallest power of
    two >= live bytes / target and, when that exceeds the recorded
    count, re-buckets the whole mirror under it in the same merge
    (every mapped bucket counts as touched). Doubling keeps rewrites
    amortized O(1) per byte as the mirror grows; the count never
    shrinks. A manifest without ``num_buckets`` has no recorded
    layout (older mirrors, or a ``bucket_expr`` one), so its first
    commit here re-buckets every row the same way. An explicit
    ``num_buckets=N`` pins the layout instead (and must match the
    manifest's).

    Jobs per commit: the merge write, plus a touched-bucket stats job
    (``groupBy("_bucket")`` collect) only where a bucket can be pruned —
    a later commit that keeps a layout of more than one bucket, or a
    ``bucket_expr`` one. The first commit, a one-bucket layout and a
    re-bucketing commit rewrite every mapped bucket anyway, so they run
    no stats job and take the batch's sequence maxima from an
    observation on the write. One consequence: an EMPTY batch on such
    a layout still rewrites its bucket, so callers keep their own
    emptiness guards (``CdcEngine.bulk``'s ``if rows``, the
    ``*_by_query`` writes' ``if n``, the routed stream's ``isEmpty()``).

    Building a snapshot frame (read(), and the merge's touched-bucket
    slice) launches no Spark job: the manifest's schema is passed to
    the reader, so no footer is opened to infer one, and each commit's
    bucket dirs are split into relations of at most
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths,
    which Spark lists serially in-process instead of in a listing job
    with one task per dir (a 64-bucket commit would cross the default 32).
    The jobs start at the caller's action.

    Single-writer (one streaming query per mirror), like every
    foreachBatch sink; readers are lock-free and always consistent.
    """

    path: str
    key_cols: list[str]
    seq_cols: list[str]
    op_col: str = "op"
    num_buckets: int | None = None  # None: derived from the data
    bucket_expr: str | None = None

    def _bucket(self, num_buckets: int | None) -> "F.Column":
        if self.bucket_expr is not None:
            return F.expr(self.bucket_expr)
        return F.pmod(F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(num_buckets))

    def _layout(self, spark: SparkSession, manifest: dict | None,
                sizes: dict) -> tuple[int | None, bool]:
        """(hash-bucket count for this commit, whether it re-buckets
        the mirror). ``sizes`` is the live bucket -> bytes map."""
        if self.bucket_expr is not None:
            return None, False
        if manifest is None:
            return self.num_buckets or 1, False
        recorded = manifest.get("num_buckets")
        if self.num_buckets is not None:
            if recorded is not None and recorded != self.num_buckets:
                raise ValueError(
                    f"{self.path} is laid out in num_buckets={recorded}; "
                    f"this sink pins {self.num_buckets} — merging under a "
                    "different count would leave stale rows in old buckets"
                )
            want = self.num_buckets
        else:
            target = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
            want = 1 << max(0, math.ceil(sum(sizes.values()) / target) - 1).bit_length()
        if recorded is None:
            # no recorded layout: a key's old row may sit in any bucket
            return want, True
        return (want, True) if want > recorded else (recorded, False)

    def _dir_bytes(self, commit_id: str, bucket) -> int:
        d = os.path.join(self.log.data_dir, commit_id, f"_bucket={bucket}")
        return sum(
            e.stat().st_size for e in os.scandir(d)
            if e.is_file() and not e.name.startswith(("_", "."))
        )

    def bucket_bytes(self, manifest: dict) -> dict:
        """Live bucket -> bytes of its data files: the manifest's
        record, or listed from the commit dirs for a manifest that
        predates it."""
        known = manifest.get("bucket_bytes") or {}
        return {
            b: known[b] if b in known else self._dir_bytes(cid, b)
            for b, cid in manifest["buckets"].items()
        }

    @property
    def log(self) -> CommitLog:
        return CommitLog(self.path)

    def latest_manifest(self) -> dict | None:
        return self.log.load()

    def manifest(self, version: "int | None" = None) -> dict | None:
        """A committed manifest: the latest, or an explicit ``version``
        (time travel for free until vacuum, see class docstring)."""
        return self.log.load(version)

    def exists(self) -> bool:
        return self.log.exists()

    def _bucket_paths(self, manifest: dict, buckets: list | None = None):
        """Group the manifest's bucket→commit mapping into per-commit
        path lists (restricted to ``buckets`` when pruning)."""
        data_dir = self.log.data_dir
        by_commit: dict[str, list[str]] = {}
        for b, cid in manifest["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            by_commit.setdefault(cid, []).append(
                os.path.join(data_dir, cid, f"_bucket={b}")
            )
        return by_commit

    def _read_manifest_slice(
        self, spark: SparkSession, manifest: dict, buckets: list | None = None
    ) -> DataFrame | None:
        """The manifest's snapshot (restricted to ``buckets``) with
        ``_bucket`` as a partition column; None when no bucket is
        mapped. Read with the manifest's schema, so commits written
        before a schema evolution null-fill the added columns
        (dynamic-mapping analogue) and no footer is opened to plan."""
        by_commit = self._bucket_paths(manifest, buckets)
        if not by_commit:
            return None
        schema = T.StructType.fromJson(manifest["schema"]).add(
            "_bucket", T.IntegerType()
        )
        data_dir = self.log.data_dir
        return reduce(DataFrame.union, [
            read_parquet_dirs(
                spark, schema, paths,
                base_path=os.path.join(data_dir, cid),
            )
            for cid, paths in sorted(by_commit.items())
        ])

    def read(self, spark: SparkSession, version: "int | None" = None) -> DataFrame:
        manifest = self.manifest(version)
        if manifest is None:
            raise FileNotFoundError(f"no committed snapshot under {self.path}")
        sliced = self._read_manifest_slice(spark, manifest)
        if sliced is None:  # committed-but-empty mirror: schema from manifest
            schema = T.StructType.fromJson(manifest["schema"])
            return spark.createDataFrame([], schema)
        return sliced.drop("_bucket")

    def apply_batch(self, batch: DataFrame, batch_id: int,
                    writer_id: str | None = None) -> None:
        """foreachBatch body: merge one changelog batch and commit it.
        ``writer_id`` identifies the streaming query (its checkpoint);
        a replayed ``(writer_id, batch_id)`` is skipped whole, and the
        last-write-wins merge on (key, seq) makes any other replay a
        no-op too — the reference's PUT-by-id idempotency
        (consumer.py:64-68), ST5.

        Contract (ST2): a key's events must not go BACKWARD across
        micro-batches — deletes are applied (key removed), not retained
        as tombstones, so an older update arriving after the delete's
        batch would resurrect the row. Kafka/Kinesis per-partition
        ordering provides this; within a batch any order is fine (the
        reference has the same semantics via immediate DELETE-by-id,
        consumer.py:93-100)."""
        _require_merge_columns(
            batch, self.key_cols, self.seq_cols, self.op_col
        )
        import json
        import uuid

        spark = batch.sparkSession
        log = self.log
        manifest = log.load()
        if log.replays(manifest, batch_id, writer_id):
            return  # replayed batch already committed — exactly-once
        version = (manifest["version"] + 1) if manifest else 1
        sizes = self.bucket_bytes(manifest) if manifest else {}
        num_buckets, rebucket = self._layout(spark, manifest, sizes)
        batch = batch.withColumn("_bucket", self._bucket(num_buckets))
        obs = None
        if (manifest is not None and not rebucket
                and (self.bucket_expr is not None or num_buckets > 1)):
            # the touched-bucket stats job: a bounded driver-side list
            # (<= num_buckets rows) that picks the slice to merge. It
            # must run before the merge's plan exists, so it is a job
            # of its own; its per-bucket seq maxima feed the high-water
            # mark below.
            stats = (
                batch.groupBy("_bucket")
                .agg(*[F.max(c).alias(c) for c in self.seq_cols])
                .collect()
            )
            touched = sorted(r["_bucket"] for r in stats)
            batch_max = {
                c: max((r[c] for r in stats if r[c] is not None), default=None)
                for c in self.seq_cols
            }
        else:
            # nothing to prune: the first commit, a one-bucket layout
            # or a re-bucketing commit rewrites every mapped bucket
            # anyway, so the slice is all of them (the re-bucketing
            # slice is re-hashed below) and the batch's seq maxima are
            # observed on the merge write itself — upstream of the
            # survivor filter, so deletes still raise the mark
            from pyspark.sql import Observation

            obs = Observation()
            batch = batch.observe(
                obs, *[F.max(F.col(c)).alias(c) for c in self.seq_cols]
            )
            touched = sorted(int(b) for b in (manifest or {}).get("buckets", ()))
        unioned = batch
        if touched:
            current = self._read_manifest_slice(spark, manifest, buckets=touched)
            if current is not None:
                as_changes = (
                    current.drop("_bucket")
                    .select(
                        F.lit("u").alias(self.op_col),
                        *[
                            F.col(c)
                            for c in current.drop("_bucket").columns
                            if c != self.op_col
                        ],
                    )
                    .withColumn("_bucket", self._bucket(num_buckets))
                    .withColumn("_pri", F.lit(0))
                )
                # schema-evolving merge: a column added upstream (ALTER
                # TABLE ADD COLUMN) appears on new rows and null-fills
                # the mirrored slice; a column absent from this batch
                # null-fills the batch side — the sink analogue of
                # dynamic mapping (reference W5)
                unioned = batch.withColumn("_pri", F.lit(1)).unionByName(
                    as_changes, allowMissingColumns=True
                )
        if "_pri" not in unioned.columns:
            unioned = unioned.withColumn("_pri", F.lit(1))
        # _pri breaks seq ties deterministically: a batch row (1) beats
        # the mirrored row (0) at equal seq, so a replayed backfill where
        # both sides carry seq=-1 resolves identically every run
        # (plan-independent), including op='d' vs a mirrored 'u'
        w = Window.partitionBy(*self.key_cols).orderBy(
            *[F.col(c).desc_nulls_last() for c in self.seq_cols],
            F.col("_pri").desc(),
        )
        merged = (
            unioned.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col(self.op_col) != OP_DELETE))
            .drop("_rn", "_pri")
        )
        commit_id = f"commit-{version:08d}-{uuid.uuid4().hex[:8]}"
        commit_dir = os.path.join(log.data_dir, commit_id)
        merged.write.partitionBy("_bucket").parquet(commit_dir)
        # the sequence high-water mark: max seq EVER merged, deletes
        # included, never lowered — what lets a bulk/REST write allocate
        # sequence numbers above every consumed stream offset even after
        # a high-seq delete left no live row behind
        max_seq = _fold_max_seq(
            (manifest or {}).get("max_seq"),
            observed_metrics(obs) if obs is not None else batch_max,
        )
        # buckets that survived the merge: a driver listing of the fresh
        # commit dir (no extra Spark job, no collect)
        out_buckets = {
            int(e.split("=", 1)[1])
            for e in os.listdir(commit_dir)
            if e.startswith("_bucket=")
        }
        buckets = dict(manifest["buckets"]) if manifest else {}
        for b in touched:
            buckets.pop(str(b), None)
            sizes.pop(str(b), None)
        for b in sorted(out_buckets):
            buckets[str(b)] = commit_id
            sizes[str(b)] = self._dir_bytes(commit_id, b)
        log.commit(manifest, {  # the commit point (object store: one PUT)
            "batch_id": batch_id,
            "writer_id": writer_id,
            "buckets": buckets,
            "num_buckets": num_buckets,
            "bucket_bytes": sizes,
            "max_seq": max_seq,
            "schema": json.loads(merged.drop("_bucket").schema.json()),
        })

    def raise_high_water(self, max_seq: dict) -> None:
        """Metadata-only commit: bump the manifest's sequence
        high-water mark to at least ``max_seq`` (per seq column,
        existing marks never lowered) without touching data. Used by
        restore-from-snapshot so a restored mirror keeps the SOURCE's
        mark — its live rows' max seq can sit below offsets the source
        had already consumed (e.g. a high-seq delete), and a bulk
        write or replayed stream batch must still rank correctly."""
        manifest = self.latest_manifest()
        if manifest is None:
            raise FileNotFoundError(f"no committed snapshot under {self.path}")
        # batch_id carried over: the exactly-once replay guard for the
        # last data batch must survive this metadata commit
        self.log.commit(manifest, {
            **manifest,
            "max_seq": _fold_max_seq(manifest.get("max_seq"), max_seq),
        })

    def vacuum(self, keep_versions: int = 1) -> int:
        """GC unreferenced commit dirs + manifests older than the last
        ``keep_versions`` (>= 1); see ``CommitLog.vacuum``. Returns the
        number of commit dirs removed."""
        return self.log.vacuum(
            keep_versions, lambda m: m["buckets"].values()
        )


# ---------------------------------------------------------------------------
# Event-time windowed aggregations (ST8 — extensions the reference lacks)
# ---------------------------------------------------------------------------

def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding event-time window counts with late-data handling.
    Watermark bounds state: closed windows evict from RocksDB. The
    streaming form of dashboard Q6's date histogram."""
    win = (
        F.window("ts", window_duration, slide)
        if slide
        else F.window("ts", window_duration)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("w.start", "w.end", "event_type", "cnt", "sum_value")
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-based). State-store-backed with
    watermark eviction."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("events_in_session"))
        .select("s.start", "s.end", "user_id", "events_in_session")
    )


def streaming_dedup(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon:
    dropDuplicatesWithinWatermark — the streaming form of exact dedup."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


@dataclass
class RollupSink:
    """Continuous aggregate store — the reference stack's rollup-job
    shape (OpenSearch rollup/ISM jobs; Timescale continuous
    aggregates): a persisted (group(s), doc_count, sum_<col>...)
    table maintained from CDC ±deltas, so each micro-batch SHIFTS the
    aggregates instead of rescanning the mirror. ``group_col`` may be
    one dimension or a tuple of dimensions (the rollup-job
    date_histogram + terms combination); everything below is
    dimension-count agnostic.
    ``cdc_incremental_agg`` (queries/cdc_queries.py) is the
    batch / oracle-checked form of the same delta algebra; this is its
    checkpointed streaming realization, fed from the changelog's
    before/after images (REPLICA IDENTITY FULL, the same requirement
    the reference pipeline has — setup.sh:59-65).

    Metric algebra (the OpenSearch rollup-job metric set):

    - ``doc_count`` and ``sum_<c>`` / ``valcnt_<c>`` (value_count)
      are additive — delta-maintained directly.
    - ``avg_<c>`` is derived at READ as sum/valcnt (never stored, so
      it can't drift from its components).
    - ``min_<c>`` / ``max_<c>`` are NOT delta-invertible under
      deletes (retiring the current extremum needs the runner-up), so
      each minmax column keeps an auxiliary (group, value, cnt)
      multiset store — the classical incremental-view-maintenance
      support table for MIN/MAX. The aux store is itself purely
      additive (±cnt per image), so it rides the SAME exactly-once
      guard and needs no mirror synchronization; a (group, value)
      whose cnt reaches 0 vanishes, which is exactly the retraction.
      Read-side min/max is a #distinct-(group,value)-row aggregate.
      Scale: the aux store is O(distinct (group, value)) — bounded by
      mirror rows but typically far smaller; the alternative
      (recompute touched groups from the mirror's pruned buckets) was
      rejected because it couples the rollup stream to the mirror
      stream's progress and reintroduces read-your-own-writes races.
      Each aux store is hash-partitioned into ``aux_num_buckets``
      bucket=N dirs by pmod(xxhash64(group..., value), nb) — the
      merge key itself — and a batch rewrites ONLY the buckets its
      ±deltas touch (a bounded driver-side list, the span store's
      proven pattern): the manifest maps every bucket to the commit
      holding its current file, so untouched buckets are REFERENCED,
      not rewritten, and per-batch aux I/O is O(|touched buckets'
      data|) instead of O(store). Bucketing by (group, value) rather
      than group alone keeps the pruning effective in the worst case
      this exists for — few groups × a high-cardinality metric column
      — where group-only bucketing would put the whole store in one
      bucket. The read path re-aggregates min/max per group across
      buckets, which a (group, value)-keyed layout leaves intact.

    Additive deltas are NOT idempotent, so replay protection is
    mandatory here, not defense-in-depth: the commit manifest records
    (writer_id, batch_id) — Spark's documented foreachBatch dedup key,
    same guard as VersionedMirrorSink — and a replayed batch is
    skipped whole. Each commit writes the full aggregate (main table
    plus aux stores) into a fresh version dir and publishes it with
    ONE atomic manifest rename (object-store safe; old versions are
    time-travel until vacuum). Rewriting the whole aggregate per batch
    IS the scale path: the rollup of a 10^11-row mirror is only as
    big as its group cardinality, so the per-batch cost is
    O(|batch| + |groups| + |aux|) and never touches the mirror."""

    path: str
    # one dimension name (str) or several (tuple) — the reference
    # rollup-job shape allows date_histogram + terms dimensions
    # together; every delta/merge/read below is dimension-count
    # agnostic via _groups
    group_col: "str | tuple"
    sum_cols: tuple = ()
    count_cols: tuple = ()
    avg_cols: tuple = ()
    minmax_cols: tuple = ()
    # bucket count for the minmax aux stores' hash layout; recorded in
    # the manifest and enforced across commits (a different modulus
    # would merge against the wrong bucket dirs). At 100 TB size it so
    # one bucket ≈ one task's worth of (group, value) rows.
    aux_num_buckets: int = 16

    @property
    def _groups(self) -> tuple:
        return ((self.group_col,) if isinstance(self.group_col, str)
                else tuple(self.group_col))

    # internal maintained sets: avg needs sum AND valcnt components
    # even when neither is independently requested
    @property
    def _sum_set(self) -> tuple:
        return tuple(dict.fromkeys((*self.sum_cols, *self.avg_cols)))

    @property
    def _cnt_set(self) -> tuple:
        # sum_cols ride along: SQL SUM over zero non-null values is
        # NULL, but an additive delta-sum whose contributions all
        # retired lands on 0.0 — the non-null count disambiguates
        return tuple(dict.fromkeys(
            (*self.count_cols, *self.avg_cols, *self.sum_cols)
        ))

    @property
    def _metric_cols(self) -> list:
        return ["doc_count",
                *[f"sum_{c}" for c in self._sum_set],
                *[f"valcnt_{c}" for c in self._cnt_set]]

    def delta_frame(self, img: DataFrame, group, sign: int) -> DataFrame:
        """Project one image side (before or after payload rows) to the
        signed-delta shape ``apply_batch`` merges: ±doc_count, ±sums,
        ±non-null counts, and the RAW value for each minmax column
        (its sign rides doc_count). ``group`` is one Column (single
        dimension) or a list of Columns matching _groups."""
        groups = group if isinstance(group, (list, tuple)) else [group]
        if len(groups) != len(self._groups):
            raise ValueError(
                f"delta_frame got {len(groups)} group expression(s) for "
                f"dimensions {self._groups}"
            )
        return img.select(
            *[g.alias(n) for g, n in zip(groups, self._groups)],
            F.lit(sign).cast("long").alias("doc_count"),
            *[(F.lit(sign) * F.col(c)).alias(f"sum_{c}")
              for c in self._sum_set],
            *[(F.lit(sign) * F.col(c).isNotNull().cast("long"))
              .alias(f"valcnt_{c}") for c in self._cnt_set],
            *[F.col(c).alias(f"mmval_{c}") for c in self.minmax_cols],
        )

    @property
    def log(self) -> CommitLog:
        return CommitLog(self.path)

    def _read_main(self, spark: SparkSession, manifest: dict) -> DataFrame:
        return spark.read.schema(
            T.StructType.fromJson(manifest["schema"])
        ).parquet(os.path.join(self.log.data_dir, manifest["commit"], "main"))

    def _aux_bucket_expr(self, value_col) -> "F.Column":
        """The aux store's bucket key: pmod over the MERGE key
        (group dims + value) — identical expression on the write and
        probe sides, so touched-bucket pruning is exact."""
        return F.pmod(
            F.xxhash64(*[F.col(g) for g in self._groups], value_col),
            F.lit(self.aux_num_buckets),
        )

    def _read_aux(self, spark: SparkSession, manifest: dict,
                  col: str, buckets: "list | None" = None) -> DataFrame:
        """The aux multiset slice covering ``buckets`` (None = every
        bucket in the manifest's map): reads ONLY the mapped bucket=N
        dirs with an explicit schema — neither the scan nor schema
        resolution sweeps unrelated commits. Legacy (pre-bucketing)
        manifests stored the whole aux under one commit dir and are
        read whole."""
        schema = T.StructType.fromJson(manifest["aux_schemas"][col])
        bucket_map = manifest.get("aux_buckets", {}).get(col)
        data_dir = self.log.data_dir
        if bucket_map is None:  # legacy whole-store layout
            return spark.read.schema(schema).parquet(
                os.path.join(data_dir, manifest["commit"], f"mm_{col}")
            )
        wanted = (set(bucket_map) if buckets is None
                  else {str(b) for b in buckets} & set(bucket_map))
        dirs = [
            os.path.join(data_dir, commit, f"mm_{col}",
                         f"bucket={b}")
            for b, commit in sorted(bucket_map.items())
            if b in wanted
        ]
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*dirs)

    def read(self, spark: SparkSession, version: "int | None" = None,
             internal: bool = False) -> DataFrame:
        """The published aggregate: group, doc_count, the REQUESTED
        metric columns (sum_<c>, valcnt_<c>), plus the derived ones —
        avg_<c> = sum/valcnt computed here (null when a group has no
        non-null values, SQL AVG semantics) and min_<c>/max_<c>
        aggregated from the aux multiset stores (left-joined
        null-safely so a NULL group key still gets its extrema).
        ``internal=True`` keeps the maintained-only components
        (avg's sum/valcnt) — the re-aggregation inputs rollup search
        needs (avg over a coarser bucket is SUM(sum)/SUM(valcnt),
        never avg-of-avgs)."""
        manifest = self.log.load(version)
        if manifest is None:
            raise FileNotFoundError(f"no committed rollup under {self.path}")
        out = self._read_main(spark, manifest)
        for c in self.minmax_cols:
            mm = (
                self._read_aux(spark, manifest, c)
                .groupBy(*[
                    F.col(g).alias(f"_mm_g{i}")
                    for i, g in enumerate(self._groups)
                ])
                .agg(F.min("value").alias(f"min_{c}"),
                     F.max("value").alias(f"max_{c}"))
            )
            cond = None
            for i, g in enumerate(self._groups):
                clause = out[g].eqNullSafe(mm[f"_mm_g{i}"])
                cond = clause if cond is None else (cond & clause)
            out = out.join(mm, cond, "left").drop(
                *[f"_mm_g{i}" for i in range(len(self._groups))]
            )
        for c in self._sum_set:
            out = out.withColumn(
                f"sum_{c}",
                F.when(F.col(f"valcnt_{c}") > 0, F.col(f"sum_{c}")),
            )
        for c in self.avg_cols:
            out = out.withColumn(
                f"avg_{c}", F.col(f"sum_{c}") / F.col(f"valcnt_{c}")
            )
        if internal:
            return out
        # maintained-only components (avg internals) are not published
        hidden = (
            {f"sum_{c}" for c in self._sum_set if c not in self.sum_cols}
            | {f"valcnt_{c}" for c in self._cnt_set
               if c not in self.count_cols}
        )
        return out.drop(*hidden) if hidden else out

    def apply_batch(self, deltas: DataFrame, batch_id: int,
                    writer_id: str | None = None) -> None:
        """Merge a signed-delta frame (the ``delta_frame`` shape) into
        the persisted aggregate: additive sums into the main table,
        ±cnt per (group, value) into each minmax aux store. Groups
        whose doc_count reaches 0 vanish (a fully-deleted group must
        not linger as a zero row); likewise an aux (group, value)
        whose cnt reaches 0 — that disappearance IS the min/max
        retraction. All tables land in one commit dir published by a
        single manifest rename, so main and aux can never be observed
        at different versions."""
        import json
        import uuid

        spark = deltas.sparkSession
        log = self.log
        manifest = log.load()
        if log.replays(manifest, batch_id, writer_id):
            return  # replayed batch: additive merge MUST NOT reapply
        if (manifest is not None
                and "aux_num_buckets" in manifest
                and manifest["aux_num_buckets"] != self.aux_num_buckets):
            raise ValueError(
                f"rollup store at {self.path} was written with "
                f"aux_num_buckets={manifest['aux_num_buckets']}; this "
                f"sink has {self.aux_num_buckets} — merging under a "
                "different modulus would miss bucket dirs"
            )
        metric_cols = self._metric_cols
        main_in = deltas
        obs = None
        if self.minmax_cols:
            # each minmax column's non-null delta count, observed on the
            # main write below (it runs first): a column with none
            # carries its aux store forward with no probe and no write
            from pyspark.sql import Observation

            obs = Observation()
            main_in = deltas.observe(obs, *[
                F.count(F.col(f"mmval_{c}")).alias(c)
                for c in self.minmax_cols
            ])
        agg = main_in.groupBy(*self._groups).agg(
            *[F.sum(c).alias(c) for c in metric_cols]
        )
        if manifest is not None:
            agg = (
                self._read_main(spark, manifest)
                .unionByName(agg)
                .groupBy(*self._groups)
                .agg(*[F.sum(c).alias(c) for c in metric_cols])
            )
        merged = agg.filter(F.col("doc_count") != 0)
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        commit_dir = os.path.join(log.data_dir, commit)
        merged.write.mode("overwrite").parquet(
            os.path.join(commit_dir, "main")
        )
        aux_schemas = {}
        aux_buckets = {}
        legacy = manifest is not None and "aux_buckets" not in manifest
        deltas_per_col = observed_metrics(obs) if obs is not None else {}
        for c in self.minmax_cols:
            delta = (
                deltas
                .filter(F.col(f"mmval_{c}").isNotNull())
                .select(
                    *self._groups,
                    F.col(f"mmval_{c}").alias("value"),
                    F.col("doc_count").alias("cnt"),
                )
            )
            old_map = (manifest or {}).get("aux_buckets", {}).get(c, {})
            if not deltas_per_col.get(c) and not legacy:
                # no ±delta for this column: carry the bucket map and
                # schema forward — zero aux I/O this commit
                aux_buckets[c] = old_map
                aux_schemas[c] = (
                    manifest["aux_schemas"][c] if manifest is not None
                    else json.loads(delta.schema.json())
                )
                continue
            if legacy:
                # one-time migration: fold the whole legacy store into
                # the bucketed layout (every bucket rewritten once)
                aux = self._read_aux(spark, manifest, c).unionByName(delta)
                carried = {}
            elif old_map:
                # one micro-batch's distinct bucket list — bounded by
                # aux_num_buckets, the span store's driver-side pattern
                touched = {
                    r["b"] for r in delta.select(
                        self._aux_bucket_expr(F.col("value")).alias("b")
                    ).distinct().collect()
                }
                aux = self._read_aux(
                    spark, manifest, c, buckets=sorted(touched)
                ).unionByName(delta)
                carried = {b: cm for b, cm in old_map.items()
                           if int(b) not in touched}
            else:
                # nothing to prune or carry (first commit, or every
                # prior bucket emptied): the write below derives the
                # bucket map from its own output dirs
                aux, carried = delta, {}
            # ONE exchange for both the multiset aggregation and the
            # bucket clustering (r15, guide §2.4): bucket =
            # pmod(xxhash64(groups..., value), nb) is a function of
            # the grouping key, so hash-partitioning by bucket already
            # clusters every (group, value) into one partition — the
            # groupBy reuses it (HashPartitioning(bucket) satisfies
            # ClusteredDistribution(bucket, groups, value)) instead of
            # adding its own shuffle, and the partitionBy write still
            # lays one file per touched bucket per commit.
            aux = (
                aux.withColumn(
                    "bucket", self._aux_bucket_expr(F.col("value"))
                )
                .repartition("bucket")
                .groupBy("bucket", *self._groups, "value")
                .agg(F.sum("cnt").alias("cnt"))
                .filter(F.col("cnt") != 0)
            )
            # file schema excludes the bucket partition column — the
            # read path targets bucket=N dirs directly
            aux_schemas[c] = json.loads(aux.drop("bucket").schema.json())
            out_dir = os.path.join(commit_dir, f"mm_{c}")
            (
                aux.write.partitionBy("bucket")
                .mode("overwrite").parquet(out_dir)
            )
            written = {}
            if os.path.isdir(out_dir):
                written = {
                    d.split("=", 1)[1]: commit
                    for d in os.listdir(out_dir) if d.startswith("bucket=")
                }
            # a touched bucket whose merged slice emptied (every cnt
            # hit 0) writes no dir and drops out of the map — that
            # disappearance IS the retraction, bucket-granular
            aux_buckets[c] = {**carried, **written}
        log.commit(manifest, {  # the commit point
            "batch_id": batch_id,
            "writer_id": writer_id,
            "commit": commit,
            "schema": json.loads(merged.schema.json()),
            "aux_schemas": aux_schemas,
            "aux_buckets": aux_buckets,
            "aux_num_buckets": self.aux_num_buckets,
        })

    def vacuum(self, keep_versions: int = 1) -> int:
        """GC old rollup versions; see ``CommitLog.vacuum``. Untouched
        aux buckets are REFERENCED from older commits, not rewritten,
        so those commits stay live with the manifest."""
        return self.log.vacuum(keep_versions, lambda m: [
            m["commit"],
            *(c for bucket_map in m.get("aux_buckets", {}).values()
              for c in bucket_map.values()),
        ])
