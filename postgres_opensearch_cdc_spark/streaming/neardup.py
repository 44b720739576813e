"""Streaming near-duplicate suppression: MinHash+LSH dedup as a
foreachBatch sink — the in-stream form of the batch dedup pipeline
(functions/dedup.py), built from batch primitives so it needs neither
the transformWithState protobuf runtime nor unbounded state-store
growth.

Per micro-batch:
  1. signature: shingle arrays -> shuffle-free MinHash signatures ->
     b band keys per doc (pure projections, functions/dedup.py).
  2. history check: anti-join the batch's band keys against the
     persisted band-key store; a doc colliding with a key owned by a
     DIFFERENT doc is a near-dup of an earlier survivor.
  3. within-batch resolution: among the remaining docs, each band key
     is owned by its min doc_id; a doc sharing any key with a smaller
     surviving candidate is suppressed (greedy min-per-key clustering —
     deterministic; clusters chained through suppressed docs collapse
     to the cluster minimum, matching the batch pipeline's keep-min
     convention).
  4. survivors append to the output; their band keys append to the
     store with their owner id.

Semantics note (inherent to one-pass LSH dedup, batch or stream): a
suppressed document's band keys are NOT registered, so a later doc
near-duplicate of the suppressed one but of no survivor passes. The
reference batch pipeline has the same property; callers wanting
closure run the batch verify over survivors periodically.

Scale: state is the band-key store — b longs per SURVIVING doc, i.e.
O(corpus after dedup), living in storage (partition-prunable parquet),
not executor memory. Each batch's work is one broadcast-or-shuffle
anti-join of |batch|*b key rows against the store, independent of
stream history length. Exactly-once: batch_id is recorded in the store
meta and replayed batches are skipped (same protocol as
VersionedMirrorSink); within one batch the whole append pair
(survivors + keys) happens before the meta write, and a crash between
appends is healed by the batch replay check plus owner-aware collision
(a doc colliding only with its OWN registered keys is not suppressed).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgres_opensearch_cdc_spark.commits import commit_batch, last_batch
from postgres_opensearch_cdc_spark.functions.dedup import (
    minhash_signatures_from_arrays,
    shingle_arrays,
)


def band_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hasher: str = "xxhash64",
    carry: list[str] | None = None,
) -> DataFrame:
    """(id, [carry...], band, k0..k{r-1}) — `bands` rows per doc, all
    scan-stage projections (shingle → shuffle-free MinHash signature →
    banded key split). Shared by the durable NearDupSink and the
    within-watermark operator."""
    rpb = num_hashes // bands
    arrays = shingle_arrays(docs, text_col, id_col, n=shingle_n, carry=carry)
    sigs = minhash_signatures_from_arrays(
        arrays, num_hashes=num_hashes, hasher=hasher
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            *[F.col(f"h{b * rpb + r}").alias(f"k{r}") for r in range(rpb)],
        )
        for b in range(bands)
    ]
    carry_cols = list(carry or [])
    return sigs.select(
        F.col("id"), *carry_cols, F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", *carry_cols, "bk.band", *[f"bk.k{r}" for r in range(rpb)])


def within_watermark_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    *,
    watermark: str = "1 hour",
    window: str = "10 minutes",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Streaming near-dup suppression entirely inside Structured
    Streaming state (no external store): MinHash band keys feed
    dropDuplicatesWithinWatermark — each band key is claimed by the
    FIRST document that arrives with it inside the watermark horizon —
    then a chained windowed aggregation counts the bands each document
    still owns. A document that owns ALL its bands collided with
    nobody earlier and survives; sharing ANY band with an earlier
    arrival suppresses it (stricter than the batch pipeline's
    any-band-candidate + exact-verify: in-stream there is no second
    look, matching first-seen-wins semantics).

    State is b longs per claimed band key, EVICTED at the watermark —
    bounded by the arrival rate × horizon, not by stream history (the
    durable-corpus complement is NearDupSink, whose store grows with
    the survivor corpus instead). Output is append-mode: survivors
    emit when their window passes the watermark.

    Requires Spark's chained-stateful-operator support
    (dedup-within-watermark → time-window aggregation, Spark 3.5+)."""
    keys = band_keys(
        docs.select(id_col, text_col, ts_col),
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        hasher=hasher,
        carry=[ts_col],
    )
    rpb = num_hashes // bands
    key_cols = ["band"] + [f"k{r}" for r in range(rpb)]
    claims = keys.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
    return (
        claims.groupBy(F.window(ts_col, window).alias("w"), F.col("id"))
        .agg(F.count(F.lit(1)).alias("bands_owned"))
        .filter(F.col("bands_owned") == bands)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("id").alias(id_col),
            "bands_owned",
        )
    )


@dataclass
class NearDupSink:
    """foreachBatch sink keeping only first-seen near-unique documents.

    Layout:
        <path>/survivors/   appended parquet (doc_id, text)
        <path>/bandkeys/    appended parquet (band, k0..k3, owner)
        <path>/_meta.json   {"batch_id": last applied}
    """

    path: str
    id_col: str = "doc_id"
    text_col: str = "text"
    num_hashes: int = 32
    bands: int = 8
    shingle_n: int = 3
    hasher: str = "xxhash64"

    @property
    def _survivors(self) -> str:
        return os.path.join(self.path, "survivors")

    @property
    def _bandkeys(self) -> str:
        return os.path.join(self.path, "bandkeys")

    @property
    def _rpb(self) -> int:
        return self.num_hashes // self.bands

    @property
    def _layout(self) -> dict:
        """Parameters that determine the band-key layout: reopening an
        existing store under different values would probe keys computed
        with a different scheme and silently miss duplicates."""
        return {
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "shingle_n": self.shingle_n,
            "hasher": self.hasher,
        }

    def survivors(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._survivors)

    def _band_keys(self, docs: DataFrame) -> DataFrame:
        """(id, band, k0..k{r-1}) — b rows per doc, all projections."""
        return band_keys(
            docs,
            self.id_col,
            self.text_col,
            num_hashes=self.num_hashes,
            bands=self.bands,
            shingle_n=self.shingle_n,
            hasher=self.hasher,
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        last = last_batch(self.path, self._layout)
        if last is not None and batch_id >= 0 and batch_id <= last:
            return  # replayed batch — already applied
        key_cols = ["band"] + [f"k{r}" for r in range(self._rpb)]
        # spread the batch before the minhash signature pass — the
        # CPU-heavy stage — so it isn't pinned to the source's file
        # count; no-op on a well-partitioned batch (guide §2.5)
        from postgres_opensearch_cdc_spark.functions.dedup import (
            _ensure_parallelism,
        )

        keys = self._band_keys(
            _ensure_parallelism(batch.select(self.id_col, self.text_col))
        ).localCheckpoint(eager=True)

        # 2. history: suppressed if any key is owned by a different doc
        if os.path.isdir(self._bandkeys):
            store = spark.read.parquet(self._bandkeys)
            hit = (
                keys.join(store, key_cols)
                .filter(F.col("id") != F.col("owner"))
                .select("id")
                .distinct()
            )
            fresh = keys.join(hit, "id", "left_anti")
        else:
            fresh = keys

        # 3. within-batch: min doc_id per band key owns it; any doc
        # sharing a key with a smaller candidate is suppressed
        owners = fresh.groupBy(*key_cols).agg(F.min("id").alias("min_id"))
        keep_ids = (
            fresh.join(owners, key_cols)
            .groupBy("id")
            .agg(F.max(F.when(F.col("min_id") < F.col("id"), 1).otherwise(0)).alias("sup"))
            .filter(F.col("sup") == 0)
            .select("id")
        )

        # 4. append survivors + their band keys, then commit the batch id
        survivors = batch.join(
            keep_ids.withColumnRenamed("id", self.id_col), self.id_col, "left_semi"
        ).localCheckpoint(eager=True)
        survivors.write.mode("append").parquet(self._survivors)
        keys.join(keep_ids, "id", "left_semi").select(
            *key_cols, F.col("id").alias("owner")
        ).write.mode("append").parquet(self._bandkeys)
        commit_batch(self.path, batch_id, self._layout)


@dataclass
class SpanDedupSink:
    """Streaming substring-level dedup: the foreachBatch form of
    ``functions.dedup.incremental_duplicate_spans`` — each micro-batch
    of NEW documents reports its duplicated token spans against the
    durable window-hash store of everything ingested so far (plus
    within-batch repeats), then registers its own distinct window
    hashes. The in-stream realization of "dedup training data at the
    N-token level" for a corpus that arrives continuously.

    Layout:
        <path>/spans/       appended parquet (id, span_start,
                            span_end, n_windows, batch_id)
        <path>/winhashes/   appended parquet (win_hash, owner),
                            hash-partitioned into bucket=N dirs by
                            pmod(win_hash, num_buckets) — owner-aware
                            like NearDupSink's band store, so a
                            replayed batch never collides with its
                            OWN registration and re-derives
                            byte-identical span rows
        <path>/_meta.json   {"batch_id": last applied, "num_buckets",
                            "window"} — the layout params are enforced
                            on reopen (a different modulus would probe
                            the wrong bucket dirs and silently miss
                            spans)

    Scale: state is one (hash, owner) pair per doc-distinct window —
    O(corpus tokens) in storage, never executor memory; each batch's
    work is its own shingling plus one hash-keyed join against the
    store. The store is bucketed by pmod(win_hash, num_buckets): a
    batch lists its DISTINCT touched buckets (a bounded driver-side
    list, same pattern as VersionedMirrorSink's merge) and the join
    reads ONLY those bucket directories with the sidecar-free explicit
    schema — per-batch store I/O is O(|touched buckets' data|), flat
    as the store grows, instead of a full-store scan. At 100 TB set
    num_buckets so one bucket ≈ one task's worth of hashes; a small
    micro-batch then touches a small fraction of the store.
    Replay protection: a batch id at or below the
    recorded meta is skipped whole. A crash BETWEEN the appends and
    the meta commit re-runs the batch on restart, deterministically
    re-deriving the same rows (the store join excludes rows owned by
    current-batch ids, so a replay never meets its own crashed
    registrations) — so raw appends are at-least-once, and
    span rows carry their batch id with the ``spans()`` reader
    dropping exact duplicates (winhash duplicates are harmless: the
    store is only ever joined on existence). One-pass semantics are
    CROSS-BATCH: a span first seen in an earlier batch is not
    re-reported as its own duplicate — only later-batch repeats are.
    WITHIN a batch, repeats mark every occurrence including the first
    (exactly like the batch operator, whose count-by-hash has no
    arrival order to break the tie with); the trim policy picks the
    survivor downstream."""

    path: str
    id_col: str = "doc_id"
    text_col: str = "text"
    window: int = 10
    num_buckets: int = 16

    @property
    def _spans(self) -> str:
        return os.path.join(self.path, "spans")

    @property
    def _winhashes(self) -> str:
        return os.path.join(self.path, "winhashes")

    def _store_for(self, spark: SparkSession, id_type,
                   buckets: list) -> "DataFrame | None":
        """The (win_hash, owner) store slice covering ``buckets`` —
        reads ONLY the matching bucket=N directories (buckets with no
        directory yet have nothing to meet) with an explicit schema,
        so neither the scan nor schema resolution ever sweeps the
        whole store."""
        from pyspark.sql import types as T

        dirs = [
            p for b in buckets
            if os.path.isdir(p := os.path.join(self._winhashes, f"bucket={b}"))
        ]
        if not dirs:
            return None
        schema = T.StructType([
            T.StructField("win_hash", T.LongType()),
            T.StructField("owner", id_type),
        ])
        return spark.read.schema(schema).parquet(*dirs)

    @property
    def _layout(self) -> dict:
        """Parameters that determine the store layout. ``num_buckets``
        is the critical one: probing bucket dirs laid out under a
        different modulus silently skips buckets and misses duplicate
        spans, so the persisted value is enforced on reopen."""
        return {"num_buckets": self.num_buckets, "window": self.window}

    def spans(self, spark: SparkSession) -> DataFrame:
        # distinct heals the crash-between-append-and-meta replay:
        # re-derived rows are identical (deterministic batch), so
        # exact-duplicate drop restores exactly-once reads
        return spark.read.parquet(self._spans).distinct()

    def _batch_seeds(self, wins: DataFrame) -> DataFrame:
        """Within-batch seed occurrences: every occurrence of a hash
        repeated in the batch (the report-all-duplicates semantics of
        duplicate_window_spans)."""
        batch_dup = (
            wins.groupBy("win_hash")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2)
            .select("win_hash")
        )
        return wins.join(batch_dup, "win_hash").select("id", "start")

    def _emit(self, batch: DataFrame, spans: DataFrame,
              batch_id: int) -> None:
        # two consumers (isEmpty + write): materialize once
        spans = spans.localCheckpoint(eager=True)
        if spans.isEmpty():
            # parquet append of an empty frame still lays schema files;
            # skip so spans/ exists only once something fired
            return
        # per-batch span volume is funnel-shaped (seeds of seeds) —
        # cap the append's file count so the log stays listable
        spans.coalesce(8).write.mode("append").parquet(self._spans)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from postgres_opensearch_cdc_spark.functions.dedup import (
            merge_seed_spans,
            token_windows,
        )

        spark = batch.sparkSession
        last = last_batch(self.path, self._layout)
        if last is not None and batch_id >= 0 and batch_id <= last:
            return  # replayed batch — already applied
        # spread BEFORE the checkpoint: the micro-batch's partitioning
        # is whatever the source delivered (a few files → a few tasks),
        # and everything downstream — shingling, the store join, the
        # trim — inherits it. _ensure_parallelism is a no-op on an
        # already well-partitioned batch (guide §2.5, input skew).
        from postgres_opensearch_cdc_spark.functions.dedup import (
            _ensure_parallelism,
        )

        batch = _ensure_parallelism(
            batch.select(self.id_col, self.text_col)
        ).localCheckpoint(eager=True)
        wins = token_windows(
            batch, self.text_col, self.id_col, window=self.window,
        ).localCheckpoint(eager=True)
        seeds = self._batch_seeds(wins)
        if os.path.isdir(self._winhashes):
            # owner-aware: a window is store-duplicated only when a
            # DIFFERENT doc registered its content — a replayed batch
            # meeting its own registration re-derives the original
            # seeds exactly. Only the batch's touched buckets are read
            # (bounded driver-side list; at most num_buckets entries).
            touched = sorted(
                r["b"] for r in wins.select(
                    F.pmod("win_hash", F.lit(self.num_buckets)).alias("b")
                ).distinct().collect()
            )
            store = self._store_for(
                spark, wins.schema["id"].dataType, touched
            )
            if store is not None:
                # crash-replay determinism: a crash between the winhash
                # append and the meta commit leaves THIS batch's own
                # registrations in the store; on replay they must not
                # act as "earlier batch" content (a within-batch
                # canonical would join a batchmate's row, pass
                # id != owner, and get seeded unlike the original run).
                # Excluding every store row owned by a current-batch id
                # makes the replay see exactly the pre-batch store —
                # ids are batch-unique, so in a normal run this
                # anti-join removes nothing.
                store = store.join(
                    F.broadcast(
                        batch.select(F.col(self.id_col).alias("owner"))
                    ),
                    "owner",
                    "left_anti",
                )
                store_seeds = (
                    wins.join(store, "win_hash")
                    .filter(F.col("id") != F.col("owner"))
                    .select("id", "start")
                )
                seeds = seeds.unionByName(store_seeds).distinct()
        # spans is NOT materialized here: the trim sink consumes it
        # exactly once (one fewer job per batch); the report sink reads
        # it twice (isEmpty + write) and checkpoints in its own _emit
        spans = merge_seed_spans(seeds, self.window).withColumn(
            "batch_id", F.lit(int(batch_id))
        )

        # repartition on the bucket before the partitionBy write: each
        # bucket lands in exactly one task → one file per touched
        # bucket per batch, instead of (shuffle partitions × buckets)
        # small files that would bloat the store's file listing
        # repartition by bucket VALUE (session shuffle-partition count,
        # not num_buckets: an explicit high count would launch one
        # near-empty task per bucket for small batches): each bucket
        # hashes into exactly one task, so the partitionBy write still
        # lays one file per touched bucket per batch
        # no distinct before the write: store duplicates are harmless
        # by contract (the store is only ever joined on existence, and
        # every seed derivation downstream re-distincts), so the dedup
        # exchange was a pure extra shuffle of the widest relation in
        # the batch — one bucket repartition is the whole write cost
        # (r14, guide §2.4: remove shuffles outright)
        def _write_store() -> None:
            wins.select(
                "win_hash", F.col("id").alias("owner"),
                F.pmod("win_hash", F.lit(self.num_buckets)).alias("bucket"),
            ).repartition("bucket").write.partitionBy(
                "bucket"
            ).mode("append").parquet(self._winhashes)

        # OVERLAP the two independent per-batch writes (guide §2.6):
        # the emit (seeds → spans → trim/report write) and the winhash
        # store append both consume only the CHECKPOINTED batch/wins
        # frames and write to different dirs, so their jobs can share
        # the executor instead of running back-to-back — each leaves
        # most cores idle in its tail. The meta commit still happens
        # strictly after BOTH (same crash contract: a crash before it
        # replays the whole batch; the store's existence-join and the
        # readers' distinct heal the partial writes, unchanged).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            store_fut = pool.submit(_write_store)
            self._emit(batch, spans, batch_id)
            store_fut.result()
        commit_batch(self.path, batch_id, self._layout)


@dataclass
class SpanTrimSink(SpanDedupSink):
    """Streaming substring-dedup ACTION: compose the span detector
    with the trim policy (functions.dedup.trim_duplicate_spans) so
    each micro-batch emits its documents' CLEAN TEXT continuously —
    every duplicated span occurrence removed except the corpus-first
    one, where "first" is arrival order across batches and
    (min id, min start) within a batch.

    Seed semantics differ from SpanDedupSink (which REPORTS all
    occurrences): here the within-batch canonical occurrence
    (min id, min start per window content) is kept, and every batch
    occurrence of store-registered content is redundant (its
    canonical copy survived in an earlier batch untrimmed). Fed with
    batches that partition ids in increasing order, the concatenated
    clean output is IDENTICAL to the batch operator over the whole
    corpus — pinned by the stream-vs-batch equivalence test and the
    dedup_span_trim_stream oracle entry.

    Output: <path>/clean/ appended parquet (id, clean_text,
    kept_tokens, removed_tokens, batch_id); same replay guard /
    crash-healing contract as the span report (deterministic batch →
    the clean() reader's exact-duplicate drop restores exactly-once).
    Store layout and bucketing are inherited unchanged."""

    @property
    def _clean(self) -> str:
        return os.path.join(self.path, "clean")

    def clean(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._clean).distinct()

    def _batch_seeds(self, wins: DataFrame) -> DataFrame:
        canon = wins.groupBy("win_hash").agg(
            F.min(F.struct("id", "start")).alias("first"),
            F.count(F.lit(1)).alias("n_occ"),
        ).filter(F.col("n_occ") >= 2)
        return (
            wins.join(canon, "win_hash")
            .filter(
                (F.col("id") != F.col("first.id"))
                | (F.col("start") != F.col("first.start"))
            )
            .select("id", "start")
        )

    def _emit(self, batch: DataFrame, spans: DataFrame,
              batch_id: int) -> None:
        from postgres_opensearch_cdc_spark.functions.dedup import (
            trim_tokens_by_spans,
        )

        clean = trim_tokens_by_spans(
            batch, spans.select("id", "span_start", "span_end"),
            self.text_col, self.id_col,
        ).withColumn("batch_id", F.lit(int(batch_id)))
        # unlike the span report, EVERY batch doc emits a clean row
        # (possibly untouched), so the append always happens; a
        # repartition (NOT coalesce — coalesce would collapse the
        # whole trim pipeline's parallelism into the write tasks)
        # caps the file count per batch
        clean.repartition(8).write.mode("append").parquet(self._clean)
