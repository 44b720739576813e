"""Streaming near-dup suppression (NearDupSink): first-seen-wins LSH
dedup across micro-batches, exactly-once under replay, driven both
directly (apply_batch) and through a real checkpointed stream."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from postgres_opensearch_cdc_spark.streaming.neardup import NearDupSink

BASE = (
    "spark streaming engine maintains a keyed mirror of postgres tables "
    "and answers analytics queries over the mirror with filters and aggregates"
)
NEAR = BASE.replace("analytics", "analytic")
NEAR2 = BASE.replace("filters", "filter")
FAR = "completely different text about cooking pasta with tomatoes and basil leaves in a copper pot"
FAR2 = "another unrelated document mentions violins orchestras and a concert hall acoustics study"


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def sink(tmp_path):
    return NearDupSink(path=str(tmp_path / "neardup"))


def surviving_ids(spark, sink):
    return {r["doc_id"] for r in sink.survivors(spark).collect()}


def test_within_batch_keeps_min_of_cluster(spark, sink):
    sink.apply_batch(docs(spark, [(3, NEAR), (1, BASE), (2, BASE), (9, FAR)]), 0)
    # 1,2,3 are one near-dup cluster -> keep min id 1; 9 unrelated
    assert surviving_ids(spark, sink) == {1, 9}


def test_cross_batch_suppression_first_seen_wins(spark, sink):
    sink.apply_batch(docs(spark, [(1, BASE), (9, FAR)]), 0)
    sink.apply_batch(docs(spark, [(11, NEAR), (12, FAR2)]), 1)
    # 11 is a near-dup of batch-0's survivor 1 -> suppressed; 12 is new
    assert surviving_ids(spark, sink) == {1, 9, 12}


def test_replayed_batch_is_skipped(spark, sink):
    sink.apply_batch(docs(spark, [(1, BASE)]), 0)
    sink.apply_batch(docs(spark, [(2, NEAR), (5, FAR)]), 1)
    before = surviving_ids(spark, sink)
    n_files = len(os.listdir(sink._survivors))
    sink.apply_batch(docs(spark, [(2, NEAR), (5, FAR)]), 1)  # replay
    assert surviving_ids(spark, sink) == before == {1, 5}
    assert len(os.listdir(sink._survivors)) == n_files


def test_exact_dup_across_batches_suppressed(spark, sink):
    sink.apply_batch(docs(spark, [(1, BASE)]), 0)
    sink.apply_batch(docs(spark, [(7, BASE)]), 1)  # exact dup, later batch
    assert surviving_ids(spark, sink) == {1}


def test_through_real_stream(spark, sink, tmp_path):
    """Drive the sink through an actual checkpointed readStream: two
    files arriving as separate micro-batches."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string").json(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink.apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    import json as _json

    with open(os.path.join(src, "b0.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": BASE}) + "\n")
        fh.write(_json.dumps({"doc_id": 9, "text": FAR}) + "\n")
    run_once()
    with open(os.path.join(src, "b1.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 21, "text": NEAR2}) + "\n")
        fh.write(_json.dumps({"doc_id": 22, "text": FAR2}) + "\n")
    run_once()
    assert surviving_ids(spark, sink) == {1, 9, 22}


def test_within_watermark_neardup_stream(spark, tmp_path):
    """Pure-state-store variant: a real checkpointed stream through
    dropDuplicatesWithinWatermark (band claims) chained into the
    windowed owns-all-bands aggregation. A near-dup arriving after the
    original is suppressed; unrelated docs survive; results emit once
    the watermark passes their window."""
    from datetime import datetime, timedelta

    from postgres_opensearch_cdc_spark.streaming.neardup import (
        within_watermark_neardup,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    schema = "doc_id long, text string, ts timestamp"

    batch1 = [(1, BASE, t0), (9, FAR, t0 + timedelta(seconds=30))]
    batch2 = [
        (11, NEAR, t0 + timedelta(minutes=2)),
        (12, FAR2, t0 + timedelta(minutes=3)),
    ]
    # far-future row advances the watermark so earlier windows flush
    flush = [(99, "flush marker row", t0 + timedelta(days=2))]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    result = within_watermark_neardup(
        stream, watermark="1 hour", window="10 minutes"
    )
    q = (
        result.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
        q.processAllAvailable()
        spark.createDataFrame(flush, schema).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # 1 and 9 own all their bands; 11 shares bands with 1 -> suppressed;
    # 12 unrelated -> survives. 99's window hasn't flushed.
    assert emitted == {1, 9, 12}


# ---------------------------------------------------------------------------
# SpanDedupSink: streaming substring-level dedup (round 10)
# ---------------------------------------------------------------------------

from postgres_opensearch_cdc_spark.streaming.neardup import SpanDedupSink

SHARED = " ".join(f"s{i}" for i in range(15))  # 15 tokens, W=10


def span_rows(spark, sink):
    return {
        (r["id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in sink.spans(spark).collect()
    }


def test_span_sink_crash_between_append_and_meta_heals(spark, tmp_path):
    """Crash consistency: spans appended but the meta commit lost —
    the batch replays, re-appends identical rows, and the spans()
    reader's exact-duplicate drop restores exactly-once results."""
    sink = SpanDedupSink(path=str(tmp_path / "sd"))
    sink.apply_batch(docs(spark, [(1, SHARED)]), 0)
    sink.apply_batch(docs(spark, [(2, "x0 " + SHARED)]), 1)
    assert span_rows(spark, sink) == {(2, 1, 16, 6)}
    # simulate crash before the meta commit
    os.remove(os.path.join(sink.path, "_meta.json"))
    sink.apply_batch(docs(spark, [(2, "x0 " + SHARED)]), 1)  # replay
    raw = spark.read.parquet(sink._spans).count()
    assert raw == 2  # at-least-once raw appends...
    assert span_rows(spark, sink) == {(2, 1, 16, 6)}  # ...healed read


def test_span_sink_cross_batch_store_and_replay(spark, tmp_path):
    """Batch 1 registers windows only (first occurrences are the
    survivors); a later batch repeating a batch-1 span reports it with
    exact boundaries; within-batch repeats mark both docs; a replayed
    batch id appends nothing; short docs emit nothing."""
    sink = SpanDedupSink(path=str(tmp_path / "sd"))
    sink.apply_batch(docs(spark, [
        (1, "ua0 ua1 ua2 " + SHARED),
        (2, FAR),
        (5, "tiny doc"),
    ]), 0)
    assert not os.path.isdir(sink._spans)  # nothing duplicated yet

    sink.apply_batch(docs(spark, [
        (3, "va0 va1 " + SHARED + " vb0"),   # repeats batch-1 span
        (4, FAR2),
    ]), 1)
    assert span_rows(spark, sink) == {(3, 2, 17, 6)}

    # replay of batch 1 under the recorded id: no double append
    sink.apply_batch(docs(spark, [(3, "va0 va1 " + SHARED + " vb0")]), 1)
    assert span_rows(spark, sink) == {(3, 2, 17, 6)}

    # within-batch repeats mark BOTH docs (same min_count semantics
    # as the batch operator)
    phrase = " ".join(f"p{i}" for i in range(12))
    sink.apply_batch(docs(spark, [
        (6, phrase), (7, "w0 w1 w2 " + phrase)]), 2)
    got = span_rows(spark, sink)
    assert (6, 0, 12, 3) in got and (7, 3, 15, 3) in got


def test_span_sink_through_real_stream(spark, tmp_path):
    """Real checkpointed stream: two files as separate micro-batches;
    the second file's repeat of a first-file span is reported."""
    import json as _json

    sink = SpanDedupSink(path=str(tmp_path / "sd"))
    src = str(tmp_path / "in")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string").json(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink.apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with open(os.path.join(src, "b0.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": SHARED}) + "\n")
    run_once()
    with open(os.path.join(src, "b1.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": "x0 " + SHARED}) + "\n")
    run_once()
    assert span_rows(spark, sink) == {(2, 1, 16, 6)}
    # drained re-run: nothing new
    run_once()
    assert span_rows(spark, sink) == {(2, 1, 16, 6)}


def test_span_sink_bucketed_store_prunes_reads(spark, tmp_path):
    """The winhash store is hash-partitioned by pmod(win_hash,
    num_buckets): a batch's store join must read ONLY its touched
    bucket directories — a strict subset for a small batch — and the
    bucketed layout must produce the same spans as ever (the 100 TB
    promise in the sink docstring, now real)."""
    from pyspark.sql import types as T

    from postgres_opensearch_cdc_spark.functions.dedup import token_windows

    sink = SpanDedupSink(path=str(tmp_path / "sd"), num_buckets=8)
    corpus = [(i, " ".join(f"d{i}t{j}" for j in range(20)))
              for i in range(40)]
    sink.apply_batch(docs(spark, corpus + [(100, SHARED)]), 0)
    on_disk = {d for d in os.listdir(sink._winhashes)
               if d.startswith("bucket=")}
    assert len(on_disk) == 8  # 40×11 windows cover every bucket

    probe = docs(spark, [(99, "x0 " + SHARED)])
    wins = token_windows(probe, "text", "doc_id", window=sink.window)
    touched = sorted(
        r["b"] for r in wins.select(
            F.pmod("win_hash", F.lit(sink.num_buckets)).alias("b")
        ).distinct().collect()
    )
    assert len(touched) < 8  # 7 windows occupy at most 7 of 8 buckets
    store = sink._store_for(spark, T.LongType(), touched)
    files = store.inputFiles()
    assert files
    assert all(
        any(f"/bucket={b}/" in f for b in touched) for f in files
    ), "store read must touch ONLY the batch's bucket dirs"
    untouched = [b for b in range(8) if b not in touched]
    assert untouched and not any(
        f"/bucket={b}/" in f for b in untouched for f in files
    )

    # end-to-end through the bucketed path: the probe's repeat of the
    # registered SHARED span is still found with exact boundaries
    sink.apply_batch(probe, 1)
    assert (99, 1, 16, 6) in span_rows(spark, sink)


def test_span_trim_sink_stream_equals_batch(spark, tmp_path):
    """The streaming trim composition: fed with id-ordered batches,
    the concatenated clean output must be IDENTICAL to the batch
    trim_duplicate_spans over the whole corpus — within-batch
    canonical kept, store-registered content trimmed everywhere, and
    untouched/short docs passing through whole. Crash between the
    append and the meta commit heals through the clean() reader."""
    from postgres_opensearch_cdc_spark.functions.dedup import (
        trim_duplicate_spans,
    )
    from postgres_opensearch_cdc_spark.streaming.neardup import SpanTrimSink

    corpus = [
        (1, "ua0 ua1 ua2 " + SHARED),       # canonical SHARED copy
        (2, FAR),
        (3, "va0 " + SHARED + " vb0 vb1"),  # within-batch repeat
        (4, "w0 w1 " + SHARED),             # cross-batch repeat
        (5, "tiny doc"),
        (6, FAR2),
    ]
    sink = SpanTrimSink(path=str(tmp_path / "st"))
    sink.apply_batch(docs(spark, corpus[:3]), 0)   # ids 1-3
    sink.apply_batch(docs(spark, corpus[3:]), 1)   # ids 4-6

    def rows(df, id_name="id"):
        return {
            (r[id_name], r["clean_text"], r["kept_tokens"],
             r["removed_tokens"])
            for r in df.collect()
        }

    got = rows(sink.clean(spark).drop("batch_id"))
    want = rows(trim_duplicate_spans(
        docs(spark, corpus), "text", "doc_id", window=sink.window))
    assert got == want
    # sanity on the semantics themselves, not just equivalence
    by_id = {r[0]: r for r in got}
    assert by_id[1][3] == 0          # canonical copy untouched
    assert by_id[3][3] > 0 and by_id[4][3] > 0   # repeats trimmed
    assert by_id[5] == (5, "tiny doc", 2, 0)     # short doc whole

    # crash: meta lost after batch-1 appends; replay re-derives the
    # identical clean rows and the reader's distinct heals the log
    os.remove(os.path.join(sink.path, "_meta.json"))
    sink.apply_batch(docs(spark, corpus[3:]), 1)
    raw = spark.read.parquet(sink._clean).count()
    assert raw == 9  # 6 + replayed 3: at-least-once raw appends...
    assert rows(sink.clean(spark).drop("batch_id")) == want  # ...healed


def test_span_trim_crash_replay_with_within_batch_repeat(spark, tmp_path):
    """Adversarial crash-replay: the crashed batch contains a
    WITHIN-BATCH cross-doc repeat (doc 1 canonical, doc 2 trimmed).
    The replay meets the batch's own crashed winhash registrations in
    the store; without the owner-vs-batch-ids exclusion, doc 1's
    windows would join doc 2's store rows, pass id != owner, and the
    canonical would be trimmed on replay — two CONFLICTING clean rows
    for doc 1 that the reader's exact-duplicate drop cannot heal."""
    from postgres_opensearch_cdc_spark.functions.dedup import (
        trim_duplicate_spans,
    )
    from postgres_opensearch_cdc_spark.streaming.neardup import SpanTrimSink

    corpus = [
        (1, "a0 a1 " + SHARED),   # within-batch canonical — kept whole
        (2, "b0 " + SHARED),      # within-batch repeat — trimmed
        (3, FAR),
    ]
    sink = SpanTrimSink(path=str(tmp_path / "st"))
    sink.apply_batch(docs(spark, corpus), 0)

    def rows(df):
        return {
            (r["id"], r["clean_text"], r["kept_tokens"], r["removed_tokens"])
            for r in df.collect()
        }

    want = rows(trim_duplicate_spans(
        docs(spark, corpus), "text", "doc_id", window=sink.window))
    assert rows(sink.clean(spark).drop("batch_id")) == want

    # crash between the appends and the meta commit, then replay
    os.remove(os.path.join(sink.path, "_meta.json"))
    sink.apply_batch(docs(spark, corpus), 0)
    healed = rows(sink.clean(spark).drop("batch_id"))
    assert healed == want  # ONE row per doc — replay was deterministic
    by_id = {r[0]: r for r in healed}
    assert by_id[1][3] == 0   # canonical still untrimmed after replay
    assert by_id[2][3] > 0    # repeat still trimmed


def test_span_store_layout_params_enforced_on_reopen(spark, tmp_path):
    """num_buckets (and window) are persisted in _meta.json: a sink
    re-opening the store under a different modulus would probe the
    wrong bucket dirs and silently skip duplicate spans, so the
    mismatch raises instead."""
    path = str(tmp_path / "sd")
    SpanDedupSink(path=path, num_buckets=16).apply_batch(
        docs(spark, [(1, SHARED)]), 0)

    with pytest.raises(ValueError, match="num_buckets=16"):
        SpanDedupSink(path=path, num_buckets=8).apply_batch(
            docs(spark, [(2, "x0 " + SHARED)]), 1)
    with pytest.raises(ValueError, match="window=10"):
        SpanDedupSink(path=path, num_buckets=16, window=5).apply_batch(
            docs(spark, [(2, "x0 " + SHARED)]), 1)

    # the matching layout still works (and finds the cross-batch span)
    sink = SpanDedupSink(path=path, num_buckets=16)
    sink.apply_batch(docs(spark, [(2, "x0 " + SHARED)]), 1)
    assert (2, 1, 16, 6) in span_rows(spark, sink)


def test_neardup_band_layout_enforced_on_reopen(spark, tmp_path):
    """NearDupSink has the same hazard on its band-key store: probing
    keys computed under a different (num_hashes, bands, shingle_n,
    hasher) scheme never collides with the persisted keys."""
    path = str(tmp_path / "nd")
    NearDupSink(path=path).apply_batch(docs(spark, [(1, BASE)]), 0)
    with pytest.raises(ValueError, match="bands=8"):
        NearDupSink(path=path, bands=4).apply_batch(
            docs(spark, [(2, NEAR)]), 1)
    sink = NearDupSink(path=path)
    sink.apply_batch(docs(spark, [(2, NEAR)]), 1)
    assert surviving_ids(spark, sink) == {1}
