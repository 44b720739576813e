"""VersionedMirrorSink with range buckets (a ``bucket_expr`` over the
key, the layout bench.py's range merge measures): merge correctness and
the partition-pruning contract — untouched buckets' files stay
byte-identical after a merge, and a fully deleted bucket leaves the
manifest. Also schema evolution when a batch touches only some
buckets."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest

from postgres_opensearch_cdc_spark.streaming.apply import VersionedMirrorSink


def chg(spark, rows):
    return spark.createDataFrame(rows, "op string, id long, v string, offset long")


def file_state(path):
    out = {}
    for f in glob.glob(os.path.join(path, "data", "commit-*", "_bucket=*", "*.parquet")):
        with open(f, "rb") as fh:
            out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


@pytest.fixture()
def sink(tmp_path):
    return VersionedMirrorSink(
        path=str(tmp_path / "mirror"),
        key_cols=["id"],
        seq_cols=["offset"],
        bucket_expr="id div 10",
    )


def test_merge_correctness(spark, sink):
    sink.apply_batch(
        chg(spark, [("c", i, f"v{i}", i) for i in range(100)]), batch_id=0
    )
    sink.apply_batch(
        chg(spark, [("u", 5, "v5b", 200), ("d", 7, None, 201), ("c", 100, "new", 202)]),
        batch_id=1,
    )
    state = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert len(state) == 100  # 100 - 1 delete + 1 insert
    assert state[5] == "v5b"
    assert 7 not in state
    assert state[100] == "new"
    # the insert past the last range opened a new bucket
    assert sorted(map(int, sink.latest_manifest()["buckets"])) == list(range(11))


def test_untouched_buckets_not_rewritten(spark, sink):
    sink.apply_batch(
        chg(spark, [("c", i, f"v{i}", i) for i in range(200)]), batch_id=0
    )
    before = file_state(sink.path)
    assert len(before) > 0
    buckets_before = dict(sink.latest_manifest()["buckets"])
    # a single-key batch touches exactly one range bucket: id 5 -> 0
    sink.apply_batch(chg(spark, [("u", 5, "v5b", 300)]), batch_id=1)
    after = file_state(sink.path)
    changed = {
        f for f in before if f not in after or after[f] != before[f]
    } | {f for f in after if f not in before}
    assert changed, "the touched bucket must rewrite"
    for f in changed:
        assert f"{os.sep}_bucket=0{os.sep}" in f, f"untouched partition rewritten: {f}"
    buckets_after = sink.latest_manifest()["buckets"]
    moved = {b for b in buckets_after if buckets_after[b] != buckets_before[b]}
    assert moved == {"0"}
    # correctness preserved
    assert sink.read(spark).count() == 200


def test_fully_deleted_bucket_removed(spark, sink):
    ids = list(range(30))
    sink.apply_batch(chg(spark, [("c", i, "x", i) for i in ids]), batch_id=0)
    # delete every key in range bucket 1 (ids 10..19)
    doomed = list(range(10, 20))
    sink.apply_batch(
        chg(spark, [("d", i, None, 100 + i) for i in doomed]), batch_id=1
    )
    state = {r["id"] for r in sink.read(spark).collect()}
    assert state == set(ids) - set(doomed)
    assert sorted(map(int, sink.latest_manifest()["buckets"])) == [0, 2]


def test_equal_seq_replay_batch_row_wins(spark, sink):
    """Equal-seq tie-break across range buckets: the incoming batch row
    beats the mirrored row when seq values tie (replayed backfill
    shape, both sides seq=-1)."""
    sink.apply_batch(chg(spark, [("c", 1, "a", -1), ("c", 12, "b", -1)]), batch_id=0)
    sink.apply_batch(chg(spark, [("d", 1, None, -1), ("u", 12, "b2", -1)]), batch_id=1)
    state = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert state == {12: "b2"}


def test_versioned_mirror_schema_evolution(spark, tmp_path):
    """Schema evolution across commits: a column added mid-stream
    null-fills untouched buckets' older commit files on read, and the
    evolved column survives later batches without it."""
    sink = VersionedMirrorSink(
        path=str(tmp_path / "vmirror"),
        key_cols=["id"],
        seq_cols=["offset"],
        num_buckets=4,
    )
    b1 = spark.createDataFrame(
        [("c", 1, "ok", 1), ("c", 2, "new", 2), ("c", 3, "x", 3)],
        "op string, id long, status string, offset long",
    )
    sink.apply_batch(b1, 0)
    b2 = spark.createDataFrame(
        [("u", 2, "upd", 4, "gold")],
        "op string, id long, status string, offset long, tier string",
    )
    sink.apply_batch(b2, 1)
    rows = {r["id"]: r for r in sink.read(spark).collect()}
    assert rows[2]["tier"] == "gold"
    assert rows[1]["tier"] is None and rows[3]["tier"] is None
    b3 = spark.createDataFrame(
        [("u", 3, "y", 5)],
        "op string, id long, status string, offset long",
    )
    sink.apply_batch(b3, 2)
    rows = {r["id"]: r for r in sink.read(spark).collect()}
    assert rows[3]["status"] == "y"
    assert rows[2]["tier"] == "gold", "evolved column lost across commits"


def test_partitioned_mirror_schema_evolution_across_buckets(spark, sink):
    """A batch that evolves the schema touches only SOME buckets —
    untouched buckets keep old-schema files. Reads must null-fill them
    so the evolved column survives, and later merges must not destroy
    it."""
    b1 = spark.createDataFrame(
        [("c", i, f"s{i}", i) for i in range(1, 80, 10)],
        "op string, id long, v string, offset long",
    )
    sink.apply_batch(b1, 0)
    b2 = spark.createDataFrame(
        [("u", 1, "s1b", 100, "gold")],
        "op string, id long, v string, offset long, tier string",
    )
    sink.apply_batch(b2, 1)
    assert len(set(sink.latest_manifest()["buckets"].values())) == 2
    rows = {r["id"]: r for r in sink.read(spark).collect()}
    assert rows[1]["tier"] == "gold"
    assert all(rows[i]["tier"] is None for i in range(11, 80, 10))
    # a later batch without the column, touching id=1's bucket, must
    # keep the column in the mirror
    b3 = spark.createDataFrame(
        [("u", 1, "s1c", 200)],
        "op string, id long, v string, offset long",
    )
    sink.apply_batch(b3, 2)
    rows = {r["id"]: r for r in sink.read(spark).collect()}
    assert rows[1]["v"] == "s1c"
    assert "tier" in sink.read(spark).columns, "evolved column dropped on read"
