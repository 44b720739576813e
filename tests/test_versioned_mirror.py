"""VersionedMirrorSink: the object-store-safe commit-manifest protocol.

Contracts under test:
  * merge correctness (upsert/delete/insert, last-write-wins)
  * untouched buckets are never rewritten — their files are immutable
    and byte-identical across merges
  * fully-deleted buckets vanish from the manifest with NO directory
    delete (the rmtree-free property)
  * a crash mid-merge (data files written, manifest not) leaves the
    mirror readable and exactly at the previous committed state
  * batch replay after checkpoint recovery commits nothing twice
  * vacuum removes only unreferenced commits and never the live ones
"""

from __future__ import annotations

import glob
import hashlib
import os

import pytest

from pyspark.sql import functions as F, types as T

from postgres_opensearch_cdc_spark.streaming.apply import VersionedMirrorSink


def chg(spark, rows):
    return spark.createDataFrame(rows, "op string, id long, v string, offset long")


def data_file_hashes(path):
    out = {}
    for f in glob.glob(os.path.join(path, "data", "commit-*", "_bucket=*", "*.parquet")):
        with open(f, "rb") as fh:
            out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


def bucket_of(spark, key, n=8):
    return (
        spark.createDataFrame([(key,)], "id long")
        .select(F.pmod(F.xxhash64("id"), F.lit(n)).alias("b"))
        .head()["b"]
    )


@pytest.fixture()
def sink(tmp_path):
    return VersionedMirrorSink(
        path=str(tmp_path / "mirror"),
        key_cols=["id"],
        seq_cols=["offset"],
        num_buckets=8,
    )


def test_merge_correctness(spark, sink):
    sink.apply_batch(chg(spark, [("c", i, f"v{i}", i) for i in range(100)]), batch_id=0)
    sink.apply_batch(
        chg(spark, [("u", 5, "v5b", 200), ("d", 7, None, 201), ("c", 100, "new", 202)]),
        batch_id=1,
    )
    state = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert len(state) == 100
    assert state[5] == "v5b"
    assert 7 not in state
    assert state[100] == "new"


def test_untouched_bucket_files_byte_identical(spark, sink):
    sink.apply_batch(chg(spark, [("c", i, f"v{i}", i) for i in range(200)]), batch_id=0)
    before = data_file_hashes(sink.path)
    assert before
    sink.apply_batch(chg(spark, [("u", 5, "v5b", 300)]), batch_id=1)
    after = data_file_hashes(sink.path)
    # immutability: every pre-existing file still present, bytes unchanged
    for f, h in before.items():
        assert after[f] == h, f"immutable data file changed: {f}"
    # new files appear only under the new commit, only the touched bucket
    tb = bucket_of(spark, 5)
    for f in set(after) - set(before):
        assert f"_bucket={tb}" in f
    assert sink.read(spark).count() == 200
    # and the manifest points untouched buckets at the OLD commit
    m = sink.latest_manifest()
    commits = set(m["buckets"].values())
    assert len(commits) == 2


def test_fully_deleted_bucket_absent_without_rmtree(spark, sink):
    ids = list(range(20))
    sink.apply_batch(chg(spark, [("c", i, "x", i) for i in ids]), batch_id=0)
    vb = bucket_of(spark, 3)
    doomed = [i for i in ids if bucket_of(spark, i) == vb]
    first_commit = next(iter(sink.latest_manifest()["buckets"].values()))
    sink.apply_batch(chg(spark, [("d", i, None, 100 + i) for i in doomed]), batch_id=1)
    state = {r["id"] for r in sink.read(spark).collect()}
    assert state == set(ids) - set(doomed)
    m = sink.latest_manifest()
    assert str(vb) not in m["buckets"]
    # rmtree-free: the old commit's data for that bucket is still on disk
    assert os.path.isdir(
        os.path.join(sink.path, "data", first_commit, f"_bucket={vb}")
    )


def test_crash_mid_merge_leaves_consistent_mirror(spark, sink):
    """Data files written but no manifest = uncommitted. Readers see the
    previous version; the next apply proceeds normally."""
    sink.apply_batch(chg(spark, [("c", i, f"v{i}", i) for i in range(50)]), batch_id=0)
    committed = {(r["id"], r["v"]) for r in sink.read(spark).collect()}
    v1 = sink.latest_manifest()["version"]

    # simulate the crash: run the data-file phase of a merge by hand —
    # write a full orphan commit dir, then "die" before the manifest
    orphan = chg(spark, [("u", 1, "CRASHED", 999)]).withColumn(
        "_bucket", F.pmod(F.xxhash64("id"), F.lit(8))
    )
    orphan.write.partitionBy("_bucket").parquet(
        os.path.join(sink.path, "data", "commit-99999999-deadbeef")
    )

    assert sink.latest_manifest()["version"] == v1
    assert {(r["id"], r["v"]) for r in sink.read(spark).collect()} == committed

    # recovery: the stream replays the batch; merge applies cleanly
    sink.apply_batch(chg(spark, [("u", 1, "v1-new", 1000)]), batch_id=1)
    state = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert state[1] == "v1-new"
    assert len(state) == 50


def test_replay_same_batch_id_is_noop(spark, sink):
    sink.apply_batch(chg(spark, [("c", 1, "a", 1)]), batch_id=0)
    sink.apply_batch(chg(spark, [("u", 1, "b", 2)]), batch_id=1)
    v = sink.latest_manifest()["version"]
    # checkpoint recovery re-delivers batch 1 — must not commit again
    sink.apply_batch(chg(spark, [("u", 1, "b", 2)]), batch_id=1)
    assert sink.latest_manifest()["version"] == v
    assert {r["v"] for r in sink.read(spark).collect()} == {"b"}


def test_vacuum_keeps_live_commits(spark, sink):
    for i in range(4):
        sink.apply_batch(chg(spark, [("u", 1, f"v{i}", i)]), batch_id=i)
    live = set(sink.latest_manifest()["buckets"].values())
    removed = sink.vacuum(keep_versions=1)
    assert removed >= 2
    remaining = set(os.listdir(os.path.join(sink.path, "data")))
    assert live <= remaining
    assert {r["v"] for r in sink.read(spark).collect()} == {"v3"}
    # exactly one manifest left
    assert len(sink.log.names()) == 1


def test_vacuum_zero_keep_versions_rejected(spark, sink):
    """vacuum(keep_versions=0) would delete every manifest and leave the
    mirror permanently unreadable — it must be rejected up front and
    leave the mirror untouched."""
    for i in range(3):
        sink.apply_batch(chg(spark, [("u", 1, f"v{i}", i)]), batch_id=i)
    manifests_before = sink.log.names()
    with pytest.raises(ValueError, match="keep_versions"):
        sink.vacuum(keep_versions=0)
    with pytest.raises(ValueError, match="keep_versions"):
        sink.vacuum(keep_versions=-1)
    assert sink.log.names() == manifests_before
    assert {r["v"] for r in sink.read(spark).collect()} == {"v2"}


def test_equal_seq_replay_batch_row_wins(spark, sink):
    """Equal-seq tie-break: a re-run backfill where the batch and the
    mirror carry the same seq must resolve the SAME way every run —
    the batch row wins. Covers the delete-vs-mirrored-update flip."""
    sink.apply_batch(
        chg(spark, [("c", 1, "a", -1), ("c", 2, "b", -1)]), batch_id=0
    )
    # replayed backfill: same seq (-1), one row now a delete, one changed
    sink.apply_batch(
        chg(spark, [("d", 1, None, -1), ("u", 2, "b2", -1)]), batch_id=1
    )
    state = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert state == {2: "b2"}


# -- explicit-schema, job-free snapshot reads --------------------------------


def head_read(spark, sink, version=None):
    """The snapshot as read before reads took the manifest's schema:
    one footer-inferred relation per commit dir, unioned by name with
    missing columns null-filled. The reference the new read must
    match row for row."""
    from functools import reduce

    manifest = sink.manifest(version)
    parts = [
        spark.read.option(
            "basePath", os.path.join(sink.path, "data", cid)
        ).parquet(*paths)
        for cid, paths in sorted(sink._bucket_paths(manifest).items())
    ]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    ).drop("_bucket")


def rows_by_name(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def jobs_launched(spark, fn):
    """(fn(), number of Spark jobs fn launched). Counted by job group:
    the status store keeps only the last spark.ui.retainedJobs jobs,
    so a before/after size of the whole job list stops moving once a
    long test session has run that many."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# A non-first apply_batch on a pruning layout (more than one bucket)
# runs the touched-bucket stats collect and the merge write, each a
# shuffle-map job plus a result job under AQE. The slice read of the
# touched buckets adds none: it takes the manifest's schema (no footer
# job) and lists at most the listing threshold of dirs per relation
# serially in-process (no listing job).
PRUNING_LAYOUT_APPLY_BATCH_JOBS = 4
# On a one-bucket layout there is nothing to prune: the stats job is
# skipped and the sequence maxima are observed on the merge write.
ONE_BUCKET_APPLY_BATCH_JOBS = 2


def test_snapshot_reads_launch_no_jobs(spark, tmp_path):
    """64 buckets over 3 commit dirs: view(), read(version=N) and a PIT
    search build their frames without a Spark job, and a merge runs
    only its own stats and write jobs."""
    from postgres_opensearch_cdc_spark.engine import CdcEngine

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    schema = "id long, status string"
    engine.register_table("t", T.StructType.fromDDL(schema))
    # pinned: 640 rows would derive 1 bucket, and the reads under test
    # must span many bucket dirs over several commits
    engine.tables["t"].sink.num_buckets = 64
    engine.bulk("t", [
        {"index": {"id": i, "status": "A"}} for i in range(640)
    ], batch_id=0)
    engine.bulk("t", [
        {"index": {"id": i, "status": "B"}} for i in range(0, 30, 3)
    ], batch_id=1)
    pit = engine.open_pit("t")
    sink = engine.tables["t"].sink
    _, jobs = jobs_launched(spark, lambda: sink.apply_batch(
        spark.createDataFrame(
            [("u", i, "C", 10_000 + i) for i in range(0, 50, 5)],
            "op string, id long, status string, offset long",
        ),
        batch_id=2,
    ))
    assert jobs == PRUNING_LAYOUT_APPLY_BATCH_JOBS
    manifest = sink.latest_manifest()
    assert len(manifest["buckets"]) == 64
    assert len(set(manifest["buckets"].values())) >= 3

    view, jobs = jobs_launched(spark, lambda: engine.view("t"))
    assert jobs == 0
    old, jobs = jobs_launched(spark, lambda: engine.view("t", version=2))
    assert jobs == 0
    body = {"pit": pit, "query": {"term": {"status": "B"}},
            "sort": [{"id": {"order": "asc"}}], "size": 5}
    page, jobs = jobs_launched(spark, lambda: engine.search("t", body))
    assert jobs == 0

    state = dict(view.select("id", "status").collect())
    assert len(state) == 640
    assert state[15] == "C" and state[3] == "B" and state[1] == "A"
    assert rows_by_name(view, view.columns) == rows_by_name(
        head_read(spark, sink), view.columns
    )
    assert dict(old.select("id", "status").collect())[15] == "B"
    assert [r["id"] for r in page.collect()] == [0, 3, 6, 9, 12]


def test_one_bucket_apply_batch_runs_only_the_write(spark, tmp_path):
    """A later commit on a one-bucket mirror runs no stats job: only
    the merge write's two jobs, and the merge is still correct."""
    sink = VersionedMirrorSink(
        path=str(tmp_path / "one"), key_cols=["id"], seq_cols=["offset"]
    )
    sink.apply_batch(chg(spark, [("c", i, f"v{i}", i) for i in range(50)]), 0)
    _, jobs = jobs_launched(spark, lambda: sink.apply_batch(
        chg(spark, [("u", 3, "new", 100), ("d", 4, None, 101)]), 1
    ))
    assert jobs == ONE_BUCKET_APPLY_BATCH_JOBS
    m = sink.latest_manifest()
    assert m["num_buckets"] == 1 and list(m["buckets"]) == ["0"]
    assert m["max_seq"] == {"offset": 101}
    state = dict(sink.read(spark).select("id", "v").collect())
    assert len(state) == 49 and state[3] == "new" and 4 not in state


def test_one_bucket_high_water_mark_is_folded_never_lowered(spark, tmp_path):
    """On a one-bucket mirror the batch's seq maxima come from an
    observation on the merge write; they fold into the previous mark:
    a batch below it leaves it, a delete above it raises it (and the
    key goes), and a bulk write then allocates above the delete."""
    from postgres_opensearch_cdc_spark.engine import CdcEngine

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("t", T.StructType.fromDDL("id long, v string"))
    sink = engine.tables["t"].sink
    sink.apply_batch(chg(spark, [("c", 1, "a", 100), ("c", 2, "b", 40)]), 0)
    assert sink.latest_manifest()["max_seq"] == {"offset": 100}

    sink.apply_batch(chg(spark, [("u", 2, "b2", 60)]), 1)
    m = sink.latest_manifest()
    assert m["num_buckets"] == 1
    assert m["max_seq"] == {"offset": 100}
    assert dict(sink.read(spark).select("id", "v").collect()) == {1: "a", 2: "b2"}

    sink.apply_batch(chg(spark, [("d", 2, None, 500)]), 2)
    assert sink.latest_manifest()["max_seq"] == {"offset": 500}
    assert dict(sink.read(spark).select("id", "v").collect()) == {1: "a"}
    assert engine._seq_high_water("t") == 500

    engine.bulk("t", [{"index": {"id": 3, "v": "c"}}, {"index": {"id": 1, "v": "a2"}}])
    seqs = dict(engine.view("t").select("id", "offset").collect())
    assert seqs[3] > 500 and seqs[1] > 500
    assert dict(engine.view("t").select("id", "v").collect()) == {1: "a2", 3: "c"}


def test_one_bucket_empty_batch_keeps_mark_and_view(spark, tmp_path):
    """An empty batch on a one-bucket mirror still commits (it rewrites
    the bucket), but the observation on its merge write sees no
    sequence value, so the mark is kept as it was and the view's rows
    are unchanged."""
    sink = VersionedMirrorSink(
        path=str(tmp_path / "one"), key_cols=["id"], seq_cols=["offset"]
    )
    sink.apply_batch(chg(spark, [("c", 1, "a", 100), ("c", 2, "b", 40)]), 0)
    sink.apply_batch(chg(spark, []), 1)
    m = sink.latest_manifest()
    assert m["version"] == 2 and m["num_buckets"] == 1
    assert m["max_seq"] == {"offset": 100}
    assert sorted(
        tuple(r) for r in sink.read(spark).select("id", "v", "offset").collect()
    ) == [(1, "a", 100), (2, "b", 40)]


def test_read_null_fills_commits_before_added_column(spark, sink):
    sink.apply_batch(
        chg(spark, [("c", i, f"v{i}", i) for i in range(40)]), batch_id=0
    )
    sink.apply_batch(
        spark.createDataFrame(
            [("u", i, f"w{i}", 100 + i, i * 10) for i in range(0, 40, 9)],
            "op string, id long, v string, offset long, extra int",
        ),
        batch_id=1,
    )
    assert len(set(sink.latest_manifest()["buckets"].values())) == 2
    got = sink.read(spark)
    assert got.schema["extra"].dataType == T.IntegerType()
    assert rows_by_name(got, got.columns) == rows_by_name(
        head_read(spark, sink), got.columns
    )
    extra = dict(got.select("id", "extra").collect())
    assert extra[9] == 90 and extra[1] is None

    # time travel to before the column: that manifest's schema
    v1 = sink.read(spark, version=1)
    assert "extra" not in v1.columns
    assert rows_by_name(v1, v1.columns) == rows_by_name(
        head_read(spark, sink, version=1), v1.columns
    )
    assert dict(v1.select("id", "v").collect())[9] == "v9"


def test_read_with_custom_bucket_expr(spark, tmp_path):
    sink = VersionedMirrorSink(
        path=str(tmp_path / "ranged"), key_cols=["id"],
        seq_cols=["offset"], bucket_expr="id div 10",
    )
    sink.apply_batch(
        chg(spark, [("c", i, f"v{i}", i) for i in range(50)]), batch_id=0
    )
    sink.apply_batch(
        chg(spark, [("u", 12, "new", 100), ("d", 31, None, 101)]),
        batch_id=1,
    )
    assert sorted(map(int, sink.latest_manifest()["buckets"])) == [
        0, 1, 2, 3, 4
    ]
    got = sink.read(spark)
    state = dict(got.select("id", "v").collect())
    assert len(state) == 49 and state[12] == "new" and 31 not in state
    assert rows_by_name(got, got.columns) == rows_by_name(
        head_read(spark, sink), got.columns
    )


def test_empty_mirror_after_full_delete_readable(spark, sink):
    """Every bucket emptied (by a batch that also adds a column): the
    manifest maps no bucket, and the read is the manifest's schema
    with no rows and no Spark job; the older version still reads."""
    sink.apply_batch(chg(spark, [("c", 1, "a", 1), ("c", 2, "b", 2)]), batch_id=0)
    sink.apply_batch(
        spark.createDataFrame(
            [("d", 1, None, 10, None), ("d", 2, None, 11, None)],
            "op string, id long, v string, offset long, extra int",
        ),
        batch_id=1,
    )
    assert sink.latest_manifest()["buckets"] == {}
    df, jobs = jobs_launched(spark, lambda: sink.read(spark))
    assert jobs == 0
    assert df.columns == ["op", "id", "v", "offset", "extra"]
    assert df.count() == 0
    assert sink.read(spark, version=1).count() == 2


# -- bucket count derived from the mirror's bytes ----------------------------


def test_bucket_count_grows_with_mirror_bytes(spark, tmp_path, open_cost_bytes):
    """A default sink sizes its hash buckets to
    ``spark.sql.files.openCostInBytes``: the first commit is one
    bucket, and as the mirror grows each commit that needs more
    buckets re-buckets the whole mirror to the next power of two —
    also when the commit's own batch touches a single key. The view
    matches a last-write-wins oracle after every batch, older versions
    still read as they were, and a replayed re-bucketing batch commits
    nothing."""
    import random

    import pandas as pd

    sink = VersionedMirrorSink(
        path=str(tmp_path / "grow"), key_cols=["id"], seq_cols=["offset"]
    )
    rng = random.Random(11)
    log: list[tuple] = []
    oracle_at: dict[int, list] = {}
    counts = []

    def oracle():
        df = pd.DataFrame(log, columns=["op", "id", "v", "offset"])
        last = df.sort_values("offset").groupby("id").tail(1)
        live = last[last["op"] != "d"]
        return sorted(zip(live["id"].tolist(), live["v"].tolist()))

    def view(version=None):
        return sorted(
            tuple(r) for r in sink.read(spark, version).select("id", "v").collect()
        )

    def batch(b):
        """Even b: 150 inserts, 20 updates, 10 deletes; odd b: one update."""
        live = [k for k, _ in oracle()]
        big = b % 2 == 0
        rows = [("c", 1000 * b + i, "%032x" % rng.getrandbits(128))
                for i in range(150 if big else 0)]
        rows += [("u", k, "%032x" % rng.getrandbits(128))
                 for k in rng.sample(live, min(20 if big else 1, len(live)))]
        rows += [("d", k, None) for k in rng.sample(live, min(10 if big else 0, len(live)))]
        return [(op, k, v, len(log) + i) for i, (op, k, v) in enumerate(rows)]

    rows = batch(0)
    log += rows
    sink.apply_batch(chg(spark, rows), batch_id=0, writer_id="w")
    first = sink.latest_manifest()
    assert first["num_buckets"] == 1
    # target = the first commit's bytes, so each big batch adds about
    # one target's worth and the count must grow at least twice
    target = sum(first["bucket_bytes"].values())
    oracle_at[first["version"]] = oracle()
    counts.append(1)
    with open_cost_bytes(target):
        for b in range(1, 12):
            rows = batch(b)
            log += rows
            sink.apply_batch(chg(spark, rows), batch_id=b, writer_id="w")
            m = sink.latest_manifest()
            n = m["num_buckets"]
            assert n & (n - 1) == 0 and n >= counts[-1]
            assert {int(k) for k in m["buckets"]} <= set(range(n))
            assert sorted(m["bucket_bytes"]) == sorted(m["buckets"])
            if n > counts[-1]:
                # re-bucketed: every live bucket is in the new commit
                assert len(set(m["buckets"].values())) == 1
                sink.apply_batch(chg(spark, rows), batch_id=b, writer_id="w")
                assert sink.latest_manifest()["version"] == m["version"]
            counts.append(n)
            oracle_at[m["version"]] = oracle()
            assert view() == oracle_at[m["version"]]
    assert len(set(counts)) >= 3, counts
    for version, expected in oracle_at.items():
        assert view(version) == expected, version


@pytest.mark.parametrize("pinned", [None, 4])
def test_manifest_without_bucket_count_rebuckets(spark, tmp_path, pinned):
    """A manifest that records no bucket count (an older mirror, here 8
    hash buckets) has no layout this sink can trust: a key's update
    hashed under another count would miss its old row. The first
    commit re-hashes every live row under the sink's count (derived:
    1 for this size; or the pinned one), so no key is duplicated or
    stale afterwards, older versions still read as written, and the
    count is recorded from then on — a sink pinned to another count
    then refuses the mirror."""
    import json

    path = str(tmp_path / "legacy")
    VersionedMirrorSink(
        path=path, key_cols=["id"], seq_cols=["offset"], num_buckets=8
    ).apply_batch(chg(spark, [("c", i, f"v{i}", i) for i in range(300)]), 0)
    mpath = os.path.join(path, "_commits", "v00000001.json")
    with open(mpath) as fh:
        legacy = json.load(fh)
    del legacy["num_buckets"], legacy["bucket_bytes"]
    with open(mpath, "w") as fh:
        json.dump(legacy, fh)
    assert len(legacy["buckets"]) == 8

    sink = VersionedMirrorSink(
        path=path, key_cols=["id"], seq_cols=["offset"], num_buckets=pinned
    )
    expected = {i: f"v{i}" for i in range(300)}
    for b, batch in enumerate([
        [("u", 5, "v5b", 1000)],
        [("u", k, f"w{k}", 1001 + k) for k in (6, 7, 8, 9)] + [("d", 10, None, 1100)],
    ], start=1):
        sink.apply_batch(chg(spark, batch), batch_id=b)
        for op, k, v, _ in batch:
            if op == "d":
                expected.pop(k)
            else:
                expected[k] = v
        m = sink.latest_manifest()
        assert m["num_buckets"] == (pinned or 1)
        assert {int(k) for k in m["buckets"]} <= set(range(m["num_buckets"]))
        rows = sink.read(spark).select("id", "v").collect()
        assert len(rows) == len({r["id"] for r in rows}), "duplicate key rows"
        assert dict(rows) == expected
        if b == 1:
            # the re-bucketing commit holds every live bucket
            assert len(set(m["buckets"].values())) == 1
    assert dict(sink.read(spark, version=1).select("id", "v").collect()) == {
        i: f"v{i}" for i in range(300)
    }

    with pytest.raises(ValueError, match=f"num_buckets={pinned or 1}"):
        VersionedMirrorSink(
            path=path, key_cols=["id"], seq_cols=["offset"], num_buckets=16
        ).apply_batch(chg(spark, [("u", 6, "x", 2000)]), batch_id=3)
