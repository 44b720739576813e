"""Crash during the manifest write, over every CommitLog sink
(postgres_opensearch_cdc_spark/commits.py): a writer that died
between writing its temp manifest and renaming it leaves a dot-prefixed
``v<N>.json`` temp file in ``_commits/``. Nothing may read it as a
commit — not the latest-manifest read, ``exists()``, the replay guard
or vacuum — and the next commit must publish that same version over it
with reads identical to a run that never crashed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from postgres_opensearch_cdc_spark.commits import CommitLog
from postgres_opensearch_cdc_spark.streaming.apply import (
    RollupSink,
    VersionedMirrorSink,
)
from postgres_opensearch_cdc_spark.streaming.gram import GramRollupSink
from postgres_opensearch_cdc_spark.streaming.sketch import (
    CmsRollupSink,
    HllRollupSink,
)

DIM = 4


def _mirror(path):
    sink = VersionedMirrorSink(path=path, key_cols=["id"], seq_cols=["offset"])

    def batch(spark, i):
        rows = [("u", k, f"v{i}", 10 * i + k) for k in range(i, i + 3)]
        if i:
            rows.append(("d", 0, None, 10 * i))
        return spark.createDataFrame(
            rows, "op string, id long, v string, offset long"
        )

    return (sink, batch, lambda spark: sink.read(spark),
            lambda: sink.vacuum(1))


def _rollup(path):
    sink = RollupSink(path=path, group_col="g", sum_cols=("x",),
                      minmax_cols=("x",))

    def batch(spark, i):
        img = spark.createDataFrame(
            [(f"g{k % 2}", float(i * 10 + k)) for k in range(4)],
            "g string, x double",
        )
        return sink.delta_frame(img, F.col("g"), 1)

    return (sink, batch, lambda spark: sink.read(spark),
            lambda: sink.vacuum(1))


def _gram(path):
    sink = GramRollupSink(path=path, dim=DIM)

    def batch(spark, i):
        return spark.createDataFrame(
            [(k, [float((i + k + d) % 5) for d in range(DIM)])
             for k in range(6)],
            "vec_id long, embedding array<double>",
        )

    return (sink, batch, lambda spark: sink.gram(spark),
            lambda: sink.vacuum(1))


def _hll(path):
    sink = HllRollupSink(path=path)

    def batch(spark, i):
        return spark.createDataFrame(
            [(f"t{k % 2}", str(i * 100 + k)) for k in range(20)],
            "g string, v string",
        )

    return (sink, batch, lambda spark: sink.registers(spark),
            lambda: sink.vacuum(1))


def _cms(path):
    sink = CmsRollupSink(path=path)

    def batch(spark, i):
        return spark.createDataFrame(
            [(str((i + k) % 7),) for k in range(20)], "v string"
        )

    return (sink, batch, lambda spark: sink.cells(spark),
            lambda: sink.vacuum(1))


SINKS = {"mirror": _mirror, "rollup": _rollup, "gram": _gram,
         "hll": _hll, "cms": _cms}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", sorted(SINKS))
def test_stray_temp_manifest_is_not_a_commit(spark, tmp_path, kind):
    make = SINKS[kind]
    sink, batch, read, vacuum = make(str(tmp_path / "crashed"))
    log = sink.log
    # the first commit died before its rename: the log has no commit
    os.makedirs(log.commits_dir)
    first = os.path.join(log.commits_dir, ".v00000001.json.tmp")
    with open(first, "w") as fh:
        json.dump({"version": 1, "batch_id": 0, "writer_id": "w"}, fh)
    assert not log.exists()
    assert log.load() is None
    assert vacuum() == 0
    sink.apply_batch(batch(spark, 0), 0, writer_id="w")
    assert log.names() == ["v00000001.json"]
    assert not os.path.exists(first)
    m1 = log.load()
    assert m1["version"] == 1
    # a writer of batch 1 died after writing its temp manifest (naming
    # its own data dir) and before the rename
    os.makedirs(os.path.join(log.data_dir, "commit-crashed"))
    stray = os.path.join(log.commits_dir, ".v00000002.json.tmp")
    with open(stray, "w") as fh:
        json.dump({**m1, "version": 2, "batch_id": 1,
                   "commit": "commit-crashed",
                   "buckets": {"0": "commit-crashed"}}, fh)

    assert log.load() == m1
    assert log.names() == ["v00000001.json"]
    assert log.exists()
    with pytest.raises(FileNotFoundError, match="available: \\[1\\]"):
        log.load(2)
    assert not log.replays(log.load(), 1, "w")
    # vacuum reads no reference from the temp file: the crashed data
    # dir is unreferenced and goes; the published commit stays
    assert vacuum() == 1
    assert not os.path.exists(os.path.join(log.data_dir, "commit-crashed"))
    assert log.load() == m1

    sink.apply_batch(batch(spark, 1), 1, writer_id="w")
    assert log.names() == ["v00000001.json", "v00000002.json"]
    assert not os.path.exists(stray)
    m2 = log.load()
    assert (m2["version"], m2["batch_id"], m2["writer_id"]) == (2, 1, "w")
    # the published batch 1 is now the one the replay guard sees
    sink.apply_batch(batch(spark, 1), 1, writer_id="w")
    assert log.load() == m2

    clean, clean_batch, clean_read, _ = make(str(tmp_path / "clean"))
    for i in range(2):
        clean.apply_batch(clean_batch(spark, i), i, writer_id="w")
    assert _rows(read(spark)) == _rows(clean_read(spark))


@pytest.mark.parametrize("kind", ["cms", "gram", "hll"])
def test_summary_commit_reads_one_manifest(spark, tmp_path, monkeypatch,
                                           kind):
    """A summary commit merges the state of the manifest it publishes
    on top of: it reads the log once, so a writer committing between
    two reads cannot make the merged state and its base differ."""
    sink, batch, _, _ = SINKS[kind](str(tmp_path / kind))
    sink.apply_batch(batch(spark, 0), 0, writer_id="w")
    loads = []
    real_load = CommitLog.load

    def counting_load(self, *args, **kwargs):
        loads.append(args)
        return real_load(self, *args, **kwargs)

    monkeypatch.setattr(CommitLog, "load", counting_load)
    sink.apply_batch(batch(spark, 1), 1, writer_id="w")
    assert len(loads) == 1
    assert sink.log.load()["version"] == 2
