"""Continuous aggregate (RollupSink + engine.start_rollup_stream): the
reference stack's rollup-job shape maintained from CDC before/after
images as ±deltas, with the exactly-once guard additive merges
require. Verified against a full recompute over the mirror fed from
the SAME changelog."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F, types as T

from postgres_opensearch_cdc_spark.engine import CdcEngine
from postgres_opensearch_cdc_spark.streaming.apply import RollupSink

TXN_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("amount", T.DoubleType()),
])


def env(op, after, before, offset):
    return json.dumps({
        "op": op,
        "before": before,
        "after": after,
        "ts_ms": 1000 + offset,
        "source": {"schema": "public", "table": "txn", "lsn": offset},
        "offset": offset,
    })


def doc(rid, status, amount):
    return {"id": rid, "status": status, "amount": amount}


def rollup_rows(engine, name):
    return {
        r["status"]: (r["doc_count"], round(r["sum_amount"], 6))
        for r in engine.rollup(name).collect()
    }


def test_rollup_stream_tracks_mirror_aggregate(spark, tmp_path):
    """snapshot + insert + update (status flip, amount change) + delete
    maintained as ±deltas must equal the groupBy over the mirror fed
    from the SAME changelog — and a second batch (delete emptying a
    group, fresh insert) keeps them equal, with the emptied group
    ABSENT, not a zero row."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            env("r", doc(1, "ACTIVE", 10.0), None, 1),
            env("r", doc(2, "ACTIVE", 20.0), None, 2),
            env("c", doc(3, "BLOCKED", 5.0), None, 3),
            env("u", doc(1, "BLOCKED", 12.0), doc(1, "ACTIVE", 10.0), 4),
            env("d", None, doc(2, "ACTIVE", 20.0), 5),
        ]))
    engine.start_rollup_stream(
        "txn_by_status", log_dir, "txn", "status", sum_cols=("amount",)
    )
    engine.start_stream("txn", log_dir)
    engine.await_all()
    got = rollup_rows(engine, "txn_by_status")
    assert got == {"BLOCKED": (2, 17.0)}  # ACTIVE emptied -> absent
    recompute = {
        r["status"]: (r["doc_count"], round(r["sum_amount"], 6))
        for r in engine.view("txn").groupBy("status").agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("amount").alias("sum_amount"),
        ).collect()
    }
    assert got == recompute

    # drained checkpoint re-run: additive state unchanged (exactly-once)
    engine.start_rollup_stream(
        "txn_by_status", log_dir, "txn", "status", sum_cols=("amount",)
    )
    engine.await_all()
    assert rollup_rows(engine, "txn_by_status") == got

    # second batch: empty BLOCKED member, add a fresh ACTIVE row
    with open(os.path.join(log_dir, "b2.json"), "w") as f:
        f.write("\n".join([
            env("d", None, doc(3, "BLOCKED", 5.0), 6),
            env("c", doc(4, "ACTIVE", 7.5), None, 7),
        ]))
    engine.start_rollup_stream(
        "txn_by_status", log_dir, "txn", "status", sum_cols=("amount",)
    )
    engine.start_stream("txn", log_dir)
    engine.await_all()
    got2 = rollup_rows(engine, "txn_by_status")
    assert got2 == {"BLOCKED": (1, 12.0), "ACTIVE": (1, 7.5)}
    recompute2 = {
        r["status"]: (r["doc_count"], round(r["sum_amount"], 6))
        for r in engine.view("txn").groupBy("status").agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("amount").alias("sum_amount"),
        ).collect()
    }
    assert got2 == recompute2

    # time travel + vacuum: v1 was the first batch's state; after
    # vacuum only the latest survives
    sink = engine.rollups["txn_by_status"]
    v1 = {r["status"]: r["doc_count"]
          for r in sink.read(spark, version=1).collect()}
    assert v1 == {"BLOCKED": 2}
    assert sink.vacuum(keep_versions=1) == 1
    with pytest.raises(FileNotFoundError):
        sink.read(spark, version=1)
    assert rollup_rows(engine, "txn_by_status") == got2


def test_rollup_replay_guard_is_writer_scoped(spark, tmp_path):
    """Additive merges are NOT idempotent, so the (writer_id, batch_id)
    guard must skip a replayed batch whole — but the SAME batch id from
    a different writer must apply."""
    sink = RollupSink(path=str(tmp_path / "r"), group_col="g",
                      sum_cols=("v",))
    deltas = spark.createDataFrame(
        [("a", 1, 10.0, 1), ("a", 1, 5.0, 1)],
        "g string, doc_count long, sum_v double, valcnt_v long",
    )
    sink.apply_batch(deltas, batch_id=0, writer_id="ckptA")
    assert {(r["g"], r["doc_count"], r["sum_v"])
            for r in sink.read(spark).collect()} == {("a", 2, 15.0)}
    # replay: skipped whole (no double count)
    sink.apply_batch(deltas, batch_id=0, writer_id="ckptA")
    assert sink.read(spark).head()["doc_count"] == 2
    # same batch id, different writer: applies
    sink.apply_batch(deltas, batch_id=0, writer_id="ckptB")
    assert sink.read(spark).head()["doc_count"] == 4


def test_rollup_update_without_before_image_fails_stream(spark, tmp_path):
    """An update event with no before image would silently corrupt the
    aggregate (the old contribution can't be subtracted) — the stream
    must FAIL, not degrade."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(env("u", doc(1, "ACTIVE", 1.0), None, 1))
    engine.start_rollup_stream(
        "bad", log_dir, "txn", "status", sum_cols=("amount",)
    )
    with pytest.raises(StreamingQueryException, match="before image"):
        engine.await_all()


def test_rollup_rejects_unknown_columns(spark, tmp_path):
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    with pytest.raises(ValueError, match="group column"):
        engine.start_rollup_stream("x", str(tmp_path), "txn", "nope")
    with pytest.raises(ValueError, match="sum column"):
        engine.start_rollup_stream("x", str(tmp_path), "txn", "status",
                                   sum_cols=("nope",))


def test_rollup_derived_group_expr(spark, tmp_path):
    """group_expr buckets (the rollup-job date_histogram shape): the
    derived group is evaluated on BOTH images, so an update that moves
    a row across buckets shifts both buckets' aggregates."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            env("c", doc(1, "A", 10.0), None, 1),
            env("c", doc(2, "B", 200.0), None, 2),
            # moves id=1 from the <100 band to the >=100 band
            env("u", doc(1, "A", 150.0), doc(1, "A", 10.0), 3),
        ]))
    engine.start_rollup_stream(
        "by_band", log_dir, "txn", "band", sum_cols=("amount",),
        group_expr="CASE WHEN amount >= 100 THEN 'big' ELSE 'small' END",
    )
    engine.await_all()
    got = {r["band"]: (r["doc_count"], r["sum_amount"])
           for r in engine.rollup("by_band").collect()}
    assert got == {"big": (2, 350.0)}  # 'small' emptied by the move


def test_rollup_survives_engine_restart_and_rejects_spec_drift(spark, tmp_path):
    """A new CdcEngine over the same workdir must rehydrate the rollup
    from its spec sidecar (read AND continue streaming into it), and a
    re-registration under a DIFFERENT spec must raise — additive state
    under mixed groupings is silent corruption."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(env("c", doc(1, "ACTIVE", 10.0), None, 1))
    engine.start_rollup_stream(
        "by_status", log_dir, "txn", "status", sum_cols=("amount",)
    )
    engine.await_all()

    engine2 = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine2.register_table("txn", TXN_SCHEMA)
    # read-side rehydration: no prior registration on this instance
    assert rollup_rows(engine2, "by_status") == {"ACTIVE": (1, 10.0)}
    # write-side continuation: the drained checkpoint replays nothing,
    # then a genuinely new batch shifts the restored store
    with open(os.path.join(log_dir, "b2.json"), "w") as f:
        f.write(env("c", doc(2, "ACTIVE", 2.5), None, 2))
    engine2.start_rollup_stream(
        "by_status", log_dir, "txn", "status", sum_cols=("amount",)
    )
    engine2.await_all()
    assert rollup_rows(engine2, "by_status") == {"ACTIVE": (2, 12.5)}
    # spec drift raises before any delta is applied
    with pytest.raises(ValueError, match="exists with spec"):
        engine2.start_rollup_stream(
            "by_status", log_dir, "txn", "status", sum_cols=()
        )
    with pytest.raises(KeyError, match="unknown rollup"):
        engine2.rollup("nope")


def test_rollup_minmax_retraction_under_deletes(spark, tmp_path):
    """min/max are not delta-invertible: deleting the current extremum
    must surface the runner-up (aux-store retraction), deleting ONE of
    two equal extrema must keep the value, and an update that moves
    the extremum must retire the old value — all without touching the
    mirror. avg/value_count ride along, with NULL values skipped."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            env("c", doc(1, "A", 50.0), None, 1),
            env("c", doc(2, "A", 90.0), None, 2),   # max
            env("c", doc(3, "A", 90.0), None, 3),   # duplicate max
            env("c", doc(4, "A", 10.0), None, 4),   # min
            env("c", doc(5, "A", None), None, 5),   # null: no metric impact
            env("d", None, doc(2, "A", 90.0), 6),   # one of two maxes
            env("d", None, doc(4, "A", 10.0), 7),   # THE min retires
            env("u", doc(1, "A", 20.0), doc(1, "A", 50.0), 8),
        ]))
    engine.start_rollup_stream(
        "mm", log_dir, "txn", "status",
        sum_cols=("amount",), count_cols=("amount",),
        avg_cols=("amount",), minmax_cols=("amount",),
    )
    engine.await_all()
    [row] = engine.rollup("mm").collect()
    # live: id1=20.0, id3=90.0, id5=NULL
    assert row["doc_count"] == 3
    assert row["valcnt_amount"] == 2
    assert row["sum_amount"] == 110.0
    assert row["avg_amount"] == 55.0
    assert row["min_amount"] == 20.0   # 10.0 retired, 50.0 updated away
    assert row["max_amount"] == 90.0   # duplicate survived one delete

    # empty the group's non-null values: min/max/avg go NULL, counts drop
    with open(os.path.join(log_dir, "b2.json"), "w") as f:
        f.write("\n".join([
            env("d", None, doc(1, "A", 20.0), 9),
            env("d", None, doc(3, "A", 90.0), 10),
        ]))
    engine.start_rollup_stream(
        "mm", log_dir, "txn", "status",
        sum_cols=("amount",), count_cols=("amount",),
        avg_cols=("amount",), minmax_cols=("amount",),
    )
    engine.await_all()
    [row] = engine.rollup("mm").collect()
    assert row["doc_count"] == 1 and row["valcnt_amount"] == 0
    assert row["min_amount"] is None and row["max_amount"] is None
    assert row["avg_amount"] is None


def test_rollup_delete_without_before_image_fails_stream(spark, tmp_path):
    """A delete without a before image is the SAME corruption hazard
    as an update without one (the retired row's group is never
    decremented) — the guard must fail the stream for op='d' too."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(env("d", None, None, 1))
    engine.start_rollup_stream(
        "bad_d", log_dir, "txn", "status", sum_cols=("amount",)
    )
    with pytest.raises(StreamingQueryException, match="before image"):
        engine.await_all()


@pytest.mark.parametrize("seed", range(4))
def test_rollup_fuzz_matches_recompute(spark, tmp_path, seed):
    """Property check of the delta algebra over the FULL metric set
    (sum, value_count, avg, min, max — the last two through aux-store
    retraction): a seeded random op-consistent changelog (per-key
    c/u/d chains with correct before images, random group/value
    churn, occasional NULL values, keys deleted and re-created) split
    across several micro-batch files must leave the rollup EXACTLY
    equal to the groupBy over the mirror fed from the same files."""
    import random

    rng = random.Random(4200 + seed)
    statuses = ["A", "B", "C"]

    def amt():
        return (None if rng.random() < 0.15
                else round(rng.uniform(0, 100), 2))

    live: dict[int, tuple[str, float]] = {}
    offset = 0
    batches: list[list[str]] = []
    for _ in range(3):  # 3 micro-batch files
        lines = []
        for _ in range(rng.randint(5, 20)):
            offset += 1
            key = rng.randint(1, 8)
            if key in live and rng.random() < 0.3:
                before = doc(key, *live[key])
                lines.append(env("d", None, before, offset))
                del live[key]
            elif key in live:
                before = doc(key, *live[key])
                new = (rng.choice(statuses), amt())
                live[key] = new
                lines.append(env("u", doc(key, *new), before, offset))
            else:
                new = (rng.choice(statuses), amt())
                live[key] = new
                lines.append(env(rng.choice(["c", "r"]), doc(key, *new),
                                 None, offset))
        batches.append(lines)

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    for i, lines in enumerate(batches):
        with open(os.path.join(log_dir, f"b{i}.json"), "w") as f:
            f.write("\n".join(lines))
    # (availableNow may drain the files in one or several micro-batches;
    # cross-batch accumulation is pinned separately by the restart test)
    engine.start_rollup_stream(
        "fz", log_dir, "txn", "status",
        sum_cols=("amount",), count_cols=("amount",),
        avg_cols=("amount",), minmax_cols=("amount",),
    )
    engine.start_stream("txn", log_dir)
    engine.await_all()

    def snap(df):
        return {
            r["status"]: (
                r["doc_count"], r["valcnt_amount"],
                None if r["sum_amount"] is None else round(r["sum_amount"], 6),
                None if r["avg_amount"] is None else round(r["avg_amount"], 6),
                r["min_amount"], r["max_amount"],
            )
            for r in df.collect()
        }

    got = snap(engine.rollup("fz"))
    recompute = snap(
        engine.view("txn").groupBy("status").agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.count("amount").alias("valcnt_amount"),
            F.sum("amount").alias("sum_amount"),
            F.avg("amount").alias("avg_amount"),
            F.min("amount").alias("min_amount"),
            F.max("amount").alias("max_amount"),
        )
    )
    model: dict[str, list] = {}
    for status, amount in live.values():
        agg = model.setdefault(status, [0, []])
        agg[0] += 1
        if amount is not None:
            agg[1].append(amount)
    want = {
        s: (c, len(vs),
            round(sum(vs), 6) if vs else None,
            round(sum(vs) / len(vs), 6) if vs else None,
            min(vs) if vs else None, max(vs) if vs else None)
        for s, (c, vs) in model.items()
    }
    assert got == recompute == want, f"seed {seed}"


def test_search_rollup_reaggregates_metrics(spark, tmp_path):
    """The _rollup/_search analog: a terms body over the rollup at
    stored granularity matches the direct read; every metric maps to
    its re-aggregation (avg = SUM(sum)/SUM(valcnt), never
    avg-of-avgs — pinned by a two-group case where they differ); and
    uncaptured metrics / wrong fields / non-agg keys degrade loudly."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            # band 'lo': 2 values avg 15; band 'hi': 1 value avg 90 —
            # overall avg 40, avg-of-avgs 52.5: the re-agg must say 40
            env("c", doc(1, "A", 10.0), None, 1),
            env("c", doc(2, "A", 20.0), None, 2),
            env("c", doc(3, "B", 90.0), None, 3),
        ]))
    engine.start_rollup_stream(
        "sr", log_dir, "txn", "status",
        sum_cols=("amount",), count_cols=("amount",),
        avg_cols=("amount",), minmax_cols=("amount",),
    )
    engine.await_all()

    # terms at stored granularity == the direct read, re-shaped
    got = {
        r["by_status"]: (r["doc_count"], r["s"], r["v"], r["a"],
                         r["mn"], r["mx"])
        for r in engine.search_rollup("sr", {"aggs": {"by_status": {
            "terms": {"field": "status"},
            "aggs": {
                "s": {"sum": {"field": "amount"}},
                "v": {"value_count": {"field": "amount"}},
                "a": {"avg": {"field": "amount"}},
                "mn": {"min": {"field": "amount"}},
                "mx": {"max": {"field": "amount"}},
            },
        }}}).collect()
    }
    assert got == {"A": (2, 30.0, 2, 15.0, 10.0, 20.0),
                   "B": (1, 90.0, 1, 90.0, 90.0, 90.0)}

    # ES terms ordering: doc_count desc, size caps the buckets
    one = engine.search_rollup("sr", {"aggs": {"by_status": {
        "terms": {"field": "status", "size": 1},
        "aggs": {"a": {"avg": {"field": "amount"}}},
    }}}).collect()
    assert len(one) == 1 and one[0]["by_status"] == "A"

    with pytest.raises(ValueError, match="does not capture"):
        engine.search_rollup("sr", {"aggs": {"x": {
            "terms": {"field": "status"},
            "aggs": {"m": {"sum": {"field": "id"}}},
        }}})
    with pytest.raises(ValueError, match="unsupported rollup metric"):
        engine.search_rollup("sr", {"aggs": {"x": {
            "terms": {"field": "status"},
            "aggs": {"m": {"percentiles": {"field": "amount"}}},
        }}})
    with pytest.raises(ValueError, match="grouped by"):
        engine.search_rollup("sr", {"aggs": {"x": {
            "terms": {"field": "amount"}}}})
    with pytest.raises(ValueError, match="only 'aggs'"):
        engine.search_rollup("sr", {"query": {"match_all": {}}})
    with pytest.raises(KeyError, match="unknown rollup"):
        engine.search_rollup("nope", {"aggs": {}})


def test_rollup_multi_dimension_and_slice(spark, tmp_path):
    """Multi-dimension rollup (the reference rollup-job date_histogram
    + terms combination): group_col is a tuple, one dim derived via
    group_expr, one plain; the maintained table equals the two-dim
    recompute after updates that move rows ACROSS both dimensions; a
    search_rollup terms slice on either dim re-aggregates across the
    other (avg recomposes from sums, min/max re-extremize)."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            env("c", doc(1, "A", 10.0), None, 1),
            env("c", doc(2, "A", 150.0), None, 2),
            env("c", doc(3, "B", 20.0), None, 3),
            env("c", doc(4, "B", 200.0), None, 4),
            # moves id=1 across BOTH dims: A/small -> B/big
            env("u", doc(1, "B", 120.0), doc(1, "A", 10.0), 5),
            env("d", None, doc(4, "B", 200.0), 6),
        ]))
    band = "CASE WHEN amount >= 100 THEN 'big' ELSE 'small' END"
    engine.start_rollup_stream(
        "md", log_dir, "txn", ("band", "status"),
        sum_cols=("amount",), count_cols=("amount",),
        avg_cols=("amount",), minmax_cols=("amount",),
        group_expr=(band, None),
    )
    engine.start_stream("txn", log_dir)
    engine.await_all()

    got = {
        (r["band"], r["status"]): (
            r["doc_count"], r["valcnt_amount"], r["sum_amount"],
            r["avg_amount"], r["min_amount"], r["max_amount"])
        for r in engine.rollup("md").collect()
    }
    recompute = {
        (r["band"], r["status"]): (
            r["doc_count"], r["valcnt_amount"], r["sum_amount"],
            r["avg_amount"], r["min_amount"], r["max_amount"])
        for r in engine.view("txn").selectExpr(
            f"{band} AS band", "status", "amount"
        ).groupBy("band", "status").agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.count("amount").alias("valcnt_amount"),
            F.sum("amount").alias("sum_amount"),
            F.avg("amount").alias("avg_amount"),
            F.min("amount").alias("min_amount"),
            F.max("amount").alias("max_amount"),
        ).collect()
    }
    # live: 1=B/big 120, 2=A/big 150, 3=B/small 20
    assert got == recompute == {
        ("big", "B"): (1, 1, 120.0, 120.0, 120.0, 120.0),
        ("big", "A"): (1, 1, 150.0, 150.0, 150.0, 150.0),
        ("small", "B"): (1, 1, 20.0, 20.0, 20.0, 20.0),
    }

    # slice by status (re-agg across bands): B = {120, 20}
    by_status = {
        r["by_status"]: (r["doc_count"], r["a"], r["mn"], r["mx"])
        for r in engine.search_rollup("md", {"aggs": {"by_status": {
            "terms": {"field": "status"},
            "aggs": {"a": {"avg": {"field": "amount"}},
                     "mn": {"min": {"field": "amount"}},
                     "mx": {"max": {"field": "amount"}}},
        }}}).collect()
    }
    assert by_status == {"B": (2, 70.0, 20.0, 120.0),
                         "A": (1, 150.0, 150.0, 150.0)}
    # slice by band
    by_band = {
        r["by_band"]: r["doc_count"]
        for r in engine.search_rollup("md", {"aggs": {"by_band": {
            "terms": {"field": "band"}}}}).collect()
    }
    assert by_band == {"big": 2, "small": 1}
    with pytest.raises(ValueError, match="grouped by"):
        engine.search_rollup("md", {"aggs": {"x": {
            "terms": {"field": "amount"}}}})
    # spec drift on the dimension TUPLE raises
    with pytest.raises(ValueError, match="exists with spec"):
        engine.start_rollup_stream(
            "md", log_dir, "txn", ("status", "band"),
            sum_cols=("amount",), count_cols=("amount",),
            avg_cols=("amount",), minmax_cols=("amount",),
            group_expr=(None, band),
        )
    # mismatched expr arity raises before anything is created
    with pytest.raises(ValueError, match="entries for"):
        engine.start_rollup_stream(
            "md2", log_dir, "txn", ("band", "status"),
            group_expr=(band,),
        )


def test_full_metric_rollup_survives_engine_restart(spark, tmp_path):
    """The meta sidecar must rehydrate the FULL metric spec
    (count/avg/minmax cols), not just sums: a restarted engine
    continues streaming into the store, and a post-restart delete
    that retires the current extremum still retracts through the aux
    count store."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            env("c", doc(1, "A", 10.0), None, 1),
            env("c", doc(2, "A", 90.0), None, 2),
        ]))
    spec = dict(sum_cols=("amount",), count_cols=("amount",),
                avg_cols=("amount",), minmax_cols=("amount",))
    engine.start_rollup_stream("fm", log_dir, "txn", "status", **spec)
    engine.await_all()

    engine2 = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine2.register_table("txn", TXN_SCHEMA)
    [row] = engine2.rollup("fm").collect()  # read-side rehydration
    assert (row["min_amount"], row["max_amount"]) == (10.0, 90.0)
    # write-side continuation with retraction after restart
    with open(os.path.join(log_dir, "b2.json"), "w") as f:
        f.write(env("d", None, doc(2, "A", 90.0), 3))
    engine2.start_rollup_stream("fm", log_dir, "txn", "status", **spec)
    engine2.await_all()
    [row] = engine2.rollup("fm").collect()
    assert (row["doc_count"], row["valcnt_amount"]) == (1, 1)
    assert (row["min_amount"], row["max_amount"]) == (10.0, 10.0)
    assert row["avg_amount"] == 10.0
    # and search_rollup works off the rehydrated spec too
    [s] = engine2.search_rollup("fm", {"aggs": {"st": {
        "terms": {"field": "status"},
        "aggs": {"mx": {"max": {"field": "amount"}}},
    }}}).collect()
    assert (s["st"], s["mx"]) == ("A", 10.0)
    # spec drift against the REHYDRATED full spec raises
    with pytest.raises(ValueError, match="exists with spec"):
        engine2.start_rollup_stream("fm", log_dir, "txn", "status",
                                    sum_cols=("amount",))


def test_rollup_crash_before_manifest_heals_on_replay(spark, tmp_path):
    """Crash consistency of the commit protocol: data dirs written but
    the manifest rename lost — the orphan version is invisible (reads
    serve the previous manifest) and the replayed batch re-merges from
    it, landing on the same final state with no double count."""
    import glob
    import shutil

    sink = RollupSink(path=str(tmp_path / "r"), group_col="g",
                      sum_cols=("v",), minmax_cols=("v",))

    def deltas(rows):
        return spark.createDataFrame(
            rows, "g string, doc_count long, sum_v double, "
                  "valcnt_v long, mmval_v double",
        )

    sink.apply_batch(deltas([("a", 1, 10.0, 1, 10.0)]), 0, writer_id="w")
    sink.apply_batch(deltas([("a", 1, 5.0, 1, 5.0)]), 1, writer_id="w")
    want = {("a", 2, 15.0, 5.0, 10.0)}

    def state():
        return {(r["g"], r["doc_count"], r["sum_v"], r["min_v"],
                 r["max_v"]) for r in sink.read(spark).collect()}

    assert state() == want
    # crash: drop batch 1's manifest but leave its data dirs
    [m1] = glob.glob(os.path.join(sink.log.commits_dir, "v00000002.json"))
    os.remove(m1)
    assert state() == {("a", 1, 10.0, 10.0, 10.0)}  # orphan invisible
    sink.apply_batch(deltas([("a", 1, 5.0, 1, 5.0)]), 1, writer_id="w")
    assert state() == want  # healed, exactly once
    # vacuum removes whole commit dirs (main + aux as one unit)
    assert sink.vacuum(keep_versions=1) >= 1
    assert state() == want
    shutil.rmtree(sink.path)


@pytest.mark.parametrize("seed", range(2))
def test_rollup_multi_dim_fuzz_matches_recompute(spark, tmp_path, seed):
    """The multi-dimension delta algebra under random churn: a seeded
    op-consistent changelog maintained as a (derived band × status)
    rollup with the full metric set must equal the two-dim groupBy
    over the mirror fed from the same files."""
    import random

    rng = random.Random(5300 + seed)
    statuses = ["A", "B"]

    def amt():
        return (None if rng.random() < 0.1
                else round(rng.uniform(0, 100), 2))

    live: dict[int, tuple[str, float]] = {}
    offset = 0
    lines = []
    for _ in range(40):
        offset += 1
        key = rng.randint(1, 6)
        if key in live and rng.random() < 0.3:
            lines.append(env("d", None, doc(key, *live[key]), offset))
            del live[key]
        elif key in live:
            before = doc(key, *live[key])
            new = (rng.choice(statuses), amt())
            live[key] = new
            lines.append(env("u", doc(key, *new), before, offset))
        else:
            new = (rng.choice(statuses), amt())
            live[key] = new
            lines.append(env("c", doc(key, *new), None, offset))

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b0.json"), "w") as f:
        f.write("\n".join(lines))
    band = "CASE WHEN amount >= 50 THEN 'hi' ELSE 'lo' END"
    engine.start_rollup_stream(
        "mdf", log_dir, "txn", ("band", "status"),
        sum_cols=("amount",), count_cols=("amount",),
        avg_cols=("amount",), minmax_cols=("amount",),
        group_expr=(band, None),
    )
    engine.start_stream("txn", log_dir)
    engine.await_all()

    def snap(df):
        return {
            (r["band"], r["status"]): (
                r["doc_count"], r["valcnt_amount"],
                None if r["sum_amount"] is None
                else round(r["sum_amount"], 6),
                r["min_amount"], r["max_amount"])
            for r in df.collect()
        }

    got = snap(engine.rollup("mdf"))
    recompute = snap(
        engine.view("txn").selectExpr(
            f"{band} AS band", "status", "amount"
        ).groupBy("band", "status").agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.count("amount").alias("valcnt_amount"),
            F.sum("amount").alias("sum_amount"),
            F.min("amount").alias("min_amount"),
            F.max("amount").alias("max_amount"),
        )
    )
    assert got == recompute, f"seed {seed}"


def test_multi_dim_rollup_restart_with_default_group_expr(spark, tmp_path):
    """Restarting a multi-dim rollup created with the DEFAULT
    group_expr=None must rehydrate cleanly: the persisted spec records
    the normalized per-dimension expr list ([None, None]), so the
    re-open comparison cannot raise a spurious mismatch for an
    identical spec."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(env("c", doc(1, "ACTIVE", 10.0), None, 1))
    engine.start_rollup_stream(
        "two_plain", log_dir, "txn", ("status", "amount"),
        count_cols=("amount",),
    )
    engine.await_all()

    engine2 = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine2.register_table("txn", TXN_SCHEMA)
    with open(os.path.join(log_dir, "b2.json"), "w") as f:
        f.write(env("c", doc(2, "ACTIVE", 10.0), None, 2))
    # identical spec: must NOT raise and must continue the store
    engine2.start_rollup_stream(
        "two_plain", log_dir, "txn", ("status", "amount"),
        count_cols=("amount",),
    )
    engine2.await_all()
    got = {(r["status"], r["amount"]): r["doc_count"]
           for r in engine2.rollup("two_plain").collect()}
    assert got == {("ACTIVE", 10.0): 2}
    # a genuinely different spec still raises
    with pytest.raises(ValueError, match="exists with spec"):
        engine2.start_rollup_stream(
            "two_plain", log_dir, "txn", ("status", "amount"),
            count_cols=("amount",),
            group_expr=("upper(status)", None),
        )


# ---------------------------------------------------------------------------
# Bucketed minmax aux stores (round 12): touched-bucket-only rewrites
# ---------------------------------------------------------------------------


def _mk_sink(tmp_path, nb=8):
    return RollupSink(
        path=str(tmp_path / "ru"), group_col="status",
        minmax_cols=("amount",), aux_num_buckets=nb,
    )


def _apply(spark, sink, rows, batch_id, sign=1):
    img = spark.createDataFrame(rows, TXN_SCHEMA)
    sink.apply_batch(
        sink.delta_frame(img, F.col("status"), sign), batch_id,
        writer_id="w",
    )


def _minmax(spark, sink):
    return {
        r["status"]: (r["min_amount"], r["max_amount"])
        for r in sink.read(spark).collect()
    }


def test_rollup_aux_store_rewrites_only_touched_buckets(spark, tmp_path):
    """A batch's aux merge must read ONLY its touched bucket dirs
    (inputFiles-asserted) and the new commit must contain ONLY those
    buckets — untouched buckets stay REFERENCED from the older commit
    in the manifest's bucket map, never rewritten. This removes the
    one O(store) per-batch term the round-11 verdict flagged."""
    sink = _mk_sink(tmp_path)
    # seed enough distinct (group, value) pairs to cover every bucket
    _apply(spark, sink,
           [(i, f"S{i % 4}", float(i)) for i in range(64)], 0)
    m1 = sink.log.load()
    map1 = m1["aux_buckets"]["amount"]
    assert set(map1) == {str(b) for b in range(8)}  # all buckets live
    assert set(map1.values()) == {m1["commit"]}

    # one-row batch: touches exactly the buckets of its ±pairs
    _apply(spark, sink, [(100, "S0", 1000.0)], 1)
    m2 = sink.log.load()
    map2 = m2["aux_buckets"]["amount"]
    probe = spark.createDataFrame(
        [(100, "S0", 1000.0)], TXN_SCHEMA
    ).select(
        sink._aux_bucket_expr(F.col("amount")).alias("b"),
        F.lit(1),
    ).collect()
    touched = {str(probe[0]["b"])}
    # new commit holds ONLY the touched buckets...
    on_disk = {
        d.split("=", 1)[1]
        for d in os.listdir(os.path.join(sink.log.data_dir, m2["commit"],
                                         "mm_amount"))
        if d.startswith("bucket=")
    }
    assert on_disk == touched
    # ...and the map points every untouched bucket at the OLD commit
    for b in map2:
        assert map2[b] == (m2["commit"] if b in touched
                           else m1["commit"])

    # the merge-side read is pruned: slice for the touched buckets
    # reads only those dirs
    files = sink._read_aux(
        spark, m2, "amount", buckets=[int(b) for b in touched]
    ).inputFiles()
    assert files
    assert all(any(f"/bucket={b}/" in f for b in touched) for f in files)
    untouched = [b for b in range(8) if str(b) not in touched]
    assert not any(f"/bucket={b}/" in f for b in untouched for f in files)

    # correctness across the stitched layout: min/max per group equal
    # a recompute over everything applied so far
    got = _minmax(spark, sink)
    assert got["S0"] == (0.0, 1000.0)
    assert got["S1"] == (1.0, 61.0)


def test_rollup_aux_bucket_retraction_and_empty_bucket_drop(spark, tmp_path):
    """Deleting every row of a (group, value) pair retracts it
    bucket-granularly; a bucket whose slice empties drops out of the
    map entirely (no empty dirs), and the runner-up surfaces."""
    sink = _mk_sink(tmp_path, nb=4)
    _apply(spark, sink, [(1, "A", 5.0), (2, "A", 7.0)], 0)
    assert _minmax(spark, sink)["A"] == (5.0, 7.0)
    _apply(spark, sink, [(2, "A", 7.0)], 1, sign=-1)  # delete the max
    assert _minmax(spark, sink)["A"] == (5.0, 5.0)
    total_rows = sum(
        sink._read_aux(spark, sink.log.load(), "amount").count()
        for _ in [0]
    )
    assert total_rows == 1  # only (A, 5.0) survives across all buckets


def test_rollup_aux_num_buckets_enforced(spark, tmp_path):
    """Merging an existing store under a different modulus would read
    the wrong bucket dirs — the mismatch raises."""
    sink = _mk_sink(tmp_path, nb=8)
    _apply(spark, sink, [(1, "A", 5.0)], 0)
    bad = _mk_sink(tmp_path, nb=4)
    with pytest.raises(ValueError, match="aux_num_buckets=8"):
        _apply(spark, bad, [(2, "A", 6.0)], 1)


def test_rollup_vacuum_keeps_aux_referenced_commits(spark, tmp_path):
    """vacuum(keep_versions=1) must keep every commit the latest
    manifest's aux bucket maps reference — untouched buckets live in
    OLDER commit dirs by design."""
    sink = _mk_sink(tmp_path)
    _apply(spark, sink,
           [(i, f"S{i % 4}", float(i)) for i in range(64)], 0)
    _apply(spark, sink, [(100, "S0", 1000.0)], 1)
    before = _minmax(spark, sink)
    removed = sink.vacuum(keep_versions=1)
    assert removed == 0  # commit-0 still referenced by 7/8 buckets
    assert _minmax(spark, sink) == before
    # fold everything forward so commit-0 is genuinely dead, then GC
    _apply(spark, sink,
           [(i, f"S{i % 4}", float(i) + 0.5) for i in range(64)], 2)
    _apply(spark, sink,
           [(i, f"S{i % 4}", float(i)) for i in range(64)], 3, sign=-1)
    _apply(spark, sink, [(100, "S0", 1000.0)], 4, sign=-1)
    after = _minmax(spark, sink)
    n = sink.vacuum(keep_versions=1)
    assert n >= 1
    assert _minmax(spark, sink) == after


def test_rollup_legacy_whole_store_manifest_migrates(spark, tmp_path):
    """A store committed before bucketing (aux stored whole under the
    manifest's own commit, no aux_buckets key) reads correctly and is
    folded into the bucketed layout on the next merge."""
    sink = _mk_sink(tmp_path)
    _apply(spark, sink, [(1, "A", 5.0), (2, "B", 9.0)], 0)
    # rewrite the store into the LEGACY v1 shape: flat mm_amount dir,
    # manifest without aux_buckets/aux_num_buckets
    m = sink.log.load()
    commit_dir = os.path.join(sink.log.data_dir, m["commit"])
    legacy_aux = sink._read_aux(spark, m, "amount").collect()
    import shutil
    shutil.rmtree(os.path.join(commit_dir, "mm_amount"))
    spark.createDataFrame(
        legacy_aux, T.StructType.fromJson(m["aux_schemas"]["amount"])
    ).write.mode("overwrite").parquet(
        os.path.join(commit_dir, "mm_amount"))
    for k in ("aux_buckets", "aux_num_buckets"):
        m.pop(k)
    with open(os.path.join(sink.log.commits_dir,
                           f"v{m['version']:08d}.json"), "w") as fh:
        json.dump(m, fh)

    assert _minmax(spark, sink) == {"A": (5.0, 5.0), "B": (9.0, 9.0)}
    _apply(spark, sink, [(3, "A", 1.0)], 1)  # triggers the migration
    m2 = sink.log.load()
    assert m2["aux_num_buckets"] == 8
    amap = m2["aux_buckets"]["amount"]
    assert set(amap.values()) == {m2["commit"]}  # fully re-bucketed
    assert _minmax(spark, sink) == {"A": (1.0, 5.0), "B": (9.0, 9.0)}


def test_rollup_aux_num_buckets_persists_across_restart(spark, tmp_path):
    """A non-default aux_num_buckets must survive engine restart via
    the spec sidecar: the rehydrated sink adopts the stored modulus
    (merging under a different one raises at the store layer), and a
    conflicting explicit value raises the spec-drift error."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("txn", TXN_SCHEMA)
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(env("c", doc(1, "ACTIVE", 10.0), None, 1))
    engine.start_rollup_stream(
        "nb", log_dir, "txn", "status", minmax_cols=("amount",),
        aux_num_buckets=4,
    )
    engine.await_all()

    engine2 = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine2.register_table("txn", TXN_SCHEMA)
    assert engine2._resolve_rollup("nb").aux_num_buckets == 4
    with open(os.path.join(log_dir, "b2.json"), "w") as f:
        f.write(env("c", doc(2, "ACTIVE", 99.0), None, 2))
    engine2.start_rollup_stream(
        "nb", log_dir, "txn", "status", minmax_cols=("amount",),
        aux_num_buckets=4,
    )
    engine2.await_all()
    got = {r["status"]: (r["min_amount"], r["max_amount"])
           for r in engine2.rollup("nb").collect()}
    assert got == {"ACTIVE": (10.0, 99.0)}
    with pytest.raises(ValueError, match="exists with spec"):
        engine2.start_rollup_stream(
            "nb", log_dir, "txn", "status", minmax_cols=("amount",),
            aux_num_buckets=8,
        )


def test_rollup_all_null_minmax_first_commit_writes_no_aux(spark, tmp_path):
    """A minmax column with no non-null delta in a commit carries its
    aux store forward with no I/O — also on the first commit, which
    then writes no ``mm_<c>`` dir; the rollup reads back with null
    extrema, and a later non-null delta starts the aux store."""
    sink = _mk_sink(tmp_path, nb=4)
    _apply(spark, sink, [(1, "A", None), (2, "B", None), (3, "A", None)], 0)
    m1 = sink.log.load()
    assert os.listdir(os.path.join(sink.log.data_dir, m1["commit"])) == ["main"]
    assert m1["aux_buckets"] == {"amount": {}}
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == [
        ("A", 2, None, None), ("B", 1, None, None),
    ]

    _apply(spark, sink, [(4, "A", 3.0), (5, "A", 9.0)], 1)
    m2 = sink.log.load()
    assert "mm_amount" in os.listdir(os.path.join(sink.log.data_dir, m2["commit"]))
    assert _minmax(spark, sink) == {"A": (3.0, 9.0), "B": (None, None)}
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == [
        ("A", 4, 3.0, 9.0), ("B", 1, None, None),
    ]


def test_rollup_empty_delta_commits_and_carries_forward(spark, tmp_path):
    """An empty delta frame (an empty micro-batch) still commits: the
    optimizer proves the input empty and prunes the observation on the
    main write, which reads as no delta for any minmax column, so the
    aux store is carried forward and the rollup reads back unchanged."""
    sink = _mk_sink(tmp_path, nb=4)
    _apply(spark, sink, [(1, "A", 3.0), (2, "B", 7.0), (3, "A", 9.0)], 0)
    m1 = sink.log.load()
    before = sorted(tuple(r) for r in sink.read(spark).collect())

    _apply(spark, sink, [], 1)
    m2 = sink.log.load()
    assert m2["version"] == m1["version"] + 1 and m2["batch_id"] == 1
    assert m2["aux_buckets"] == m1["aux_buckets"]
    assert m2["aux_schemas"] == m1["aux_schemas"]
    assert "mm_amount" not in os.listdir(os.path.join(sink.log.data_dir, m2["commit"]))
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == before
    assert _minmax(spark, sink) == {"A": (3.0, 9.0), "B": (7.0, 7.0)}
