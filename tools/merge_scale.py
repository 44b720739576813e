"""Measured scale curve for the CDC merge path (SCALE.md §15): hash-
and range-mode VersionedMirrorSink merges at 1×, 10×, and 100× mirror
size (the 100× point = sf0.1 orders replicated 10× with shifted keys)
with a FIXED 1,000-row micro-batch.

The claim under test (the engine's core 100 TB argument, SCALE.md §2):
range-mode (clustered-key) merge latency is governed by the TOUCHED
BUCKETS, not the mirror size — a 10× mirror with the same batch should
cost ~the same; hash-mode (uniform random keys) touches every bucket
and therefore re-reads/rewrites mirror-sized state, so it degrades
with mirror size and is the shape to avoid for big mirrors.

The ``derived`` mode is the engine default: hash buckets whose count
the sink derives from the mirror's bytes (one bucket per
``spark.sql.files.openCostInBytes``, 4 MB by default), fed the
hash-mode batch.

The sparse measurement covers the other side of that rule: batches of
1, 10 and 1,000 random keys against 16 MB and 64 MB mirrors (sf0.1
orders × 10 and × 40), the old fixed 64 hash buckets against the
derived count. A fixed fine count rewrites one small bucket per key;
fewer, larger buckets pay less per-file cost when a batch touches many.

Run exclusively (no concurrent Spark sessions — ambient load swings
timings ±50%):

    python3 tools/merge_scale.py            # events sf0.01 vs sf0.1

Prints one JSON line per (mirror_size, mode) with mirror rows, the
bucket target, the bucket count, touched buckets, and min-over-3-reps
batch seconds (idempotent merge: reps leave identical state), then one
per (mirror size, layout, batch keys) for the sparse measurement.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from postgres_opensearch_cdc_spark.registry import load_table  # noqa: E402
from postgres_opensearch_cdc_spark.session import get_spark  # noqa: E402
from postgres_opensearch_cdc_spark.streaming.apply import VersionedMirrorSink  # noqa: E402

BATCH_ROWS = 1000
BUCKETS = 32
# the session setting the derived bucket count is sized by
TARGET_CONF = "spark.sql.files.openCostInBytes"


def _orders_log(spark, sf_dir: str, replicate: int = 1):
    # the orders table as an upsert changelog: every o_orderkey is a
    # live mirror row, so mirror size tracks the sf directly (the
    # compacted events mirror collapses to ~100 keys — no size axis).
    # replicate > 1 extends the axis past the largest generated sf:
    # k key-shifted copies of the table give a k× mirror with the same
    # row shape (the 100× point = sf0.1 × 10).
    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        F.lit("u").alias("op"),
        F.col("o_orderkey").alias("key"),
        "o_orderstatus", "o_totalprice", "o_orderpriority",
        F.lit(0).cast("long").alias("offset"),
    )
    if replicate > 1:
        base_max = log.agg(F.max("key")).head()[0] + 1
        log = (
            log.withColumn(
                "_shift",
                F.explode(F.array(*[F.lit(i * base_max)
                                    for i in range(replicate)])),
            )
            .withColumn("key", F.col("key") + F.col("_shift"))
            .drop("_shift")
        )
    return log


def measure(spark, sf_dir: str, tmp: str, replicate: int = 1) -> list[dict]:
    log = _orders_log(spark, sf_dir, replicate)
    n = log.count()
    max_key = log.agg(F.max("key")).head()[0]
    span = max_key // BUCKETS + 1
    # the update batch: 1000 rows re-keyed at seq 1 (a real update)
    upd = log.withColumn("offset", F.lit(1).cast("long")).withColumn(
        "o_orderstatus", F.lit("X")
    )
    random_keys = upd.filter(F.col("key") % 97 == 0).limit(BATCH_ROWS)
    target = spark.conf.get(TARGET_CONF)
    out = []
    for mode, bucket_expr, num_buckets, batch in [
        # hash mode: uniform random keys -> touches every bucket
        ("hash", None, BUCKETS, random_keys),
        # range mode: batch clustered in ONE key range (monotonic PKs /
        # hot recent entities - the common CDC shape)
        ("range", f"key div {span}", BUCKETS,
         upd.filter(F.col("key") < span).limit(BATCH_ROWS)),
        # the engine default: count derived from the mirror's bytes
        ("derived", None, None, random_keys),
    ]:
        path = os.path.join(
            tmp, f"mirror_{os.path.basename(sf_dir)}_x{replicate}_{mode}"
        )
        sink = VersionedMirrorSink(
            path=path, key_cols=["key"], seq_cols=["offset"],
            num_buckets=num_buckets, bucket_expr=bucket_expr,
        )
        sink.apply_batch(log, 0)  # build the mirror (untimed)
        mirror_rows = sink.read(spark).count()
        batch = batch.localCheckpoint(eager=True)  # fix batch content
        # warm-up: compile the merge plan (and, in derived mode, grow
        # the first commit's single bucket to the mirror's count)
        sink.apply_batch(batch, 1)
        reps = []
        for rep in range(3):
            t0 = time.perf_counter()
            sink.apply_batch(batch, rep + 2)
            reps.append(time.perf_counter() - t0)
        n_buckets = sink.latest_manifest()["num_buckets"] or BUCKETS
        touched = (
            batch.withColumn("_b", F.expr(bucket_expr) if bucket_expr
                             else F.pmod(F.xxhash64("key"), F.lit(n_buckets)))
            .select("_b").distinct().count()
        )
        # bytes REWRITTEN by one merge = the newest commit dir's size;
        # this is the number that scales (local latency at these sizes
        # is commit-file overhead, the bytes curve is the predictor)
        data_dir = sink.log.data_dir
        newest = max(os.listdir(data_dir))
        commit_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(os.path.join(data_dir, newest))
            for f in fs
        )
        sink.vacuum(keep_versions=1)  # live bytes only, not old commits
        mirror_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(data_dir) for f in fs
        )
        row = {
            "sf_dir": sf_dir, "replicate": replicate,
            "mode": mode, "events": n,
            "mirror_rows": mirror_rows, "batch_rows": BATCH_ROWS,
            "target": target,
            "touched_buckets": touched, "num_buckets": n_buckets,
            "batch_sec_min": round(min(reps), 3),
            "batch_sec_all": [round(r, 3) for r in reps],
            "commit_bytes": commit_bytes,
            "mirror_bytes": mirror_bytes,
        }
        print(json.dumps(row), flush=True)
        out.append(row)
    return out


def measure_sparse(spark, sf_dir: str, tmp: str, replicate: int) -> list[dict]:
    """Batches of 1, 10 and 1,000 random keys against a large mirror:
    the few-key shape is the one a fixed, fine bucket count serves best
    (a 1-key commit rewrites one bucket's bytes). The old engine
    default layout (64 pinned hash buckets) against the derived count;
    each layout's mirror is built once and fed the batch sizes in
    order."""
    log = _orders_log(spark, sf_dir, replicate)
    upd = log.withColumn("offset", F.lit(1).cast("long")).withColumn(
        "o_orderstatus", F.lit("X")
    )
    out = []
    for mode, num_buckets in [("pinned64", 64), ("derived", None)]:
        path = os.path.join(
            tmp, f"sparse_{os.path.basename(sf_dir)}_x{replicate}_{mode}"
        )
        sink = VersionedMirrorSink(
            path=path, key_cols=["key"], seq_cols=["offset"],
            num_buckets=num_buckets,
        )
        sink.apply_batch(log, 0)  # build the mirror (untimed)
        batch_id = 1
        for k in (1, 10, 1000):
            # k keys spread over the key space (every 97th key is
            # uniformly spread over the hash buckets)
            batch = upd.filter(F.col("key") % 97 == 0).limit(k)
            batch = batch.localCheckpoint(eager=True)
            # warm-up: compile the plan; in derived mode the first one
            # also grows the bootstrap commit's single bucket
            sink.apply_batch(batch, batch_id)
            batch_id += 1
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                sink.apply_batch(batch, batch_id)
                reps.append(time.perf_counter() - t0)
                batch_id += 1
            m = sink.latest_manifest()
            newest = max(set(m["buckets"].values()))
            row = {
                "sf_dir": sf_dir, "replicate": replicate, "mode": mode,
                "batch_keys": k,
                "target": spark.conf.get(TARGET_CONF),
                "num_buckets": m["num_buckets"],
                "mirror_bytes": sum(m["bucket_bytes"].values()),
                "commit_bytes": sum(
                    v for b, v in m["bucket_bytes"].items()
                    if m["buckets"][b] == newest
                ),
                "batch_sec_min": round(min(reps), 3),
                "batch_sec_all": [round(r, 3) for r in reps],
            }
            print(json.dumps(row), flush=True)
            out.append(row)
    return out


def main() -> None:
    spark = get_spark(
        "merge_scale", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="merge_scale_")
    try:
        for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
            measure(spark, sf_dir, tmp)
        # the 100× point: sf0.1 orders replicated 10× (1.5M-row
        # mirror) — pins range-mode flatness across two decades
        measure(spark, "/root/testdata/sf0.1", tmp, replicate=10)
        for replicate in (10, 40):
            measure_sparse(spark, "/root/testdata/sf0.1", tmp, replicate)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
