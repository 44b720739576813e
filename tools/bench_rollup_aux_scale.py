"""Rollup minmax aux-store growth curve (SCALE.md §20 extension,
round 12): with each aux multiset hash-partitioned by
pmod(xxhash64(group..., value), aux_num_buckets) and merges rewriting
ONLY touched buckets, a small delta batch's cost must track the
touched buckets' bytes, not the store's — flat when the bucket count
scales with the store, sublinear when it doesn't. This removes the
one O(store) per-batch term the round-11 verdict flagged (the aux
store is O(distinct (group, value)), unbounded for high-cardinality
metric columns).

Three configs, same 10-row delta batch (10 distinct (group, value)
pairs -> <= 10 touched buckets):
  A: store 20,000 pairs,  aux_num_buckets=64   (baseline)
  B: store 200,000 pairs, aux_num_buckets=64   (10x bytes per bucket)
  C: store 200,000 pairs, aux_num_buckets=640  (10x store, per-bucket
     bytes as A -- the operational 100 TB shape: bucket count grows
     with the store)

Expected: C ~= A regardless of the 10x store; B pays the bigger
buckets. Prints one JSON line per config.

Run exclusively (no concurrent Spark sessions):
    python3 tools/bench_rollup_aux_scale.py
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

from postgres_opensearch_cdc_spark.session import get_spark  # noqa: E402
from postgres_opensearch_cdc_spark.streaming.apply import RollupSink  # noqa: E402

N_GROUPS = 10
BATCH_ROWS = 10
REPS = 3


def seed_frame(spark, n_pairs: int):
    """n_pairs distinct (group, value) rows: group = g<id % N_GROUPS>,
    value = float(id) — few groups x high-cardinality values, exactly
    the degraded case bucketing by (group, value) exists for."""
    return spark.range(n_pairs).select(
        F.concat(F.lit("g"), F.col("id") % N_GROUPS).alias("grp"),
        F.col("id").cast("double").alias("amount"),
    )


def batch_frame(spark, n_pairs: int, rep: int):
    """A 10-row delta whose values are NEW pairs (offset past the
    store) so every rep touches fresh buckets deterministically."""
    return spark.range(BATCH_ROWS).select(
        F.concat(F.lit("g"), F.col("id") % N_GROUPS).alias("grp"),
        (F.col("id") + n_pairs + rep * BATCH_ROWS)
        .cast("double").alias("amount"),
    )


def run_config(spark, name: str, n_pairs: int, nb: int) -> dict:
    tmp = tempfile.mkdtemp(prefix=f"rollup_aux_{name}_")
    sink = RollupSink(
        path=os.path.join(tmp, "ru"), group_col="grp",
        minmax_cols=("amount",), aux_num_buckets=nb,
    )
    sink.apply_batch(
        sink.delta_frame(seed_frame(spark, n_pairs), F.col("grp"), 1),
        0, writer_id="seed",
    )
    store_bytes = 0
    m = sink.log.load()
    for b, commit in m["aux_buckets"]["amount"].items():
        d = os.path.join(sink.log.data_dir, commit, "mm_amount",
                         f"bucket={b}")
        store_bytes += sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
        )
    times = []
    for rep in range(REPS):
        delta = sink.delta_frame(
            batch_frame(spark, n_pairs, rep), F.col("grp"), 1
        ).localCheckpoint(eager=True)
        t0 = time.monotonic()
        sink.apply_batch(delta, rep + 1, writer_id="bench")
        times.append(time.monotonic() - t0)
    m = sink.log.load()
    touched = len([
        c for c in m["aux_buckets"]["amount"].values()
        if c == m["commit"]
    ])
    shutil.rmtree(tmp)
    return {
        "config": name, "store_pairs": n_pairs, "num_buckets": nb,
        "store_bytes": store_bytes, "touched_buckets_last": touched,
        "batch_sec_min": round(min(times), 3),
        "batch_sec_all": [round(t, 3) for t in times],
    }


def main() -> None:
    spark = get_spark(app_name="rollup-aux-scale")
    for name, n_pairs, nb in (
        ("A_base", 20_000, 64),
        ("B_10x_store_same_buckets", 200_000, 64),
        ("C_10x_store_10x_buckets", 200_000, 640),
    ):
        print(json.dumps(run_config(spark, name, n_pairs, nb)),
              flush=True)


if __name__ == "__main__":
    main()
