"""Streaming semantic deduplication: SemDeDup as a foreachBatch sink —
the in-stream form of the batch k-means + within-cluster prune
(queries/training_pipeline4.py), for an embedding corpus that arrives
continuously.

Semantics (greedy survivor, the streaming counterpart of the batch
rule): centroids are FIT OFFLINE and fixed for the sink's lifetime
(production refits periodically and rebuilds the store — the layout
check makes a silent centroid swap impossible). Per micro-batch each
vector is assigned its nearest centroid; within a cluster, a vector is
DROPPED iff its cosine similarity to any already-KEPT representative —
an earlier batch's survivor, or an earlier-ranked survivor of this
batch (rank = (dsq, vec_id), most-central first) — is >= eps.
Suppressed vectors register nothing (first-seen-survivor semantics,
the same convention as NearDupSink's band store), so state is
O(deduped corpus), not O(corpus).

Fed with batches that partition ids in increasing order, the verdict
table is IDENTICAL to a single greedy pass over the whole corpus in
(batch, dsq, vec_id) rank order — which a recursive SQL CTE can
replay, so the composition is value-checked end to end by the
dedup_semantic_stream oracle entry.

Layout:
    <path>/reps/        appended parquet (cluster, owner, u:
                        array<double> UNIT vector), partitioned into
                        bucket=N dirs by pmod(cluster, num_buckets)
    <path>/verdicts/    appended parquet (vec_id, cluster, kept,
                        batch_id)
    <path>/_meta.json   {"batch_id": last applied, layout params}

Scale: each batch's work is its own assignment (scan-stage literal
centroids — no join) plus one cluster-keyed join against ONLY the
touched bucket dirs of the rep store (bounded driver-side list —
the span-store pattern). The sequential greedy kernel runs per
cluster inside one Arrow-batched applyInPandas; production scales K
with the corpus (SemDeDup's ~100k clusters), so per-cluster work is
bounded and the batch parallelism is #clusters. Exactly-once: the
batch-id meta guard skips replayed batches whole; a crash between the
appends and the meta commit re-runs the batch deterministically (the
store join excludes rows owned by current-batch ids, so a replay
never meets its own crashed registrations — the SpanDedupSink
lesson), and the verdicts() reader's exact-duplicate drop restores
exactly-once reads.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from postgres_opensearch_cdc_spark.commits import commit_batch, last_batch
from postgres_opensearch_cdc_spark.functions.similarity import (
    _as_double,
    assign_nearest,
    l2_norm,
)


@dataclass
class SemanticDedupSink:
    path: str
    centroids: list
    eps: float = 0.4
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    num_buckets: int = 8
    sim_decimals: int = 6
    _eps_r: float = field(init=False, repr=False, default=0.0)

    def __post_init__(self) -> None:
        self._eps_r = float(self.eps)

    @property
    def _reps(self) -> str:
        return os.path.join(self.path, "reps")

    @property
    def _verdicts(self) -> str:
        return os.path.join(self.path, "verdicts")

    @property
    def _layout(self) -> dict:
        """Parameters that determine store layout and verdicts.
        ``centroid_md5`` pins the fitted centroids themselves: reps
        laid out under different centroids live in wrong clusters and
        a reopened sink would silently miss duplicates."""
        blob = json.dumps(self.centroids, sort_keys=True).encode()
        return {
            "k": len(self.centroids),
            "dim": len(self.centroids[0]),
            "eps": float(self.eps),
            "num_buckets": self.num_buckets,
            "centroid_md5": hashlib.md5(blob).hexdigest(),
        }

    def verdicts(self, spark: SparkSession) -> DataFrame:
        # distinct heals the crash-between-append-and-meta replay:
        # re-derived rows are identical (deterministic batch), so
        # exact-duplicate drop restores exactly-once reads
        return spark.read.parquet(self._verdicts).distinct()

    def kept(self, spark: SparkSession) -> DataFrame:
        v = self.verdicts(spark)
        return v.filter(F.col("kept")).select("vec_id", "cluster")

    def _store_for(self, spark: SparkSession, id_type,
                   buckets: list) -> "DataFrame | None":
        """The (cluster, owner, u) rep-store slice covering
        ``buckets`` — reads ONLY the matching bucket=N directories
        with an explicit schema (the SpanDedupSink pattern), so
        neither the scan nor schema resolution sweeps the store."""
        from pyspark.sql import types as T

        dirs = [
            p for b in buckets
            if os.path.isdir(p := os.path.join(self._reps, f"bucket={b}"))
        ]
        if not dirs:
            return None
        schema = T.StructType([
            T.StructField("cluster", T.IntegerType()),
            T.StructField("owner", id_type),
            T.StructField("u", T.ArrayType(T.DoubleType())),
        ])
        return spark.read.schema(schema).parquet(*dirs)

    def _greedy_fn(self):
        """Sequential greedy survivor selection for ONE cluster, as a
        plain closure (applyInPandas rejects bound methods): store
        reps are pre-kept; batch rows in (dsq, vec_id) order keep iff
        their max rounded cosine against every kept representative so
        far stays below eps. Pure numpy over one Arrow batch."""
        eps, dec = self._eps_r, self.sim_decimals

        def greedy(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            cluster = int(key[0])
            store = pdf[pdf["is_store"]]
            batch = pdf[~pdf["is_store"]].sort_values(["dsq", "vec_id"])
            kept_us = [np.asarray(u, dtype=np.float64) for u in store["u"]]
            out_ids, out_kept = [], []
            for vid, u in zip(batch["vec_id"], batch["u"]):
                u = np.asarray(u, dtype=np.float64)
                hit = any(
                    round(float(u @ kv), dec) >= eps for kv in kept_us
                )
                out_ids.append(vid)
                out_kept.append(not hit)
                if not hit:
                    kept_us.append(u)
            return pd.DataFrame(
                {
                    "vec_id": out_ids,
                    "cluster": cluster,
                    "kept": out_kept,
                }
            )

        return greedy

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        last = last_batch(self.path, self._layout)
        if last is not None and batch_id >= 0 and batch_id <= last:
            return  # replayed batch — already applied
        from postgres_opensearch_cdc_spark.functions.dedup import (
            _ensure_parallelism,
        )

        cl, dsq = assign_nearest(F.col("v"), self.centroids)
        # spread the batch before the per-vector assignment math (the
        # compute-heavy stage); no-op on a well-partitioned batch
        batch = _ensure_parallelism(batch)
        assigned = (
            batch.select(
                self.id_col, _as_double(F.col(self.vec_col)).alias("v")
            )
            .withColumn("nv", l2_norm(F.col("v")))
            .select(
                F.col(self.id_col).alias("vec_id"),
                F.transform(
                    "v", lambda x: x / F.col("nv")
                ).alias("u"),
                cl,
                dsq,
            )
            .localCheckpoint(eager=True)
        )
        touched = sorted(
            r["b"]
            for r in assigned.select(
                F.pmod("cluster", F.lit(self.num_buckets)).alias("b")
            ).distinct().collect()
        )
        id_type = assigned.schema["vec_id"].dataType
        store = self._store_for(spark, id_type, touched)
        parts = assigned.withColumn("is_store", F.lit(False)).select(
            "cluster", "vec_id", "u", "dsq", "is_store"
        )
        if store is not None:
            # crash-replay determinism: exclude reps owned by ids in
            # THIS batch, so a replay sees exactly the pre-batch store
            store = store.join(
                F.broadcast(assigned.select(F.col("vec_id").alias("owner"))),
                "owner",
                "left_anti",
            )
            parts = parts.unionByName(
                store.select(
                    "cluster",
                    F.col("owner").alias("vec_id"),
                    "u",
                    F.lit(0.0).alias("dsq"),
                    F.lit(True).alias("is_store"),
                )
            )
        verdicts = (
            parts.groupBy("cluster")
            .applyInPandas(
                self._greedy_fn(),
                schema=(
                    f"vec_id {id_type.simpleString()}, cluster int,"
                    " kept boolean"
                ),
            )
            .withColumn("batch_id", F.lit(int(batch_id)))
            .localCheckpoint(eager=True)
        )
        new_reps = (
            assigned.join(
                verdicts.filter(F.col("kept")).select("vec_id"),
                "vec_id",
                "left_semi",
            )
            .select(
                "cluster",
                F.col("vec_id").alias("owner"),
                "u",
                F.pmod("cluster", F.lit(self.num_buckets)).alias("bucket"),
            )
        )

        # one file per touched bucket per batch (repartition by value,
        # the SpanDedupSink convention). Both writes consume only the
        # CHECKPOINTED verdicts/assigned frames and target different
        # dirs, so they OVERLAP on the executor (guide §2.6, the span
        # sink's move) instead of running back-to-back; the meta commit
        # below still happens strictly after both — crash/replay
        # contract unchanged.
        def _write_verdicts() -> None:
            verdicts.repartition(4).write.mode("append").parquet(
                self._verdicts
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            verdict_fut = pool.submit(_write_verdicts)
            new_reps.repartition("bucket").write.partitionBy("bucket").mode(
                "append"
            ).parquet(self._reps)
            verdict_fut.result()
        commit_batch(self.path, batch_id, self._layout)
