"""Streaming distinct-count rollup: a continuously-maintained
HyperLogLog register store — the approximate-cardinality counterpart
of RollupSink's exact continuous aggregates (streaming/apply.py), for
the questions exact rollups can't answer in bounded state ("distinct
users per event type, forever": the exact answer needs a user-set per
group; the register store is a FIXED m int64s per group).

What makes this sink different from every additive store in the repo:
the register merge (elementwise MAX) is IDEMPOTENT as well as
commutative and associative, so replaying a micro-batch — same writer
or a different one — cannot change the store. The (writer_id,
batch_id) manifest guard here is an efficiency skip, not a
correctness requirement; the replay tests assert the stronger
property by re-applying batches with a DIFFERENT writer_id and
demanding a byte-identical register table (the test additive stores
must fail without their guard).

Layout (a commits.CommitLog):
    <path>/data/<commit>/regs/   full (g, bucket, register) table
    <path>/_commits/vNNNNNNNN.json  manifest {version, commit,
                                    batch_id, writer_id, m}
Each batch writes the merged register table into a fresh commit dir
and publishes it with ONE atomic manifest rename — crash between data
write and manifest leaves the previous version live, and the replay
re-derives an identical merge (idempotence again). The whole-table
rewrite IS the scale path: the store is O(groups × m) int64s —
independent of stream length — so per-batch cost is
O(|batch| + |groups|·m) and never grows with history.

Determinism: registers come from functions/sketch.hll_registers
(md5-backed hash60, pure int64), so the streamed store after any
batch split equals the one-shot batch register table bit-for-bit —
the oracle entry (queries/training_pipeline6.sketch_hll_rollup_stream)
value-checks stream ≡ batch through DuckDB."""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from postgres_opensearch_cdc_spark.commits import CommitLog
from postgres_opensearch_cdc_spark.functions.sketch import (
    HLL_P,
    hll_estimates,
    hll_params,
    hll_registers,
)

_REG_SCHEMA = T.StructType([
    T.StructField("g", T.StringType()),
    T.StructField("bucket", T.LongType()),
    T.StructField("register", T.IntegerType()),
])

CMS_DEPTH = 4
CMS_WIDTH = 256

_CMS_SCHEMA = T.StructType([
    T.StructField("r", T.IntegerType()),
    T.StructField("bucket", T.LongType()),
    T.StructField("cell", T.LongType()),
])


@dataclass
class HllRollupSink:
    """foreachBatch sink maintaining per-group HLL registers; see the
    module docstring for the contract. ``group_col`` / ``value_col``
    name the batch columns; the value is hashed as a string (cast
    upstream for non-string values so the portable hash family sees
    identical bytes in every engine). ``p`` is the register precision
    (default the test size; production 14 = 16 KiB/group — the int64
    exactness bound holds at every p, see functions/sketch.hll_params);
    the store persists m in its manifests and refuses to merge a
    mismatched precision."""

    path: str
    group_col: str = "g"
    value_col: str = "v"
    p: int = HLL_P

    @property
    def log(self) -> CommitLog:
        return CommitLog(self.path)

    def registers(self, spark: SparkSession) -> DataFrame:
        """The published (g, bucket, register) table (empty before the
        first commit). Read paths validate the precision too — a
        default-p reader over a p=14 store would otherwise compute
        zero_registers = 16 − count (nonsense) silently."""
        manifest = self.log.load()
        if manifest is None:
            return spark.createDataFrame([], _REG_SCHEMA)
        m = hll_params(self.p)[0]
        if manifest.get("m") != m:
            raise ValueError(
                f"register store at {self.path} was written with "
                f"m={manifest.get('m')}; this reader has m={m} — "
                "estimates under a mismatched precision are garbage"
            )
        return spark.read.schema(_REG_SCHEMA).parquet(
            os.path.join(self.log.data_dir, manifest["commit"], "regs")
        )

    def estimates(self, spark: SparkSession) -> DataFrame:
        """Per-group cardinality estimates over the published store
        (functions/sketch.hll_estimates — the same estimator the
        batch audit entry value-checks)."""
        return hll_estimates(self.registers(spark), p=self.p)

    def apply_batch(self, batch: DataFrame, batch_id: int,
                    writer_id: str | None = None) -> None:
        spark = batch.sparkSession
        log = self.log
        manifest = log.load()
        if log.replays(manifest, batch_id, writer_id):
            return  # replay: skipping is an optimization — the merge
            # below would be a no-op anyway (max is idempotent)
        m = hll_params(self.p)[0]
        if manifest is not None and manifest.get("m") != m:
            raise ValueError(
                f"register store at {self.path} was written with "
                f"m={manifest.get('m')}; this build has m={m} — "
                "register layouts under different precisions do not merge"
            )
        from postgres_opensearch_cdc_spark.functions.dedup import (
            _ensure_parallelism,
        )

        regs = hll_registers(
            _ensure_parallelism(batch.select(
                F.col(self.group_col).cast("string").alias("g"),
                F.col(self.value_col).cast("string").alias("v"),
            )),
            group_col="g",
            value_col="v",
            p=self.p,
        ).withColumn("register", F.col("register").cast("int"))
        if manifest is not None:
            regs = (
                self.registers(spark)
                .unionByName(regs)
                .groupBy("g", "bucket")
                .agg(F.max("register").alias("register"))
            )
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        regs.write.mode("overwrite").parquet(
            os.path.join(log.data_dir, commit, "regs")
        )
        log.commit(manifest, {
            "commit": commit,
            "batch_id": batch_id,
            "writer_id": writer_id,
            "m": m,
        })


@dataclass
class CmsRollupSink:
    """foreachBatch sink maintaining a count-min sketch over a value
    stream — the ADDITIVE counterpart of HllRollupSink, and the
    deliberate contrast in streaming-sketch contracts: CM cells SUM
    (sketch(A ⊎ B) = sketch(A) + sketch(B)), so a replayed batch that
    reaches the merge DOUBLE-COUNTS — here the (writer_id, batch_id)
    manifest guard is a CORRECTNESS requirement, not an optimization
    (the exact opposite of the register store's idempotent max; both
    properties are pinned side by side in tests/test_hll_stream.py).
    Same commit protocol (commits.CommitLog): full grid into a fresh
    commit dir, ONE atomic manifest rename; crash before the rename
    leaves the previous version live and the replay re-derives and
    publishes the same merge (the guard compares against the last
    PUBLISHED manifest, so an unpublished crashed attempt is
    invisible to it).

    State is the fixed depth x width grid regardless of stream length
    — the mergeable-summary scale story; estimates for any probe
    value are MIN over its row cells, one-sided (>= true), exactly
    the batch sketch's semantics (sketch_count_min). Geometry is a
    constructor parameter (defaults are the test size 4x256;
    production uses width >= 2^16 = 2 MiB/grid — error eps = e/width,
    cells stay far from int64 territory at any stream length) and is
    persisted in manifests: grids under different geometries refuse
    to add."""

    path: str
    value_col: str = "v"
    depth: int = CMS_DEPTH
    width: int = CMS_WIDTH

    @property
    def log(self) -> CommitLog:
        return CommitLog(self.path)

    def cells(self, spark: SparkSession) -> DataFrame:
        """The published (r, bucket, cell) grid (empty before the
        first commit; absent coordinates are implicit zeros). Read
        paths validate the geometry too — a default-width reader over
        a 2^16-wide store would probe wrong buckets and could return
        UNDER-estimates, silently breaking the one-sided contract."""
        manifest = self.log.load()
        if manifest is None:
            return spark.createDataFrame([], _CMS_SCHEMA)
        if (
            manifest.get("depth") != self.depth
            or manifest.get("width") != self.width
        ):
            raise ValueError(
                f"cm sketch store at {self.path} was written as "
                f"{manifest.get('depth')}x{manifest.get('width')}; this "
                f"reader is {self.depth}x{self.width} — probes under a "
                "mismatched geometry land on wrong buckets"
            )
        return spark.read.schema(_CMS_SCHEMA).parquet(
            os.path.join(self.log.data_dir, manifest["commit"], "cells")
        )

    def coords(self, frame: DataFrame, value_col: str) -> DataFrame:
        """All ``depth`` (r, bucket) coordinates per row in ONE
        projection (the sketch_count_min shape — an inline array
        explode, never a depth-way union)."""
        from postgres_opensearch_cdc_spark.functions.dedup import hash60

        return frame.select(
            "*",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            hash60(F.col(value_col).cast("string"),
                                   salt=r),
                            F.lit(self.width),
                        ).alias("bucket"),
                    )
                    for r in range(self.depth)
                ])
            ).alias("rb"),
        ).select(
            *frame.columns,
            F.col("rb.r").alias("r"),
            F.col("rb.bucket").alias("bucket"),
        )

    def estimates(self, probes: DataFrame,
                  value_col: str = "v") -> DataFrame:
        """(value, cm_est) for each probe value: MIN over the value's
        CMS_DEPTH cells in the published grid (missing cells are 0 —
        a value the stream never hashed anywhere estimates 0 only if
        ALL its cells are empty, preserving one-sidedness)."""
        spark = probes.sparkSession
        grid = self.cells(spark)
        pc = self.coords(probes.select(value_col), value_col)
        return (
            pc.join(F.broadcast(grid), ["r", "bucket"], "left")
            .groupBy(value_col)
            .agg(F.min(F.coalesce("cell", F.lit(0))).alias("cm_est"))
        )

    def apply_batch(self, batch: DataFrame, batch_id: int,
                    writer_id: str | None = None) -> None:
        spark = batch.sparkSession
        log = self.log
        manifest = log.load()
        if log.replays(manifest, batch_id, writer_id):
            return  # replay: MANDATORY skip — additive merge would
            # double-count (see class docstring)
        if manifest is not None and (
            manifest.get("depth") != self.depth
            or manifest.get("width") != self.width
        ):
            raise ValueError(
                f"cm sketch store at {self.path} was written as "
                f"{manifest.get('depth')}x{manifest.get('width')}; this "
                f"build is {self.depth}x{self.width} — grids under "
                "different geometries do not add"
            )
        from postgres_opensearch_cdc_spark.functions.dedup import (
            _ensure_parallelism,
        )

        cells = (
            self.coords(
                _ensure_parallelism(batch.select(self.value_col)),
                self.value_col,
            )
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("cell"))
        )
        if manifest is not None:
            cells = (
                self.cells(spark)
                .unionByName(cells)
                .groupBy("r", "bucket")
                .agg(F.sum("cell").alias("cell"))
            )
        cells = cells.select(
            F.col("r").cast("int"),
            F.col("bucket").cast("long"),
            F.col("cell").cast("long"),
        )
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        cells.write.mode("overwrite").parquet(
            os.path.join(log.data_dir, commit, "cells")
        )
        log.commit(manifest, {
            "commit": commit,
            "batch_id": batch_id,
            "writer_id": writer_id,
            "depth": self.depth,
            "width": self.width,
        })
