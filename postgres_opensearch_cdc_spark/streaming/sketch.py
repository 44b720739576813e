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

The commit, merge and vacuum steps are streaming/summary.SummarySink's
(layout ``<path>/data/<commit>/regs/`` plus manifests carrying
{version, commit, batch_id, writer_id, m}): each batch writes the
merged register table (merge ``max``) into a fresh commit dir and
publishes it with ONE atomic manifest write — crash between data
write and manifest leaves the previous version live, and the replay
re-derives an identical merge (idempotence again). The whole-table
rewrite IS the scale path: the store is O(groups × m) int64s —
independent of stream length — so per-batch cost is
O(|batch| + |groups|·m) and never grows with history.

CmsRollupSink below is the ADDITIVE contrast on the same base (merge
``sum``), where the guard is mandatory.

Determinism: registers come from functions/sketch.hll_registers
(md5-backed hash60, pure int64), so the streamed store after any
batch split equals the one-shot batch register table bit-for-bit —
the oracle entry (queries/training_pipeline6.sketch_hll_rollup_stream)
value-checks stream ≡ batch through DuckDB."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from postgres_opensearch_cdc_spark.functions.sketch import (
    HLL_P,
    hll_estimates,
    hll_params,
    hll_registers,
)
from postgres_opensearch_cdc_spark.streaming.summary import SummarySink

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
class HllRollupSink(SummarySink):
    """foreachBatch sink maintaining per-group HLL registers; see the
    module docstring for the contract. ``group_col`` / ``value_col``
    name the batch columns; the value is hashed as a string (cast
    upstream for non-string values so the portable hash family sees
    identical bytes in every engine). ``p`` is the register precision
    (default the test size; production 14 = 16 KiB/group — the int64
    exactness bound holds at every p, see functions/sketch.hll_params);
    the store persists m in its manifests and refuses to merge or read
    a mismatched precision (a default-p reader over a p=14 store would
    otherwise compute zero_registers = 16 − count: nonsense, silently).
    The replay guard is an optimization only: max is idempotent."""

    group_col: str = "g"
    value_col: str = "v"
    p: int = HLL_P

    subdir = "regs"
    schema = _REG_SCHEMA
    merge = staticmethod(F.max)
    store = "register store"
    mismatch = ("registers under different precisions neither merge "
                "nor estimate")

    def layout(self) -> dict:
        return {"m": hll_params(self.p)[0]}

    def partial(self, batch: DataFrame) -> DataFrame:
        from postgres_opensearch_cdc_spark.functions.dedup import (
            _ensure_parallelism,
        )

        return hll_registers(
            _ensure_parallelism(batch.select(
                F.col(self.group_col).cast("string").alias("g"),
                F.col(self.value_col).cast("string").alias("v"),
            )),
            group_col="g",
            value_col="v",
            p=self.p,
        )

    # the published (g, bucket, register) table
    registers = SummarySink.read

    def estimates(self, spark: SparkSession) -> DataFrame:
        """Per-group cardinality estimates over the published store
        (functions/sketch.hll_estimates — the same estimator the
        batch audit entry value-checks)."""
        return hll_estimates(self.registers(spark), p=self.p)


@dataclass
class CmsRollupSink(SummarySink):
    """foreachBatch sink maintaining a count-min sketch over a value
    stream — the ADDITIVE counterpart of HllRollupSink, and the
    deliberate contrast in streaming-sketch contracts: CM cells SUM
    (sketch(A ⊎ B) = sketch(A) + sketch(B)), so a replayed batch that
    reaches the merge DOUBLE-COUNTS — here the (writer_id, batch_id)
    manifest guard is a CORRECTNESS requirement, not an optimization
    (the exact opposite of the register store's idempotent max; both
    properties are pinned side by side in tests/test_hll_stream.py).
    Same commit protocol (SummarySink): full grid into a fresh commit
    dir, ONE atomic manifest write; crash before it leaves the
    previous version live and the replay re-derives and publishes the
    same merge (the guard compares against the last PUBLISHED
    manifest, so an unpublished crashed attempt is invisible to it).

    State is the fixed depth x width grid regardless of stream length
    — the mergeable-summary scale story; estimates for any probe
    value are MIN over its row cells, one-sided (>= true), exactly
    the batch sketch's semantics (sketch_count_min). Geometry is a
    constructor parameter (defaults are the test size 4x256;
    production uses width >= 2^16 = 2 MiB/grid — error eps = e/width,
    cells stay far from int64 territory at any stream length) and is
    persisted in manifests: grids under different geometries refuse
    to add, and reads refuse too — a default-width reader over a
    2^16-wide store would probe wrong buckets and could return
    UNDER-estimates, silently breaking the one-sided contract.
    Absent coordinates in the published grid are implicit zeros."""

    value_col: str = "v"
    depth: int = CMS_DEPTH
    width: int = CMS_WIDTH

    subdir = "cells"
    schema = _CMS_SCHEMA
    merge = staticmethod(F.sum)
    store = "cm sketch store"
    mismatch = ("a mismatched geometry probes wrong buckets, and grids "
                "under different geometries do not add")

    def layout(self) -> dict:
        return {"depth": self.depth, "width": self.width}

    def partial(self, batch: DataFrame) -> DataFrame:
        from postgres_opensearch_cdc_spark.functions.dedup import (
            _ensure_parallelism,
        )

        return (
            self.coords(
                _ensure_parallelism(batch.select(self.value_col)),
                self.value_col,
            )
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("cell"))
        )

    # the published (r, bucket, cell) grid
    cells = SummarySink.read

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
