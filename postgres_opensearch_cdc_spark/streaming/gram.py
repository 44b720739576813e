"""Streaming Gram-matrix rollup: a continuously-maintained d×d
second-moment matrix over an embedding stream — the spectral
counterpart of the sketch rollup sinks (streaming/sketch.py), for
corpora that arrive incrementally (a training-data ingest keeps the
corpus Gram warm so PCA/whitening/semantic-dedup never rescan
history).

Contract class: ADDITIVE, like CmsRollupSink and unlike the HLL
register store — Gram(A ⊎ B) = Gram(A) + Gram(B), so a replayed
micro-batch that reaches the merge DOUBLE-COUNTS and the
(writer_id, batch_id) manifest guard is a CORRECTNESS requirement
(pinned by tests/test_gram_stream.py, mirroring the CMS tests).

State is the fixed d(d+1)/2 upper-triangle doubles regardless of
stream length — the mergeable-summary scale story again: per-batch
cost is one Arrow-partial X^T X over the batch (kilobytes shuffled)
plus an O(d²) merge, never a history rescan. The commit, the
``sum`` merge and vacuum are streaming/summary.SummarySink's: full
triangle into a fresh commit dir, ONE atomic manifest publishing
{version, commit, batch_id, writer_id, dim}; crash before it leaves
the previous version live, and dimension is validated on BOTH write
and read (a mismatched-d reader would silently mis-index the
triangle).

Determinism: the only cross-split drift is float summation order
(~1e-12 relative), far inside the 6-dp rounding the oracle entry
(queries/training_pipeline12.embedding_gram_stream) applies — the
batch SQL oracle knows nothing about the split.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from postgres_opensearch_cdc_spark.queries.training_pipeline11 import (
    EMB_DIM,
    gram_upper,
)
from postgres_opensearch_cdc_spark.streaming.summary import SummarySink

_GRAM_SCHEMA = T.StructType([
    T.StructField("i", T.IntegerType()),
    T.StructField("j", T.IntegerType()),
    T.StructField("gram_raw", T.DoubleType()),
])


@dataclass
class GramRollupSink(SummarySink):
    """foreachBatch sink maintaining the upper-triangle Gram of an
    embedding stream; see the module docstring for the contract.
    ``vec_col`` names the batch's array<double> column (cast float32
    upstream — exact promotion — so every engine multiplies identical
    doubles)."""

    vec_col: str = "embedding"
    dim: int = EMB_DIM

    subdir = "gram"
    schema = _GRAM_SCHEMA
    merge = staticmethod(F.sum)
    store = "gram store"
    mismatch = "a mismatched dim mis-indexes the triangle"

    def layout(self) -> dict:
        return {"dim": self.dim}

    def partial(self, batch: DataFrame) -> DataFrame:
        # NO batch spread here (r14 final bench: the spread REGRESSED
        # this sink 1.97 -> 3.19 s): gram_upper emits d·(d+1)/2 partial
        # rows PER PARTITION, so repartitioning a small micro-batch to
        # session parallelism multiplies the reduce input ~8x while the
        # per-partition numpy fold is already trivial. A production
        # micro-batch arrives well-split from the source anyway.
        return gram_upper(batch, dim=self.dim, vec_col=self.vec_col)

    # the published (i, j, gram_raw) upper triangle
    gram = SummarySink.read
