"""The mergeable-summary store behind the streamed Gram, HLL and
count-min sinks (streaming/gram.py, streaming/sketch.py): a
fixed-size table that a batch's partial merges into by one aggregate
per key, so a commit costs O(|batch| + |summary|), never history.

Each store is a commits.CommitLog: ``<path>/data/<commit>/<subdir>/``
holds the full table, and its manifest is {version, commit, batch_id,
writer_id, **layout}. ``apply_batch`` reads the latest manifest ONCE,
skips a replayed ``(writer_id, batch_id)``, checks the layout, merges
the partial with THAT manifest's state, writes a fresh commit dir and
publishes the next version; a crash before the publish leaves the
previous version live. Reads check the layout too: a reader of a
different layout would mis-index or mis-estimate silently. Whether
the replay guard is needed for correctness is the merge's property
(an additive ``sum`` double-counts a replay, an idempotent ``max``
does not); each store's docstring says which.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Callable, ClassVar

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from postgres_opensearch_cdc_spark.commits import CommitLog


@dataclass
class SummarySink:
    """foreachBatch sink for one mergeable summary. A subclass sets
    ``subdir`` (the data dir in a commit dir), ``schema`` (the key
    columns, then the one value column), ``merge`` (the aggregate
    over a key's values), ``store``/``mismatch`` (the words of the
    layout error), and defines ``layout()`` (the manifest fields
    checked on read and write) and ``partial(batch)``."""

    path: str

    subdir: ClassVar[str]
    schema: ClassVar[T.StructType]
    merge: ClassVar[Callable[[str], Column]]
    store: ClassVar[str]
    mismatch: ClassVar[str]

    def layout(self) -> dict:
        raise NotImplementedError

    def partial(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    @property
    def log(self) -> CommitLog:
        return CommitLog(self.path)

    def _check_layout(self, manifest: dict) -> None:
        want = self.layout()
        if any(manifest.get(k) != v for k, v in want.items()):
            have = ", ".join(f"{k}={manifest.get(k)}" for k in want)
            has = ", ".join(f"{k}={v}" for k, v in want.items())
            raise ValueError(
                f"{self.store} at {self.path} was written with {have}; "
                f"this sink has {has} — {self.mismatch}"
            )

    def _state(self, spark: SparkSession, manifest: dict) -> DataFrame:
        return spark.read.schema(self.schema).parquet(
            os.path.join(self.log.data_dir, manifest["commit"], self.subdir)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The published summary table (empty before the first
        commit), after checking the store's layout."""
        manifest = self.log.load()
        if manifest is None:
            return spark.createDataFrame([], self.schema)
        self._check_layout(manifest)
        return self._state(spark, manifest)

    def apply_batch(self, batch: DataFrame, batch_id: int,
                    writer_id: str | None = None) -> None:
        log = self.log
        manifest = log.load()
        if log.replays(manifest, batch_id, writer_id):
            return
        if manifest is not None:
            self._check_layout(manifest)
        *keys, value = self.schema.names
        merged = self.partial(batch)
        if manifest is not None:
            merged = (
                self._state(batch.sparkSession, manifest)
                .unionByName(merged)
                .groupBy(*keys)
                .agg(self.merge(value).alias(value))
            )
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        merged.select(
            *(F.col(f.name).cast(f.dataType) for f in self.schema)
        ).write.mode("overwrite").parquet(
            os.path.join(log.data_dir, commit, self.subdir)
        )
        log.commit(manifest, {
            "commit": commit,
            "batch_id": batch_id,
            "writer_id": writer_id,
            **self.layout(),
        })

    def vacuum(self, keep_versions: int = 1) -> int:
        """GC commit dirs and manifests older than the last
        ``keep_versions`` (>= 1); see ``CommitLog.vacuum``. Each
        commit writes the full summary, so only kept versions' dirs
        stay. Returns the number of commit dirs removed."""
        return self.log.vacuum(keep_versions, lambda m: [m["commit"]])
