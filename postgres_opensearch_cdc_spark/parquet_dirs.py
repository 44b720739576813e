"""Job-free reads of parquet leaf directories whose schema is known.

A plain ``spark.read.parquet(*dirs)`` launches Spark jobs before the
caller ever runs an action:

- a footer schema-inference job, unless a schema is given;
- a parallel file-listing job with one task per directory, whenever a
  relation has more root paths than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold``.

The commit-manifest stores (the versioned mirror, the IVF-PQ index, the
monitor alert log) already record both the schema and the exact
directories to read, so both jobs are pure overhead on every request.
``read_parquet_dirs`` passes the schema and splits the directories into
relations of at most the threshold, which Spark then lists serially
in the calling process; building the frame launches no job.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, types as T

_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def read_parquet_dirs(
    spark: SparkSession,
    schema: T.StructType,
    dirs: list[str],
    base_path: str | None = None,
) -> DataFrame:
    """Union of the parquet files under ``dirs`` read with ``schema``.

    Files missing a schema column read it as null. With ``base_path``,
    the ``key=value`` directories below it become partition columns,
    typed by ``schema``. ``dirs`` must not be empty."""
    threshold = max(1, int(spark.conf.get(_LISTING_THRESHOLD)))
    reader = spark.read.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reduce(
        DataFrame.union,
        [
            reader.parquet(*dirs[i:i + threshold])
            for i in range(0, len(dirs), threshold)
        ],
    )
