"""Session-memoized parquet scans with a scan-parallelism floor for
compute-heavy first stages.

``read_parquet`` memoizes ``spark.read.parquet(path)`` through the one
cache (``memo.cached``): the call costs ~100 ms of DRIVER time (footer
read + schema inference), and the bench protocol rebuilds every query
once per timed run.  Only the READER frame is memoized — no rows are
materialized or cached, every execution re-scans the parquet data; it
is the moral equivalent of registering temp views once per session.

``read_spread`` memoizes ``spread`` of that reader the same way, so
the partition-count probe below (~40 ms of plan -> RDD conversion)
also runs once per (application, path, mtime) instead of per build.

The bench's parquet inputs are single-file, single-ROW-GROUP tables
(documents.parquet at sf1.0 is 5.9 MB / 1 row group), so a plain read
yields ONE scan partition no matter what ``maxPartitionBytes`` /
``minPartitionNum`` say — parquet splits land on row-group boundaries.
Every query whose expensive work happens BEFORE its first exchange
(tokenize + md5 signature aggregation, per-doc regex scoring, PDF /
HTML fixture synthesis inside mapInPandas, embedding matmuls) then
runs that work on one core of the 32 available.

``spread`` is the optimization-guide §2.5 remedy ("input skew: one
huge unsplittable file — repartition immediately after the read"),
made scale-adaptive instead of constant-tuned: it repartitions to
``defaultParallelism`` ONLY when the scan's own partition count is
below it.  At production scale inputs are many splittable files and
the scan already exceeds cluster parallelism, so this is a no-op —
no extra exchange is ever added to a 100 TB read.  Locally the added
exchange moves a few MB of pruned columns (Catalyst pushes projects
below Repartition, so column pruning still reaches the scan) and buys
a cores-wide first stage.

Row values are untouched and every query downstream is
partition-independent (no rand / monotonically_increasing_id /
spark_partition_id anywhere in the query paths), so results are
byte-identical with and without the repartition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .memo import cached


def read_parquet(spark, path: str) -> DataFrame:
    """Session-memoized ``spark.read.parquet(path)`` (see above)."""
    return cached(spark, "reader", path, lambda: spark.read.parquet(path))


def read_spread(spark, path: str) -> DataFrame:
    """Session-memoized ``spread(read_parquet(spark, path))``."""
    return cached(spark, "spread", path, lambda: spread(read_parquet(spark, path)))


def spread(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to cluster parallelism iff its current
    partitioning cannot feed every core (see module docstring)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning quirk: keep the plain scan
        return df
    return df.repartition(target) if cur < target else df
