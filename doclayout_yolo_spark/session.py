"""SparkSession factory with the tuned physical configs (SURVEY §4).

All performance-relevant knobs live in one table, ``sql_confs``, that
``get_spark`` applies to every session — bench, tests, tools and the
spark-submit jobs run identical settings:

- AQE on (runtime re-plan + skew-join split backstop, P9)
- shuffle partitions sized to cores, not the 200 default
- Arrow enabled + ``maxRecordsPerBatch`` tuned explicitly for
  binary-html payload rows (north rule: "Arrow batch sizing tuned
  explicitly"; P1).  1024 rows/batch measured ~10% faster end-to-end
  extraction than 256 in an interleaved A/B at local[32] (fewer
  Arrow round-trips; per-batch memory stays ~30 MB at Common-Crawl
  page weight, far under executor headroom; 4096 regressed again —
  worse pipelining).

The core count comes from the running context's
``defaultParallelism``, so the table sizes itself to whatever master
the session got — ``local[N]`` here, the cluster under spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 1024


def sql_confs(cores: int, shuffle_partitions: int | None = None) -> dict[str, str]:
    """The tuned ``spark.sql.*`` confs for a session with ``cores``."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.sql.files.maxPartitionBytes": "134217728",
        # scan-parallelism floor (guide §6): derived from the session's
        # core count, never a constant — locally it splits the 131 MB
        # lineitem file across its 6 row groups instead of 2 x 128 MB
        # splits; at production scale totalBytes/cores >> 128 MB so
        # maxPartitionBytes governs and this floor is inert
        "spark.sql.files.minPartitionNum": str(cores),
        # zstd: ~30% smaller than snappy on text-heavy columns at
        # comparable CPU — at 100 TB the scan is IO-bound, so this is
        # a direct throughput lever for downstream readers
        "spark.sql.parquet.compression.codec": "zstd",
    }


def get_spark(
    app: str = "doclayout-yolo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """The session with ``sql_confs`` applied.  Master, driver memory
    and UI-off are set only when ``master`` is passed (bench, tests,
    tools); under spark-submit, spark-submit owns those settings."""
    b = SparkSession.builder.appName(app)
    if master is not None:
        b = (
            b.master(master)
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
            .config("spark.ui.enabled", "false")
        )
    spark = b.getOrCreate()
    cores = spark.sparkContext.defaultParallelism
    for k, v in sql_confs(cores, shuffle_partitions).items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")
    return spark
