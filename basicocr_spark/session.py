"""SparkSession factory tuned for the extraction workload.

Local-mode knobs mirror what a 1000-executor cluster deployment would set
cluster-wide: AQE on (dynamic coalescing + skew-join splitting — the
interleaved corpus is heavy-tailed in span count per doc), Arrow enabled
for every Python boundary, shuffle partitions sized to parallelism rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    parallelism: int | None = None,
    app_name: str = "basicocr_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local[N] thread count; also sets shuffle partitions.
    At cluster scale the same confs apply, with shuffle partitions sized
    to ~2-3x total cores and `spark.sql.files.maxPartitionBytes` left at
    128 MB so a 100 TB scan yields ~800k well-sized tasks.
    """
    n = parallelism or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # nested-schema pruning so span-routing reads only spans.kind /
        # spans.media_ref from parquet, not the full struct
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
