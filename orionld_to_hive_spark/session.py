"""SparkSession factory.

Single place where engine-wide execution settings live. Mirrors the
deployment stance in SURVEY.md §7: AQE on (runtime re-plan, skew-join,
partition coalescing), UTC session timezone (so timestamp semantics match
a UTC-naive oracle like DuckDB), ANSI off (the reference's Hive casts are
lenient — bad strings become NULL, `hive.py:56,65-67` of the reference),
Arrow on (vectorized Pandas-UDF exchange).

At cluster scale the same factory applies; only master/memory/shuffle
partition counts change (they are parameters here, not hardcoded).

A local master (`local[...]`) commits streaming checkpoints through
Spark's FileSystem-based checkpoint manager. The default one renames
through Hadoop's `FileContext`, which on the local filesystem forks a
`readlink` process per offset, commit and source-log file; both managers
check and then rename there (Hadoop's local overwrite-rename is a delete
plus a rename), so no atomicity is lost, and `FileSystem.rename` forks
nothing. Other masters keep Spark's default, whose `FileContext` rename
is atomic on HDFS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "orionld_to_hive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    Defaults are sized by $SPARK_GRAFT_CPUS (harness contract); on a real
    cluster pass master=None with spark-submit-provided master and set
    shuffle_partitions ~ 2-3x total executor cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # INT64 timestamps carry parquet min/max statistics (INT96 has
        # none), so row groups can be skipped on `ts`; writes read this
        # from the session only
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
