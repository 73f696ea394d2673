"""Dynamic partition-overwrite backfill: only the partitions present in
the written frame are replaced."""

from __future__ import annotations


def test_dynamic_partition_overwrite_backfills_only_named_partitions(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.warehouse import (
        overwrite_partitions,
        write_partitioned,
    )

    base = str(tmp_path / "wh")
    full = spark.createDataFrame(
        [("kitchen", 1, 20.0), ("kitchen", 2, 21.0), ("room1", 1, 18.0)],
        "room string, day int, temp double",
    )
    write_partitioned(full, base, partition_cols=("room",))
    # backfill ONLY kitchen with corrected values
    fixed = spark.createDataFrame(
        [("kitchen", 1, 99.0)], "room string, day int, temp double"
    )
    overwrite_partitions(fixed, base, partition_cols=("room",))
    got = spark.read.parquet(base)
    assert got.filter(F.col("room") == "kitchen").count() == 1  # replaced
    assert got.filter(F.col("room") == "room1").count() == 1    # untouched
    assert got.filter(F.col("temp") == 99.0).count() == 1
    # session conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
        == "STATIC"
    )
