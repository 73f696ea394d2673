"""Batch TSV ingestion — the Spark-native replacement for the
reference's `insert.py` (pandas + one HBase Thrift put per row, its
biggest throughput sin — reference `insert.py:83-95`).

One declarative job: glob-scan all measurement files (S1/S2), drop
malformed lines (P7) and nulls (P5), seeded-sample (P6), infer
(room, sensor) identity from the FILENAME (F13 — reference
`insert.py:35-47` encodes identity in `{Room}_{Sensor}.csv` names),
synthesize the entity key (F5), pivot each sensor reading into the
sparse wide readings schema (SURVEY.md §1.1), and write once,
partitioned by room and sorted by ts within files for row-group
skipping (S3).

At 100 TB: the scan parallelizes per-file-split, and the one wide
operation is the writer's rebalance exchange on room
(`write_partitioned`), which AQE splits where a room outgrows the
advisory partition size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.schemas import RAW_TSV_SCHEMA, SENSORS
from orionld_to_hive_spark.sources.warehouse import write_partitioned

# filename shape: .../{Room}_{Sensor}.csv  (reference `insert.py:35-47`)
_FILE_RE = r"([A-Za-z0-9]+)_([A-Za-z]+)\.csv$"


def read_raw_measurements(spark: SparkSession, glob_path: str) -> DataFrame:
    """Headerless (epoch<TAB>value) scan with malformed-line drop and
    filename-derived room/sensor columns.

    Identity comes from the bare file name (`_metadata.file_name`), not
    the full URI of `input_file_name()`: the regex then never scans the
    directory part, whatever underscores or `.csv` it holds."""
    df = (
        spark.read.schema(RAW_TSV_SCHEMA)
        .option("sep", "\t")
        .option("mode", "DROPMALFORMED")
        .csv(glob_path)
    )
    fname = F.col("_metadata.file_name")
    return df.select(
        F.lower(F.regexp_extract(fname, _FILE_RE, 1)).alias("room"),
        F.lower(F.regexp_extract(fname, _FILE_RE, 2)).alias("sensor"),
        "epoch_s",
        "value",
    )


def ingest_measurements(
    spark: SparkSession,
    glob_path: str,
    out_path: str,
    sample_fraction: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Full insert.py-equivalent pipeline; returns the frame it wrote.

    Unlike the reference (which discards the CSV epoch and stamps rows
    with random FUTURE timestamps — a defect, reference `insert.py:28-33`
    and SURVEY.md §2.12), event time comes from the data: the epoch
    column becomes `ts`.
    """
    raw = read_raw_measurements(spark, glob_path)
    cleaned = raw.na.drop("any").filter(F.col("sensor").isin(*SENSORS))
    sampled = (
        cleaned.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction < 1.0
        else cleaned
    )
    readings = sampled.select(
        "room",
        F.concat_ws(
            "_", "room", F.date_format(F.timestamp_seconds("epoch_s"),
                                       "yyyy-MM-dd HH:mm:ss")
        ).alias("entityid"),
        F.when(F.col("sensor") == "temperature", F.col("value")).alias(
            "temperature"
        ),
        F.when(F.col("sensor") == "humidity", F.col("value"))
        .cast("int")
        .alias("humidity"),
        F.when(F.col("sensor") == "brightness", F.col("value")).alias(
            "brightness"
        ),
        F.timestamp_seconds("epoch_s").alias("ts"),
    )
    write_partitioned(
        readings, out_path, partition_cols=("room",), sort_cols=("ts",),
        mode="overwrite",
    )
    return readings
