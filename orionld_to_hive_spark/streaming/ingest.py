"""Streaming ingestion — the Spark-native replacement for the
reference's Flask subscriber (reference `subscriber.py`).

The reference receives NGSI-LD notifications over HTTP, throttles
per-entity, queues, and writes rows to HBase with 3 worker threads
(S6/T1/T2/T3). Spark has no native HTTP push source, so the transport
adapter is a file-drop (or Kafka) of notification JSON — the same
out-of-engine shim role Flask played. Everything after transport is
engine code:

  readStream(json, NGSI schema)            # S6
    → explode(data[])                      # T1: batched entity updates
    → normalize to readings rows           # F11: Property.value extraction
    → writeStream.foreachBatch(write_partitioned)  # S4, checkpointed

A micro-batch takes new files up to a byte bound, by default the
session's scan split size, and at least one file, so a backlog of small
notification files drains in as few micro-batches as its bytes allow
(`read_notification_stream` says why bytes and not files).

Each micro-batch goes through the batch path's writer, so streamed and
batch readings share one layout: room-partitioned, one ts-sorted file
per room per batch at this size. The reference's per-entity throttle
(T2) is not on this path; `debounce.py` has the keyed operator.

Checkpointing upgrades the reference's at-most-once delivery (HTTP 200
regardless of write outcome, `subscriber.py:123`) to at-least-once into
the warehouse, not exactly-once: each batch APPENDS to the shared
table, so a batch that Spark re-runs after a crash between the write
and the commit log is written twice (`streaming/sink.py`).

Timestamp semantics (T4): the reference DISCARDS the event's observedAt
and stamps arrival time (`subscriber.py:62`). We keep both: `ts` is
processing time (parity), `event_ts` carries observedAt (fixing the
silent data loss; enables watermarked event-time ops as an extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.schemas import NGSI_NOTIFICATION_SCHEMA, SENSORS
from orionld_to_hive_spark.sources.warehouse import write_partitioned
from orionld_to_hive_spark.streaming.sink import start_batches


def parse_notifications(df: DataFrame) -> DataFrame:
    """Notification envelope → one readings-shaped row per entity.

    Works identically on static and streaming frames (same lineage is
    used by tests and the live stream).
    """
    entity = F.explode("data").alias("entity")
    exploded = df.select("subscriptionId", entity)
    cols = [
        F.lower(F.col("entity.type")).alias("room"),
        F.col("entity.id").alias("entityid"),
        F.col("entity.temperature.value").alias("temperature"),
        F.col("entity.humidity.value").cast("int").alias("humidity"),
        F.col("entity.brightness.value").alias("brightness"),
        # processing-time stamp (T4 parity)
        F.current_timestamp().alias("ts"),
        # earliest observedAt across present attributes → event time
        F.coalesce(
            *[F.to_timestamp(F.col(f"entity.{s}.observedAt")) for s in SENSORS]
        ).alias("event_ts"),
    ]
    return exploded.select(*cols)


def read_notification_stream(
    spark: SparkSession, in_dir: str, max_bytes_per_trigger: int | None = None
) -> DataFrame:
    """The notification files in `in_dir` as a stream of readings rows.

    Each micro-batch takes new files up to `max_bytes_per_trigger` bytes
    in all (`maxBytesPerTrigger`), by default the session's scan split
    size, `spark.sql.files.maxPartitionBytes`. Spark takes at least one
    file per trigger, so `max_bytes_per_trigger=1` paces one file per
    micro-batch. The bound is in bytes, not files, because the transport
    lands one small file per notification or so: a micro-batch costs a
    fixed amount of CPU (planning, offset and commit logs, one write job)
    that is larger than the work on a few rows, so a backlog of small
    files should drain in as few micro-batches as its bytes allow.
    """
    if max_bytes_per_trigger is None:
        # the conf reads back as "134217728b"; the option takes digits
        java_utils = spark._jvm.org.apache.spark.network.util.JavaUtils
        max_bytes_per_trigger = java_utils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
    raw = (
        spark.readStream.schema(NGSI_NOTIFICATION_SCHEMA)
        .option("maxBytesPerTrigger", max_bytes_per_trigger)
        .json(in_dir)
    )
    return parse_notifications(raw)


def start_ingest(
    spark: SparkSession,
    in_dir: str,
    out_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Run the notification stream into the parquet warehouse.

    foreachBatch + checkpoint = at-least-once appends (a batch re-run
    after a crash before its commit is appended again), each through
    the batch path's `write_partitioned`, so downstream queries prune
    and skip identically on both.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_partitioned(batch_df, out_path, ("room",), ("ts",))

    return start_batches(
        read_notification_stream(spark, in_dir),
        write_batch,
        checkpoint_dir,
        available_now,
    )
