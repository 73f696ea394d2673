"""Incrementally-maintained hourly rollup (continuous aggregate).

The reference re-runs its hourly GROUP BY from scratch on every query
(reference `hive.py:55-60`) — at 100 TB that is a full fact-table scan
per dashboard refresh. The streaming-native design maintains the
rollup incrementally: each micro-batch writes MERGEABLE PARTIAL
aggregates (count + exact-decimal sum per (hour, room)), and the
read-time view merges partials with a second tiny aggregate. The same
partial/final split Spark uses internally for every groupBy, made
durable.

Properties:
  - each micro-batch aggregates only its own rows — work per trigger is
    O(batch), never O(history);
  - the rollup table grows by ≤ (#rooms × #hours-touched) rows per
    batch — read-time merge is over partials, not events;
  - each batch's partials land in its own slot,
    `{rollup_path}/partials/batch_id=N` (`streaming/sink.py`), so a
    foreachBatch retry rewrites that slot instead of adding a second
    copy, and the read view merges every slot as it is;
  - AVG is derivable because we store (sum, count), not averages —
    averages don't merge (SURVEY §2.4's A8 caveat applies at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.functions.numeric import DECIMAL_T
from orionld_to_hive_spark.streaming.sink import start_batches, write_slot


def _partials(batch_df: DataFrame) -> DataFrame:
    dec = F.col("temperature").cast(DECIMAL_T)
    return batch_df.groupBy(
        F.date_trunc("hour", "event_ts").alias("hour"), "room"
    ).agg(
        F.count("temperature").alias("n_partial"),
        F.sum(dec).alias("sum_temp_partial"),
    )


def start_rollup(
    parsed_stream: DataFrame, rollup_path: str, checkpoint_dir: str
):
    """Maintain the rollup from the notification stream, availableNow."""

    def update(batch_df: DataFrame, batch_id: int) -> None:
        write_slot(_partials(batch_df), rollup_path, "partials", batch_id)

    return start_batches(parsed_stream, update, checkpoint_dir)


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Merge partials → final (hour, room) stats. The only aggregate a
    dashboard query ever runs — over partials, not the fact table."""
    return (
        spark.read.parquet(f"{rollup_path}/partials")
        .groupBy("hour", "room")
        .agg(
            F.sum("n_partial").alias("n_readings"),
            (
                F.sum("sum_temp_partial").cast("double") / F.sum("n_partial")
            ).alias("avg_temperature"),
        )
        .orderBy("hour", "room")
    )
