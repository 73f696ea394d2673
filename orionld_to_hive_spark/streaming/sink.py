"""The one sink policy of every `foreachBatch` stream in this package:
how a stream starts, and how a replayed micro-batch avoids writing
twice.

Start: `start_batches` is the only `foreachBatch` start — append output
mode, a checkpoint directory, the batch function, and by default the
`availableNow` trigger (drain what is there, then stop). The starts in
`windowed.py` and `joins.py` write to the memory sink instead.

Replay: after a crash between a batch's write and its commit-log entry,
Spark runs that batch again with the same batch id and, for a
deterministic query, the same rows; the batch id is what a sink uses to
deduplicate (pyspark's `foreachBatch` contract). A store therefore
gives each micro-batch its own SLOT, `{base}/{kind}/batch_id={N}`, and
writes it in overwrite mode (`write_slot`): a replay rewrites its own
slot instead of adding a second copy. Reading `{base}/{kind}` discovers
`batch_id` as a partition column, so a view can order batches
(latest-batch-wins on re-delivery) and a batch function can read only
state from earlier batches (`batch_id < N`), which keeps a replay from
seeing its own previous write.

Cost: slots accumulate one directory per micro-batch per kind. Nothing
in the package compacts them, so a read scans every slot written so
far. A store that must answer from a bounded scan needs a compaction
step, which does not exist yet.

A sink that appends without a slot — `streaming/ingest.start_ingest`
writing into the shared warehouse — is at-least-once: a replayed batch
is written again. `streaming/cdc.py` needs no slot: its latest-wins
merge is a fixed point, so a replay rewrites identical partitions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def start_batches(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start `fn(batch_df, batch_id)` on every micro-batch of
    `stream_df`, checkpointed under `checkpoint_dir`."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fn)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def exists(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists on its Hadoop filesystem."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    ).exists(p)


def write_slot(df: DataFrame, base: str, kind: str, batch_id: int) -> None:
    """Write `df` as micro-batch `batch_id`'s slot of `{base}/{kind}`,
    replacing what a previous run of the same batch wrote there."""
    df.write.mode("overwrite").parquet(f"{base}/{kind}/batch_id={batch_id}")


def read_state(spark: SparkSession, path: str, first: str) -> DataFrame:
    """The parquet at `path`. Raises RuntimeError naming the path and
    `first`, the step that writes it, when nothing is there yet."""
    if not exists(spark, path):
        raise RuntimeError(f"no state under {path} yet — run {first} first")
    return spark.read.parquet(path)
