"""Streaming exact quantiles — incremental distinct-value histogram.

Streaming twin of `operators/sketches.py::quantile_portable_value`
(r7). The batch op computes exact type-1 quantiles from a
(group, value) → count histogram; that histogram is a MERGEABLE
summary — counts add across any partition of the input — so a stream
can maintain it incrementally: each micro-batch contributes its own
partial histogram, and the exact quantile of everything-seen-so-far
is recoverable at any time by summing partials and running the same
cumulative-sum selection. No approximation enters anywhere: unlike
t-digest/GK sketches this is the exact answer, with state bounded by
DISTINCT values per group (the same bound the batch op's shuffle has),
not by rows seen.

Replay safety: one `batch_id=N` slot per micro-batch
(`streaming/sink.py`) — a checkpoint replay rewrites its own partial
instead of double-counting.

The unit test pins: quantiles from the stream-maintained store after N
micro-batches ≡ quantile_portable_value over the same rows in one
batch pass, and a replayed batch changes nothing.

Scale stance: per-batch work is one map-side-combined aggregate of
O(batch) rows; each slot holds the batch's distinct (group, value)
pairs. The quantile query aggregates the slots, never the raw stream
history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.streaming.sink import start_batches, write_slot


def partial_histogram(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(group, value, c) partial counts — mergeable by addition."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"), F.col(value_col).alias("value")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


class StreamingQuantileStore:
    """Incrementally maintained exact-quantile state under `base`."""

    def __init__(self, base: str, group_col: str, value_col: str):
        self.base = base.rstrip("/")
        self.group_col = group_col
        self.value_col = value_col

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: the batch's histogram slot."""
        write_slot(
            partial_histogram(batch_df, self.group_col, self.value_col),
            self.base,
            "hist",
            batch_id,
        )

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        return start_batches(stream_df, self.write_batch, checkpoint_dir, available_now)

    def merged_histogram(self, spark: SparkSession) -> DataFrame:
        """Sum the per-batch partials — counts are additive, so this IS
        the histogram of every row ever ingested (each exactly once)."""
        return (
            spark.read.parquet(f"{self.base}/hist")
            .groupBy("grp", "value")
            .agg(F.sum("c").alias("c"))
        )

    def quantiles(
        self, spark: SparkSession, fracs: tuple[float, ...] = (0.5, 0.95, 0.99)
    ) -> DataFrame:
        """Exact type-1 quantiles of everything seen so far — the same
        histogram + cumulative-sum selection as the batch op, run over
        the merged store."""
        from pyspark.sql.window import Window

        hist = self.merged_histogram(spark)
        wt = Window.partitionBy("grp")
        wcum = wt.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
        sized = hist.select(
            "grp",
            "value",
            "c",
            F.sum("c").over(wcum).alias("cum"),
            F.sum("c").over(wt).alias("tot"),
        )
        q = lambda frac: F.min(  # noqa: E731
            F.when(
                F.col("cum") >= F.ceil(F.col("tot") * F.lit(frac)),
                F.col("value"),
            )
        )
        # label with full precision (p99, p99_9, ...): rounding to whole
        # percents would collide e.g. 0.999 and 1.0 into duplicate
        # column names, poisoning any later select on the frame
        labels = [f"p{f * 100:g}".replace(".", "_") for f in fracs]
        if len(set(labels)) != len(labels):
            raise ValueError(f"duplicate quantile labels from {fracs}")
        aggs = [F.sum("c").alias("n_values")] + [
            q(f).alias(lbl) for f, lbl in zip(fracs, labels)
        ]
        return sized.groupBy("grp").agg(*aggs).orderBy("grp")
