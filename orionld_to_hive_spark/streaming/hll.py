"""Streaming HLL — incrementally maintained distinct-count registers.

Streaming twin of `operators/sketches.py::hll_portable_rollup` (the
`streaming/quantiles.py` move applied to the NDV family): HLL
registers are MAX-mergeable — max(rho) over any partition of the input
equals max(rho) over the whole — so each micro-batch contributes its
own partial register table and the estimate of everything-seen-so-far
is recoverable at any time by max-merging the partials and running the
same estimator. Duplicates can never inflate the answer (max is
idempotent), which also makes the store at-least-once-safe by algebra;
the per-batch slot (`streaming/sink.py`) additionally keeps replays
from growing the store.

State bound: |types|·|days|·m register rows per batch partial, however
many raw events the batch held; the read-side max-merge touches only
register rows.

The unit test pins: store rollup after N micro-batches ≡ the batch
`hll_portable_rollup` over the same rows, and a replayed batch changes
nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.operators.sketches import (
    _hll_registers_of,
    _hll_rollup_from_daily,
)
from orionld_to_hive_spark.streaming.sink import start_batches, write_slot


class StreamingHllStore:
    """Incrementally maintained HLL register store under `base`."""

    def __init__(self, base: str):
        self.base = base.rstrip("/")

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: the batch's register slot. Max-merge
        makes even cross-batch duplicates harmless."""
        write_slot(_hll_registers_of(batch_df), self.base, "reg", batch_id)

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        return start_batches(stream_df, self.write_batch, checkpoint_dir, available_now)

    def merged_registers(self, spark: SparkSession) -> DataFrame:
        """Max-merge the per-batch partials into the daily register
        table of every event ever ingested."""
        return (
            spark.read.parquet(f"{self.base}/reg")
            .groupBy("event_type", "day", "bucket")
            .agg(F.max("rho").alias("rho"))
        )

    def ndv_rollup(self, spark: SparkSession) -> DataFrame:
        """Type-level NDV estimates of everything seen so far — the
        same estimator the batch rollup runs, over the merged store."""
        return _hll_rollup_from_daily(self.merged_registers(spark))
