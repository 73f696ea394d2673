"""Streaming crawl frontier — incremental discovery, globally-ranked schedule.

Completes the crawl-planning family's streaming twin (the
`streaming/shards.py` construction): sitemap documents arrive
INCREMENTALLY in production (a discovery crawler finds new sites as
it goes), and the fetch schedule downstream fetchers read should
advance with them. The batch side is
`operators/frontier.py::crawl_frontier_schedule`; this module
maintains the same schedule as a Structured Streaming job through the
SAME lineage functions (`discovered_allowed_urls` + `rank_schedule`
— one shared dataflow, so stream and batch cannot drift).

Design:
  readStream(doc frame: doc_id) → foreachBatch:
    1. run the shared discovery+gate lineage over the NEW docs only
       and write the batch's `urls/batch_id=N` slot (replay-safe, see
       `streaming/sink.py`; a doc re-delivered later supersedes via
       latest-batch-wins on read);
    2. recompute the politeness ranking over the ACCUMULATED
       latest-wins URL store and write the `schedule/batch_id=N` slot.

The ranking is deliberately a full recompute: per-host slots are a
GLOBAL rank (adding one high-priority URL shifts every later slot on
its host), so there is no correct per-batch increment — the honest
streaming semantics is "discovery is incremental, ranking is a
refresh", which is exactly how production frontiers batch their
re-prioritization cycles. At 100 TB the refresh is one window over
the host-partitioned store; the discovery work stays proportional to
the new batch.

The invariant the units pin: after any sequence of micro-batches
(including replays and re-deliveries), `schedule()` is row-identical
to the batch `crawl_frontier_schedule` over the latest set of
delivered docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.operators.frontier import (
    discovered_allowed_urls,
    rank_schedule,
)
from orionld_to_hive_spark.streaming.sink import start_batches, write_slot


class StreamingFrontier:
    """Incrementally maintained frontier store under `base`:

    base/urls/batch_id=N/     — discovered+gated URLs of micro-batch N
    base/schedule/batch_id=N/ — the ranking refreshed after batch N
    """

    def __init__(self, base: str):
        self.base = base.rstrip("/")

    # -- ingest ----------------------------------------------------------
    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: the batch's url and schedule slots."""
        docs = batch_df.select("doc_id").distinct()
        write_slot(discovered_allowed_urls(docs), self.base, "urls", batch_id)
        write_slot(
            rank_schedule(self._latest_urls(batch_df.sparkSession)),
            self.base,
            "schedule",
            batch_id,
        )

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        """Attach the frontier sink to a streaming frame of (doc_id)
        rows."""
        return start_batches(stream_df, self.write_batch, checkpoint_dir, available_now)

    # -- read back -------------------------------------------------------
    def _latest_urls(self, spark: SparkSession) -> DataFrame:
        """Latest-batch-wins URL store: a doc re-delivered in a later
        micro-batch supersedes its earlier discovery rows."""
        from pyspark.sql.window import Window

        u = spark.read.parquet(f"{self.base}/urls")
        w = Window.partitionBy("asset_id").orderBy(F.col("batch_id").desc())
        latest = (
            u.select("asset_id", "batch_id")
            .distinct()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return u.join(latest, ["asset_id", "batch_id"]).drop("batch_id")

    def schedule(self, spark: SparkSession) -> DataFrame:
        """The newest ranking refresh (the only complete one)."""
        s = spark.read.parquet(f"{self.base}/schedule")
        latest = s.agg(F.max("batch_id")).collect()[0][0]
        return s.filter(F.col("batch_id") == latest).drop("batch_id")
