"""Streaming CDC apply — a changelog stream materialized into the
partitioned warehouse with PERSISTED tombstones.

The streaming sibling of `sources/merge.merge_upsert` and of
`operators/cdc.cdc_apply_changelog` (the pure-query current-state
view): each micro-batch of change rows (upserts + tombstones, any
number of versions per key, in ANY order) is MERGEd into the target;
`read_current` is the live view with tombstones filtered out.

Why tombstones are KEPT in the table rather than applied
destructively: per-key max-version is a commutative, associative,
idempotent reduction, so as long as every change row is delivered at
least once — in any batch, in any order, any number of times — the
table converges to the same state. Applying deletes destructively
(dropping the tombstone row itself, as `merge_upsert(delete_col=...)`
does) breaks that: once the tombstone is gone, a LATE batch carrying a
stale pre-delete upsert finds no newer row to lose against and
silently resurrects the key. (The first draft of this module did
exactly that and the arbitrary-split stream test caught the
resurrection.) Destructive apply is only safe under per-key ORDERED
delivery; persisted tombstones are safe under the far weaker
at-least-once-in-any-order contract real CDC transports (Kafka
partitions under rebalancing, replayed checkpoints, backfills)
actually give you. Kafka log compaction and Cassandra keep tombstones
for the same reason.

Retention: tombstones accumulate one row per deleted key (not per
delete event — merge keeps only the newest row per key). Purging them
is a maintenance rewrite, `sources/merge.purge_tombstones`, and is
only safe for tombstones older than the transport's maximum delivery
lag — purge early and the resurrection window above reopens. The
applier never purges on its own, and the purge needs an explicit bound
(`up_to_version`, or the `purge_all=True` opt-out).

Idempotency under checkpoint replay needs no batch_id bookkeeping —
re-merging rows the table already reflects rewrites the touched
partitions to identical content (latest-wins is a fixed point). The
per-batch slot of `streaming/sink.py` is inapplicable anyway: merge
mutates shared table state rather than owning a batch slot.

Scale stance: per-trigger cost is merge's — O(touched partitions +
batch), independent of table size; the stream itself holds NO state
(the table is the state), so no watermark and no state store. One
writer per table (merge's single-writer lock) — a CDC stream is
naturally the sole writer of its target.

Reference anchor: the T5 entity upsert (`subscriber.py:79-123`) is the
insert/update half of this; deletes are what CDC feeds (Debezium-style
op streams) add on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.sources.merge import latest_wins, merge_upsert
from orionld_to_hive_spark.sources.warehouse import write_partitioned
from orionld_to_hive_spark.streaming.sink import start_batches


class StreamingCdcApplier:
    """foreachBatch hook applying a keyed changelog to a parquet table.

    `delete_col` must be a boolean column of the stream; it is written
    to the table (persisted tombstones — see module docstring) and
    hidden by `read_current`.
    """

    def __init__(
        self,
        target_path: str,
        key_cols: tuple[str, ...],
        version_col: str,
        partition_cols: tuple[str, ...],
        delete_col: str,
    ):
        self.target_path = target_path.rstrip("/")
        self.key_cols = key_cols
        self.version_col = version_col
        self.partition_cols = partition_cols
        self.delete_col = delete_col

    def _table_exists(self, spark: SparkSession) -> bool:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.target_path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return False
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if not name.startswith("_") and not name.startswith("."):
                return True
        return False

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        if self._table_exists(batch_df.sparkSession):
            # plain latest-wins merge: the tombstone flag rides along as
            # an ordinary column, so a tombstone WINS its key (newest
            # version) and persists — never `delete_col=`-destructive
            # here, by design (module docstring)
            merge_upsert(
                self.target_path,
                batch_df,
                self.key_cols,
                self.version_col,
                self.partition_cols,
            )
        else:
            # per-key winners of ONE batch, tombstones KEPT — the
            # same `latest_wins` window the merge path of every later
            # batch runs, so replays pick identical winners
            write_partitioned(
                latest_wins(
                    batch_df, self.key_cols, F.col(self.version_col).desc()
                ),
                self.target_path,
                partition_cols=self.partition_cols,
            )

    def read_current(self, spark: SparkSession) -> DataFrame:
        """Live view: latest version per key, deleted keys absent."""
        return (
            spark.read.parquet(self.target_path)
            .filter(
                ~F.coalesce(
                    F.col(self.delete_col).cast("boolean"), F.lit(False)
                )
            )
            .drop(self.delete_col)
        )

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        return start_batches(stream_df, self.apply_batch, checkpoint_dir, available_now)
