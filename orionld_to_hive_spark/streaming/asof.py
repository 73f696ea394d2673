"""Streaming as-of enrichment — the streaming twin of the batch as-of
family (`operators/temporal.py::asof_join`), closing the last
batch-only temporal family (VERDICT r7 item 5).

Extension beyond the reference (its streaming path is ingest-only,
reference `subscriber.py:53-95`; it never correlates a stream with
temporal state).

Shape: a LEFT stream of events (e.g. purchases) is enriched with the
latest-preceding RIGHT row per key (e.g. the user's last click at or
before the purchase). The right side is a parquet STATE TABLE under
`base/right/` that can itself be fed by a second stream (per-batch
slots, `streaming/sink.py`), so both sides may be live.

Why foreachBatch and not stream-stream join state: the as-of result is
ROW-LOCAL ON THE LEFT — `asof_join(L1 ∪ L2, R) = asof_join(L1, R) ∪
asof_join(L2, R)` for any split of the left side, because each left
row's match depends only on that row and R. Micro-batching the left is
therefore EXACT, and the only cross-batch state needed is the right
table itself — which parquet already is. Spark's built-in stream-stream
joins cannot express "latest preceding" anyway (no ordered semantics in
the state store); the union-tag window trick runs per batch instead.

Semantics pinned by the units (tests/test_asof_stream.py):
  - With the right table complete before the stream runs, the
    accumulated enrichment is ROW-IDENTICAL to the batch asof_join over
    the whole left set, for any micro-batch split (exactness above).
  - Each left batch is enriched AS OF THE RIGHT STATE AT ITS PROCESSING
    TIME: right rows arriving later do NOT retro-patch already-emitted
    batches (append-only sinks can't be retro-patched; this is the
    documented contract of every foreachBatch-against-external-state
    design). Re-processing a batch (checkpoint replay, or an explicit
    `enrich_batch` re-run) re-enriches against CURRENT right state, so
    replay after late right arrivals converges toward the complete
    batch answer — enrichment only improves, never duplicates.
  - A right (key, ts) redelivered under a later batch_id supersedes the
    old row (latest-batch-wins, as in streaming/ann.py), preserving the
    `asof_join` requirement that the right side is unique per (key, ts).

Scale stance: per micro-batch the work is one union-tag window over
(batch ∪ right-state-restricted-to-batch-keys) — the right side is
SEMI-JOIN-PRUNED to the batch's keys before the window, so a small
batch against a 100 TB state table shuffles only the touched keys'
history, not the table. Enriched output lands in one slot per
batch_id (`streaming/sink.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from orionld_to_hive_spark.operators.temporal import asof_join
from orionld_to_hive_spark.streaming.sink import (
    exists,
    read_state,
    start_batches,
    write_slot,
)


class StreamingAsofEnricher:
    """Layout under `base`:

    base/right/batch_id=N/     — right-side state rows of micro-batch N
    base/enriched/batch_id=N/  — enriched left rows of micro-batch N
    """

    def __init__(
        self,
        base: str,
        key: str,
        ts: str,
        value_cols: tuple[str, ...],
        how: str = "inner",
        assert_unique_right: bool = False,
    ):
        """`assert_unique_right=True` makes `write_right_batch` reject
        a micro-batch carrying duplicate (key, ts) rows instead of
        letting `right_state` resolve them (r8 review): batch_id breaks
        ties ACROSS batches (latest-batch-wins, redelivery semantics),
        but WITHIN one batch there is no arrival order to prefer, so
        the resolver falls back to max(value_cols) — deterministic but
        arbitrary. Feeds whose within-batch duplicates are meaningful
        (e.g. a CDC source emitting two corrections in one batch)
        should either pre-resolve them or opt into the assert."""
        if how not in ("inner", "left"):
            raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
        self.assert_unique_right = assert_unique_right
        self.base = base.rstrip("/")
        self.key, self.ts, self.value_cols, self.how = (
            key,
            ts,
            tuple(value_cols),
            how,
        )

    # -- right-side state maintenance -------------------------------------
    def write_right_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook for the right stream: the batch's right
        slot. With `assert_unique_right`, duplicate (key, ts) rows
        within the batch raise before anything is written (see
        __init__)."""
        rows = batch_df.select(self.key, self.ts, *self.value_cols)
        if self.assert_unique_right:
            dup = (
                rows.groupBy(self.key, self.ts)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"right batch {batch_id} has duplicate "
                    f"({self.key}, {self.ts}) rows, e.g. "
                    f"({dup[0][0]!r}, {dup[0][1]!r}) — within-batch "
                    "duplicates have no arrival order to break ties "
                    "with; pre-resolve them or drop assert_unique_right"
                )
        write_slot(rows, self.base, "right", batch_id)

    def start_right(
        self, stream_df: DataFrame, checkpoint_dir: str,
        available_now: bool = True,
    ):
        return start_batches(
            stream_df, self.write_right_batch, checkpoint_dir, available_now
        )

    def right_state(self, spark: SparkSession) -> DataFrame:
        """Current right state: latest-batch-wins per (key, ts) so a
        redelivered or corrected row supersedes its old version and the
        as-of window sees a unique right row per (key, ts). Duplicates
        WITHIN one batch_id have no arrival order, so the ordering
        falls back to max(value_cols) — deterministic but arbitrary;
        feeds where that matters should construct the enricher with
        `assert_unique_right=True` (r8 review). The window runs over
        the state table's own key, across every slot."""
        df = spark.read.parquet(f"{self.base}/right")
        w = Window.partitionBy(self.key, self.ts).orderBy(
            F.col("batch_id").desc(),
            *[F.col(c).desc() for c in self.value_cols],
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(self.key, self.ts, *self.value_cols)
        )

    # -- left-side enrichment ----------------------------------------------
    def enrich_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook for the left stream: union-tag as-of join
        of this batch against current right state, written to the
        batch's enriched slot. The right side is pruned to the batch's
        keys first (left-semi), so the window shuffles only the touched
        keys' history."""
        spark = batch_df.sparkSession
        if not exists(spark, f"{self.base}/right"):
            # the right table defines the asof value-column TYPES, so
            # an empty stand-in can't be synthesized — fail with the
            # contract instead of a cryptic path-missing AnalysisException
            raise RuntimeError(
                f"no right state under {self.base}/right yet — bootstrap "
                "the right side (write_right_batch / start_right) before "
                "starting the left enrichment stream"
            )
        batch_df = batch_df.persist()
        try:
            right = self.right_state(spark).join(
                batch_df.select(self.key).distinct(),
                self.key,
                "left_semi",
            )
            enriched = asof_join(
                batch_df,
                right,
                key=self.key,
                ts=self.ts,
                value_cols=self.value_cols,
                how=self.how,
            )
            write_slot(enriched, self.base, "enriched", batch_id)
        finally:
            batch_df.unpersist()

    def start_left(
        self, stream_df: DataFrame, checkpoint_dir: str,
        available_now: bool = True,
    ):
        return start_batches(
            stream_df, self.enrich_batch, checkpoint_dir, available_now
        )

    def enriched(self, spark: SparkSession) -> DataFrame:
        """Accumulated enrichment (batch_id discovered as a partition
        column and dropped). Raises with the bootstrap step if no left
        batch has been enriched yet (r8 review: an explicit contract
        error, not a path-missing AnalysisException)."""
        return read_state(
            spark,
            f"{self.base}/enriched",
            "the left enrichment stream (start_left / enrich_batch)",
        ).drop("batch_id")
