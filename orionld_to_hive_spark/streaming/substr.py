"""Streaming exact-substring dedup — the live twin of
`operators/dedup.py::exact_substr_rewrite` (documents arrive on a
stream; each micro-batch is rewritten against everything seen so far
without re-scanning the corpus).

Design: the cross-batch state is the GRAM-MINIMA store — one
(gh, doc_id, pos) row per distinct gram per batch, the batch-local
first occurrence, written to per-batch slots (`streaming/sink.py`:
state reads filter `batch_id < N`, so a replay never sees its own
previous write). Read-time min-merge over the partials reconstructs
the global first occurrence — min is idempotent and commutative, so
the store is at-least-once-safe by algebra, exactly like the
HLL/quantile stores.

Per batch: a batch occurrence is duplicated iff it is not the overall
minimum of its gram, where overall = least(store minimum over earlier
batches, batch minimum). The store side is pruned to the batch's gram
keys BEFORE the comparison (inner join from the batch-minima side) —
small batches against a 100 TB gram store shuffle only the touched
keys, the `streaming/asof.py` discipline. The cut/reassemble stage is
the SAME code as the batch operator (`_substr_cut`).

Equality contract: for doc_id-ORDERED splits the output is
row-identical to the batch operator over the union (the global first
occurrence lives in the earliest batch that contains its gram, so
every later comparison resolves exactly as the batch query's global
min does). For unordered arrivals keep-first follows arrival order —
the standard streaming-dedup semantics, pinned by its own unit.

Scale: store grows one row per distinct gram per batch that sees it
(the inherent state of exact-substring dedup — Lee et al. 2022 keep a
corpus suffix array). No broadcast, no collect; every stage is a
keyed shuffle linear in the BATCH, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.operators.dedup import (
    EXACT_SUBSTR_K,
    _packed_pk,
    _substr_cut,
    _substr_grams,
)
from orionld_to_hive_spark.streaming.sink import (
    exists,
    read_state,
    start_batches,
    write_slot,
)


def _gram_minima(
    spark: SparkSession, base: str, grams: DataFrame, batch_id: int
) -> tuple[DataFrame, DataFrame]:
    """Batch-local and overall gram minima as packed bigints: returns
    (bmin(gh, bpk), mins(gh, opk)). Factored from process_batch so the
    hash-aggregate plan shape is test/plan-dump addressable."""
    bmin = grams.groupBy("gh").agg(F.min("pk").alias("bpk"))
    if exists(spark, f"{base}/grams"):
        # prune the store to this batch's gram keys BEFORE the
        # min-merge aggregate — the semi-join keeps the per-batch
        # cost keyed on the BATCH's grams; aggregating the whole
        # store first would shuffle corpus-scale state every batch
        smin = (
            spark.read.parquet(f"{base}/grams")
            .filter(F.col("batch_id") < batch_id)
            .join(bmin.select("gh"), "gh", "left_semi")
            .select(
                "gh", _packed_pk(F.col("doc_id"), F.col("pos")).alias("pk")
            )
            .groupBy("gh")
            .agg(F.min("pk").alias("spk"))
        )
        # overall minimum; F.least skips nulls from the left join
        mins = bmin.join(smin, "gh", "left").select(
            "gh", F.least("spk", "bpk").alias("opk")
        )
    else:
        mins = bmin.select("gh", F.col("bpk").alias("opk"))
    return bmin, mins


class StreamingExactSubstr:
    """Layout under `base`:

    base/grams/batch_id=N/ — (gh, doc_id, pos) batch-local gram minima
    base/out/batch_id=N/   — rewritten rows for batch N
    """

    def __init__(self, base: str):
        self.base = base.rstrip("/")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        toks = F.split(F.col("text"), " ")
        docs = batch_df.select("doc_id", toks.alias("toks"))
        # (doc_id, pos) packed into ONE bigint (r14, the batch
        # operator's wave-4c pack applied to the stream): min(struct)
        # is a lexicographic argmin but a struct aggregation buffer is
        # not UnsafeRow-mutable, so BOTH per-batch min-merges planned
        # SortAggregates — the batch gram stream sorted map-side and
        # post-shuffle every micro-batch. min(bigint) hash-aggregates
        # with map-side combine. Equivalence is _packed_pk's contract
        # (guarded: doc_id ∈ [0, 2³¹)); the ON-DISK store layout is
        # unchanged — (gh, doc_id bigint, pos int) flat columns — so
        # existing stores replay bit-identically and the pack stays a
        # read-side expression, not a state-format migration.
        grams = _substr_grams(docs).withColumn(
            "pk", _packed_pk(F.col("doc_id"), F.col("pos"))
        )
        bmin, mins = _gram_minima(spark, self.base, grams, batch_id)
        dup = (
            grams.join(mins, "gh")
            .filter(F.col("pk") != F.col("opk"))
            .select("doc_id", "pos")
            .persist()  # two consumers in the cut stage; released below
        )
        try:
            write_slot(_substr_cut(docs, dup), self.base, "out", batch_id)
            # unpack preserves the pre-r14 store column types exactly
            # (doc_id bigint, pos int), so replays read the same store
            unpacked = bmin.select(
                "gh",
                F.shiftright(F.col("bpk"), 32).alias("doc_id"),
                F.col("bpk")
                .bitwiseAND(F.lit((1 << 32) - 1))
                .cast("int")
                .alias("pos"),
            )
            write_slot(unpacked, self.base, "grams", batch_id)
        finally:
            dup.unpersist()

    def start(
        self, stream_df: DataFrame, checkpoint_dir: str,
        available_now: bool = True,
    ):
        return start_batches(
            stream_df, self.process_batch, checkpoint_dir, available_now
        )

    def rewritten(self, spark: SparkSession) -> DataFrame:
        """All rewritten rows so far, schema-identical to the batch
        `exact_substr_rewrite` (plus the batch_id partition column,
        dropped here)."""
        return (
            read_state(
                spark,
                f"{self.base}/out",
                "the rewrite stream (start / process_batch)",
            )
            .select("doc_id", "n_tokens", "n_removed", "cleaned_text")
            .orderBy("doc_id")
        )
