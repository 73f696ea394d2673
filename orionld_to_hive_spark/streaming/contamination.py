"""Streaming benchmark-contamination screen (r9, VERDICT r8 stretch):
the live twin of `operators/text.py::contamination_screen`. The batch
op answers "how much of each eval document leaks into the training
corpus" with one corpus scan; when the corpus ARRIVES as a stream, an
eval-set owner wants that table to stay current without re-scanning
everything ingested so far.

Design: the eval side of a contamination screen is always tiny (a
benchmark is thousands of documents; the corpus is billions), so the
eval shingle set is the natural STATE — written once at bootstrap,
broadcast against every micro-batch. Each batch contributes the set of
(eval_doc, gram) pairs it covers, landed in its own `batch_id=N` slot
(`streaming/sink.py`). The read view unions the pairs (DISTINCT) —
set union is idempotent and commutative, so the screen is
at-least-once-safe BY ALGEBRA: checkpoint replays, redelivered
batches, and even the same document arriving twice cannot inflate a
hit count (the same guarantee class as streaming/hll.py's max-merge).
Per-batch state written is bounded by the EVAL gram count, never by
the batch.

Exactness: "gram g of eval doc d appears somewhere in the corpus" is
a pure existence predicate, so for ANY micro-batch split of the
training corpus the accumulated report is row-identical to the batch
screen (pinned by tests/test_contamination_stream.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.operators.text import _shingles
from orionld_to_hive_spark.streaming.sink import (
    exists,
    read_state,
    start_batches,
    write_slot,
)

_BOOTSTRAP = "bootstrap_eval(eval_docs)"


class StreamingContaminationScreen:
    """Layout under `base`:

    base/eval_grams/      — (doc_id, g) distinct eval shingles (state)
    base/eval_totals/     — (doc_id, n_grams) denominator per eval doc
    base/hits/batch_id=N/ — (doc_id, g) eval grams covered by batch N
    """

    def __init__(self, base: str):
        self.base = base.rstrip("/")

    # -- one-time eval-set state -------------------------------------
    def bootstrap_eval(self, eval_docs: DataFrame) -> None:
        """Write the eval-side state from a (doc_id, text) frame. An
        eval-set UPDATE is a re-bootstrap (overwrite) + replay of the
        hits view's interpretation — per-batch hit pairs reference
        gram hashes, so grams dropped from the eval set simply stop
        matching at read time."""
        grams = (
            eval_docs.select("doc_id", _shingles().alias("grams"))
            .select("doc_id", F.explode("grams").alias("g"))
            .distinct()
        )
        grams.write.mode("overwrite").parquet(f"{self.base}/eval_grams")
        # denominators from the DOC frame, not the exploded grams — an
        # eval doc too short to shingle still owns an n_grams=0 row,
        # exactly like the batch twin's size(array_distinct(grams))
        eval_docs.select(
            "doc_id",
            F.size(F.array_distinct(_shingles())).alias("n_grams"),
        ).write.mode("overwrite").parquet(f"{self.base}/eval_totals")

    # -- per-batch screening ------------------------------------------
    def screen_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook for the training-document stream:
        intersect the batch's distinct grams with the (broadcast-sized)
        eval gram set; write the covered pairs to the batch's slot."""
        eval_g = read_state(
            batch_df.sparkSession, f"{self.base}/eval_grams", _BOOTSTRAP
        )
        batch_g = (
            batch_df.select(_shingles().alias("grams"))
            .select(F.explode("grams").alias("g"))
            .distinct()
        )
        # the eval side is tiny by construction — broadcast it, same
        # stance as the batch op's F.broadcast(eval_g)
        hits = batch_g.join(F.broadcast(eval_g), "g").select("doc_id", "g")
        write_slot(hits, self.base, "hits", batch_id)

    def start(
        self, stream_df: DataFrame, checkpoint_dir: str,
        available_now: bool = True,
    ):
        return start_batches(
            stream_df, self.screen_batch, checkpoint_dir, available_now
        )

    # -- read view ------------------------------------------------------
    def report(self, spark: SparkSession) -> DataFrame:
        """Current contamination table, schema-identical to the batch
        `contamination_screen`: per eval doc, distinct grams, grams
        seen anywhere in the streamed corpus so far, and the rate."""
        totals = read_state(spark, f"{self.base}/eval_totals", _BOOTSTRAP)
        if exists(spark, f"{self.base}/hits"):
            # re-anchor accumulated hit pairs on the CURRENT eval gram
            # state: after an eval-set re-bootstrap, pairs whose gram
            # was dropped must stop matching (the documented update
            # contract) instead of inflating n_hit with stale grams
            current = spark.read.parquet(
                f"{self.base}/eval_grams"
            ).select("doc_id", "g")
            hits = (
                spark.read.parquet(f"{self.base}/hits")
                .select("doc_id", "g")
                .distinct()  # set union across batches — idempotent
                .join(current, ["doc_id", "g"], "left_semi")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_hit"))
            )
            joined = totals.join(hits, "doc_id", "left")
        else:
            joined = totals.withColumn("n_hit", F.lit(None))
        return joined.select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_grams"),
                6,
            ).alias("contamination_rate"),
        ).orderBy("doc_id")
