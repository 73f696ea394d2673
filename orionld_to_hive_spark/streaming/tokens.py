"""Streaming BPE token accounting — the live twin of
`operators/bpe.py::bpe_token_accounting` (documents arrive on a
stream; the per-source mixture/budget table stays current without
re-scanning the corpus).

Design: foreachBatch computes the batch's per-source partials —
(source, n_docs, n_words, n_tokens) — with the SAME frozen merge
table, pre-tokenizer, and distinct-word-then-join shape as the batch
op (the merge chain runs on the batch's distinct words only), and
writes them to the batch's own `batch_id=N` slot (`streaming/sink.py`:
a checkpoint replay rewrites its own partials instead of
double-counting). The read view sums
partials — counts are associative, so ANY micro-batch split of the
corpus yields byte-identical totals to the batch query (pinned by the
stream ≡ batch unit), and the ratio columns (fertility, tokens/doc)
are derived at READ time from the summed integers — never averaged
across batches, which would be wrong for unequal batch sizes.

State is O(sources) per batch — no vocabulary or corpus state is kept
between batches. The accumulated partials table is tiny (batches ×
sources rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.operators.bpe import (
    _doc_word_counts_frame,
    _vocab_tokens,
)
from orionld_to_hive_spark.streaming.sink import read_state, start_batches, write_slot


def batch_partials(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_words, n_tokens) for one batch of documents
    — same lineage as the batch op, applied to the batch frame."""
    doc_words = _doc_word_counts_frame(docs)
    vocab = _vocab_tokens(doc_words).select("word", "n_word_tokens")
    per_doc = (
        doc_words.join(vocab, "word")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").alias("doc_words"),
            F.sum(F.col("cnt") * F.col("n_word_tokens")).alias(
                "doc_tokens"
            ),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_words").alias("n_words"),
        F.sum("doc_tokens").alias("n_tokens"),
    )


def batch_partials_unigram(docs: DataFrame) -> DataFrame:
    """Unigram-tokenizer twin of `batch_partials`: the same
    (source, n_docs, n_words, n_tokens) integer partials, but counted
    under the frozen unigram-LM vocabulary (Viterbi per distinct
    capped word). Shares the frame-based core with the batch query
    `unigram_token_accounting`, so the stream ≡ batch identity holds
    by the same argument as the BPE twin."""
    from orionld_to_hive_spark.operators.unigram import (
        unigram_source_partials,
    )

    return unigram_source_partials(_doc_word_counts_frame(docs))


class StreamingTokenAccounting:
    """Partials under `base/partials/batch_id=N/`. The tokenizer is
    pluggable: `partials_fn` maps a batch of documents to the
    (source, n_docs, n_words, n_tokens) integer partials — the
    default is the BPE accounting; pass `batch_partials_unigram` for
    the unigram-LM model. The totals view is tokenizer-agnostic
    (counts are associative integers either way)."""

    def __init__(self, base: str, partials_fn=None):
        self.base = base.rstrip("/")
        self.partials_fn = partials_fn or batch_partials

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        write_slot(self.partials_fn(batch_df), self.base, "partials", batch_id)

    def start(
        self, stream_df: DataFrame, checkpoint_dir: str,
        available_now: bool = True,
    ):
        return start_batches(stream_df, self.write_batch, checkpoint_dir, available_now)

    def accounting(self, spark: SparkSession) -> DataFrame:
        """Current totals, schema-identical to the batch
        `bpe_token_accounting` (ratios derived from summed integers).
        Raises with the bootstrap step if no batch has been written
        yet (r8 review: an explicit contract error, not a path-missing
        AnalysisException)."""
        return (
            read_state(
                spark,
                f"{self.base}/partials",
                "the accounting stream (start / write_batch)",
            )
            .groupBy("source")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_words").alias("n_words"),
                F.sum("n_tokens").alias("n_tokens"),
            )
            .select(
                "source",
                "n_docs",
                "n_words",
                "n_tokens",
                (F.col("n_tokens") / F.col("n_words")).alias("fertility"),
                (F.col("n_tokens") / F.col("n_docs")).alias(
                    "tokens_per_doc"
                ),
            )
            .orderBy("source")
        )
