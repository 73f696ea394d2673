"""Unigram-LM (SentencePiece-style) subword tokenizer — trainer + encoder.

Beyond-reference capability (the reference ships no tokenizer; see
`/root/reference/README.md`): together with `bpe.py` this covers both
dominant subword families — greedy-merge BPE (Sennrich 2016) and the
probabilistic unigram language model of Kudo 2018 (arXiv:1804.10959),
the SentencePiece default. The unigram model segments a word into the
piece sequence maximizing Σ log p(piece); training is EM over the
piece probabilities with the expected counts marginalized over ALL
segmentations (forward-backward), followed by pruning to the target
vocabulary.

Spark shape (mirrors the BPE trainer's contract):
- the working set is the DISTINCT-pretoken frame (bounded by corpus
  vocabulary, not corpus size; pretokens share `text._PRETOK_RE` with
  the BPE module and are capped at WORD_CAP chars — SentencePiece's
  max-sentence-length analog, applied identically in both engines),
- each EM iteration is ONE map-side-combinable aggregate: an
  Arrow-batched `mapInPandas` computes per-word expected piece counts
  (forward-backward over a ≤WORD_CAP lattice), pre-summed per batch,
  rounded to a 1e-9 integer grid BEFORE the global sum — so the
  distributed float sum is order-independent and the trainer is
  byte-reproducible under any partitioning,
- driver traffic is vocabulary-bounded: one ≤SEED_SIZE-row collect
  per EM iteration (the M-step renormalization), exactly like the
  BPE trainer's 1-row argmax per merge.

Determinism for the ORACLE: the frozen vocabulary stores
integer-scaled log probs (micro-nats). Viterbi DP over integers has
no float drift, so the DuckDB twin — the DP unrolled over WORD_CAP
position CTEs plus a WORD_CAP-step backpointer walk, the same
unroll-a-bounded-loop trick as the k-means oracle — reproduces every
segmentation exactly. Ties break (score DESC, piece-length DESC):
longest-match flavored, identical in both engines. Characters outside
the frozen vocabulary segment as single-char pieces at UNK_LP — the
exact fallback both engines share.
"""
from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.text import _PRETOK_RE, _docs

PIECE_MAX = 4          # seed substrings up to this length
WORD_CAP = 16          # pretokens truncated to this many chars
SEED_SIZE = 256        # EM candidate pool (chars always included)
VOCAB_SIZE = 128       # final vocabulary (chars always included)
EM_ITERS = 3
LP_SCALE = 1_000_000   # log-prob unit: micro-nats, integer-scaled
UNK_LP = -20 * LP_SCALE  # single-char fallback for unseen characters
_E_SCALE = 1_000_000_000  # E-step expected counts rounded to 1e-9


# --------------------------------------------------------------------------
# trainer


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct capped pretokens with corpus occurrence counts — one
    fact scan, map-side combined on the word key."""
    return (
        _docs(spark, sf_dir)
        .select(
            F.explode(
                F.regexp_extract_all("text", F.lit(_PRETOK_RE), 0)
            ).alias("w")
        )
        .select(F.substring("w", 1, WORD_CAP).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )


_PIECE_CNT_SCHEMA = T.StructType(
    [
        T.StructField("piece", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)


def _seed_counts(words: DataFrame) -> DataFrame:
    """Candidate-piece frequencies: every substring of length
    1..PIECE_MAX of every word, weighted by word count (overlapping
    occurrences all count). Pre-aggregated per Arrow batch."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            acc: dict[str, int] = {}
            for word, c in zip(pdf["word"], pdf["wcnt"]):
                n = len(word)
                for i in range(n):
                    for L in range(1, min(PIECE_MAX, n - i) + 1):
                        p = word[i : i + L]
                        acc[p] = acc.get(p, 0) + int(c)
            yield pd.DataFrame(
                {"piece": list(acc), "cnt": pd.Series(list(acc.values()), dtype="int64")}
            )

    return df_sum_pieces(words.mapInPandas(batches, _PIECE_CNT_SCHEMA))


def df_sum_pieces(df: DataFrame) -> DataFrame:
    return df.groupBy("piece").agg(F.sum("cnt").alias("cnt"))


def _forward_backward(word: str, probs: dict) -> dict:
    """Expected piece-occurrence counts for one word under the current
    unigram model, marginalized over all segmentations (probabilities
    of pieces absent from `probs` are zero; single chars are always
    present during training by seed construction)."""
    n = len(word)
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for j in range(1, n + 1):
        s = 0.0
        for k in range(1, min(PIECE_MAX, j) + 1):
            p = probs.get(word[j - k : j])
            if p:
                s += alpha[j - k] * p
        alpha[j] = s
    if alpha[n] == 0.0:
        return {}
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for i in range(n - 1, -1, -1):
        s = 0.0
        for k in range(1, min(PIECE_MAX, n - i) + 1):
            p = probs.get(word[i : i + k])
            if p:
                s += p * beta[i + k]
        beta[i] = s
    out: dict[str, float] = {}
    z = alpha[n]
    for i in range(n):
        for k in range(1, min(PIECE_MAX, n - i) + 1):
            piece = word[i : i + k]
            p = probs.get(piece)
            if p:
                e = alpha[i] * p * beta[i + k] / z
                if e:
                    out[piece] = out.get(piece, 0.0) + e
    return out


def train_unigram(spark: SparkSession, sf_dir: str,
                  vocab_size: int = VOCAB_SIZE,
                  em_iters: int = EM_ITERS) -> list:
    """Distributed unigram-LM training. Returns the frozen-table form:
    sorted list of (piece, lp_scaled) with lp_scaled = floor(ln p ·
    1e6 + 0.5). Reproducible under any partitioning (integer-grid
    E-step sums) — pinned byte-identically against an independent
    pure-Python trainer in tests/test_unigram.py."""
    words = _word_counts(spark, sf_dir).persist()

    seed = _seed_counts(words)
    chars = {r["piece"]: int(r["cnt"])
             for r in seed.filter(F.length("piece") == 1).collect()}
    multi = (
        seed.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(max(SEED_SIZE - len(chars), 0))
        .collect()
    )
    freq = dict(chars)
    freq.update({r["piece"]: int(r["cnt"]) for r in multi})
    total = sum(freq.values())
    probs = {p: c / total for p, c in freq.items()}

    for _ in range(em_iters):
        bprobs = dict(probs)  # closure-captured; ≤SEED_SIZE entries

        def e_step(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                acc: dict[str, int] = {}
                for word, c in zip(pdf["word"], pdf["wcnt"]):
                    for piece, e in _forward_backward(word, bprobs).items():
                        scaled = math.floor(e * int(c) * _E_SCALE + 0.5)
                        if scaled:
                            acc[piece] = acc.get(piece, 0) + scaled
                yield pd.DataFrame(
                    {"piece": list(acc),
                     "cnt": pd.Series(list(acc.values()), dtype="int64")}
                )

        rows = df_sum_pieces(words.mapInPandas(e_step, _PIECE_CNT_SCHEMA)).collect()
        cnt = {r["piece"]: int(r["cnt"]) for r in rows}
        # single chars never drop (floor at one grid unit): every word
        # must stay segmentable in the next E-step
        for ch in chars:
            cnt.setdefault(ch, 1)
        z = sum(cnt.values())
        probs = {p: c / z for p, c in cnt.items() if c}

    # prune to the target vocabulary: all chars + the best multi-char
    # pieces by (prob desc, piece asc), then renormalize
    multi_sorted = sorted(
        ((p, pr) for p, pr in probs.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )
    keep = {p: probs[p] for p in chars if p in probs}
    for p, pr in multi_sorted[: max(vocab_size - len(keep), 0)]:
        keep[p] = pr
    z = sum(keep.values())
    return sorted(
        (p, math.floor(math.log(pr / z) * LP_SCALE + 0.5))
        for p, pr in keep.items()
    )


# --------------------------------------------------------------------------
# frozen vocabulary (trained ONCE by train_unigram on
# /root/testdata/sf0.01, reproduced byte-identically by
# tests/test_unigram.py) — filled in by tools/freeze_unigram.py
from orionld_to_hive_spark.operators.unigram_frozen import FROZEN_UNIGRAM

_FROZEN = dict(FROZEN_UNIGRAM)
if len(_FROZEN) != len(FROZEN_UNIGRAM):
    raise RuntimeError("FROZEN_UNIGRAM contains duplicate pieces")
for _p, _lp in FROZEN_UNIGRAM:
    if not (0 < len(_p) <= PIECE_MAX) or not isinstance(_lp, int) or _lp >= 0:
        raise RuntimeError(f"FROZEN_UNIGRAM malformed entry {(_p, _lp)!r}")


def viterbi_segment(word: str, vocab: dict | None = None) -> list:
    """Integer-scored Viterbi: maximize Σ lp_scaled; ties prefer the
    LONGER last piece at each position (longest-match flavor). Unknown
    characters fall back to single-char pieces at UNK_LP."""
    v = _FROZEN if vocab is None else vocab
    n = len(word)
    score = [0] * (n + 1)
    back = [0] * (n + 1)
    for t in range(1, n + 1):
        best = None
        for k in range(1, min(PIECE_MAX, t) + 1):
            piece = word[t - k : t]
            lp = v.get(piece)
            if lp is None:
                if k != 1:
                    continue
                lp = UNK_LP
            cand = (score[t - k] + lp, k)
            if best is None or cand > best:
                best = cand
        score[t], back[t] = best
    pieces = []
    pos = n
    while pos > 0:
        k = back[pos]
        pieces.append(word[pos - k : pos])
        pos -= k
    pieces.reverse()
    return pieces


_TOKENIZE_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("wcnt", T.LongType(), False),
        T.StructField("piece", T.StringType(), False),
    ]
)


def unigram_tokenize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-piece corpus accounting under the frozen unigram model:
    n_tokens = total piece occurrences across the corpus (word counts
    × per-word occurrences), n_words = distinct pretokens using the
    piece. The Viterbi lattice runs once per DISTINCT word (the same
    distinct-frame economy as bpe_token_accounting); the fan-out to
    piece rows happens inside the Arrow batch — no shuffle until the
    final keyed aggregate."""
    words = _word_counts(spark, sf_dir)

    def seg(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, cs, ps = [], [], []
            for word, c in zip(pdf["word"], pdf["wcnt"]):
                for piece in viterbi_segment(word):
                    ws.append(word)
                    cs.append(int(c))
                    ps.append(piece)
            yield pd.DataFrame(
                {"word": ws, "wcnt": pd.Series(cs, dtype="int64"), "piece": ps}
            )

    return (
        words.mapInPandas(seg, _TOKENIZE_SCHEMA)
        .groupBy("piece")
        .agg(
            F.sum("wcnt").alias("n_tokens"),
            F.countDistinct("word").alias("n_words"),
        )
    )


_NTOK_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("n_word_tokens", T.LongType(), False),
    ]
)


def unigram_source_partials(doc_words: DataFrame) -> DataFrame:
    """(source, n_docs, n_words, n_tokens) integer partials under the
    frozen unigram model, from a (doc_id, source, word, cnt) frame —
    the frame-based core shared by the batch accounting query and the
    streaming twin (streaming/tokens.py). Viterbi runs once per
    DISTINCT capped word (piece COUNT only — no fan-out rows)."""
    capped = (
        doc_words.select(
            "doc_id",
            "source",
            F.substring("word", 1, WORD_CAP).alias("word"),
            "cnt",
        )
        .groupBy("doc_id", "source", "word")
        .agg(F.sum("cnt").alias("cnt"))
    )
    uniq = capped.select("word").distinct()

    def ntok(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_word_tokens": pd.Series(
                        [len(viterbi_segment(w)) for w in pdf["word"]],
                        dtype="int64",
                    ),
                }
            )

    vocab = uniq.mapInPandas(ntok, _NTOK_SCHEMA)
    per_doc = (
        capped.join(vocab, "word")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").alias("doc_words"),
            F.sum(F.col("cnt") * F.col("n_word_tokens")).alias("doc_tokens"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_words").alias("n_words"),
        F.sum("doc_tokens").alias("n_tokens"),
    )


def unigram_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture/budget table under the unigram tokenizer —
    the twin of bpe_token_accounting: documents, words, pieces,
    fertility, tokens/doc per source. Fertility and tokens_per_doc
    are single IEEE-754 divisions of exact integer sums."""
    from orionld_to_hive_spark.operators.bpe import _doc_word_counts

    return (
        unigram_source_partials(_doc_word_counts(spark, sf_dir))
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            (F.col("n_tokens") / F.col("n_words")).alias("fertility"),
            (F.col("n_tokens") / F.col("n_docs")).alias("tokens_per_doc"),
        )
    )


# --------------------------------------------------------------------------
# oracle: the bounded Viterbi loop unrolled over WORD_CAP positions
# (forward DP CTEs d1..d16 with the same integer scores and
# (score DESC, k DESC) tie-break), then a WORD_CAP-step backpointer
# walk emitting pieces — same unroll-a-bounded-loop trick as the
# k-means/SemDeDup oracles.


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _viterbi_ctes() -> list:
    """The unrolled Viterbi chain shared by both oracles: vocab +
    corpus-wide distinct capped words + forward DP d0..d16 + the
    backpointer walk ending in `pieces(word, piece)` — one row per
    piece occurrence per distinct word."""
    vocab_values = ", ".join(
        f"({_sql_quote(p)}, {lp})" for p, lp in FROZEN_UNIGRAM
    )
    ctes = [
        f"vocab(piece, lp) AS (VALUES {vocab_values})",
        f"""words AS MATERIALIZED (
  SELECT substr(w, 1, {WORD_CAP}) AS word, CAST(COUNT(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest(regexp_extract_all(text, '{_PRETOK_RE}')) AS w
        FROM documents)
  GROUP BY 1
)""",
        "d0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS score, 0 AS k FROM words)",
    ]
    for t in range(1, WORD_CAP + 1):
        branches = [
            f"""      SELECT w.word,
             d.score + COALESCE(v.lp, {UNK_LP}) AS score, 1 AS k
      FROM words w
      JOIN d{t - 1} d ON d.word = w.word
      LEFT JOIN vocab v ON v.piece = substr(w.word, {t}, 1)
      WHERE length(w.word) >= {t}"""
        ]
        for k in range(2, min(PIECE_MAX, t) + 1):
            branches.append(
                f"""      SELECT w.word, d.score + v.lp AS score, {k} AS k
      FROM words w
      JOIN d{t - k} d ON d.word = w.word
      JOIN vocab v ON v.piece = substr(w.word, {t - k + 1}, {k})
      WHERE length(w.word) >= {t}"""
            )
        union = "\n      UNION ALL\n".join(branches)
        ctes.append(
            f"""d{t} AS MATERIALIZED (
  SELECT word, score, k FROM (
    SELECT c.*, row_number() OVER (PARTITION BY c.word
                                   ORDER BY c.score DESC, c.k DESC) AS rn
    FROM (
{union}
    ) c
  ) WHERE rn = 1
)"""
        )
    dall = "\n    UNION ALL ".join(
        f"SELECT word, {t} AS t, k FROM d{t}" for t in range(1, WORD_CAP + 1)
    )
    ctes.append(f"dall AS MATERIALIZED (\n    {dall}\n)")
    ctes.append("r0 AS MATERIALIZED (SELECT word, length(word) AS pos FROM words)")
    for s in range(1, WORD_CAP + 1):
        ctes.append(
            f"""p{s} AS MATERIALIZED (
  SELECT r.word, substr(r.word, r.pos - d.k + 1, d.k) AS piece,
         r.pos - d.k AS npos
  FROM r{s - 1} r JOIN dall d ON d.word = r.word AND d.t = r.pos
  WHERE r.pos > 0
)"""
        )
        ctes.append(f"r{s} AS MATERIALIZED (SELECT word, npos AS pos FROM p{s})")
    pieces = "\n    UNION ALL ".join(
        f"SELECT word, piece FROM p{s}" for s in range(1, WORD_CAP + 1)
    )
    ctes.append(f"pieces AS MATERIALIZED (\n    {pieces}\n)")
    return ctes


def _unigram_sql() -> str:
    return (
        "WITH " + ",\n".join(_viterbi_ctes()) + """
SELECT p.piece,
       CAST(SUM(w.wcnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT p.word) AS BIGINT) AS n_words
FROM pieces p JOIN words w ON w.word = p.word
GROUP BY p.piece
ORDER BY p.piece
"""
    )


def _unigram_accounting_sql() -> str:
    """Per-source accounting oracle: per-word piece counts from the
    shared Viterbi chain, joined back to (doc, source, word) counts —
    the same integer-sums-then-one-division arithmetic as the BPE
    accounting twin."""
    return (
        "WITH " + ",\n".join(_viterbi_ctes()) + f""",
wordtok AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word_tokens
            FROM pieces GROUP BY word),
dw AS (
  SELECT doc_id, source, substr(w, 1, {WORD_CAP}) AS word,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, source,
               unnest(regexp_extract_all(text, '{_PRETOK_RE}')) AS w
        FROM documents)
  GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT d.doc_id, d.source,
         SUM(d.cnt) AS doc_words,
         SUM(d.cnt * t.n_word_tokens) AS doc_tokens
  FROM dw d JOIN wordtok t ON t.word = d.word
  GROUP BY d.doc_id, d.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_words) AS BIGINT) AS n_words,
       CAST(SUM(doc_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_tokens) AS BIGINT) / CAST(SUM(doc_words) AS BIGINT)
         AS fertility,
       CAST(SUM(doc_tokens) AS BIGINT) / CAST(COUNT(*) AS BIGINT)
         AS tokens_per_doc
FROM per_doc
GROUP BY source
ORDER BY source
"""
    )


QUERIES = {
    "unigram_tokenize_report": unigram_tokenize_report,
    "unigram_token_accounting": unigram_token_accounting,
}

ORACLES = {
    "unigram_tokenize_report": _unigram_sql(),
    "unigram_token_accounting": _unigram_accounting_sql(),
}
