"""Focused pins for the r14 optimization rewrites.

  - `_packed_pk` (now shared by the batch operator and the streaming
    twin) enforces the doc_id < 2^31 precondition at runtime instead of
    in a comment (VERDICT r13 item 6);
  - the streaming gram-minima pack: packed-bigint minima == the old
    min(struct) + least(struct) form on adversarial batches, the store
    keeps its pre-r14 column types, and the per-batch aggregation plans
    HashAggregate (no SortAggregate) — VERDICT r13 item 2.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orionld_to_hive_spark.operators.dedup import _packed_pk, _substr_grams
from orionld_to_hive_spark.streaming.substr import (
    StreamingExactSubstr,
    _gram_minima,
)

PHRASE = "p0 p1 p2 p3 p4 p5 p6 p7"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --------------------------------------------------------------------------
# _packed_pk guard


def test_packed_pk_valid_range_orders_like_struct(spark):
    rows = [
        (0, 0),
        (0, 1),
        (1, 0),
        (2**31 - 1, 2**32 - 1),
        (5, 17),
        (5, 16),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, pos LONG")
    packed = df.select(
        _packed_pk(F.col("doc_id"), F.col("pos")).alias("pk"),
        F.struct("doc_id", "pos").alias("s"),
    ).collect()
    by_pk = [tuple(r["s"]) for r in sorted(packed, key=lambda r: r["pk"])]
    assert by_pk == sorted(rows)


@pytest.mark.parametrize("bad", [2**31, 2**31 + 7, -1, -(2**31)])
def test_packed_pk_out_of_range_doc_id_raises(spark, bad):
    df = spark.createDataFrame([(bad, 0)], "doc_id LONG, pos LONG")
    with pytest.raises(Exception, match="doc_id"):
        df.select(_packed_pk(F.col("doc_id"), F.col("pos"))).collect()


def test_packed_pk_in_range_does_not_raise(spark):
    df = spark.createDataFrame([(2**31 - 1, 3)], "doc_id LONG, pos LONG")
    assert df.select(
        _packed_pk(F.col("doc_id"), F.col("pos")).alias("pk")
    ).collect()[0]["pk"] == ((2**31 - 1) << 32 | 3)


# --------------------------------------------------------------------------
# streaming gram-minima pack


def _grams_with_pk(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    return _substr_grams(docs).withColumn(
        "pk", _packed_pk(F.col("doc_id"), F.col("pos"))
    )


def _old_minima(spark, base, grams, batch_id):
    """Inline reconstruction of the pre-r14 struct-based minima."""
    from orionld_to_hive_spark.streaming.sink import exists

    bmin = grams.groupBy("gh").agg(
        F.min(F.struct("doc_id", "pos")).alias("bmin")
    )
    if exists(spark, f"{base}/grams"):
        smin = (
            spark.read.parquet(f"{base}/grams")
            .filter(F.col("batch_id") < batch_id)
            .join(bmin.select("gh"), "gh", "left_semi")
            .groupBy("gh")
            .agg(F.min(F.struct("doc_id", "pos")).alias("smin"))
        )
        mins = bmin.join(smin, "gh", "left").select(
            "gh", F.least("smin", "bmin").alias("omin")
        )
    else:
        mins = bmin.select("gh", F.col("bmin").alias("omin"))
    return mins.select(
        "gh", F.col("omin.doc_id").alias("doc_id"), F.col("omin.pos").alias("pos")
    )


def test_stream_minima_pack_equals_struct_form(spark, tmp_path):
    base = str(tmp_path / "sub")
    s = StreamingExactSubstr(base)
    # batch 0 seeds the store (duplicate phrase inside one batch, with
    # an in-doc repeat so (doc_id, pos) tie-breaks on pos)
    s.process_batch(
        spark.createDataFrame(
            [(1, f"{PHRASE} q {PHRASE}"), (2, f"z {PHRASE} w")],
            ["doc_id", "text"],
        ),
        batch_id=0,
    )
    # batch 1: cross-batch duplicates + fresh grams
    rows = [(3, f"x {PHRASE} y"), (4, "fresh tokens only here really now")]
    grams = _grams_with_pk(spark, rows)
    _, mins = _gram_minima(spark, base, grams, batch_id=1)
    new = mins.select(
        "gh",
        F.shiftright("opk", 32).alias("doc_id"),
        F.col("opk").bitwiseAND(F.lit((1 << 32) - 1)).alias("pos"),
    )
    assert _rows(new) == _rows(_old_minima(spark, base, grams, 1))


def test_stream_store_keeps_pre_r14_column_types(spark, tmp_path):
    base = str(tmp_path / "sub")
    s = StreamingExactSubstr(base)
    s.process_batch(
        spark.createDataFrame([(1, f"a {PHRASE} b")], ["doc_id", "text"]),
        batch_id=0,
    )
    store = spark.read.parquet(f"{base}/grams")
    dtypes = dict(store.dtypes)
    assert dtypes["doc_id"] == "bigint"
    assert dtypes["pos"] == "int"  # posexplode index, as before r14


# --------------------------------------------------------------------------
# warehouse helpers: recursive footer listing + spread fan-out cap


def test_parquet_files_recursive_matches_spark_count(spark, tmp_path):
    from orionld_to_hive_spark.sources.warehouse import table_rows

    sf = tmp_path / "sf"
    sf.mkdir()
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("k")
    )
    df.write.partitionBy("k").parquet(str(sf / "documents.parquet"))
    assert table_rows(spark, str(sf), "documents") == 100


def test_table_rows_empty_listing_raises(spark, tmp_path):
    from orionld_to_hive_spark.sources.warehouse import table_rows

    sf = tmp_path / "sf"
    (sf / "documents.parquet").mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="no parquet data files"):
        table_rows(spark, str(sf), "documents")


def test_load_spread_caps_fanout_on_tiny_tables(spark, tmp_path):
    from orionld_to_hive_spark.sources.warehouse import load_spread

    sf = tmp_path / "sf"
    sf.mkdir()
    spark.range(40).select(F.col("id").alias("doc_id")).coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    spread = load_spread(spark, str(sf), "documents", "doc_id")
    n = spread.rdd.getNumPartitions()
    assert n == 5  # 40 rows // 8 rows-per-task, not defaultParallelism
    assert spread.count() == 40


def test_load_spread_full_fanout_above_cap(spark, sf_smoke):
    from orionld_to_hive_spark.sources.warehouse import load_spread

    spread = load_spread(spark, sf_smoke, "documents", "doc_id")
    par = spark.sparkContext.defaultParallelism
    from orionld_to_hive_spark.sources.warehouse import table_rows

    rows = table_rows(spark, sf_smoke, "documents")
    expect = min(par, max(1, rows // 8))
    assert spread.rdd.getNumPartitions() == expect


# --------------------------------------------------------------------------
# Arrow shingle hash == interpreted per-character fold, value-exact


def test_portable_shingle_hash_arrow_equals_fold(spark, sf_smoke):
    from orionld_to_hive_spark.operators.dedup import (
        _docs,
        _portable_shingle_hash,
        _portable_shingle_hash_arrow,
        shingles,
    )

    adv = spark.createDataFrame(
        [
            ("",),
            ("a",),
            ("héllo wörld",),
            ("\U0001f600 astral",),
            ("x" * 300,),
            ("mixed 字符 test",),
            (None,),
        ],
        "s STRING",
    )
    corpus = shingles(_docs(spark, sf_smoke)).select(
        F.explode("sh").alias("s")
    )
    for df in (adv, corpus):
        rows = df.select(
            _portable_shingle_hash(F.col("s")).alias("h0"),
            _portable_shingle_hash_arrow()(F.col("s")).alias("h1"),
        ).collect()
        assert rows
        for r in rows:
            assert r["h0"] == r["h1"]


# --------------------------------------------------------------------------
# fused Lloyd round (one Arrow crossing) == two-step assign+means twins


def _emb_frame(spark, sf_smoke):
    from orionld_to_hive_spark.operators.similarity import _emb

    return _emb(spark, sf_smoke).select("vec_id", "vec")


@pytest.mark.parametrize("k", [2, 8, 16])
def test_fit_round_means_equals_two_step(spark, sf_smoke, k):
    """k=2 exercises the plain n×K core, k=8/16 the bucketed
    branch-and-bound dispatch — both must reproduce the two-step
    `_fast_means(_assign_auto(...))` centroids bit-for-bit."""
    from orionld_to_hive_spark.operators.similarity import (
        _assign_auto,
        _fast_means,
        _fit_round_means,
    )

    emb = _emb_frame(spark, sf_smoke)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["vec"]])
        for r in emb.filter(F.col("vec_id") < k).collect()
    ]
    fused = _fit_round_means(emb, cents)
    two_step = _fast_means(_assign_auto(emb, cents))
    assert fused == two_step


def test_kmeans_fit_fast_matches_fold_twin(spark, sf_smoke):
    """End-to-end: the fused fast fit still lands exactly on the
    fold-based (oracle-replayed) fit."""
    from orionld_to_hive_spark.operators.similarity import _kmeans_fit

    emb = _emb_frame(spark, sf_smoke)
    fast = sorted(
        (r["cid"], [float(x) for x in r["cvec"]])
        for r in _kmeans_fit(spark, emb, k=8, fast=True).collect()
    )
    fold = sorted(
        (r["cid"], [float(x) for x in r["cvec"]])
        for r in _kmeans_fit(spark, emb, k=8, fast=False).collect()
    )
    assert fast == fold


@pytest.mark.parametrize("k", [2, 8, 16])
def test_fit_single_task_equals_ladder(spark, sf_smoke, k):
    """The n_rows-gated single-job fit (init + ALL Lloyd rounds in one
    mapInPandas task) must reproduce the distributed per-round ladder
    bit-for-bit — on a multi-partition layout, so the exact-int64
    partial-sum associativity claim is actually exercised. k=2 runs
    the plain n×K argmin, k=8/16 the bucketed dispatch."""
    from orionld_to_hive_spark.operators.similarity import (
        _fit_centroids_single_task,
        _kmeans_fit_centroids,
    )

    emb = _emb_frame(spark, sf_smoke).repartition(7).persist()
    try:
        single = _fit_centroids_single_task(emb, k)
        ladder = _kmeans_fit_centroids(spark, emb, k=k, fast=True,
                                       n_rows=None)
        assert single == ladder
    finally:
        emb.unpersist()


def test_kmeans_fit_gate_dispatches_on_n_rows(spark, sf_smoke, monkeypatch):
    """n_rows at/below the gate takes the single-task path; above it
    (and n_rows=None) the distributed ladder runs."""
    import orionld_to_hive_spark.operators.similarity as S

    emb = _emb_frame(spark, sf_smoke)
    calls = []

    real = S._fit_centroids_single_task
    monkeypatch.setattr(
        S, "_fit_centroids_single_task",
        lambda e, k: calls.append(k) or real(e, k),
    )
    S._kmeans_fit_centroids(spark, emb, k=8, fast=True, n_rows=100)
    assert calls == [8]
    S._kmeans_fit_centroids(
        spark, emb, k=8, fast=True,
        n_rows=S._FIT_SINGLE_TASK_MAX_ROWS + 1,
    )
    assert calls == [8]  # ladder ran; no second single-task call


def test_stream_minima_plan_hash_aggregates(spark, tmp_path):
    base = str(tmp_path / "sub")
    s = StreamingExactSubstr(base)
    s.process_batch(
        spark.createDataFrame([(1, f"a {PHRASE} b")], ["doc_id", "text"]),
        batch_id=0,
    )
    grams = _grams_with_pk(spark, [(2, f"x {PHRASE} y")])
    bmin, mins = _gram_minima(spark, base, grams, batch_id=1)
    for df in (bmin, mins):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan
        assert "SortAggregate" not in plan


# --------------------------------------------------------------------------
# r14 second pass: fused single-crossing codec paths == staged twins


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_fused_jpeg_stats_equals_staged(spark, sf_smoke):
    from orionld_to_hive_spark.operators import jpeg as J

    for enc in (J.encode_jpeg_gray_flat, J.encode_jpeg_color_flat,
                J.encode_jpeg_cmyk_flat):
        fused = J._fused_pixel_stats(spark, sf_smoke, enc)
        staged = J.jpeg_pixel_stats(
            J._assets_from_documents(spark, sf_smoke, enc)
        )
        assert _rows(fused) == _rows(staged), enc.__name__


def test_fused_jpeg_selective_equals_staged(spark, sf_smoke):
    from orionld_to_hive_spark.operators import jpeg as J

    for min_rows in (J.JPEG_SELECT_MIN_ROWS, J.JPEG_TALL_MIN_ROWS):
        fused = J._jpeg_selective(spark, sf_smoke, min_rows)
        staged = J._jpeg_selective_staged(spark, sf_smoke, min_rows)
        assert _rows(fused) == _rows(staged), min_rows


def test_fused_gif_queries_equal_staged(spark, sf_smoke):
    from orionld_to_hive_spark.operators import gif as G

    assets = G.gif_assets_from_documents(spark, sf_smoke)
    assert _rows(G.multimodal_gif_frames(spark, sf_smoke)) == _rows(
        G.gif_frame_stats(assets)
    )
    assert _rows(G.multimodal_gif_anim_summary(spark, sf_smoke)) == _rows(
        G.gif_anim_summary(assets)
    )


def test_fused_png_wav_queries_equal_staged(spark, sf_smoke):
    from orionld_to_hive_spark.operators import multimodal as M

    assert _rows(M.multimodal_png_stats(spark, sf_smoke)) == _rows(
        M.png_pixel_stats(M.png_assets_from_documents(spark, sf_smoke))
    )
    assert _rows(
        M.multimodal_png_palette_stats(spark, sf_smoke)
    ) == _rows(
        M.png_pixel_stats(
            M.palette_png_assets_from_documents(spark, sf_smoke)
        )
    )
    assert _rows(M.multimodal_wav_rms(spark, sf_smoke)) == _rows(
        M.wav_audio_energy(M.wav_assets_from_documents(spark, sf_smoke))
    )
    assert _rows(M.multimodal_wav_mulaw_rms(spark, sf_smoke)) == _rows(
        M.mulaw_audio_energy(
            M.wav_mulaw_assets_from_documents(spark, sf_smoke)
        )
    )


def test_fused_codec_plans_have_single_python_stage(spark, sf_smoke):
    import re

    from orionld_to_hive_spark.operators import gif as G
    from orionld_to_hive_spark.operators import jpeg as J
    from orionld_to_hive_spark.plans.explain import formatted

    for df in (
        J.multimodal_jpeg_stats(spark, sf_smoke),
        J.multimodal_jpeg_cmyk_stats(spark, sf_smoke),
        J.multimodal_jpeg_tall_stats(spark, sf_smoke),
        G.multimodal_gif_frames(spark, sf_smoke),
    ):
        plan = formatted(df)
        nodes = re.findall(r"^\(\d+\) MapInPandas", plan, re.M)
        assert len(nodes) == 1, plan


# --------------------------------------------------------------------------
# size-gated gram-stream cache: cached == recomputed detection


def test_substr_dups_cache_flag_is_row_identical(spark, sf_smoke):
    from orionld_to_hive_spark.operators.dedup import _docs, _substr_dups

    docs = _docs(spark, sf_smoke).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    cached = _rows(_substr_dups(docs, cache_grams=True))
    spark.catalog.clearCache()
    plain = _rows(_substr_dups(docs, cache_grams=False))
    assert cached == plain


def test_gram_cache_gate_uses_table_bytes(spark, sf_smoke, monkeypatch):
    import orionld_to_hive_spark.operators.dedup as D

    assert D._gram_cache_ok(spark, sf_smoke)  # testdata is tiny
    monkeypatch.setattr(D, "_GRAM_CACHE_MAX_DOC_BYTES", 0)
    assert not D._gram_cache_ok(spark, sf_smoke)  # big corpus: no cache


# --------------------------------------------------------------------------
# vectorized DC-only scan decode == serial Huffman walk, bit-exact


def _decode_both_ways(monkeypatch, payload):
    import numpy as np

    from orionld_to_hive_spark.operators import jpeg as J

    fast = J.decode_jpeg(payload)
    monkeypatch.setattr(J, "_dc_fast_coefs", lambda *a: None)
    serial = J.decode_jpeg(payload)
    monkeypatch.undo()
    assert (fast.width, fast.height, fast.channels) == (
        serial.width,
        serial.height,
        serial.channels,
    )
    assert np.array_equal(fast.samples, serial.samples)
    return fast


def test_dc_fast_decode_matches_serial_on_corpus(spark, sf_smoke, monkeypatch):
    import numpy as np

    from orionld_to_hive_spark.operators import jpeg as J
    from orionld_to_hive_spark.sources.warehouse import load_table

    texts = [
        r["text"]
        for r in load_table(spark, sf_smoke, "documents")
        .select("text")
        .collect()[:120]
    ]
    for enc in (J.encode_jpeg_gray_flat, J.encode_jpeg_color_flat,
                J.encode_jpeg_cmyk_flat):
        for t in texts:
            raw = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8)
            _decode_both_ways(monkeypatch, enc(raw))


def test_dc_fast_decode_adversarial_and_fallback(monkeypatch):
    import numpy as np

    from orionld_to_hive_spark.operators import jpeg as J

    # byte-stuffing-dense, empty, and boundary inputs stay exact
    for raw in (b"", bytes([255] * 700), bytes(range(256)) * 3,
                b"\x00" * 333, bytes([127, 128, 255, 0] * 40)):
        for enc in (J.encode_jpeg_gray_flat, J.encode_jpeg_color_flat,
                    J.encode_jpeg_cmyk_flat):
            _decode_both_ways(
                monkeypatch, enc(np.frombuffer(raw, dtype=np.uint8))
            )
    # a scan with REAL AC coefficients must decline the fast path and
    # decode identically through the serial walk (progressive encoder
    # roundtrips already cover non-baseline scans; here: baseline
    # general-coefficient stream from the fuzz helpers is approximated
    # by checking the fast path returns None on a non-DC-only stream)
    calls = []
    real = J._dc_fast_coefs

    def spy(*a):
        r = real(*a)
        calls.append(r is not None)
        return r

    monkeypatch.setattr(J, "_dc_fast_coefs", spy)
    img = J.decode_jpeg(
        J.encode_jpeg_gray_flat(np.frombuffer(b"hello world", dtype=np.uint8))
    )
    assert img.channels == 1 and calls == [True]
