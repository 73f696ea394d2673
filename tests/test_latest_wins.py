"""`merge.latest_wins` is the one latest-wins window of the warehouse:
the streaming CDC bootstrap batch and every later merge pick their
winners through it, so a replayed batch is a fixed point even where
versions tie."""

from __future__ import annotations

from orionld_to_hive_spark.streaming.cdc import StreamingCdcApplier


def test_cdc_replay_of_tied_bootstrap_batch_is_fixed_point(spark, tmp_path):
    # eight keys, each carried twice at the SAME version with different
    # values: only the row-hash tiebreak decides, on the bootstrap write
    # and again on the replay's merge
    batch = spark.createDataFrame(
        [
            (k, "ab"[k % 2], 5, float(10 * k + j), False)
            for k in range(8)
            for j in range(2)
        ],
        "id LONG, day STRING, version LONG, value DOUBLE, deleted BOOLEAN",
    )
    applier = StreamingCdcApplier(
        str(tmp_path / "tbl"), ("id",), "version", ("day",), "deleted"
    )
    applier.apply_batch(batch, 0)  # bootstrap: no table yet
    first = sorted(tuple(r) for r in applier.read_current(spark).collect())
    assert len(first) == 8
    applier.apply_batch(batch, 0)  # checkpoint replay: merge_upsert
    again = sorted(tuple(r) for r in applier.read_current(spark).collect())
    assert again == first
