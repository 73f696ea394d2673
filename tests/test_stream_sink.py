"""The shared foreachBatch sink (`streaming/sink.py`): per-batch slots,
the state check, the one start path, and a replayed rollup."""

from __future__ import annotations

import json
import os

import pytest

from orionld_to_hive_spark.streaming.ingest import read_notification_stream
from orionld_to_hive_spark.streaming.rollup import read_rollup, start_rollup
from orionld_to_hive_spark.streaming.sink import (
    read_state,
    start_batches,
    write_slot,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_write_slot_replay_keeps_one_copy_and_ids_read_back(spark, tmp_path):
    base = str(tmp_path / "store")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
    write_slot(df, base, "kind", 0)
    write_slot(df, base, "kind", 0)  # a replay of batch 0
    assert _rows(spark.read.parquet(f"{base}/kind")) == [(1, "a", 0), (2, "b", 0)]

    write_slot(df.limit(1), base, "kind", 1)
    got = spark.read.parquet(f"{base}/kind")
    assert got.columns == ["k", "v", "batch_id"]
    assert _rows(got) == [(1, "a", 0), (1, "a", 1), (2, "b", 0)]


def test_read_state_on_missing_path_names_path_and_step(spark, tmp_path):
    path = str(tmp_path / "nothing_here")
    with pytest.raises(RuntimeError) as err:
        read_state(spark, path, "the_bootstrap_step")
    assert path in str(err.value)
    assert "the_bootstrap_step" in str(err.value)


def _drop_files(in_dir, lines):
    """One JSON file per line, oldest first: at one file per trigger
    file i is micro-batch i."""
    in_dir.mkdir()
    for i, line in enumerate(lines):
        f = in_dir / f"f{i}.json"
        f.write_text(line + "\n")
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def test_start_batches_calls_fn_per_batch_then_stops(spark, tmp_path):
    in_dir = tmp_path / "in"
    _drop_files(in_dir, [json.dumps({"i": i}) for i in range(2)])
    stream = (
        spark.readStream.schema("i INT")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    seen = []

    def fn(batch_df, batch_id):
        seen.append((batch_id, [r.i for r in batch_df.collect()]))

    q = start_batches(stream, fn, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert seen == [(0, [0]), (1, [1])]


def _notification(room, observed_at, temperature):
    entity = {
        "id": f"urn:ngsi-ld:{room}:{room}",
        "type": room,
        "temperature": {
            "type": "Property",
            "value": temperature,
            "observedAt": observed_at,
        },
    }
    return json.dumps(
        {
            "id": "urn:ngsi-ld:Notification:1",
            "type": "Notification",
            "subscriptionId": "urn:ngsi-ld:Subscription:1",
            "data": [entity],
        }
    )


def test_rollup_rerun_with_fresh_checkpoint_leaves_view_unchanged(
    spark, tmp_path
):
    in_dir = tmp_path / "in"
    _drop_files(
        in_dir,
        [
            _notification("Kitchen", "2024-01-01T00:10:00.000Z", 20.0),
            _notification("Kitchen", "2024-01-01T00:50:00.000Z", 24.0),
        ],
    )
    rollup_path = str(tmp_path / "rollup")

    def run(ckpt):
        stream = read_notification_stream(
            spark, str(in_dir), max_bytes_per_trigger=1
        )
        start_rollup(stream, rollup_path, str(tmp_path / ckpt)).awaitTermination(120)
        return _rows(read_rollup(spark, rollup_path))

    first = run("ckpt_a")
    assert [(r[1], r[2], r[3]) for r in first] == [("kitchen", 2, 22.0)]
    # a fresh checkpoint re-runs batches 0 and 1 over the same files —
    # what a replay after a lost commit log does to every batch
    assert run("ckpt_b") == first
