"""File layout of both warehouse write paths — exact counts, so they can
be pinned where wall time cannot.

`write_partitioned` rebalances on the partition columns and sorts by
`(*partition_cols, *sort_cols)`, so the batch ingest and every streamed
micro-batch write one ts-sorted file per room at this size, and `ts` is
an INT64 TIMESTAMP(MICROS) column whose footer carries min/max."""

from __future__ import annotations

import glob
import json
import os
import re

import pyarrow.parquet as pq

from orionld_to_hive_spark.sources.batch_csv import ingest_measurements
from orionld_to_hive_spark.streaming.ingest import start_ingest

T0 = 1489017527
ROWS = 40  # readings per sensor file


def _ingest(spark, tmp_path) -> str:
    """Kitchen's three sensor files interleave their epochs (one minute
    apart, round robin), and its temperature file runs backwards; the
    other two rooms have one file each."""
    d = tmp_path / "measurements"
    d.mkdir()
    for k, sensor in enumerate(("Temperature", "Humidity", "Brightness")):
        epochs = [T0 + 60 * (3 * i + k) for i in range(ROWS)]
        if sensor == "Temperature":
            epochs.reverse()
        (d / f"Kitchen_{sensor}.csv").write_text(
            "".join(f"{e}\t{i % 50}\n" for i, e in enumerate(epochs))
        )
    for room in ("Room1", "Bathroom"):
        (d / f"{room}_Temperature.csv").write_text(
            "".join(f"{T0 + 60 * i}\t20.5\n" for i in range(ROWS))
        )
    out = str(tmp_path / "readings")
    ingest_measurements(spark, str(d / "*.csv"), out, sample_fraction=1.0)
    return out


def _files_by_room(out: str) -> dict[str, list[str]]:
    got: dict[str, list[str]] = {}
    for f in sorted(glob.glob(os.path.join(out, "room=*", "*.parquet"))):
        got.setdefault(os.path.basename(os.path.dirname(f)), []).append(f)
    return got


def _ts_sorted(f: str) -> bool:
    ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
    return ts == sorted(ts)


def test_batch_ingest_one_ts_sorted_file_per_room(spark, tmp_path):
    files = _files_by_room(_ingest(spark, tmp_path))
    assert {room: len(fs) for room, fs in files.items()} == {
        "room=bathroom": 1, "room=kitchen": 1, "room=room1": 1,
    }
    (kitchen,) = files["room=kitchen"]
    assert pq.ParquetFile(kitchen).metadata.num_rows == 3 * ROWS
    assert all(_ts_sorted(f) for fs in files.values() for f in fs)


def test_ts_written_as_int64_micros_with_min_max(spark, tmp_path):
    kitchen = _files_by_room(_ingest(spark, tmp_path))["room=kitchen"][0]
    md = pq.ParquetFile(kitchen).metadata
    i = md.schema.names.index("ts")
    col = md.schema.column(i)
    assert col.physical_type == "INT64"
    assert json.loads(col.logical_type.to_json())["timeUnit"] == "microseconds"
    stats = md.row_group(0).column(i).statistics
    assert stats is not None and stats.has_min_max
    assert stats.min.timestamp() == T0
    assert stats.max.timestamp() == T0 + 60 * (3 * ROWS - 1)


def _notification(n: int, rooms: tuple[str, ...]) -> str:
    return json.dumps({
        "id": f"urn:ngsi-ld:Notification:{n}",
        "type": "Notification",
        "subscriptionId": "urn:ngsi-ld:Subscription:layout",
        "data": [
            {
                "id": f"urn:ngsi-ld:{room}:{room}",
                "type": room,
                "temperature": {
                    "type": "Property",
                    "value": 20.0 + n % 7,
                    "observedAt": "2024-01-01T00:00:00.000Z",
                },
            }
            for room in rooms
        ],
    })


def test_stream_one_ts_sorted_file_per_room_per_batch(spark, tmp_path):
    in_dir = tmp_path / "notifications"
    in_dir.mkdir()
    rooms = ("Kitchen", "Room1", "Bathroom")
    n_files = 20  # two micro-batches: two drains of 10 files on one checkpoint
    out = str(tmp_path / "stream_out")
    batches = []
    for first in (0, n_files // 2):
        for n in range(first, first + n_files // 2):
            (in_dir / f"n{n:02d}.json").write_text(
                "\n".join(_notification(10 * n + j, rooms) for j in range(5)) + "\n"
            )
        q = start_ingest(spark, str(in_dir), out, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        batches += [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) == 2

    files = _files_by_room(out)
    # a write job names all its files part-<task>-<job uuid>
    per_batch_room: dict[tuple[str, str], int] = {}
    for room, fs in files.items():
        for f in fs:
            job = re.match(r"part-\d+-([0-9a-f-]{36})", os.path.basename(f))[1]
            per_batch_room[job, room] = per_batch_room.get((job, room), 0) + 1
    assert len({job for job, _ in per_batch_room}) == 2
    assert sorted(per_batch_room.values()) == [1] * 2 * len(rooms)
    assert all(_ts_sorted(f) for fs in files.values() for f in fs)
    assert spark.read.parquet(out).count() == n_files * 5 * len(rooms)
