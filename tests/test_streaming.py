"""Streaming layer tests: notification parsing, debounce semantics,
checkpointed ingest, latest-wins upsert."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orionld_to_hive_spark.schemas import NGSI_NOTIFICATION_SCHEMA
from orionld_to_hive_spark.sources import merge
from orionld_to_hive_spark.streaming.debounce import debounce_batch, debounce_stream
from orionld_to_hive_spark.streaming.ingest import parse_notifications, start_ingest


def _notification(entities) -> str:
    return json.dumps(
        {
            "id": "urn:ngsi-ld:Notification:1",
            "type": "Notification",
            "subscriptionId": "urn:ngsi-ld:Subscription:KitchenUpdates",
            "data": entities,
        }
    )


def _entity(room: str, **attrs) -> dict:
    e = {"id": f"urn:ngsi-ld:{room}:{room}", "type": room}
    for name, value in attrs.items():
        e[name] = {
            "type": "Property",
            "value": value,
            "observedAt": "2017-03-09T00:38:47.000Z",
        }
    return e


def test_parse_notifications_static(spark):
    lines = [
        _notification(
            [
                _entity("Kitchen", temperature=19.2, humidity=47),
                _entity("Bathroom", brightness=12.82),
            ]
        )
    ]
    raw = spark.read.schema(NGSI_NOTIFICATION_SCHEMA).json(
        spark.sparkContext.parallelize(lines)
    )
    rows = parse_notifications(raw).collect()
    assert len(rows) == 2
    kitchen = next(r for r in rows if r.room == "kitchen")
    assert kitchen.temperature == 19.2 and kitchen.humidity == 47
    assert kitchen.brightness is None  # sparse attrs
    assert kitchen.event_ts.year == 2017  # observedAt carried through
    bathroom = next(r for r in rows if r.room == "bathroom")
    assert bathroom.brightness == 12.82 and bathroom.temperature is None


def _burst_frame(spark):
    """Synthetic arrivals: entity A bursts within the 50 ms threshold,
    entity B is always spaced out."""
    base = 1700000000.0
    rows = [
        ("A", base + 0.000, 1.0),
        ("A", base + 0.020, 2.0),  # +20ms after accepted → drop
        ("A", base + 0.060, 3.0),  # +60ms after accepted → keep
        ("A", base + 0.100, 4.0),  # +40ms after last ACCEPTED (0.060) → drop
        ("A", base + 0.200, 5.0),  # keep
        ("B", base + 0.000, 10.0),
        ("B", base + 0.051, 11.0),  # keep (>= 50ms)
    ]
    schema = T.StructType(
        [
            T.StructField("entityid", T.StringType()),
            T.StructField("arrival_s", T.DoubleType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema).withColumn(
        "arrival_ts", F.timestamp_seconds("arrival_s")
    )


def test_debounce_batch_semantics(spark):
    df = _burst_frame(spark)
    kept = debounce_batch(df, "entityid", "arrival_ts", 0.05).collect()
    got = sorted((r.entityid, r.value) for r in kept)
    assert got == [
        ("A", 1.0), ("A", 3.0), ("A", 5.0), ("B", 10.0), ("B", 11.0),
    ]


def test_debounce_stream_carries_state_across_batches(spark, tmp_path):
    # two parquet files = two micro-batches (maxFilesPerTrigger=1):
    # the second batch's first event is within 50 ms of the last
    # accepted event of batch one and must be dropped via carried state.
    d = tmp_path / "stream_in"
    d.mkdir()
    base = 1700000000.0
    batch1 = [("A", base + 0.000, 1.0), ("A", base + 0.060, 2.0)]
    batch2 = [("A", base + 0.080, 3.0), ("A", base + 0.200, 4.0)]
    schema = T.StructType(
        [
            T.StructField("entityid", T.StringType()),
            T.StructField("arrival_s", T.DoubleType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    for i, batch in enumerate([batch1, batch2]):
        spark.createDataFrame(batch, schema).withColumn(
            "arrival_ts", F.timestamp_seconds("arrival_s")
        ).coalesce(1).write.parquet(str(d / f"b{i}"))

    stream_schema = (
        spark.read.parquet(str(d / "b0")).schema
    )
    src = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "b*"))
    )
    debounced = debounce_stream(src, "entityid", "arrival_ts", 0.05)
    q = (
        debounced.writeStream.outputMode("append")
        .format("memory")
        .queryName("debounced_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dbg"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.entityid, r.value)
        for r in spark.sql("SELECT * FROM debounced_out").collect()
    )
    # 3.0 dropped only if last_emit=0.060 survived the batch boundary
    assert got == [("A", 1.0), ("A", 2.0), ("A", 4.0)]


def test_ingest_stream_end_to_end_exactly_once(spark, tmp_path):
    in_dir = tmp_path / "notifications"
    in_dir.mkdir()
    out = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    (in_dir / "n1.json").write_text(
        _notification([_entity("Kitchen", temperature=19.2)]) + "\n"
        + _notification([_entity("Room1", humidity=47)]) + "\n"
    )
    q = start_ingest(spark, str(in_dir), out, ckpt, available_now=True)
    q.awaitTermination(120)

    back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(r.room for r in back.collect()) == {"kitchen", "room1"}

    # re-run with the same checkpoint and no new files → no duplicates
    q2 = start_ingest(spark, str(in_dir), out, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # new file → only the delta is appended
    (in_dir / "n2.json").write_text(
        _notification([_entity("Kitchen", temperature=21.0)]) + "\n"
    )
    q3 = start_ingest(spark, str(in_dir), out, ckpt, available_now=True)
    q3.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 3

    # latest-wins upsert view: one row per entity, the newest value
    latest = merge.latest_wins(final, ("entityid",), F.col("ts").desc())
    kitchen = [r for r in latest.collect() if r.room == "kitchen"]
    assert len(kitchen) == 1 and kitchen[0].temperature == 21.0


def _drop_notifications(in_dir, n: int) -> None:
    """n one-notification files, file i the i-th oldest."""
    in_dir.mkdir()
    for i in range(n):
        f = in_dir / f"n{i:02d}.json"
        f.write_text(_notification([_entity("Kitchen", temperature=float(i))]) + "\n")
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def test_ingest_drains_small_file_backlog_in_one_micro_batch(spark, tmp_path):
    in_dir = tmp_path / "notifications"
    _drop_notifications(in_dir, 32)
    out = str(tmp_path / "warehouse")
    q = start_ingest(spark, str(in_dir), out, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    batches = [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]
    assert batches == [32]
    assert spark.read.parquet(out).count() == 32


def test_byte_bound_of_one_paces_one_file_per_micro_batch(spark, tmp_path):
    from orionld_to_hive_spark.streaming.ingest import read_notification_stream
    from orionld_to_hive_spark.streaming.sink import start_batches

    in_dir = tmp_path / "notifications"
    _drop_notifications(in_dir, 3)
    stream = read_notification_stream(spark, str(in_dir), max_bytes_per_trigger=1)
    seen = []

    def fn(batch_df, batch_id):
        seen.append((batch_id, [r.temperature for r in batch_df.collect()]))

    q = start_batches(stream, fn, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert seen == [(0, [0.0]), (1, [1.0]), (2, [2.0])]


def test_local_session_commits_checkpoints_through_filesystem(spark, tmp_path):
    """A local master's checkpoint manager renames with `FileSystem`,
    which forks no `readlink` per metadata file."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def _entity_at(room: str, observed_at: str, **attrs) -> dict:
    e = {"id": f"urn:ngsi-ld:{room}:{room}", "type": room}
    for name, value in attrs.items():
        e[name] = {"type": "Property", "value": value, "observedAt": observed_at}
    return e


def test_windowed_event_time_agg_with_watermark(spark, tmp_path):
    """Append-mode windows must emit exactly when the watermark passes
    their end — carried across micro-batches via the checkpoint."""
    from orionld_to_hive_spark.streaming.ingest import read_notification_stream
    from orionld_to_hive_spark.streaming.windowed import start_windowed_query

    in_dir = tmp_path / "win_in"
    in_dir.mkdir()
    # batch 1: two readings in hour 00, one in hour 01
    (in_dir / "f1.json").write_text(
        _notification(
            [
                _entity_at("Kitchen", "2024-01-01T00:10:00.000Z", temperature=20.0),
                _entity_at("Kitchen", "2024-01-01T00:40:00.000Z", temperature=22.0),
            ]
        )
        + "\n"
        + _notification(
            [_entity_at("Kitchen", "2024-01-01T01:50:00.000Z", temperature=30.0)]
        )
        + "\n"
    )
    time.sleep(0.05)
    # batch 2: sentinel far ahead — advances the watermark past hour 00
    (in_dir / "f2.json").write_text(
        _notification(
            [_entity_at("Room1", "2024-01-01T10:00:00.000Z", temperature=1.0)]
        )
        + "\n"
    )
    time.sleep(0.05)
    # batch 3: second sentinel — flushes hour 01 (watermark → 10:30)
    (in_dir / "f3.json").write_text(
        _notification(
            [_entity_at("Room1", "2024-01-01T11:00:00.000Z", temperature=1.0)]
        )
        + "\n"
    )

    parsed = read_notification_stream(spark, str(in_dir), max_bytes_per_trigger=1)
    q = start_windowed_query(parsed, str(tmp_path / "ckpt_win"), "win_out")
    q.awaitTermination(120)

    rows = {
        (str(r.window_start), r.room): (r.n_readings, r.avg_temperature)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert rows[("2024-01-01 00:00:00", "kitchen")] == (2, 21.0)
    assert rows[("2024-01-01 01:00:00", "kitchen")] == (1, 30.0)
    # sentinel windows end beyond the final watermark → never emitted
    assert not any(room == "room1" for (_, room) in rows)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Redelivered (entityid, event_ts) rows must be dropped across
    micro-batches while distinct events all survive."""
    from orionld_to_hive_spark.streaming.dedup import dedup_within_watermark
    from orionld_to_hive_spark.streaming.ingest import read_notification_stream

    in_dir = tmp_path / "dedup_in"
    in_dir.mkdir()
    e1 = _entity_at("Kitchen", "2024-01-01T00:10:00.000Z", temperature=20.0)
    e2 = _entity_at("Kitchen", "2024-01-01T00:11:00.000Z", temperature=21.0)
    (in_dir / "f1.json").write_text(
        _notification([e1]) + "\n" + _notification([e2]) + "\n"
    )
    time.sleep(0.05)
    # batch 2: exact redelivery of e1 plus one new event
    e3 = _entity_at("Kitchen", "2024-01-01T00:12:00.000Z", temperature=22.0)
    (in_dir / "f2.json").write_text(
        _notification([e1]) + "\n" + _notification([e3]) + "\n"
    )

    parsed = read_notification_stream(spark, str(in_dir), max_bytes_per_trigger=1)
    deduped = dedup_within_watermark(
        parsed.select("entityid", "event_ts", "temperature"),
        ("entityid", "event_ts"),
        "event_ts",
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    temps = sorted(
        r.temperature for r in spark.sql("SELECT * FROM dedup_out").collect()
    )
    assert temps == [20.0, 21.0, 22.0]  # e1's redelivery dropped


def test_stream_static_enrichment(spark):
    """Broadcast dim columns appended; rooms without a dim row survive
    NULL-extended (enrichment never drops telemetry)."""
    from orionld_to_hive_spark.streaming.joins import enrich_with_rooms

    lines = [
        _notification(
            [
                _entity("Kitchen", temperature=19.2),
                _entity("Attic", temperature=5.0),  # not in the dim
            ]
        )
    ]
    raw = spark.read.schema(NGSI_NOTIFICATION_SCHEMA).json(
        spark.sparkContext.parallelize(lines)
    )
    dim = spark.createDataFrame(
        [("kitchen", 0), ("bathroom", 1)], ["room", "floor"]
    )
    rows = {r.room: r.floor for r in enrich_with_rooms(
        parse_notifications(raw), dim
    ).collect()}
    assert rows == {"kitchen": 0, "attic": None}


def test_stream_stream_interval_join(spark, tmp_path):
    """Temperature buffered in batch 1 must join humidity arriving in
    batch 2 (state across micro-batches), only within the 10-minute
    band and only for the same room."""
    from orionld_to_hive_spark.streaming.ingest import read_notification_stream
    from orionld_to_hive_spark.streaming.joins import start_interval_join_query

    in_dir = tmp_path / "join_in"
    in_dir.mkdir()
    (in_dir / "f1.json").write_text(
        _notification(
            [
                _entity_at("Kitchen", "2024-01-01T00:10:00.000Z", temperature=20.0),
                # same-minute humidity in ANOTHER room: must not pair
                _entity_at("Bathroom", "2024-01-01T00:12:00.000Z", humidity=55),
            ]
        )
        + "\n"
    )
    time.sleep(0.05)
    (in_dir / "f2.json").write_text(
        _notification(
            [
                # +5 min: inside the band → the one expected pair
                _entity_at("Kitchen", "2024-01-01T00:15:00.000Z", humidity=48),
                # +15 min: outside the band → dropped
                _entity_at("Kitchen", "2024-01-01T00:25:00.000Z", humidity=40),
            ]
        )
        + "\n"
    )

    parsed = read_notification_stream(spark, str(in_dir), max_bytes_per_trigger=1)
    q = start_interval_join_query(parsed, str(tmp_path / "ckpt_join"), "join_out")
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM join_out").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.room, r.temperature, r.humidity) == ("kitchen", 20.0, 48)
    assert str(r.t_ts) == "2024-01-01 00:10:00" and str(r.h_ts) == "2024-01-01 00:15:00"


def test_incremental_rollup_matches_batch_aggregate(spark, tmp_path):
    """Partials appended per micro-batch must merge to exactly the
    from-scratch batch aggregate over the same events."""
    from orionld_to_hive_spark.streaming.ingest import (
        parse_notifications,
        read_notification_stream,
    )
    from orionld_to_hive_spark.streaming.rollup import read_rollup, start_rollup

    in_dir = tmp_path / "rollup_in"
    in_dir.mkdir()
    (in_dir / "f1.json").write_text(
        _notification(
            [
                _entity_at("Kitchen", "2024-01-01T00:10:00.000Z", temperature=20.0),
                _entity_at("Kitchen", "2024-01-01T00:40:00.000Z", temperature=22.0),
            ]
        )
        + "\n"
    )
    time.sleep(0.05)
    # second micro-batch touches the SAME hour bucket — the rollup must
    # merge partials across batches, not overwrite
    (in_dir / "f2.json").write_text(
        _notification(
            [
                _entity_at("Kitchen", "2024-01-01T00:50:00.000Z", temperature=24.0),
                _entity_at("Bathroom", "2024-01-01T01:05:00.000Z", temperature=18.0),
            ]
        )
        + "\n"
    )

    rollup_path = str(tmp_path / "rollup_table")
    stream = read_notification_stream(spark, str(in_dir), max_bytes_per_trigger=1)
    q = start_rollup(stream, rollup_path, str(tmp_path / "ckpt_rollup"))
    q.awaitTermination(120)

    got = {
        (str(r.hour), r.room): (r.n_readings, r.avg_temperature)
        for r in read_rollup(spark, rollup_path).collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", "kitchen"): (3, 22.0),
        ("2024-01-01 01:00:00", "bathroom"): (1, 18.0),
    }
    # ≥2 partial rows for kitchen hour 00 proves incremental merge
    partials = spark.read.parquet(rollup_path)
    kitchen_partials = partials.filter(partials.room == "kitchen").collect()
    assert len(kitchen_partials) == 2


def test_stream_stream_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """LEFT OUTER interval join (r3 verdict's named gap): the matched
    pair comes out as in the inner join; a temperature with no humidity
    partner inside the band must ALSO come out, NULL-extended — but
    only after the watermark proves no partner can arrive. Stream
    result must equal the batch left-join twin over the same rows."""
    from orionld_to_hive_spark.streaming.ingest import (
        parse_notifications,
        read_notification_stream,
    )
    from orionld_to_hive_spark.streaming.joins import (
        start_outer_join_query,
        temp_humidity_outer_join,
    )

    in_dir = tmp_path / "ojoin_in"
    in_dir.mkdir()
    (in_dir / "f1.json").write_text(
        _notification(
            [
                _entity_at("Kitchen", "2024-01-01T00:10:00.000Z", temperature=20.0),
                # no humidity ever lands in the bathroom: NULL-extended
                _entity_at("Bathroom", "2024-01-01T00:12:00.000Z", temperature=17.5),
            ]
        )
        + "\n"
    )
    time.sleep(0.05)
    (in_dir / "f2.json").write_text(
        _notification(
            [
                # +5 min, same room: the one matched pair
                _entity_at("Kitchen", "2024-01-01T00:15:00.000Z", humidity=48),
            ]
        )
        + "\n"
    )
    time.sleep(0.05)
    # advance BOTH side's watermarks (multipleWatermarkPolicy=min) far
    # past every band: unmatched state must flush
    (in_dir / "f3.json").write_text(
        _notification(
            [
                _entity_at("ZzFlush", "2024-01-01T06:00:00.000Z",
                           temperature=0.0, humidity=0),
            ]
        )
        + "\n"
    )

    parsed = read_notification_stream(spark, str(in_dir), max_bytes_per_trigger=1)
    q = start_outer_join_query(parsed, str(tmp_path / "ckpt_ojoin"), "ojoin_out")
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()

    streamed = {
        (r.room, str(r.t_ts)): (r.temperature, r.h_ts, r.humidity)
        for r in spark.sql(
            "SELECT * FROM ojoin_out WHERE room NOT LIKE 'zz%'"
        ).collect()
    }
    assert streamed[("kitchen", "2024-01-01 00:10:00")][2] == 48
    assert streamed[("bathroom", "2024-01-01 00:12:00")] == (17.5, None, None)

    # batch twin over the same raw lines is the semantic oracle
    raw = spark.read.schema(NGSI_NOTIFICATION_SCHEMA).json(
        spark.sparkContext.parallelize(
            [p.read_text().strip() for p in sorted(in_dir.glob("*.json"))]
        )
    )
    batch = {
        (r.room, str(r.t_ts)): (r.temperature, r.h_ts, r.humidity)
        for r in temp_humidity_outer_join(parse_notifications(raw))
        .filter(~F.col("room").like("zz%"))
        .collect()
    }
    assert streamed == batch


def test_stream_stream_full_outer_and_semi_joins(spark, tmp_path):
    """FULL OUTER: unmatched rows from EITHER side come out
    NULL-extended after the watermark; LEFT SEMI: a temperature with
    two in-band humidity partners is emitted exactly once. Both must
    equal their batch twins over the same rows."""
    from orionld_to_hive_spark.streaming.ingest import (
        parse_notifications,
        read_notification_stream,
    )
    from orionld_to_hive_spark.streaming.joins import (
        temp_humidity_full_outer_join,
        temp_humidity_semi_join,
    )

    in_dir = tmp_path / "fjoin_in"
    in_dir.mkdir()
    (in_dir / "f1.json").write_text(
        _notification(
            [
                # kitchen temp with TWO in-band humidity partners
                _entity_at("Kitchen", "2024-01-01T00:10:00.000Z", temperature=20.0),
                # bathroom temp that never gets humidity: left-unmatched
                _entity_at("Bathroom", "2024-01-01T00:12:00.000Z", temperature=17.5),
            ]
        )
        + "\n"
    )
    time.sleep(0.05)
    (in_dir / "f2.json").write_text(
        _notification(
            [
                _entity_at("Kitchen", "2024-01-01T00:14:00.000Z", humidity=48),
                _entity_at("Kitchen", "2024-01-01T00:16:00.000Z", humidity=51),
                # toilet humidity with no temperature: right-unmatched
                _entity_at("Toilet", "2024-01-01T00:15:00.000Z", humidity=60),
            ]
        )
        + "\n"
    )
    time.sleep(0.05)
    (in_dir / "f3.json").write_text(
        _notification(
            [
                _entity_at("ZzFlush", "2024-01-01T06:00:00.000Z",
                           temperature=0.0, humidity=0),
            ]
        )
        + "\n"
    )

    def run(builder, name):
        parsed = read_notification_stream(
            spark, str(in_dir), max_bytes_per_trigger=1
        )
        q = (
            builder(parsed)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()
        return spark.sql(
            f"SELECT * FROM {name} "
            "WHERE COALESCE(room, h_room, '') NOT LIKE 'zz%'"
            if name == "fo_out"
            else f"SELECT * FROM {name} WHERE room NOT LIKE 'zz%'"
        ).collect()

    fo = run(temp_humidity_full_outer_join, "fo_out")
    fo_set = {
        (r.room, str(r.t_ts) if r.t_ts else None, r.temperature,
         r.h_room, str(r.h_ts) if r.h_ts else None, r.humidity)
        for r in fo
    }
    # matched pairs (2), left-unmatched bathroom, right-unmatched toilet
    assert ("kitchen", "2024-01-01 00:10:00", 20.0,
            "kitchen", "2024-01-01 00:14:00", 48) in fo_set
    assert ("kitchen", "2024-01-01 00:10:00", 20.0,
            "kitchen", "2024-01-01 00:16:00", 51) in fo_set
    assert ("bathroom", "2024-01-01 00:12:00", 17.5, None, None, None) in fo_set
    assert (None, None, None,
            "toilet", "2024-01-01 00:15:00", 60) in fo_set
    assert len(fo_set) == 4

    semi = run(temp_humidity_semi_join, "semi_out")
    semi_rows = sorted((r.room, str(r.t_ts), r.temperature) for r in semi)
    # kitchen temp emitted ONCE despite two partners; bathroom absent
    assert semi_rows == [("kitchen", "2024-01-01 00:10:00", 20.0)]

    # batch twins over the same raw lines
    raw = spark.read.schema(NGSI_NOTIFICATION_SCHEMA).json(
        spark.sparkContext.parallelize(
            [ln for p in sorted(in_dir.glob("*.json"))
             for ln in p.read_text().splitlines()]
        )
    )
    parsed_b = parse_notifications(raw)
    fo_b = {
        (r.room, str(r.t_ts) if r.t_ts else None, r.temperature,
         r.h_room, str(r.h_ts) if r.h_ts else None, r.humidity)
        for r in temp_humidity_full_outer_join(parsed_b).collect()
        if (r.room or r.h_room or "") != "zzflush"
    }
    assert fo_set == fo_b
    semi_b = sorted(
        (r.room, str(r.t_ts), r.temperature)
        for r in temp_humidity_semi_join(parsed_b).collect()
        if r.room != "zzflush"
    )
    assert semi_rows == semi_b


def test_stream_stream_right_outer_join(spark, tmp_path):
    """RIGHT OUTER: every humidity reading comes out — matched pairs
    immediately, partnerless humidity NULL-extended after the
    temperature watermark; left-unmatched temperatures are dropped.
    Must equal the batch twin over the same rows."""
    from orionld_to_hive_spark.streaming.ingest import (
        parse_notifications,
        read_notification_stream,
    )
    from orionld_to_hive_spark.streaming.joins import (
        temp_humidity_right_outer_join,
    )

    in_dir = tmp_path / "rjoin_in"
    in_dir.mkdir()
    (in_dir / "f1.json").write_text(
        _notification(
            [
                _entity_at("Kitchen", "2024-01-01T00:10:00.000Z", temperature=20.0),
                # bathroom temp never matched: must NOT appear (right outer)
                _entity_at("Bathroom", "2024-01-01T00:12:00.000Z", temperature=17.5),
            ]
        )
        + "\n"
    )
    time.sleep(0.05)
    (in_dir / "f2.json").write_text(
        _notification(
            [
                _entity_at("Kitchen", "2024-01-01T00:14:00.000Z", humidity=48),
                # toilet humidity with no temperature: right-unmatched
                _entity_at("Toilet", "2024-01-01T00:15:00.000Z", humidity=60),
            ]
        )
        + "\n"
    )
    time.sleep(0.05)
    (in_dir / "f3.json").write_text(
        _notification(
            [
                _entity_at("ZzFlush", "2024-01-01T06:00:00.000Z",
                           temperature=0.0, humidity=0),
            ]
        )
        + "\n"
    )

    parsed = read_notification_stream(spark, str(in_dir), max_bytes_per_trigger=1)
    q = (
        temp_humidity_right_outer_join(parsed)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ro_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ro"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    ro = spark.sql(
        "SELECT * FROM ro_out WHERE COALESCE(room, h_room, '') NOT LIKE 'zz%'"
    ).collect()
    ro_set = {
        (r.room, str(r.t_ts) if r.t_ts else None, r.temperature,
         r.h_room, str(r.h_ts) if r.h_ts else None, r.humidity)
        for r in ro
    }
    assert ("kitchen", "2024-01-01 00:10:00", 20.0,
            "kitchen", "2024-01-01 00:14:00", 48) in ro_set
    assert (None, None, None,
            "toilet", "2024-01-01 00:15:00", 60) in ro_set
    # bathroom temp (left-unmatched) must be absent
    assert not any(t[0] == "bathroom" for t in ro_set)
    assert len(ro_set) == 2

    # batch twin over the same raw lines
    raw = spark.read.schema(NGSI_NOTIFICATION_SCHEMA).json(
        spark.sparkContext.parallelize(
            [ln for p in sorted(in_dir.glob("*.json"))
             for ln in p.read_text().splitlines()]
        )
    )
    ro_b = {
        (r.room, str(r.t_ts) if r.t_ts else None, r.temperature,
         r.h_room, str(r.h_ts) if r.h_ts else None, r.humidity)
        for r in temp_humidity_right_outer_join(parse_notifications(raw)).collect()
        if (r.room or r.h_room or "") != "zzflush"
    }
    assert ro_set == ro_b
