"""Batch TSV ingestion tests (insert.py-equivalent pipeline)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from orionld_to_hive_spark.sources.batch_csv import (
    ingest_measurements,
    read_raw_measurements,
)

KITCHEN_TEMP = """1489017527\t19.2
1489017587\t19.5
garbage-line-without-tab
1489017647\tnot-a-number
1489017707\t20.1

1489017767\t18.9
"""

ROOM1_HUM = """1489017527\t47
1489017587\t52
"""

BATH_BRIGHT = """1489017527\t12.82
1489017587\t0.0
"""


def _write_fixtures(tmp_path, subdir: str = "measurements") -> str:
    d = tmp_path / subdir
    d.mkdir(parents=True)
    (d / "Kitchen_Temperature.csv").write_text(KITCHEN_TEMP)
    (d / "Room1_Humidity.csv").write_text(ROOM1_HUM)
    (d / "Bathroom_Brightness.csv").write_text(BATH_BRIGHT)
    return str(d / "*.csv")


def test_raw_scan_drops_malformed_and_infers_identity(spark, tmp_path):
    glob = _write_fixtures(tmp_path)
    raw = read_raw_measurements(spark, glob)
    rows = raw.collect()
    # 4 valid kitchen rows (malformed + non-numeric + blank dropped by
    # DROPMALFORMED/nulls later) — non-numeric value yields null value row
    kitchen = [r for r in rows if r.room == "kitchen"]
    assert {r.sensor for r in rows} == {"temperature", "humidity", "brightness"}
    assert all(r.room in ("kitchen", "room1", "bathroom") for r in rows)
    assert len(kitchen) >= 4


def test_identity_ignores_directory_names(spark, tmp_path):
    """Underscores and a `.csv`-like segment in the directory path leave
    (room, sensor) as they are: identity is read from the bare file
    name, never from the full path."""
    plain = read_raw_measurements(spark, _write_fixtures(tmp_path))
    odd = read_raw_measurements(
        spark, _write_fixtures(tmp_path, "sensor_ingest-1/a_b.csv.d")
    )

    def rows(df):
        return sorted(
            (r.room, r.sensor, r.epoch_s, r.value) for r in df.collect()
        )

    got = rows(odd)
    assert got == rows(plain)
    assert {(r[0], r[1]) for r in got} == {
        ("kitchen", "temperature"),
        ("room1", "humidity"),
        ("bathroom", "brightness"),
    }
    plan = odd._jdf.queryExecution().optimizedPlan().toString()
    assert "input_file_name" not in plan.lower()


def test_ingest_end_to_end(spark, tmp_path):
    glob = _write_fixtures(tmp_path)
    out = str(tmp_path / "warehouse" / "readings")
    written = ingest_measurements(
        spark, glob, out, sample_fraction=1.0, seed=42
    )
    assert set(written.columns) == {
        "room", "entityid", "temperature", "humidity", "brightness", "ts",
    }

    back = spark.read.parquet(out)
    rows = back.collect()
    # kitchen: 4 clean rows; room1: 2; bathroom: 2
    assert len(rows) == 8
    # partition pruning layout on disk
    assert sorted(
        p for p in os.listdir(out) if p.startswith("room=")
    ) == ["room=bathroom", "room=kitchen", "room=room1"]
    # sparse wide columns: humidity only set for the humidity file rows
    hum = [r for r in rows if r.humidity is not None]
    assert {r.room for r in hum} == {"room1"}
    assert all(isinstance(r.humidity, int) for r in hum)
    # event time from the data, not synthetic (reference defect fixed)
    ts_years = {r.ts.year for r in rows}
    assert ts_years == {2017}
    # entity key synthesis room_{formatted ts}
    assert all(r.entityid.startswith(r.room + "_") for r in rows)


def test_seeded_sample_is_deterministic(spark, tmp_path):
    glob = _write_fixtures(tmp_path)
    out1 = str(tmp_path / "w1")
    out2 = str(tmp_path / "w2")
    a = ingest_measurements(spark, glob, out1, sample_fraction=0.5, seed=42)
    b = ingest_measurements(spark, glob, out2, sample_fraction=0.5, seed=42)
    ka = sorted(r.entityid for r in a.collect())
    kb = sorted(r.entityid for r in b.collect())
    assert ka == kb


def test_partition_pruning_in_plan(spark, tmp_path):
    glob = _write_fixtures(tmp_path)
    out = str(tmp_path / "warehouse2")
    ingest_measurements(spark, glob, out, sample_fraction=1.0)
    df = spark.read.parquet(out).filter(F.col("room") == "kitchen")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (pruning, not post-filter)
    assert "PartitionFilters" in plan and "room" in plan
    assert df.count() == 4


def test_stratified_sample_deterministic_and_stratified(spark):
    from orionld_to_hive_spark.operators.pipeline import (
        STRATA_FRACTIONS,
        stratified_sample_docs,
    )

    sf = "/root/testdata/sf0.001"
    a = sorted(r.doc_id for r in stratified_sample_docs(spark, sf).collect())
    b = sorted(r.doc_id for r in stratified_sample_docs(spark, sf).collect())
    assert a == b and len(a) > 0  # same seed ⇒ identical sample
    langs = {r.lang for r in stratified_sample_docs(spark, sf).collect()}
    assert langs <= set(STRATA_FRACTIONS)  # unlisted strata excluded


def test_shard_assignment_balanced_and_deterministic(spark):
    from orionld_to_hive_spark.operators.pipeline import (
        N_SHARDS,
        shard_assignment_report,
    )

    sf = "/root/testdata/sf0.001"
    a = {r.shard: r.n_docs for r in shard_assignment_report(spark, sf).collect()}
    b = {r.shard: r.n_docs for r in shard_assignment_report(spark, sf).collect()}
    assert a == b and set(a) == set(range(N_SHARDS))
    total = sum(a.values())
    for n in a.values():  # hash balance: within 3x of the uniform share
        assert n > total / N_SHARDS / 3


def test_pack_sequences_respects_budget_overflow_bound(spark):
    """Contiguous-fill packing: every pack except a source's last must
    have crossed the budget by at most its final doc."""
    from orionld_to_hive_spark.operators.pipeline import (
        PACK_BUDGET,
        pack_sequences_report,
    )

    rows = pack_sequences_report(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, packs in by_source.items():
        for p in packs[:-1]:  # all but the trailing partial pack
            assert p.pack_tokens >= PACK_BUDGET - 0 or p.n_docs >= 1
        # pack ids are dense from 0
        assert [p.pack_id for p in packs] == list(range(len(packs)))
