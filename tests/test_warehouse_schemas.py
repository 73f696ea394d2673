"""Schema-drift canary: the driver regenerates testdata between rounds
and has already changed physical encodings once (events.ts: INT64
TIMESTAMP(NANOS) in r1 → TIMESTAMP(MICROS) without UTC adjustment in
r2, which Spark infers as TIMESTAMP_NTZ). These assertions fail loudly
at the LOAD layer if an encoding shifts again, instead of surfacing as
dozens of downstream operator errors.

The naive µs are typed TIMESTAMP at the parquet scan: the scan's
ReadSchema says `ts:timestamp`, no parity plan converts `ts` per row,
and the epochs equal the footer's stored int64 under any session
timezone and either parquet reader.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from orionld_to_hive_spark.operators import parity
from orionld_to_hive_spark.plans.explain import executed_plan, formatted
from orionld_to_hive_spark.sources.warehouse import (
    TABLE_NAMES,
    load_table,
    load_time_range,
)

# the driver's TPC-H-ish schema (TESTDATA.md) — slimmer than spec TPC-H
EXPECTED_COLS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_table_loads_with_expected_columns(spark, sf_smoke, name):
    df = load_table(spark, sf_smoke, name)
    assert set(df.columns) >= EXPECTED_COLS[name], (
        f"{name}: missing {EXPECTED_COLS[name] - set(df.columns)}"
    )
    assert df.count() > 0


def test_events_ts_is_normalized_utc_timestamp(spark, sf_smoke):
    # every encoding variant must normalize to session-UTC TIMESTAMP —
    # downstream epoch math (unix_micros) rejects NTZ and bigint.
    dt = dict(load_table(spark, sf_smoke, "events").dtypes)["ts"]
    assert dt == "timestamp", dt


def test_date_columns_are_timestamp_like(spark, sf_smoke):
    # order/ship dates may read as timestamp or timestamp_ntz (both
    # compare fine against literals under a UTC session) but never as
    # raw ints/strings.
    for tbl, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        dt = dict(load_table(spark, sf_smoke, tbl).dtypes)[col]
        assert dt in ("timestamp", "timestamp_ntz", "date"), (tbl, col, dt)


def test_ts_normalization_is_session_tz_independent(spark, sf_smoke):
    # ADVICE r2: the NTZ→TIMESTAMP normalization must yield the SAME
    # epoch values whatever the session timezone — the driver's vanilla
    # session inherits the JVM tz, and parity must not depend on the
    # host being UTC. Session tz is runtime-mutable, so flip it in place.
    def epochs():
        df = load_table(spark, sf_smoke, "events")
        r = df.agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            F.max(F.unix_micros("ts")).alias("mx"),
        ).collect()[0]
        return r.mn, r.mx

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = epochs()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = epochs()
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)
    assert utc == ny, (utc, ny)


def test_events_scan_reads_ts_as_timestamp(spark, sf_smoke):
    plan = formatted(load_table(spark, sf_smoke, "events").select("ts"))
    schemas = [ln for ln in plan.splitlines() if ln.startswith("ReadSchema")]
    assert schemas and all(re.search(r"\bts:timestamp[,>]", s) for s in schemas), (
        schemas
    )


@pytest.mark.parametrize(
    "op", ["q1_time_filter", "q2_hourly_avg", "q3_union_cube", "q4_join_hourly"]
)
def test_parity_plans_do_not_convert_ts_per_row(spark, sf_smoke, op):
    df = getattr(parity, op)(spark, sf_smoke)
    df.collect()  # the final adaptive plan
    assert "convert_timezone" not in executed_plan(df)


def test_ts_epochs_equal_parquet_footer_micros(spark, sf_oracle):
    # the whole (event_id, epoch µs) column, not just min/max, against the
    # stored int64 — under a non-UTC session and both parquet readers
    stored = pq.read_table(f"{sf_oracle}/events.parquet", columns=["event_id", "ts"])
    want = sorted(
        zip(
            stored["event_id"].to_pylist(),
            stored["ts"].cast(pa.int64()).to_pylist(),
        )
    )
    tz_key = "spark.sql.session.timeZone"
    vec_key = "spark.sql.parquet.enableVectorizedReader"
    tz, vec = spark.conf.get(tz_key), spark.conf.get(vec_key)
    try:
        spark.conf.set(tz_key, "Asia/Kolkata")
        for reader in ("true", "false"):
            spark.conf.set(vec_key, reader)
            got = sorted(
                tuple(r)
                for r in load_table(spark, sf_oracle, "events")
                .select("event_id", F.unix_micros("ts"))
                .collect()
            )
            assert got == want, reader
    finally:
        spark.conf.set(tz_key, tz)
        spark.conf.set(vec_key, vec)


def test_nanos_ts_loads_truncated_and_filters_at_the_scan(spark, tmp_path):
    # the r1 encoding: INT64 TIMESTAMP(NANOS), read as long and truncated
    hours = [datetime(2024, 1, 1, h, tzinfo=timezone.utc) for h in range(4)]
    nanos = [int(h.timestamp()) * 10**9 + 1_999 for h in hours]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(4), pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    sf_dir = str(tmp_path)
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = sorted(tuple(r) for r in ev.select("event_id", F.unix_micros("ts")).collect())
    assert got == [(i, n // 1000) for i, n in enumerate(nanos)]
    lower = hours[2].strftime("%Y-%m-%d %H:%M:%S")
    ranged = load_time_range(spark, sf_dir, "events", "ts", lower_iso=lower)
    assert dict(ranged.dtypes)["ts"] == "timestamp"
    assert sorted(r.event_id for r in ranged.collect()) == [2, 3]
    pushed = [ln for ln in formatted(ranged).splitlines() if "PushedFilters" in ln]
    assert any(f"GreaterThanOrEqual(ts,{nanos[2] - 1_999})" in ln for ln in pushed), (
        pushed
    )
