"""Edge cases of the one-scan Q2/Q3/Q4 that the oracle diffs cannot see.

Every oracle diff ignores row order, and the driver testdata has no NULLs
and no tag-less hours. This hand-built `events` file has them: an hour
with clicks but no views, hours whose click or view values are all NULL,
non-tag and NULL event types, a NULL timestamp, and rows out of `ts`
order. Q2, Q3 and Q4 must equal their paper-shaped oracle SQL in DuckDB,
and Q2/Q4 must come back sorted by `hour_bucket`."""

from __future__ import annotations

from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orionld_to_hive_spark.operators import parity


def _ts(hour: int, minute: int) -> datetime:
    return datetime(2024, 1, 1, hour, minute)


# (ts, event_type, value); event_id is the row index
ROWS = [
    (_ts(5, 40), "view", 2.0),
    (_ts(1, 50), "click", 20.0),
    (_ts(3, 5), "view", None),
    (_ts(1, 10), "click", 10.0),
    (_ts(2, 30), "click", 3.0),  # hour 2: clicks, no views
    (_ts(4, 15), "other", 100.0),  # not a tag
    (_ts(1, 45), "view", 7.0),
    (_ts(3, 55), "view", None),  # hour 3: every view value NULL
    (_ts(4, 20), None, 50.0),  # NULL event_type
    (_ts(1, 5), "view", 5.0),
    (_ts(3, 30), "click", 4.0),
    (_ts(2, 10), "error", None),
    (None, "click", 9.0),  # NULL ts: no hour, so no Q4 join key
    (_ts(5, 0), "click", None),  # hour 5: every click value NULL
    (None, "view", 9.0),
    (_ts(4, 50), "purchase", 1.0),
    (_ts(1, 20), "signup", 6.0),
    (_ts(4, 5), "view", 8.0),  # hour 4: views, no clicks
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("parity_edges")
    n = len(ROWS)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([r[0] for r in ROWS], pa.timestamp("us")),
                "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
                "event_type": pa.array([r[1] for r in ROWS], pa.string()),
                "value": pa.array([r[2] for r in ROWS], pa.float64()),
                "props": pa.array(['{"k": 1}'] * n, pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def _oracle(sf_dir: str, op: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
        return con.execute(parity.ORACLES[op]).fetchall()
    finally:
        con.close()


def _spark(spark, sf_dir: str, op: str) -> list[tuple]:
    return [tuple(r) for r in getattr(parity, op)(spark, sf_dir).collect()]


def _nulls_first(row: tuple) -> tuple:
    return tuple((v is not None, "" if v is None else v) for v in row)


@pytest.mark.parametrize("op", ["q2_hourly_avg", "q4_join_hourly"])
def test_hourly_ops_match_oracle_in_ascending_hour_order(spark, edge_dir, op):
    got = _spark(spark, edge_dir, op)
    # hour_bucket leads each row and is unique, so the oracle rows sorted
    # in Spark's ascending order (NULLs first; DuckDB puts them last)
    # check the order as well as the values
    want = sorted(_oracle(edge_dir, op), key=_nulls_first)
    assert got == want


def test_q4_keeps_inner_join_semantics(spark, edge_dir):
    got = {r[0]: r[1:] for r in _spark(spark, edge_dir, "q4_join_hourly")}
    # hour 2 has no views, hour 4 no clicks and the NULL-ts rows no hour:
    # all drop, as in the join; hours 3 and 5 keep their all-NULL side
    assert sorted(got) == [1, 3, 5]
    assert got[1] == (15.0, 6.0, 9.0)
    assert got[3] == (4.0, None, None)
    assert got[5] == (None, 2.0, None)


def test_q3_matches_oracle_and_ignores_non_tags(spark, edge_dir):
    got = _spark(spark, edge_dir, "q3_union_cube")
    want = _oracle(edge_dir, "q3_union_cube")
    assert sorted(got, key=_nulls_first) == sorted(want, key=_nulls_first)
    tags = {r[0] for r in got}
    assert tags == {"click", "view", "purchase", "error", "signup", None}
    grand = [r for r in got if r[6] == 1 and r[7] == 1]
    # 16 tagged rows: the "other" and NULL event_type rows are ignored
    assert len(grand) == 1 and grand[0][5] == 16


def test_q4_under_ansi_has_no_divide_by_zero(spark, edge_dir):
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        got = _spark(spark, edge_dir, "q4_join_hourly")
    finally:
        spark.conf.set(key, before)
    # the no-view and no-click hours' NULL / 0 averages are NULL, not
    # DIVIDE_BY_ZERO
    want = sorted(_oracle(edge_dir, "q4_join_hourly"), key=_nulls_first)
    assert got == want
