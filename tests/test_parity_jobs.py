"""Spark jobs and parquet files read by the one-scan parity queries — exact
counters, so they can be pinned where wall time cannot.

Q1 filters the table plan memoized by `load_table`, so it runs no
schema-inference job of its own.
Q2 and Q4 sort their ≤24 hourly rows in one partition, so neither pays
the sampling job and shuffle map stage of a global orderBy. Q3 and Q4
read `events` once, where their `_sql` twins' union and join read it
once per branch."""

from __future__ import annotations

from orionld_to_hive_spark.operators import parity
from orionld_to_hive_spark.sources.warehouse import load_table
from perfbench.tracing import plan_metrics


def _run(spark, sf_dir: str, op: str, group: str):
    """(jobs, parquet files read) of one build + collect of `op`."""
    load_table(spark, sf_dir, "events")  # a cold table load is not the query's
    sc = spark.sparkContext
    sc.setJobGroup(group, op)
    try:
        df = getattr(parity, op)(spark, sf_dir)
        df.collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    files = plan_metrics(df)["files_read"]  # the benchmark's files_read
    return len(sc.statusTracker().getJobIdsForGroup(group)), files


def test_q1_time_filter_jobs_and_scans(spark, sf_smoke):
    jobs, files = _run(spark, sf_smoke, "q1_time_filter", "test-parity-q1")
    # the filtered scan's result job only
    assert jobs == 1
    assert files == 1


def test_q2_hourly_avg_job_count(spark, sf_smoke):
    jobs, files = _run(spark, sf_smoke, "q2_hourly_avg", "test-parity-q2")
    # the aggregate's shuffle map stage (1) and the result (1)
    assert jobs == 2
    assert files == 1


def test_q3_union_cube_reads_events_once(spark, sf_smoke):
    _, files = _run(spark, sf_smoke, "q3_union_cube", "test-parity-q3")
    assert files == 1


def test_q4_join_hourly_jobs_and_scans(spark, sf_smoke):
    jobs, files = _run(spark, sf_smoke, "q4_join_hourly", "test-parity-q4")
    # one scan feeding one aggregate: its shuffle map stage (1) and the
    # result (1) — no second side, no broadcast, no range exchange
    assert jobs == 2
    assert files == 1
