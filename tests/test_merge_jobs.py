"""Spark job count of one copy-on-write MERGE — an exact counter, so it
can be pinned where wall time cannot. The count is the merge's fixed
per-call overhead, and it shows that the latest-wins slice is evaluated
once, by the write."""

from __future__ import annotations

from orionld_to_hive_spark.sources.merge import merge_upsert
from orionld_to_hive_spark.sources.warehouse import write_partitioned

SCHEMA = "id LONG, day STRING, version LONG, value DOUBLE"


def test_merge_upsert_two_partition_batch_job_count(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_partitioned(
        spark.createDataFrame(
            [(1, "a", 1, 10.0), (2, "a", 1, 20.0), (3, "b", 1, 30.0),
             (4, "c", 1, 40.0)],
            SCHEMA,
        ),
        path,
        partition_cols=("day",),
    )
    updates = spark.createDataFrame(
        [(2, "a", 2, 21.0), (5, "b", 1, 50.0)], SCHEMA
    )

    sc = spark.sparkContext
    group = "test-merge-upsert-jobs"
    sc.setJobGroup(group, "merge_upsert job count")
    try:
        merge_upsert(path, updates, ("id",), "version", ("day",))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # touched-partition collect (shuffle map stage + result: 2), target
    # schema read (1), the slice's window shuffle map stage (1) and the
    # partition-overwrite write (1) — nothing evaluates the slice again
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 5

    got = sorted(
        (r.id, r.day, r.version, r.value)
        for r in spark.read.parquet(path).collect()
    )
    assert got == [
        (1, "a", 1, 10.0),
        (2, "a", 2, 21.0),
        (3, "b", 1, 30.0),
        (4, "c", 1, 40.0),
        (5, "b", 1, 50.0),
    ]
