"""The warehouse layer leaves the session alone and reads each footer once:
`overwrite_partitions` sets no session conf, and `scan_splits`,
`table_rows` and `table_bytes` share one memoized listing of a table."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.conf import RuntimeConfig

from orionld_to_hive_spark.sources.merge import merge_upsert
from orionld_to_hive_spark.sources.warehouse import (
    scan_splits,
    table_bytes,
    table_rows,
    write_partitioned,
)

SCHEMA = "id LONG, day STRING, version LONG, value DOUBLE"


def test_merge_upsert_sets_no_partition_overwrite_mode(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "tbl")
    write_partitioned(
        spark.createDataFrame(
            [(1, "a", 1, 10.0), (2, "b", 1, 20.0)], SCHEMA
        ),
        path,
        partition_cols=("day",),
    )
    keys = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    merge_upsert(
        path,
        spark.createDataFrame([(1, "a", 2, 11.0)], SCHEMA),
        ("id",),
        "version",
        ("day",),
    )
    assert "spark.sql.sources.partitionOverwriteMode" not in keys
    got = sorted(
        (r.id, r.day, r.version) for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "a", 2), (2, "b", 1)]  # "b" kept: dynamic overwrite


def test_scan_splits_counts_row_groups_and_reads_each_footer_once(
    spark, tmp_path, monkeypatch
):
    table = pa.table({"doc_id": list(range(40))})
    grouped, single, small = (tmp_path / d for d in ("grouped", "single", "small"))
    for sf, rows_per_group in ((grouped, 10), (single, 40), (small, 10)):
        sf.mkdir()
        pq.write_table(
            table, str(sf / "documents.parquet"), row_group_size=rows_per_group
        )
    grouped_file = str(grouped / "documents.parquet")
    single_file = str(single / "documents.parquet")

    # a file below 128 MB is one byte-range split, however many row groups
    assert scan_splits(spark, str(small), "documents") == 1

    opened = []
    real_file = pq.ParquetFile

    def spy(source, *args, **kwargs):
        opened.append(source)
        return real_file(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", spy)
    # 1 GiB per file: eight size splits, so the row groups bound the count
    monkeypatch.setattr(os.path, "getsize", lambda f: 1 << 30)
    assert scan_splits(spark, str(grouped), "documents") == 4
    assert scan_splits(spark, str(single), "documents") == 1
    assert table_rows(spark, str(grouped), "documents") == 40
    assert table_bytes(spark, str(grouped), "documents") == 1 << 30
    assert sorted(opened) == sorted([grouped_file, single_file])
