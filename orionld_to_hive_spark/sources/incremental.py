"""High-watermark incremental batch ingestion.

The reference re-loads its whole CSV corpus on every `insert.py` run
(`insert.py:99-113` — full reset + full reload). The standard
incremental pattern replaces that: persist the max ingested event time
(the high watermark), and each run appends only rows strictly newer.

    wm = read_watermark(state)            # None on first run
    new = source.filter(ts > wm)          # pushed to the parquet scan
    new.write.mode("append")...           # data committed first
    write_watermark(state, max(new.ts))   # state advanced LAST

Crash between the data commit and the watermark write re-ingests the
same slice on retry → at-least-once. That is deliberate: pair with the
latest-wins merge (sources/merge.py) or exact dedup for
effectively-once, the same contract Structured Streaming's
foreachBatch gives. Advancing the watermark first would silently DROP
data on crash — never that order.

At scale the `ts > wm` predicate is the whole point: it reaches the
scan as a PushedFilter, so min/max row-group stats (ts-sorted writes,
sources/warehouse.py) skip everything already ingested.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_watermark(state_path: str) -> str | None:
    if not os.path.exists(state_path):
        return None
    with open(state_path) as fh:
        return json.load(fh)["watermark"]


def _write_watermark(state_path: str, watermark: str) -> None:
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"watermark": watermark}, fh)
    os.replace(tmp, state_path)  # atomic, like the snapshot pointer


def incremental_ingest(
    spark: SparkSession,
    source: DataFrame,
    ts_col: str,
    target_dir: str,
    state_path: str,
) -> tuple[int, str | None]:
    """Append rows of `source` newer than the stored watermark to
    `target_dir`; returns (rows_ingested, new_watermark)."""
    wm = read_watermark(state_path)
    fresh = source if wm is None else source.filter(
        F.col(ts_col) > F.lit(wm).cast("timestamp")
    )
    # one pass: stage the slice, then take its max(ts) from the staged
    # data (recomputing from `source` would race concurrent arrivals)
    stats = fresh.agg(
        F.count(F.lit(1)).alias("n"), F.max(ts_col).alias("mx")
    ).collect()[0]
    n, mx = int(stats["n"]), stats["mx"]
    if n == 0:
        return 0, wm
    fresh.write.mode("append").parquet(target_dir)
    new_wm = mx.strftime("%Y-%m-%d %H:%M:%S.%f")
    _write_watermark(state_path, new_wm)
    return n, new_wm
