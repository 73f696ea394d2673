"""Plan-inspection helpers — make scale properties assertable.

"Would this plan survive a 100× scale-up?" is a question about the
physical plan, not the output. These helpers let tests pin the three
properties that matter most at 100 TB:

  - filters reach the parquet scan (PushedFilters / PartitionFilters);
  - small sides broadcast (BroadcastHashJoin, no shuffle of the fact);
  - the column set read from disk is the projected set (ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df: DataFrame) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    plan = formatted(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)

def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan.

    Counts numbered `(N) Exchange` operators in the formatted plan —
    shuffle exchanges only; `BroadcastExchange` (no repartitioning of
    the big side) deliberately excluded.
    """
    import re

    return len(re.findall(r"^\(\d+\) Exchange\b", formatted(df), re.M))


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the (first) parquet scan."""
    plan = formatted(df)
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema"):
            inner = line.split("struct<", 1)[-1].rstrip(">")
            return [f.split(":")[0] for f in inner.split(",") if f]
    return []
