"""Catalog / DDL operators (reference §2.9, D1-D5).

The reference's DDL surface is: idempotent DROP + CREATE EXTERNAL TABLE
binding HBase cells to typed columns (`hive.py:29-44`), existence checks
and resets (`insert.py:49-62`), a `SET -v` config dump (`hive.py:12-17`)
and a named-query CLI dispatch (`hive.py:102-107`). Spark-natively the
storage binding is just a view/table over parquet; dispatch is the
registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from orionld_to_hive_spark.schemas import READINGS_SCHEMA
from orionld_to_hive_spark.sources.warehouse import TABLE_NAMES, load_table


def register_warehouse(
    spark: SparkSession, sf_dir: str, *names: str
) -> None:
    """D2/S5: expose warehouse parquet as catalog views (schema-on-read
    binding; scans through `spark.table(name)` get full pushdown)."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def drop_if_exists(spark: SparkSession, name: str) -> None:
    """D1: idempotent drop (temp view or catalog table)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.catalog.dropTempView(name)


def table_exists(spark: SparkSession, name: str) -> bool:
    """D4: existence check."""
    return spark.catalog.tableExists(name) or any(
        t.name == name for t in spark.catalog.listTables()
    )


def create_readings_table(
    spark: SparkSession, name: str, location: str
) -> None:
    """D2: typed external table over a readings parquet warehouse —
    the Spark twin of the reference's CREATE EXTERNAL TABLE
    (`hive.py:31-44`), with partition discovery instead of a
    column-mapping string. The columns are `schemas.READINGS_SCHEMA`;
    Spark lists the partition column `room` last."""
    columns = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in READINGS_SCHEMA
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"""
        CREATE TABLE {name} ({columns})
        USING parquet
        PARTITIONED BY (room)
        LOCATION '{location}'
        """
    )
    spark.sql(f"MSCK REPAIR TABLE {name}")


def dump_config(spark: SparkSession) -> DataFrame:
    """D3: `SET -v` — engine configuration dump."""
    return spark.sql("SET -v")


def analyze_table(
    spark: SparkSession, name: str, columns: tuple[str, ...] = ()
) -> dict[str, str]:
    """Collect table (and optionally per-column) statistics into the
    catalog and return the table-level stats.

    At 100 TB the cost-based optimizer needs rowCount/sizeInBytes to
    pick join orders and decide broadcastability beyond the static
    10 MB file-size estimate; column histograms sharpen selectivity
    estimates for skewed predicates. ANALYZE is a scan-only job —
    schedule it after large loads/compactions, not per query.
    """
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS "
            + ", ".join(columns)
        )
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    stats = next(
        (r.data_type for r in rows if r.col_name == "Statistics"), ""
    )
    return {"statistics": stats}
