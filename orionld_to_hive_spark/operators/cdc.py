"""Change-data-capture semantics over the events stream — changelog
apply (latest-wins with tombstone deletes) and SCD type-2 history.

The reference's entity lifecycle is upsert-only (`subscriber.py:79-123`
PATCHes latest state per rowkey; nothing ever deletes), but every
warehouse fed by CDC needs the two standard materializations of a
keyed changelog:

  * `cdc_apply_changelog` — the CURRENT-STATE view: last change per
    key wins, and if the last change is a delete the key is absent.
    The batch/registry twin of `sources/merge.merge_upsert(delete_col=
    ...)`, which applies the same semantics destructively to a
    partitioned table (copy-on-write); this operator is the pure
    query form with a full DuckDB oracle.
  * `cdc_scd2_history` — the FULL-HISTORY view (slowly-changing
    dimension type 2): one validity interval per non-delete version,
    [valid_from, valid_to) closed by the next change of any kind, so
    a delete closes the last interval without opening a new one and
    `is_current` marks keys that are still live. Differs from
    `temporal.scd2_user_history` (the no-op-column variant, where
    every event is a version and the newest row is always current)
    exactly in the tombstone handling.

Since the testdata carries no op column, the changelog is synthesized
deterministically: a row is a DELETE when an affine hash of its unique
event_id lands in a 1-in-20 residue class — the same portable
(a·x + b) mod p family the sketch operators use, so the op assignment
(and therefore every downstream number) is bit-identical in Spark and
DuckDB and the oracles check exact values, not shapes.

Scale: both operators are one keyed window over user_id — a single
shuffle on the key, no self-join, no collect. At 100 TB the changelog
would already be bucketed by key (the warehouse's bucketed layout),
making the window shuffle-free; the current-state view is exactly the
state `sources/merge.merge_upsert` keeps materialized for readers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from orionld_to_hive_spark.functions.numeric import dsum, sql_dsum
from orionld_to_hive_spark.sources.warehouse import load_table

# Affine-hash op assignment: DELETE iff ((a·event_id + b) mod p) mod 20
# == 0 (~5% of changes). Constants distinct from the sketch family's so
# the synthesized ops don't correlate with the HLL/count-min buckets.
_CDC_P = 2147483647
_CDC_A, _CDC_B = 999983, 7919
_CDC_DELETE_MOD = 20


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    h = (F.lit(_CDC_A) * F.col("event_id") + F.lit(_CDC_B)) % F.lit(_CDC_P)
    return ev.withColumn(
        "is_delete", (h % F.lit(_CDC_DELETE_MOD)) == F.lit(0)
    )


def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current state after applying the changelog: per event_type of
    each key's LAST change, how many keys are live vs deleted and the
    exact-decimal sum of live values. One window + one small agg."""
    log = _changelog(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = log.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        last.groupBy("event_type")
        .agg(
            F.sum(F.when(~F.col("is_delete"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_live_users"),
            F.sum(F.when(F.col("is_delete"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_deleted_users"),
            dsum(
                F.when(~F.col("is_delete"), F.col("value")),
                "sum_live_value",
            ),
        )
    )


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension built from the changelog: one row per
    non-delete version with its validity interval. valid_to is the
    NEXT change's timestamp (of any kind — an update supersedes, a
    delete terminates); NULL valid_to means the version is current,
    so a key whose history ends in a delete has no current row."""
    log = _changelog(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        log.withColumn("valid_to", F.lead("ts").over(w))
        .filter(~F.col("is_delete"))
        .select(
            "user_id",
            F.col("event_id").alias("version_id"),
            "event_type",
            "value",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


_CHANGELOG_SQL = f"""
  SELECT event_id, ts, user_id, event_type, value,
         ((({_CDC_A} * event_id + {_CDC_B}) % {_CDC_P})
          % {_CDC_DELETE_MOD}) = 0 AS is_delete
  FROM events
"""

CDC_APPLY_SQL = f"""
WITH log AS ({_CHANGELOG_SQL}),
last AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
)
SELECT event_type,
       CAST(SUM(CASE WHEN NOT is_delete THEN 1 ELSE 0 END) AS BIGINT)
         AS n_live_users,
       CAST(SUM(CASE WHEN is_delete THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deleted_users,
       {sql_dsum("CASE WHEN NOT is_delete THEN value END")}
         AS sum_live_value
FROM last WHERE rn = 1
GROUP BY event_type
ORDER BY event_type
"""

SCD2_SQL = f"""
WITH log AS ({_CHANGELOG_SQL}),
iv AS (
  SELECT *, lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS valid_to
  FROM log
)
SELECT user_id, event_id AS version_id, event_type, value,
       ts AS valid_from, valid_to, valid_to IS NULL AS is_current
FROM iv WHERE NOT is_delete
"""

QUERIES = {
    "cdc_apply_changelog": cdc_apply_changelog,
    "cdc_scd2_history": cdc_scd2_history,
}

ORACLES = {
    "cdc_apply_changelog": CDC_APPLY_SQL,
    "cdc_scd2_history": SCD2_SQL,
}
