"""Reference-parity operators (SURVEY.md §2) over the driver testdata.

The reference's queryable surface is four HiveQL queries over room-sensor
time series (reference `hive.py:49-99`). Per FIXTURES.md §4 the driver's
`events` table (event_id, ts, user_id, event_type, value, props) stands in
for the readings time series: `event_type` plays the role of `room`,
`value` the sensor measurement, `ts` the reading timestamp.

Every operator here is a pure DataFrame expression — no UDFs, no RDDs —
so Catalyst gets full pushdown/pruning and whole-stage codegen. Each
callable has signature (spark, sf_dir) -> DataFrame and a DuckDB oracle
twin in ORACLES with identical column names/semantics.

Determinism notes:
  - Q1's `unix_timestamp()` (wall-clock now, reference `hive.py:53`) is
    parameterized as the fixed AS_OF below — the reference's own Q1 is
    untestable as written (SURVEY.md §7 hard-part #1).
  - double SUM/AVG go through the exact-decimal reduction in
    functions/numeric.py so value-hashes match the oracle bit-for-bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orionld_to_hive_spark.functions.numeric import davg, sql_davg
from orionld_to_hive_spark.sources.warehouse import load_table

# Fixed "now" for the reference's relative time-range predicate
# (`hive.py:53`: unix_timestamp(ts) >= unix_timestamp() - 3600).
# events spans 2024-01-01 .. 2024-01-30T23:57 — this AS_OF makes the
# "last hour" window the final hour of the dataset.
AS_OF = "2024-01-31 00:00:00"

# The reference tags six room branches; events has five event types that
# play the same role (reference `hive.py:20-27`).
EVENT_TAGS = ("click", "view", "purchase", "error", "signup")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _by_hour(df: DataFrame) -> DataFrame:
    # hour_bucket ∈ [0, 24): one partition is bounded at any scale, so a
    # local sort replaces orderBy's sampling job and range exchange. The
    # final aggregate runs in that one task, over ≤24 partials per map task.
    return df.coalesce(1).sortWithinPartitions("hour_bucket")


# --------------------------------------------------------------------------
# Q1 — time-range filter scan (reference `hive.py:50-54`).
# The reference filters on unix_timestamp(ts) — a function of the column —
# which defeats pushdown (its own report shows Q1 doing a full scan,
# SURVEY.md §4). We filter on the bare column instead: semantically
# identical (floor(epoch(ts)) >= B  ⟺  ts >= B for integer-second B) and
# Catalyst lists `ts >= literal` in the parquet scan's PushedFilters.
# The filter applies to the table plan memoized by `load_table`, so Q1
# runs no schema-inference job of its own.
# Known limit: `events.ts` is stored without UTC adjustment. It is typed
# TIMESTAMP at the scan, but Spark 4.1.2 skips no row group for the
# predicate on it, so Q1 still reads every row (200 000 scanned for 269
# returned on perfbench's `sensor_queries`).
def q1_time_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timedelta

    from orionld_to_hive_spark.sources.warehouse import load_time_range

    cutoff = (
        datetime.fromisoformat(AS_OF) - timedelta(hours=1)
    ).strftime("%Y-%m-%d %H:%M:%S")
    events = load_time_range(
        spark, sf_dir, "events", "ts", lower_iso=cutoff
    )
    return events.select("event_id", "value", "ts")


Q1_SQL = f"""
SELECT event_id, value, ts
FROM events
WHERE ts >= TIMESTAMP '{AS_OF}' - INTERVAL 1 HOUR
"""


# --------------------------------------------------------------------------
# Q2 — hourly AVG + ORDER BY (reference `hive.py:55-60`).
# groupBy(hour) is a partial-aggregated shuffle on ≤24 keys — map-side
# combine reduces 100 TB of rows to 24·#tasks partials before the shuffle.
def q2_hourly_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return _by_hour(
        events.groupBy(F.hour("ts").alias("hour_bucket")).agg(
            davg("value", "avg_value"), F.count(F.lit(1)).alias("n")
        )
    )


Q2_SQL = f"""
SELECT CAST(hour(ts) AS INTEGER) AS hour_bucket,
       {sql_davg("value")} AS avg_value,
       COUNT(*) AS n
FROM events
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q3 — N-way UNION ALL + CUBE multi-aggregate (reference `hive.py:61-83`).
# Each reference branch tags the rows of one room with its literal name,
# and the branches are disjoint, so their union is one scan filtered to
# `event_type IN EVENT_TAGS` with tag = event_type. Spark does not merge
# the N filtered scans of a literal union: each would read the whole file.
# grouping() flags disambiguate rolled-up NULLs from data NULLs (SURVEY.md
# §7 hard-part #2).
def q3_union_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin(*EVENT_TAGS)).select(
        F.col("event_type").alias("tag"),
        F.hour("ts").alias("hr"),
        F.col("value"),
    )
    # Pre-aggregate to base (tag, hr) groups BEFORE the CUBE: every
    # measure is re-aggregable (decimal sums are associative), so the
    # Expand operator replicates #groups rows (≤ tags×24) instead of
    # every input row — at 100 TB that's the difference between a 4×
    # fact-table blowup and a no-op.
    base = tagged.groupBy("tag", "hr").agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("_s"),
        F.min("value").alias("_min"),
        F.max("value").alias("_max"),
        F.count("value").alias("_nv"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        base.cube("tag", "hr")
        .agg(
            # AVG divides by the non-NULL count, COUNT(*) counts every row
            (F.sum("_s").cast("double") / F.sum("_nv")).alias("avg_value"),
            F.min("_min").alias("min_value"),
            F.max("_max").alias("max_value"),
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n"),
            F.grouping("tag").cast("int").alias("g_tag"),
            F.grouping("hr").cast("int").alias("g_hr"),
        )
    )


def _q3_branch(tag: str) -> str:
    return (
        f"SELECT '{tag}' AS tag, CAST(hour(ts) AS INTEGER) AS hr, value "
        f"FROM events WHERE event_type = '{tag}'"
    )


Q3_SQL = f"""
WITH unioned AS (
  {" UNION ALL ".join(_q3_branch(t) for t in EVENT_TAGS)}
)
SELECT tag, hr,
       {sql_davg("value")} AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       COUNT(*) AS n,
       CAST(GROUPING(tag) AS INTEGER) AS g_tag,
       CAST(GROUPING(hr) AS INTEGER) AS g_hr
FROM unioned
GROUP BY CUBE (tag, hr)
"""


# --------------------------------------------------------------------------
# Q4 — inner equi-join of two aggregated subqueries (reference
# `hive.py:84-98`), the reference's most expensive query (PDF §5). Both
# sides group the same table by the same key, so the join is conditional
# aggregation over one scan: per tag, an average over that tag's values
# and a count of that tag's rows. The inner join keeps an hour iff its
# key is not NULL (the ts filter) and both sides have a row for it (the
# count filter). An hour whose values are all NULL stays, with a NULL
# average.
def q4_join_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    tag = F.col("event_type")
    hourly = (
        events.filter(tag.isin("click", "view") & F.col("ts").isNotNull())
        .groupBy(F.hour("ts").alias("hour_bucket"))
        .agg(
            davg(F.when(tag == "click", F.col("value")), "avg_click"),
            davg(F.when(tag == "view", F.col("value")), "avg_view"),
            F.count(F.when(tag == "click", 1)).alias("_n_click"),
            F.count(F.when(tag == "view", 1)).alias("_n_view"),
        )
    )
    return _by_hour(
        hourly.filter((F.col("_n_click") > 0) & (F.col("_n_view") > 0)).select(
            "hour_bucket",
            "avg_click",
            "avg_view",
            (F.col("avg_click") - F.col("avg_view")).alias("click_minus_view"),
        )
    )


Q4_SQL = f"""
WITH clicks AS (
  SELECT CAST(hour(ts) AS INTEGER) AS hour_bucket, {sql_davg("value")} AS avg_click
  FROM events WHERE event_type = 'click' GROUP BY 1
),
views AS (
  SELECT CAST(hour(ts) AS INTEGER) AS hour_bucket, {sql_davg("value")} AS avg_view
  FROM events WHERE event_type = 'view' GROUP BY 1
)
SELECT c.hour_bucket, c.avg_click, v.avg_view,
       c.avg_click - v.avg_view AS click_minus_view
FROM clicks c JOIN views v ON c.hour_bucket = v.hour_bucket
ORDER BY 1
"""


# --------------------------------------------------------------------------
# U1 — plain N-way UNION ALL with literal tags (reference `hive.py:69-81`),
# kept separate from Q3 for operator-level parity testing.
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    branches = [
        events.filter(F.col("event_type") == tag).select(
            "event_id", F.lit(tag).alias("tag"), "value"
        )
        for tag in ("click", "view")
    ]
    return reduce(DataFrame.unionByName, branches)


U1_SQL = """
SELECT event_id, 'click' AS tag, value FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, 'view' AS tag, value FROM events WHERE event_type = 'view'
"""


# --------------------------------------------------------------------------
# P5 — null-drop (reference `insert.py:77` df.dropna(how='any')).
def p5_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.na.drop("any").select("event_id", "user_id", "value")


P5_SQL = """
SELECT event_id, user_id, value
FROM events
WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
  AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
"""


# --------------------------------------------------------------------------
# P6 — seeded Bernoulli sample (reference `insert.py:79-81`,
# fraction 0.5 / seed 42). RNG streams differ across engines, so this has
# no value-level oracle — the driver records a rows-only check. The sample
# is still deterministic within Spark for a fixed seed and partitioning.
def p6_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.sample(fraction=0.5, seed=42).select("event_id", "value")


# P6 twin (r6) — HASH-threshold Bernoulli at the same fraction: keep a
# row iff the first 32 md5 bits of its key fall under fraction·2³².
# Same statistical behavior as the seeded sample (md5 bits are uniform),
# but the coin flip is content-addressed — independent of partitioning,
# row order, AND engine — so unlike the RNG variant this one carries an
# exact DuckDB oracle. This is also the right 100 TB design: the sample
# is stable under repartitioning/backfills, and the predicate is one
# row-local expression in the scan stage (no shuffle, no state).
_P6_FRACTION = 0.5
_P6_THRESHOLD = int(_P6_FRACTION * 4294967296)


def p6_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":p6"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return events.filter(u32 < _P6_THRESHOLD).select("event_id", "value")


P6_SAMPLE_HASH_SQL = f"""
SELECT event_id, value
FROM events
WHERE CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':p6'), 1, 8)
                AS UBIGINT) AS BIGINT) < {_P6_THRESHOLD}
"""


# --------------------------------------------------------------------------
# O1+ — deterministic top-k (reference has ORDER BY only, `hive.py:59`;
# top-k is the idiomatic scale-safe variant: per-partition local top-k,
# then a k-row merge on the driver — no global sort of 100 TB).
def topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.select("event_id", "user_id", "value")
        .orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(10)
    )


TOPK_SQL = """
SELECT event_id, user_id, value
FROM events
ORDER BY value DESC, event_id ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# F1-F15 scalar-function suite (reference §2.8) in one projection.
# All JVM-side built-ins — stays inside whole-stage codegen.
def scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.filter(F.col("event_id") < 500).select(
        "event_id",
        # F1 unix_timestamp(ts): timestamp → whole epoch seconds
        F.unix_timestamp("ts").alias("epoch_s"),
        # F3 hour extraction
        F.hour("ts").alias("hr"),
        # F7 case mapping
        F.upper("event_type").alias("type_upper"),
        # F5 rowkey synthesis {entity}_{ts} (reference `insert.py:85`)
        F.concat_ws(
            "_", "event_type", F.col("user_id").cast("string")
        ).alias("rowkey"),
        # F8 timestamp formatting
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        # F4 lenient numeric cast (truncation semantics pinned explicitly)
        F.col("value").cast("int").alias("value_int"),
        # F14 split + arity check (malformed-row filter P7 shape)
        F.size(F.split("props", ":")).alias("n_fields"),
        # F15 arithmetic
        (F.col("value") * 2.0 + 1.0).alias("value_scaled"),
    )


SCALAR_SQL = """
SELECT event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       CAST(hour(ts) AS INTEGER) AS hr,
       upper(event_type) AS type_upper,
       event_type || '_' || CAST(user_id AS VARCHAR) AS rowkey,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       CAST(trunc(value) AS INTEGER) AS value_int,
       CAST(len(string_split(props, ':')) AS INTEGER) AS n_fields,
       value * 2.0 + 1.0 AS value_scaled
FROM events
WHERE event_id < 500
"""


# --------------------------------------------------------------------------
# P8 — per-key debounce (reference `subscriber.py:21-23,111-118`), batch
# form of the stateful streaming operator (streaming/debounce.py). The
# kept-set depends on previously-KEPT rows, so this is inherently a
# sequential per-key scan — grouped-map Pandas, keys parallelized.
# r7: graduated from rows-only to an EXACT oracle — a DuckDB recursive
# CTE replays the scan in the same integer-microsecond arithmetic (the
# EWMA move: recursion over per-key row_number, state = last-accepted
# µs). An event_id tiebreak pins same-timestamp scan order in both
# engines, making the kept-set well-defined instead of shuffle-order-
# dependent. Recursion depth = max events per key — bounded by the
# per-key burst length, not corpus size.
P8_DELAY_US = 3_600_000_000  # 3600 s in µs


def p8_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orionld_to_hive_spark.streaming.debounce import debounce_batch

    events = _t(spark, sf_dir, "events")
    return debounce_batch(
        events.select("event_id", "user_id", "ts", "value"),
        key_col="user_id",
        arrival_col="ts",
        delay_s=3600.0,
        tiebreak_col="event_id",
    )


P8_SQL = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, ts, value, epoch_us(ts) AS t_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
),
scan AS (
  SELECT user_id, event_id, ts, value, t_us, rn,
         TRUE AS kept, t_us AS last_us
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.ts, s.value, s.t_us, s.rn,
         s.t_us - p.last_us >= {P8_DELAY_US} AS kept,
         CASE WHEN s.t_us - p.last_us >= {P8_DELAY_US}
              THEN s.t_us ELSE p.last_us END AS last_us
  FROM seq s JOIN scan p ON s.user_id = p.user_id AND s.rn = p.rn + 1
)
SELECT event_id, user_id, ts, value
FROM scan WHERE kept
"""


# --------------------------------------------------------------------------
# F11 — JSON field extraction (reference pulls values out of NGSI-LD
# JSON payloads, `subscriber.py:55-60`). get_json_object is JVM-side.
def f11_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_id", k.alias("k_val"))
        .groupBy((F.col("k_val") % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k_val").alias("sum_k"))
    )


F11_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k
FROM events
GROUP BY 1
"""


# --------------------------------------------------------------------------
# SQL-surface twin of Q2: the same query expressed as SQL text over a
# catalog view (capability parity with the reference's HiveQL interface,
# `hive.py:55-60`). Its ORDER BY keeps the reference's global sort, where
# q2_hourly_avg sorts its ≤24 rows in one partition.
def q2_hourly_avg_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orionld_to_hive_spark.catalog import register_warehouse

    register_warehouse(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT hour(ts) AS hour_bucket,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value)
                 AS avg_value,
               COUNT(*) AS n
        FROM events
        GROUP BY hour(ts)
        ORDER BY hour_bucket
        """
    )


# --------------------------------------------------------------------------
# spark.sql twins of Q1/Q3/Q4 (Q2's lives above): SURVEY §7 requires
# every flagship query on BOTH the DataFrame API and the SQL-string
# surface (the reference's whole interface is HiveQL text). The SQL
# strings are ANSI enough that the very same text is the DuckDB oracle.
# The twins keep the reference's HiveQL shape: Q3's five-branch UNION ALL
# and Q4's join of two aggregates, where q3_union_cube and q4_join_hourly
# read `events` once on purpose — the twins prove those rewrites equal.
def _sql_on_events(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    from orionld_to_hive_spark.catalog import register_warehouse

    register_warehouse(spark, sf_dir, "events")
    return spark.sql(sql)


def q1_time_filter_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_on_events(spark, sf_dir, Q1_SQL)


def q3_union_cube_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_on_events(spark, sf_dir, Q3_SQL)


def q4_join_hourly_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_on_events(spark, sf_dir, Q4_SQL)


QUERIES = {
    "q1_time_filter": q1_time_filter,
    "q1_time_filter_sql": q1_time_filter_sql,
    "q3_union_cube_sql": q3_union_cube_sql,
    "q4_join_hourly_sql": q4_join_hourly_sql,
    "p8_debounce": p8_debounce,
    "f11_json_extract": f11_json_extract,
    "q2_hourly_avg_sql": q2_hourly_avg_sql,
    "q2_hourly_avg": q2_hourly_avg,
    "q3_union_cube": q3_union_cube,
    "q4_join_hourly": q4_join_hourly,
    "u1_union_all": u1_union_all,
    "p5_dropna": p5_dropna,
    "p6_sample_seeded": p6_sample_seeded,
    "p6_sample_hash": p6_sample_hash,
    "topk_events": topk_events,
    "scalar_suite": scalar_suite,
}

ORACLES = {
    "q1_time_filter": Q1_SQL,
    "q1_time_filter_sql": Q1_SQL,
    "q3_union_cube_sql": Q3_SQL,
    "q4_join_hourly_sql": Q4_SQL,
    "q2_hourly_avg": Q2_SQL,
    "q2_hourly_avg_sql": Q2_SQL,
    "f11_json_extract": F11_SQL,
    "q3_union_cube": Q3_SQL,
    "q4_join_hourly": Q4_SQL,
    "u1_union_all": U1_SQL,
    "p5_dropna": P5_SQL,
    # p6_sample_seeded: engine-specific RNG — rows-only check by design;
    # p6_sample_hash is its exact-oracle hash-threshold twin
    "p6_sample_hash": P6_SAMPLE_HASH_SQL,
    "p8_debounce": P8_SQL,
    "topk_events": TOPK_SQL,
    "scalar_suite": SCALAR_SQL,
}
