"""Temporal join operators: as-of join, range (interval) join, tumbling
and sliding event-time windows.

Beyond-reference capability. The reference's only temporal constructs are
a relative time-range predicate and hour-of-day bucketing (reference
`hive.py:53,56`); a real time-series engine also needs the temporal join
family — these are the operators TimescaleDB/kdb+/Flink users reach for.

Scale stance:
  - The as-of join is implemented with the UNION-tag trick: tag both
    sides, sort within `user_id` partitions, and carry the left side's
    latest attributes forward with `last(ignorenulls)` over an
    unbounded-preceding window. ONE shuffle on the key — no join node at
    all, no per-row subquery, no skew-prone range condition. This is the
    plan you want at 100 TB: cost = sort of (|L|+|R|) within keys.
  - The range join broadcasts the (always small) interval dimension and
    lets Catalyst evaluate the band predicate against the pushed-down
    scan; events never shuffle.
  - Tumbling windows are plain `F.window` bucketing — partial-aggregated
    like any groupBy. Sliding windows expand each row into
    window/slide buckets (2x here) before the same partial agg.

Determinism: at equal (user_id, ts) the click side is deduplicated to
one row (max event_id wins, `max_by`) in BOTH engines, so the as-of
match is unique; gap arithmetic is integer micros divided once in
DOUBLE — a single IEEE-754 division, identical everywhere.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from orionld_to_hive_spark.functions.numeric import davg, dsum, sql_davg, sql_dsum
from orionld_to_hive_spark.sources.warehouse import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --------------------------------------------------------------------------
# As-of join: for every purchase, the same user's latest click at or
# before the purchase timestamp (inner semantics: purchases with no
# prior click are dropped).
def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: tuple[str, ...],
    how: str = "inner",
) -> DataFrame:
    """Generic as-of join: for each `left` row, latest `right` row with
    right.ts <= left.ts within `key`. Returns left columns + right's
    `value_cols` renamed `asof_<col>` + `asof_ts`. how="left" keeps
    left rows with no preceding right row (NULL asof columns), the
    pandas merge_asof default; "inner" drops them.

    UNION-tag plan: one shuffle on `key`, windowed forward-fill, no join.
    `right` must be unique per (key, ts) for a deterministic result.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    lcols = [c for c in left.columns]
    tagged_r = right.select(
        key,
        F.col(ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.col(ts).alias("asof_ts"),
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols if c != key],
    )
    tagged_l = left.select(
        key,
        F.col(ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("timestamp").alias("asof_ts"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"asof_{c}") for c in value_cols],
        *[F.col(c) for c in lcols if c != key],
    )
    # At equal ts the right side sorts first (_side 0 < 1) ⇒ inclusive <=.
    w = (
        W.partitionBy(key)
        .orderBy("_t", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = tagged_r.unionByName(tagged_l).select(
        "*",
        F.last("asof_ts", ignorenulls=True).over(w).alias("_f_ts"),
        *[
            F.last(f"asof_{c}", ignorenulls=True).over(w).alias(f"_f_{c}")
            for c in value_cols
        ],
    )
    out = filled.filter(F.col("_side") == 1)
    if how == "inner":
        out = out.filter(F.col("_f_ts").isNotNull())
    return (
        out
        .select(
            key,
            *[c for c in lcols if c != key],
            F.col("_f_ts").alias("asof_ts"),
            *[F.col(f"_f_{c}").alias(f"asof_{c}") for c in value_cols],
        )
    )


def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    joined = asof_join(
        purchases, clicks, key="user_id", ts="ts", value_cols=("click_value",)
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("asof_ts").alias("click_ts"),
        F.col("asof_click_value").alias("click_value"),
        (
            (F.unix_micros("ts") - F.unix_micros("asof_ts")) / F.lit(1000000.0)
        ).alias("gap_s"),
    )


ASOF_SQL = """
WITH clicks AS (
  SELECT user_id, ts, arg_max(value, event_id) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
       c.ts AS click_ts, c.click_value,
       (epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0 AS gap_s
FROM purchases p ASOF JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


ASOF_TOLERANCE_S = 3600  # attribute a purchase to a click <= 1h before


def asof_tolerance_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """As-of join with TOLERANCE (pandas merge_asof(tolerance=...) /
    attribution-window semantics): each purchase takes the latest
    preceding click only if it happened within ASOF_TOLERANCE_S;
    staler clicks leave the purchase unattributed (NULL click fields,
    attributed = false). Same single-shuffle union-tag core as
    asof_join — the tolerance is one row-local predicate after the
    forward fill, so the plan shape (and the 100 TB story) is
    unchanged."""
    events = _events(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        value_cols=("click_value",),
        how="left",
    )
    gap = (
        F.unix_micros("ts") - F.unix_micros("asof_ts")
    ) / F.lit(1000000.0)
    within = gap <= F.lit(float(ASOF_TOLERANCE_S))
    return joined.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(within, F.col("asof_ts")).alias("click_ts"),
        F.when(within, F.col("asof_click_value")).alias("click_value"),
        F.when(within, gap).alias("gap_s"),
        F.coalesce(within, F.lit(False)).alias("attributed"),
    )


ASOF_TOLERANCE_SQL = f"""
WITH clicks AS (
  SELECT user_id, ts, arg_max(value, event_id) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts, value
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
         c.ts AS click_ts, c.click_value,
         (epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0 AS gap_s
  FROM purchases p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT purchase_id, user_id, purchase_ts,
       CASE WHEN gap_s <= {float(ASOF_TOLERANCE_S)} THEN click_ts END
         AS click_ts,
       CASE WHEN gap_s <= {float(ASOF_TOLERANCE_S)} THEN click_value END
         AS click_value,
       CASE WHEN gap_s <= {float(ASOF_TOLERANCE_S)} THEN gap_s END AS gap_s,
       COALESCE(gap_s <= {float(ASOF_TOLERANCE_S)}, FALSE) AS attributed
FROM j
"""


# --------------------------------------------------------------------------
# Range (interval) join: events falling inside daily 08:00-12:00
# maintenance windows. The interval dim is tiny ⇒ broadcast; the fact
# side never shuffles, and the band predicate is evaluated scan-side.
def _intervals(spark: SparkSession) -> DataFrame:
    rows = [
        (d, datetime(2024, 1, d, 8, 0, 0), datetime(2024, 1, d, 12, 0, 0))
        for d in range(1, 31)
    ]
    return spark.createDataFrame(
        rows, "window_id INT, w_start TIMESTAMP, w_end TIMESTAMP"
    )


def range_join_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    iv = _intervals(spark)
    return (
        events.join(
            F.broadcast(iv),
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
        )
        .groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
    )


RANGE_JOIN_SQL = f"""
WITH iv AS (
  SELECT d::INTEGER AS window_id,
         make_timestamp(2024, 1, d::BIGINT, 8, 0, 0) AS w_start,
         make_timestamp(2024, 1, d::BIGINT, 12, 0, 0) AS w_end
  FROM range(1, 31) t(d)
)
SELECT iv.window_id, COUNT(*) AS n_events, {sql_dsum("e.value")} AS sum_value
FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts < iv.w_end
GROUP BY iv.window_id
ORDER BY iv.window_id
"""


# --------------------------------------------------------------------------
# Tumbling event-time window: 6-hour buckets per event_type — the
# idiomatic Spark form of the reference's GROUP BY hour(ts) (and the
# batch twin of the streaming windowed aggregate).
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    return (
        events.groupBy(
            F.window("ts", "6 hours").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), davg("value", "avg_value"))
    )


TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
       event_type,
       COUNT(*) AS n,
       {sql_davg("value")} AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Sliding event-time window: 12-hour windows sliding by 6 hours. Each
# event expands into windows/slide = 2 buckets (the two candidate
# starts), then the same partial agg as tumbling. The oracle expresses
# the identical expansion as a 2-branch UNION ALL.
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") - F.pmod(F.unix_timestamp("ts"), F.lit(21600)))
    )
    starts = F.array(bucket, bucket - F.expr("INTERVAL 6 HOURS"))
    return (
        events.select(F.explode(starts).alias("window_start"), "event_type", "value")
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), davg("value", "avg_value"))
    )


SLIDING_SQL = f"""
WITH expanded AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '6 hours', ts) - INTERVAL '6 hours', event_type, value
  FROM events
)
SELECT window_start, event_type, COUNT(*) AS n, {sql_davg("value")} AS avg_value
FROM expanded
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Gap-fill: hourly per-type counts over a complete generated hour spine
# (missing hours appear as 0), with the hourly mean value forward-filled
# from the last observed hour. The time-series staple the reference's
# GROUP BY hour silently lacks (empty hours just vanish,
# reference `hive.py:56-58`).
#
# Scale: the spine is GENERATED (sequence + explode over one row per
# type), never scanned; the only big-data pass is the hourly aggregate.
# The forward-fill is one window per type — state bounded by spine
# length, and at 100 TB you'd partition the spine window by (type, day)
# to keep ranges short.
def gapfill_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"), davg("value", "avg_value"))

    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_ff"),
        )
    )


GAPFILL_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         COUNT(*) AS n, {sql_davg("value")} AS avg_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
spine AS (
  SELECT t.event_type, s.hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM bounds) s
)
SELECT spine.event_type, spine.hour,
       COALESCE(hourly.n, 0) AS n,
       last_value(hourly.avg_value IGNORE NULLS) OVER (
         PARTITION BY spine.event_type ORDER BY spine.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_ff
FROM spine LEFT JOIN hourly
  ON spine.event_type = hourly.event_type AND spine.hour = hourly.hour
ORDER BY spine.event_type, spine.hour
"""


# --------------------------------------------------------------------------
# Native session windows: F.session_window(ts, gap) — the built-in twin
# of windows.sessionize_events (lag + cumulative-sum). Sessions close
# after 30 idle minutes per user. In batch this plans as a single
# sort-based aggregation within user partitions; in streaming the same
# expression is state-store-backed with watermark-driven closure — one
# definition, both execution modes (why a Spark-first design beats
# hand-rolled sessionization at 100 TB).
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


SESSION_WINDOW_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessioned AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM ordered
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events, {sql_dsum("value")} AS sum_value
FROM sessioned
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


# --------------------------------------------------------------------------
# Batch twin of the streaming EWMA anomaly scorer (streaming/ewma.py):
# per-user online mean/variance in event order, spikes flagged at 3σ.
# Sequential per key (each score depends on all prior events) ⇒ grouped
# Pandas scan, rows-only driver check; tests pin stream ≡ batch.
def ewma_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.warehouse import load_table
    from orionld_to_hive_spark.streaming.ewma import ewma_batch

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value").filter(
        F.col("value").isNotNull()
    )
    scored = ewma_batch(ev, "user_id", "ts", "value")
    return scored.filter(F.col("is_anomaly")).select(
        "user_id", "ts", "value", F.round("ewma", 6).alias("ewma")
    )


# DuckDB oracle for the recursive EWMA: a recursive CTE replays the
# EXACT float operations of streaming/ewma.py::_ewma_scan in the same
# order (score with prior state, then ewma' = a*x + (1-a)*ewma,
# ewvar' = a*resid^2 + (1-a)*ewvar), so doubles come out bit-identical
# cross-engine. Two things make that exactness possible: (user_id, ts)
# has no duplicates in the testdata (order is total), and the SQL
# computes (1.0 - alpha) instead of folding it to a literal 0.8 —
# 1 - 0.2 != 0.8 in IEEE doubles, and a folded literal would diverge
# from the Python loop after a few iterations.
from orionld_to_hive_spark.streaming.ewma import (  # noqa: E402
    EWMA_ALPHA,
    EWMA_THRESHOLD,
    EWMA_WARMUP,
)

EWMA_SQL = f"""
WITH RECURSIVE ordered AS (
  SELECT user_id, ts, value AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events WHERE value IS NOT NULL
),
scan AS (
  SELECT user_id, ts, x, rn,
         x AS ewma, CAST(0.0 AS DOUBLE) AS ewvar, 1 AS n,
         FALSE AS is_anomaly
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.ts, o.x, o.rn,
         {EWMA_ALPHA!r} * o.x + (1.0 - {EWMA_ALPHA!r}) * s.ewma,
         {EWMA_ALPHA!r} * (o.x - s.ewma) * (o.x - s.ewma)
           + (1.0 - {EWMA_ALPHA!r}) * s.ewvar,
         s.n + 1,
         s.n >= {EWMA_WARMUP}
           AND abs(o.x - s.ewma) > {EWMA_THRESHOLD!r} * sqrt(s.ewvar)
  FROM scan s JOIN ordered o ON o.user_id = s.user_id AND o.rn = s.rn + 1
)
SELECT user_id, ts, x AS value, round(ewma, 6) AS ewma
FROM scan WHERE is_anomaly
"""


# --------------------------------------------------------------------------
def ohlc_bars_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the kdb+/TimescaleDB `ohlc`
    rollup: open/close = first/last value by (ts, event_id), high/low =
    min/max, plus volume (count) and an exact-decimal VWAP-style mean.
    ONE groupBy (map-side combined min_by/max_by carry (value, key)
    pairs, not rows); event_id breaks ts ties so open/close are
    deterministic in both engines."""
    ev = _events(spark, sf_dir)
    # struct ordering key ⇒ SortAggregate (struct buffers are not
    # UnsafeRow-mutable). A DECIMAL(38,0)-packed key (unix_micros·10¹⁰
    # + event_id) flips the plan to a hash aggregate, but the
    # interleaved r13 A/B measured it 0.89× — the per-row wide-decimal
    # arithmetic costs more than the sort it saves at this group
    # cardinality. Deliberately kept as the struct form.
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(
            F.date_trunc("hour", "ts").alias("bar_ts"),
            "event_type",
            "value",
            key.alias("k"),
        )
        .groupBy("bar_ts", "event_type")
        .agg(
            F.min_by("value", F.col("k")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("k")).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            davg("value", "mean_value"),
        )
    )


OHLC_SQL = f"""
WITH ordered AS (
  SELECT date_trunc('hour', ts) AS bar_ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_z
  FROM events
)
SELECT bar_ts, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
       COUNT(*) AS volume,
       {sql_davg("value")} AS mean_value
FROM ordered
GROUP BY bar_ts, event_type
ORDER BY bar_ts, event_type
"""


# --------------------------------------------------------------------------
# SCD2-style validity intervals: each per-user event opens a
# [valid_from, valid_to) state interval closed by the next event; the
# newest row stays open (valid_to NULL, is_current). This is the
# type-2 slowly-changing-dimension view of an event log — the history
# counterpart of `sources/merge.latest_wins`'s type-1 latest state. One
# (user_id) window shuffle; (ts, event_id) ordering makes interval
# boundaries deterministic under timestamp ties.
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


SCD2_SQL = """
SELECT user_id, event_id, event_type, value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, valid_from, event_id
"""


# --------------------------------------------------------------------------
# Linear interpolation over a gap-filled hourly grid — the sibling of
# gapfill_hourly_counts' forward-fill: missing hours get the straight
# line between the surrounding observed hourly means (edges clamp to the
# nearest observed value). Timeseries-warehouse staple (TimescaleDB's
# `interpolate()`, InfluxDB `fill(linear)`) that GROUP BY hour can't
# express.
#
# Scale: identical to the gapfill stance — the spine is generated, the
# only fact-scale pass is the hourly pre-aggregate, and the per-type
# window walks spine rows (time-range-bounded, not data-bounded). The
# neighbor lookup rides ONE window pair per direction: last/first
# ignorenulls over a struct of (epoch, value), so no self-join against
# the observed set. Determinism: hourly means are exact-decimal davg;
# the interpolation weight is an integer-epoch ratio — one deterministic
# double expression, bit-equal to the oracle.
def interpolate_hourly_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    # ONE fact scan: bounds and the type set derive from the already
    # hour-truncated aggregate (date_trunc is monotonic, so min/max of
    # truncated hours == truncated min/max of raw ts), and the tiny
    # |types|x|hours| aggregate is checkpointed so its three consumers
    # (bounds, spine types, grid join) don't each re-scan the fact
    # table — previously 3 scans, measured 1.76 s -> ~1.1 s at sf0.1.
    hourly = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(davg("value", "v"))
        .localCheckpoint(eager=True)
    )
    bounds = hourly.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "hour"
            ),
        )
    )
    grid = spine.join(hourly, ["event_type", "hour"], "left").withColumn(
        "obs",
        F.when(
            F.col("v").isNotNull(),
            F.struct(F.col("hour").cast("long").alias("e"), F.col("v").alias("v")),
        ),
    )
    w_back = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    prev = F.last("obs", ignorenulls=True).over(w_back)
    nxt = F.first("obs", ignorenulls=True).over(w_fwd)
    h = F.col("hour").cast("long")
    interp = F.when(
        prev.isNull(), nxt["v"]
    ).when(
        nxt.isNull(), prev["v"]
    ).when(
        nxt["e"] == prev["e"], prev["v"]
    ).otherwise(
        prev["v"]
        + (nxt["v"] - prev["v"])
        * ((h - prev["e"]) / (nxt["e"] - prev["e"]))
    )
    return (
        grid.select(
            "event_type",
            "hour",
            F.round("v", 6).alias("v_obs"),
            F.round(interp, 6).alias("v_interp"),
            F.col("v").isNull().alias("is_interpolated"),
        )
    )


INTERPOLATE_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, {sql_davg("value")} AS v
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
spine AS (
  SELECT t.event_type, s.hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM bounds) s
),
grid AS (
  SELECT spine.event_type, spine.hour, hourly.v,
         CASE WHEN hourly.v IS NOT NULL THEN
           struct_pack(e := CAST(epoch(spine.hour) AS BIGINT), v := hourly.v)
         END AS obs
  FROM spine LEFT JOIN hourly
    ON spine.event_type = hourly.event_type AND spine.hour = hourly.hour
),
nbrs AS (
  SELECT event_type, hour, v,
         last_value(obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         first_value(obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM grid
)
SELECT event_type, hour,
       ROUND(v, 6) AS v_obs,
       ROUND(CASE
         WHEN prev IS NULL THEN nxt.v
         WHEN nxt IS NULL THEN prev.v
         WHEN nxt.e = prev.e THEN prev.v
         ELSE prev.v + (nxt.v - prev.v) *
              ((CAST(epoch(hour) AS BIGINT) - prev.e) /
               CAST(nxt.e - prev.e AS DOUBLE))
       END, 6) AS v_interp,
       v IS NULL AS is_interpolated
FROM nbrs
ORDER BY event_type, hour
"""


# --------------------------------------------------------------------------
# Time-weighted average — the irregular-series staple (TimescaleDB
# time_weight('locf')): each observation's value is weighted by how
# long it was current, i.e. the gap to the NEXT observation; a plain
# AVG over-weights bursts. One lead() window per user (single user_id
# shuffle, event_id tiebreak pins equal timestamps), then an exact
# aggregate: v·Δt products rounded to 6 dp and decimal-summed
# (order-independent), one double division by the exact span.
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt_us = F.lead(F.unix_micros("ts")).over(w)
    seg = ev.select(
        "user_id",
        "value",
        (nxt_us - F.unix_micros("ts")).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    term = F.round(F.col("value") * F.col("dt_us"), 6).cast("decimal(27,6)")
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dt_us").alias("span_us"),
            (F.sum(term).cast("double") / F.sum("dt_us")).alias("twa"),
        )
        .select(
            "user_id",
            "n_segments",
            "span_us",
            F.round("twa", 6).alias("time_weighted_avg"),
        )
    )


TIME_WEIGHTED_AVG_SQL = """
WITH seg AS (
  SELECT user_id, value,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dt_us
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(dt_us) AS BIGINT) AS span_us,
       round(CAST(SUM(CAST(round(value * dt_us, 6) AS DECIMAL(27,6))) AS DOUBLE)
             / SUM(dt_us), 6) AS time_weighted_avg
FROM seg
WHERE dt_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Log-return volatility — the financial-rollup shape on event streams:
# per type, hourly activity level, log-return between consecutive
# observed hours, then mean/volatility from exact power sums of the
# 9-dp-rounded returns (same moment discipline as stats.py — the
# engine's stddev would flap the oracle). One shuffle for the hourly
# aggregate; the lead() window and moments reuse the (event_type)
# partitioning.
def returns_volatility_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour")
    rets = (
        hourly.withColumn("prev_n", F.lag("n").over(w))
        .filter(F.col("prev_n").isNotNull())
        .select(
            "event_type",
            F.round(F.log(F.col("n") / F.col("prev_n")), 9).alias("r"),
        )
    )
    dec = "decimal(27,12)"
    sums = rets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rets"),
        F.sum(F.col("r").cast(dec)).cast("double").alias("s1"),
        F.sum(F.round(F.col("r") * F.col("r"), 12).cast(dec))
        .cast("double")
        .alias("s2"),
    )
    n = F.col("n_rets").cast("double")
    mean = F.col("s1") / n
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    return sums.select(
        "event_type",
        "n_rets",
        F.round(mean, 6).alias("mean_log_return"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("volatility"),
    )


RETURNS_VOL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
rets AS (
  SELECT event_type,
         round(ln(n::DOUBLE / LAG(n) OVER (PARTITION BY event_type
                                           ORDER BY hour)), 9) AS r
  FROM hourly
  QUALIFY LAG(n) OVER (PARTITION BY event_type ORDER BY hour) IS NOT NULL
),
sums AS (
  SELECT event_type,
         COUNT(*) AS n_rets,
         CAST(SUM(CAST(r AS DECIMAL(27,12))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(round(r * r, 12) AS DECIMAL(27,12))) AS DOUBLE) AS s2
  FROM rets GROUP BY event_type
)
SELECT event_type,
       CAST(n_rets AS BIGINT) AS n_rets,
       round(s1 / CAST(n_rets AS DOUBLE), 6) AS mean_log_return,
       round(sqrt(GREATEST((s2 - s1 * s1 / CAST(n_rets AS DOUBLE))
                           / (CAST(n_rets AS DOUBLE) - 1), 0.0)), 6)
         AS volatility
FROM sums
ORDER BY event_type
"""


QUERIES = {
    "scd2_user_history": scd2_user_history,
    "ewma_anomaly_events": ewma_anomaly_events,
    "ohlc_bars_hourly": ohlc_bars_hourly,
    "asof_click_before_purchase": asof_click_before_purchase,
    "asof_tolerance_click_purchase": asof_tolerance_click_purchase,
    "gapfill_hourly_counts": gapfill_hourly_counts,
    "session_window_stats": session_window_stats,
    "range_join_daily_windows": range_join_daily_windows,
    "tumbling_window_agg": tumbling_window_agg,
    "sliding_window_agg": sliding_window_agg,
    "interpolate_hourly_values": interpolate_hourly_values,
    "time_weighted_avg": time_weighted_avg,
    "returns_volatility_hourly": returns_volatility_hourly,
}

ORACLES = {
    "scd2_user_history": SCD2_SQL,
    "ewma_anomaly_events": EWMA_SQL,
    "ohlc_bars_hourly": OHLC_SQL,
    "asof_click_before_purchase": ASOF_SQL,
    "asof_tolerance_click_purchase": ASOF_TOLERANCE_SQL,
    "gapfill_hourly_counts": GAPFILL_SQL,
    "session_window_stats": SESSION_WINDOW_SQL,
    "range_join_daily_windows": RANGE_JOIN_SQL,
    "tumbling_window_agg": TUMBLING_SQL,
    "sliding_window_agg": SLIDING_SQL,
    "interpolate_hourly_values": INTERPOLATE_SQL,
    "time_weighted_avg": TIME_WEIGHTED_AVG_SQL,
    "returns_volatility_hourly": RETURNS_VOL_SQL,
}
