"""Parquet warehouse access.

Replaces the reference's HBase-store + Hive-external-table pair
(reference `hive.py:31-44`, `insert.py:83-95`): the engine's persistent
format is columnar parquet, which gives Catalyst predicate pushdown,
column pruning, and min/max row-group skipping that the reference's
string-cell HBase scan could never have (SURVEY.md §4).

Also normalizes physical-format variation in the driver testdata's
`events.ts` across regenerations, so every downstream operator (epoch
math via unix_micros, range frames, window() buckets) sees one TIMESTAMP
type with values identical to what DuckDB's reader produces:
  - TIMESTAMP(MICROS) without UTC adjustment (r2 onward; Spark infers
    TIMESTAMP_NTZ) is typed TIMESTAMP at the scan, the way a Hive
    external table types its stored cells on read. The reader keeps the
    stored µs, so no per-row conversion runs.
  - INT64 TIMESTAMP(NANOS) (r1; Spark's vectorized reader rejects it) is
    read as long via legacy conf and truncated to µs per row.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Timestamp columns whose physical encoding varies across testdata
# regenerations (INT64 nanos / µs without UTC adjustment); loaded as
# TIMESTAMP.
_NORM_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one warehouse table; variant timestamp columns load as
    TIMESTAMP (naive µs retyped at the scan, nanos converted per row).

    The resolved DataFrame (an immutable logical plan) is memoized on
    the session object: `spark.read.parquet` costs ~100 ms of
    driver-side file listing + footer schema read per call, a fixed tax
    on every plan build that repeats for every table of every query
    (and every bench repetition). Warehouse tables are immutable for a
    session's lifetime (static testdata / generated ladder replicas),
    so the cached plan can never go stale; writers that produce
    mutable tables (merge, snapshots, incremental) use
    `spark.read.parquet` directly and are unaffected. Keying the memo
    on the session instance (not a module global) ties its lifetime to
    the session, so recreated test sessions never see foreign plans.
    The same memo holds each table's file facts (`scan_splits`,
    `table_rows`, `table_bytes`). No cached plan depends on the session
    timezone."""
    return _table(spark, sf_dir, name)[0]


def scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Effective scan-stage parallelism of a table's file layout.

    A parquet ROW GROUP is the unsplittable read unit: a byte-range
    split yields a non-empty task only for row groups whose midpoint
    falls inside it, so a single-file single-row-group table (the
    driver testdata's layout at every sf) scans as ONE task no matter
    what `spark.sql.files.maxPartitionBytes` says. Effective
    parallelism is therefore the TOTAL ROW-GROUP COUNT across the
    table's files, capped by the size-based split count. Read from the
    table's memoized file facts."""
    facts = _file_facts(spark, sf_dir, name)
    # Spark packs small files into byte-range splits (maxPartitionBytes,
    # openCostInBytes per file) — a thousand row groups in one 100 MB
    # file still scan as one task. Effective parallelism is the
    # smaller of the two limits.
    max_split = 128 << 20
    open_cost = 4 << 20
    size_splits = max(1, (facts.bytes + open_cost * facts.files) // max_split)
    return min(facts.row_groups, size_splits)


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of an (immutable, unfiltered) warehouse table
    from parquet footer metadata — what `df.count()` computes with a
    full scan job. Used where a query needs |table| as a scalar (e.g.
    SemDeDup's k = n // target): one fewer driver-synchronous job,
    same number, and DuckDB's reader derives the same value from the
    same footers. Read from the table's memoized file facts."""
    return _file_facts(spark, sf_dir, name).rows


def table_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """On-disk byte size of a warehouse table (sum of its parquet data
    files, the same listing a Spark scan resolves). Metadata, not a
    job — used as the scale gate for size-bounded in-query caches
    (e.g. the exact-substr gram stream: cache when the corpus is
    provably small, recompute when it is not)."""
    return _file_facts(spark, sf_dir, name).bytes


class _FileFacts(NamedTuple):
    files: int
    row_groups: int  # a file without row groups still costs one task
    rows: int
    bytes: int


def _memo(spark: SparkSession, kind: str, sf_dir: str, name: str, build):
    """`build(spark, sf_dir, name)`, memoized on the session per
    (kind, absolute dir, table) — the lifetime contract of `load_table`."""
    memo = getattr(spark, "_graft_warehouse_memo", None)
    if memo is None:
        memo = spark._graft_warehouse_memo = {}
    key = (kind, os.path.abspath(sf_dir), name)
    if key not in memo:
        memo[key] = build(spark, sf_dir, name)
    return memo[key]


def _file_facts(spark: SparkSession, sf_dir: str, name: str) -> _FileFacts:
    return _memo(spark, "files", sf_dir, name, _read_file_facts)


def _read_file_facts(spark, sf_dir, name) -> _FileFacts:
    # one listing and one footer read per file
    import pyarrow.parquet as pq

    files = _parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
    metas = [pq.ParquetFile(f).metadata for f in files]
    return _FileFacts(
        files=len(files),
        row_groups=sum(max(1, m.num_row_groups) for m in metas),
        rows=sum(m.num_rows for m in metas),
        bytes=sum(os.path.getsize(f) for f in files),
    )


def _parquet_files(path: str) -> list[str]:
    """Every data file a Spark scan of `path` would read: RECURSIVE
    walk (partitioned/nested layouts nest part files under key=value
    dirs — a non-recursive listdir silently undercounted them to 0,
    ADVICE r13), `_`/`.`-prefixed sidecars (_SUCCESS, _metadata,
    .crc) excluded exactly as Spark's InMemoryFileIndex hides them.
    Raises on an empty listing instead of letting footer-derived
    row/split counts silently diverge from what df.count() would say."""
    if not os.path.isdir(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files.extend(
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    if not files:
        raise FileNotFoundError(
            f"no parquet data files under {path} — footer metadata "
            "cannot stand in for the table"
        )
    return sorted(files)


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, *cols: str
) -> DataFrame:
    """A fact-table scan with LAYOUT-ADAPTIVE parallelism (input
    skew): when the table's file layout cannot feed at least
    defaultParallelism scan tasks (the local corpus is one parquet file
    with one row group — every scan stage in the engine otherwise runs
    on a single core), round-robin-spread the projected scan output
    across the session's cores. On a layout with real splits (many
    files / row groups — any production table) the condition is false
    and NO exchange is injected, so this is not a local[32] constant:
    it is derived from the input, which is what makes it honest at
    100 TB. Projection happens before the exchange, so only the used
    columns cross.

    The fan-out is size-capped at one task per
    _SPREAD_MIN_ROWS_PER_TASK rows, so a tiny frame (the XPath chain's
    sub-hundred-row inputs at small SFs) does not schedule
    defaultParallelism near-empty tasks. The cap binds only below
    par·_SPREAD_MIN_ROWS_PER_TASK rows (256 rows at local[32]), far
    under any frame whose per-row work made the spread pay."""
    df = load_table(spark, sf_dir, name)
    if cols:
        df = df.select(*cols)
    par = spark.sparkContext.defaultParallelism
    splits = scan_splits(spark, sf_dir, name)
    if splits < par:
        rows = table_rows(spark, sf_dir, name)
        target = min(
            par, max(1, rows // _SPREAD_MIN_ROWS_PER_TASK)
        )
        if target > splits:
            df = df.repartition(target)
    return df


# Below this many rows per would-be task the round-robin exchange
# schedules more tasks than it feeds meaningfully; 8 keeps the cap
# far from every measured spread win (documents is 5000 rows at
# sf0.1 — 156 rows/task — and the codec walkers' per-row decode work
# dwarfs task overhead at ANY row count above single digits).
_SPREAD_MIN_ROWS_PER_TASK = 8


def load_docs_spread(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """`documents` projected to `cols` and round-robin-spread across
    the session's cores — the input stage for every CPU-bound Python
    walker/codec (`mapInPandas` fixture-synthesis + parse queries).

    Why: the local corpus arrives as ONE parquet split, which pins a
    whole Python stage to a single worker (the jpeg codec measured
    22 s → 2.8 s at sf0.1 from this exchange alone, and every
    non-codec walker query paid the same single-task tax). On a real
    cluster the input already has file-split parallelism and the tiny
    round-robin exchange (the projected doc_id+text columns) is noise
    next to the per-row Python work — while HERE it buys the full
    defaultParallelism fan-out. Through `load_spread`, the exchange is
    injected only when the file layout actually starves the cores
    (always true for the local corpus, never for a production
    many-file table).

    Walker output downstream of this spread is not globally sorted: a
    RangePartitioning exchange samples partition bounds with a
    SEPARATE job that re-executes the narrow mapInPandas stage above
    the round-robin shuffle, so the whole Python walk would run TWICE
    per action, plus the sort shuffle itself. The result hash of the
    `__spark_entry__` contract and the in-repo oracle diff are
    order-insensitive."""
    return load_spread(spark, sf_dir, "documents", *(cols or ("doc_id", "text")))


def _table(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, DataFrame, tuple[str, ...]]:
    """(table, raw scan, nanos columns), memoized on the session. The
    raw scan still holds the nanos columns as int64 nanos; without any,
    it is the table itself."""
    return _memo(spark, "plan", sf_dir, name, _read_table)


def _read_table(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    norm_cols = _NORM_TS_COLS.get(name, ())
    if norm_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(path)
    dtypes = dict(raw.dtypes)
    ntz = {c for c in norm_cols if dtypes.get(c) == "timestamp_ntz"}
    if ntz:
        # Spark reads the stored naive µs into TIMESTAMP unchanged: the
        # instant whose UTC wall time is the naive value, what DuckDB's
        # epoch_us computes, under any session timezone.
        raw = spark.read.schema(
            T.StructType(
                [
                    T.StructField(f.name, T.TimestampType(), f.nullable)
                    if f.name in ntz
                    else f
                    for f in raw.schema
                ]
            )
        ).parquet(path)
    nanos = tuple(c for c in norm_cols if dtypes.get(c) == "bigint")
    return _micros_of_nanos(raw, nanos), raw, nanos


def _micros_of_nanos(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    # nanos → micros, truncating like DuckDB's reader does.
    for c in cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def load_time_range(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    lower_iso: str | None = None,
    upper_iso: str | None = None,
) -> DataFrame:
    """Time-range scan that keeps the predicate pushable.

    A filter on a column stored as int64 nanos would be a filter on the
    conversion, which cannot reach the parquet scan. Instead it is
    phrased against the raw nanos (exact: floor(ns/1000) >= B·10⁶ ⟺
    ns >= B·10⁹ for whole-second B), which Catalyst lists in the scan's
    PushedFilters, and the conversion happens above the filtered scan.
    Every other timestamp column, the retyped naive ones included, is
    TIMESTAMP at the scan and gets the direct pushable comparison.

    Known limit: Spark 4.1.2 skips no parquet row group for a predicate
    on a column stored without UTC adjustment, even read as TIMESTAMP,
    so such a scan still reads every row group and filters row by row.
    """
    from datetime import datetime, timezone

    def _nanos(iso: str) -> int:
        dt = datetime.fromisoformat(iso).replace(tzinfo=timezone.utc)
        return int(dt.timestamp()) * 1_000_000_000 + dt.microsecond * 1000

    df, raw, nanos = _table(spark, sf_dir, name)
    if ts_col in nanos:
        if lower_iso is not None:
            raw = raw.filter(F.col(ts_col) >= F.lit(_nanos(lower_iso)))
        if upper_iso is not None:
            raw = raw.filter(F.col(ts_col) < F.lit(_nanos(upper_iso)))
        return _micros_of_nanos(raw, nanos)
    # boundary literals are UTC instants — build them from epoch micros so
    # a non-UTC session timezone cannot shift the cut points
    if lower_iso is not None:
        df = df.filter(
            F.col(ts_col) >= F.timestamp_micros(F.lit(_nanos(lower_iso) // 1000))
        )
    if upper_iso is not None:
        df = df.filter(
            F.col(ts_col) < F.timestamp_micros(F.lit(_nanos(upper_iso) // 1000))
        )
    return df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
    sort_cols: tuple[str, ...] = (),
    mode: str = "append",
) -> None:
    """Warehouse sink (stands in for reference S3/S4 HBase puts).

    With partition columns, rows are rebalanced on them (a `rebalance`
    hint: each partition value goes to one reducer, and AQE splits a
    value larger than the advisory partition size) and sorted by
    `(*partition_cols, *sort_cols)` within each task. The partition
    prefix meets the partitioned writer's own required ordering, so
    Spark adds no sort of its own that would drop the sort-key order,
    and each file is sorted on the sort key. That sort is the Spark
    equivalent of the reference's rowkey clustering
    (`{entity}_{timestamp}` keys, reference `insert.py:85`). Parquet
    min/max row-group skipping on a timestamp sort key needs INT64
    timestamps (`TIMESTAMP_MICROS`, set in `session.get_spark`); INT96
    columns carry no usable statistics.
    """
    out = df
    if partition_cols:
        out = out.hint("rebalance", *partition_cols)
    if partition_cols or sort_cols:
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    writer = out.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: tuple[str, ...]
) -> None:
    """Idempotent partition backfill: overwrite ONLY the partitions
    present in `df`, leave every other partition untouched (dynamic
    partition-overwrite mode — static mode would truncate the whole
    table). This is how a 100 TB warehouse re-processes one bad
    day/room without rewriting history; re-running the same backfill
    is a no-op semantically (same input → same partition contents).
    The mode is a per-write option, so the session conf is untouched
    and a concurrent static overwrite keeps its static semantics."""
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(*partition_cols).parquet(path)
