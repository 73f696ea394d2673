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
    `spark.read.parquet` directly and are unaffected. Keying the cache
    on the session instance (not a module global) ties its lifetime to
    the session, so recreated test sessions never see foreign plans.
    No cached plan depends on the session timezone."""
    return _table(spark, sf_dir, name)[0]


def scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Effective scan-stage parallelism of a table's file layout.

    A parquet ROW GROUP is the unsplittable read unit: a byte-range
    split yields a non-empty task only for row groups whose midpoint
    falls inside it, so a single-file single-row-group table (the
    driver testdata's layout at every sf) scans as ONE task no matter
    what `spark.sql.files.maxPartitionBytes` says. Effective
    parallelism is therefore the TOTAL ROW-GROUP COUNT across the
    table's files, capped by the size-based split count. Footers are
    read once per (sf_dir, table) and memoized on the session (same
    lifetime contract as load_table's plan cache)."""
    cache = getattr(spark, "_graft_split_cache", None)
    if cache is None:
        cache = {}
        spark._graft_split_cache = cache
    key = (os.path.abspath(sf_dir), name)
    if key in cache:
        return cache[key]
    import pyarrow.parquet as pq

    files = _parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
    groups = 0
    total = 0
    for f in files:
        groups += max(1, pq.ParquetFile(f).metadata.num_row_groups)
        total += os.path.getsize(f)
    # Spark packs small files into byte-range splits (maxPartitionBytes,
    # openCostInBytes per file) — a thousand row groups in one 100 MB
    # file still scan as one task. Effective parallelism is the
    # smaller of the two limits.
    max_split = 128 << 20
    open_cost = 4 << 20
    size_splits = max(1, (total + open_cost * len(files)) // max_split)
    cache[key] = min(groups, int(size_splits))
    return cache[key]


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of an (immutable, unfiltered) warehouse table
    from parquet footer metadata — what `df.count()` computes with a
    full scan job. Used where a query needs |table| as a scalar (e.g.
    SemDeDup's k = n // target): one fewer driver-synchronous job,
    same number, and DuckDB's reader derives the same value from the
    same footers. Cached alongside the split counts."""
    cache = getattr(spark, "_graft_rows_cache", None)
    if cache is None:
        cache = {}
        spark._graft_rows_cache = cache
    key = (os.path.abspath(sf_dir), name)
    if key in cache:
        return cache[key]
    import pyarrow.parquet as pq

    files = _parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
    cache[key] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return cache[key]


def table_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """On-disk byte size of a warehouse table (sum of its parquet data
    files, the same listing a Spark scan resolves). Metadata, not a
    job — used as the scale gate for size-bounded in-query caches
    (e.g. the exact-substr gram stream: cache when the corpus is
    provably small, recompute when it is not)."""
    cache = getattr(spark, "_graft_bytes_cache", None)
    if cache is None:
        cache = {}
        spark._graft_bytes_cache = cache
    key = (os.path.abspath(sf_dir), name)
    if key in cache:
        return cache[key]
    files = _parquet_files(os.path.join(sf_dir, f"{name}.parquet"))
    cache[key] = sum(os.path.getsize(f) for f in files)
    return cache[key]


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
    """A fact-table scan with LAYOUT-ADAPTIVE parallelism (r13, guide
    §2.5 input skew): when the table's file layout cannot feed at
    least defaultParallelism scan tasks (the local corpus is one
    parquet file with one row group — every scan stage in the engine
    otherwise runs on a single core), round-robin-spread the projected
    scan output across the session's cores. On a layout with real
    splits (many files / row groups — any production table) the
    condition is false and NO exchange is injected, so this is not a
    local[32] constant: it is derived from the input, which is what
    makes it honest at 100 TB. Projection happens before the exchange
    (guide §2.3 — only the used columns cross).

    r14 (VERDICT r13 item 7): the fan-out is size-capped at one task
    per _SPREAD_MIN_ROWS_PER_TASK rows — a tiny frame (the XPath
    chain's sub-hundred-row inputs at small SFs) no longer schedules
    defaultParallelism near-empty tasks. The cap binds only below
    par·_SPREAD_MIN_ROWS_PER_TASK rows (256 rows at local[32]), far
    under any frame whose per-row work made the spread pay, so every
    r13 keep-decision is unchanged."""
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
    22 s → 2.8 s at sf0.1 from this exchange alone; the r12 audit
    found every non-codec walker query paying the same single-task
    tax). On a real cluster the input already has file-split
    parallelism and the tiny round-robin exchange (the projected
    doc_id+text columns) is noise next to the per-row Python work —
    while HERE it buys the full defaultParallelism fan-out.

    r13 optimization note (guide §2.4): walker queries downstream of
    this spread used to end in `.orderBy("asset_id")` — a
    presentation-only total sort. Its RangePartitioning exchange
    samples partition bounds with a SEPARATE job that re-executes the
    narrow mapInPandas stage above the round-robin shuffle, i.e. the
    whole Python walk ran TWICE per action, plus the sort shuffle
    itself. The driver's value hash and the in-repo oracle diff are
    order-insensitive, so the sorts were dropped fleet-wide; at
    100 TB a total sort of walker output is exactly the accidental
    Exchange the guide says to remove.

    r13: routed through `load_spread`, so the exchange is injected
    only when the file layout actually starves the cores (always true
    for the local corpus, never for a production many-file table)."""
    return load_spread(spark, sf_dir, "documents", *(cols or ("doc_id", "text")))


def _table(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, DataFrame, tuple[str, ...]]:
    """(table, raw scan, nanos columns), memoized on the session. The
    raw scan still holds the nanos columns as int64 nanos; without any,
    it is the table itself."""
    cache = getattr(spark, "_graft_table_cache", None)
    if cache is None:
        cache = {}
        spark._graft_table_cache = cache
    key = (os.path.abspath(sf_dir), name)
    if key not in cache:
        cache[key] = _read_table(spark, sf_dir, name)
    return cache[key]


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


def compact_table(
    spark: SparkSession,
    path: str,
    sort_col: str | None = None,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-files compaction: rewrite a parquet table into
    ceil(total_bytes / target) files, preserving (or establishing)
    clustering on `sort_col`. Returns the new file count.

    Streaming ingest (S4) appends one file per micro-batch — after a
    day a 100 TB warehouse holds millions of KB-sized files and scan
    planning, not IO, dominates query time. Compaction = one job:
    repartitionByRange on the sort key (range partitioning keeps each
    output file a contiguous key range ⇒ parquet min/max row-group
    skipping stays effective) + sortWithinPartitions, written to a
    temp location then swapped in. On an object store the swap is a
    metastore location flip rather than a rename; the rewrite job is
    identical.
    """
    import math
    import shutil

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
        for f in df.inputFiles()
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    out = (
        df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col)
        if sort_col
        else df.repartition(n_files)
    )
    tmp = path.rstrip("/") + ".compact-tmp"
    out.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_files


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
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...],
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Idempotent partition backfill: overwrite ONLY the partitions
    present in `df`, leave every other partition untouched (dynamic
    partition-overwrite mode — static mode would truncate the whole
    table). This is how a 100 TB warehouse re-processes one bad
    day/room without rewriting history; re-running the same backfill
    is a no-op semantically (same input → same partition contents)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out = df
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
