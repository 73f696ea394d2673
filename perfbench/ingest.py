"""`sensor_ingest`: both write paths of the pipeline, repeated in cycles on
a fresh table each time: the `insert.py` batch load, latest-wins
corrections and a read-back, then the `subscriber.py` notification stream.

One cycle: `batch_csv.ingest_measurements` over 18 generated
`{Room}_{Sensor}.csv` files, `catalog.create_readings_table` over the
result, every correction batch in order through `merge.merge_upsert`,
READS_PER_CYCLE runs of the paper's Q2 shape in SQL over the table just
written, and one `available_now` drain of a backlog of NGSI-LD
notification files through `streaming.ingest.start_ingest`. Row counts
are checked against the generator's tallies, the post-merge table
against the generator's expected latest-wins state, each read-back
against the same state, and the drained table against the notifications
(see perfbench/stream.py)."""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.check import diff, normalize
from perfbench.runtime import Context, timed_setups, tree_cpu_s
from perfbench.stats import median, sum_of_medians
from perfbench.stream import Backlog, ProgressLog, record_drain
from perfbench.tracing import job_counts, plan_metrics

ROWS_PER_FILE = 4_000  # 18 files, 72K readings
BAD_PER_KIND = 6  # blank, garbage and non-numeric lines per file
N_BATCHES = 2  # merged in order, every cycle
UPDATES_PER_BATCH = 1_200
INSERTS_PER_BATCH = 300
ROOMS_PER_BATCH = 2
READS_PER_CYCLE = 3
DRAIN_FILES = 32  # notification files of 100 in the drained backlog
WARMUP_ROWS_PER_FILE = 200  # the tiny input ingested in each setup round
# The CPU time of a merge falls over its first three or four runs, until
# the JVM has compiled the full-size code paths; timing starts after
# this many untimed cycles.
WARM_CYCLES = 2
MIN_CYCLES = 2  # measured, so each step's median has two samples or more
TABLE = "readings"
WRITE_STEPS = ("ingest", "merge", "drain")  # the steps that count toward rows written


def q2_sql() -> str:
    from orionld_to_hive_spark.functions.numeric import sql_davg

    return (
        "SELECT CAST(hour(ts) AS INT) AS hour_bucket, "
        f"{sql_davg('temperature')} AS avg_temperature, COUNT(*) AS n "
        f"FROM {TABLE} GROUP BY 1 ORDER BY 1"
    )


def expected_q2(state: dict) -> tuple:
    """Q2 over a readings state, in the same exact-decimal arithmetic."""
    cents: dict[int, int] = {}
    temps: dict[int, int] = {}
    rows: dict[int, int] = {}
    for _, t, _, _, epoch in state.values():
        h = (epoch // 3600) % 24
        rows[h] = rows.get(h, 0) + 1
        if t is not None:
            cents[h] = cents.get(h, 0) + round(t * 100)
            temps[h] = temps.get(h, 0) + 1
    out = [
        (h, float(Decimal(cents[h]) / 100) / temps[h] if temps.get(h) else None, rows[h])
        for h in rows
    ]
    return normalize(["hour_bucket", "avg_temperature", "n"], out)


def table_state(path: str) -> list:
    """The table's rows as sorted (entityid, *reading) tuples."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    ts = t.column("ts")
    per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.type.unit]
    epoch = pc.divide(ts.cast(pa.int64()), per_s)
    cols = [t.column(c).to_pylist() for c in ("entityid", "room", "temperature", "humidity", "brightness")]
    return sorted(zip(*cols, epoch.to_pylist()))


def expected_state(state: dict) -> list:
    return sorted((k, *v) for k, v in state.items())


def data_files(path: str) -> dict[str, int]:
    """path -> size of every parquet data file a scan of `path` reads."""
    out = {}
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def run(ctx: Context) -> dict:
    from orionld_to_hive_spark import catalog
    from orionld_to_hive_spark.sources import batch_csv, merge

    t = ctx.tracer
    with ctx.phase("gen"):
        tallies = gen.write_measurements(ctx.path("measurements"), ctx.seed, ROWS_PER_FILE, BAD_PER_KIND)
        batches, states = gen.write_corrections(
            ctx.path("corrections"), ctx.seed + 1, tallies, N_BATCHES,
            UPDATES_PER_BATCH, INSERTS_PER_BATCH, ROOMS_PER_BATCH,
        )
        warm_tallies = gen.write_measurements(
            ctx.path("warmup"), ctx.seed + 2, WARMUP_ROWS_PER_FILE, BAD_PER_KIND)
        backlog = Backlog(ctx, "backlog", ctx.seed + 3, DRAIN_FILES)
    sql = q2_sql()
    want_state = expected_state(states[-1])
    want_q2 = expected_q2(states[-1])
    batch_rows = {p: pq.read_metadata(p).num_rows for p in batches}
    samples: dict[str, list[float]] = {"ingest": [], "merge": [], "read": [], "drain": []}
    cpu: dict[str, list[float]] = {k: [] for k in samples}
    rows_written = [0]  # over the measured cycles' write steps
    stored: list[float] = []
    tables = [0]
    progress = ProgressLog() if t.enabled else None

    def job_group(spark, measured: bool) -> str | None:
        if not (t.enabled and measured):
            return None
        group = f"perfbench-{t.new_op()}"
        spark.sparkContext.setJobGroup(group, "sensor_ingest")
        return group

    @contextmanager
    def step(name: str, measured: bool):
        """Record the wall and CPU seconds of the block as one `name` sample."""
        if measured:
            ctx.probe()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        yield
        if measured:
            samples[name].append(time.perf_counter() - t0)
            cpu[name].append(tree_cpu_s() - c0)

    def ingest(spark, src_dir: str, tal, measured: bool) -> str:
        """Batch ingest until queryable, into a fresh table; returns its directory."""
        tables[0] += 1
        out = ctx.path("warehouse", f"readings_{tables[0]}")
        group = job_group(spark, measured)
        with step("ingest", measured):
            t0 = time.perf_counter()
            with t.span("batch_csv.ingest_measurements"):
                batch_csv.ingest_measurements(spark, os.path.join(src_dir, "*.csv"), out, sample_fraction=1.0)
            t1 = time.perf_counter()
            with t.span("catalog.create_readings_table"):
                catalog.create_readings_table(spark, TABLE, out)
            t2 = time.perf_counter()
        n_rows = ds.dataset(out, format="parquet", partitioning="hive").count_rows()
        ctx.gate.expect_equal("ingest.rows_written", tal.rows_valid, n_rows)
        if measured:
            rows_written[0] += n_rows
        if group:
            with t.collecting():
                _, tasks = job_counts(spark.sparkContext, group)
            files = data_files(out)
            t.record("batch_csv.ingest_s", t1 - t0)
            t.record("batch_csv.rows_in", tal.rows_in)
            t.record("batch_csv.rows_written", n_rows)
            t.record("batch_csv.rows_malformed", tal.rows_in - n_rows)
            t.record("batch_csv.tasks", tasks)
            t.record("warehouse.files_written", len(files))
            t.record("warehouse.bytes_written", sum(files.values()))
            t.record("catalog.create_readings_table_s", t2 - t1)
        ctx.sample_rss()
        return out

    def drop(spark, out: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
        shutil.rmtree(out)

    def cycle(spark, measured: bool) -> None:
        out = ingest(spark, ctx.path("measurements"), tallies, measured)
        for path in batches:
            before = data_files(out) if t.enabled else {}
            group = job_group(spark, measured)
            with step("merge", measured), t.span("merge.merge_upsert"):
                touched = merge.merge_upsert(
                    out, spark.read.parquet(path), ("entityid",), "ts", ("room",))
                spark.sql(f"REFRESH TABLE {TABLE}")
            if measured:
                rows_written[0] += batch_rows[path]
            if group:
                with t.collecting():
                    jobs, _ = job_counts(spark.sparkContext, group)
                after = data_files(out)
                new_bytes = sum(v for k, v in after.items() if k not in before)
                t.record("merge.partitions_rewritten", touched)
                t.record("merge.bytes_rewritten_per_update_byte", new_bytes / os.path.getsize(path))
                t.record("merge.files_after", len(after))
                t.record("merge.jobs", jobs)
            ctx.sample_rss()
        ctx.gate.record("merge.state", None if table_state(out) == want_state else
                        "table after merges differs from the expected latest-wins state")
        if measured:
            stored.append(sum(data_files(out).values()) / len(want_state))
        for _ in range(READS_PER_CYCLE):
            with step("read", measured), t.span("readings.q2"):
                df = spark.sql(sql)
                rows = df.collect()
            ctx.gate.record("readings.q2", diff(want_q2, normalize(df.columns, rows)))
            if t.enabled and measured:
                with t.collecting():
                    pm = plan_metrics(df)
                t.record("readings.files_read", pm["files_read"])
                t.record("readings.bytes_read", pm["bytes_read"])
            ctx.sample_rss()
        drop(spark, out)
        with step("drain", measured):
            query, out = backlog.drain(spark)
        backlog.check(out)
        if measured:
            rows_written[0] += backlog.notifications
            if progress:
                record_drain(ctx, progress, query, out, backlog.notifications)
        ctx.sample_rss()

    def setup_once(spark) -> None:
        # warm-up: the tiny input through ingest until queryable
        drop(spark, ingest(spark, ctx.path("warmup"), warm_tallies, False))

    spark = timed_setups(ctx, setup_once)
    if progress:
        spark.streams.addListener(progress.listener)
    with ctx.phase("warm_pass"):
        for _ in range(WARM_CYCLES):
            cycle(spark, False)
    # whole cycles, started until --seconds have passed
    deadline = time.perf_counter() + ctx.seconds
    with ctx.phase("measure"):
        while len(samples["ingest"]) < MIN_CYCLES or time.perf_counter() < deadline:
            cycle(spark, True)
    if progress:
        spark.streams.removeListener(progress.listener)
    p50 = {k: median(v) for k, v in samples.items()}
    rows_per_s = rows_written[0] / sum(sum(samples[k]) for k in WRITE_STEPS)
    return {
        "mix_cpu_s": sum_of_medians(cpu),
        "report": {
            "write_rows_per_s": rows_per_s,
            "ingest_rows_per_s": tallies.rows_valid / p50["ingest"],
            "ingest_p50_s": p50["ingest"],
            "merge_p50_s": p50["merge"],
            "readings_q2_p50_s": p50["read"],
            "drain_notifs_per_s": backlog.notifications / p50["drain"],
            "drain_p50_s": p50["drain"],
            "stored_bytes_per_row": median(stored),
            "mix_latency_s": sum_of_medians(samples),
            "cycles": len(samples["ingest"]),
        },
    }
