"""The streaming step of `sensor_ingest`: a backlog of NGSI-LD notification
files drained through `streaming.ingest.start_ingest` with `available_now`,
each drain into a fresh table and checkpoint.

Every notification must land exactly once: per-room counts and
temperature sums of the warehouse are checked against the generator's.
Traced runs collect `StreamingQueryProgress` events into the stream.*
per-layer metrics."""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow.dataset as ds

from perfbench import gen
from perfbench.runtime import Context
from perfbench.stats import median

PER_FILE = 100  # notifications per file


class ProgressLog:
    """Collects StreamingQueryProgress events (as parsed JSON) by run id."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []
        self._lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log._lock:
                    log.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def batches(self, run_id: str) -> list[dict]:
        with self._lock:
            return [e for e in self.events if e["runId"] == run_id and e["numInputRows"] > 0]

    def wait_rows(self, run_id: str, rows: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress events arrive asynchronously; wait until the data
        batches account for `rows` input rows."""
        deadline = time.monotonic() + timeout_s
        while True:
            got = self.batches(run_id)
            if sum(e["numInputRows"] for e in got) >= rows or time.monotonic() > deadline:
                return got
            time.sleep(0.02)


class Backlog:
    """A directory of `n_files` notification files, drained again and again."""

    def __init__(self, ctx: Context, name: str, seed: int, n_files: int) -> None:
        self.ctx = ctx
        self.name = name
        self.in_dir = ctx.path(f"{name}_in")
        self.notifications = n_files * PER_FILE
        files, self.tallies = gen.notification_files(seed, n_files, PER_FILE, name)
        due = gen.iso_ms(1_704_067_200 + seed % 86_400)
        os.makedirs(self.in_dir)
        for nf in files:
            gen.drop_file(self.in_dir, nf, due)
        self.drains = 0

    def drain(self, spark):
        """One `available_now` drain into a fresh table; returns the
        finished query and the table's directory."""
        from orionld_to_hive_spark.streaming import ingest

        self.drains += 1
        out = self.ctx.path(f"{self.name}_out_{self.drains}")
        ckpt = self.ctx.path(f"{self.name}_ckpt_{self.drains}")
        with self.ctx.tracer.span("streaming.ingest.start_ingest"):
            q = ingest.start_ingest(spark, self.in_dir, out, ckpt, available_now=True)
            q.awaitTermination()
        return q, out

    def check(self, out: str) -> None:
        table = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["room", "temperature"])
        got: dict[str, list[float]] = {}
        for room, temp in zip(table.column("room").to_pylist(), table.column("temperature").to_pylist()):
            c = got.setdefault(room, [0, 0.0])
            c[0] += 1
            c[1] += temp
        want = {r: v for r, v in self.tallies.items() if v[0]}
        self.ctx.gate.record(f"stream.{self.name}", None if got == want else
                             f"per-room [count, sum] {got} != {want}")


def record_drain(ctx: Context, progress: ProgressLog, query, out: str, notifications: int) -> None:
    """stream.* per-layer metrics of one drain, from its data micro-batches
    and the files it wrote."""
    batches = progress.wait_rows(query.runId, notifications)
    dur = [b["durationMs"] for b in batches]

    def p50(*keys):
        return median([sum(d.get(k, 0) for k in keys) / 1000 for d in dur])

    t = ctx.tracer
    t.record("stream.batches", len(batches))
    t.record("stream.rows_per_batch_p50", median([b["numInputRows"] for b in batches]))
    t.record("stream.trigger_p50_s", p50("triggerExecution"))
    t.record("stream.add_batch_p50_s", p50("addBatch"))
    t.record("stream.plan_p50_s", p50("queryPlanning", "getBatch"))
    t.record("stream.wal_p50_s", p50("walCommit", "commitOffsets"))
    t.record("stream.latest_offset_p50_s", p50("latestOffset"))
    files = ds.dataset(out, format="parquet", partitioning="hive").files
    t.record("stream.files_written", len(files))
    t.record("stream.bytes_written_per_notif", sum(os.path.getsize(f) for f in files) / notifications)
