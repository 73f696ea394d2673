"""`sensor_queries`: one closed-loop client collecting the paper's parity
operators round-robin, in seeded order, over a generated `events` table.

Read-only: the operators, `functions.numeric` and the warehouse read
path do the work. Every collected result is compared against the
operator's DuckDB oracle from `registry.all_oracles()`."""

from __future__ import annotations

import random
import time

import duckdb

from perfbench import gen
from perfbench.check import diff, normalize
from perfbench.runtime import Context, timed_setups, tree_cpu_s
from perfbench.stats import median, sum_of_medians
from perfbench.tracing import job_counts, plan_metrics

# operator -> short name used in metric names
OPERATORS = {
    "q1_time_filter": "q1",
    "q2_hourly_avg": "q2",
    "q3_union_cube": "q3",
    "q4_join_hourly": "q4",
    "f11_json_extract": "f11",
    "p8_debounce": "p8",
}
AGG_OPERATORS = ("q2", "q4")  # the operators that call functions.numeric.davg

# Every operator costs a few hundred ms of fixed per-query overhead, so
# 200K rows keep a round of all six near 4.5 s and a 10 s run at three
# rounds; at 1M rows such a run collected one sample per operator.
EVENTS_ROWS = 200_000
EVENTS_ROW_GROUP = 25_000  # 8 row groups
EVENTS_USERS = 1500
# p8's per-key Python scan costs per key group, so it gets its own
# small table with few keys.
P8_ROWS = 6_000
P8_USERS = 40
# Each operator's first runs take more CPU time, until the JVM has compiled
# its new code paths; timing starts after this many untimed rounds.
WARM_ROUNDS = 2
MIN_ROUNDS = 3  # measured, so one slow round cannot move a median


def _install_tracing(ctx: Context) -> None:
    from orionld_to_hive_spark import catalog
    from orionld_to_hive_spark.operators import parity
    from orionld_to_hive_spark.sources import warehouse
    from orionld_to_hive_spark.streaming import debounce

    t = ctx.tracer
    seen: set[tuple] = set()

    def classify(orig):
        def load_table(spark, sf_dir, name):
            key = (id(spark), sf_dir, name)
            kind = "warm" if key in seen else "cold"
            seen.add(key)
            with t.span(f"warehouse.load_table_{kind}"):
                return orig(spark, sf_dir, name)

        return load_table

    for module in (parity, catalog):
        t.patch(module, "load_table", classify(module.load_table))
    t.wrap(warehouse, "load_time_range", "warehouse.load_time_range")
    t.wrap(parity, "davg", "functions.numeric.davg")
    t.wrap(debounce, "debounce_batch", "streaming.debounce.debounce_batch")


def _oracles(path: str, ops) -> dict[str, tuple]:
    """Normalized DuckDB oracle result of each operator over one file."""
    from orionld_to_hive_spark import registry

    sql = registry.all_oracles()
    out = {}
    for op in ops:
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO 1; CREATE VIEW events AS SELECT * FROM '{path}'")
            cur = con.execute(sql[op])
            cols = [d[0] for d in cur.description]
            out[op] = normalize(cols, cur.fetchall())
        finally:
            con.close()
    return out


def run(ctx: Context) -> dict:
    from orionld_to_hive_spark import catalog
    from orionld_to_hive_spark.operators import parity

    main_dir, p8_dir = ctx.path("events"), ctx.path("events_p8")
    with ctx.phase("gen"):
        main_file = gen.write_events(main_dir, ctx.seed, EVENTS_ROWS, EVENTS_USERS, EVENTS_ROW_GROUP)
        p8_file = gen.write_events(p8_dir, ctx.seed + 1, P8_ROWS, P8_USERS, P8_ROWS)
    dirs = {op: (p8_dir if op == "p8_debounce" else main_dir) for op in OPERATORS}
    with ctx.phase("oracle"):
        expected = {main_dir: _oracles(main_file, [op for op in OPERATORS if op != "p8_debounce"]),
                    p8_dir: _oracles(p8_file, ["p8_debounce"])}
    if ctx.tracer.enabled:
        _install_tracing(ctx)

    latencies: dict[str, list[float]] = {op: [] for op in OPERATORS}
    cpu: dict[str, list[float]] = {op: [] for op in OPERATORS}

    def one(spark, op: str, sf_dir: str, measured: bool = True) -> tuple[float, float]:
        """(wall, CPU) seconds of one build + collect of `op`."""
        short = OPERATORS[op]
        t = ctx.tracer
        op_id = t.new_op()
        if t.enabled:
            spark.sparkContext.setJobGroup(f"perfbench-{op_id}", op)
        if measured:
            ctx.probe()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with t.span(f"parity.{short}.build"):
            df = getattr(parity, op)(spark, sf_dir)
        t1 = time.perf_counter()
        with t.span(f"parity.{short}.exec"):
            rows = df.collect()
        t2 = time.perf_counter()
        c2 = tree_cpu_s()
        ctx.gate.record(op, diff(expected[sf_dir][op], normalize(df.columns, rows)))
        if t.enabled and measured:
            with t.collecting():
                pm = plan_metrics(df)
                jobs, tasks = job_counts(spark.sparkContext, f"perfbench-{op_id}")
            p = f"parity.{short}."
            t.record(p + "build_s", t1 - t0)
            t.record(p + "exec_s", t2 - t1)
            t.record(p + "jobs", jobs)
            t.record(p + "tasks", tasks)
            for k in ("shuffle_bytes", "files_read", "bytes_read"):
                t.record(p + k, pm[k])
            t.record(p + "rows_scanned_per_row_out", pm["rows_scanned"] / max(1, len(rows)))
            if short in AGG_OPERATORS:
                t.record(p + "agg_build_s", sum(
                    s.end - s.start for s in t.spans
                    if s.op == op_id and s.name == "functions.numeric.davg"))
            if short == "p8":
                t.record(p + "py_bytes_out", pm["py_bytes_out"])
                t.record(p + "py_bytes_in", pm["py_bytes_in"])
        ctx.sample_rss()
        return t2 - t0, c2 - c0

    def setup_once(spark) -> None:
        catalog.register_warehouse(spark, main_dir, "events")
        one(spark, "q2_hourly_avg", main_dir, measured=False)  # warm-up query

    spark = timed_setups(ctx, setup_once)
    rng = random.Random(ctx.seed)
    ops = list(OPERATORS)
    with ctx.phase("warm_pass"):  # until the JIT compilers settle, not timed
        for _ in range(WARM_ROUNDS):
            rng.shuffle(ops)
            for op in ops:
                one(spark, op, dirs[op], measured=False)
    deadline = time.perf_counter() + ctx.seconds
    busy = 0.0
    with ctx.phase("measure"):
        # whole rounds, so every operator gets the same number of samples
        while len(latencies["q1_time_filter"]) < MIN_ROUNDS or time.perf_counter() < deadline:
            rng.shuffle(ops)
            for op in ops:
                dt, dc = one(spark, op, dirs[op])
                latencies[op].append(dt)
                cpu[op].append(dc)
                busy += dt
    medians = {op: median(v) for op, v in latencies.items()}
    n = sum(len(v) for v in latencies.values())
    report = {f"{OPERATORS[op]}_p50_s": m for op, m in medians.items() if op != "p8_debounce"}
    report["debounce_p50_s"] = medians["p8_debounce"]
    report.update(
        queries_per_s=n / busy,
        rounds=len(latencies["q1_time_filter"]),
        mix_latency_s=sum_of_medians(latencies),
    )
    return {
        "mix_cpu_s": sum_of_medians(cpu),
        "report": report,
    }
