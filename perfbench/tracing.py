"""Traced-run tooling: spans around layer calls, executed-plan SQL metrics
and per-operation job-group counts.

Spans are recorded from outside the program: `Tracer.wrap` replaces a
module attribute with a wrapper that opens a span around each call and
`Tracer.unwrap_all` restores the original. With tracing disabled no
wrapper is installed and `span` is a no-op, so end-to-end runs pay
nothing.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    op: int  # all spans of one benchmark operation share this id
    parent: int | None  # index of the enclosing span
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self.collect_s = 0.0  # time spent gathering plan/job metrics
        self._stack: list[int] = []
        self._op = 0
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans -----------------------------------------------------------
    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self._op, parent, time.perf_counter())
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Open a span named `span_name` around every call of
        `module.attr` until `unwrap_all`."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        self.patch(module, attr, traced)

    def patch(self, module, attr: str, replacement) -> None:
        """Replace `module.attr` until `unwrap_all`."""
        self._patches.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by direct child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name].append(value)

    def overhead_s(self) -> float:
        """Estimated tracing cost: calibrated per-span cost times the spans
        recorded, plus the measured metric-collection time."""
        probe = Tracer(True)
        n = 2000
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("calibrate"):
                pass
        per_span = (time.perf_counter() - t0) / n
        return per_span * len(self.spans) + self.collect_s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    # ---- metrics gathered after an operation -------------------------------
    @contextmanager
    def collecting(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.collect_s += time.perf_counter() - t0


def plan_metrics(df) -> dict[str, float]:
    """Sum selected SQL metrics over the executed physical plan of an
    already-executed DataFrame (adaptive stages included)."""
    totals: dict[str, float] = defaultdict(float)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            totals[f"{cls}.{kv._1()}"] += kv._2().value()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its child is executed (and counted) where it first appears
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
    scans = [k for k in totals if k.startswith("FileSourceScanExec.")]
    return {
        "files_read": sum(totals[k] for k in scans if k.endswith(".numFiles")),
        "bytes_read": sum(totals[k] for k in scans if k.endswith(".filesSize")),
        "rows_scanned": sum(totals[k] for k in scans if k.endswith(".numOutputRows")),
        "shuffle_bytes": sum(v for k, v in totals.items() if k.endswith(".shuffleBytesWritten")),
        "py_bytes_out": sum(v for k, v in totals.items() if k.endswith(".pythonDataSent")),
        "py_bytes_in": sum(v for k, v in totals.items() if k.endswith(".pythonDataReceived")),
    }


def job_counts(sc, group: str, timeout_s: float = 5.0) -> tuple[int, int]:
    """(jobs, completed tasks) of a job group, waiting until the status
    store has seen every job of the group finish."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if all(i is not None and i.status != "RUNNING" for i in infos) or (
            time.monotonic() > deadline
        ):
            break
        time.sleep(0.01)
    tasks = 0
    for info in infos:
        for stage_id in info.stageIds if info else ():
            stage = st.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(infos), tasks
