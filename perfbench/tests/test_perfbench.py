"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.check import Gate, diff, normalize  # noqa: E402
from perfbench.run import result_line  # noqa: E402
from perfbench.stats import median, sum_of_medians  # noqa: E402


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


# ---- seeded inputs --------------------------------------------------------


def test_events_same_seed_same_bytes(tmp_path):
    gen.write_events(str(tmp_path / "a"), 7, 5_000, 50, 1_000)
    gen.write_events(str(tmp_path / "b"), 7, 5_000, 50, 1_000)
    gen.write_events(str(tmp_path / "c"), 8, 5_000, 50, 1_000)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_measurements_and_corrections_same_seed_same_bytes(tmp_path):
    out = []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        tallies = gen.write_measurements(str(tmp_path / name / "m"), seed, 200, 2)
        paths, states = gen.write_corrections(str(tmp_path / name / "c"), seed, tallies, 2, 40, 10, 2)
        out.append((tallies, states))
    for sub in ("m", "c"):
        assert _same_tree(tmp_path / "a" / sub, tmp_path / "b" / sub)
        assert not _same_tree(tmp_path / "a" / sub, tmp_path / "c" / sub)
    tallies, states = out[0]
    # 18 files x (200 readings + 3 kinds x 2 bad lines)
    assert tallies.rows_in == 18 * 206 and tallies.rows_valid == 18 * 200
    # every batch only adds or replaces keys, and the last state holds them all
    assert len(states[0]) <= len(states[1]) and len(states[1]) > tallies.rows_valid


def test_notifications_same_seed_same_bytes():
    due = gen.iso_ms(1_704_067_200.25)
    assert due == "2024-01-01T00:00:00.250Z"
    a, ta = gen.notification_files(5, 3, 10, "p")
    b, tb = gen.notification_files(5, 3, 10, "p")
    c, _ = gen.notification_files(6, 3, 10, "p")
    assert [f.render(due) for f in a] == [f.render(due) for f in b]
    assert [f.render(due) for f in a] != [f.render(due) for f in c]
    assert ta == tb and sum(v[0] for v in ta.values()) == 30
    assert all(json.loads(line)["data"][0]["temperature"]["observedAt"] == due
               for line in a[0].render(due).splitlines())


# ---- summary statistics ---------------------------------------------------


def test_sum_of_medians_ignores_an_outlier():
    samples = {"a": [0.2, 0.3, 0.25], "b": [1.0, 1.1, 0.9]}
    assert sum_of_medians(samples) == median(samples["a"]) + median(samples["b"]) == 1.25
    samples["b"].append(50.0)  # one stalled sample
    assert abs(sum_of_medians(samples) - 1.3) < 1e-12
    # a slowdown of one operation moves the metric by that operation's share
    slow = {"a": [0.5, 0.6, 0.55], "b": [1.0, 1.1, 0.9]}
    assert abs(sum_of_medians(slow) - 1.55) < 1e-12


def test_tree_cpu_counts_work_not_waiting():
    import time

    from perfbench.runtime import tree_cpu_s

    c0 = tree_cpu_s()
    time.sleep(0.3)
    assert tree_cpu_s() - c0 < 0.1
    c0, t0 = tree_cpu_s(), time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert 0.25 <= tree_cpu_s() - c0 <= 0.5


# ---- correctness gate -----------------------------------------------------


def _duck(sql: str, path: str):
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def test_injected_wrong_result_counts_as_failure(tmp_path):
    from orionld_to_hive_spark.operators.parity import Q2_SQL

    path = gen.write_events(str(tmp_path), 1, 3_000, 20, 3_000)
    cols, rows = _duck(Q2_SQL, path)
    expected = normalize(cols, rows)
    gate = Gate()
    # row order and column order do not matter
    assert gate.record("q2", diff(expected, normalize(cols[::-1], [r[::-1] for r in reversed(rows)])))
    wrong = list(rows)
    wrong[3] = (wrong[3][0], wrong[3][1] + 1e-9, wrong[3][2])
    assert not gate.record("q2", diff(expected, normalize(cols, wrong)))
    assert not gate.record("q2", diff(expected, normalize(cols, rows[:-1])))
    assert not gate.expect_equal("rows", 10, 11)
    assert (gate.attempted, gate.failed) == (4, 3)
    assert gate.fail_frac == 0.75


# ---- output format --------------------------------------------------------


def test_result_line_format():
    gate = Gate()
    gate.record("op", None)
    gate.record("op", "wrong")
    line = result_line(gate, {"setup_s": {"value": 0.5, "unit": "s"}})
    obj = json.loads(line)
    assert list(obj) == ["correct", "attempted", "failed", "metrics"]
    assert obj["correct"] is False and obj["attempted"] == 2 and obj["failed"] == 1
    assert "\n" not in line


def test_benchmark_json_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert unit.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    from perfbench.run import WORKLOADS

    assert sorted(WORKLOADS) == sorted(w["name"] for w in spec["workloads"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sensor_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
