"""Fast self-test of the benchmark.

    python3 perfbench/selftest.py          # unit checks + all three workloads, tiny inputs
    python3 perfbench/selftest.py --quick  # unit checks only (no Spark)

Unit checks: interval union, job placement and self-time arithmetic of
``spans.py``, the tail-percentile rule, the event-log reader on a
synthetic log, and the schema of ``BENCHMARK.json``.  The workload
check runs ``run.py --tiny --trace 1`` for each of the three workloads
(sf0.001, a one-session F1 tree, one DML round) and validates both
output lines.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS, tail  # noqa: E402
from spans import attach_jobs, read_event_log, self_times, union_length  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spans() -> None:
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    spans = [
        {"id": 0, "parent": None, "name": "op", "layer": "op", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "build", "layer": "operators", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "name": "load", "layer": "sources", "start": 1.5, "end": 2.0},
        {"id": 3, "parent": 0, "name": "spark.action", "layer": "spark", "start": 5.0, "end": 9.0},
    ]
    jobs = [
        {"id": 7, "start": 3.0, "end": 3.5, "desc": "w:q:build"},
        {"id": 8, "start": 5.5, "end": 8.5, "desc": "w:q:exec"},
        {"id": 9, "start": 20.0, "end": 21.0, "desc": None},  # outside every span
    ]
    full = attach_jobs(spans, jobs)
    placed = {s["job"]: s["parent"] for s in full if s["name"] == "spark.job"}
    assert placed == {7: 1, 8: 3}, placed
    st = self_times(full)
    assert st[0] == 10 - (3 + 4)          # op minus build and action
    assert st[1] == 3 - (0.5 + 0.5)       # build minus load and its job
    assert st[2] == 0.5
    assert st[3] == 4 - 3                 # action minus its job
    assert tail([1.0] * 5) == (1.0, 100.0, 5)
    v, pct, n = tail([float(i) for i in range(1, 21)])
    assert (v, n) == (10.0, 20) and pct == 50.0


def check_event_log() -> None:
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "w:q:exec"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "Executor CPU Time": 150_000_000, "JVM GC Time": 5,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 64,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Input Metrics": {"Bytes Read": 30, "Records Read": 3}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [2], "Properties": {}},  # never ended: dropped
    ]
    with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")
    try:
        log = read_event_log(f.name)
    finally:
        os.unlink(f.name)
    assert [(j["id"], j["start"], j["end"], j["desc"]) for j in log["jobs"]] == [
        (0, 1.0, 1.5, "w:q:exec")]
    (t,) = log["tasks"]
    assert (t["job"], t["run_s"], t["cpu_s"], t["spill"]) == (0, 0.2, 0.15, 64)
    assert (t["shuffle_read"], t["shuffle_write"], t["input_rows"]) == (10, 20, 3)


def check_schema() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}, sorted(spec)
    assert 1 <= len(spec["paths"]) <= 16
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    assert 2 <= len(spec["workloads"]) <= 8
    names = set()
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert NAME.match(w["name"]) and w["name"] not in names
        names.add(w["name"])
    metric_names = set()
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher") and m["name"] not in metric_names
        metric_names.add(m["name"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    return spec


def check_workloads(spec: dict) -> None:
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    for w in WORKLOADS:
        p = subprocess.run(
            spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                               "--trace", "1", "--tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        assert p.returncode == 0, (w, p.returncode, p.stderr[-2000:])
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert set(result["metrics"]) == layer, set(result["metrics"]) ^ layer
        assert e2e <= set(detail["detail"]), e2e - set(detail["detail"])
        for m in result["metrics"].values():
            assert isinstance(m["value"], (int, float)), m
        print(f"ok   {w}: {result['attempted']} ops checked", flush=True)


def main() -> int:
    check_spans()
    check_event_log()
    spec = check_schema()
    print("ok   unit checks", flush=True)
    if "--quick" not in sys.argv:
        check_workloads(spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
