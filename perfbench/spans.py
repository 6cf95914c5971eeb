"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here lives in the benchmark, outside the package:

* ``Py4jCounter`` counts commands sent through py4j's
  ``GatewayClient.send_command``.  Commands that start with ``m\\nd\\n``
  are py4j's garbage-collection detaches: Python sends one whenever it
  finalizes a ``JavaObject``, at moments that depend on the collector,
  so they are counted apart.  Without that split the same warm action
  counts a different number of calls from pass to pass
  (``scripts/py4j_profile.py`` counts them together and has this flaw).
* ``Tracer`` records spans (name, layer, start, end, parent span, run
  id, py4j calls at start and end) in memory.  ``Tracer.patch`` wraps
  public package functions by replacing module attributes, in every
  loaded package module that holds the same function object, so calls
  between modules nest as child spans.
* ``read_event_log`` turns a Spark event log into job, stage and task
  records; ``analyze`` places each job under the deepest span that was
  open when it was submitted and computes self times, job time and the
  time no Spark job ran.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager

GC_DETACH_PREFIX = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands; GC detach commands are counted separately."""

    def __init__(self):
        self.calls = 0
        self.gc_detach = 0
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = self._orig = GatewayClient.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(client, command, *a, **kw):
            if command.startswith(GC_DETACH_PREFIX):
                counter.gc_detach += 1
            else:
                counter.calls += 1
            return orig(client, command, *a, **kw)

        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig
            self._orig = None


class Tracer:
    """In-memory span recorder.  ``enabled`` can be switched between
    passes; while it is off, wrappers call straight through."""

    def __init__(self, run_id: str, py4j: Py4jCounter):
        self.run_id = run_id
        self.py4j = py4j
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "run": self.run_id,
            "start": time.time(),
            "py4j0": self.py4j.calls,
            "gc0": self.py4j.gc_detach,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j1"] = self.py4j.calls
            rec["gc1"] = self.py4j.gc_detach

    def patch(self, module, attr: str, layer: str) -> None:
        """Wrap ``module.attr`` in a span named after the module path below
        the package, in every loaded module of the package that refers to
        the same function object."""
        orig = getattr(module, attr)
        span_name = f"{module.__name__.split('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            with tracer.span(span_name, layer) as rec:
                out = orig(*a, **kw)
                if isinstance(out, dict):
                    rec["ret"] = {k: v for k, v in out.items() if isinstance(v, (int, float))}
                return out

        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith("f1_data_engineering_spark") or mname == "__spark_entry__"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapper)
                    self._patches.append((mod, k, orig))

    def unpatch(self) -> None:
        for mod, k, orig in reversed(self._patches):
            setattr(mod, k, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f)


# ------------------------------------------------------------- event log


def read_event_log(path: str) -> dict:
    """Jobs (with their stage ids, description and interval in epoch
    seconds) and per-task metrics from one uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "desc": props.get("spark.job.description"),
                    "stages": ev.get("Stage IDs", []),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "input_bytes": inp.get("Bytes Read", 0),
                    "input_rows": inp.get("Records Read", 0),
                })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": [j for j in jobs.values() if j["end"] is not None], "tasks": tasks}


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    logs = [p for p in logs if os.path.isfile(p) and not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


# -------------------------------------------------------------- analysis


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of closed intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float] | None:
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def attach_jobs(spans: list[dict], jobs: list[dict]) -> list[dict]:
    """Add each job as a child span (layer ``spark``) of the deepest span
    open at its submission time.  Jobs outside every span are dropped."""
    out = list(spans)
    by_start = sorted(spans, key=lambda s: s["start"])
    depth: dict[int, int] = {}
    for s in by_start:
        depth[s["id"]] = 0 if s["parent"] is None else depth.get(s["parent"], 0) + 1
    for j in jobs:
        best = None
        for s in by_start:
            if s["start"] > j["start"]:
                break
            if s["end"] >= j["start"] and (best is None or depth[s["id"]] >= depth[best["id"]]):
                best = s
        if best is None:
            continue
        out.append({
            "id": len(out), "parent": best["id"], "name": "spark.job", "layer": "spark",
            "start": j["start"], "end": j["end"], "job": j["id"], "desc": j["desc"],
            "py4j0": 0, "py4j1": 0,
        })
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        ivs = [c for c in (clip(iv, s["start"], s["end"]) for iv in kids.get(s["id"], [])) if c]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(ivs)
    return out


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out
