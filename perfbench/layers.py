"""Per-layer metrics of a traced run.

Inputs: the tracer's spans (traced passes only), the Spark event log,
the workload's per-pass lake statistics and plan Exchange count.
Sums are divided by the number of traced passes, so every figure is per
pass of the mix.  Layer names are the package's module names:

* ``session`` — ``get_spark`` and the warm-up pass of the set-up;
* ``sources`` — ``registry.load_table`` spans plus scan input metrics;
* ``operators`` — the registered query call (plan build, including
  any action a query runs while building);
* ``plans`` — ``plans.introspect.count_exchanges`` of each query's
  unexecuted plan, counted after the op, outside its time;
* ``spark`` — the collect action span and the jobs from the event log;
* ``pipeline``, ``sources.versioned``, ``sources.dml`` — the wrapped
  public functions, one span per call, nested calls as child spans.

``unattributed_s`` is the op time that no child span and no Spark job
covers: the benchmark's own per-op bookkeeping.
"""

from __future__ import annotations

import statistics

from spans import attach_jobs, descendants, find_event_log, read_event_log, self_times, union_length

LAKE_LAYERS = ("pipeline", "sources.versioned", "sources.dml")
VERSIONED_FNS = ("write_versioned", "read_versioned", "compact_small_files")
DML_FNS = ("merge_into", "delete_where", "delete_where_mor", "update_where")
COW_DML = ("sources.dml.merge_into", "sources.dml.delete_where", "sources.dml.update_where")


def per_layer(tracer, wl, passes, log_dir: str, start_s: float, warmup_s: float) -> dict:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    n = len(traced)
    log = read_event_log(find_event_log(log_dir))
    spans = attach_jobs(tracer.spans, log["jobs"])
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["layer"] == "op"]

    def dur(s):
        return s["end"] - s["start"]

    def py4j(s):
        return s["py4j1"] - s["py4j0"]

    def under(s, layer):
        """True when ``s`` has an ancestor span of ``layer``."""
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["layer"] == layer:
                return True
        return False

    op_wall = sum(dur(o) for o in ops)
    job_s = 0.0
    job_ids = set()
    for o in ops:
        jobs = [s for s in descendants(spans, o["id"]) if s["name"] == "spark.job"]
        job_ids.update(j["job"] for j in jobs)
        job_s += union_length([(max(j["start"], o["start"]), min(j["end"], o["end"]))
                               for j in jobs if j["end"] > o["start"]])
    tasks = [t for t in log["tasks"] if t["job"] in job_ids]
    layer_spans = [s for s in spans if s["layer"] != "op"]
    named = {}
    for s in layer_spans:
        e = named.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "py4j": 0})
        e["calls"] += 1
        e["s"] += dur(s)
        e["self_s"] += selfs[s["id"]]
        e["py4j"] += py4j(s)

    def total(prefix, field):
        return sum(v[field] for k, v in named.items() if k == prefix or k.startswith(prefix + "."))

    oper = [s for s in spans if s["layer"] == "operators"]
    build_s = sum(dur(s) for s in oper)
    writes = [o for o in ops if o.get("kind") == "write"]
    write_wall = sum(dur(o) for o in writes)
    lake_cover = sum(
        union_length([(s["start"], s["end"]) for s in descendants(spans, o["id"])
                      if s["layer"] in LAKE_LAYERS])
        for o in writes)
    cow = [s["ret"] for s in spans if s["name"] in COW_DML and "ret" in s]
    stats = [s for s, p in zip(wl.pass_stats[1:], passes) if p["traced"]]
    ingest = [s for s in spans if s["name"] == "pipeline.ingest_session_tree"]
    task_s = sum(t["run_s"] for t in tasks)

    out = {
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "sources.load_calls": total("sources.registry.load_table", "calls") / n,
        "sources.load_s": total("sources.registry.load_table", "s") / n,
        "sources.scan_bytes": sum(t["input_bytes"] for t in tasks) / n,
        "sources.scan_rows": sum(t["input_rows"] for t in tasks) / n,
        "operators.calls": len(oper) / n,
        "operators.build_s": build_s / n,
        "operators.build_share": build_s / op_wall,
        "operators.py4j_calls": sum(py4j(s) for s in oper) / n,
        "operators.build_jobs": sum(1 for s in spans if s["name"] == "spark.job"
                                    and under(s, "operators")) / n,
        "plans.exchanges": getattr(wl, "plan_exchanges", 0) / n,
        "spark.jobs": len(job_ids) / n,
        "spark.stages": len({t["stage"] for t in tasks}) / n,
        "spark.tasks": len(tasks) / n,
        "spark.action_py4j_calls": total("spark.action", "py4j") / n,
        "spark.job_s": job_s / n,
        "spark.no_job_s": (op_wall - job_s) / n,
        "spark.job_share": job_s / op_wall,
        "spark.task_s": task_s / n,
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks) / n,
        "spark.gc_s": sum(t["gc_s"] for t in tasks) / n,
        "spark.gc_share": sum(t["gc_s"] for t in tasks) / task_s if task_s else 0.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / n,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / n,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) / n,
        "py4j.calls": sum(py4j(o) for o in ops) / n,
        "py4j.gc_detach": sum(o["gc1"] - o["gc0"] for o in ops) / n,
        "pipeline.calls": len(ingest) / n,
        "pipeline.ingest_s": sum(dur(s) for s in ingest) / n,
        "pipeline.rows": sum(sum(s.get("ret", {}).values()) for s in ingest) / n,
        "pipeline.bytes_written": (sum(s["silver_bytes"] for s in stats) / n) if stats else 0,
        "sources.versioned.calls": total("sources.versioned", "calls") / n,
        "sources.versioned.self_s": total("sources.versioned", "self_s") / n,
        "sources.dml.calls": total("sources.dml", "calls") / n,
        "sources.dml.self_s": total("sources.dml", "self_s") / n,
        "sources.dml.rewrite_frac": (
            sum(r.get("files_rewritten", 0) for r in cow)
            / max(1, sum(r.get("files_total", 0) for r in cow))),
        "sources.versioned.versions": _mean(stats, "versions"),
        "sources.versioned.live_files": _mean(stats, "live_files"),
        "sources.versioned.files_on_disk": _mean(stats, "files_on_disk"),
        "pipeline.self_share": total("pipeline", "self_s") / op_wall,
        "sources.versioned.self_share": total("sources.versioned", "self_s") / op_wall,
        "sources.dml.self_share": total("sources.dml", "self_s") / op_wall,
        "lake.write_cover": lake_cover / write_wall if write_wall else 0.0,
        "unattributed_s": sum(selfs[o["id"]] for o in ops) / n,
        "unattributed_share": sum(selfs[o["id"]] for o in ops) / op_wall,
        "op_wall_s": op_wall / n,
        "trace.pass_s": statistics.median(p["pass_s"] for p in traced),
        "trace.untraced_pass_s": statistics.mean(p["pass_s"] for p in untraced),
    }
    out["trace.overhead_frac"] = out["trace.pass_s"] / out["trace.untraced_pass_s"] - 1.0
    for fn in VERSIONED_FNS:
        e = named.get(f"sources.versioned.{fn}", {"calls": 0, "self_s": 0.0})
        out[f"sources.versioned.{fn}.calls"] = e["calls"] / n
        out[f"sources.versioned.{fn}.s"] = e["self_s"] / n
    for fn in DML_FNS:
        e = named.get(f"sources.dml.{fn}", {"calls": 0, "self_s": 0.0})
        out[f"sources.dml.{fn}.calls"] = e["calls"] / n
        out[f"sources.dml.{fn}.s"] = e["self_s"] / n
    out["self_s"] = {k: v["self_s"] / n for k, v in sorted(named.items())}
    return out


def _mean(stats: list[dict], key: str) -> float:
    return statistics.mean(s[key] for s in stats) if stats else 0
