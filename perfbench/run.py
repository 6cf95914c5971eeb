"""Benchmark entry point.

    python3 perfbench/run.py --workload scan_agg --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One invocation:

1. generates (or reuses) the workload's seeded inputs under
   ``.perfbench/inputs`` in a child process (``gen.py``) — not timed,
   and NumPy, PyArrow and DuckDB stay out of this process until the
   set-up is over;
2. set-up, timed as ``setup_s``: imports the package, starts Spark with
   ``get_spark(master="local[k]", shuffle_partitions=k)``, k = the
   number of usable cores, and runs one warm-up pass of the mix;
3. runs timed passes of the mix, one client thread in a closed loop,
   until ``--seconds`` have passed (and at least ``MIN_PASSES`` passes,
   two when traced);
4. checks every result against DuckDB (see ``check.py``), outside
   every timed region;
5. prints a detail line (every metric of the run, the environment, the
   input sizes), then as the last line the result object:
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` passes alternate untraced and traced (spans, py4j
counter, job descriptions), the Spark event log is on for the whole
run, and the metrics are the per-layer ones, computed from the traced
passes; the span file is written under ``.perfbench/traces``.

The exit code is 0 when every check passed, 1 when a result was wrong
or an op raised, 2 when the checkout is not usable.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402
from spans import Py4jCounter, Tracer  # noqa: E402

MIN_PASSES = 1
WORKLOADS = ("scan_agg", "curation_driver", "lake_write")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smallest inputs (the self-test's sizes)")
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples above it:
    ``(value, percentile, samples)``.  Below eleven samples no such
    percentile exists and the maximum is reported (percentile 100)."""
    v = sorted(values)
    n = len(v)
    if n > 10:
        return v[n - 11], 100.0 * (n - 10) / n, n
    return v[-1], 100.0, n


def _status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _cpu_s(pid: int | str) -> float:
    """User + system CPU seconds of a process so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _reset_peak(pid: int | str) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # kernel without peak reset: the peak then spans the set-up


def _jvm_pid(spark) -> int:
    """Pid of the driver JVM: py4j starts spark-submit, which execs java
    in place, so the launched process is the JVM."""
    return spark.sparkContext._gateway.proc.pid


def _stop_spark(spark) -> None:
    """Stop the session and the py4j JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_pass(wl, tracer, n: int, traced: bool) -> dict:
    """One timed pass; the results stay unchecked until ``settle``."""
    tracer.enabled = traced
    wl.begin_pass(n)
    recs = []
    t_pass = time.perf_counter()
    for op in wl.ops(n):
        t = time.perf_counter()
        with tracer.span(op.name, "op", kind=op.kind):
            try:
                out, err = op.run(), None
            except Exception as e:  # an op failure is a result, not a crash
                out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        recs.append({"op": op, "lat": time.perf_counter() - t, "out": out, "err": err})
        if op.after is not None:
            op.after()
    pass_s = time.perf_counter() - t_pass
    tracer.enabled = False
    wl.end_pass(n)
    return {"n": n, "traced": traced, "pass_s": pass_s, "recs": recs}


def settle(p: dict) -> dict:
    """Reduce a pass's results to what the checks compare (digests, row
    counts) and drop the result frames."""
    import check

    ops = []
    for r in p.pop("recs"):
        op, got = r["op"], None
        if r["err"] is None and op.key:
            got = check.digest(r["out"]) if op.check == "digest" else dict(r["out"])
        ops.append({"name": op.name, "kind": op.kind, "key": op.key,
                    "lat": r["lat"], "err": r["err"], "got": got})
    p["ops"] = ops
    return p


def expected_results(workload: str, inputs: dict) -> dict:
    """Oracle results for every check key, cached beside the inputs (for
    queries, under a hash of their oracle SQL, so an edited oracle is rerun)."""
    if workload == "lake_write":
        path = os.path.join(inputs["dir"], "expected.json")
    else:
        import __spark_entry__

        names = (workloads.SCAN_QUERIES if workload == "scan_agg"
                 else workloads.CURATION_QUERIES)
        sql = {q: __spark_entry__.oracle_sql()[q] for q in names}
        tag = hashlib.sha1(json.dumps(sql, sort_keys=True).encode()).hexdigest()[:12]
        path = os.path.join(inputs["dir"], f"expected-{tag}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import check

    if workload == "lake_write":
        steps = check.replay_lake(
            os.path.join(inputs["tables_dir"], "orders.parquet"), inputs["batches"])
        exp = {f"step{i}": d for i, d in enumerate(steps)}
        exp["ingest"] = inputs["f1_rows"]
    else:
        con = check.duckdb_for(inputs["tables_dir"])
        exp = {q: check.oracle_digest(con, text) for q, text in sql.items()}
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(path + ".tmp", path)
    return exp


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "f1_data_engineering_spark"))):
        print(f"perfbench: {ROOT} is not a checkout of the engine "
              "(no __spark_entry__.py / f1_data_engineering_spark)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    scale = (workloads.TINY_SCALES if args.tiny else workloads.SCALES)[args.workload]
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), os.path.join(work, "inputs"),
             args.workload, str(args.seed), json.dumps(scale)],
            stdout=subprocess.PIPE, text=True, check=True)
        inputs = json.loads(proc.stdout.strip().splitlines()[-1])
        return _run(args, inputs, work, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, inputs: dict, work: str, run_dir: str, tmp: str) -> int:
    k = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    from f1_data_engineering_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{k}]",
                      shuffle_partitions=k, extra_conf=conf)
    start_s = time.perf_counter() - t0
    py4j = Py4jCounter()
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", py4j)
    try:
        if args.trace:
            _install_tracing(tracer, py4j)
        wl = workloads.make(args.workload, spark, inputs, tracer, args.seed,
                            os.path.join(run_dir, "lake"))
        warm = run_pass(wl, tracer, 0, False)
        setup_s = time.perf_counter() - t0
        settle(warm)

        jvm = _jvm_pid(spark)
        setup_rss_mb = (_status_kb(jvm, "VmHWM") + _status_kb("self", "VmHWM")) / 1024.0
        _reset_peak(jvm)
        _reset_peak("self")
        cpu0 = _cpu_s(jvm) + _cpu_s("self")
        passes = []
        t_begin = time.perf_counter()
        # traced runs alternate untraced and traced passes, so the overhead
        # compares passes of one process; two passes keep the run in budget
        min_passes = 2 if args.trace else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() - t_begin < args.seconds:
            n = len(passes) + 1
            passes.append(settle(run_pass(wl, tracer, n, bool(args.trace) and n % 2 == 0)))
        peak_rss_mb = (_status_kb(jvm, "VmHWM") + _status_kb("self", "VmHWM")) / 1024.0
        cpu_per_pass = (_cpu_s(jvm) + _cpu_s("self") - cpu0) / len(passes)
        env = {
            "k": k, "nproc": os.cpu_count(), "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "seed": args.seed, "scale": inputs["scale"],
            "input_rows": inputs["input_rows"], "input_bytes": inputs["input_bytes"],
            "loop": "closed", "clients": 1,
        }
    finally:
        _stop_spark(spark)
        py4j.uninstall()
        tracer.unpatch()

    expected = expected_results(args.workload, inputs)
    attempted = failed = 0
    for p in [warm] + passes:
        for op in p["ops"]:
            attempted += 1
            if op["err"] is not None or (op["key"] is not None and op["got"] != expected[op["key"]]):
                failed += 1
                print(f"perfbench: FAIL pass {p['n']} {op['name']}: "
                      f"{op['err'] or 'result differs from the oracle'}", file=sys.stderr)

    detail = _end_to_end(passes, wl, setup_s, peak_rss_mb, attempted, failed)
    detail["setup_peak_rss_mb"] = setup_rss_mb
    detail["pass_cpu_s"] = cpu_per_pass
    if args.trace:
        detail["layers"] = layers.per_layer(
            tracer, wl, passes, log_dir, start_s, setup_s - start_s)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work, "traces", f"{tracer.run_id}.json"),
                    {"layers": detail["layers"]})
    print(json.dumps({"workload": args.workload, "env": env, "detail": detail}))
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    source = detail["layers"] if args.trace else detail
    metrics = {name: {"value": source[name], "unit": units[name]} for name in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def _install_tracing(tracer, py4j) -> None:
    from f1_data_engineering_spark import pipeline
    from f1_data_engineering_spark.sources import dml, registry, versioned

    py4j.install()
    tracer.patch(registry, "load_table", "sources")
    tracer.patch(pipeline, "ingest_session_tree", "pipeline")
    for fn in ("write_versioned", "read_versioned", "compact_small_files"):
        tracer.patch(versioned, fn, "sources.versioned")
    for fn in ("merge_into", "delete_where", "delete_where_mor", "update_where"):
        tracer.patch(dml, fn, "sources.dml")


def _end_to_end(passes, wl, setup_s, peak_rss_mb, attempted, failed) -> dict:
    untraced = [p for p in passes if not p["traced"]]
    reads = [o["lat"] for p in untraced for o in p["ops"] if o["kind"] == "read"]
    writes = [o["lat"] for p in untraced for o in p["ops"] if o["kind"] == "write"]
    out = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in untraced),
        "passes": len(untraced),
        "query_p50_s": statistics.median(reads),
    }
    out["query_tail_s"], out["query_tail_pct"], out["query_samples"] = tail(reads)
    if writes:
        out["write_p50_s"] = statistics.median(writes)
        out["write_tail_s"], out["write_tail_pct"], out["write_samples"] = tail(writes)
    lat: dict[str, list[float]] = {}
    for p in untraced:
        for o in p["ops"]:
            lat.setdefault(o["name"], []).append(o["lat"])
    out["op_p50_s"] = {k: statistics.median(v) for k, v in lat.items()}
    out["failed_frac"] = failed / attempted
    out["peak_rss_mb"] = peak_rss_mb
    stats = [s for s, p in zip(wl.pass_stats[1:], passes) if not p["traced"]]
    if stats:
        out["write_amp"] = statistics.median(s["write_amp"] for s in stats)
        out["space_amp"] = statistics.median(s["space_amp"] for s in stats)
    return out


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
