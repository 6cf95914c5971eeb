"""The three benchmark workloads.

Each workload is a fixed mix of operations ("ops") run as passes by one
client thread in a closed loop: the next op starts when the previous
one has returned.  The seed fixes the inputs and the op order.

* ``scan_agg`` — eleven scan, join, window and aggregate queries,
  shuffled per pass.  Execution-bound: most op time is Spark jobs.
* ``curation_driver`` — driver-bound fixpoint loops and composites
  (star contraction, Lloyd iterations, LSH), shuffled per pass.  Most
  op time is driver work between and inside plan builds.
* ``lake_write`` — land a raw F1 session tree into a silver lake, seed a
  versioned ``orders`` table, run DML rounds each op followed by a
  read-back, and compact.  The write path of the lake.

A read op is one registered query (building its DataFrame, then
collecting the result with ``toPandas``) or one ``read_versioned``
read-back, collected the same way.  A write op is one ingest, DML
commit, append or compaction call.  Every read result and the ingest
row counts are checked against DuckDB (see ``check.py``) after the
pass, outside its timing.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

SCAN_QUERIES = (
    "q1_pricing_summary",
    "revenue_by_nation",
    "q3_shipping_priority",
    "grouping_sets_revenue",
    "outer_join_order_counts",
    "rank_orders_per_customer",
    "sessionize_events",
    "moving_hour_sum",
    "value_percentiles",
    "asof_join_purchase",
    "f1_lap_telemetry_summary",
)
CURATION_QUERIES = (
    "entity_resolution_clusters",
    "cc_star_contraction",
    "kmeans_exact_lloyd",
    "minhash_lsh_pairs",
)

F1_TABLES = (
    "event_info",
    "session_results",
    "laps_data",
    "lap_telemetry_summary",
    "weather_data",
    "tyre_stints_summary",
)

#: input sizes per workload; ``sf`` is the generated scale factor.  They
#: are capped by the run budget (48 runs of two workloads in 3420 s): a
#: run is a JVM start, a cold warm-up pass and a timed pass, ~55-70 s on
#: four cores at these sizes.
SCALES = {
    "scan_agg": {"sf": 0.12},
    "curation_driver": {"sf": 0.01},
    "lake_write": {"sf": 0.02, "events": 1, "drivers": 10, "laps": 12, "rounds": 1},
}
#: the self-test's sizes: same shapes, smallest inputs
TINY_SCALES = {
    "scan_agg": {"sf": 0.001},
    "curation_driver": {"sf": 0.001},
    "lake_write": {"sf": 0.001, "events": 1, "drivers": 4, "laps": 3, "rounds": 1},
}


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    run: Callable[[], object]
    key: str | None  # the expected result this op's result must match
    check: str = "digest"  # how the result is reduced: "digest" (a frame) or "dict"
    after: Callable[[], None] | None = None  # runs after the op, outside its latency


class Workload:
    """Builds the ops of each pass; ``begin_pass``/``end_pass`` run
    outside the pass timing."""

    def __init__(self, name: str, spark, inputs: dict, tracer, seed: int, work_dir: str):
        self.name = name
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.pass_stats: list[dict] = []

    def begin_pass(self, n: int) -> None:
        pass

    def end_pass(self, n: int) -> None:
        pass

    def ops(self, n: int) -> list[Op]:
        raise NotImplementedError

    def _describe(self, query: str, phase: str) -> None:
        if self.tracer.enabled:
            paused = self.tracer.py4j.calls
            self.spark.sparkContext.setJobDescription(f"{self.name}:{query}:{phase}")
            self.tracer.py4j.calls = paused


class QueryMix(Workload):
    """Registered queries over the generated tables, shuffled per pass."""

    def __init__(self, *a, queries: tuple[str, ...], **kw):
        super().__init__(*a, **kw)
        import __spark_entry__

        self.queries = queries
        self.fns = __spark_entry__.queries()
        self.plan_exchanges = 0

    def ops(self, n: int) -> list[Op]:
        order = list(self.queries)
        random.Random(self.seed * 1_000_003 + n).shuffle(order)
        return [self._op(q) for q in order]

    def _op(self, query: str) -> Op:
        fn, tables = self.fns[query], self.inputs["tables_dir"]
        built = {}

        def run():
            self._describe(query, "build")
            with self.tracer.span(query, "operators"):
                df = built["df"] = fn(self.spark, tables)
            self._describe(query, "exec")
            with self.tracer.span("spark.action", "spark"):
                return df.toPandas()

        def after():
            df = built.pop("df", None)
            if self.tracer.enabled and df is not None:
                self._count_exchanges(df)
            self.spark.catalog.clearCache()

        return Op(query, "read", run, query, after=after)

    def _count_exchanges(self, df) -> None:
        """Exchanges of the query's plan before it runs, counted after the
        op on a new, unexecuted DataFrame over the same logical plan (an
        executed adaptive plan prints its initial and final plans), so the
        op's own action still does all of its planning."""
        from f1_data_engineering_spark.plans.introspect import count_exchanges

        self.plan_exchanges += count_exchanges(df.select("*"))


class LakeWrite(Workload):
    """Ingest, seed, DML rounds with read-backs, compaction."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from f1_data_engineering_spark.schemas import TEST_TABLES

        self.orders_schema = TEST_TABLES["orders"]
        self.cols = [f.name for f in self.orders_schema.fields]

    def _dirs(self, n: int) -> tuple[str, str, str]:
        base = os.path.join(self.work_dir, f"lake-p{n}")
        return base, os.path.join(base, "silver"), os.path.join(base, "orders")

    def begin_pass(self, n: int) -> None:
        shutil.rmtree(self._dirs(n)[0], ignore_errors=True)

    def end_pass(self, n: int) -> None:
        from f1_data_engineering_spark.sources.versioned import describe_detail

        base, silver, table = self._dirs(n)
        d = describe_detail(table)
        files_on_disk = sum(1 for f in os.listdir(table) if f.endswith(".parquet"))
        user_bytes = (self.inputs["f1_bytes"] + self.inputs["orders_bytes"]
                      + self.inputs["batch_bytes"])
        lake_bytes = tree_bytes(base)
        self.pass_stats.append({
            "silver_bytes": tree_bytes(silver),
            "write_amp": lake_bytes / user_bytes,
            "space_amp": (d["size_bytes"] + d["retained_non_live_bytes"]) / d["size_bytes"],
            "versions": d["version"] + 1,
            "live_files": d["num_files"],
            "files_on_disk": files_on_disk,
        })
        shutil.rmtree(base, ignore_errors=True)

    def ops(self, n: int) -> list[Op]:
        from f1_data_engineering_spark import pipeline
        from f1_data_engineering_spark.sources import dml, versioned
        from f1_data_engineering_spark.sources.registry import load_table

        spark, inp = self.spark, self.inputs
        _, silver, table = self._dirs(n)
        steps = (f"step{i}" for i in range(len(inp["batches"]) * 5 + 1))

        def write(name: str, fn: Callable[[], object], key: str | None = None) -> Op:
            def run():
                self._describe(name, "write")
                return fn()
            return Op(name, "write", run, key, check="dict")

        def readback() -> Op:
            def run():
                self._describe("read_versioned", "read")
                df = versioned.read_versioned(spark, table)
                with self.tracer.span("spark.action", "spark"):
                    return df.toPandas()
            return Op("read_versioned", "read", run, next(steps),
                      after=spark.catalog.clearCache)

        def batch(path: str):
            return spark.read.schema(self.orders_schema).parquet(path)

        sets = {c: f"s.{c}" for c in self.cols if c != "o_orderkey"}
        ops = [
            write("ingest_session_tree", lambda: pipeline.ingest_session_tree(
                spark, inp["raw_dir"], silver, F1_TABLES), key="ingest"),
            write("seed_orders", lambda: versioned.write_versioned(
                load_table(spark, inp["tables_dir"], "orders"), table, mode="overwrite")),
        ]
        for b in inp["batches"]:
            ops += [
                write("merge_into", lambda b=b: dml.merge_into(
                    spark, table, batch(b["merge"]), on=["o_orderkey"],
                    when_matched_update=sets, when_not_matched_insert=True)),
                readback(),
                write("delete_where", lambda b=b: dml.delete_where(spark, table, b["delete"])),
                readback(),
                write("delete_where_mor",
                      lambda b=b: dml.delete_where_mor(spark, table, b["delete_mor"])),
                readback(),
                write("update_where", lambda b=b: dml.update_where(
                    spark, table, b["update"], {"o_totalprice": b["update_set"]})),
                readback(),
                write("write_versioned",
                      lambda b=b: versioned.write_versioned(batch(b["append"]), table)),
                readback(),
            ]
        ops += [
            write("compact_small_files",
                  lambda: versioned.compact_small_files(spark, table)),
            readback(),
        ]
        return ops


def make(name: str, *a, **kw) -> Workload:
    if name == "scan_agg":
        return QueryMix(name, *a, queries=SCAN_QUERIES, **kw)
    if name == "curation_driver":
        return QueryMix(name, *a, queries=CURATION_QUERIES, **kw)
    if name == "lake_write":
        return LakeWrite(name, *a, **kw)
    raise ValueError(f"unknown workload {name!r}")


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
