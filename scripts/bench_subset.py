"""Quick min-of-N A/B bench of a query subset (noop sink, same
methodology as bench.py).

Usage:
    python scripts/bench_subset.py [-nN] query [query ...]

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
Prints one JSON line {name: min_sec, ...} plus per-run times on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod
from f1_data_engineering_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    n_runs = 2
    if args and args[0].startswith("-n"):
        n_runs = int(args[0][2:])
        args = args[1:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="bench-subset",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    qs = entry_mod.queries()
    # warm-up: JVM + codegen + parquet footers
    qs["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    times: dict[str, float] = {}
    for _ in range(n_runs):
        for name in names:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            times[name] = round(min(times.get(name, float("inf")), dt), 3)
            print(f"bench {name}: {dt:.3f}s", file=sys.stderr, flush=True)
    print(json.dumps(times), flush=True)


if __name__ == "__main__":
    main()
