"""End-to-end F1 lakehouse pipeline — EP1/EP2 orchestration
(SURVEY.md §7.7) as idempotent Spark jobs.

The reference's triple-nested driver loop (year → event → session,
f1_dataExtractor.py:363-405) with a 5 s sleep per session becomes:
land raw → one lazy transform per table → dynamic-partition-overwrite
parquet.  Re-running a session overwrites exactly that session's
partitions (idempotent); sibling sessions are untouched.

The network fetch itself (FastF1) stays outside the engine — sources
here are landed CSV trees, which is also what this container has.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .sources.csvio import null_token_sql
from .sources.f1_compat import typed_projection
from .sources.parquetio import write_partitioned

__all__ = ["ingest_session_tree", "SESSION_KEYS"]

SESSION_KEYS = ("Year", "EventName", "SessionKey")

#: ``<year>/<event>/<session>/<table>.csv``: the partition values are
#: the 4th-, 3rd- and 2nd-last components of each row's file path.
_PATH_KEYS_SQL = (
    "try_cast(element_at(split(input_file_name(), '/'), -4) AS INT) AS Year",
    "element_at(split(input_file_name(), '/'), -3) AS EventName",
    "element_at(split(input_file_name(), '/'), -2) AS SessionKey",
)


def ingest_session_tree(
    spark: SparkSession, raw_dir: str, lake_dir: str, tables: tuple[str, ...]
) -> dict[str, int]:
    """Ingest every ``<year>/<event>/<session>/<table>.csv`` under
    ``raw_dir`` into the partitioned silver lake; returns rows written
    per table.

    Partition columns are derived from the file path
    (``input_file_name``), replacing the reference's per-directory
    Python loop.  Each table's plan is SQL text — the null-token
    normalisation and the path columns in one select over the scan,
    then :func:`~.sources.f1_compat.typed_projection` — so building it
    costs a handful of py4j round trips, not one per expression node.
    Each table runs two jobs: the CSV header read and the write; the
    row count is an ``Observation`` on the written frame, not a second
    scan.
    """
    keys = {k.lower() for k in SESSION_KEYS}
    counts: dict[str, int] = {}
    for table in tables:
        pattern = os.path.join(raw_dir, "*", "*", "*", f"{table}.csv")
        raw = spark.read.option("header", True).csv(pattern)
        data = [c for c in raw.columns if c.lower() not in keys]
        typed, _ = typed_projection(
            raw.selectExpr(*null_token_sql(data), *_PATH_KEYS_SQL), table
        )
        written = Observation()
        write_partitioned(
            typed.observe(written, F.count(F.lit(1)).alias("rows")),
            os.path.join(lake_dir, table),
            SESSION_KEYS,
        )
        counts[table] = written.get["rows"]
    return counts
