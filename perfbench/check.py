"""Correctness checks, run outside every timed region.

Read queries are reduced to a digest — row count, sorted column names,
per-column dtype class and an order-insensitive hash of the values —
and compared with the digest of the query's DuckDB twin from
``__spark_entry__.oracle_sql()`` run on the same input files.  The
normalisation and the dtype classes are those of
``scripts/oracle_check.py``, imported from the checkout; only -0.0 is
folded into 0.0 here, because the two compare equal there but hash
differently.

``lake_write`` replays its DML batches in DuckDB and compares the
snapshot digest after every step; the ingest row counts are compared
with the generator's.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_oracle_check():
    """``scripts/oracle_check.py`` as a module.  It puts its own
    repository path on ``sys.path`` when imported; the path is restored."""
    path = os.path.join(ROOT, "scripts", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


_oracle = _load_oracle_check()
TABLES = _oracle.TABLES


def digest(df: pd.DataFrame) -> dict:
    """Order-insensitive digest of a result frame."""
    classes = {c: _oracle._dtype_class(df[c]) for c in sorted(df.columns)}
    norm = _oracle.normalize(df)
    for c in norm.columns:
        if pd.api.types.is_float_dtype(norm[c]):
            norm[c] = norm[c] + 0.0  # -0.0 -> 0.0
    h = 0
    if len(norm):
        h = int(pd.util.hash_pandas_object(norm, index=False).to_numpy().sum(dtype=np.uint64))
    return {"rows": len(df), "columns": sorted(df.columns), "classes": classes, "hash": h}


def duckdb_for(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per test table in ``tables_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    return digest(con.execute(sql).df())


def replay_lake(seed_orders: str, batches: list[dict]) -> list[dict]:
    """Digests of ``orders`` after each step the ``lake_write`` pass reads
    back (merge, delete, MoR delete, update, append per round, then the
    compacted table), replayed in DuckDB in commit order."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{seed_orders}'")
    cols = [r[0] for r in con.execute("DESCRIBE t").fetchall()]
    sets = ", ".join(f"{c} = s.{c}" for c in cols if c != "o_orderkey")
    steps = []

    def snap():
        steps.append(digest(con.execute("SELECT * FROM t").df()))

    for b in batches:
        con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM '{b['merge']}'")
        con.execute(f"UPDATE t SET {sets} FROM s WHERE t.o_orderkey = s.o_orderkey")
        con.execute(
            "INSERT INTO t SELECT * FROM s "
            "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"
        )
        snap()
        con.execute(f"DELETE FROM t WHERE {b['delete']}")
        snap()
        con.execute(f"DELETE FROM t WHERE {b['delete_mor']}")
        snap()
        con.execute(f"UPDATE t SET o_totalprice = {b['update_set']} WHERE {b['update']}")
        snap()
        con.execute(f"INSERT INTO t SELECT * FROM '{b['append']}'")
        snap()
    steps.append(steps[-1])  # compaction changes layout, not rows
    con.close()
    return steps

