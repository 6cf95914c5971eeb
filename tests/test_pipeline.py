"""End-to-end ingest test: raw CSV session tree → partitioned typed
silver lake, idempotent re-runs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from f1_data_engineering_spark.pipeline import ingest_session_tree
from f1_data_engineering_spark.sources.csvio import NULL_TOKENS
from f1_data_engineering_spark.sources.f1_compat import (
    ISO_STRING_COLUMNS_TO_DATETIME,
    NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA,
    STRING_COLUMNS_TO_TIMEDELTA,
)


def _write_session(root, year, event, session, rows):
    d = root / str(year) / event / session
    d.mkdir(parents=True, exist_ok=True)
    (d / "session_results.csv").write_text(
        "Driver,Time,Q1,Interval\n" + "\n".join(rows) + "\n"
    )


def test_ingest_session_tree(spark, tmp_path):
    raw = tmp_path / "raw"
    lake = tmp_path / "lake"
    _write_session(raw, 2024, "Bahrain_Grand_Prix", "R",
                   ["VER,01:30:45:123,01:05:123,12.345",
                    "HAM,01:30:50:000,01:06:000,17.222"])
    _write_session(raw, 2024, "Bahrain_Grand_Prix", "Q",
                   ["VER,00:20:00:000,01:04:000,0.0"])

    counts = ingest_session_tree(
        spark, str(raw), str(lake), tables=("session_results",)
    )
    assert counts["session_results"] == 3

    back = spark.read.parquet(os.path.join(str(lake), "session_results"))
    assert back.count() == 3
    # typed silver: Time is double seconds, partition cols present
    row = back.filter(
        (F.col("Driver") == "VER") & (F.col("SessionKey") == "R")
    ).collect()[0]
    assert row["Time"] == 5445.123
    assert row["Q1"] == 65.123
    assert row["Interval"] == 12.345
    assert row["Year"] == 2024 and row["EventName"] == "Bahrain_Grand_Prix"

    # idempotent re-run of ONE session leaves the other intact
    _write_session(raw, 2024, "Bahrain_Grand_Prix", "R",
                   ["VER,01:30:45:123,01:05:123,99.0"])
    ingest_session_tree(spark, str(raw), str(lake), tables=("session_results",))
    back2 = spark.read.parquet(os.path.join(str(lake), "session_results"))
    q_rows = back2.filter(F.col("SessionKey") == "Q").count()
    assert q_rows == 1  # Q partition untouched


# --- six-table tree: every mapped duration, ISO and numeric column -------

SIX_TABLES = (
    "event_info",
    "session_results",
    "laps_data",
    "lap_telemetry_summary",
    "weather_data",
    "tyre_stints_summary",
)


def _mapped(table):
    return (
        list(STRING_COLUMNS_TO_TIMEDELTA.get(table, {}))
        + ISO_STRING_COLUMNS_TO_DATETIME.get(table, [])
        + NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA.get(table, [])
    )


def _value(table, col):
    fmt = STRING_COLUMNS_TO_TIMEDELTA.get(table, {}).get(col)
    if fmt:  # both input shapes, keyed off the column's output format
        return {"mmssms": "01:05:123", "hhmmssms": "01:30:45:123"}[fmt]
    if col in ISO_STRING_COLUMNS_TO_DATETIME.get(table, []):
        return "2024-03-02T15:00:00"
    return "12.345"


def _write_six_table_tree(root):
    """Two sessions of all six tables; mapped columns carry parseable
    values, plus one unmapped ``Driver`` column per table."""
    for s in ("Q", "R"):
        d = root / "2024" / "Bahrain_Grand_Prix" / s
        d.mkdir(parents=True, exist_ok=True)
        for t in SIX_TABLES:
            cols = ["Driver"] + _mapped(t)
            rows = [",".join([drv] + [_value(t, c) for c in cols[1:]]) for drv in ("VER", "HAM")]
            (d / f"{t}.csv").write_text(",".join(cols) + "\n" + "\n".join(rows) + "\n")


def test_ingest_compiles_without_codegen_fallback(spark, tmp_path):
    """With fallback off, a generated method over the JVM's 64 KB limit
    raises instead of silently running interpreted.  laps_data's eleven
    duration columns once did exactly that when each parse inlined its
    trim/split operands into every arm."""
    raw, lake = tmp_path / "raw", tmp_path / "lake"
    _write_six_table_tree(raw)
    before = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        counts = ingest_session_tree(spark, str(raw), str(lake), SIX_TABLES)
    finally:
        spark.conf.set("spark.sql.codegen.fallback", before)
    assert counts == {t: 4 for t in SIX_TABLES}
    laps = spark.read.parquet(os.path.join(str(lake), "laps_data")).collect()
    assert {r["LapTime"] for r in laps} == {65.123}
    assert {r["LapStartTime"] for r in laps} == {5445.123}
    ev = spark.read.parquet(os.path.join(str(lake), "event_info")).collect()[0]
    assert ev["EventDate"] is not None and ev["Year"] == 2024
    tel = spark.read.parquet(os.path.join(str(lake), "lap_telemetry_summary")).collect()
    assert {r["TelemetryLapStartTime_seconds"] for r in tel} == {12.345}


def test_ingest_keeps_awkward_header_names(spark, tmp_path):
    """CSV headers come from outside the program: a space, a dot and a
    backtick must land under their own names, in mapped and unmapped
    tables alike; a column named like a partition key yields to the
    value from the path."""
    raw, lake = tmp_path / "raw", tmp_path / "lake"
    d = raw / "2024" / "Spa" / "R"
    d.mkdir(parents=True)
    odd = ["Team Name", "Gap.s", "a`b"]
    for t in ("session_results", "tyre_stints_summary"):
        (d / f"{t}.csv").write_text(
            ",".join(["Driver", "Q1", *odd, "year"])
            + "\nVER,01:05:123,Red Bull,1.5,x,1999\n"
        )
    ingest_session_tree(
        spark, str(raw), str(lake), ("session_results", "tyre_stints_summary")
    )
    for t, q1 in (("session_results", 65.123), ("tyre_stints_summary", "01:05:123")):
        back = spark.read.parquet(os.path.join(str(lake), t))
        assert set(odd) <= set(back.columns)
        row = back.collect()[0].asDict()
        assert (row["Team Name"], row["Gap.s"], row["a`b"]) == ("Red Bull", "1.5", "x")
        assert row["Q1"] == q1  # parsed only where the table maps it
        assert row["Year"] == 2024 and "year" not in back.columns


def test_ingest_nulls_every_token_and_keeps_near_misses(spark, tmp_path):
    """Every NULL_TOKENS spelling becomes NULL through ingest; the
    near-misses the reference keeps as data survive unchanged."""
    raw, lake = tmp_path / "raw", tmp_path / "lake"
    d = raw / "2024" / "Spa" / "R"
    d.mkdir(parents=True)
    near = ["?", "NONE", "Nat", " nan"]
    values = [(f"t{i}", tok) for i, tok in enumerate(NULL_TOKENS)]
    values += [(f"n{i}", v) for i, v in enumerate(near)]
    (d / "tyre_stints_summary.csv").write_text(
        "Driver,Compound\n" + "\n".join(f"{k},{v}" for k, v in values) + "\n"
    )
    counts = ingest_session_tree(spark, str(raw), str(lake), ("tyre_stints_summary",))
    assert counts == {"tyre_stints_summary": len(values)}
    back = spark.read.parquet(os.path.join(str(lake), "tyre_stints_summary"))
    got = {r["Driver"]: r["Compound"] for r in back.collect()}
    assert {k: got[k] for k, _ in values[: len(NULL_TOKENS)]} == {
        f"t{i}": None for i in range(len(NULL_TOKENS))
    }
    assert [got[f"n{i}"] for i in range(len(near))] == near


def test_ingest_py4j_budget(spark, tmp_path, monkeypatch):
    """Each table's plan is SQL text, so ingest costs a few dozen py4j
    sends per table (GC detach commands, ``m\\nd\\n``, excluded).  Built
    one Column node at a time it cost ~24k on this shape."""
    from py4j.java_gateway import GatewayClient

    raw, lake = tmp_path / "raw", tmp_path / "lake"
    _write_six_table_tree(raw)
    sends = []
    orig = GatewayClient.send_command

    def counting(client, command, *a, **kw):
        if not command.startswith("m\nd\n"):
            sends.append(command)
        return orig(client, command, *a, **kw)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    ingest_session_tree(spark, str(raw), str(lake), SIX_TABLES)
    monkeypatch.undo()
    assert len(sends) <= 1000, len(sends)
