"""EP2 compatibility transform — the reference's normalizing CSV
round-trip (src/transform/f1_dataTransformer.py:96-207) as one lazy
Spark dataflow.

Semantics reproduced exactly:

* duration-string columns parse format-agnostically (F9) and re-emit
  in the TARGET format of the column map — e.g. session_results
  Q1/Q2/Q3 arrive ``MM:SS:mmm`` from the extractor
  (f1_dataExtractor.py:188-189) and leave ``HH:MM:SS:mmm``
  (f1_dataTransformer.py:101);
* ISO strings → timestamps (coerce-to-null);
* numeric-seconds columns (Interval, TelemetryLapStartTime_seconds) →
  seconds, re-emitted ``HH:MM:SS:mmm``;
* formatters TRUNCATE (F10/F11, ``int(total_seconds()*1000)``);
* a file with no mapped columns is skipped entirely (work elision,
  f1_dataTransformer.py:199-200).

Architecture note: in the lakehouse design this stage is the
bronze→silver hop — the typed frame (double seconds / timestamps) is
the real product and lands in Parquet; the formatted CSV is a
compatibility sink for consumers of the reference's file format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.sqltext import ident
from ..functions.timefmt import (
    duration_operands_sql,
    duration_sql,
    fmt_hhmmssms,
    fmt_mmssms,
)
from .csvio import read_csv_all_string

__all__ = [
    "STRING_COLUMNS_TO_TIMEDELTA",
    "ISO_STRING_COLUMNS_TO_DATETIME",
    "NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA",
    "typed_projection",
    "transform_table",
    "transform_csv_tree",
]

#: table → {duration-string column: OUTPUT format key}
#: (f1_dataTransformer.py:98-110; keys are output formats — inputs are
#: auto-detected by the parser)
STRING_COLUMNS_TO_TIMEDELTA: dict[str, dict[str, str]] = {
    "session_results": {
        "Time": "hhmmssms",
        "Q1": "hhmmssms",
        "Q2": "hhmmssms",
        "Q3": "hhmmssms",
    },
    "laps_data": {
        "LapTime": "mmssms",
        "Sector1Time": "mmssms",
        "Sector2Time": "mmssms",
        "Sector3Time": "mmssms",
        "Time": "hhmmssms",
        "PitInTime": "hhmmssms",
        "PitOutTime": "hhmmssms",
        "Sector1SessionTime": "hhmmssms",
        "Sector2SessionTime": "hhmmssms",
        "Sector3SessionTime": "hhmmssms",
        "LapStartTime": "hhmmssms",
    },
    "weather_data": {"Time": "hhmmssms"},
}

#: (f1_dataTransformer.py:114-116)
ISO_STRING_COLUMNS_TO_DATETIME: dict[str, list[str]] = {
    "event_info": ["EventDate", "SessionStartDateLocalISO", "SessionStartDateUTCISO"],
}

#: (f1_dataTransformer.py:119-122); output defaults to hhmmssms
NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA: dict[str, list[str]] = {
    "session_results": ["Interval"],
    "lap_telemetry_summary": ["TelemetryLapStartTime_seconds"],
}

_FORMATTERS = {
    "hhmmssms": lambda c: fmt_hhmmssms(c, rounding="trunc"),
    "mmssms": lambda c: fmt_mmssms(c, rounding="trunc"),
}


def typed_projection(df: DataFrame, table: str) -> tuple[DataFrame, int]:
    """All-string frame → (typed silver frame, #columns transformed),
    as SQL text, one ``selectExpr`` per level.

    A lower level computes each duration column's operands once, as
    helper columns; the upper one applies the F9 grammar to them (see
    the perf note on :func:`~..functions.timefmt.parse_f1_duration`),
    types the ISO and numeric-seconds columns, and drops the helpers.
    """
    cols = df.columns
    durations = [c for c in STRING_COLUMNS_TO_TIMEDELTA.get(table, {}) if c in cols]
    iso = [c for c in ISO_STRING_COLUMNS_TO_DATETIME.get(table, []) if c in cols]
    numeric = [c for c in NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA.get(table, []) if c in cols]
    if not (durations or iso or numeric):
        return df, 0
    # helper names longer than every column name cannot collide with one
    pad = "_" * (1 + max(map(len, cols)))
    helpers = {c: (ident(f"{pad}s{i}"), ident(f"{pad}p{i}")) for i, c in enumerate(durations)}
    if helpers:
        df = df.selectExpr("*", *(
            f"{e} AS {h}"
            for c, hs in helpers.items()
            for e, h in zip(duration_operands_sql(c), hs)
        ))

    def item(c: str) -> str:
        q = ident(c)
        if c in helpers:
            return f"{duration_sql(*helpers[c])} AS {q}"
        if c in iso:
            # try_to_timestamp = pd.to_datetime(errors='coerce'): ANSI
            # to_timestamp would throw on malformed input
            return f"try_to_timestamp({q}) AS {q}"
        if c in numeric:
            return f"try_cast({q} AS DOUBLE) AS {q}"
        return q

    return df.selectExpr(*map(item, cols)), len(durations) + len(iso) + len(numeric)


def transform_table(df: DataFrame, table: str) -> tuple[DataFrame, DataFrame, int]:
    """All-string frame → (typed silver frame, compat-formatted frame,
    #columns transformed).

    The typed frame holds double seconds / timestamps (the engine's
    canonical representation, :func:`typed_projection`); the compat
    frame re-serializes exactly as the reference's transformer writes
    its output CSVs.
    """
    typed, n = typed_projection(df, table)
    out_formats = {
        **{c: "hhmmssms" for c in NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA.get(table, [])},
        **STRING_COLUMNS_TO_TIMEDELTA.get(table, {}),
    }
    cols = set(typed.columns)
    compat = typed.withColumns(
        {c: _FORMATTERS[k](c) for c, k in out_formats.items() if c in cols}
    )
    return typed, compat, n


def transform_csv_tree(
    spark: SparkSession, input_dir: str, output_dir: str
) -> dict[str, int]:
    """S6 + EP2: walk the ``<year>/<event>/<session>/<table>.csv`` tree
    (recursive lookup replaces os.walk, f1_dataTransformer.py:219-228),
    transform each known table, mirror the layout to ``output_dir``.
    Files with no mapped columns are skipped (reference behavior).

    Returns {table: columns_transformed}.
    """
    stats: dict[str, int] = {}
    tables = (
        set(STRING_COLUMNS_TO_TIMEDELTA)
        | set(ISO_STRING_COLUMNS_TO_DATETIME)
        | set(NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA)
    )
    for table in sorted(tables):
        pattern = os.path.join(input_dir, "*", "*", "*", f"{table}.csv")
        try:
            raw = read_csv_all_string(spark, pattern)
        except Exception:
            continue
        _, compat, n = transform_table(raw, table)
        if n == 0:
            continue
        stats[table] = n
        (
            compat.write.mode("overwrite")
            .option("header", True)
            .csv(os.path.join(output_dir, table))
        )
    return stats
