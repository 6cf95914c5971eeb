"""CSV scan layer — SURVEY.md S7/S8.

The reference reads CSV two ways:

* all-string with an explicit null-token list, to suppress pandas
  auto-coercion before its own typed parse
  (reference: src/transform/f1_dataTransformer.py:132-134);
* schema-inferring with defaults for the dashboard
  (reference: streamlit_app.py:14-31).

Both are reproduced as thin wrappers over ``spark.read.csv``.  Spark's
CSV ``nullValue`` option accepts one token, so the 17-token list is
applied as a post-scan projection, one ``CASE … IN (…)`` per column,
handed to Spark as SQL text (:func:`null_token_sql`): one py4j round
trip per select whatever the width, where the same projection built as
``Column`` trees cost one per node, about 160 per column.
Headers come from outside the program, so every name is
backtick-quoted and every token is a quoted literal.  The projection
is whole-stage-codegen'd — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sqltext import ident, string

__all__ = ["NULL_TOKENS", "null_token_sql", "read_csv_all_string", "read_csv_inferred"]

#: Null spellings the reference treats as missing — the EXACT,
#: CASE-SENSITIVE na_values list passed to pd.read_csv at
#: src/transform/f1_dataTransformer.py:132-134.  Values like '?',
#: 'NONE' or 'Nat' are ordinary data there and survive the scan, so
#: they survive here too (an earlier case-insensitive superset was a
#: silent divergence).
NULL_TOKENS = (
    "",
    "#N/A",
    "#N/A N/A",
    "#NA",
    "-1.#IND",
    "-1.#QNAN",
    "-NaN",
    "-nan",
    "1.#IND",
    "1.#QNAN",
    "<NA>",
    "N/A",
    "NULL",
    "NaN",
    "None",
    "nan",
    "null",
)


def null_token_sql(columns: list[str], tokens: tuple[str, ...] = NULL_TOKENS) -> list[str]:
    """One select item per column mapping the reference's token
    spellings (case-sensitive, untrimmed — pandas na_values semantics)
    to SQL NULL, as SQL text for ``selectExpr``.  NULL input needs no
    arm of its own: ``NULL IN (…)`` is not true, so it stays NULL."""
    in_list = ", ".join(string(t) for t in tokens)
    return [
        f"CASE WHEN {ident(c)} IN ({in_list}) THEN NULL ELSE {ident(c)} END AS {ident(c)}"
        for c in columns
    ]


def read_csv_all_string(
    spark: SparkSession, path: str, recursive: bool = False
) -> DataFrame:
    """S7: every column StringType, null tokens → NULL; no inference.

    ``recursive=True`` also covers S6 (the transformer's ``os.walk`` over
    the year/event/session tree, f1_dataTransformer.py:219-228) via
    Spark's recursiveFileLookup.
    """
    raw = (
        spark.read.option("header", True)
        .option("recursiveFileLookup", str(recursive).lower())
        .csv(path)
    )
    return raw.selectExpr(*null_token_sql(raw.columns))


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """S8: header + inferSchema read (dashboard-style, streamlit_app.py:19)."""
    return spark.read.option("header", True).option("inferSchema", True).csv(path)
