"""Quoting for expressions handed to Spark as SQL text.

A projection passed to ``selectExpr`` as strings costs one py4j round
trip per select; the same projection built as ``Column`` trees costs
one per node.  Text built from names and values that come from outside
the program (CSV headers, null tokens, regexes) goes through these two
quoters.
"""

from __future__ import annotations

__all__ = ["ident", "string"]


def ident(name: str) -> str:
    """Backtick-quoted identifier; a backtick inside is doubled."""
    return "`" + name.replace("`", "``") + "`"


def string(value: str) -> str:
    """Single-quoted string literal, backslash-escaped as Spark's parser
    reads it (``spark.sql.parser.escapedStringLiterals=false``, the
    default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
