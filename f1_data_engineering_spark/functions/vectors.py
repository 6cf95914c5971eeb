"""Vector expression library (beyond-reference scope).

Dense-embedding math over ``array<float>`` columns using higher-order
functions (``zip_with`` / ``aggregate``) — JVM-side, no Python in the
row loop.  Used by the similarity-search and embedding-dedup operators.

At 100 TB these expressions run inside the scan stage (no shuffle), so
brute-force scoring is bandwidth-bound, which is exactly what you want;
the candidate-reduction strategies (LSH bucketing, IVF) live in
operators/similarity.py.

Arguments are SQL references to array columns (a name, or
``alias.name`` after a self-join).  Each formula is one SQL text
(``*_sql``); the Column builders are ``F.expr`` of it, and operators
splice the text into their own ``selectExpr`` projections.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "dot_sql", "l2_norm", "l2_norm_sql", "cosine_similarity"]


def dot_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ via zip_with + aggregate (double accumulator)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def dot(a: str, b: str) -> Column:
    """:func:`dot_sql` as a Column."""
    return F.expr(dot_sql(a, b))


def l2_norm_sql(a: str) -> str:
    """‖a‖₂ = sqrt(Σ aᵢ²)."""
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def l2_norm(a: str) -> Column:
    """:func:`l2_norm_sql` as a Column."""
    return F.expr(l2_norm_sql(a))


def cosine_similarity(a: str, b: str) -> Column:
    """cos(a, b) = a·b / (‖a‖‖b‖); zero-norm inputs → NULL."""
    denom = f"{l2_norm_sql(a)} * {l2_norm_sql(b)}"
    return F.expr(
        f"CASE WHEN {denom} > 0 THEN {dot_sql(a, b)} / ({denom}) "
        "ELSE CAST(NULL AS DOUBLE) END"
    )
