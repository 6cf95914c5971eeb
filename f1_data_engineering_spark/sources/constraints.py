"""CHECK constraints for the versioned lake: declarative write-time
data-quality gates, enforced on EVERY path that lands rows (append,
overwrite, streaming sink micro-batches, CoW DML rewrites, merge
inserts) — the Delta `ALTER TABLE ADD CONSTRAINT` surface for the
mini-format (the reference has no table format at all; its closest
shape is ad-hoc dropna/astype scattered through
src/transform/f1_dataTransformer.py).

Semantics (SQL CHECK, like Delta):

* a row VIOLATES a constraint iff the expression evaluates to FALSE —
  NULL satisfies (unknown ≠ failed; use ``col IS NOT NULL`` for
  NOT-NULL gates);
* ``add_constraint`` validates the EXISTING snapshot first — a
  constraint that current data already violates is refused, so a
  reader can trust that every live row of a constrained table
  satisfies every constraint in effect;
* constraint state is carried in the transaction log as metadata-only
  commits (``set_constraint`` / ``drop_constraint``: no files,
  ``data_change=False``) — versioned like everything else, so time
  travel shows the constraint set of the era, and incremental readers
  skip the commits entirely;
* enforcement cost is ONE extra validation pass over the rows being
  written (all constraints folded into a single OR-of-violations
  filter + limited collect), zero when no constraints exist; the
  staged files are never published on violation, so a failed write
  leaves no new version and no visible garbage.

Concurrency: both sides commit through ``versioned._commit``, and
their re-checks run in its ``build`` callback, against the same entry
list that decides the version.  A write's build re-validates its
STAGED files when the constraint set moved; an ``add_constraint``'s
build re-validates the snapshot when a data commit landed after its
validation.  Whichever commits second therefore sees the first —
there is no interleaving where a violating write and the constraint
both commit (soaked in tests/test_concurrency_soak.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import _commit, _entries, read_versioned

__all__ = [
    "ConstraintViolationError",
    "add_constraint",
    "constraints_from_entries",
    "drop_constraint",
    "table_constraints",
    "validate_constraints",
]


class ConstraintViolationError(ValueError):
    """Rows being written (or already live, for ``add_constraint``)
    evaluate a CHECK constraint to FALSE."""


def constraints_from_entries(es: list[dict]) -> dict[str, str]:
    """Constraint name → expression replayed from already-read log
    entries — commit builds re-derive the in-effect set from the SAME
    entry list that decides their commit version, so a concurrent
    ``add_constraint`` is detected atomically with the version race."""
    out: dict[str, str] = {}
    for e in es:
        if e["action"] == "set_constraint":
            out[e["constraint"]["name"]] = e["constraint"]["expr"]
        elif e["action"] == "drop_constraint":
            out.pop(e["constraint"]["name"], None)
    return out


def table_constraints(path: str, version: int | None = None) -> dict[str, str]:
    """Constraint name → expression in effect at ``version`` (default
    head), replayed from the log's set/drop metadata commits."""
    es = _entries(path)
    if version is not None:
        es = [e for e in es if e["version"] <= version]
    return constraints_from_entries(es)


def validate_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """Raise :class:`ConstraintViolationError` if any row of ``df``
    evaluates any constraint to FALSE (NULL satisfies — SQL CHECK).
    One job: all constraints fold into a single OR-of-violations
    filter; the collect is capped at one example row."""
    if not constraints:
        return
    violated = None
    for expr in constraints.values():
        v = ~F.coalesce(F.expr(expr), F.lit(True))
        violated = v if violated is None else (violated | v)
    bad = df.filter(violated).limit(1).collect()
    if bad:
        raise ConstraintViolationError(
            f"CHECK constraint violated by written data "
            f"(constraints: {constraints}; example row: {bad[0].asDict()})"
        )


def _commit_meta(
    path: str,
    action: str,
    constraint: dict,
    revalidate=None,
    validated_head: int | None = None,
) -> int:
    """Metadata-only commit (no files, data_change=False) through
    ``versioned._commit``.

    ``revalidate`` (set_constraint only): callable(es) re-checking the
    constraint against the snapshot described by ``es``; the commit's
    build invokes it whenever a DATA commit landed after
    ``validated_head`` — so a violating write racing the ADD is seen
    before the constraint version links, and the serializable outcome
    holds in both orders (the write's own build re-checks constraints
    symmetrically — sources/versioned.py write_versioned)."""
    entry = {
        "action": action,
        "files": [],
        "n_rows": 0,
        "data_change": False,
        "constraint": constraint,
        "op": {"op": action, **constraint},
    }

    def build(es: list[dict]) -> dict:
        nonlocal validated_head
        if revalidate is not None and (
            validated_head is None
            or any(
                e["version"] > validated_head and e.get("data_change", True)
                for e in es
            )
        ):
            revalidate(es)
            validated_head = es[-1]["version"] if es else -1
        return entry

    return _commit(path, build)


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """``ALTER TABLE <t> ADD CONSTRAINT <name> CHECK (<expr>)``:
    validates the CURRENT snapshot (a constraint existing data already
    violates is refused — Delta semantics), then commits the
    constraint as a metadata-only version.  Returns the version."""
    es0 = _entries(path)
    if name in constraints_from_entries(es0):
        raise ValueError(
            f"constraint {name!r} already exists on {path}; drop it first"
        )
    validate_constraints(read_versioned(spark, path), {name: expr})

    def _revalidate(es: list[dict]) -> None:
        validate_constraints(read_versioned(spark, path), {name: expr})

    return _commit_meta(
        path,
        "set_constraint",
        {"name": name, "expr": expr},
        revalidate=_revalidate,
        validated_head=es0[-1]["version"] if es0 else -1,
    )


def drop_constraint(path: str, name: str) -> int:
    """``ALTER TABLE <t> DROP CONSTRAINT <name>``; returns the new
    version.  Raises if the constraint does not exist (typo safety)."""
    if name not in table_constraints(path):
        raise ValueError(f"no constraint {name!r} on {path}")
    return _commit_meta(path, "drop_constraint", {"name": name})
