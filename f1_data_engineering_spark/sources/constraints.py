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

Concurrency: both sides re-check inside the lake's one commit protocol
(``versioned._commit``), against the same entry list that decides their
version.  A write — append, overwrite, streaming micro-batch, or a CoW
UPDATE / MERGE / DELETE rewrite — whose commit attempt sees a
constraint set differing from the one it validated re-validates its
STAGED files before linking (``_staged_rows_check``); an
``add_constraint`` whose commit attempt sees a data commit after its
validation re-validates the snapshot before linking.  Whichever commits
second therefore sees the first — there is no interleaving where a
violating write and the constraint both commit (soaked in
tests/test_concurrency_soak.py; the DML side in
tests/test_constraints.py).
"""

from __future__ import annotations

import os

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
    entries — the commit loops re-derive the in-effect set from the
    SAME entry list that decides their commit version, so a concurrent
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


def _staged_rows_check(
    df: DataFrame, path: str, files: list[str], validated: dict[str, str]
):
    """Commit check (``versioned._commit``) for a write that validated
    ``df`` against the constraint set ``validated`` and staged it as
    ``files``: whenever the set in effect in the attempt's log differs,
    re-validate the STAGED rows (the on-disk files, not the possibly
    recomputable ``df``) before linking.  Appends, overwrites, the
    streaming sink and the CoW DML rewrites all commit through it."""

    def check(es: list[dict]) -> None:
        nonlocal validated
        now = constraints_from_entries(es)
        if files and now != validated:  # no staged rows: nothing to violate
            staged = df.sparkSession.read.schema(df.schema).parquet(
                *[os.path.join(path, f) for f in files]
            )
            validate_constraints(staged, now)
            validated = now

    return check


def _commit_meta(path: str, action: str, constraint: dict, check=None) -> int:
    """Metadata-only commit (no files, data_change=False) through the
    lake's one commit protocol (``versioned._commit``)."""
    entry = {
        "action": action,
        "files": [],
        "n_rows": 0,
        "data_change": False,
        "constraint": constraint,
        "op": {"op": action, **constraint},
    }
    return _commit(path, entry, check=check)


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """``ALTER TABLE <t> ADD CONSTRAINT <name> CHECK (<expr>)``:
    validates the CURRENT snapshot (a constraint existing data already
    violates is refused — Delta semantics), then commits the
    constraint as a metadata-only version.  Returns the version.

    The commit check re-validates the snapshot whenever a DATA commit
    landed after the last validation — so a violating write racing the
    ADD is seen before the constraint version links."""
    es0 = _entries(path)
    if name in constraints_from_entries(es0):
        raise ValueError(
            f"constraint {name!r} already exists on {path}; drop it first"
        )
    validate_constraints(read_versioned(spark, path), {name: expr})
    validated_head = es0[-1]["version"] if es0 else -1

    def revalidate(es: list[dict]) -> None:
        nonlocal validated_head
        if any(
            e["version"] > validated_head and e.get("data_change", True)
            for e in es
        ):
            validate_constraints(read_versioned(spark, path), {name: expr})
            validated_head = es[-1]["version"]

    return _commit_meta(
        path, "set_constraint", {"name": name, "expr": expr}, revalidate
    )


def drop_constraint(path: str, name: str) -> int:
    """``ALTER TABLE <t> DROP CONSTRAINT <name>``; returns the new
    version.  Raises if the constraint does not exist (typo safety)."""
    if name not in table_constraints(path):
        raise ValueError(f"no constraint {name!r} on {path}")
    return _commit_meta(path, "drop_constraint", {"name": name})
