"""Table constraints — UNIQUE / CHECK / NOT NULL, Spark-first.

The reference has a full constraint model — ``Unique { columns }``,
``Check { expression, compiled_expr }``, ``NotNull { column }``
(crates/driftdb-core/src/constraints.rs:10-34) — and registers inline
``UNIQUE`` as an implicit unique index at CREATE TABLE
(sql_bridge.rs:5748-5751, :6150).

Here each constraint compiles to a *distributed validation plan* run
against the staged batch before anything publishes, instead of the
reference's row-at-a-time interpreter:

- **NOT NULL**: one ``isNull`` filter per declared column — a map-only
  plan, no shuffle.
- **CHECK**: the expression string goes straight to Catalyst as a filter
  (``expr IS FALSE`` is the violation — SQL semantics pass on TRUE *and*
  NULL, exactly PostgreSQL / the reference's tri-state evaluate).
- **UNIQUE**: a semi-join of the batch's key tuples against current state
  plus a within-batch ``groupBy().count()>1`` check — the same anti-join
  shape as the existing PK-uniqueness gate, generalized to declared
  column lists. SQL UNIQUE admits multiple NULLs (NULL ≠ NULL), which the
  plain equality join gives for free: a NULL key never matches.

All checks are batch-level DataFrame jobs: O(batch ⋈ state) with the
state side reduced to the key columns, so at 100 TB the join is on a
projected, shuffle-pruned key set — never a driver-side row loop.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConstraintViolation(ValueError):
    """A staged batch violates a declared table constraint; nothing was
    published (reference returns its constraint error before applying
    events, constraints.rs validate paths)."""


@dataclass
class TableConstraints:
    """Declared constraints of one table (reference ConstraintType,
    constraints.rs:10-34 — Unique/Check/NotNull/Default; PK and FK live
    elsewhere in the session). ``unique_names`` parallels ``uniques`` so
    DDL-added constraints can be dropped by name; ``defaults`` maps
    column → SQL default expression, applied when an INSERT omits the
    column (reference Default constraint, constraints.rs:30-33)."""

    uniques: list[list[str]] = field(default_factory=list)
    unique_names: list[str | None] = field(default_factory=list)
    checks: list[tuple[str, str]] = field(default_factory=list)  # (name, expr)
    not_null: list[str] = field(default_factory=list)
    defaults: dict[str, str] = field(default_factory=dict)  # col -> SQL expr

    def is_empty(self) -> bool:
        """No *validating* constraints (defaults fill values, they never
        reject — callers that only gate writes may skip when empty)."""
        return not (self.uniques or self.checks or self.not_null)

    def add_unique(self, cols: list[str], name: str | None = None) -> None:
        while len(self.unique_names) < len(self.uniques):
            self.unique_names.append(None)
        self.uniques.append(list(cols))
        self.unique_names.append(name)

    def drop_named(self, name: str) -> bool:
        """Remove a named CHECK or UNIQUE constraint; True if found."""
        for i, (n, _e) in enumerate(self.checks):
            if n == name:
                del self.checks[i]
                return True
        for i, n in enumerate(self.unique_names):
            if n == name:
                del self.uniques[i]
                del self.unique_names[i]
                return True
        return False

    def to_catalog(self) -> dict:
        return {
            "uniques": [list(u) for u in self.uniques],
            "unique_names": list(self.unique_names),
            "checks": [list(c) for c in self.checks],
            "not_null": list(self.not_null),
            "defaults": dict(self.defaults),
        }

    @classmethod
    def from_catalog(cls, meta: dict) -> "TableConstraints":
        uniques = [list(u) for u in meta.get("uniques", [])]
        names = list(meta.get("unique_names", []))
        names += [None] * (len(uniques) - len(names))
        return cls(
            uniques=uniques,
            unique_names=names,
            checks=[(c[0], c[1]) for c in meta.get("checks", [])],
            not_null=list(meta.get("not_null", [])),
            defaults=dict(meta.get("defaults", {})),
        )


def check_not_null(table: str, cons: TableConstraints, rows: DataFrame) -> None:
    """Reject the batch if any declared NOT NULL column holds a NULL
    (reference constraints.rs NotNull validation)."""
    for col in cons.not_null:
        if col not in rows.columns:
            # An INSERT whose column list omits a NOT NULL column writes
            # NULL for it — same violation, caught before staging.
            if rows.isEmpty():
                continue
            raise ConstraintViolation(
                f'null value in column "{col}" of relation "{table}" '
                f"violates not-null constraint"
            )
        if not rows.filter(F.col(col).isNull()).isEmpty():
            raise ConstraintViolation(
                f'null value in column "{col}" of relation "{table}" '
                f"violates not-null constraint"
            )


def check_checks(table: str, cons: TableConstraints, rows: DataFrame) -> None:
    """Reject the batch if any CHECK expression evaluates to FALSE for a
    row. NULL passes (SQL / PostgreSQL / reference tri-state)."""
    for name, expr in cons.checks:
        if not rows.filter(~F.coalesce(F.expr(expr), F.lit(True))).isEmpty():
            raise ConstraintViolation(
                f'new row for relation "{table}" violates check '
                f'constraint "{name}"'
            )


def check_unique_insert(
    table: str,
    cons: TableConstraints,
    rows: DataFrame,
    state: DataFrame,
) -> None:
    """Reject the batch if a declared UNIQUE key tuple already exists in
    ``state`` or repeats within the batch. Equality join ⇒ NULL keys never
    collide (SQL UNIQUE semantics)."""
    for cols in cons.uniques:
        if any(c not in rows.columns for c in cols):
            continue
        # Keys compare after cast("string"), so 1 and '1' collide across
        # types — a deliberate choice matching the PK gate (EventLog keys
        # every event by the stringified pk), which keeps UNIQUE exactly
        # as strict as the engine's own identity notion. Typed columns
        # normally receive typed values (the DML path casts to the
        # declared column type first), so the collision only surfaces for
        # genuinely mixed-type inserts, where rejecting is the safe side.
        batch_keys = rows.select(
            *[F.col(c).cast("string").alias(f"_u_{c}") for c in cols]
        )
        state_keys = state.select(
            *[F.col(c).cast("string").alias(f"_s_{c}") for c in cols]
        )
        cond = None
        for c in cols:
            eq = F.col(f"_u_{c}") == F.col(f"_s_{c}")
            cond = eq if cond is None else (cond & eq)
        clash = batch_keys.join(state_keys, cond, "left_semi")
        dup_within = (
            batch_keys.na.drop()
            .groupBy(*[f"_u_{c}" for c in cols])
            .count()
            .filter(F.col("count") > 1)
        )
        if not clash.isEmpty() or not dup_within.isEmpty():
            raise ConstraintViolation(
                f"duplicate key value violates unique constraint on "
                f'table "{table}": key ({", ".join(cols)})'
            )


def validate_insert(
    table: str,
    cons: TableConstraints,
    rows: DataFrame,
    state: DataFrame,
) -> None:
    """Full constraint gate for an INSERT batch, run before any event
    publishes (all-or-nothing, like the PK/FK gates)."""
    check_not_null(table, cons, rows)
    check_checks(table, cons, rows)
    check_unique_insert(table, cons, rows, state)


def validate_existing(
    table: str, cons: TableConstraints, state: DataFrame
) -> None:
    """ADD CONSTRAINT-time validation of EXISTING rows (PostgreSQL
    semantics: the DDL fails if current data violates; the reference's
    ALTER ADD CONSTRAINT arm stubs this out, sql_bridge.rs:6146-6166 —
    executed for real here). ``cons`` holds only the constraints being
    added. UNIQUE is a within-state duplicate check; CHECK/NOT NULL are
    the same filters the write path uses."""
    check_not_null(table, cons, state)
    check_checks(table, cons, state)
    for cols in cons.uniques:
        dup = (
            state.select(*cols)
            .na.drop()
            .groupBy(*cols)
            .count()
            .filter(F.col("count") > 1)
        )
        if not dup.isEmpty():
            raise ConstraintViolation(
                f'cannot add unique constraint to "{table}": existing rows '
                f'duplicate key ({", ".join(cols)})'
            )


def validate_update(
    table: str,
    cons: TableConstraints,
    assigned: Iterable[str],
    post: DataFrame,
    survivors: DataFrame,
) -> None:
    """Constraint gate for UPDATE on its post-image ``post`` (the matched
    rows with the assignments applied, exactly the engine's own Patch
    semantics): NOT NULL / CHECK on the post-image; UNIQUE keys that
    involve an assigned column against ``survivors`` (the rows the
    statement leaves alone) and within the updated set. Runs before the
    Patch events stage, so a violation leaves state untouched; ``post``
    and ``survivors`` stay lazy, so a constraint the assignments cannot
    break runs no job."""
    touched = set(assigned)
    narrowed = TableConstraints(
        # A UNIQUE/NOT NULL constraint can only break if an assigned
        # column participates; CHECK expressions are not column-parsed,
        # so they re-validate on every UPDATE of a checked table.
        uniques=[u for u in cons.uniques if touched & set(u)],
        checks=list(cons.checks),
        not_null=[c for c in cons.not_null if c in touched],
    )
    validate_insert(table, narrowed, post, survivors)
