"""Data-contract expectation checks — the ingest circuit breaker.

The reference trusts its API payload completely and crashes (or silently
corrupts) on surprises (SURVEY.md §2.6). A 100 TB pipeline gates ingest on
declared expectations instead: every batch is checked against the contract
(nulls, key uniqueness, value domains, referential integrity) and the
violation counts decide whether the batch ships, quarantines, or pages
someone. This module is that Deequ-style check suite as DataFrame algebra.

Scale shape:
- every ROW-LEVEL check (not_null / in_range / matches / accepted_values)
  and every ``unique`` check folds into ONE wide aggregate over ONE scan —
  a violation is a codegen'd boolean summed map-side, and uniqueness costs
  ``count(col) - count_distinct(col)`` inside the same agg (the
  multi-distinct Expand, exactly as operators/profile.py::column_stats);
- each ``foreign_key`` check is one broadcast left-OUTER join against the
  DISTINCT key relation of the dimension (dims broadcast; the fact side
  never shuffles) whose single aggregate yields both the row count and
  the orphan count in the same pass;
- results union into one tiny relation: ``(check, column, n_rows,
  n_violations, passed)``.

NULL policy: a NULL value violates only ``not_null`` — domain checks
(in_range / matches / accepted_values / foreign_key) skip NULLs so each
declared expectation is attributed exactly once. ``matches`` patterns
should stay in the Java/RE2-shared regex subset (functions/pii.py) when the
result must be oracle-mirrorable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import sql_ident


def _ref(name: str) -> Column:
    """Verbatim column reference (dotted names stay literal)."""
    return F.col(sql_ident(name))


@dataclass(frozen=True)
class Check:
    kind: str
    column: str
    # row-level violation predicate (None for unique / foreign_key)
    violation: Column | None = field(default=None, compare=False)
    # foreign_key target: (dim DataFrame, key column name)
    fk: tuple[DataFrame, str] | None = field(default=None, compare=False)

    @property
    def name(self) -> str:
        return f"{self.kind}({self.column})"


def not_null(col: str) -> Check:
    return Check("not_null", col, violation=_ref(col).isNull())


def in_range(col: str, lo, hi) -> Check:
    c = _ref(col)
    return Check(
        f"in_range[{lo},{hi}]", col,
        violation=c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))),
    )


def matches(col: str, pattern: str) -> Check:
    c = _ref(col)
    return Check(
        f"matches[{pattern}]", col,
        violation=c.isNotNull() & ~c.rlike(pattern),
    )


def accepted_values(col: str, values) -> Check:
    c = _ref(col)
    vals = list(values)
    return Check(
        f"accepted_values[{','.join(str(v) for v in vals)}]", col,
        violation=c.isNotNull() & ~c.isin(vals),
    )


def satisfies(expr: str, column: str = "*") -> Check:
    """CROSS-COLUMN contract check: a row violates when ``expr`` (any SQL
    boolean over the checked relation's columns, e.g.
    ``"l_shipdate >= o_orderdate"`` after an FK join) evaluates FALSE.
    A NULL result (three-valued logic: some referenced column was NULL)
    is skipped, not violated — consistent with the module's NULL policy
    that each expectation attributes a NULL exactly once (to
    ``not_null``); the COALESCE also keeps the predicate two-valued, so
    filtering on ``violation`` selects exactly the rows this counts.
    ``column`` names the column the violation is attributed to in
    reports (default ``*`` — relation-level).

    Rides :func:`violation_agg` like every row-level check: one
    codegen'd conditional sum in the single-scan wide aggregate (or in
    ``fused_profile``'s), never a second pass over the relation."""
    pred = F.expr(expr)
    return Check(
        f"satisfies[{expr}]",
        column,
        violation=~F.coalesce(pred, F.lit(True)),
    )


def unique(col: str) -> Check:
    return Check("unique", col)


def foreign_key(col: str, dim: DataFrame, dim_col: str) -> Check:
    return Check("foreign_key", col, fk=(dim, dim_col))


def violation_agg(c: Check) -> Column:
    """The one-scan AGGREGATE column counting a check's violations: row-level
    predicates sum a codegen'd boolean; ``unique`` is ``count(col) -
    count_distinct(col)`` (joins the same multi-distinct Expand as any other
    distinct in the agg). Foreign-key checks have NO aggregate form — they
    need the dimension join — so asking for one raises; route those through
    :func:`run_checks`'s join branch. Shared with
    ``operators/profile.py::fused_profile`` so the profiler can fold a
    contract's checks into its single-scan wide aggregate."""
    if c.fk is not None:
        raise ValueError(f"{c.name} is join-based; no aggregate form")
    if c.kind == "unique":
        return F.count(_ref(c.column)) - F.count_distinct(_ref(c.column))
    # SUM over zero rows is NULL; an empty relation has zero violations.
    return F.coalesce(F.sum(F.when(c.violation, 1).otherwise(0)), F.lit(0))


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate every check; returns ``(check, column, n_rows,
    n_violations, passed)`` — one row per check, ``passed`` ⇔ zero
    violations. See the module note for the plan shape (one wide agg for
    everything except foreign keys; one broadcast anti-join per FK)."""
    if not checks:
        raise ValueError("no checks given")
    agg_checks = [c for c in checks if c.fk is None]
    fk_checks = [c for c in checks if c.fk is not None]

    out = None
    if agg_checks:
        aggs: list[Column] = [F.count(F.lit(1)).alias("__n_rows")]
        for i, c in enumerate(agg_checks):
            aggs.append(violation_agg(c).cast("long").alias(f"__v{i}"))
        row = df.agg(*aggs)
        structs = [
            F.struct(
                F.lit(c.name).alias("check"),
                F.lit(c.column).alias("column"),
                F.col("__n_rows").alias("n_rows"),
                F.col(f"__v{i}").alias("n_violations"),
                (F.col(f"__v{i}") == 0).alias("passed"),
            )
            for i, c in enumerate(agg_checks)
        ]
        out = row.select(F.inline(F.array(*structs)))

    for c in fk_checks:
        dim, dim_col = c.fk
        keys = dim.select(_ref(dim_col).alias("__k")).distinct()
        # ONE pass: left-outer broadcast join keeps every fact row, so the
        # same aggregate yields n_rows and the orphan count (non-null key,
        # no dim match) — no separate count job, no scalar cross join.
        branch = (
            df.select(_ref(c.column).alias("__fkv"))
            .join(F.broadcast(keys), F.col("__fkv") == F.col("__k"), "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                # coalesce: SUM over an empty fact is NULL, not 0 orphans
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__fkv").isNotNull() & F.col("__k").isNull(),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_violations"),
            )
            .select(
                F.lit(c.name).alias("check"),
                F.lit(c.column).alias("column"),
                "n_rows",
                "n_violations",
                (F.col("n_violations") == 0).alias("passed"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out
